package graft.lake

import java.util.UUID

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

/** The commit CAS seam — the single storage primitive the whole
  * optimistic commit protocol rests on: publish `content` at `dest` iff
  * nothing exists there, ATOMICALLY. `metadata/v<N>.json` is the version
  * token; whoever publishes it owns version N, losers get a
  * [[FileAlreadyExistsException]] and `LakeTable`'s commit loop
  * re-derives the commit against refreshed metadata
  * (reference analog: Iceberg's optimistic snapshot swap,
  * `Writer.java:146-150`, retried per `commit.retry.num-retries`).
  *
  * Storage schemes differ in which atomic create-if-absent primitive
  * they actually have, so the CAS is pluggable per scheme:
  *
  *  - '''local file''': POSIX hard-link creation — create-if-absent,
  *    race-exact, no checksum sidecars ([[CommitCas.HardLink]]).
  *  - '''HDFS-semantics stores''' (hdfs, viewfs, webhdfs, abfs/abfss on
  *    a hierarchical namespace, ofs): rename REFUSES existing
  *    destinations atomically — that is the CAS
  *    ([[CommitCas.RenameIfAbsent]]).
  *  - '''S3-style object stores''' (s3a, gs without generation match,
  *    oss, wasb): NEITHER primitive exists — "rename" is client-side
  *    copy+delete with a check-then-act existence test, so two racing
  *    committers can BOTH think they won. The safe primitive is the
  *    store's own conditional put (S3 `If-None-Match: *`, GCS
  *    `ifGenerationMatch=0`, Azure blob `If-None-Match`), which the
  *    Hadoop FileSystem API does not expose — install a store-backed
  *    implementation via [[CommitCas.register]]. Without one, these
  *    schemes fall back to rename-if-absent BEST-EFFORT with a one-time
  *    warning: correct under the format's intended single-committer
  *    topology (§3.2 — one bookkeeper owns the version counter), unsafe
  *    the moment two committers race the same table.
  */
trait CommitCas {
  /** Atomically publish `content` at `dest`. Throw Hadoop's
    * [[FileAlreadyExistsException]] iff the destination already exists:
    * that is the lost-CAS signal, and the only failure the commit loop
    * retries. Any other IOException (a full disk, a denied write) is a
    * hard failure and surfaces from the commit on its first attempt.
    * Must never leave a partial `dest` visible to readers.
    */
  @throws[java.io.IOException]
  def publish(fs: FileSystem, dest: Path, content: String): Unit
}

object CommitCas {

  /** Local-FS CAS: NIO write-then-hard-link. Hadoop's local `create()`
    * costs ~10 ms per file when native IO is absent (it forks a chmod per
    * file, plus checksum sidecars) — two per commit floored commit
    * latency until the round-5 profiling fix; NIO is ~0.1 ms. Hard-link
    * creation is the POSIX create-if-absent primitive (rename overwrites
    * on POSIX, so it cannot be the CAS here).
    */
  object HardLink extends CommitCas {
    override def publish(fs: FileSystem, dest: Path, content: String): Unit = {
      val destNio = java.nio.file.Paths.get(dest.toUri.getPath)
      val tmp = destNio.resolveSibling(s".${dest.getName}.tmp-${UUID.randomUUID()}")
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      try java.nio.file.Files.createLink(destNio, tmp)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"concurrent commit: $dest exists")
            .initCause(e)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  /** HDFS-semantics CAS: write a hidden temp file, then rename onto the
    * destination — atomic and refusing existing destinations on
    * namespace-backed stores. NOT safe on flat object stores (see the
    * trait doc); those need a registered conditional-put.
    */
  object RenameIfAbsent extends CommitCas {
    override def publish(fs: FileSystem, dest: Path, content: String): Unit = {
      val tmp = new Path(dest.getParent, s".${dest.getName}.tmp-${UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, dest)) {
        fs.delete(tmp, false)
        throw new FileAlreadyExistsException(s"concurrent commit: $dest exists")
      }
    }
  }

  /** Schemes whose FileSystem rename is atomic AND refuses existing
    * destinations (namespace-backed stores). abfs/abfss assumes a
    * hierarchical-namespace (ADLS Gen2) account — the reference's own
    * target storage (`StorageQueueBasedBookkeeper.java:45` rewrites to
    * abfss://); flat blob endpoints should register a conditional-put.
    */
  private val RenameAtomicSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs", "abfs", "abfss")

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, CommitCas]()
  private val warnedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Install a store-native CAS for a scheme (e.g. an S3
    * conditional-put implementation built on the store SDK). Overrides
    * the built-in selection for that scheme.
    */
  def register(scheme: String, cas: CommitCas): Unit =
    registry.put(scheme, cas)

  /** Remove a registered CAS (test hygiene). */
  def unregister(scheme: String): Unit = registry.remove(scheme)

  /** Resolve the CAS for a filesystem scheme: registered hook first,
    * then hard-link for local, rename-if-absent for namespace stores,
    * and a warned best-effort rename fallback for everything else.
    */
  def forScheme(scheme: String): CommitCas = {
    val registered = registry.get(scheme)
    if (registered != null) registered
    else if (scheme == "file") HardLink
    else if (RenameAtomicSchemes.contains(scheme)) RenameIfAbsent
    else {
      if (warnedSchemes.add(scheme))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"scheme '$scheme' has no atomic create-if-absent primitive and " +
            "no registered CommitCas — commits fall back to BEST-EFFORT " +
            "rename-if-absent, which is safe only under a single " +
            "committer; register a store-native conditional-put " +
            "(CommitCas.register) before running concurrent committers")
      RenameIfAbsent
    }
  }
}
