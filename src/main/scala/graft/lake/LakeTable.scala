package graft.lake

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** LakeTable — a lightweight snapshot-log table format re-expressing the
  * reference's Iceberg semantics natively (SURVEY §1.1, §7.1 M1; no Iceberg
  * jars exist in this environment).
  *
  * Layout under `location`:
  *   metadata/v<N>.json            — full TableMeta (snapshot log)
  *   metadata/manifests/manifest-*.json — immutable data-file lists (kept
  *     out of metadata/ itself so per-commit metadata-version GC and
  *     load-by-listing stay O(retained versions), not O(all manifests
  *     ever written) — the commit-curve bench's dominant depth-linear
  *     cost; manifests are referenced BY NAME relative to metadata/, so
  *     pre-subdir tables with plain manifest-*.json names read unchanged)
  *   metadata/version-hint.text  — latest committed N (recoverable by listing)
  *   data/<col>_trunc=<v>/<uuid>.parquet
  *   _commits/{tmp,pending}/     — two-phase moniker handoff (A11)
  *
  * Commit protocol (A10 + §7.5.1): every table change goes through the
  * one `commit` primitive, which publishes metadata/v<N+1>.json through
  * the scheme's create-if-absent [[CommitCas]]. A lost CAS surfaces as
  * Hadoop's FileAlreadyExistsException; `commit` then reloads, re-derives
  * the change and retries (bounded by commit.retry.num-retries). Any
  * other I/O failure fails the commit at once.
  * Fast append: each commit adds ONE manifest and reuses the parent's
  * manifest list untouched (reference Writer.java:141-146), so commit cost
  * is O(1) in table size; manifests merge once they exceed
  * commit.manifest.min-count-to-merge (Writer.java:120).
  *
  * `meta` is volatile: staging futures (LakeQueries) read a handle's
  * metadata on another thread while its owner commits, so every refresh
  * and commit must publish the new TableMeta to them. Each commit attempt
  * reads it once and derives everything from that base; each read method
  * takes one copy per call.
  */
final class LakeTable private (val location: String,
    @volatile private var meta: TableMeta) {
  import LakeFormat._

  private def fs: FileSystem = new Path(location).getFileSystem(LakeTable.hadoopConf)
  private def metaDir = new Path(location, MetadataDir)

  def tableMeta: TableMeta = meta
  /** The spec NEW writes bucket under (partition evolution: current width,
    * invariant column). Per-FILE semantics — pruning, retention — must go
    * through [[specFor]] instead: a file's partitionValue is a bucket start
    * under the width it was WRITTEN with, not the current one.
    */
  def spec: TruncateSpec = meta.currentSpec
  /** The partition-spec vintage `f` was written under. */
  def specFor(f: DataFileMeta): TruncateSpec = {
    val m = meta
    TruncateSpec(m.spec.column, m.specWidth(f.specId))
  }
  /** Id of the [[SpecDef]] writers stamp on new files. */
  def currentSpecId: Int = meta.currentSpecId
  def schema: StructType = meta.schema

  /** Schema as of a snapshot (schema evolution): snapshots committed before
    * evolution support existed fall back to the table-level schema.
    */
  def schemaAt(snapshotId: Long): StructType = {
    val m = meta
    StructType.fromDDL(m.requireSnapshot(snapshotId).schemaDdl.getOrElse(m.schemaDdl))
  }
  def currentSnapshotId: Long = meta.currentSnapshotId
  def snapshots: Seq[Snapshot] = meta.snapshots
  /** Id of the [[SchemaDef]] writers stamp on new files. */
  def currentSchemaId: Int = meta.currentSchemaId

  /** Schema def (names + field ids) AS OF a snapshot — the name space scan
    * planning resolves file columns against. Pre-evolution snapshots (no
    * pinned id, or id 0 before the registry existed) use their own pinned
    * DDL with positional ids: sound because until the first rename/drop
    * the DDL history is append-only, so a column's position — hence id —
    * never changed.
    */
  def schemaDefAt(snapshotId: Long): SchemaDef = schemaDefAt(meta, snapshotId)
  private def schemaDefAt(m: TableMeta, snapshotId: Long): SchemaDef = {
    val s = m.requireSnapshot(snapshotId)
    s.schemaId match {
      case Some(id) if m.schemas.exists(_.id == id) => m.schemaDef(id)
      case _ => SchemaDef(0, s.schemaDdl.getOrElse(m.schemaDdl), Nil)
    }
  }
  def currentSchemaDef: SchemaDef = {
    val m = meta
    if (m.snapshots.isEmpty) m.currentSchemaDef
    else schemaDefAt(m, m.currentSnapshotId)
  }

  def refresh(): LakeTable = {
    meta = LakeTable.readMeta(location)
    this
  }

  // ---- file listing ------------------------------------------------------

  /** The data files listed by manifests `names`, in manifest order.
    * Manifests are immutable by construction (every write mints a new
    * UUID name), so parsed contents cache safely across queries — without
    * this, EVERY planning pass re-parses the full inventory JSON on the
    * driver, which at 10⁶ files is hundreds of MB per query. Bounded LRU:
    * memory tops out near the live-inventory size (what one files() call
    * transiently allocates anyway); expired manifests age out.
    */
  private[lake] def readManifests(names: Seq[String]): Seq[DataFileMeta] =
    cachedManifests(names, LakeTable.manifestCache) { json =>
      val parsed = Json.manifestFromJson(json)
      LakeTable.manifestParses.incrementAndGet()
      parsed
    }

  /** The entries of manifests `names`, in manifest order, from `cache` or
    * read and parsed. A walk past the cache on an object store costs one
    * request per manifest, so misses are read concurrently
    * ([[LakeTable.cachedOrRead]]).
    */
  private def cachedManifests[E](names: Seq[String],
      cache: java.util.Map[String, Seq[E]])(parse: String => Seq[E]): Seq[E] = {
    val (fs, dir) = (this.fs, metaDir)
    LakeTable.cachedOrRead(names.map(new Path(dir, _)), cache)(p =>
      parse(LakeTable.readSmall(fs, p))).flatten
  }

  private[lake] def readManifest(name: String): Seq[DataFileMeta] =
    readManifests(Seq(name))

  /** All live data files of the current snapshot. */
  def files(): Seq[DataFileMeta] = filesOf(meta)
  /** All data files of snapshot `snapshotId`. */
  def files(snapshotId: Long): Seq[DataFileMeta] =
    readManifests(meta.requireSnapshot(snapshotId).manifests)
  private def filesOf(m: TableMeta): Seq[DataFileMeta] =
    readManifests(m.currentManifests)

  /** The delete files listed by delete manifests `names`, in manifest
    * order; same immutable-name LRU as [[readManifests]].
    */
  private def readDeleteManifests(names: Seq[String]): Seq[DeleteFileMeta] =
    cachedManifests(names, LakeTable.deleteManifestCache)(Json.deleteManifestFromJson)

  /** Live position-delete files of the current snapshot (merge-on-read
    * deletes). */
  def deleteFilesMeta(): Seq[DeleteFileMeta] = deleteFilesOf(meta)
  /** Position-delete files of snapshot `snapshotId`. */
  def deleteFilesMeta(snapshotId: Long): Seq[DeleteFileMeta] =
    readDeleteManifests(meta.requireSnapshot(snapshotId).deleteManifests)
  private def deleteFilesOf(m: TableMeta): Seq[DeleteFileMeta] =
    readDeleteManifests(m.currentDeleteManifests)

  /** The delete files that can mark rows of data file `f` — position
    * deletes by exact path membership (or the [min, max] data-path range
    * when the inline list overflowed), equality deletes by commit
    * sequence (they retire every strictly-older row version).
    */
  private[lake] def deletesFor(dels: Seq[DeleteFileMeta],
      f: DataFileMeta): Seq[DeleteFileMeta] =
    dels.filter(_.applies(f))

  /** Files added between two snapshots (exclusive, inclusive) — the
    * incremental-read contract the reference is designed around (A25,
    * Writer.java:141-145). Manifest-level diff: fast appends never rewrite
    * manifests, so added files = manifests in s2 not in s1.
    */
  def addedFilesBetween(fromId: Long, toId: Long): Seq[DataFileMeta] =
    addedFilesBySnapshot(fromId, toId).flatMap(_._2)

  /** Forward walk over (fromId, toId]: the files each snapshot newly added,
    * keyed by snapshot id — APPEND snapshots only (rewrite/compact/expire
    * add no new ROWS; handing their rewritten files to incremental readers
    * would re-deliver old data). The streaming admission-control planner
    * consumes this directly so per-snapshot sizing is one walk, not one
    * chain re-walk per candidate end offset.
    *
    * Cost contract (the 100 TB posture): the known-path set is seeded ONCE
    * from `fromId` and then folded forward with each step's own new
    * manifests — O(inventory at fromId + files touched by the walk) total,
    * NOT O(snapshots × inventory). Deep catch-up over a 10⁶-file table's
    * backlog parses each manifest at most once (path names are fresh UUIDs,
    * so the monotone seen-set never over-filters).
    */
  def addedFilesBySnapshot(fromId: Long, toId: Long): Seq[(Long, Seq[DataFileMeta])] = {
    val m = meta
    val fromSnap = m.requireSnapshot(fromId)
    m.requireSnapshot(toId)
    val ids = m.snapshots.map(_.id)
      .filter(id => id > fromId && id <= toId).sorted
    if (ids.isEmpty) return Nil
    val seen = scala.collection.mutable.HashSet.empty[String]
    readManifests(fromSnap.manifests).foreach(seen += _.path)
    var prevManifests = fromSnap.manifests.toSet
    val out = Seq.newBuilder[(Long, Seq[DataFileMeta])]
    for (id <- ids) {
      val s = m.snapshot(id).get
      // "stage" snapshots fork OFF the main lineage (WAP branches): their
      // files must not enter the seen-set, or the publish commit that
      // folds them into main would deliver nothing to incremental readers
      if (s.operation != "stage") {
        // manifests carried over from the previous snapshot were fully
        // folded into `seen` already; only genuinely-new manifests need
        // parsing (a merge commit's combined manifest re-lists old files —
        // the seen-set drops them)
        val newFiles = readManifests(s.manifests.filterNot(prevManifests.contains))
          .filterNot(f => seen.contains(f.path))
          .distinctBy(_.path)
        newFiles.foreach(seen += _.path)
        if (s.operation == "append" && newFiles.nonEmpty) out += ((id, newFiles))
        prevManifests = s.manifests.toSet
      }
    }
    out.result()
  }

  // ---- commit ------------------------------------------------------------

  // lazily ensured (covers tables created before the manifests/ subdir);
  // @volatile flag so the mkdirs stat is paid once per instance, not per
  // manifest write
  @volatile private var manifestDirEnsured = false
  private def ensureManifestDir(): Unit =
    if (!manifestDirEnsured) {
      fs.mkdirs(new Path(metaDir, LakeFormat.ManifestsSubdir))
      manifestDirEnsured = true
    }

  private def writeManifest(fm: Seq[DataFileMeta]): String = {
    ensureManifestDir()
    val name = s"${LakeFormat.ManifestsSubdir}/manifest-${UUID.randomUUID()}.json"
    writeAtomic(new Path(metaDir, name), Json.manifestToJson(fm))
    name
  }

  /** `fm` stamped with the sequence a commit derived from `base` lands as. */
  private def stamp(base: TableMeta, fm: Seq[DataFileMeta]): Seq[DataFileMeta] = {
    val s = base.nextSnapshotId
    fm.map(_.copy(seq = s))
  }

  /** Inventory-scale manifest writes (compaction swaps, retention
    * survivors, CoW rewrites, full overwrites) go through this binning
    * variant: one manifest per merge.max-entries entries, so NO commit
    * path can mint an unbounded manifest — a 10⁶-file survivor list as
    * a single manifest would be a one-task planning bottleneck and an
    * O(table) rewrite on every later touch (the maybeMerge lesson
    * applied to every full-list rewrite site). Empty input = no
    * manifest, matching the callers' previous isEmpty guards.
    */
  private def writeManifests(base: TableMeta, fm: Seq[DataFileMeta]): Seq[String] =
    if (fm.isEmpty) Nil
    else {
      val cap = math.max(1, base.properties
        .getOrElse(PropManifestMergeMaxEntries,
          DefaultManifestMergeMaxEntries.toString).toInt)
      fm.grouped(cap).map(g => writeManifest(g)).toSeq
    }

  /** Per-data-file PENDING position-delete mark counts over `pos`'s
    * parquets, counting DISTINCT (file_path, pos): overlapping DELETE
    * commits can legally land the same mark twice (both scans ran before
    * either commit — delete-only commits don't conflict), and each mark
    * masks a row ONCE. A raw count(1) here inflates the compaction
    * threshold trigger and — worse — lets [[LakeTable
    * .classifyDeleteDecisions]] call a file WHOLLY dropped while k
    * unmatched live rows remain (matched == row_count − inflated_dels),
    * silently deleting them. One definition behind the CoW classifier
    * and the threshold selector so the dedup can't drift.
    */
  private[lake] def pendingPosMarkCounts(spark: SparkSession,
      pos: Seq[DeleteFileMeta]): Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    if (pos.isEmpty) None
    else Some(spark.read
      .parquet(pos.map(d => qualifiedDeletePath(d.path)): _*)
      .select("file_path", "pos").distinct()
      .groupBy(col("file_path")).agg(count(lit(1)).as("dels")))
  }

  /** Delete-file METADATA records scheme-less paths (the stable
    * comparison form, [[writeDeleteParquets]]); qualify through the
    * table's OWN FileSystem before handing one to a reader — the bare
    * form resolves fs.defaultFS, i.e. the wrong store when the table
    * lives on an object store and the cluster default is HDFS/local.
    * Idempotent on already-qualified paths.
    */
  private[lake] def qualifiedDeletePath(p: String): String =
    fs.makeQualified(new Path(p)).toString

  private def writeDeleteManifest(fm: Seq[DeleteFileMeta]): String = {
    ensureManifestDir()
    val name = s"${LakeFormat.ManifestsSubdir}/delete-manifest-${UUID.randomUUID()}.json"
    writeAtomic(new Path(metaDir, name), Json.deleteManifestToJson(fm))
    name
  }

  /** Rewrite-vs-delete conflict validation (the Iceberg
    * validateNoNewDeleteFiles shape): a copy-on-write rewrite reads its
    * input rows AS OF its scan; a delete (position or equality) landing
    * between that scan and the rewrite's commit is NOT reflected in the
    * rewritten files — and since those files carry a NEWER sequence and
    * the old ones leave the manifest, committing would silently resurrect
    * the deleted rows. Called inside the rewrite's commit body (the
    * attempt's base): any delete file added since `sinceSnapshot`
    * that can apply to a file being replaced aborts the commit; the
    * caller re-runs against current state. An expired `sinceSnapshot`
    * degrades conservatively (every current delete counts as new).
    */
  private def assertNoNewDeletes(base: TableMeta, sinceSnapshot: Long,
      replaced: Seq[DataFileMeta], op: String): Unit = {
    val before = base.snapshot(sinceSnapshot)
      .map(s => readDeleteManifests(s.deleteManifests).map(_.path).toSet)
      .getOrElse(Set.empty[String])
    val fresh = deleteFilesOf(base)
      .filterNot(d => before.contains(d.path))
    val hit = fresh.filter(d => replaced.exists(d.applies))
    if (hit.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op aborted: ${hit.size} delete file(s) landed after the rewrite's " +
          s"scan (snapshot $sinceSnapshot) and apply to files being replaced " +
          s"— committing would resurrect deleted rows; re-run the $op")
  }

  /** Rewrite-vs-rewrite conflict: every file this rewrite replaces must
    * still be live — if a concurrent rewrite already swapped one out,
    * committing would ADD this rewrite's copies next to the other's
    * (duplicated rows). Called inside the commit body (the attempt's base).
    */
  private def assertReplacedLive(base: TableMeta, replaced: Set[String],
      op: String): Unit = {
    val live = filesOf(base).map(_.path).toSet
    val missing = replaced.diff(live)
    if (missing.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op aborted: ${missing.size} input file(s) were replaced by a " +
          s"concurrent rewrite (first: ${missing.head}); re-run the $op")
  }

  /** Delete manifests a REWRITE commit should carry: entries whose data-path
    * range overlaps no surviving file are dead (their targets were replaced
    * with files that already had the deletes applied) and are pruned, so the
    * delete-file inventory shrinks as compaction/CoW churns instead of
    * growing forever. Orphaned delete parquets stay on disk for older
    * snapshots until expiry GCs them.
    */
  private def carryDeleteManifests(base: TableMeta,
      kept: Seq[DataFileMeta]): Seq[String] = {
    val curManifests = base.currentDeleteManifests
    if (curManifests.isEmpty) return Nil
    val dels = readDeleteManifests(curManifests)
    val keptPaths = kept.map(_.path).sorted.toArray
    val keptSet = keptPaths.toSet
    val oldestKeptSeq = kept.map(_.seq).minOption.getOrElse(Long.MaxValue)
    def overlaps(d: DeleteFileMeta): Boolean = {
      // equality entries live while ANY kept file predates them (rewritten
      // files get a fresh seq, so full churn retires the entry)
      if (d.kind == DeleteFileMeta.KindEq) return oldestKeptSeq < d.seq
      if (d.dataPaths.nonEmpty) return d.dataPaths.exists(keptSet)
      // first kept path >= minDataPath; overlap iff it also <= maxDataPath
      var lo = 0; var hi = keptPaths.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keptPaths(mid) < d.minDataPath) lo = mid + 1 else hi = mid
      }
      lo < keptPaths.length && keptPaths(lo) <= d.maxDataPath
    }
    val live = dels.filter(overlaps)
    if (live.size == dels.size) curManifests
    else if (live.isEmpty) Nil
    else Seq(writeDeleteManifest(live))
  }

  /** The plan of a REWRITE commit whose whole new file list is `kept`. */
  private def rewritePlan(base: TableMeta, kept: Seq[DataFileMeta]): CommitPlan =
    new CommitPlan(base)(manifests = writeManifests(base, kept),
      deleteManifests = carryDeleteManifests(base, kept))

  /** `base`'s delete manifests plus one listing `dels`, whose equality
    * entries are stamped with the sequence the commit lands as. */
  private def withDeletes(base: TableMeta, dels: Seq[DeleteFileMeta]): Seq[String] =
    if (dels.isEmpty) base.currentDeleteManifests
    else {
      val s = base.nextSnapshotId
      base.currentDeleteManifests :+ writeDeleteManifest(dels.map(d =>
        if (d.kind == DeleteFileMeta.KindEq) d.copy(seq = s) else d))
    }

  /** Publish through the per-scheme commit CAS ([[CommitCas]]): hard-link
    * on local FS, rename-if-absent on namespace stores, a registered
    * store-native conditional-put on flat object stores. Throws
    * FileAlreadyExistsException on a lost CAS — [[commit]]'s retry signal.
    */
  private def writeAtomic(dest: Path, content: String): Unit =
    CommitCas.forScheme(fs.getScheme).publish(fs, dest, content)

  private def maxRetries(base: TableMeta): Int =
    base.properties.getOrElse(PropCommitRetries, "100").toInt

  private def retryWaitMs(base: TableMeta): Long =
    base.properties.getOrElse(PropCommitRetryWaitMs, DefaultCommitRetryWaitMs).toLong

  /** Jittered exponential backoff between lost-CAS retries. Without it,
    * racing committers stay phase-locked (each re-derives at full speed
    * and re-races the same pack), so consecutive losses are nearly
    * independent coin flips and retry exhaustion becomes a real event —
    * the round-10 contention probe measured whole committers dying this
    * way at 5-way contention. Doubling with ±50% jitter desynchronizes
    * the pack; the k-th consecutive loss then requires losing against an
    * ever-sparser schedule.
    *
    * The ladder is BOUNDED-TAIL (r12 verdict item 5): it doubles only
    * through attempt 4 (16× base), then DECAYS to a small full-range
    * jittered wait (0..4× base). By the time the ladder is spent the
    * pack is as desynchronized as it will get, and holding a long-loser
    * at ladder-cap sleeps only starves it — the r12 probe's 11.5 s p99
    * at 15 ms/op was exactly that: one committer paying ~640 ms per
    * round against fresh attempt-0 rivals. In steady state the
    * long-suffering committer races at rederive speed (its win
    * probability per unit time goes UP with age, not down), so the tail
    * is a few win cycles, not ladder-cap multiples. Base is per-table
    * ([[LakeFormat.PropCommitRetryWaitMs]]), 0 disables.
    */
  private def retryBackoff(base: TableMeta, attempt: Int): Unit = {
    val wait = retryWaitMs(base)
    if (wait > 0 && attempt > 0) {
      val (lo, hi) = LakeTable.backoffWindowMs(wait, attempt)
      val ms = lo +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(hi - lo + 1)
      if (ms > 0) Thread.sleep(ms)
    }
  }

  /** Everything one commit changes, as a [[commit]] body derives it from
    * the attempt's `base`. Every default carries its field forward
    * unchanged from `base`, so a body names only what it changes.
    */
  private final class CommitPlan(base: TableMeta)(
      val manifests: Seq[String] = base.currentManifests,
      val keepSnapshots: Seq[Snapshot] = base.snapshots,
      val props: Map[String, String] = Map.empty,
      val propsRemove: Set[String] = Set.empty,
      val schemaDdl: String = base.schemaDdl,
      val deleteManifests: Seq[String] = base.currentDeleteManifests,
      // WAP staging: a "stage" snapshot forks from its branch head and
      // leaves what main readers see untouched
      val parentOverride: Option[Long] = None,
      val advanceCurrent: Boolean = true,
      // rename/drop evolution: new registry entries + the id to make
      // current (entries are append-only; ids never reused)
      val schemasUpdate: Option[(Seq[SchemaDef], Int)] = None,
      // partition-width evolution: same append-only contract
      val specsUpdate: Option[(Seq[SpecDef], Int)] = None)

  /** One CAS attempt: publishes `base` with `plan` applied as version
    * `base.nextSnapshotId`. A `base` older than the table's head targets
    * a version that already exists, so its CAS is lost. Only the metadata
    * write can signal a conflict; everything after the CAS lands is
    * best-effort maintenance and must never be mistaken for contention (a
    * retry after a landed commit would apply the operation twice).
    */
  private def commitAttempt(op: String, base: TableMeta, plan: CommitPlan): Long = {
    val nextVersion = base.nextSnapshotId
    val newSchemaId = plan.schemasUpdate.map(_._2).getOrElse(base.currentSchemaId)
    // every snapshot pins the schema current as of its commit, so time
    // travel reads old vintages with their own column set
    val snap = Snapshot(nextVersion,
      plan.parentOverride.getOrElse(base.currentSnapshotId),
      System.currentTimeMillis(), op, plan.manifests, Some(plan.schemaDdl),
      plan.deleteManifests, schemaId = Some(newSchemaId))
    val next = base.copy(schemaDdl = plan.schemaDdl,
      properties = (base.properties -- plan.propsRemove) ++ plan.props,
      snapshots = plan.keepSnapshots :+ snap,
      currentSnapshotId =
        if (plan.advanceCurrent) nextVersion else base.currentSnapshotId,
      schemas = base.schemas ++ plan.schemasUpdate.map(_._1).getOrElse(Nil),
      currentSchemaId = newSchemaId,
      specs = base.specs ++ plan.specsUpdate.map(_._1).getOrElse(Nil),
      currentSpecId = plan.specsUpdate.map(_._2).getOrElse(base.currentSpecId))
    writeAtomic(new Path(metaDir, s"v$nextVersion.json"), Json.metaToJson(next))
    meta = next
    // Pointer update is advisory (recovery lists metadata/ for max v).
    val hint = new Path(metaDir, VersionHint)
    bestEffort("version-hint rewrite", hint,
      "stale hint left; readers recover the version by listing") {
      fs.delete(hint, false)
      // a racing committer's hint landed first; it is as good as ours
      try writeAtomic(hint, nextVersion.toString)
      catch { case _: FileAlreadyExistsException => }
    }
    bestEffort("metadata cleanup", metaDir,
      "superseded v*.json files left for a later cleanup")(cleanupOldMetadata(next))
    nextVersion
  }

  /** Contention signal: has THIS table handle recently lost a CAS?
    * Gates the chain-break yield below — a single committer never sets
    * it, so the yield costs nothing on the recommended path. DECAYS:
    * after [[LakeTable.ChainCalmWins]] consecutive uncontested wins the
    * handle concludes the contention window has passed and stops
    * yielding — without this, one startup race would tax a long-lived
    * maintainer's every 3rd commit forever (r13 review). */
  private var conflictSeen = false
  /** Consecutive first-attempt (uncontested) wins since the last retry. */
  private var chainWins = 0

  /** CHAIN-BREAK yield (r12 verdict item 5, the tail's real mechanism):
    * under object-store latency a loser's refresh→rederive→CAS window
    * (~5-7 round-trips) spans SEVERAL rival commit cycles, so once a
    * committer falls behind, its CAS target is nearly always stale by
    * put time and it keeps losing until the pack drains — backoff
    * tuning cannot fix that (the r12→r13 ladder decay moved p99 only
    * 11.5→9.3 s). What does fix it is breaking the WINNERS' chains: a
    * committer that (a) has ever lost a CAS (so it KNOWS the table is
    * contended — a lifetime-single committer never pays) and (b) has
    * just strung several uncontested wins, steps aside for one jittered
    * beat before its next commit, handing the freed slot to whoever is
    * stuck in the refresh window. Fairness from purely local signals —
    * no coordination object, no reads.
    */
  private def chainBreakYield(base: TableMeta): Unit =
    if (conflictSeen && chainWins > 0 && chainWins % 3 == 0) {
      val wait = retryWaitMs(base)
      if (wait > 0) {
        val ms = java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(wait * 3 + 1)
        if (ms > 0) Thread.sleep(ms)
      }
    }

  /** The one optimistic commit primitive every table change goes through.
    * Each attempt reads the metadata ONCE, as `base`, and derives the whole
    * commit from it: `plan(base)` and the published version both come from
    * that one read, so a commit can never be planned from one version and
    * published on top of another (that splice would silently drop the
    * newer version's files: the lost-update hazard). `None` from `plan`
    * means nothing to commit (-1). Only a lost CAS
    * ([[FileAlreadyExistsException]] from [[CommitCas.publish]]) is
    * retried, on refreshed metadata, up to `commit.retry.num-retries`
    * times with [[retryBackoff]] between; any other failure surfaces from
    * the attempt that hit it.
    */
  private def commit(op: String)(plan: TableMeta => Option[CommitPlan]): Long = {
    var attempt = 0
    var yielded = false
    while (true) {
      val base = meta
      plan(base) match {
        case None => return -1L
        case Some(p) =>
          // yield only when there is actually something to commit — a
          // no-op body (idempotent replay) must never pay the beat
          if (!yielded) { chainBreakYield(base); yielded = true }
          try {
            val id = commitAttempt(op, base, p)
            chainWins = if (attempt == 0) chainWins + 1 else 0
            if (chainWins >= LakeTable.ChainCalmWins) {
              conflictSeen = false
              chainWins = 0
            }
            return id
          } catch {
            case _: FileAlreadyExistsException =>
              attempt += 1
              conflictSeen = true
              LakeTable.commitRetries.incrementAndGet()
              if (attempt >= maxRetries(base))
                throw new IllegalStateException(
                  s"$op commit failed after $attempt retries")
              retryBackoff(base, attempt)
              refresh()
          }
      }
    }
    -1L // unreachable
  }

  /** Honors write.metadata.delete-after-commit.enabled +
    * previous-versions-max (§1.3): drop superseded v*.json beyond the limit.
    */
  private def cleanupOldMetadata(m: TableMeta): Unit = {
    if (m.properties.get("write.metadata.delete-after-commit.enabled").contains("true")) {
      val keep = m.properties.getOrElse("write.metadata.previous-versions-max", "200").toInt
      val vs = fs.listStatus(metaDir).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .flatMap(n => n.stripPrefix("v").stripSuffix(".json").toLongOption)
        .sorted
      vs.dropRight(keep + 1).foreach(v => fs.delete(new Path(metaDir, s"v$v.json"), false))
    }
  }

  // Known-path cache for append dedupe, keyed by snapshot id so a refresh
  // or commit naturally invalidates it — without it every append re-reads
  // every manifest (O(table files) per commit, breaking fast-append O(1)).
  @volatile private var knownPathsCache: (Long, Set[String]) = (-2L, Set.empty)

  private def knownPaths(base: TableMeta): Set[String] = {
    val (cachedId, cached) = knownPathsCache
    if (cachedId == base.currentSnapshotId) cached
    else {
      val paths = filesOf(base).map(_.path).toSet
      knownPathsCache = (base.currentSnapshotId, paths)
      paths
    }
  }

  /** Register EXTERNALLY-WRITTEN parquet files into the table —
    * metadata-only, the Iceberg `add_files` migration path and the bulk
    * form of what the moniker flow does one batch at a time. Files under
    * `sourceDir` (recursive, *.parquet) are footer-harvested for row
    * counts + column stats; each file's partition value derives from its
    * OWN stats on the partition column, and a file whose min/max span
    * two buckets under the current spec is rejected with a clear error
    * (registering it would break partition pruning — the same contract
    * Iceberg's add_files enforces via its partition filter). Everything
    * lands as ONE fast-append commit; nothing is moved, copied, or
    * rewritten, and append()'s path-dedupe makes re-imports idempotent.
    * Footer reads run through the same bounded I/O pool as the write
    * path; the returned commit is -1 when no new file was found.
    */
  def addFiles(sourceDir: String): Long = {
    val srcPath = new Path(sourceDir)
    val srcFs = srcPath.getFileSystem(LakeTable.hadoopConf)
    val found = scala.collection.mutable.ArrayBuffer.empty[Path]
    val it = srcFs.listFiles(srcPath, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("."))
        found += st.getPath
    }
    if (found.isEmpty) return -1L
    val s = spec
    // imported files land under the CURRENT schema and spec vintages:
    // partitionValue below is a bucket start under the CURRENT width, and
    // the ingestion contract (same as the queue bookkeeper's) is that
    // external writers target the current column names. Leaving the
    // footerMeta defaults (0 = creation vintage) on an evolved table would
    // resolve the WRONG bucket width in pruning/retention and map current
    // names to schema-0 physical names on read.
    val sid = currentSchemaId
    val pid = currentSpecId
    val tableTypes = schema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    val metas = found.toSeq.map { p =>
      // schema gate BEFORE registration: a file missing table columns —
      // or carrying a same-named column of an incompatible physical type —
      // would import fine and then fail (or silently misread) every later
      // scan; reject it here with the actual missing names / type clash
      val fileFields = LakeWriter.footerFields(LakeTable.hadoopConf, p)
      val byName = fileFields.map(t => t.getName.toLowerCase -> t).toMap
      val missing = tableTypes.keySet -- byName.keySet
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"add_files: $p lacks table column(s) ${missing.mkString(", ")}")
      tableTypes.foreach { case (name, dt) =>
        val ft = byName(name)
        if (!LakeWriter.parquetCompatible(dt, ft))
          throw new IllegalArgumentException(
            s"add_files: $p column '$name' has parquet type $ft, " +
              s"incompatible with table type ${dt.sql}")
      }
      val m = LakeWriter.footerMeta(LakeTable.hadoopConf, p, 0L)
      val st = m.stats.getOrElse(s.column, throw new IllegalArgumentException(
        s"add_files: $p carries no footer stats for partition column " +
          s"'${s.column}' — cannot derive its bucket"))
      val (lo, hi) = (st.longMin, st.longMax) match {
        case (Some(a), Some(b)) => (a, b)
        case _ => throw new IllegalArgumentException(
          s"add_files: $p has no min/max for partition column '${s.column}'")
      }
      if (s(lo) != s(hi))
        throw new IllegalArgumentException(
          s"add_files: $p spans partition buckets ${s(lo)} and ${s(hi)} " +
            s"(width ${s.widthMicros}) — split or rewrite it before import")
      m.copy(partitionValue = s(lo),
        schemaId = if (sid == 0) m.schemaId else sid,
        specId = if (pid == 0) m.specId else pid)
    }
    append(metas)
  }

  /** Fast append (A10) with path-dedupe for idempotent replay — the
    * crash-window fix for the reference's delete-before-commit /
    * at-least-once-redelivery bugs (A14, §3.3.6).
    */
  def append(newFiles: Seq[DataFileMeta],
      // properties merged ATOMICALLY with the snapshot swap (e.g. the
      // ANN maintenance-debt odometer): a reader of any snapshot sees
      // props consistent with that snapshot's files
      props: Map[String, String] = Map.empty): Long = {
    // captured from the attempt that actually lands, to roll the known-path
    // cache forward without re-reading manifests (see below)
    var lastKnown: Set[String] = null
    var lastFresh: Seq[String] = Nil
    val id = commit("append") { base =>
      // dedupe within the batch too: one sweep can carry the same file
      // twice (at-least-once event redelivery)
      val known = knownPaths(base)
      val fresh = newFiles.distinctBy(_.path).filterNot(f => known.contains(f.path))
      lastKnown = known
      lastFresh = fresh.map(_.path)
      // every path already known (moniker redelivery, add_files re-import)
      // = NOTHING to commit: returning None keeps at-least-once replay
      // from minting an empty snapshot per redelivery — idempotent means
      // no new rows AND no history growth
      if (fresh.isEmpty) None
      else Some(new CommitPlan(base)(
        manifests = maybeMerge(base,
          base.currentManifests :+ writeManifest(stamp(base, fresh))),
        props = props))
    }
    // Roll the cache forward: the new snapshot's path set is exactly the
    // parent's plus this commit's fresh paths (a merge reshuffles manifests
    // but never the path SET). Without this, sequential fast-appends get
    // ZERO cache hits — every commit's id invalidates the previous entry
    // and the dedupe check re-reads every manifest (up to the 200-manifest
    // merge ceiling) — the commit-curve bench's sawtooth. Tagged with OUR
    // committed id: a concurrent later commit has a larger id, so readers
    // miss and rebuild rather than trusting a stale set.
    if (id >= 0 && lastKnown != null)
      knownPathsCache = (id, lastKnown ++ lastFresh)
    id
  }

  /** Full-table overwrite (CoW): ONE rewrite commit whose manifest lists
    * only the new files. Prior snapshots keep referencing the replaced
    * files (time travel intact) until expiry GCs them — same shape as
    * compactFiles, driven by the DSv2 truncate-write path.
    */
  def overwrite(newFiles: Seq[DataFileMeta]): Long =
    commit("rewrite") { base =>
      val fresh = newFiles.distinctBy(_.path)
      // full replacement: no pre-existing file survives, so no pending
      // delete can reference a live file
      Some(new CommitPlan(base)(manifests = writeManifests(base, stamp(base, fresh)),
        deleteManifests = Nil))
    }

  /** Full-table overwrite that ATOMICALLY also updates table properties —
    * the index-rebuild swap ([[graft.queries.LakeQueries.rebuildAnnIndex]]):
    * re-encoded rows AND the retrained models they were encoded under land
    * in ONE rewrite commit, so no reader snapshot can ever pair old codes
    * with new centroids or vice versa. Prior snapshots (old codes + old
    * model properties — properties are versioned with the metadata) stay
    * time-travelable until expiry, the same contract as [[overwrite]].
    */
  def overwriteWithProps(newFiles: Seq[DataFileMeta],
      props: Map[String, String]): Long =
    commit("rewrite") { base =>
      val fresh = newFiles.distinctBy(_.path)
      Some(new CommitPlan(base)(manifests = writeManifests(base, stamp(base, fresh)),
        props = props, deleteManifests = Nil))
    }

  /** Epoch-fenced fast append for exactly-once streaming sinks: the epoch
    * watermark for `queryId` is stored in table properties ATOMICALLY with
    * the snapshot swap, so a replayed micro-batch (restart between sink
    * commit and checkpoint write) sees `epoch <= watermark` and becomes a
    * no-op — the V2 analog of the reference's idempotent moniker replay
    * (A14; same transaction pattern as Iceberg's commit-during-retry
    * fencing). Returns -1 when fenced; the caller owns deleting the
    * duplicate data files it wrote for the fenced epoch.
    *
    * `newDeletes` lands delete entries (the streaming CDC-upsert sink's
    * per-batch equality deletes) in the SAME fenced commit: new row
    * versions and the retirement of the old ones appear atomically, and a
    * fenced replay drops both together.
    */
  def appendEpoch(newFiles: Seq[DataFileMeta], queryId: String,
      epochId: Long, newDeletes: Seq[DeleteFileMeta] = Nil,
      // per-batch STATE riding the same atomic commit as the epoch fence
      // (e.g. the incremental packer's running token total): a replayed
      // epoch is a no-op INCLUDING these — the fence check returns before
      // they merge, so state advances exactly once per epoch
      extraProps: Map[String, String] = Map.empty): Long = {
    val key = s"$PropStreamEpochPrefix$queryId"
    commit("append") { base =>
      if (base.properties.get(key)
          .exists(v => LakeTable.parseEpochValue(v)._1 >= epochId)) None
      else {
        assertEqColumnsResolvable(base, newDeletes, "streaming epoch")
        val existing = base.currentManifests
        val known = knownPaths(base)
        val fresh = newFiles.distinctBy(_.path).filterNot(f => known.contains(f.path))
        val withNew =
          if (fresh.isEmpty) existing
          else existing :+ writeManifest(stamp(base, fresh))
        // Watermark GC: epoch entries are stamped with their commit time;
        // entries idle past stream.epoch.ttl-ms (default 30 days) belong to
        // dead queries and are dropped here — without this, table metadata
        // (rewritten every commit) grows one property per streaming query
        // FOREVER. A query that resumes after a TTL-exceeding silence loses
        // its fence (documented: keep checkpoint lag under the TTL, the
        // same class of contract as snapshot retention vs stream lag).
        val now = System.currentTimeMillis()
        val ttl = base.properties.getOrElse(PropStreamEpochTtlMs,
          DefaultStreamEpochTtlMs).toLong
        val stale = base.properties.keysIterator
          .filter(k => k.startsWith(PropStreamEpochPrefix) && k != key)
          .filter(k => now - LakeTable.parseEpochValue(base.properties(k))._2 >= ttl)
          .toSet
        Some(new CommitPlan(base)(manifests = maybeMerge(base, withNew),
          props = extraProps + (key -> s"$epochId:$now"), propsRemove = stale,
          deleteManifests = withDeletes(base, newDeletes)))
      }
    }
  }

  /** Table-property update as one metadata commit (SQL SET TBLPROPERTIES). */
  def setProperty(key: String, value: String): Long =
    commit("alter") { base => Some(new CommitPlan(base)(props = Map(key -> value))) }

  /** Schema evolution: ADD COLUMN (nullable, appended last). One metadata
    * commit bumping schemaDdl — no data file is touched; files written
    * before the change lack the column and the read path null-fills it
    * (the vectorized reader projects by requested schema, treating absent
    * parquet columns as all-null). While the table has never been renamed/
    * dropped (empty schema registry) this stays a pure DDL bump — name
    * resolution is sufficient. Once the registry exists, ADD also mints a
    * [[SchemaDef]] assigning the column a NEVER-REUSED field id, so a
    * column dropped and later re-added under the same name cannot
    * resurrect old files' data.
    */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType): Long =
    commit("alter") { base =>
      val fields = base.schema.fields
      if (fields.exists(_.name.equalsIgnoreCase(name)))
        throw new IllegalArgumentException(s"column $name already exists")
      val newDdl = StructType(fields :+
        org.apache.spark.sql.types.StructField(name, dataType, nullable = true)).toDDL
      val schemasUpd =
        if (base.schemas.isEmpty) None
        else {
          val nextId = base.schemas.map(_.id).max + 1
          Some((Seq(SchemaDef(nextId, newDdl,
            base.currentSchemaDef.ids :+ (base.lastFieldId + 1))), nextId))
        }
      Some(new CommitPlan(base)(schemaDdl = newDdl, schemasUpdate = schemasUpd))
    }

  /** Schema evolution: RENAME COLUMN. Mints a new [[SchemaDef]] carrying
    * the SAME field ids under the new name — no data file is touched; the
    * read path maps each file's physical column names to the current names
    * through the ids ([[DataFileMeta.schemaId]]). The first rename/drop
    * also materializes schema 0 (the pre-evolution positional schema) into
    * the registry, freezing the name set every schemaId-0 file was written
    * under before the top-level DDL diverges from it.
    */
  def renameColumn(oldName: String, newName: String): Long =
    commit("alter") { base =>
      val fields = base.schema.fields.clone()
      val idx = fields.indexWhere(_.name.equalsIgnoreCase(oldName))
      if (idx < 0) throw new IllegalArgumentException(s"no column $oldName")
      if (fields.exists(_.name.equalsIgnoreCase(newName)))
        throw new IllegalArgumentException(s"column $newName already exists")
      if (base.spec.column.equalsIgnoreCase(oldName))
        throw new UnsupportedOperationException(
          s"cannot rename partition column ${base.spec.column}")
      assertNoEqDeletesOn(base, oldName, "rename")
      val (minted, nextId) = mintBase(base)
      fields(idx) = fields(idx).copy(name = newName)
      val newDdl = StructType(fields).toDDL
      Some(new CommitPlan(base)(schemaDdl = newDdl,
        schemasUpdate = Some((minted :+ SchemaDef(nextId, newDdl,
          base.currentSchemaDef.ids), nextId)),
        props = rewriteColumnListProps(base, oldName, Some(newName))))
    }

  /** Schema evolution: WIDEN COLUMN TYPE (`ALTER COLUMN x TYPE t`) — the
    * Iceberg-legal promotions only: INT → BIGINT, FLOAT → DOUBLE, and
    * DECIMAL(p, s) → DECIMAL(p', s) with p' > p (precision growth at the
    * SAME scale — Iceberg's third in-place promotion). Metadata-only: the
    * new [[SchemaDef]] keeps the SAME field ids and names; files written
    * under the narrower vintage decode through Spark's parquet reader
    * type widening (int32 columns read as long, float as double, and
    * lower-precision decimals — including across physical storage
    * classes, INT32-backed p<=9 read under an INT64/FLBA-width logical
    * type — Spark 4 supports all three in the vectorized and row paths),
    * so no data file is touched and the read path needs no fork. Anything
    * else — narrowing, scale changes, string/type-family changes — is
    * rejected: those need a rewrite, not an ALTER (a scale change
    * re-values every stored unscaled long; precision shrink overflows).
    * The partition column and equality-delete-referenced columns are
    * refused (delete files carry values under the old physical type;
    * comparing across widths is a correctness trap this guard simply
    * removes).
    */
  def widenColumnType(name: String,
      newType: org.apache.spark.sql.types.DataType): Long =
    commit("alter") { base =>
      import org.apache.spark.sql.types._
      val fields = base.schema.fields.clone()
      val idx = fields.indexWhere(_.name.equalsIgnoreCase(name))
      if (idx < 0) throw new IllegalArgumentException(s"no column $name")
      val cur = fields(idx).dataType
      val legal = (cur, newType) match {
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case (d1: DecimalType, d2: DecimalType) =>
          d2.scale == d1.scale && d2.precision > d1.precision
        case _ => false
      }
      if (!legal) throw new UnsupportedOperationException(
        s"illegal type change $cur -> $newType for $name " +
          "(only INT -> BIGINT, FLOAT -> DOUBLE, and same-scale DECIMAL " +
          "precision growth widen in place)")
      if (base.spec.column.equalsIgnoreCase(name))
        throw new UnsupportedOperationException(
          s"cannot change the partition column ${base.spec.column}'s type")
      assertNoEqDeletesOn(base, name, "widen")
      val (minted, nextId) = mintBase(base)
      fields(idx) = fields(idx).copy(dataType = newType)
      val newDdl = StructType(fields).toDDL
      Some(new CommitPlan(base)(schemaDdl = newDdl,
        schemasUpdate = Some((minted :+ SchemaDef(nextId, newDdl,
          base.currentSchemaDef.ids), nextId))))
    }

  /** Schema evolution: DROP COLUMN. Metadata-only — the column's field id
    * leaves the current schema (and is never reused), so every file's copy
    * of the data goes dead without a rewrite; time travel to pre-drop
    * snapshots still reads it through their pinned schema.
    */
  def dropColumn(name: String): Long =
    commit("alter") { base =>
      val fields = base.schema.fields
      val idx = fields.indexWhere(_.name.equalsIgnoreCase(name))
      if (idx < 0) throw new IllegalArgumentException(s"no column $name")
      if (fields.length == 1)
        throw new UnsupportedOperationException("cannot drop the only column")
      if (base.spec.column.equalsIgnoreCase(name))
        throw new UnsupportedOperationException(
          s"cannot drop partition column ${base.spec.column}")
      assertNoEqDeletesOn(base, name, "drop")
      val (minted, nextId) = mintBase(base)
      val newDdl = StructType(fields.patch(idx, Nil, 1)).toDDL
      Some(new CommitPlan(base)(schemaDdl = newDdl,
        schemasUpdate = Some((minted :+ SchemaDef(nextId, newDdl,
          base.currentSchemaDef.ids.patch(idx, Nil, 1)), nextId)),
        props = rewriteColumnListProps(base, name, None)))
    }

  /** Pending equality-delete files key rows BY NAME; renaming/dropping a
    * key column out from under them would silently stop retiring the rows
    * they target. Compaction materializes them away — require that first.
    */
  private def assertNoEqDeletesOn(base: TableMeta, col: String, op: String): Unit = {
    val eq = deleteFilesOf(base).filter(_.kind == DeleteFileMeta.KindEq)
    if (eq.exists(_.eqColumns.exists(_.equalsIgnoreCase(col))))
      throw new IllegalStateException(
        s"cannot $op column $col: pending equality-delete files key on it " +
          "(compact the table first)")
  }

  /** Commit-time half of the [[assertNoEqDeletesOn]] contract: an
    * equality-delete commit racing a column rename/drop must LOSE. The
    * ALTER's own check only sees entries pending at ALTER time — an
    * in-flight CDC upsert stream (key names fixed at query start) or a
    * delete written just before the rename would land an entry keyed on
    * the retired name afterwards; every subsequent scan of files it
    * applies to would then throw resolving the mask, leaving the table
    * unreadable until the entry is dug out by hand. Validated inside the
    * commit body (the attempt's base); a miss aborts the DELETE/epoch so
    * the caller re-runs against the current schema.
    */
  private def assertEqColumnsResolvable(base: TableMeta,
      dels: Seq[DeleteFileMeta], op: String): Unit = {
    val names = base.schema.fieldNames
    val missing = dels.iterator.filter(_.kind == DeleteFileMeta.KindEq)
      .flatMap(_.eqColumns)
      .filterNot(c => names.exists(_.equalsIgnoreCase(c))).toSeq.distinct
    if (missing.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op invalidated by concurrent schema change: equality-delete " +
          s"key column(s) ${missing.mkString(", ")} not in the current schema")
  }

  /** Registry entries to append BEFORE the new def: on the first rename/
    * drop, schema 0 itself (current DDL, explicit positional ids). Returns
    * (entries, next def id).
    */
  private def mintBase(base: TableMeta): (Seq[SchemaDef], Int) =
    if (base.schemas.isEmpty)
      (Seq(SchemaDef(0, base.schemaDdl, base.schema.fields.indices.map(_ + 1).toSeq)), 1)
    else (Nil, base.schemas.map(_.id).max + 1)

  /** Column-list properties (`write.sort-order`, `write.bloom.columns`)
    * rewritten for a rename (newName = Some) or drop (None) of `oldName`.
    * DDL must keep these declarations truthful: a stale token would
    * silently lose the declared clustering/bloom on the renamed column —
    * or worse, later bind to an unrelated column re-using the name. The
    * read-side [[LakeFormat.sortOrderColumns]] filter stays as
    * defense-in-depth for tables evolved before this rewrite existed.
    */
  private def rewriteColumnListProps(base: TableMeta, oldName: String,
      newName: Option[String]): Map[String, String] =
    Seq(LakeFormat.PropSortOrder, LakeFormat.PropBloomColumns).flatMap { key =>
      base.properties.get(key).flatMap { v =>
        val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        if (!cols.exists(_.equalsIgnoreCase(oldName))) None
        else Some(key -> cols.flatMap { c =>
          if (c.equalsIgnoreCase(oldName)) newName else Some(c)
        }.mkString(","))
      }
    }.toMap

  /** Column-list properties translated through field ids from one schema
    * vintage to another (rollback's restored name space). A token that
    * does not resolve in `from` is kept VERBATIM: it was already dangling
    * (a pre-rewrite-era rename left it behind), and under the restored
    * schema it may become valid again — dropping it would turn a rollback
    * into permanent loss of the declaration. Only emits keys whose value
    * actually changes.
    */
  private def translateColumnListProps(base: TableMeta, from: SchemaDef,
      to: SchemaDef): Map[String, String] =
    Seq(LakeFormat.PropSortOrder, LakeFormat.PropBloomColumns).flatMap { key =>
      base.properties.get(key).flatMap { v =>
        val cols = v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val translated = cols.map { c =>
          val i = from.names.indexWhere(_.equalsIgnoreCase(c))
          if (i < 0) c else to.nameOf(from.ids(i)).getOrElse(c)
        }.mkString(",")
        if (translated == v) None else Some(key -> translated)
      }
    }.toMap

  /** Partition evolution: change the truncate WIDTH new writes bucket
    * under — "the 5-minute buckets grew too many files, move to hourly",
    * the repartitioning every long-lived ingest table eventually makes.
    * Metadata-only: no file moves. Existing files keep their bucket values
    * under their own vintage ([[DataFileMeta.specId]]); pruning, retention
    * and SPJ reporting resolve each file's width through that id, and
    * compaction naturally migrates rewritten rows to the current layout.
    * The column itself is invariant (it is the physical layout key — a
    * different column would make old files' partition values meaningless).
    */
  def setPartitionWidth(newWidthMicros: Long): Long = {
    require(newWidthMicros > 0, "truncate width must be positive")
    commit("alter") { base =>
      if (newWidthMicros == base.currentSpec.widthMicros)
        throw new IllegalArgumentException(
          s"partition width is already $newWidthMicros")
      // first evolution materializes spec 0 (the creation width) so every
      // pre-evolution file's id resolves through the registry too
      val (minted, nextId) =
        if (base.specs.isEmpty) (Seq(SpecDef(0, base.spec.widthMicros)), 1)
        else (Nil, base.specs.map(_.id).max + 1)
      Some(new CommitPlan(base)(
        specsUpdate = Some((minted :+ SpecDef(nextId, newWidthMicros), nextId))))
    }
  }

  // ---- snapshot refs: tags + rollback ------------------------------------

  /** Named snapshot refs ("tags"): `ref.tag.<name>` -> snapshot id. */
  def tags: Map[String, Long] = meta.tags

  /** Tag `snapshotId` with `name` — a property update committed through
    * the CAS loop (atomic vs concurrent committers), recorded as a
    * lightweight "tag" snapshot so the metadata-version == snapshot-id
    * invariant the CAS rename relies on holds. Tagged snapshots are
    * pinned through [[expireSnapshots]] (and, transitively, so are their
    * files): durable audit / reproducibility points — "the exact corpus
    * run X trained on" — that survive retention on a table whose history
    * is otherwise GC'd.
    */
  def createTag(name: String, snapshotId: Long): Long = {
    require(name.matches("[A-Za-z][A-Za-z0-9_.-]*"),
      s"invalid tag name: $name (must start with a letter)")
    commit("tag") { base =>
      if (base.snapshot(snapshotId).isEmpty)
        throw new IllegalArgumentException(s"no snapshot $snapshotId to tag")
      Some(new CommitPlan(base)(
        props = Map(s"$PropTagPrefix$name" -> snapshotId.toString)))
    }
  }

  /** Drop a tag; its snapshot becomes expiry-eligible again. No-op (-1)
    * when the tag doesn't exist.
    */
  def dropTag(name: String): Long =
    commit("untag") { base =>
      if (!base.properties.contains(s"$PropTagPrefix$name")) None
      else Some(new CommitPlan(base)(propsRemove = Set(s"$PropTagPrefix$name")))
    }

  // ---- WAP branches: stage → audit → publish -----------------------------

  /** Branch refs: `ref.branch.<name>` -> head snapshot id. */
  def branches: Map[String, Long] = meta.branches

  def branchHead(name: String): Option[Long] = branches.get(name)

  /** Write-audit-publish, stage half: append `newFiles` as a "stage"
    * snapshot on `branch` — fully committed (files referenced, GC-safe,
    * readable via `snapshotDF`/`VERSION AS OF '<branch>'` for the audit)
    * but INVISIBLE to main readers: `currentSnapshotId` does not move.
    * Stages stack: each forks from the branch's previous head. Returns
    * the staged snapshot id.
    */
  def stageAppend(newFiles: Seq[DataFileMeta], branch: String): Long = {
    require(branch.matches("[A-Za-z][A-Za-z0-9_.-]*"),
      s"invalid branch name: $branch (must start with a letter)")
    commit("stage") { base =>
      val head = base.branches.get(branch)
        .map(id => base.snapshot(id).getOrElse(throw new IllegalStateException(
          s"branch $branch points at missing snapshot $id")))
        .orElse(base.current)
        .getOrElse(throw new IllegalStateException("cannot stage on an empty table"))
      val known = readManifests(head.manifests).map(_.path).toSet
      val fresh = newFiles.distinctBy(_.path).filterNot(f => known.contains(f.path))
      val manifests =
        if (fresh.isEmpty) head.manifests
        else head.manifests :+ writeManifest(stamp(base, fresh))
      Some(new CommitPlan(base)(manifests = manifests,
        props = Map(s"$PropBranchPrefix$branch" -> base.nextSnapshotId.toString),
        deleteManifests = head.deleteManifests,
        parentOverride = Some(head.id), advanceCurrent = false))
    }
  }

  /** Publish half: fold the branch's staged manifests into MAIN as one
    * fast-append commit and drop the branch ref — consumers see every
    * audited batch at once, atomically, even if main advanced since
    * staging (concurrent appends merge; staged manifests are disjoint by
    * construction). Returns the publish snapshot id, -1 if the branch
    * doesn't exist or staged nothing.
    */
  def publishBranch(branch: String): Long = {
    val key = s"$PropBranchPrefix$branch"
    commit("append") { base =>
      base.branches.get(branch) match {
        case None => None
        case Some(headId) =>
          val head = base.snapshot(headId).getOrElse(
            throw new IllegalStateException(
              s"branch $branch points at missing snapshot $headId"))
          // the stage chain's base = first non-"stage" ancestor
          var baseSnap = head
          while (baseSnap.operation == "stage")
            baseSnap = base.snapshot(baseSnap.parentId).getOrElse(
              throw new IllegalStateException(
                s"stage chain of $branch broken at ${baseSnap.parentId}"))
          val baseManifests = baseSnap.manifests.toSet
          val staged = head.manifests.filterNot(baseManifests.contains)
          if (staged.isEmpty) None
          else {
            val cur = base.currentManifests
            val curSet = cur.toSet
            Some(new CommitPlan(base)(
              manifests = maybeMerge(base, cur ++ staged.filterNot(curSet.contains)),
              propsRemove = Set(key)))
          }
      }
    }
  }

  /** Abandon a branch: drop the ref; its stage snapshots become
    * expiry-eligible (audit failed — the staged files never surface).
    */
  def dropBranch(branch: String): Long = {
    val key = s"$PropBranchPrefix$branch"
    commit("unbranch") { base =>
      if (!base.properties.contains(key)) None
      else Some(new CommitPlan(base)(propsRemove = Set(key)))
    }
  }

  /** Roll the table back to `snapshotId`: ONE new "rollback" snapshot
    * whose manifests (and pinned schema) are the target's. History is
    * preserved — the rolled-past commits stay time-travelable until
    * expiry — and a concurrent append conflicts-and-retries instead of
    * being silently dropped. Incremental readers see no new files
    * (rollback is not an "append" snapshot), so a stream crossing a
    * rollback never re-delivers.
    */
  def rollbackTo(snapshotId: Long): Long =
    commit("rollback") { base =>
      val target = base.snapshot(snapshotId).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $snapshotId to roll back to"))
      val restoredDdl = target.schemaDdl.getOrElse(base.schemaDdl)
      // Restore the target's schema ID too, so post-rollback writes stamp
      // (and reads resolve) the restored name space. A pre-registry target
      // (schemaId None) cannot blindly map to def 0: def 0 is frozen at
      // FIRST-rename time and may carry more columns (pre-registry ADDs)
      // than the restored DDL — leaving currentSchemaId pointing at a def
      // whose id list is longer than the DDL would make every later ALTER
      // throw building its SchemaDef. Pre-registry history is append-only
      // (rename/drop mint the registry first), so the restored DDL is a
      // positional prefix of def 0 and its ids are positional 1..n —
      // reuse a def with the identical DDL, else mint one.
      val schemasUpd: (Seq[SchemaDef], Int) = target.schemaId match {
        case Some(id) => (Nil, id)
        case None if base.schemas.isEmpty => (Nil, 0)
        case None => base.schemas.find(_.ddl == restoredDdl) match {
          case Some(d) => (Nil, d.id)
          case None =>
            val n = org.apache.spark.sql.types.StructType
              .fromDDL(restoredDdl).fields.length
            val nextId = base.schemas.map(_.id).max + 1
            (Seq(SchemaDef(nextId, restoredDdl, (1 to n).toSeq)), nextId)
        }
      }
      // Column-list properties (`write.sort-order`, `write.bloom.columns`)
      // follow the restored name space: this rollback deliberately restores
      // the target's pinned SCHEMA (doc above), so a property naming a
      // post-target rename would otherwise dangle as a phantom.
      val propsUpd: Map[String, String] =
        if (base.schemas.isEmpty) Map.empty
        else {
          val restoredDef: Option[SchemaDef] = schemasUpd match {
            case (minted, id) =>
              minted.find(_.id == id).orElse(base.schemas.find(_.id == id))
                .orElse(if (id == 0) Some(base.schemaDef(0)) else None)
          }
          restoredDef.fold(Map.empty[String, String])(
            translateColumnListProps(base, base.currentSchemaDef, _))
        }
      Some(new CommitPlan(base)(manifests = target.manifests, props = propsUpd,
        schemaDdl = restoredDdl, deleteManifests = target.deleteManifests,
        schemasUpdate = Some(schemasUpd)))
    }

  /** Consolidate the current snapshot's data manifests into ONE (the
    * Iceberg `rewrite_manifests` maintenance op): commit-heavy ingest
    * accumulates a manifest per commit until the auto-merge threshold
    * (`commit.manifest.min-count-to-merge`), and scan planning walks every
    * manifest — this forces the merge early. Metadata-only and
    * content-identical: file entries (including their commit sequence
    * numbers) carry over verbatim, pending delete manifests ride along
    * untouched, and incremental readers see no new files (a "compact"
    * snapshot, never re-delivered). Returns -1 when already consolidated.
    */
  def rewriteManifests(): Long =
    commit("compact") { base =>
      val cur = base.currentManifests
      if (cur.size <= 1) None
      else Some(new CommitPlan(base)(manifests = writeManifests(base, readManifests(cur))))
    }

  /** Manifest compaction once the count crosses the merge threshold.
    *
    * The merge output is BINNED at merge.max-entries file entries per
    * manifest, and bins already holding ≥ half the cap are carried
    * forward untouched: a 10⁶-file inventory becomes ~10 bounded bins +
    * a small tail, planning keeps one task per manifest (never one
    * giant single-manifest scan), driver memory during the merge is
    * bounded by one bin, and each merge rewrites only the small-tail
    * entries instead of the whole inventory every `threshold` commits.
    */
  private def maybeMerge(base: TableMeta, manifests: Seq[String]): Seq[String] = {
    val threshold = base.properties.getOrElse(PropManifestMinMerge, "200").toInt
    if (manifests.size < threshold) manifests
    else {
      // clamped ONCE and reused for both the big/small threshold and the
      // bin flush: a property value of 0 must not make every buffered
      // entry flush into its own single-file manifest (manifest explosion)
      val cap = math.max(1, base.properties
        .getOrElse(PropManifestMergeMaxEntries,
          DefaultManifestMergeMaxEntries.toString).toInt)
      val sized = manifests.map(m => m -> readManifest(m).size)
      val (big, small) = sized.partition(_._2 >= math.max(1, cap / 2))
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val buf = scala.collection.mutable.ArrayBuffer.empty[DataFileMeta]
      small.foreach { case (m, _) =>
        readManifest(m).foreach { f =>
          buf += f
          if (buf.size >= cap) { out += writeManifest(buf.toSeq); buf.clear() }
        }
      }
      if (buf.nonEmpty) out += writeManifest(buf.toSeq)
      big.map(_._1) ++ out.toSeq
    }
  }

  /** Metadata-only retention delete (A21): drop every data file whose
    * partition bucket is strictly below the (bucket-aligned) cutoff. The
    * reference aligns the cutoff down to the partition width so the
    * predicate covers whole files (FileBasedBookkeeper.java:182-192).
    * Returns the new snapshot id, or -1 if nothing matched.
    */
  def deleteOlderThan(cutoffMicros: Long): Long = {
    commit("delete") { base =>
      // recomputed from each attempt's base so a concurrent
      // append's files survive the rewrite of the manifest list. A file is
      // droppable iff its WHOLE bucket sits below the cutoff — judged per
      // file under the width of its own spec vintage (equivalent to the
      // reference's aligned-cutoff comparison when widths are uniform)
      val (dropped, kept) = filesOf(base).partition(f =>
        f.partitionValue + base.specWidth(f.specId) <= cutoffMicros)
      if (dropped.isEmpty) None
      else Some(rewritePlan(base, kept))
    }
  }

  /** General-predicate delete. Routed by the `write.delete.mode` table
    * property (Iceberg's knob): `copy-on-write` (default) rewrites files,
    * `merge-on-read` writes position-delete files ([[deleteWhereMoR]]).
    */
  def deleteWhere(spark: SparkSession, predicate: org.apache.spark.sql.Column): Long =
    if (tableMeta.properties.get(LakeFormat.PropDeleteMode)
        .contains(LakeFormat.DeleteModeMergeOnRead))
      deleteWhereMoR(spark, predicate)
    else deleteWhereCoW(spark, predicate)

  /** Copy-on-write delete (§7.5.4): files whose rows all match are dropped
    * metadata-only; files with partial matches are rewritten without the
    * matching rows.
    *
    * Scale shape: the scan filters to MATCHING rows before the per-file
    * aggregate, so files with zero matches never produce a group; the
    * classification joins those groups against the manifest DataFrame
    * distributed; the only driver materialization is the decision set —
    * bounded by files that contain matched rows, not by table size.
    */
  def deleteWhereCoW(spark: SparkSession,
      predicate: org.apache.spark.sql.Column): Long =
    cowRewriteWhere(spark, predicate, Nil)

  /** Filter overwrite (SQL `INSERT OVERWRITE` in static mode with a
    * condition, `DataFrameWriterV2.overwrite(cond)`): delete every row
    * matching `predicate` AND land `newFiles` in ONE atomic rewrite
    * commit — the idempotent range-backfill primitive ("replace March's
    * partition with this recomputed data"). Reuses the CoW delete
    * classification (whole-file drops stay metadata-only; straddling
    * files rewrite their survivors); prior snapshots time-travel to the
    * pre-overwrite data until expiry. Commits even when nothing matches
    * (the overwrite of an empty range is the backfill's first run).
    */
  def overwriteWhere(spark: SparkSession,
      predicate: org.apache.spark.sql.Column,
      newFiles: Seq[DataFileMeta]): Long =
    cowRewriteWhere(spark, predicate, newFiles.distinctBy(_.path))

  private def cowRewriteWhere(spark: SparkSession,
      predicate: org.apache.spark.sql.Column,
      extra: Seq[DataFileMeta]): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val scan = meta
    val scanSnapshot = scan.currentSnapshotId
    val schema = scan.schema
    val live = filesOf(scan)
    if (live.isEmpty && extra.isEmpty) return -1L
    if (live.isEmpty) // overwrite into an empty table = plain append
      return commit("rewrite") { base =>
        Some(rewritePlan(base, filesOf(base) ++ stamp(base, extra)))
      }
    // Pending MoR deletes must be honored throughout: a deleted row that
    // matched the scan would mis-classify its file; one that survived a
    // rewrite unfiltered would RESURRECT.
    val matchedPerFile = readWithDeletes(spark, schema, live, scanSnapshot,
        keepPathCol = Some("__path"))
      .filter(predicate <=> lit(true))
      .groupBy("__path").agg(count(lit(1)).as("matched"))
      .select(col("__path").as("path"), col("matched"))
    // row_count is PHYSICAL rows; live rows = row_count - pending deletes,
    // so whole-file classification compares against the deleted count too.
    // Position deletes ONLY: equality-delete parquets carry the key-column
    // schema (no file_path/pos) and would poison the union read. Rows
    // masked by pending equality deletes merely make a whole-file drop
    // classify conservatively as a partial rewrite, which stays correct —
    // the rewrite reads through readWithDeletes and re-applies all masks.
    val dels = deleteFilesOf(scan).filter(_.kind == DeleteFileMeta.KindPos)
    val delCounts: Option[DataFrame] = pendingPosMarkCounts(spark, dels)
      .map(_.withColumnRenamed("file_path", "path"))
    // Classification stays a DATAFLOW end-to-end: files-meta (manifests
    // parsed executor-side via filesDF) ⋈ matched counts ⋈ pending-delete
    // counts; the driver materializes ONLY (path, whole?) for files that
    // contain matched rows — never per-file counts, never rows for
    // untouched files. O(matched files) strings is the floor: the commit
    // needs the replaced-path set to rewrite the manifest list.
    val decisions = LakeTable.classifyDeleteDecisions(
      filesDF(spark, scanSnapshot).select(col("path"), col("row_count")),
      matchedPerFile, delCounts).collect()
    val partialPaths =
      decisions.collect { case r if !r.getBoolean(1) => r.getString(0) }.toSet
    val droppedPaths =
      decisions.collect { case r if r.getBoolean(1) => r.getString(0) }.toSet
    val partial = live.filter(f => partialPaths.contains(f.path))
    val fullyDropped = live.filter(f => droppedPaths.contains(f.path))
    if (partial.isEmpty && fullyDropped.isEmpty && extra.isEmpty) return -1L
    val rewritten: Seq[DataFileMeta] =
      if (partial.isEmpty) Nil
      else {
        // keep-filter must RETAIN rows where the predicate evaluates to
        // NULL (they don't match the delete predicate); a bare !predicate
        // would drop them — <=> true makes NULL explicit
        val keepRows = readWithDeletes(spark, schema, partial, scanSnapshot)
          .filter(!(predicate <=> org.apache.spark.sql.functions.lit(true)))
        LakeWriter.writeDataFiles(keepRows, this)
      }
    val replaced = (partial ++ fullyDropped).map(_.path).toSet
    commit("rewrite") { base =>
      assertNoNewDeletes(base, scanSnapshot, partial ++ fullyDropped, "delete")
      assertReplacedLive(base, replaced, "delete")
      // recompute survivors from the attempt's base: concurrent appends
      // since the scan must not be dropped by this manifest rewrite
      Some(rewritePlan(base, filesOf(base).filterNot(f => replaced.contains(f.path)) ++
        stamp(base, rewritten ++ extra)))
    }
  }

  /** Dynamic partition overwrite (SQL `INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic`,
    * `DataFrameWriterV2.overwritePartitions()`): atomically replace
    * EXACTLY the buckets the new data landed in — the restatement shape
    * ("recompute these hours and swap them in") that stays METADATA-ONLY:
    * no existing file is read or rewritten when all vintages share the
    * write's width, because bucket containment is decidable from the
    * manifest alone (the partition column is non-null and the bucket is a
    * pure function of it). Mixed spec vintages (a pre-evolution file whose
    * wider bucket straddles a touched bucket's boundary) fall back to a
    * row-level rewrite of JUST the straddling files, keeping their rows
    * outside the touched buckets.
    *
    * Concurrency: a commit that lands files into a touched bucket between
    * this write's scan and its commit raises
    * ConcurrentModificationException — silently dropping the concurrent
    * committer's files with the old generation would be a lost update.
    * Appends into untouched buckets survive (re-derived per attempt from
    * refreshed metadata).
    */
  def overwriteDynamic(spark: SparkSession, newFiles: Seq[DataFileMeta],
      writeSpecId: Int): Long = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val fresh = newFiles.distinctBy(_.path)
    if (fresh.isEmpty) return -1L
    val scan = meta
    val scanSnapshot = scan.currentSnapshotId
    val width = scan.specWidth(writeSpecId)
    val touched = fresh.map(_.partitionValue).distinct.toSet
    // the write-width buckets a live file's interval [pv, pv+ownWidth)
    // overlaps — evaluated under the file's OWN spec vintage (spec ids
    // are never reused, so any version's registry resolves them)
    def writeBuckets(f: DataFileMeta): Seq[Long] = {
      val wf = scan.specWidth(f.specId)
      val lo = f.partitionValue - java.lang.Math.floorMod(f.partitionValue, width)
      Iterator.iterate(lo)(_ + width)
        .takeWhile(_ < f.partitionValue + wf).toSeq
    }
    // straddling = intersects a touched bucket but is not fully contained
    // (only possible across spec widths); its surviving rows rewrite once,
    // BEFORE the commit loop — the conflict check below re-validates
    val straddling = filesOf(scan).filter { f =>
      val bs = writeBuckets(f)
      bs.exists(touched) && !bs.forall(touched)
    }
    val rewritten: Seq[DataFileMeta] =
      if (straddling.isEmpty) Nil
      else {
        val c = col(scan.spec.column)
        val bucketCol = c - pmod(c, lit(width))
        val keepRows = readWithDeletes(spark, scan.schema, straddling, scanSnapshot)
          .filter(!bucketCol.isin(touched.toSeq: _*))
        LakeWriter.writeDataFiles(keepRows, this)
      }
    val straddlingPaths = straddling.map(_.path).toSet
    commit("rewrite") { base =>
      val cur = filesOf(base)
      // lost-update guard: files added since the scan that overlap a
      // touched bucket would be silently swallowed by the swap
      val conflicting = cur.filter(f => f.seq > scanSnapshot &&
        !straddlingPaths.contains(f.path) && writeBuckets(f).exists(touched))
      if (conflicting.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"dynamic overwrite: concurrent commit added " +
            s"${conflicting.size} file(s) into overwritten buckets")
      assertReplacedLive(base, straddlingPaths, "rewrite")
      assertNoNewDeletes(base, scanSnapshot, straddling, "rewrite")
      Some(rewritePlan(base, cur.filter { f =>
        !straddlingPaths.contains(f.path) && !writeBuckets(f).forall(touched)
      } ++ stamp(base, rewritten ++ fresh)))
    }
  }

  /** Merge-on-read delete: write position-delete files instead of
    * rewriting data (SURVEY §2 extension; the Iceberg v2 position-delete
    * shape). One distributed scan finds matching (file, row-index) pairs
    * via the file source's metadata columns, range-partitioned by data
    * path so each delete parquet covers a narrow path range; readers apply
    * them as skip masks ([[dsv2.LakeReaderFactory]]). At 100 TB a
    * predicate delete costs kilobytes of positions, not a terabyte
    * rewrite — compaction ([[compactFiles]]) or CoW churn later
    * materializes the deletes away and prunes dead entries.
    *
    * Duplicate positions (re-deleting an already-deleted row) cannot occur:
    * matches are found through the table's own source, which already
    * subtracts pending masks — and readers apply positions as a SET anyway.
    */
  def deleteWhereMoR(spark: SparkSession,
      predicate: org.apache.spark.sql.Column): Long = {
    val scanSnapshot = currentSnapshotId
    val written = writePositionDeletes(spark, predicate)
    if (written.isEmpty) -1L
    else commitPositionDeletes(written, Some(scanSnapshot))
  }

  /** Scan half of [[deleteWhereMoR]]: find matching (file, position) pairs
    * and write them as position-delete parquets. Returns their metadata
    * (empty = nothing matched); nothing is committed yet.
    */
  private[lake] def writePositionDeletes(spark: SparkSession,
      predicate: org.apache.spark.sql.Column): Seq[DeleteFileMeta] = {
    import org.apache.spark.sql.functions.{col, lit}
    val live = files()
    if (live.isEmpty) return Nil
    // (file, position) row identity from the table's own scan — V1/V2
    // parquet-source agnostic (see readWithDeletes) and mask-aware
    val matches = spark.read.format("laketable").load(location)
      .filter(predicate <=> lit(true))
      .select(col(dsv2.LakeMetaColumns.FileColumn).as("file_path"),
        col(dsv2.LakeMetaColumns.PosColumn).as("pos"))
    val matchCount = matches.count()
    if (matchCount == 0L) return Nil
    writeDeleteParquets(spark, matches, matchCount)
  }

  /** Write a (file_path, pos) frame as range-binned position-delete
    * parquets under the table's delete dir and harvest their metadata —
    * the physical half shared by [[writePositionDeletes]] (fresh DELETEs)
    * and [[rewritePositionDeletes]] (compaction of existing ones).
    * Nothing is committed.
    */
  private[lake] def writeDeleteParquets(spark: SparkSession,
      matches: org.apache.spark.sql.DataFrame,
      matchCount: Long): Seq[DeleteFileMeta] = {
    import org.apache.spark.sql.functions.{col, lit, udf}
    val toPlain = udf((s: String) => new Path(s).toUri.getPath)
    // ~4M positions (~tens of MB) per delete file
    val nFiles = math.max(1, math.min(64, (matchCount / 4000000L).toInt + 1))
    val tmp = new Path(location, s"_tmp-del-${UUID.randomUUID()}")
    try {
        matches.repartitionByRange(nFiles, col("file_path"), col("pos"))
          .sortWithinPartitions("file_path", "pos")
          .write.parquet(tmp.toString)
        val delDir = new Path(location, LakeFormat.DeleteDir)
        fs.mkdirs(delDir)
        val moved = fs.listStatus(tmp).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map { st =>
            val dest = new Path(delDir, s"${UUID.randomUUID()}.parquet")
            if (!fs.rename(st.getPath, dest))
              throw new java.io.IOException(s"move failed: ${st.getPath} -> $dest")
            dest
          }
        // one distributed pass harvests each delete file's row count,
        // covered data-path range, and (when few) exact referenced paths —
        // the exact list is what makes later prune/candidate checks
        // precise among UUID-named siblings
        import org.apache.spark.sql.functions.{collect_set, count,
          input_file_name, max, min, size => asize, sort_array, typedlit, when}
        val cap = LakeTable.DeletePathListCap
        // input_file_name (set by both V1 and V2 file readers) rather than
        // _metadata — the V2 parquet relation has no metadata struct
        spark.read.parquet(moved.map(_.toString): _*)
          .groupBy(toPlain(input_file_name()).as("del_path"))
          .agg(count(lit(1)).as("cnt"),
            min("file_path").as("lo"), max("file_path").as("hi"),
            when(asize(collect_set("file_path")) <= cap,
              sort_array(collect_set("file_path")))
              .otherwise(typedlit(Seq.empty[String]))
              .as("paths"))
          .collect()
          .map { r =>
            val p = r.getString(0)
            DeleteFileMeta(p, fs.getFileStatus(new Path(p)).getLen,
              r.getLong(1), r.getString(2), r.getString(3),
              dataPaths = r.getSeq[String](4))
          }.toSeq
    } finally {
      bestEffort("delete", tmp)(fs.delete(tmp, true))
    }
  }

  /** Dangling-reference detection shared by the delete/delta commits:
    * entries inlining their referenced paths check them against the live
    * set exactly; CAPPED entries (range only) check that no file removed
    * since the scan lies in their range (a mere live-overlap test passes
    * trivially after the very rewrite being raced — replacement files
    * land in the same bucket dirs and sort inside the range). An expired
    * scan snapshot, or a capped entry with no scan info, cannot be proven
    * safe and counts as dangling. Any dangling entry aborts the `op`
    * commit (the caller re-runs against current data).
    */
  private def assertNoDanglingRefs(base: TableMeta, written: Seq[DeleteFileMeta],
      scanSnapshot: Option[Long], op: String): Unit = {
    val live = filesOf(base).map(_.path).toSet
    // outer None = no scan info; inner None = scan snapshot expired;
    // inner Some = paths live at the scan but gone now (replaced since)
    lazy val removedSince: Option[Option[Set[String]]] = scanSnapshot.map(s =>
      base.snapshot(s).map(at => readManifests(at.manifests).map(_.path).toSet -- live))
    val pos = written.iterator.filter(_.kind == DeleteFileMeta.KindPos)
    val dangling = pos.flatMap { d =>
      if (d.dataPaths.nonEmpty) d.dataPaths.filterNot(live)
      else removedSince match {
        case Some(None) =>
          Seq(s"[${d.minDataPath}, ${d.maxDataPath}] " +
            "(capped entry, scan snapshot expired — cannot validate)")
        case Some(Some(removed)) =>
          removed.filter(p => p >= d.minDataPath && p <= d.maxDataPath)
            .take(1).toSeq
            .map(p => s"$p (removed since scan, in capped entry's range)")
        case None =>
          if (live.exists(p => p >= d.minDataPath && p <= d.maxDataPath)) Nil
          else Seq(s"[${d.minDataPath}, ${d.maxDataPath}] (range, no live overlap)")
      }
    }.toSeq
    if (dangling.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op invalidated by concurrent rewrite: ${dangling.size} referenced " +
          s"data file(s) no longer live (first: ${dangling.head})")
  }

  /** Commit half of [[deleteWhereMoR]]: append the position-delete files'
    * manifest as one snapshot.
    *
    * Conflict validation, mirroring [[commitDelta]]: a compaction/CoW
    * rewrite landing between the scan and this commit replaces data files
    * these positions reference — the entries would dangle forever and the
    * DELETE would silently no-op (rows resurrect). Validate against each
    * attempt's base. Entries past the inline-path cap carry no
    * exact path list, so they validate via the SCAN SNAPSHOT instead:
    * abort if any file removed since the scan lies in the entry's
    * [lo,hi] path range (a mere live-overlap check would pass trivially —
    * a rewrite's replacement files land in the same bucket dirs and sort
    * inside the range). An expired scan snapshot degrades to abort:
    * the caller re-runs the DELETE against current data.
    */
  private[lake] def commitPositionDeletes(written: Seq[DeleteFileMeta],
      scanSnapshot: Option[Long] = None): Long =
    commit("delete") { base =>
      assertNoDanglingRefs(base, written, scanSnapshot, "MoR delete")
      Some(new CommitPlan(base)(deleteManifests =
        base.currentDeleteManifests :+ writeDeleteManifest(written)))
    }

  /** Compact the table's POSITION-delete files (the Iceberg
    * `rewrite_position_deletes` maintenance op). A merge-on-read table
    * accretes one (or more) pos-delete parquet per DELETE/MERGE commit;
    * every scan of an affected data file then pays a parquet open per
    * delete file — at a streaming-upsert table the delete inventory, not
    * the data, becomes the scan bottleneck. This op reads the live
    * pos-delete rows once, DROPS entries whose target data file is no
    * longer live (dangling marks left behind when a compaction rewrote
    * PART of a delete file's range — [[carryDeleteManifests]] only prunes
    * whole files whose ENTIRE range died) and duplicate (path, pos) marks
    * (two DELETEs matching the same row), and rewrites the survivors as
    * range-binned files (~4M positions each). One metadata-only commit
    * swaps the entries; data files are untouched, so the snapshot is a
    * physical no-op to incremental readers and the changelog (operation
    * "rewrite-deletes", excluded like "compact").
    *
    * EQUALITY deletes carry forward unchanged: they are sequence-
    * addressed (apply to files with seq < theirs), so merging two eq
    * files with different seqs would change which data files they retire.
    *
    * Concurrency: pos-delete files appended after the scan are carried
    * forward untouched; if a concurrent rewrite already replaced one of
    * this op's inputs, the commit aborts (re-run). The rewritten entries
    * re-validate against the live file set per attempt via
    * [[assertNoDanglingRefs]] — a data compaction landing mid-rewrite
    * aborts rather than committing entries that dangle from birth.
    *
    * Returns the new snapshot id, or -1 when there is nothing to gain
    * (≤1 live pos-delete file and no dangling/duplicate rows).
    */
  def rewritePositionDeletes(spark: SparkSession): Long = {
    import org.apache.spark.sql.functions.col
    val scan = refresh().tableMeta
    val scanSnapshot = scan.currentSnapshotId
    val pos = deleteFilesOf(scan).filter(_.kind == DeleteFileMeta.KindPos)
    if (pos.isEmpty) return -1L
    val origRows = pos.map(_.rowCount).sum
    // live-path filter stays DISTRIBUTED (filesDF parses manifests
    // executor-side): at 10⁶ data files the reference set must never be
    // a driver-built Set shipped into a join
    val liveDf = filesDF(spark, scanSnapshot).select("path")
    val rows = spark.read
      .parquet(pos.map(d => qualifiedDeletePath(d.path)): _*)
      .select("file_path", "pos").distinct()
      .join(liveDf, col("file_path") === col("path"), "left_semi")
      // the count below and writeDeleteParquets' repartition+write both
      // materialize this plan (union read of every live pos parquet + a
      // distinct shuffle + the manifest semi-join) — cache it across the
      // two passes rather than paying the dominant I/O twice
      .persist()
    val rewritten = try {
      val n = rows.count()
      // nothing to gain: already a single file carrying no dangling or
      // duplicate marks (the common steady state right after a previous
      // rewrite) — don't mint a no-op snapshot
      if (pos.size <= 1 && n == origRows) return -1L
      if (n == 0L) Nil else writeDeleteParquets(spark, rows, n)
    } finally rows.unpersist()
    commitDeleteRewrite("rewrite-deletes", pos.map(_.path).toSet, rewritten,
      scanSnapshot)
  }

  /** Retire EQUALITY-delete debt by converting it to position deletes
    * (the Iceberg `convert_equality_deletes` maintenance shape). Pending
    * eq-delete files are the streaming-upsert residue (one per CDC
    * batch): every scan of an older data file pays a key-set build and a
    * per-row hash probe, schema evolution on a key column is blocked
    * ([[assertNoEqDeletesOn]]), and the debt only grows. This op finds,
    * for each live data file the eq entries can still retire (file seq <
    * delete seq), the POSITIONS of rows whose key tuple matches any
    * pending eq key — one distributed scan per key-column group, never
    * per delete file — and commits the marks as range-binned pos-delete
    * parquets while DROPPING every eq entry, in one snapshot. Row
    * visibility is unchanged (operation "rewrite-deletes": a physical
    * no-op to the changelog and incremental readers, like compaction).
    *
    * Mechanics: the match scan reads the PINNED snapshot with delete
    * application OFF (`skipDeleteApplication`) — the default scan would
    * hide exactly the rows whose positions are needed. Keys join
    * null-safely (`<=>`) because the reader's UnsafeRow byte-equality
    * treats null keys as matching. Per key group the eq parquets
    * aggregate to DISTINCT keys with their MAX delete seq, so a row is
    * marked iff its file's seq is older than the newest delete naming
    * its key — byte-identical semantics to the read path's
    * sequence-pruned key sets. File seq resolves through [[filesDF]]
    * (manifests parsed executor-side; at 10⁶ files the seq map is a
    * distributed join side, never a driver Set).
    *
    * Concurrency: same contract as [[rewritePositionDeletes]] — the
    * commit aborts if any input eq entry was already replaced, and the
    * new pos entries re-validate against the live file set per attempt.
    * Pos entries (existing or appended since the scan) carry forward
    * untouched. Returns the new snapshot id, or -1 with no pending eq
    * deletes.
    */
  def convertEqualityDeletes(spark: SparkSession,
      // seq-SCOPED conversion: retire only eq entries with seq <= maxSeq.
      // Eq deletes are sequence-addressed and table-global (no partition
      // value to scope by — unlike compaction), so the dimension that
      // bounds the rewrite and its conflict window is the commit
      // sequence: convert the oldest debt first, leave newer entries
      // live. Union semantics keep visibility exact: scoped marks cover
      // fseq < scoped max dseq; the remaining newer entries still cover
      // the rest.
      maxSeq: Option[Long] = None,
      // threshold trigger (the b67 delete-mark-threshold analog): no-op
      // unless the TOTAL pending eq-file count has reached `minEqFiles`
      // — the knob a maintenance scheduler polls so conversion runs when
      // debt warrants one distributed scan, not per CDC batch
      minEqFiles: Int = 0): Long = {
    import org.apache.spark.sql.functions.{col, lit, max}
    val scan = refresh().tableMeta
    val scanSnapshot = scan.currentSnapshotId
    val allEqs = deleteFilesOf(scan).filter(_.kind == DeleteFileMeta.KindEq)
    if (allEqs.size < minEqFiles) return -1L
    val eqs = maxSeq.fold(allEqs)(ms => allEqs.filter(_.seq <= ms))
    if (eqs.isEmpty) return -1L
    val raw = spark.read.format("laketable")
      .option("snapshotId", scanSnapshot.toString)
      .option("skipDeleteApplication", "true")
      .load(location)
    val seqDf = filesDF(spark, scanSnapshot)
      .select(col("path").as("__fp"), col("seq").as("__fseq"))
    val marks = eqs.groupBy(_.eqColumns).map { case (keyCols, dels) =>
      val keys = dels.map { d =>
        spark.read.parquet(qualifiedDeletePath(d.path))
          .withColumn("__dseq", lit(d.seq))
      }.reduce(_ unionByName _)
        .groupBy(keyCols.map(col): _*).agg(max("__dseq").as("__dseq"))
      val probe = raw.select(
        keyCols.map(col) ++ Seq(
          col(dsv2.LakeMetaColumns.FileColumn).as("file_path"),
          col(dsv2.LakeMetaColumns.PosColumn).as("pos")): _*)
      probe.join(keys,
          keyCols.map(k => probe(k) <=> keys(k)).reduce(_ && _), "inner")
        .join(seqDf, col("file_path") === col("__fp"))
        .filter(col("__fseq") < col("__dseq"))
        .select("file_path", "pos")
    }.reduce(_ union _).distinct().persist()
    val rewritten = try {
      val n = marks.count()
      if (n == 0L) Nil else writeDeleteParquets(spark, marks, n)
    } finally marks.unpersist()
    // the replaced eq parquets become orphans after the commit; the
    // bounded GC sweep (removeOrphanFiles) collects them with every
    // other dead file
    commitDeleteRewrite("convert-eq-deletes", eqs.map(_.path).toSet, rewritten,
      scanSnapshot)
  }

  /** Commit half of the delete-file rewrites: one "rewrite-deletes"
    * snapshot swapping the entries `replaced` for `rewritten`. Entries
    * appended since the scan (`scanSnapshot`) carry forward; the commit
    * aborts if an input entry is no longer current (replaced by a
    * concurrent delete rewrite, or pruned by a concurrent data compaction
    * that retired its targets) or if a rewritten entry would dangle.
    */
  private def commitDeleteRewrite(op: String, replaced: Set[String],
      rewritten: Seq[DeleteFileMeta], scanSnapshot: Long): Long =
    commit("rewrite-deletes") { base =>
      val curEntries = deleteFilesOf(base)
      val gone = replaced -- curEntries.map(_.path).toSet
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$op aborted: ${gone.size} input delete file(s) no longer in the " +
            s"current snapshot (first: ${gone.head}); re-run")
      assertNoDanglingRefs(base, rewritten, Some(scanSnapshot), op)
      val next = curEntries.filterNot(d => replaced.contains(d.path)) ++ rewritten
      Some(new CommitPlan(base)(deleteManifests =
        if (next.isEmpty) Nil else Seq(writeDeleteManifest(next))))
    }

  /** Delta commit (merge-on-read MERGE/UPDATE via SupportsDelta): append
    * executor-written data files (the inserted/updated row versions) AND
    * position-delete files (the replaced row versions) in ONE snapshot —
    * readers see the swap atomically. Commit cost is O(files in this
    * delta), never O(table): nothing is rewritten.
    *
    * Conflict validation: a concurrent compaction/CoW rewrite may have
    * replaced a data file whose positions this delta deletes — its entries
    * would dangle (never match a live path) and the deletes would be
    * silently LOST, resurrecting the old row versions next to the new ones.
    * Every delete entry that inlines its referenced paths is validated
    * against the LIVE file set per attempt (the retry body re-reads fresh
    * metadata); a miss aborts the commit so the caller re-runs the DML
    * against current data. Entries past the inline cap
    * ([[LakeTable.DeletePathListCap]] paths from one task) validate via
    * `scanSnapshot` ([[assertNoDanglingRefs]]): abort when any file removed
    * since the scan lies in the entry's path range.
    */
  def commitDelta(newData: Seq[DataFileMeta],
      newDeletes: Seq[DeleteFileMeta],
      scanSnapshot: Option[Long] = None): Long = {
    if (newData.isEmpty && newDeletes.isEmpty) return -1L
    val fresh = newData.distinctBy(_.path)
    commit(if (fresh.nonEmpty) "append" else "delete") { base =>
      assertEqColumnsResolvable(base, newDeletes, "delta commit")
      assertNoDanglingRefs(base, newDeletes, scanSnapshot, "delta commit")
      val curM = base.currentManifests
      Some(new CommitPlan(base)(
        manifests =
          if (fresh.isEmpty) curM else curM :+ writeManifest(stamp(base, fresh)),
        deleteManifests = withDeletes(base, newDeletes)))
    }
  }

  /** Data rows of `fileMetas` with pending position deletes subtracted —
    * the read every REWRITE must use (a raw read would resurrect deleted
    * rows into the rewritten files). Reads through the table's OWN DSv2
    * source: the reader applies the snapshot's delete masks as per-file
    * bitmaps (no anti-join), and the `_file`/`_pos` metadata columns
    * supply the row identity the callers key on. Deliberately not
    * `_metadata.*`: Spark's V2 parquet relation (active whenever
    * `spark.sql.sources.useV1SourceList` drops "parquet" — the bench and
    * verify sessions) does not expose the file-metadata struct, and this
    * path must work in BOTH source regimes.
    *
    * Columns requested but absent at `snapshotId` (a changelog rendering
    * old snapshots in an evolved schema) null-fill.
    */
  private[lake] def readWithDeletes(spark: SparkSession, schema: StructType,
      fileMetas: Seq[DataFileMeta],
      snapshotId: Long = currentSnapshotId,
      keepPathCol: Option[String] = None,
      keepPosCol: Option[String] = None,
      // the SchemaDef `schema`'s names belong to, when it is NOT the
      // pinned snapshot's vintage (changelog reads a parent snapshot
      // under toId's names): name misses then translate through field
      // ids instead of null-filling a renamed column
      requestDef: Option[SchemaDef] = None): DataFrame = {
    if (fileMetas.isEmpty) {
      val full = StructType(schema.fields
        ++ keepPathCol.map(n => org.apache.spark.sql.types.StructField(
          n, org.apache.spark.sql.types.StringType))
        ++ keepPosCol.map(n => org.apache.spark.sql.types.StructField(
          n, org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
    }
    val wanted = fileMetas.map(_.path)
    readSnapshot(spark, schema, snapshotId,
      if (wanted.toSet == files(snapshotId).map(_.path).toSet) None
      else Some(wanted),
      keepPathCol, keepPosCol, requestDef)
  }

  /** [[readWithDeletes]]' read: snapshot `snapshotId` through the DSv2
    * source, narrowed to the data files `only` when given. The whole
    * snapshot (`None`) needs no file list here, so the scan's own
    * manifest walk is the only one.
    */
  private def readSnapshot(spark: SparkSession, schema: StructType,
      snapshotId: Long, only: Option[Seq[String]],
      keepPathCol: Option[String] = None, keepPosCol: Option[String] = None,
      requestDef: Option[SchemaDef] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    var df = spark.read.format("laketable")
      .option("snapshotId", snapshotId.toString).load(location)
    only.foreach(paths => df = df.filter(col(dsv2.LakeMetaColumns.FileColumn)
      .isin(paths.toIndexedSeq: _*)))
    val present = df.columns.toSet
    lazy val pinnedDef = schemaDefAt(snapshotId)
    val projected = schema.fields.map(f =>
      if (present.contains(f.name)) col(f.name)
      else requestDef.flatMap { rd =>
        val i = rd.names.indexWhere(_.equalsIgnoreCase(f.name))
        if (i < 0) None
        else pinnedDef.nameOf(rd.ids(i)).filter(present.contains)
          .map(p => col(p).as(f.name))
      }.getOrElse(lit(null).cast(f.dataType).as(f.name)))
    val kept =
      keepPathCol.map(n => col(dsv2.LakeMetaColumns.FileColumn).as(n)).toSeq ++
        keepPosCol.map(n => col(dsv2.LakeMetaColumns.PosColumn).as(n)).toSeq
    df.select((projected.toIndexedSeq ++ kept): _*)
  }

  /** CDC changelog over (fromId, toId]: every row-level change those
    * commits made, as the table's current-at-`toId` schema plus
    * `_change_type` ("insert" | "delete"; an update is its delete + its
    * insert) and `_commit_snapshot_id`. The incremental-read contract
    * (A25) completed for tables that mutate: downstream consumers replay
    * appends AND retirements instead of re-diffing full snapshots.
    *
    * Per snapshot, derived from the manifest diff against its parent —
    * never from the operation label alone, so every commit shape resolves:
    *
    *  - pure append (new data files only) → their rows as inserts;
    *  - merge-on-read delete/delta commits (new position-delete files,
    *    possibly alongside new data files) → deleted rows resolved by
    *    joining the new positions back to the PARENT's rows (prior masks
    *    already subtracted — re-deleting a dead row emits nothing), plus
    *    any new files' rows as inserts;
    *  - copy-on-write delete/rewrite/overwrite/rollback (files removed) →
    *    multiset row diff: removed-file rows (masked as of the parent)
    *    `exceptAll` added-file rows are the deletes, the reverse are the
    *    inserts — carried-over rows cancel exactly;
    *  - compaction/expiry (physically different, logically identical) and
    *    metadata-only commits (alter/tag/untag) → no changes.
    *
    * At 100 TB: append/MoR snapshots — the overwhelming majority — cost
    * one scan of exactly the changed files (+ a semi-join against the new
    * positions); only genuine CoW rewrites pay the two-sided `exceptAll`
    * shuffle, which is the honest minimum for a row diff the commit did
    * not record.
    */
  def changelogBetween(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, udf}
    val m = meta
    m.requireSnapshot(fromId)
    val to = m.requireSnapshot(toId)
    val outSchema = StructType.fromDDL(to.schemaDdl.getOrElse(m.schemaDdl))
    val outDef = schemaDefAt(m, toId)
    val toPlain = udf((s: String) => new Path(s).toUri.getPath)
    def withMeta(df: DataFrame, tpe: String, snap: Long): DataFrame =
      df.select(outSchema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("_change_type", lit(tpe))
        .withColumn("_commit_snapshot_id", lit(snap))
    val ids = m.snapshots.map(_.id)
      .filter(id => id > fromId && id <= toId).sorted
    val parts: Seq[DataFrame] = ids.flatMap { id =>
      val s = m.snapshot(id).get
      // compaction/expiry/delete-rewrite are physical no-ops; "stage"
      // snapshots are off the main lineage — their rows surface at publish
      if (s.operation == "compact" || s.operation == "expire" ||
          s.operation == "stage" || s.operation == "rewrite-deletes") Nil
      else {
        val parent = m.snapshot(s.parentId)
        val pFiles = parent.map(p => readManifests(p.manifests))
          .getOrElse(Nil).distinctBy(_.path)
        val sFiles = readManifests(s.manifests).distinctBy(_.path)
        val pPaths = pFiles.map(_.path).toSet
        val sPaths = sFiles.map(_.path).toSet
        val added = sFiles.filterNot(f => pPaths.contains(f.path))
        val removed = pFiles.filterNot(f => sPaths.contains(f.path))
        if (removed.nonEmpty) {
          // copy-on-write shape: row-level multiset diff, carryovers cancel
          val oldRows = readWithDeletes(spark, outSchema, removed,
            snapshotId = s.parentId, requestDef = Some(outDef))
          val newRows = LakeTable.readFilesMapped(spark, outDef, outSchema,
            added, m.schemas)
          Seq(withMeta(oldRows.exceptAll(newRows), "delete", id),
            withMeta(newRows.exceptAll(oldRows), "insert", id))
        } else {
          val inserts =
            if (added.isEmpty) Nil
            else Seq(withMeta(
              LakeTable.readFilesMapped(spark, outDef, outSchema, added,
                m.schemas),
              "insert", id))
          // new delete files (diffed by delete-file path — rewrite commits
          // re-list carried entries under fresh manifest names)
          val pDelPaths = parent.map(p => readDeleteManifests(p.deleteManifests))
            .getOrElse(Nil).map(_.path).toSet
          val newDels = readDeleteManifests(s.deleteManifests)
            .distinctBy(_.path).filterNot(d => pDelPaths.contains(d.path))
          val (newPos, newEq) = newDels.partition(_.kind == DeleteFileMeta.KindPos)
          val posDeletes =
            if (newPos.isEmpty) Nil
            else {
              val referenced = pFiles
                .filter(f => newPos.exists(_.references(f.path)))
              if (referenced.isEmpty) Nil
              else {
                // parent rows of the referenced files with PRIOR masks
                // subtracted, semi-joined to the new positions
                val base = readWithDeletes(spark, outSchema, referenced,
                  snapshotId = s.parentId, keepPathCol = Some("__cdc_fp"),
                  keepPosCol = Some("__cdc_pos"), requestDef = Some(outDef))
                val delDF0 = spark.read
                  .parquet(newPos.map(d => qualifiedDeletePath(d.path)): _*)
                  .select(toPlain(col("file_path")).as("__del_fp"),
                    col("pos").as("__del_pos"))
                val delDF = if (newPos.map(_.rowCount).sum < 4000000L)
                  broadcast(delDF0) else delDF0
                Seq(withMeta(base.join(delDF,
                  col("__cdc_fp") === col("__del_fp") &&
                    col("__cdc_pos") === col("__del_pos"), "left_semi")
                  .drop("__cdc_fp", "__cdc_pos"), "delete", id))
              }
            }
          // equality deletes (CDC upsert): retired rows = parent rows of
          // strictly-older files whose key appears in the new key files
          val eqDeletes = newEq.groupBy(_.eqColumns).toSeq.flatMap {
            case (cols, dels) =>
              val affected = pFiles.filter(f => dels.exists(_.applies(f)))
              if (affected.isEmpty) Nil
              else {
                val base = readWithDeletes(spark, outSchema, affected,
                  snapshotId = s.parentId, requestDef = Some(outDef))
                val keys0 = spark.read
                  .parquet(dels.map(d => qualifiedDeletePath(d.path)): _*)
                  .distinct()
                val keys = if (dels.map(_.rowCount).sum < 4000000L)
                  broadcast(keys0) else keys0
                Seq(withMeta(base.join(keys,
                  cols.toIndexedSeq, "left_semi"), "delete", id))
              }
          }
          posDeletes ++ eqDeletes ++ inserts
        }
      }
    }
    parts.reduceOption(_.union(_)).getOrElse {
      val empty = StructType(outSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_snapshot_id",
          org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }

  /** Copy-on-write group replacement (the commit half of SQL MERGE/UPDATE
    * via SupportsRowLevelOperations): atomically swap the files a row-level
    * scan read for the files its write produced. Same shape as deleteWhere's
    * rewrite commit — survivors recomputed from FRESH metadata per attempt
    * so concurrent appends are never dropped; prior snapshots keep
    * time-traveling to the replaced files until expiry GCs them.
    * `scanSnapshot` (the snapshot the operation's scan planned against)
    * gates the rewrite-vs-delete race ([[assertNoNewDeletes]]).
    * Returns the new snapshot id, or -1 when there is nothing to change.
    */
  def replaceFiles(replacedPaths: Set[String], newFiles: Seq[DataFileMeta],
      scanSnapshot: Option[Long] = None): Long = {
    val fresh = newFiles.distinctBy(_.path)
    if (replacedPaths.isEmpty && fresh.isEmpty) return -1L
    commit("rewrite") { base =>
      val (replaced, kept) = filesOf(base).partition(f => replacedPaths.contains(f.path))
      scanSnapshot.foreach { s =>
        assertReplacedLive(base, replacedPaths, "rewrite")
        assertNoNewDeletes(base, s, replaced, "rewrite")
      }
      Some(rewritePlan(base, kept ++ stamp(base, fresh)))
    }
  }

  /** Bin-pack data-file compaction (the north-star "compaction" table op:
    * many small ingest files per partition rewritten into few larger ones).
    * Selects partitions holding ≥ `minInputFiles` files smaller than
    * `smallFileBytes`, rewrites their rows through the normal write path,
    * and swaps manifests copy-on-write — readers pinned to older snapshots
    * still see the original files until expiry GCs them.
    *
    * `sortBy` + `maxRecordsPerFile` turn the rewrite into a CLUSTERING
    * compaction: rows sort within each partition before the writer splits
    * output files, so sibling files carry disjoint footer-stat ranges on
    * the sort columns and a point/range predicate prunes to one of them —
    * the manifest-level payoff that makes stats pruning effective after
    * ingest has scattered every key range across every small file.
    * `zorderBy` sorts by a Morton curve over the listed long columns
    * instead ([[graft.functions.ZOrder]]): files then carry bounded stat
    * ranges on EVERY listed dimension, so predicates on any of them prune
    * — the multi-dimensional variant a single lexicographic sort cannot
    * provide (its second column's range spans every file).
    *
    * With NO explicit sortBy/zorderBy, compaction defaults to the table's
    * declared `write.sort-order`: a sorted-write table's needle-pruning
    * contract must survive maintenance — a compaction that interleaves the
    * sorted inputs would silently widen every output file's stat range
    * back to the whole domain and the regression would only show up as
    * slow point lookups much later.
    * Returns the new snapshot id, or -1 if nothing qualified.
    */
  def compactFiles(spark: SparkSession, smallFileBytes: Long = 64L << 20,
      minInputFiles: Int = 2, sortBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L, zorderBy: Seq[String] = Nil,
      // partition-scoped maintenance: at 100 TB an operator compacts THE
      // hot partition's small-file debt, not the whole table — bounds
      // both the rewrite and the conflict window to the targeted buckets
      partitionMin: Option[Long] = None,
      partitionMax: Option[Long] = None,
      // MoR read-amplification trigger (the Iceberg DELETE_FILE_THRESHOLD
      // shape, counted in MARKS): a file carrying >= this many pending
      // position-delete marks is rewritten regardless of its size — at a
      // streaming-upsert table the hot files are LARGE but pay a mask
      // subtraction per scan; size-only selection never reclaims them
      deleteMarkThreshold: Option[Long] = None): Long = {
    val scan = meta
    val effectiveSortBy =
      if (sortBy.nonEmpty || zorderBy.nonEmpty) sortBy
      else LakeFormat.sortOrderColumns(scan.properties,
        scan.schema.fieldNames.toIndexedSeq)
    val scanSnapshot = scan.currentSnapshotId
    // per-file pending pos-delete mark counts (only when the threshold
    // is on), DISTINCT marks via [[pendingPosMarkCounts]] — duplicate
    // marks from overlapping DELETEs must not fake read-amp debt. A
    // PARTITION-SCOPED call prunes the delete inventory first: only
    // delete files that can reference an in-scope data file are read
    // (their metadata carries exact path lists / ranges), so scoped
    // maintenance never pays a full delete-inventory scan. The collected
    // map is bounded by marked-file count; file_path values are the
    // scan's _file form == the manifest path form, so keys match f.path.
    val markCounts: Map[String, Long] = deleteMarkThreshold match {
      case None => Map.empty
      case Some(_) =>
        val pos0 = deleteFilesOf(scan).filter(_.kind == DeleteFileMeta.KindPos)
        val pos =
          if (partitionMin.isEmpty && partitionMax.isEmpty) pos0
          else {
            val inScope = filesOf(scan).filter(f =>
              partitionMin.forall(f.partitionValue >= _) &&
                partitionMax.forall(f.partitionValue <= _))
            pos0.filter(d => inScope.exists(f => d.references(f.path)))
          }
        pendingPosMarkCounts(spark, pos)
          .map(_.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
          .getOrElse(Map.empty)
    }
    def overMarkThreshold(f: DataFileMeta): Boolean =
      deleteMarkThreshold.exists(thr => markCounts.getOrElse(f.path, 0L) >= thr)
    // candidate selection groups by (spec vintage, bucket) so files that
    // merely share a bucket START across widths don't inflate the count;
    // the rewrite itself re-buckets rows under the CURRENT spec — compaction
    // is the migration path that pays down an old layout. A group with any
    // over-threshold member always qualifies: materializing delete debt is
    // worth a rewrite even for a single large file.
    val candidates = filesOf(scan)
      .filter(f => f.sizeBytes < smallFileBytes || overMarkThreshold(f))
      .filter(f => partitionMin.forall(f.partitionValue >= _) &&
        partitionMax.forall(f.partitionValue <= _))
      .groupBy(f => (f.specId, f.partitionValue))
      .filter { case (_, g) =>
        g.size >= minInputFiles || g.exists(overMarkThreshold) }
      .values.flatten.toSeq
    if (candidates.isEmpty) return -1L
    // pending MoR deletes are MATERIALIZED by compaction: the rewrite reads
    // live rows only, and the commit prunes delete entries whose targets
    // were replaced — compaction is how a merge-on-read table pays down its
    // delete debt
    val rows = readWithDeletes(spark, scan.schema, candidates, scanSnapshot)
    // z-order: per-dimension min/max from manifest stats (no data pass);
    // a column missing a stat on any candidate falls back to one tiny
    // min/max aggregate over the rows being rewritten
    val zKey: Seq[org.apache.spark.sql.Column] =
      if (zorderBy.isEmpty) Nil
      else Seq(graft.functions.ZOrder.zvalue(zorderBy.map { c =>
        val los = candidates.map(_.stats.get(c).flatMap(_.longMin))
        val his = candidates.map(_.stats.get(c).flatMap(_.longMax))
        val (lo, hi) =
          if (los.forall(_.isDefined) && his.forall(_.isDefined))
            (los.flatten.min, his.flatten.max)
          else {
            val r = rows.agg(org.apache.spark.sql.functions.min(c),
              org.apache.spark.sql.functions.max(c)).head()
            (r.getLong(0), r.getLong(1))
          }
        (org.apache.spark.sql.functions.col(c), lo, hi)
      }))
    val rewritten = LakeWriter.writeDataFiles(rows, this,
      sortBy = effectiveSortBy, maxRecordsPerFile = maxRecordsPerFile,
      sortExprs = zKey)
    val replaced = candidates.map(_.path).toSet
    commit("compact") { base =>
      assertNoNewDeletes(base, scanSnapshot, candidates, "compaction")
      assertReplacedLive(base, replaced, "compaction")
      Some(rewritePlan(base, filesOf(base).filterNot(f => replaced.contains(f.path)) ++
        stamp(base, rewritten)))
    }
  }

  /** Snapshot expiry (A22, Reaper.java:17-27): expire snapshots older than
    * the timestamp, always retaining the last `retainLast` and the floor
    * from history.expire.min-snapshots-to-keep; physically deletes data
    * files and manifests referenced only by expired snapshots.
    */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = -1): Long = {
    // history.expire.min-snapshots-to-keep is the DEFAULT retention floor;
    // an explicit retainLast (the Reaper passes 20, Reaper.java:22) wins.
    val keepCount =
      if (retainLast > 0) retainLast
      else tableMeta.properties.getOrElse(PropMinSnapshotsToKeep, "100").toInt
    // orphan sets captured from the attempt that actually lands, so the
    // post-commit GC never deletes files referenced by a concurrent commit
    var orphanFiles: Set[String] = Set.empty
    var orphanManifests: Set[String] = Set.empty
    var orphanDeleteFiles: Set[String] = Set.empty
    var orphanDeleteManifests: Set[String] = Set.empty
    val id = commit("expire") { base =>
      val ordered = base.snapshots.sortBy(_.id)
      val byAge = ordered.filter(s =>
        s.timestampMs >= olderThanMs || s.id == base.currentSnapshotId)
      val byCount = ordered.takeRight(keepCount)
      // tagged snapshots are pinned regardless of age/count — a tag is a
      // promise the snapshot (and its files) stay readable
      val tagged = base.tags.values.toSet
      val byTag = ordered.filter(s => tagged.contains(s.id))
      // live WAP branches pin their whole stage chain (unpublished work
      // must survive retention until published or dropped)
      val branchPinned = scala.collection.mutable.HashSet.empty[Long]
      base.branches.values.foreach { headId =>
        var cur = base.snapshot(headId)
        while (cur.exists(_.operation == "stage") &&
            !branchPinned.contains(cur.get.id)) {
          branchPinned += cur.get.id
          cur = base.snapshot(cur.get.parentId)
        }
        // pin the first non-stage ancestor too: publishBranch's chain walk
        // terminates AT the base — if the base expired while the branch was
        // staged, the walk would hit a missing parent and the branch would
        // become permanently unpublishable
        cur.foreach(s => branchPinned += s.id)
      }
      val byBranch = ordered.filter(s => branchPinned.contains(s.id))
      val keep = (byAge ++ byCount ++ byTag ++ byBranch)
        .distinctBy(_.id).sortBy(_.id)
      if (keep.size == base.snapshots.size) None
      else {
        val keptManifests = keep.flatMap(_.manifests).toSet
        val expired = ordered.filterNot(s => keep.exists(_.id == s.id))
        orphanManifests = expired.flatMap(_.manifests).toSet -- keptManifests
        // the only-if-needed path subtraction (proves a file is referenced
        // by NO kept manifest before physical deletion). Both sides parse
        // their DISTINCT manifests once, in PARALLEL with the LRU bypassed
        // (the cache map is synchronized + access-ordered, so bulk lookups
        // serialize on it, and a full-inventory walk evicts it wholesale)
        // — serial through the cache this was ~7 s of the 10⁶-file
        // maintenance probe; the old per-snapshot keptPaths flatMap also
        // re-read each shared manifest once per retaining snapshot
        def manifestPaths(m: String): Seq[String] =
          Json.manifestFromJson(
            LakeTable.readSmall(fs, new Path(metaDir, m))).map(_.path)
        orphanFiles =
          if (orphanManifests.isEmpty) Set.empty
          else {
            // kept paths are held as PRIMITIVE 64-bit hashes (one sorted
            // long[]), never as a million-entry boxed-string set: the r10
            // plan_scale probe showed a 10× p100 on expire with a FLAT
            // fs-op canary — old-gen churn from the CHM<String> keySet
            // (10⁶ long-lived strings + node boxes) stretching a 2 s
            // median to 21 s under an unlucky major GC. Hashing each
            // path as it parses lets the strings die young; the
            // surviving state is 8 MB of longs. Collision direction is
            // LEAK-SAFE by construction: a path is deleted only when its
            // hash is ABSENT from the kept array, so a 2⁻⁶⁴ collision
            // can only RETAIN an orphan (the next sweep's problem),
            // never delete a kept file.
            val keptChunks =
              new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
            java.util.Arrays.stream(keptManifests.toArray).parallel()
              .forEach { m =>
                val ps = manifestPaths(m)
                val a = new Array[Long](ps.size)
                var i = 0
                ps.foreach { p => a(i) = LakeTable.pathHash64(p); i += 1 }
                keptChunks.add(a)
              }
            var total = 0
            keptChunks.forEach(a => total += a.length)
            val kept = new Array[Long](total)
            var off = 0
            keptChunks.forEach { a =>
              System.arraycopy(a, 0, kept, off, a.length); off += a.length
            }
            java.util.Arrays.parallelSort(kept)
            val orphan = new java.util.concurrent.ConcurrentLinkedQueue[String]()
            java.util.Arrays.stream(orphanManifests.toArray).parallel()
              .forEach(m => manifestPaths(m)
                .foreach(p => if (java.util.Arrays.binarySearch(kept,
                  LakeTable.pathHash64(p)) < 0) orphan.add(p)))
            val b = Set.newBuilder[String]
            orphan.forEach(p => b += p)
            b.result()
          }
        // same GC for merge-on-read delete manifests/parquets: those
        // referenced only by expired snapshots go with them
        val keptDelManifests = keep.flatMap(_.deleteManifests).toSet
        orphanDeleteManifests =
          expired.flatMap(_.deleteManifests).toSet -- keptDelManifests
        val keptDelPaths = readDeleteManifests(keptDelManifests.toSeq)
          .map(_.path).toSet
        orphanDeleteFiles =
          readDeleteManifests(orphanDeleteManifests.toSeq).map(_.path).toSet -- keptDelPaths
        Some(new CommitPlan(base)(keepSnapshots = keep))
      }
    }
    if (id >= 0) {
      // physical GC through the pluggable batch-delete seam
      // ([[BulkDelete]]): default = parallel per-file (serial round-trips
      // dominated expiry wall once thousands of pre-merge manifests
      // retired at once — ~2 s of the 10⁶-file probe locally, 10-100×
      // worse per call on an object store); stores with a native batch
      // primitive (S3 DeleteObjects) register theirs per scheme
      val bulk = BulkDelete.forFs(fs)
      def deleteAll(paths: Iterable[Path]): Unit =
        if (paths.nonEmpty) bulk.deleteAll(fs, paths.toSeq)
      deleteAll(orphanFiles.map(new Path(_)))
      deleteAll(orphanManifests.map(new Path(metaDir, _)))
      deleteAll(orphanDeleteFiles.map(new Path(_)))
      deleteAll(orphanDeleteManifests.map(new Path(metaDir, _)))
    }
    id
  }

  /** Orphan-file GC (`CALL lake.system.remove_orphan_files`): physically
    * delete files under the table location that NO metadata references —
    * crash-abandoned writer output (data/delete parquets written but never
    * committed, stale `_tmp-write-*` / `_tmp-del-*` staging trees) that
    * snapshot expiry can never reclaim because no snapshot ever referenced
    * them. At a streaming-ingest table every writer crash strands a batch
    * of files; without this op they accumulate forever.
    *
    * Reference set = every data/delete file of every RETAINED snapshot
    * plus every pending moniker's files (a dead bookkeeper's backlog is
    * still committed by the next sweep — not orphaned; monikers are read
    * BEFORE metadata so a racing sweep's files land in at least one set).
    * `olderThanMs` guards in-flight writers: only files modified strictly
    * before the cutoff qualify, and a staging tree's staleness is its
    * NEWEST nested mtime (the root dir's mtime stops advancing once its
    * direct children exist).
    *
    * Scale shape: the reference set is manifest-scale (driver metadata
    * budget), but the data tree at 100 TB holds 10⁷+ files — so listing
    * runs DISTRIBUTED (one task per partition-bucket directory) and
    * deletion runs where the listing ran. Paths are compared scheme-less
    * (manifests may record `/x` while listings return `file:/x`), and
    * only paths under the table location are ever deleted.
    *
    * Returns a bounded summary (count + ≤[[OrphanSweep.SampleCap]]
    * sample paths), NOT the full deleted-path list: a pathological
    * crash-debris sweep can delete 10⁶ orphans, and localizing one string
    * per deletion would haul ~100 MB of paths to the driver just to
    * return them. Each task reports (count, bounded sample); the driver
    * folds ≤ tasks×cap strings.
    *
    * `dryRun` audits instead of deleting (the Iceberg procedure's
    * dry_run): the identical listing/reference/anti-join dataflow runs
    * and the identical summary returns, but no file — orphan or stale
    * staging tree — is touched. An operator prices the sweep and
    * eyeballs the sample before running it for real.
    */
  def removeOrphanFiles(spark: SparkSession, olderThanMs: Long,
      dryRun: Boolean = false): OrphanSweep = {
    // scheme-less comparison form. Fast-path scheme-less absolute paths
    // (what manifests record): Path→URI construction costs ~10µs, and the
    // reference-set fold runs it once per committed file — at 10⁶ files
    // that was ~10 s of the sweep's driver time for strings the Path
    // round-trip returns unchanged.
    def plain(s: String): String =
      if (s.startsWith("/")) s else new Path(s).toUri.getPath
    // pending monikers BEFORE metadata: a bookkeeper sweep racing this GC
    // commits the backlog then deletes the monikers — reading metadata
    // first would see neither (files in no reference set = data loss);
    // this order sees such files in at least one set either way
    val pendingRefs = Monikers.read(Monikers.listPending(location))
      .map(f => plain(f.path))
    val m = refresh().tableMeta
    // the DATA reference set (one path per file of every RETAINED
    // snapshot) stays DISTRIBUTED end to end — manifests parse
    // executor-side (the filesDF shape) and feed the anti-join as a
    // DataFrame. The driver holds only manifest NAMES: the previous
    // driver-side fold (parse 10⁶ entries, build a 10⁶-string Set,
    // re-serialize it into a LocalRelation for the join) measured ~9 s at
    // the million-file posture and grows with the inventory; this shape
    // grows only with manifest count. Delete-file and pending-moniker
    // references stay driver-side — both are metadata-bounded by design.
    val dataManifests = m.snapshots.flatMap(_.manifests).distinct
      .map(new Path(metaDir, _).toString)
    val smallRefs = (readDeleteManifests(m.snapshots.flatMap(_.deleteManifests).distinct)
      .map(f => plain(f.path)) ++ pendingRefs)
    val locPrefix = plain(new Path(location).toString) + "/"
    import org.apache.spark.sql.functions.col

    // stale writer/delete staging dirs at the table root (all-or-nothing
    // trees no manifest can reference): bounded by crashed-writer count,
    // driver-side. Staleness = the NEWEST mtime in the tree (the root
    // dir's own mtime stops advancing once its direct children exist, so
    // it would call a long-running in-flight job stale mid-write)
    def newestMtime(p: Path): Long = {
      var newest = fs.getFileStatus(p).getModificationTime
      val it = fs.listFiles(p, true)
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      newest
    }
    val staleTmp = fs.listStatus(new Path(location)).toSeq
      .filter(st => (st.getPath.getName.startsWith("_tmp-write-") ||
          st.getPath.getName.startsWith("_tmp-del-")) &&
        newestMtime(st.getPath) < olderThanMs)
      .map(_.getPath)
    if (!dryRun) staleTmp.foreach(p => fs.delete(p, true))

    // distributed candidate listing over data/ and deletes/
    val roots = Seq(LakeFormat.DataDir, LakeFormat.DeleteDir)
      .map(d => new Path(location, d)).filter(fs.exists)
    val entries = roots.flatMap(r => fs.listStatus(r).toSeq)
    val (dirs, rootFiles) = entries.partition(_.isDirectory)
    import spark.implicits._
    // each candidate carries BOTH forms: the scheme-less `path` joins
    // against the (scheme-less) reference set; the QUALIFIED `full` is
    // what deletion resolves its FileSystem from — deleting through the
    // plain form would resolve the DEFAULT fs, i.e. on an object-store
    // table it would target a same-named local path instead of the store
    val fromRoot = rootFiles.map(st =>
      (plain(st.getPath.toString), st.getPath.toString,
        st.getModificationTime))
    val listed = spark.createDataset(dirs.map(_.getPath.toString))
      .repartition(math.max(1, math.min(dirs.size, 64)))
      .flatMap { d =>
        val p = new Path(d)
        val f = p.getFileSystem(LakeTable.hadoopConf)
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val it = f.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          out += ((new Path(st.getPath.toString).toUri.getPath,
            st.getPath.toString, st.getModificationTime))
        }
        out
      }
      .union(spark.createDataset(fromRoot))
      .toDF("path", "full", "mtime")
    val knownDf = (if (dataManifests.isEmpty)
        spark.emptyDataset[String]
      else spark.createDataset(dataManifests)
        .repartition(math.min(dataManifests.size, 64))
        .flatMap { mp =>
          val p = new Path(mp)
          val f = p.getFileSystem(LakeTable.hadoopConf)
          val content = {
            val in = f.open(p)
            try new String(in.readAllBytes(), "UTF-8") finally in.close()
          }
          Json.manifestFromJson(content).map(e =>
            if (e.path.startsWith("/")) e.path else new Path(e.path).toUri.getPath)
        })
      .union(spark.createDataset(smallRefs))
      .toDF("path")
    // each task returns (deleted-count, ≤cap sample) — never one string
    // per deleted orphan (10⁶ orphans must not become a driver collect)
    val cap = OrphanSweep.SampleCap
    val perTask = listed
      .filter(col("mtime") < olderThanMs)
      .join(knownDf, Seq("path"), "left_anti")
      .select("path", "full").as[(String, String)]
      .filter(_._1.startsWith(locPrefix)) // defense in depth
      .mapPartitions { it =>
        // deletion stays where the listing ran, but batches through the
        // BulkDelete seam (one call per task's haul) instead of a
        // round-trip per orphan — a store-native batch impl registered
        // in this (executor) JVM turns a task's thousands of deletes
        // into a handful of requests; the default is the parallel loop
        var n = 0L
        val sample = scala.collection.mutable.ArrayBuffer.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[Path]
        // flush in bounded chunks so a task with a very large haul never
        // buffers the whole partition's Path list, and one bad path only
        // fails its ~10k-entry chunk rather than the task's entire batch
        val chunk = 10000
        var fsHolder: FileSystem = null
        def flush(): Unit = {
          if (batch.nonEmpty && !dryRun) {
            if (fsHolder == null)
              fsHolder = batch.head.getFileSystem(LakeTable.hadoopConf)
            BulkDelete.forFs(fsHolder).deleteAll(fsHolder, batch.toSeq)
          }
          batch.clear() // dry runs must not accumulate either
        }
        it.foreach { case (plainPath, fullPath) =>
          batch += new Path(fullPath)
          n += 1
          if (sample.size < cap) sample += plainPath
          if (batch.size >= chunk) flush()
        }
        flush()
        Iterator.single((n, sample.toSeq))
      }
      .collect()
    val tmpPaths = staleTmp.map(p => plain(p.toString))
    OrphanSweep(
      perTask.map(_._1).sum + tmpPaths.size,
      (perTask.flatMap(_._2).toIndexedSeq ++ tmpPaths).sorted.take(cap))
  }

  // ---- read path ---------------------------------------------------------

  /** Live file metadata as a DataFrame (SURVEY §2 D6, the 10⁶-file path):
    * one row per data file, manifests parsed EXECUTOR-side — the driver
    * holds only the manifest name list (one per fast-append commit, merged
    * past the threshold), never the full file inventory. Maintenance
    * queries (deleteWhere classification, size audits, partition skew)
    * compose on this instead of collecting `files()`.
    */
  def filesDF(spark: SparkSession,
      snapshotId: Long = currentSnapshotId): DataFrame = {
    import spark.implicits._
    val manifestPaths = meta.requireSnapshot(snapshotId).manifests
      .map(new Path(metaDir, _).toString)
    if (manifestPaths.isEmpty)
      return spark.emptyDataset[(String, Long, Long, Long, Int, Long)]
        .toDF("path", "size_bytes", "row_count", "partition_value", "spec_id",
          "seq")
    spark.createDataset(manifestPaths)
      .repartition(math.min(manifestPaths.size, 32))
      .flatMap { mp =>
        val p = new Path(mp)
        val in = p.getFileSystem(LakeTable.hadoopConf).open(p)
        val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        Json.manifestFromJson(content)
          .map(f => (f.path, f.sizeBytes, f.rowCount, f.partitionValue,
            f.specId, f.seq))
      }
      .toDF("path", "size_bytes", "row_count", "partition_value", "spec_id",
        "seq")
  }

  /** Per-partition rollup (the skew audit) as a distributed groupBy over
    * the executor-parsed file inventory — the scale path behind the
    * `$partitions` metadata table.
    */
  def partitionsDF(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    // keyed by (bucket, spec vintage): after partition evolution two
    // vintages can share a bucket START with different widths — conflating
    // them would misstate both buckets' skew
    filesDF(spark).groupBy("partition_value", "spec_id").agg(
      count(lit(1)).as("file_count"),
      sum("row_count").as("row_count"),
      sum("size_bytes").as("size_bytes"),
      min("size_bytes").as("min_file_bytes"),
      max("size_bytes").as("max_file_bytes"))
      .select("partition_value", "file_count", "row_count", "size_bytes",
        "min_file_bytes", "max_file_bytes", "spec_id")
      .orderBy("partition_value", "spec_id")
  }

  /** Current table as a DataFrame. */
  def toDF(spark: SparkSession): DataFrame = snapshotDF(spark, currentSnapshotId)

  /** Time travel (B2) — reads with the schema AND pending merge-on-read
    * deletes as of that snapshot.
    */
  def snapshotDF(spark: SparkSession, snapshotId: Long): DataFrame =
    readSnapshot(spark, schemaAt(snapshotId), snapshotId, only = None)

  /** Incremental read (B3): rows added in (fromId, toId]. Append-only CDC
    * contract: rows are delivered AS APPENDED — merge-on-read deletes
    * committed later are not retro-applied (a replay must equal what a
    * live consumer saw; downstream compacts with the CDC-apply pattern).
    * For the full insert+delete changelog, see [[changelogBetween]].
    */
  def changesBetween(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    val m = meta
    LakeTable.readFilesMapped(spark, m.currentSchemaDef, m.schema,
      addedFilesBetween(fromId, toId), m.schemas)
  }

  /** Scan with manifest-level pruning (SURVEY §4): partition-bucket and
    * column min/max stats filter the file list before Spark plans the scan.
    */
  def scan(spark: SparkSession,
      partitionMin: Option[Long] = None, partitionMax: Option[Long] = None,
      colRanges: Map[String, (Long, Long)] = Map.empty): DataFrame = {
    val m = meta
    val pruned = filesOf(m).filter { f =>
      partitionMin.forall(lo =>
        f.partitionValue + m.specWidth(f.specId) > lo) &&
        partitionMax.forall(hi => f.partitionValue <= hi) &&
        colRanges.forall { case (c, (lo, hi)) =>
          f.stats.get(c).forall(s =>
            s.longMax.forall(_ >= lo) && s.longMin.forall(_ <= hi))
        }
    }
    readWithDeletes(spark, m.schema, pruned, m.currentSnapshotId)
  }
}

object LakeTable {
  import LakeFormat._

  /** One JVM-wide default Hadoop Configuration: constructing one parses
    * core-default.xml out of the jar every time (~40 ms of XML + classpath
    * scanning) — done per commit it was 95% of commit latency. The default
    * config is never mutated; FileSystem.get caches instances against it
    * as usual. Executor-side code referencing this re-initializes it once
    * per JVM (it is a static, not serialized state).
    */
  private[lake] lazy val hadoopConf = new Configuration()

  /** JVM-global count of lost-CAS commit retries: each round of the
    * one commit loop that lost the CAS race and re-derived against
    * refreshed metadata, whatever the operation.
    * Observability only — the contention bench reads the delta around a
    * run; nothing branches on it. */
  val commitRetries = new java.util.concurrent.atomic.AtomicLong()

  /** Consecutive uncontested wins after which a handle concludes the
    * contention window has passed and stops chain-break yielding. Large
    * enough that a storm participant rarely strings them mid-storm
    * (and re-latches on the next loss if it does), small enough that a
    * long-lived maintainer sheds a one-off startup race in minutes. */
  private[lake] val ChainCalmWins = 64

  /** The bounded-tail backoff ladder's jitter window [lo, hi] in ms for
    * a lost-CAS retry: ±50% jittered doubling through attempt 4 (16×
    * base), jittered base..4× base decay past it. Pure so CommitCasSpec
    * pins the shape — the ladder must GROW while desynchronizing the
    * pack and must NOT hold a long-loser at ladder-cap sleeps (the r12
    * 11.5 s contention p99).
    *
    * The decay window keeps a FLOOR of one base (r13 advice): a zero
    * draw burns a retry attempt with no desynchronization bought, which
    * matters exactly when rederive is cheap (in-memory CAS, local fs) —
    * there the 0-draws let a loser spin through its whole budget inside
    * one rival's commit window. The floor also gives the retry budget a
    * wall-time guarantee: past the ladder, every retry waits ≥ base, so
    * a budget of R covers at least (R−4)·base of pack drain even before
    * counting rederive round-trips (see LakeFormat.DefaultProperties). */
  private[graft] def backoffWindowMs(base: Long, attempt: Int): (Long, Long) =
    if (attempt <= 4) {
      val cap = base * (1L << attempt)
      (cap / 2, cap)
    } else (base, base * 4)

  /** 64-bit FNV-1a over the path's chars — the expire fold's primitive
    * kept-set key. Quality bar is only "2⁻⁶⁴-rare accidental equality";
    * the direction of a collision is leak-safe (see the fold's comment),
    * so no cryptographic strength is needed and the per-call cost is one
    * multiply-xor per char with zero allocation.
    */
  private[lake] def pathHash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Epoch watermark value: "epochId:commitTimestampMs". Bare-long values
    * (pre-GC metadata) parse with timestamp 0 — immediately GC-eligible,
    * which only affects queries already idle across the format change.
    */
  private[lake] def parseEpochValue(v: String): (Long, Long) =
    v.split(':') match {
      case Array(e, t) => (e.toLong, t.toLong)
      case _ => (v.toLong, 0L)
    }

  /** JVM-wide immutable-manifest cache (see readManifest) + a parse
    * counter for test observability.
    */
  private[graft] val manifestCache: java.util.Map[String, Seq[DataFileMeta]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[DataFileMeta]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[DataFileMeta]]): Boolean =
          size() > 128
      })
  private[lake] val manifestParses = new java.util.concurrent.atomic.AtomicLong

  /** Name prefix of the [[manifestReaders]] threads. */
  private[lake] final val ManifestReaderThread = "laketable-manifest-reader"

  /** JVM-wide pool that reads manifest cache misses, created on first use.
    * Eight daemon threads — the width of the reference's bookkeeper pool
    * and of LakeWriter's publish pool, not the core count: its tasks wait
    * on store requests. Idle threads block on the queue. Tasks only read
    * and parse; none submits a task, so callers waiting on them cannot
    * starve the pool.
    */
  private lazy val manifestReaders: java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, s"$ManifestReaderThread-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** `cache`'s values for `paths`, in order, with misses read by `read`
    * and cached. Hits are served on the caller's thread, as is a single
    * miss; two or more misses are read on [[manifestReaders]]. Every read
    * finishes before anything is rethrown; the first failure in path
    * order is rethrown as `read` threw it (a missing manifest stays a
    * FileNotFoundException).
    */
  private def cachedOrRead[V <: AnyRef](paths: Seq[Path],
      cache: java.util.Map[String, V])(read: Path => V): Seq[V] = {
    import scala.jdk.CollectionConverters._
    val hits = paths.map(p => cache.get(p.toString))
    val misses = paths.iterator.zip(hits.iterator)
      .collect { case (p, null) => p }.toSeq.distinct
    def load(p: Path): V = { val v = read(p); cache.put(p.toString, v); v }
    val loaded: Map[Path, V] =
      if (misses.size <= 1) misses.map(p => p -> load(p)).toMap
      else {
        // invokeAll returns once every read has finished
        val done = manifestReaders.invokeAll(misses.map(p =>
          (() => load(p)): java.util.concurrent.Callable[V]).asJava).asScala
        misses.zip(done).map { case (p, f) =>
          try p -> f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }.toMap
      }
    paths.iterator.zip(hits.iterator)
      .map { case (p, v) => if (v != null) v else loaded(p) }.toSeq
  }

  /** Max referenced data paths inlined per delete-file entry; beyond this
    * the manifest stores only the [min, max] range (conservative checks).
    */
  private[lake] val DeletePathListCap = 2000

  /** CoW-delete classification as a pure dataflow (SURVEY D6, the 10⁶-file
    * path): files-meta ⋈ matched-row counts ⋈ pending position-delete
    * counts → one row per file CONTAINING matched rows, with `whole` =
    * every live row matched (file dropped metadata-only) vs partial
    * (file rewritten). Inner join on the matched side keeps untouched
    * files out of the result entirely; nothing here is driver-sided, so
    * the caller decides how much to materialize.
    */
  private[lake] def classifyDeleteDecisions(filesMeta: DataFrame,
      matchedPerFile: DataFrame, delCounts: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val matched = filesMeta.join(matchedPerFile, "path")
    val withDels = delCounts.fold(matched.withColumn("dels", lit(0L)))(dc =>
      matched.join(dc, Seq("path"), "left")
        .withColumn("dels", coalesce(col("dels"), lit(0L))))
    withDels.select(col("path"),
      (col("matched") === col("row_count") - col("dels")).as("whole"))
  }

  /** Delete manifests are immutable too (UUID names) — same LRU shape. */
  private[lake] val deleteManifestCache: java.util.Map[String, Seq[DeleteFileMeta]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[DeleteFileMeta]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[DeleteFileMeta]]): Boolean =
          size() > 128
      })

  /** Parsed-metadata cache: a committed `vN.json` is immutable (committers
    * CAS-create, never rewrite), but unlike manifests its NAME is reused
    * when a table is dropped and re-created at the same path — so the key
    * carries the file's (mtime, length) identity from the listing readMeta
    * already performs, and [[drop]] purges the location's entries for the
    * in-JVM recreate case. Every DSv2 query loads the table 2-3× (schema
    * inference, the table handle, row-level ops); the metadata JSON grows
    * with snapshot history, so at real scale the per-query parse is the
    * dominant snapshot-invariant planning cost this removes.
    *
    * Known limit: an OUT-OF-PROCESS drop+recreate is detected only through
    * (mtime, length) — a same-length v0.json recreated within the store's
    * mtime granularity (1 s on some object stores; ns on local ext4) could
    * serve the old table's meta, surfacing as FileNotFound on its deleted
    * data paths at scan time. Cross-process table replacement should go
    * through a commit (RTAS/overwrite), which allocates a fresh version
    * and misses the cache by name.
    */
  private[graft] val metaParseCache: java.util.Map[String, TableMeta] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, TableMeta](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, TableMeta]): Boolean =
          size() > 64
      })
  private[lake] val metaParses = new java.util.concurrent.atomic.AtomicLong

  private def fsFor(location: String) =
    new Path(location).getFileSystem(LakeTable.hadoopConf)

  def create(location: String, schemaDdl: String, spec: TruncateSpec,
      properties: Map[String, String] = Map.empty): LakeTable = {
    val fs = fsFor(location)
    val metaDir = new Path(location, MetadataDir)
    if (fs.exists(new Path(metaDir, "v0.json")))
      throw new IllegalStateException(s"table exists at $location")
    // NIO fast path for the same chmod-fork reason as writeSmall
    if (fs.getScheme == "file") {
      Seq(MetadataDir, s"$MetadataDir/$ManifestsSubdir", DataDir,
        PendingCommitsDir, TmpCommitsDir).foreach(d =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(new Path(location, d).toUri.getPath)))
    } else {
      fs.mkdirs(new Path(metaDir, ManifestsSubdir))
      fs.mkdirs(new Path(location, DataDir))
      fs.mkdirs(new Path(location, PendingCommitsDir))
      fs.mkdirs(new Path(location, TmpCommitsDir))
    }
    val initial = TableMeta(1, location, schemaDdl, spec,
      DefaultProperties ++ properties,
      Seq(Snapshot(0L, -1L, System.currentTimeMillis(), "create", Nil)), 0L)
    val t = new LakeTable(location, initial)
    writeSmall(fs, new Path(metaDir, "v0.json"), Json.metaToJson(initial),
      overwrite = false)
    writeSmall(fs, new Path(metaDir, VersionHint), "0", overwrite = true)
    t
  }

  /** Small-file read with the same local-scheme NIO fast path as
    * [[writeSmall]] (Hadoop's local open stats the file and its checksum
    * sidecar first). NoSuchFileException is an IOException, so callers'
    * recovery paths see the same failure type.
    */
  private[lake] def readSmall(fs: FileSystem, p: Path): String =
    if (fs.getScheme == "file")
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toUri.getPath)), "UTF-8")
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }

  /** Small-file write with a local-scheme NIO fast path (Hadoop's local
    * create() forks a chmod per file when native IO is absent — ~10 ms for
    * a sub-KB metadata file; NIO is ~0.1 ms). Object stores keep the
    * Hadoop stream.
    */
  private[lake] def writeSmall(fs: FileSystem, p: Path, content: String,
      overwrite: Boolean): Unit =
    if (fs.getScheme == "file") {
      val nio = java.nio.file.Paths.get(p.toUri.getPath)
      if (overwrite) java.nio.file.Files.write(nio, content.getBytes("UTF-8"))
      else java.nio.file.Files.write(nio, content.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    } else {
      val out = fs.create(p, overwrite)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }

  private[lake] def readMeta(location: String): TableMeta = {
    val fs = fsFor(location)
    val metaDir = new Path(location, MetadataDir)
    val hint = new Path(metaDir, VersionHint)
    // The hint is rewritten (delete + create) by committers; a read racing
    // that window must fall back to listing, not fail.
    val fromHint =
      try readSmall(fs, hint).trim.toLongOption
      catch { case _: java.io.IOException => None }
    // The hint is advisory (written after the CAS): recover by listing.
    val statuses = fs.listStatus(metaDir).filter { s =>
      val n = s.getPath.getName
      n.startsWith("v") && n.endsWith(".json")
    }
    val maxListed = statuses
      .flatMap(_.getPath.getName.stripPrefix("v").stripSuffix(".json").toLongOption)
      .maxOption
      .getOrElse(throw new IllegalStateException(s"no table at $location"))
    val version = math.max(fromHint.getOrElse(-1L), maxListed)
    val vPath = new Path(metaDir, s"v$version.json")
    // Cache hit requires the listing to vouch for the file's identity; a
    // hint-ahead-of-listing version (eventually-consistent store) parses
    // uncached rather than trusting a stale entry.
    statuses.find(_.getPath.getName == s"v$version.json") match {
      case Some(st) =>
        val key = s"$vPath#${st.getModificationTime}#${st.getLen}"
        val cached = metaParseCache.get(key)
        if (cached != null) cached
        else {
          metaParses.incrementAndGet()
          val parsed = Json.metaFromJson(readSmall(fs, vPath))
          metaParseCache.put(key, parsed)
          parsed
        }
      case None =>
        metaParses.incrementAndGet()
        Json.metaFromJson(readSmall(fs, vPath))
    }
  }

  def load(location: String): LakeTable =
    new LakeTable(location, readMeta(location))

  def exists(location: String): Boolean =
    fsFor(location).exists(new Path(new Path(location, MetadataDir), "v0.json"))

  def drop(location: String): Unit = {
    val fs = fsFor(location)
    fs.delete(new Path(location), true)
    // purge parsed-metadata entries for this path: a re-created table reuses
    // the same vN.json names (see metaParseCache)
    val prefix = new Path(location, MetadataDir).toString
    metaParseCache.synchronized {
      metaParseCache.keySet().removeIf(_.startsWith(prefix))
    }
  }

  /** Read data files with each file's PHYSICAL column names translated to
    * the read-time names through the field ids — the same rename/drop
    * contract the DSv2 reader applies per slice, for the direct read
    * paths (incremental scan, changelog) that bypass the snapshot scan.
    * A plain by-name read silently null-fills a renamed column for every
    * pre-rename file. Files group by schema vintage: never-evolved
    * tables (empty registry) and current-vintage groups take the one
    * plain read; a field absent from a file's vintage (added later)
    * reads as null, exactly like a missing column.
    */
  private[lake] def readFilesMapped(spark: SparkSession, readDef: SchemaDef,
      outSchema: StructType, metas: Seq[DataFileMeta],
      schemas: Seq[SchemaDef]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (metas.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val parts = metas.groupBy(_.schemaId).toSeq.sortBy(_._1).map {
      case (sid, fs) =>
        val paths = fs.map(_.path)
        val fd = schemas.find(_.id == sid)
        if (schemas.isEmpty || sid == readDef.id || fd.isEmpty)
          spark.read.schema(outSchema).parquet(paths: _*)
        else {
          val mapping: Seq[(org.apache.spark.sql.types.StructField, Option[String])] =
            outSchema.fields.toSeq.map { sf =>
              val i = readDef.names.indexWhere(_.equalsIgnoreCase(sf.name))
              sf -> (if (i < 0) None else fd.get.nameOf(readDef.ids(i)))
            }
          val physFields = mapping.collect { case (sf, Some(p)) => sf.copy(name = p) }
          spark.read.schema(StructType(physFields)).parquet(paths: _*)
            .select(mapping.map {
              case (sf, Some(p)) => col(p).as(sf.name)
              case (sf, None) => lit(null).cast(sf.dataType).as(sf.name)
            }.toIndexedSeq: _*)
        }
    }
    parts.reduce(_ unionByName _)
  }
}
