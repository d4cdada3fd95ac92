package graft.lake

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, Path}

import scala.collection.parallel.CollectionConverters._

/** Two-phase commit-intent monikers (A11–A14).
  *
  * The reference hands off from N writer processes to the single committer
  * by Java-serializing List<DataFile> to `<uuid>.ser` and atomically
  * renaming to `tc_<uuid>.ser` (Writer.java:160-170); the bookkeeper lists
  * `tc_*.ser` (FileBasedBookkeeper.java:34,82-108). We keep the atomic-
  * rename handoff but use JSON — portable and debuggable.
  *
  * Ref bugs fixed here (A12/A14): listing never returns null, and the
  * consumer deletes monikers only AFTER the table commit succeeds; replayed
  * monikers are harmless because append() path-dedupes.
  */
object Monikers {
  // shared default (a fresh Configuration re-parses core-default.xml — see
  // LakeTable.hadoopConf)
  private def conf = LakeTable.hadoopConf

  private def pendingDir(tableLocation: String) =
    new Path(tableLocation, LakeFormat.PendingCommitsDir)
  private def tmpDir(tableLocation: String) =
    new Path(tableLocation, LakeFormat.TmpCommitsDir)

  /** Writer side (A11): write JSON to tmp/, atomic-rename into pending/. */
  def publish(tableLocation: String, files: Seq[DataFileMeta]): String = {
    val fs = pendingDir(tableLocation).getFileSystem(conf)
    fs.mkdirs(tmpDir(tableLocation))
    fs.mkdirs(pendingDir(tableLocation))
    val id = UUID.randomUUID().toString
    val tmp = new Path(tmpDir(tableLocation), s"$id.json")
    // local-scheme NIO fast path (LakeTable.writeSmall): Hadoop's local
    // create() forks a chmod per file — a publish-heavy writer pays ~10 ms
    // per moniker for a sub-KB JSON otherwise
    LakeTable.writeSmall(fs, tmp, Json.manifestToJson(files), overwrite = false)
    val dest = new Path(pendingDir(tableLocation), s"tc_$id.json")
    if (fs.getScheme == "file") {
      // dest names are UUID-unique; ATOMIC_MOVE keeps the publish
      // all-or-nothing without Hadoop's overwrite-on-rename semantics
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"moniker publish failed: $dest")
    dest.toString
  }

  /** Committer side (A12): list pending monikers; bounded retry, never null. */
  def listPending(tableLocation: String, maxRetries: Int = 200): Seq[FileStatus] = {
    val dir = pendingDir(tableLocation)
    val fs = dir.getFileSystem(conf)
    var attempt = 0
    while (true) {
      try {
        if (!fs.exists(dir)) fs.mkdirs(dir)
        return fs.listStatus(dir)
          .filter(f => f.getPath.getName.matches("tc_.*\\.json")).toSeq
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= maxRetries)
            throw new IllegalStateException(s"moniker listing failed $attempt times", e)
      }
    }
    Nil // unreachable
  }

  /** Committer side (A13): read + parse monikers in parallel. */
  def read(monikers: Seq[FileStatus]): Seq[DataFileMeta] = {
    val fs = monikers.headOption.map(_.getPath.getFileSystem(conf))
    fs.fold(Seq.empty[DataFileMeta]) { f =>
      monikers.par.flatMap(m =>
        Json.manifestFromJson(LakeTable.readSmall(f, m.getPath))).seq.toSeq
    }
  }

  /** Committer side (A14, ordering fixed): delete consumed monikers — call
    * strictly after the commit succeeds.
    */
  def delete(monikers: Seq[FileStatus]): Unit =
    monikers.par.foreach { m =>
      m.getPath.getFileSystem(conf).delete(m.getPath, false)
    }
}
