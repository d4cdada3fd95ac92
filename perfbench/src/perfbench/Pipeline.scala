package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import graft.lake.{FileBookkeeper, LakeTable, LakeWriter, Monikers}
import org.apache.hadoop.fs.Path

import scala.jdk.CollectionConverters._

/** The reference's ingest path, driven through its public calls: writers
  * run `LakeWriter.writeDataFiles` + `Monikers.publish`, one committer
  * runs `FileBookkeeper.sweep` and whatever maintenance the workload
  * schedules after its commits.
  *
  * A batch is visible when the sweep whose listing saw its moniker
  * returns; the counting store reports that listing, so no extra request
  * is made to learn it.
  */
final class Pipeline(val location: String, val gen: Gen.EventBatches) {
  /** Set to the measuring run's tracer before the measured window. */
  @volatile var tracer: Tracer = new Tracer(false)

  /** The single committer's handle. */
  val table: LakeTable = LakeTable.load(location)
  /** The writers' handle: they only read its schema and spec. */
  private val writerTable = LakeTable.load(location)
  val bookkeeper = new FileBookkeeper(table)

  val dueNs = new ConcurrentHashMap[Long, Long]()
  val visibleNs = new ConcurrentHashMap[Long, Long]()
  private val monikerBatch = new ConcurrentHashMap[String, Long]()
  private val unresolved = new ConcurrentHashMap[String, Long]()
  val attempted = new AtomicLong
  val published = new AtomicLong
  val maxPublished = new AtomicLong(-1L)
  val filesWritten = new AtomicLong
  val bytesWritten = new AtomicLong
  val recommitted = new AtomicLong
  val errors = new ConcurrentLinkedQueue[String]()

  // committer-thread state
  var commits = 0
  var sweeps = 0
  var emptySweeps = 0
  var pendingMax = 0L
  private var filesBefore = 0L

  /** Write batch `b` and publish its moniker; `due` is when it was due. */
  def writeAndPublish(b: Long, due: Long): Unit = {
    attempted.incrementAndGet()
    val df = gen.batch(b)
    dueNs.put(b, due)
    try {
      val metas = tracer.span("writer") { LakeWriter.writeDataFiles(df, writerTable) }
      filesWritten.addAndGet(metas.size)
      bytesWritten.addAndGet(metas.map(_.sizeBytes).sum)
      val dest = tracer.span("monikers") { Monikers.publish(location, metas) }
      val name = new Path(dest).getName
      monikerBatch.put(name, b)
      Option(unresolved.remove(name)).foreach(t => markVisible(b, t))
      published.incrementAndGet()
      maxPublished.accumulateAndGet(b, (x, y) => math.max(x, y))
    } catch {
      case e: Exception => errors.add(s"batch $b: $e")
    }
  }

  private def markVisible(b: Long, t: Long): Unit =
    if (visibleNs.putIfAbsent(b, t) != null) recommitted.incrementAndGet()

  private def attribute(name: String, t: Long): Unit =
    Option(monikerBatch.get(name)) match {
      case Some(b) => markVisible(b, t)
      case None =>
        // the writer has renamed the moniker but not yet recorded it
        unresolved.put(name, t)
        Option(monikerBatch.get(name)).foreach { b =>
          if (unresolved.remove(name) != null) markVisible(b, t)
        }
    }

  /** One committer sweep; true when it committed. */
  def sweepOnce(): Boolean = {
    pendingMax = math.max(pendingMax, published.get() - visibleNs.size)
    sweeps += 1
    val snap =
      try tracer.span("bookkeeper") { bookkeeper.sweep() }
      catch {
        case e: Exception => errors.add(s"sweep: $e"); StoreCounters.takePendingListing(); -1L
      }
    val t = System.nanoTime()
    val names = StoreCounters.takePendingListing()
    if (snap < 0) { emptySweeps += 1; false }
    else {
      commits += 1
      names.foreach(attribute(_, t))
      true
    }
  }

  /** Committer loop: sweep, run `maintenance(commits)` after each commit,
    * poll briefly when nothing is pending; ends once `writersDone` and
    * every published batch is visible, or at `giveUpNs`.
    */
  def commitLoop(writersDone: () => Boolean, giveUpNs: Long,
      maintenance: Int => Unit): Unit = {
    filesBefore = bookkeeper.totalFiles
    while (!(writersDone() && visibleNs.size >= published.get()) &&
        System.nanoTime() < giveUpNs) {
      if (sweepOnce()) {
        try maintenance(commits)
        catch { case e: Exception => errors.add(s"maintenance: $e") }
      } else Thread.sleep(Pipeline.PollMs)
    }
  }

  def filesPerCommit: Double =
    Stats.ratio((bookkeeper.totalFiles - filesBefore).toDouble, commits)

  /** Due-to-visible latency of every visible batch, in ms. */
  def visibleMs: Seq[Double] = visibleNs.asScala.toSeq.map { case (b, t) =>
    (t - dueNs.get(b)) / 1e6 }

  def visibleBy(deadlineNs: Long): Long = visibleNs.values.asScala.count(_ <= deadlineNs).toLong

  def manifests(): Int = {
    table.refresh()
    table.snapshots.find(_.id == table.currentSnapshotId).map(_.manifests.size).getOrElse(0)
  }

  /** Rows per batch id in the table's current snapshot. */
  def batchCounts(): Map[Long, Long] = {
    import org.apache.spark.sql.functions._
    org.apache.spark.sql.SparkSession.active.read.format("laketable").load(location)
      .groupBy((col("message_id") / gen.rows).cast("long").as("b"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }
}

object Pipeline {
  val PollMs = 2L

  def localPath(location: String): java.nio.file.Path =
    java.nio.file.Paths.get(location.stripPrefix("mocks3:"))

  /** Bytes under a table's location (read from the backing disk, so the
    * reading is not counted as store traffic).
    */
  def storedBytes(location: String): Long = treeBytes(localPath(location))

  def treeBytes(root: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum
    finally s.close()
  }

  /** Size of the table's newest metadata version file. */
  def metaJsonBytes(location: String): Long = {
    val dir = localPath(location).resolve(graft.lake.LakeFormat.MetadataDir)
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.matches("v\\d+\\.json"))
      .maxByOption(p => p.getFileName.toString.drop(1).dropRight(5).toLong)
      .map(java.nio.file.Files.size(_)).getOrElse(0L)
    finally s.close()
  }

  def drop(location: String): Unit = {
    val root = localPath(location)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
  }

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }
}
