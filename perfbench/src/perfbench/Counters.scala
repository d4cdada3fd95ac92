package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.jdk.CollectionConverters._

/** The `mocks3:` store with request counting. The harness's
  * core-site.xml binds the scheme to this subclass, so the program runs
  * unchanged while every request it makes is counted at the store
  * boundary. Child stats fetched inside a listing are part of that one
  * LIST, as the parent class prices them.
  */
class CountingStore extends graft.lake.MockObjectStoreFileSystem {
  private val inList = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    StoreCounters.reads.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    StoreCounters.writes.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    StoreCounters.writes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    StoreCounters.writes.incrementAndGet() // the copy leg
    super.rename(src, dst)
  }

  override def getFileStatus(f: Path): FileStatus = {
    if (!inList.get()) StoreCounters.reads.incrementAndGet()
    super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    StoreCounters.lists.incrementAndGet()
    val prev = inList.get()
    inList.set(true)
    val out = try super.listStatus(f) finally inList.set(prev)
    StoreCounters.noteListing(f, out)
    out
  }
}

/** The local file system with two watches. The program records data
  * files by scheme-less paths, so reading one, and dropping a scratch
  * table, goes through `file:`; the harness's core-site.xml binds that
  * scheme to this subclass. Unarmed, a watch costs one volatile read.
  */
class WatchedLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    LocalFiles.noteOpen(f)
    super.open(f, bufferSize)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    LocalFiles.noteDelete(f)
    super.delete(f, recursive)
  }
}

/** What [[WatchedLocalFs]] saw: the distinct files opened under one
  * directory, and the bytes of dropped directories whose names start with
  * a given prefix (measured just before the delete).
  */
object LocalFiles {
  @volatile private var openPrefix: String = null
  private val opened = ConcurrentHashMap.newKeySet[String]()
  @volatile private var dropPrefix: String = null
  private val dropped = new AtomicLong
  private val droppedBytes = new AtomicLong

  private def local(f: Path): String = f.toUri.getPath

  private[perfbench] def noteOpen(f: Path): Unit = {
    val w = openPrefix
    if (w != null) { val p = local(f); if (p.startsWith(w)) opened.add(p) }
  }

  private[perfbench] def noteDelete(f: Path): Unit = {
    val w = dropPrefix
    if (w != null && f.getName.startsWith(w)) {
      val dir = java.nio.file.Paths.get(local(f))
      if (java.nio.file.Files.isDirectory(dir)) {
        droppedBytes.addAndGet(Pipeline.treeBytes(dir))
        dropped.incrementAndGet()
      }
    }
  }

  /** Count the distinct files opened under `dir` until [[openedFiles]]. */
  def watchOpens(dir: String): Unit = { opened.clear(); openPrefix = dir + "/" }
  def openedFiles(): Int = { openPrefix = null; val n = opened.size; opened.clear(); n }

  /** Measure dropped directories named `namePrefix*` until
    * [[droppedSizes]], which returns (directories, bytes). */
  def watchDrops(namePrefix: String): Unit = {
    dropped.set(0); droppedBytes.set(0); dropPrefix = namePrefix
  }
  def droppedSizes(): (Long, Long) = { dropPrefix = null; (dropped.get(), droppedBytes.get()) }
}

/** JVM-wide request counts of [[CountingStore]]. Commit metadata goes
  * through the registered conditional put, which writes past the
  * FileSystem; its attempts are added from `ConditionalPutCas.attempts`.
  */
object StoreCounters {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong

  /** The moniker names the calling thread's last pending-dir listing
    * returned: a sweep commits exactly the monikers its listing saw.
    */
  private val lastPending = new ThreadLocal[Seq[String]]
  private[perfbench] def noteListing(dir: Path, out: Array[FileStatus]): Unit =
    if (dir.toUri.getPath.endsWith("/" + graft.lake.LakeFormat.PendingCommitsDir))
      lastPending.set(out.toSeq.map(_.getPath.getName))
  def takePendingListing(): Seq[String] = {
    val v = Option(lastPending.get).getOrElse(Nil)
    lastPending.remove()
    v
  }

  final case class Snap(reads: Long, writes: Long, lists: Long,
      bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(reads - o.reads, writes - o.writes,
      lists - o.lists, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
    def ops: Long = reads + writes + lists
  }

  def snap(): Snap = {
    val fsStats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "mocks3")
    Snap(reads.get(),
      writes.get() + graft.lake.ConditionalPutCas.attempts.get(),
      lists.get(), fsStats.map(_.getBytesRead).sum,
      fsStats.map(_.getBytesWritten).sum)
  }
}

/** The JVM's own work: CPU time of the whole process (every thread, the
  * garbage collector and the JIT compiler included) and time spent
  * compiling to machine code.
  */
object Jvm {
  final case class Snap(cpuNs: Long, compileMs: Long) {
    def -(o: Snap): Snap = Snap(cpuNs - o.cpuNs, compileMs - o.compileMs)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def snap(): Snap = Snap(os.getProcessCpuTime,
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  /** The JIT flags the JVM was started with. */
  def jitFlags: String = java.lang.management.ManagementFactory.getRuntimeMXBean
    .getInputArguments.asScala.filter(_.startsWith("-XX:Tiered")).mkString(" ")
}

/** Executor-side counters from a SparkListener. Listener events post
  * asynchronously, so `drain` waits until the task count is stable
  * across a 20 ms window before a reading is taken.
  */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val spill = new AtomicLong
  val inputBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    tasks.incrementAndGet()
  }

  def drain(): Unit = {
    var prev = -1L
    var i = 0
    while (i < 50 && tasks.get() != prev) {
      prev = tasks.get()
      Thread.sleep(20)
      i += 1
    }
  }

  def reading(): Map[String, Double] = {
    drain()
    Map(
      "spark.jobs" -> jobs.get().toDouble,
      "spark.stages" -> stages.get().toDouble,
      "spark.tasks" -> tasks.get().toDouble,
      "spark.executor_run_ms" -> runMs.get().toDouble,
      "spark.executor_cpu_ms" -> cpuNs.get() / 1e6,
      "spark.gc_ms" -> gcMs.get().toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.get().toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.get().toDouble,
      "spark.fetch_wait_ms" -> fetchWaitMs.get().toDouble,
      "spark.spill_bytes" -> spill.get().toDouble,
      "scan.input_bytes" -> inputBytes.get().toDouble)
  }
}

/** Micro-batch progress of the laketable stream, from a
  * StreamingQueryListener: per data-carrying batch, the trigger's phase
  * durations and how many snapshots it took in (more than one means
  * commits piled up while the previous batch ran).
  */
final class StreamCounters extends StreamingQueryListener {
  private val lock = new Object
  private val batches = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val lag = p.sources.headOption.flatMap { s =>
        for {
          start <- Option(s.startOffset).flatMap(_.trim.toLongOption)
          end <- Option(s.endOffset).flatMap(_.trim.toLongOption)
        } yield (end - start).toDouble
      }.getOrElse(0.0)
      lock.synchronized {
        batches += d + ("rows" -> p.numInputRows.toDouble) + ("lag" -> lag)
      }
    }
  }

  def reading(): Map[String, Double] = {
    val bs = lock.synchronized(batches.toList)
    def med(k: String) = if (bs.isEmpty) 0.0 else Stats.p50(bs.map(_.getOrElse(k, 0.0)))
    Map(
      "stream.batches" -> bs.size.toDouble,
      "stream.rows_per_batch" -> med("rows"),
      "stream.latest_offset_ms" -> med("latestOffset"),
      "stream.plan_ms" -> med("queryPlanning"),
      "stream.add_batch_ms" -> med("addBatch"),
      "stream.lag_snapshots_max" ->
        bs.map(_.getOrElse("lag", 0.0)).maxOption.getOrElse(0.0))
  }
}
