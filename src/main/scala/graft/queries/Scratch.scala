package graft.queries

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import graft.{Trace, TraceRecord}
import graft.lake.{LakeTable, TruncateSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch resources of the query entries, with one owner each.
  *
  * [[scoped]] is the lifecycle every entry's scratch tables, checkpoint
  * and replay directories, temp views and overlapped builds share: the
  * scope hands them out, and on exit it first awaits every branch it
  * started, then drops what it created. A branch can therefore never
  * commit into a table after the table is dropped.
  *
  * [[persist]] writes an iterative/multi-consumer intermediate to a
  * parquet under `<warehouse>/_graft_scratch` and returns a scan over it.
  * Compared to `persist()` this cuts lineage completely (no Catalyst tree
  * growth across iterations), pins no executor storage blocks past the
  * write, and the result stays a distributed frame — the pattern the
  * label-handoff of connectedComponents and SemDeDup's assignment reuse
  * both need. Its result outlives the caller, so no scope owns it: every
  * persist sweeps sibling dirs older than `spark.graft.scratch.ttlSeconds`
  * (default 3600) — consumers read their frame promptly in every
  * driver/bench/stream shape, and a slow consumer can raise the TTL. The
  * sweep is OWNERSHIP-AWARE: dir names carry a per-JVM token, and dirs
  * written by OTHER processes (a concurrent app sharing the warehouse, or
  * a crashed session whose deleteOnExit never fired) are only reclaimed
  * at 24× the TTL — this JVM cannot know when a foreign frame was last
  * referenced, so it errs long while still bounding crash debris.
  * `deleteOnExit` remains the JVM-exit backstop (best-effort on object
  * stores, where the TTL sweep is the mechanism that actually runs).
  */
private[graft] object Scratch {
  val TtlKey = "spark.graft.scratch.ttlSeconds"
  private val jvmToken =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  def persist(df: DataFrame, prefix: String): DataFrame = {
    val session = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(
      session.sessionState.conf.warehousePath, "_graft_scratch")
    val fs = root.getFileSystem(session.sparkContext.hadoopConfiguration)
    val ttlMs = 1000L * session.conf.getOption(TtlKey)
      .flatMap(_.toLongOption).getOrElse(3600L)
    val now = System.currentTimeMillis()
    try if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val mine = st.getPath.getName.contains(s"_${jvmToken}_")
        val ttl = if (mine) ttlMs else ttlMs * 24
        if (st.isDirectory && st.getModificationTime < now - ttl)
          fs.delete(st.getPath, true)
      }
    catch {
      // the sweep is advisory: stale dirs stay until a later sweep
      case e: java.io.IOException =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"scratch sweep of $root failed", e)
    }
    val dir = new org.apache.hadoop.fs.Path(root,
      s"${prefix}_${jvmToken}_${java.util.UUID.randomUUID().toString}")
    df.write.mode("overwrite").parquet(dir.toString)
    fs.deleteOnExit(dir)
    // explicit schema: an EMPTY frame (AQE can plan zero partitions)
    // writes no part files, and a bare read would fail schema inference
    session.read.schema(df.schema).parquet(dir.toString)
  }

  /** A fresh local path `${java.io.tmpdir}/graft-$prefix-<uuid>`. */
  def location(prefix: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$prefix-${UUID.randomUUID()}"

  /** Threads that run [[Scope.overlap]] branches: a fixed, small daemon
    * pool. A branch is one independent build beside its caller's work,
    * so a few threads cover every entry; a branch never waits on another
    * branch, so waiting callers cannot starve the pool. */
  private val BranchThreads = 4
  private lazy val branchPool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newFixedThreadPool(BranchThreads, (r: Runnable) => {
      val t = new Thread(r, s"graft-overlap-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** One overlapped branch of a [[Scope]]. */
  final class Branch[A] private[Scratch] (private[Scratch] val tag: String,
      future: java.util.concurrent.Future[(A, TraceRecord)]) {
    @volatile private[Scratch] var joined = false

    private[Scratch] def outcome(): Either[Throwable, (A, TraceRecord)] =
      try Right(future.get())
      catch { case e: ExecutionException => Left(e.getCause) }

    /** Wait for the branch and return its value, or rethrow its failure.
      * What the branch recorded joins the caller's trace here. */
    def join(): A = {
      val (a, rec) = outcome().fold(e => { joined = true; throw e }, identity)
      if (!joined && rec != null) Trace.append(rec)
      joined = true
      a
    }
  }

  /** What one [[scoped]] call owns; see [[scoped]]. */
  final class Scope private[Scratch] (session: SparkSession) {
    private val tables = ArrayBuffer.empty[String]
    private val dirs = ArrayBuffer.empty[String]
    private val views = ArrayBuffer.empty[String]
    private val branches = ArrayBuffer.empty[Branch[_]]

    /** A LakeTable created at a fresh [[location]]; dropped at exit
      * through `LakeTable.drop`. */
    def table(prefix: String, ddl: String, spec: TruncateSpec): LakeTable = {
      val loc = location(prefix)
      synchronized(tables += loc)
      LakeTable.create(loc, ddl, spec)
    }

    /** A fresh directory path (checkpoint, replay input); deleted at exit. */
    def dir(prefix: String): String = {
      val d = location(prefix)
      synchronized(dirs += d)
      d
    }

    /** A fresh temp-view name (a memory sink's query name); the view is
      * dropped at exit. */
    def view(prefix: String): String = {
      val v = prefix + UUID.randomUUID().toString.replace("-", "")
      synchronized(views += v)
      v
    }

    /** Run `body` on the branch pool beside the caller, under its own
      * Spark job tag and, when the caller is tracing, its own trace
      * capture. A failing branch cancels its siblings' jobs. */
    def overlap[A](body: => A): Branch[A] = {
      val tag = s"graft-overlap-${UUID.randomUUID()}"
      val traced = Trace.active
      val sc = session.sparkContext
      val b = new Branch[A](tag, branchPool.submit(new Callable[(A, TraceRecord)] {
        def call(): (A, TraceRecord) = {
          SparkSession.setActiveSession(session)
          // a pooled thread inherits the tags of the thread that made it
          sc.clearJobTags()
          sc.addJobTag(tag)
          try if (traced) Trace.capture(body) else (body, null)
          catch { case e: Throwable => cancelBranches(); throw e }
          finally sc.clearJobTags()
        }
      }))
      synchronized(branches += b)
      b
    }

    private def cancelBranches(): Unit =
      synchronized(branches.toList).foreach(b =>
        session.sparkContext.cancelJobsWithTag(b.tag))

    /** Await every branch, then drop and delete; returns the first error
      * (a branch failure nobody joined, or a cleanup error), later ones
      * suppressed into it. */
    private[Scratch] def close(failed: Boolean): Throwable = {
      var err: Throwable = null
      def note(e: Throwable): Unit =
        if (err == null) err = e else if (e ne err) err.addSuppressed(e)
      def attempt(step: => Unit): Unit =
        try step catch { case e: Exception => note(e) }
      if (failed) cancelBranches()
      synchronized(branches.toList).foreach(b =>
        b.outcome().left.foreach(e => if (!b.joined) note(e)))
      tables.foreach(loc => attempt(LakeTable.drop(loc)))
      dirs.foreach(d => attempt(
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d))))
      views.foreach(v => attempt(session.catalog.dropTempView(v)))
      err
    }
  }

  /** Run `body` with a fresh [[Scope]]. On exit, whether `body` returned
    * or threw, the scope cancels the jobs of its branches if anything
    * failed, awaits every branch, and only then drops its tables and
    * deletes its directories and views. A cleanup error after a failed
    * body is suppressed into the body's error, never replaces it. */
  def scoped[A](s: SparkSession)(body: Scope => A): A = {
    val scope = new Scope(s)
    var failure: Throwable = null
    try body(scope)
    catch { case e: Throwable => failure = e; throw e }
    finally {
      val err = scope.close(failed = failure != null)
      if (err != null && (err ne failure)) {
        if (failure == null) throw err
        failure.addSuppressed(err)
      }
    }
  }
}
