package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.lake.{LakeTable, LakeWriter, Reaper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.jdk.CollectionConverters._

/** `ingest`: the reference's writers → moniker → single committer →
  * reaper pipeline at capacity, with a stream consumer beside it. Closed
  * loop: two writers write batches back to back; one committer sweeps
  * continuously, expires snapshots (retain 20) every [[Ingest.ExpireEvery]]
  * commits, and every [[Ingest.MaintainEvery]] commits runs the retention
  * delete (keeping the newest [[Ingest.KeepBuckets]] buckets) and compacts
  * the last closed bucket. A `readStream` consumer reads every commit.
  */
final class Ingest extends Workload {
  import Ingest._

  final class State(val pipeline: Pipeline, var stream: StreamingQuery) {
    /** Rows the consumer saw per batch id, and when it first saw each. */
    val seenRows = new ConcurrentHashMap[Long, Long]()
    val seenNs = new ConcurrentHashMap[Long, Long]()
    val deliveries = new AtomicLong
  }

  def warmUpSeconds: Int = 6

  def setup(env: Env): State = {
    val gen = new Gen.EventBatches(env.spark, env.seed, Templates, Rows,
      DataChars, BodyBytes, BatchesPerBucket)
    val loc = env.location("ingest")
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val s = new State(new Pipeline(loc, gen), null)
    s.stream = consume(env, s)
    s
  }

  /** The stream consumer: a `readStream` of the table from its current
    * snapshot, counting each micro-batch's rows per batch id.
    */
  private def consume(env: Env, s: State): StreamingQuery = {
    val p = s.pipeline
    val rows = p.gen.rows
    val fn: (DataFrame, Long) => Unit = (df, _) => p.tracer.span("stream.consumer") {
      val counts = df.groupBy((col("message_id") / rows).cast("long")).count().collect()
      val t = System.nanoTime()
      counts.foreach { r =>
        s.seenRows.merge(r.getLong(0), r.getLong(1), (a, b) => a + b)
        s.seenNs.putIfAbsent(r.getLong(0), t)
      }
      s.deliveries.addAndGet(counts.length)
    }
    env.spark.readStream.format("laketable")
      .option("startSnapshotId", p.table.currentSnapshotId.toString)
      .load(p.location)
      .writeStream
      .option("checkpointLocation", env.localDir("checkpoint"))
      .foreachBatch(fn)
      .start()
  }

  def discard(env: Env, s: State): Unit = {
    s.stream.stop()
    Pipeline.drop(s.pipeline.location)
  }

  def measure(env: Env, s: State): Outcome = {
    val p = s.pipeline
    p.tracer = env.tracer
    val tr = env.tracer
    val gen = p.gen
    val reaper = new Reaper(p.table, 0L, RetainSnapshots)
    val manifestsStart = p.manifests()
    var manifestsMax = manifestsStart
    var cutoff = Long.MinValue
    def retention(): Unit = {
      val maxB = p.maxPublished.get()
      val c = gen.bucketOf(maxB) - KeepBuckets * Gen.WidthMicros
      if (maxB >= 0 && c > Gen.BaseMicros) {
        tr.span("retention") {
          p.bookkeeper.retentionDelete(System.currentTimeMillis() - c / 1000L)
        }
        cutoff = c
      }
    }
    var compactIn, compactOut, compactBytes = 0L
    def compact(): Unit = {
      val closed = gen.bucketOf(p.maxPublished.get()) - Gen.WidthMicros
      if (closed >= Gen.BaseMicros) {
        val before = if (tr.enabled) p.table.files().filter(_.partitionValue == closed) else Nil
        val snap = tr.span("compact") {
          p.table.compactFiles(env.spark, partitionMin = Some(closed), partitionMax = Some(closed))
        }
        if (tr.enabled && snap >= 0) {
          compactIn += before.size
          compactBytes += before.map(_.sizeBytes).sum
          compactOut += p.table.files().count(_.partitionValue == closed)
        }
      }
    }
    def maintenance(commits: Int): Unit = {
      manifestsMax = math.max(manifestsMax, p.table.snapshots
        .find(_.id == p.table.currentSnapshotId).map(_.manifests.size).getOrElse(0))
      if (commits % ExpireEvery == 0) tr.span("expire") { reaper.expireOnce() }
      if (commits % MaintainEvery == 0) { retention(); compact() }
    }

    val next = new AtomicLong
    val t0 = System.nanoTime()
    val deadline = t0 + env.seconds * 1000000000L
    val writers = (0 until Writers).map { i =>
      Pipeline.thread(s"writer-$i") {
        while (System.nanoTime() < deadline)
          p.writeAndPublish(next.getAndIncrement(), System.nanoTime())
      }
    }
    val committer = Pipeline.thread("committer") {
      p.commitLoop(() => writers.forall(!_.isAlive), deadline + DrainNs, maintenance)
    }
    writers.foreach(_.join())
    committer.join()

    // the stream must catch up with every visible batch
    val visible = p.visibleNs.keySet().asScala.toSet
    val catchUp = System.nanoTime() + DrainNs
    while (!visible.forall(s.seenRows.containsKey) && System.nanoTime() < catchUp)
      Thread.sleep(10)
    s.stream.stop()

    // final retention, then a full expiry (only the current snapshot
    // stays), then the checks
    retention()
    tr.span("expire") { new Reaper(p.table, 0L, 1).expireOnce() }
    val manifestsEnd = p.manifests()
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    problems ++= p.errors.asScala
    val notVisible = p.dueNs.keySet().asScala.filterNot(visible.contains)
    if (notVisible.nonEmpty)
      problems += s"${notVisible.size} batches not visible by run end"
    if (p.recommitted.get() > 0)
      problems += s"${p.recommitted.get()} monikers committed twice"
    val streamWrong = s.seenRows.asScala.filter { case (b, n) => !visible.contains(b) || n != gen.rows }
    val streamMissing = visible.filterNot(s.seenRows.containsKey)
    if (streamWrong.nonEmpty || streamMissing.nonEmpty)
      problems += s"stream saw ${streamWrong.size} unexpected or repeated batches, " +
        s"missed ${streamMissing.size} of ${visible.size}"
    val live = visible.filter(b => gen.bucketOf(b) >= cutoff)
    val counts = p.batchCounts()
    val wrong = counts.filter { case (b, n) => !live.contains(b) || n != gen.rows }
    val missing = live.filterNot(counts.contains)
    if (wrong.nonEmpty || missing.nonEmpty)
      problems += s"table holds ${wrong.size} unexpected or partial batches, " +
        s"misses ${missing.size} of ${live.size} live batches"

    val lat = p.visibleMs
    val freshMs = s.seenNs.asScala.toSeq.collect {
      case (b, t) if p.dueNs.containsKey(b) => (t - p.dueNs.get(b)) / 1e6 }
    val inWindow = p.visibleBy(deadline)
    val rowsPerS = inWindow.toDouble * gen.rows / env.seconds
    val stored = Stats.ratio(Pipeline.storedBytes(p.location).toDouble,
      gen.inputBytes(live.size).toDouble)
    def tailOf(name: String, xs: Seq[Double]) = {
      val t = Stats.tail(xs)
      (s"$name(p${t.map(_._1).getOrElse(0.0)},n=${xs.size})", t.map(_._2).getOrElse(Double.NaN), "ms")
    }
    val failed = notVisible.size.toLong + p.errors.size + streamMissing.size +
      streamWrong.size + (if (wrong.nonEmpty || missing.nonEmpty) 1 else 0)
    Outcome(
      attempted = p.attempted.get(),
      failed = failed,
      problems = problems.toSeq,
      e2e = Map(
        "op_ms_p50" -> Stats.p50(lat),
        "ops_per_s" -> inWindow.toDouble / env.seconds,
        "stored_bytes_per_input_byte" -> stored),
      named = Seq(
        ("ingest_rows_per_s", rowsPerS, "rows/s"),
        ("ingest_visible_ms_p50", Stats.p50(lat), "ms"),
        tailOf("ingest_visible_ms_tail", lat),
        ("fresh_ms_p50", Stats.p50(freshMs), "ms"),
        tailOf("fresh_ms_tail", freshMs),
        ("stored_bytes_per_input_byte", stored, "ratio")),
      layers = Map(
        "writer.files" -> p.filesWritten.get().toDouble,
        "writer.bytes" -> p.bytesWritten.get().toDouble,
        "monikers.pending_max" -> p.pendingMax.toDouble,
        "bookkeeper.files_per_commit" -> p.filesPerCommit,
        "bookkeeper.empty_sweep_ratio" -> Stats.ratio(p.emptySweeps, p.sweeps),
        "compact.files_in" -> compactIn.toDouble,
        "compact.files_out" -> compactOut.toDouble,
        "compact.bytes_rewritten" -> compactBytes.toDouble,
        "commit.meta_json_bytes" -> Pipeline.metaJsonBytes(p.location).toDouble,
        "commit.manifests_start" -> manifestsStart.toDouble,
        "commit.manifests_end" -> manifestsEnd.toDouble,
        "commit.manifests_current" -> manifestsMax.toDouble),
      conditions = Map(
        "writers" -> Writers.toString, "rows_per_batch" -> Rows.toString,
        "batch_bytes" -> gen.inputBytes(1).toString,
        "batches_published" -> p.published.get().toString,
        "stream_deliveries" -> s.deliveries.get().toString,
        "manifests_start" -> manifestsStart.toString,
        "manifests_max" -> manifestsMax.toString,
        "manifests_end" -> manifestsEnd.toString),
      commits = p.commits)
  }
}

object Ingest {
  val Writers = 2
  val Rows = 2000
  val DataChars = 32
  val BodyBytes = 1800
  val Templates = 16
  val BatchesPerBucket = 4
  val KeepBuckets = 3
  val RetainSnapshots = 20
  val ExpireEvery = 5
  val MaintainEvery = 10
  val DrainNs = 30000000000L
}
