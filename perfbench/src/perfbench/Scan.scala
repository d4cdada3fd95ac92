package perfbench

import graft.lake.{LakeTable, LakeWriter}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `scan`: the read path on a deep-history table. The table is committed
  * in [[Scan.Slices]] appends, one 5-minute bucket each, so its current
  * snapshot holds that many manifests: more than the program's 128-entry
  * manifest cache, fewer than its 200-manifest merge threshold. About 1%
  * of the rows carry pending merge-on-read deletes.
  *
  * Closed loop, one client, read-only. A round is the five query kinds;
  * every result is checked against the value the generator implies.
  */
final class Scan extends Workload {
  import Scan._

  final case class State(location: String, table: LakeTable,
      sliceSnaps: IndexedSeq[Long], filesTotal: Int) {
    def slices: Int = sliceSnaps.size
    /** The as-of query reads the snapshot after this slice's append. */
    def asOfSlice: Int = slices / 2 - 1
    /** The incremental query reads slices (incrFrom, incrFrom + IncrSlices]. */
    def incrFrom: Int = slices - 20
  }

  /** One round on a small table: it compiles the writer, commit, delete
    * and query paths without a full set-up's cost. */
  def warmUpSeconds: Int = 1
  override def warmUpSetup(env: Env): State = build(env, WarmUpSlices)

  def setup(env: Env): State = build(env, Slices)

  private def build(env: Env, slices: Int): State = {
    val spark = env.spark
    val loc = env.location("scan")
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val metas = LakeWriter.writeDataFiles(
      Gen.sliceRows(spark, env.seed, slices, Rows, DataChars, BodyBytes), t)
    val bySlice = metas.groupBy(_.partitionValue).toSeq.sortBy(_._1).map(_._2)
    require(bySlice.size == slices, s"expected $slices buckets, wrote ${bySlice.size}")
    // 1% of all rows: every tenth id of the first tenth of the slices,
    // deleted merge-on-read as soon as those slices are committed, so the
    // delete plans over 15 manifests instead of all; the deletes stay
    // pending under every later append
    val (early, late) = bySlice.splitAt(DeleteSlices)
    val snaps = early.map(fs => t.append(fs))
    t.deleteWhereMoR(spark,
      col("message_id") < DeletedIds && col("message_id") % DeleteEvery === 0)
    State(loc, t, (snaps ++ late.map(fs => t.append(fs))).toIndexedSeq, metas.size)
  }

  def discard(env: Env, s: State): Unit = Pipeline.drop(s.location)

  private case class Query(kind: String, build: () => DataFrame, expect: (Long, Long))

  /** Count and id-sum of the ids in [lo, hi) that survive the deletes. */
  private def live(lo: Long, hi: Long): (Long, Long) = {
    def sum(a: Long, b: Long) = (a + b - 1) * (b - a) / 2 // ids in [a, b)
    val firstDel = (lo + DeleteEvery - 1) / DeleteEvery
    val lastDel = (math.min(hi, DeletedIds) - 1) / DeleteEvery
    val nDel = math.max(0L, lastDel - firstDel + 1)
    val delSum = DeleteEvery * (if (nDel == 0) 0L else (firstDel + lastDel) * nDel / 2)
    (hi - lo - nDel, sum(lo, hi) - delSum)
  }

  /** Round `i`: the five kinds in a fixed order. The seed picks which
    * bucket and which ids are read; what the planner must walk (the
    * as-of snapshot, the incremental range) is fixed, so a round's work
    * does not depend on the seed.
    */
  private def round(env: Env, s: State, i: Int): Seq[Query] = {
    val r = Gen.rng(env.seed, 7000L + i)
    val spark = env.spark
    def read = spark.read.format("laketable").load(s.location)
    def countSum(df: DataFrame) = df.agg(count(lit(1)), sum("message_id"))
    val w = r.nextInt(DeleteSlices)
    val lo = r.nextInt(DeleteSlices).toLong * Rows + r.nextInt(Rows - PointWidth)
    val (a, b) = (s.incrFrom, s.incrFrom + IncrSlices)
    Seq(
      Query("window", () => countSum(read.filter(col("timeperiod_loadedBy") === Gen.bucket(w))),
        live(w.toLong * Rows, (w + 1L) * Rows)),
      Query("point", () => countSum(read.filter(
        col("message_id") >= lo && col("message_id") < lo + PointWidth)),
        live(lo, lo + PointWidth)),
      Query("full", () => countSum(read), live(0L, s.slices.toLong * Rows)),
      Query("asof", () => countSum(s.table.snapshotDF(spark, s.sliceSnaps(s.asOfSlice))),
        live(0L, (s.asOfSlice + 1L) * Rows)),
      Query("incr", () => countSum(
        s.table.changesBetween(spark, s.sliceSnaps(a), s.sliceSnaps(b))),
        { val (x, y) = ((a + 1L) * Rows, (b + 1L) * Rows); (y - x, (x + y - 1) * (y - x) / 2) }))
  }

  def measure(env: Env, s: State): Outcome = {
    def manifests() = s.table.snapshots.find(_.id == s.table.currentSnapshotId)
      .map(_.manifests.size).getOrElse(0)
    val manifestsStart = manifests()
    val dataDir = Pipeline.localPath(s.location).resolve(graft.lake.LakeFormat.DataDir).toString
    val byKind = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var filesPlanned = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + env.seconds * 1000000000L
    var i = 0
    // whole rounds only: another round starts if it should end by the deadline
    while (i == 0 || System.nanoTime() + (System.nanoTime() - t0) / i <= deadline) {
      val rs = System.nanoTime()
      for (q <- round(env, s, i)) {
        attempted += 1
        val qs = System.nanoTime()
        try {
          if (env.tracer.enabled) LocalFiles.watchOpens(dataDir)
          val row = try timed(env, q.build())
            finally if (env.tracer.enabled) filesPlanned += LocalFiles.openedFiles()
          byKind(q.kind) :+= (System.nanoTime() - qs) / 1e6
          val got = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
          if (got != q.expect) {
            failed += 1
            problems += s"${q.kind} query (round $i) returned $got, expected ${q.expect}"
          }
        } catch {
          case e: Exception => failed += 1; problems += s"${q.kind} query (round $i): $e"
        }
      }
      rounds += (System.nanoTime() - rs) / 1e6
      i += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    s.table.refresh()
    val manifestsEnd = manifests()
    val rowBytes = Gen.rowBytes(DataChars, BodyBytes)
    val stored = Stats.ratio(Pipeline.storedBytes(s.location).toDouble,
      s.slices.toDouble * Rows * rowBytes)
    val kinds = Seq("window", "point", "full", "asof", "incr")
    Outcome(
      attempted = attempted,
      failed = failed,
      problems = problems.toSeq,
      e2e = Map(
        "op_ms_p50" -> Stats.p50(rounds.toSeq),
        "ops_per_s" -> attempted / elapsedS,
        "stored_bytes_per_input_byte" -> stored),
      named = kinds.map(k => (s"query_${k}_ms_p50", Stats.p50(byKind(k)), "ms")) :+
        (("query_round_ms_p50", Stats.p50(rounds.toSeq), "ms")),
      layers = Map(
        "scan.files_planned" -> filesPlanned.toDouble,
        "scan.files_total" -> (attempted * s.filesTotal).toDouble,
        "commit.meta_json_bytes" -> Pipeline.metaJsonBytes(s.location).toDouble,
        "commit.manifests_start" -> manifestsStart.toDouble,
        "commit.manifests_end" -> manifestsEnd.toDouble,
        "commit.manifests_current" -> manifestsEnd.toDouble),
      conditions = Map(
        "slices" -> s.slices.toString, "rows_per_slice" -> Rows.toString,
        "rounds" -> rounds.size.toString,
        "manifests_start" -> manifestsStart.toString,
        "manifests_end" -> manifestsEnd.toString),
      plans = attempted)
  }
}

object Scan {
  /** Run a one-row query, traced as planning (up to the executed plan)
    * and execution. */
  def timed(env: Env, build: => DataFrame): Row = {
    val tr = env.tracer
    tr.span("query") {
      val df = tr.span("scan.plan") { val d = build; d.queryExecution.executedPlan; d }
      tr.span("scan.exec") { df.collect().head }
    }
  }

  val Slices = 140
  val Rows = 400
  val DataChars = 32
  val BodyBytes = 64
  /** Merge-on-read deletes: every `DeleteEvery`-th id below `DeletedIds`. */
  val DeleteSlices = 15
  val DeleteEvery = 10L
  val DeletedIds: Long = DeleteSlices.toLong * Rows
  val PointWidth = 50
  val IncrSlices = 5
  /** Slices of the warm-up's table: enough that its as-of and incremental
    * reads, like the full table's, come after the delete. */
  val WarmUpSlices = 40
}
