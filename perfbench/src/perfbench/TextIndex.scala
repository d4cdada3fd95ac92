package perfbench

import org.apache.spark.sql.Row

/** `text_index`: the program's BM25 text index under a Zipf vocabulary,
  * built and served through `graft.SparkEntry`. Set-up writes a seeded
  * `documents` table; closed loop, one client: each operation is one
  * call of the [[TextIndex.Entry]] entry of `graft.SparkEntry.queries`,
  * which builds the index as a lake table with `LakeWriter` (large sorted
  * writes), serves the fixed probes from it and drops it.
  *
  * Every result must equal the window's first, and each window's first
  * result is written out with the entry's oracle SQL; run.py replays that
  * SQL in DuckDB over the same table and fails the run on a difference.
  */
final class TextIndex extends Workload {
  import TextIndex._

  final case class State(dir: String, textBytes: Long)

  /** Calls start while the warm-up is open: about four calls, the first
    * cold. Calls keep getting faster for a few calls after the first (the
    * compiler is still at work), and a window that starts early measures
    * that trend. */
  def warmUpSeconds: Int = 12

  def setup(env: Env): State = {
    val dir = env.localDir("corpus")
    val (docs, textBytes) = Gen.documents(env.spark, env.seed, Docs)
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    State(dir, textBytes)
  }

  /** The corpus stays: run.py replays the oracle over it, then removes
    * the run's directory. */
  def discard(env: Env, s: State): Unit = ()

  def measure(env: Env, s: State): Outcome = {
    val entry = graft.SparkEntry.queries(Entry)
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var first: Option[(Seq[String], Seq[Row])] = None
    var attempted, failed = 0L
    var index = (0L, 0L)
    val t0 = System.nanoTime()
    val deadline = t0 + env.seconds * 1000000000L
    var i = 0
    // calls take seconds: another starts while the window is open, so a
    // window holds at least two unless one call fills it
    while (System.nanoTime() < deadline) {
      attempted += 1
      // the index's size, taken as the entry drops it, on the first call
      if (i == 0) LocalFiles.watchDrops(IndexPrefix)
      val qs = System.nanoTime()
      try {
        val (cols, rows) = env.tracer.span("queries") {
          val df = entry(env.spark, s.dir)
          (df.schema.fieldNames.toSeq, df.collect().toSeq)
        }
        times += (System.nanoTime() - qs) / 1e6
        first match {
          case None => first = Some((cols, rows))
          case Some(f) if f != ((cols, rows)) =>
            failed += 1
            problems += s"$Entry call $i returned ${rows.size} rows unlike the first call's ${f._2.size}"
          case _ =>
        }
      } catch {
        case e: Exception => failed += 1; problems += s"$Entry call $i: $e"
      } finally if (i == 0) index = LocalFiles.droppedSizes()
      i += 1
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    if (index._1 != 1) {
      failed += 1
      problems += s"expected the entry to drop one index table, saw ${index._1}"
    }
    first.foreach { case (cols, rows) => writeOracleCase(env, s, cols, rows) }
    Outcome(
      attempted = attempted,
      failed = failed,
      problems = problems.toSeq,
      e2e = Map(
        "op_ms_p50" -> Stats.p50(times.toSeq),
        "ops_per_s" -> attempted / elapsedS,
        "stored_bytes_per_input_byte" -> Stats.ratio(index._2.toDouble, s.textBytes.toDouble)),
      named = Seq(
        ("zipf_bm25_s", Stats.p50(times.toSeq) / 1e3, "s"),
        ("index_bytes", index._2.toDouble, "bytes")),
      layers = Map(s"queries.${Entry}_s" -> Stats.p50(times.toSeq) / 1e3),
      conditions = Map(
        "entry" -> Entry, "documents" -> Docs.toString,
        "text_bytes" -> s.textBytes.toString, "calls" -> times.size.toString,
        "call_ms" -> times.map(t => f"$t%.0f").mkString(",")))
  }

  /** The first result with what DuckDB needs to replay it, for run.py. */
  private def writeOracleCase(env: Env, s: State, cols: Seq[String], rows: Seq[Row]): Unit = {
    def value(v: Any): String = v match {
      case null => "null"
      case x @ (_: java.lang.Long | _: java.lang.Integer) => x.toString
      case x: java.lang.Number => Json.num(x.doubleValue)
      case x => Json.str(x.toString)
    }
    val doc = Json.obj(Seq(
      "entry" -> Json.str(Entry),
      "sql" -> Json.str(graft.SparkEntry.oracleSql(Entry)),
      "documents" -> Json.str(s"${s.dir}/documents.parquet"),
      "columns" -> cols.map(Json.str).mkString("[", ", ", "]"),
      "rows" -> rows.map(r => r.toSeq.map(value).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")))
    val f = java.nio.file.Paths.get(env.workDir, s"oracle-${System.nanoTime()}.json")
    java.nio.file.Files.write(f, doc.getBytes("UTF-8"))
  }
}

object TextIndex {
  val Entry = "d02_bm25_zipf"
  /** The program's name prefix for the entry's scratch index table. */
  val IndexPrefix = "graft-bm25-zipf-"
  val Docs = 500
}
