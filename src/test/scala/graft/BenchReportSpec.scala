package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.lake.Json
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench report's two renderings, from fixed numbers (no Spark): the
  * stdout line the driver parses must carry exactly its keys, fit the
  * driver's 2,000-char output-tail capture and format counts, timings and
  * failures stably; the full artifact must hold everything the line does.
  */
class BenchReportSpec extends AnyFunSuite {

  private val lifecycle = Seq("ingest_100k", "maintenance_compact",
    "dml_merge_cow", "dml_merge_mor", "lake_scan_400k",
    "lake_scan_raw_parquet", "lake_scan_mor_pending",
    "lake_scan_mor_compacted", "lake_point_lookup_sorted",
    "lake_point_lookup_plain", "lake_join_spj", "lake_join_shuffle",
    "stream_catchup_backlog")
  private val failed = "d02_phrase_zipf"

  // deterministic walls with realistic widths (up to 2 integer digits)
  private def wall(i: Int): Double = 0.137 + (i * 7.31) % 24.0

  private def duck(names: Seq[String], scale: Double): ObjectNode = {
    val o = Json.obj()
    o.put("_duckdb_canary", 0.321)
    names.zipWithIndex.foreach { case (n, i) =>
      o.put(n, BigDecimal(wall(i) * scale).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    o.putNull("b33_pivot") // an oracle that errored
    o
  }

  private val measured = {
    val envelope = (Bench.headline ++ lifecycle).zipWithIndex.map {
      case ("b01_scan", _) => "b01_scan" -> 2.0 // lands exactly on 2.0
      case (n, i) => n -> wall(i)
    }
    val heavy = Bench.heavyTail.zipWithIndex.map { case (n, i) =>
      n -> (if (n == failed) -1.0 else wall(i + 3))
    }
    val x10Spark = Bench.headline.zipWithIndex.map { case (n, i) =>
      n -> wall(i + 1) }
    // the first eight x10 oracles sit under the 0.1 s work bar
    val x10Duck = {
      val o = duck(Bench.headline, 0.5)
      Bench.headline.take(8).foreach(n => o.put(n, 0.04))
      o
    }
    val floor = Bench.headline.take(8).filterNot(_ == "b33_pivot")
    Bench.Measured(
      sf = "sf0.1",
      envelope = envelope,
      heavy = heavy,
      x10 = Bench.Tier(10, x10Spark, Some(x10Duck)),
      x10PackPhases = Seq("cuts_s" -> 0.21, "widths_s" -> 0.12,
        "window_s" -> 0.33, "cut_count" -> 12.0, "max_slice_rows" -> 4096.0),
      xfloor = Bench.Tier(100, floor.map(n => n -> 3.5),
        Some(duck(floor, 2.0))),
      sections = Seq(
        "point_lookup" -> Seq("s_total" -> 64.0, "s_planned" -> 1.0,
          "s_warm" -> 0.09, "s_max" -> 0.08, "s_r1" -> 0.07, "s_r2" -> 0.08,
          "s_r3" -> 0.07, "p_total" -> 64.0, "p_planned" -> 64.0,
          "p_warm" -> 0.41, "p_max" -> 0.39, "p_r1" -> 0.37, "p_r2" -> 0.39,
          "p_r3" -> 0.38, "sp" -> 1.0, "pp" -> 64.0),
        "commit_curve" -> Seq("ms_per_commit_at_10" -> 3.1,
          "ms_per_commit_at_100" -> 4.2, "ms_per_commit_at_1000" -> 7.3),
        "spark_floor" -> Seq("floor_noshuffle_s" -> 0.05,
          "floor_shuffle_s" -> 0.09, "floor_bulk_s" -> 0.31,
          "floor_scan_s" -> 0.22),
        "exchange" -> Seq("b09_wall_s" -> 0.48, "b09_rd_mb" -> 12.5,
          "b09_wr_mb" -> 12.5, "b09_fw_ms" -> 3.0, "b09_wt_ms" -> 40.0,
          "b09_tasks" -> 96.0),
        "d06_shards_phases" -> Seq("compute_s" -> 1.2, "write_s" -> 0.8,
          "read_s" -> 0.3),
        "d02_bm25_zipf_phases" -> Seq("build_s" -> 1.0, "serve_s" -> 0.3,
          "serve_files_planned" -> 4.0, "serve_bucket_files" -> 4.0,
          "files_total" -> 64.0, "phases_wall_s" -> 1.35),
        "d02_phrase_zipf_phases" -> Nil, // failed entry: no phases
        "bpe_full" -> Seq("merges" -> 256.0, "tokens" -> 1234567.0,
          "tokens_per_sec" -> 3500000.0, "encode_s" -> 0.35),
        "zipf_retrieval" -> Seq("files_total" -> 64.0, "n_docs" -> 10000.0,
          "bm25_d1_s" -> 0.4, "bm25_d1_files" -> 4.0, "bm25_d1_df" -> 7800.0,
          "substr_gate_hits" -> 1.0)),
      duckdb = Some(duck(Bench.headline ++ Bench.heavyTail, 0.8)))
  }
  private val (line, full) = Bench.render(measured)
  private val lineNode = Json.parse(line)
  private val fullNode = Json.parse(full)

  private def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
  private def paths(n: JsonNode, prefix: String = ""): Set[String] =
    fields(n).flatMap { case (k, v) =>
      val p = prefix + k
      if (v.isObject) paths(v, p + ".") + p else Set(p)
    }.toSet

  test("the stdout line parses and carries exactly the driver-read keys") {
    assert(fields(lineNode).map(_._1) == Seq("metric", "value", "unit",
      "heavy_total", "queries", "x10", "xfloor", "point_lookup",
      "commit_curve", "spark_floor", "duckdb_total", "duckdb_overlap",
      "spark_overlap_total", "sf"))
    def keys(k: String) = fields(lineNode.get(k)).map(_._1)
    assert(keys("x10") == Seq("spark_total", "duckdb_total", "overlap",
      "ratio"))
    assert(keys("xfloor") == Seq("work_n", "ratio_work",
      "ratio_work_median"))
    assert(keys("point_lookup") == Seq("sp", "pp"))
    assert(keys("commit_curve") == Seq("ms_per_commit_at_1000"))
    assert(keys("spark_floor") == Seq("floor_bulk_s", "floor_scan_s"))
    assert(keys("queries") == (Bench.headline ++ lifecycle ++ Bench.heavyTail))
    assert(lineNode.get("metric").asText == "total")
    assert(lineNode.get("sf").asText == "sf0.1")
  }

  test("counts render as integers, a 2.0 timing as 2.00, a failure as -1") {
    for (p <- Seq("point_lookup.sp", "point_lookup.pp", "xfloor.work_n",
        "x10.overlap", "duckdb_overlap")) {
      val Array(a, b @ _*) = p.split('.')
      val n = b.foldLeft(lineNode.get(a))(_.get(_))
      assert(n.isIntegralNumber, s"$p rendered as ${n}")
    }
    assert(line.contains("\"sp\":1,\"pp\":64}"))
    assert(line.contains("\"b01_scan\":2.00,"))
    assert(full.contains("\"b01_scan\":2.000,"))
    assert(line.contains("\"ms_per_commit_at_1000\":7.30}"))
    assert(line.contains(s"\"$failed\":-1,"))
    assert(lineNode.get("queries").get(failed).asInt == -1)
    // the errored oracle and the failed entry stay out of the overlap
    assert(lineNode.get("duckdb_overlap").asInt ==
      (Bench.headline ++ Bench.heavyTail).size - 3)
  }

  test("phase drift counts the concurrent hybrid arms once, as their longest") {
    // d02_hybrid_zipf's recorded min rep: the two arms overlap on the wall
    val hybrid = Seq("lex_build_s" -> 2.06, "ann_build_s" -> 3.20,
      "fused_serve_s" -> 1.79, "serve_files_planned" -> 40.0,
      "phases_wall_s" -> 5.04)
    assert(Bench.phaseDrift(hybrid).isEmpty)
    // sequential phases that add up far past the rep's wall still warn
    val drifted = Seq("build_s" -> 2.06, "train_s" -> 3.20,
      "serve_s" -> 1.79, "phases_wall_s" -> 5.04)
    val (sum, wall) = Bench.phaseDrift(drifted).get
    assert(math.abs(sum - 7.05) < 1e-9 && wall == 5.04)
  }

  test("the stdout line fits the driver's 2,000-char tail capture") {
    assert(line.length < 2000, s"line is ${line.length} chars")
  }

  test("the full artifact holds every key of the stdout line") {
    val missing = paths(lineNode) -- paths(fullNode)
    assert(missing.isEmpty, s"full artifact lacks $missing")
    assert(fullNode.get("duckdb_seconds").isObject)
    assert(fullNode.has("work_set"))
    assert(!fullNode.has("d02_phrase_zipf_phases"))
  }
}
