package graft.queries

import graft.{SessionConf, SparkSpec, Trace}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, expr, sha2}

/** Physical-plan assertions (the 100 TB posture, SURVEY D6/§4): these
  * queries must not merely return correct rows — they must carry the plan
  * shapes that survive a 1000-executor scale-up: filters pushed to the
  * scan, dims broadcast, aggregates partial+final, top-K as
  * TakeOrderedAndProject, scans answered from parquet metadata where legal.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def noAutoBroadcast[A](body: => A): A = SessionConf.withConf(spark,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(body)

  test("B1: count/min/max answered by parquet aggregate pushdown") {
    val p = plan(RelationalQueries.b01_scan(spark, dir))
    assert(p.contains("PushedAggregation"), p)
  }

  test("B8: all predicates pushed to the parquet scan") {
    // about V1's display: its PushedFilters lists every predicate Spark
    // hands the source, V2's only what parquet accepts (no l_shipdate range)
    val p = SessionConf.withConf(spark, "spark.sql.sources.useV1SourceList" ->
      "avro,csv,json,kafka,orc,parquet,text")(plan(RelationalQueries.b08_filter(spark, dir)))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("In(l_discount"), p)
    assert(p.contains("StringStartsWith(l_returnflag,A)"), p)
  }

  test("B8: scan reads only the filter columns (column pruning)") {
    val p = plan(RelationalQueries.b08_filter(spark, dir))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
  }

  test("B9: Catalyst auto-broadcasts the dims without a hint") {
    val df = RelationalQueries.b09_join_inner(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("B10: both dims broadcast, no shuffle join on the fact side") {
    val p = plan(RelationalQueries.b10_join_broadcast(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("B17: aggregate runs partial then final (map-side combine)") {
    val p = plan(RelationalQueries.b17_q1(spark, dir))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), p) // partial aggregate before the exchange
  }

  test("B25: top-K plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(RelationalQueries.b25_sort_topk(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("B22: single shuffle for window + final order") {
    val p = plan(RelationalQueries.b22_window_rank(spark, dir))
    assert(p.contains("Window"), p)
    // ranking filter applied before the final sort limits data movement
    assert(p.contains("WindowGroupLimit") || p.contains("Filter"), p)
  }

  test("D1c: near-dup canon side broadcasts; corpus side never shuffles pre-join") {
    val p = plan(PipelineQueries.d01_dedup_embed(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // exactly the window + final sort shuffles — no shuffle feeding the join
    val joinIdx = p.indexOf("Join")
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    assert(joinIdx >= 0)
    assert(firstExchange < 0 || firstExchange > joinIdx,
      s"corpus side shuffled before the broadcast join:\n$p")
  }

  test("D2-IVF: cell assignment is map-side; candidates come from a broadcast join") {
    val p = plan(PipelineQueries.d02_ann_ivf(spark, dir))
    assert(p.contains("BroadcastExchange"), p) // probe-cells side broadcast
    // the corpus assignment path must carry no Window/shuffle of its own:
    // only the probe-side explode + the final refine window may shuffle
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected at most the refine-window shuffle, got $shuffles:\n$p")
  }

  test("D3: boilerplate carries no forced broadcast of the corpus-derived gram set") {
    // the df>=3 boilerplate set grows with the corpus — an explicit
    // broadcast() hint would bypass the planner's size guard and OOM the
    // driver at 100 TB. With the auto-broadcast thresholds disabled, ONLY
    // a hint could still produce a broadcast exchange; the plan must
    // instead join on the gram key (both sides are already gram-keyed).
    noAutoBroadcast {
      val p = plan(PipelineQueries.d03_boilerplate(spark, dir))
      assert(!p.contains("BroadcastExchange"),
        s"boilerplate side is hint-broadcast (survives threshold=-1):\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    }
  }

  test("D3/D2 exact twins: candidate joins shuffle on the bucket key, never hint-broadcast") {
    // the banded-signature sides are corpus-sized — same posture rule as
    // d03_boilerplate: with auto-broadcast off, only an (absent) hint
    // could still broadcast; the join must key on (band, sig) / (band,
    // h0, h1) so both twins keep the production variants' scale shape
    noAutoBroadcast {
      for (q <- Seq(PipelineQueries.d03_minhash_exact(spark, dir),
                    PipelineQueries.d02_ann_exact(spark, dir))) {
        val p = plan(q)
        assert(!p.contains("BroadcastExchange"), p)
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"), p)
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      }
    }
  }

  test("D1g: incremental dedup prefilters the corpus scan through the increment bloom") {
    import spark.implicits._
    val inc = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "h")
    val corpus = (1 to 1000).map(i => s"c$i").toDF("h")
    val p = plan(LakeQueries.incrementalDedup(spark, inc, corpus))
    // the bloom must sit as a filter ON the corpus side (fed by a scalar
    // subquery over the increment) — without it the anti-join shuffles
    // the whole corpus for every arrival
    assert(p.contains("might_contain"), s"no bloom prefilter in plan:\n$p")
    assert(p.contains("bloom_filter_agg") || p.contains("Subquery"),
      s"bloom not built as an independent subquery stage:\n$p")
  }

  test("D1g: an empty increment dedups to empty, never errors on the empty bloom") {
    import spark.implicits._
    // bloom_filter_agg over ZERO rows yields a null bloom; might_contain
    // (null, x) is null, the corpus prefilter keeps nothing, and the
    // anti-join returns the (empty) increment — the quiet-period arrival
    // shape must be a no-op, not an NPE or a full corpus scan
    val inc = Seq.empty[(Long, String)].toDF("doc_id", "h")
    val corpus = (1 to 100).map(i => s"c$i").toDF("h")
    val out = LakeQueries.incrementalDedup(spark, inc, corpus)
    assert(out.count() == 0)
    assert(out.schema.fieldNames.toSeq == Seq("doc_id", "h"))
  }

  test("D1g: incremental-dedup bloom scales with the increment (100x the old literal)") {
    // round-5 regression target: the bloom was a fixed 8192-item/64Kib
    // literal — an increment 100× that size saturates it, FP→1, and the
    // corpus prefilter silently becomes a pass-through. The NDV must now
    // track the increment's count and the prefilter must still reject a
    // disjoint corpus.
    val n = 819200L
    val inc = spark.range(0, n).select(col("id").as("doc_id"),
      sha2(col("id").cast("string").cast("binary"), 256).as("h"))
    val corpus = spark.range(n, n + 100000L)
      .select(sha2(col("id").cast("string").cast("binary"), 256).as("h"))
    val (out, trace) =
      Trace.capture(LakeQueries.incrementalDedup(spark, inc, corpus))
    assert(out.count() == n, "disjoint corpus must drop nothing")
    // sized from the increment: a regression back to fixed literals fails
    val (ndv, bits) = (trace.count("bloom_ndv"), trace.count("bloom_bits"))
    assert(ndv >= n, s"bloom NDV $ndv not sized to the $n-row increment")
    assert(bits >= n * 10, s"bloom bits $bits below ~10 bits/item")
    // measure the prefilter's real selectivity: survivors of the bloom on
    // a disjoint corpus are pure false positives; at ~10 bits/item the
    // rate must stay under 10% (the old literal measures ~100% here)
    graft.functions.BloomFunctions.register(spark)
    inc.createOrReplaceTempView("inc_bloom_spec")
    def fpCount(items: Long, b: Long): Long = corpus.filter(expr(
      s"""might_contain((SELECT bloom_filter_agg(xxhash64(h), ${items}L, ${b}L)
         |FROM inc_bloom_spec), xxhash64(h))""".stripMargin)).count()
    val fp = fpCount(ndv, bits)
    assert(fp < 10000L, s"bloom passed $fp/100000 of a disjoint corpus")
    val fpOld = fpCount(8192L, 65536L)
    assert(fpOld > 90000L,
      s"expected the old fixed-size bloom to saturate here, got $fpOld")
    spark.catalog.dropTempView("inc_bloom_spec")
  }

  test("D4: budget pack runs the two-phase prefix sum, not a bare per-lang window") {
    val p = plan(PipelineQueries.d04_budget_pack(spark, dir))
    // the corpus-sized running sum windows on (lang, slice) — a window
    // specced on bare lang over the doc stream is the single-task shape.
    // slice comes from LITERAL quantile cuts (pure row function), so the
    // offsets branch and the join branch can never label rows differently
    val specs = "windowspecdefinition\\(lang[^,)]*(, slice[^,)]*)?,"
      .r.findAllIn(p).toList
    assert(specs.exists(_.contains("slice")),
      s"no (lang, slice) window spec found:\n$p")
    // at most one bare-lang window: the ≤ slices×langs offsets table
    assert(specs.count(!_.contains("slice")) <= 1,
      s"corpus-sized bare-lang window present:\n$p")
  }

  test("D4: sequence packing windows per slice; only the tiny offsets " +
      "table sits in an unpartitioned window") {
    val p = plan(PipelineQueries.d04_seq_pack(spark, dir))
    // the corpus-sized running sum must window on slice (the two-phase
    // prefix sum); an unpartitioned window over the doc stream would be
    // the single-task global-sort shape that dies at 100 TB
    // partitioned-by-slice spec prints `(slice#N, doc_id#M ASC`;
    // the order-only (unpartitioned) spec prints `(slice#N ASC` directly
    val partitioned =
      "windowspecdefinition\\(slice#\\d+, doc_id#".r.findAllIn(p).size
    assert(partitioned >= 1, s"no slice-partitioned window found:\n$p")
    val bare = "windowspecdefinition\\(slice#\\d+ ASC".r.findAllIn(p).size
    assert(bare <= 1, s"more than one unpartitioned window:\n$p")
  }

  test("D4: curation cuts candidates per (lang, slice) before the per-lang window") {
    val p = plan(PipelineQueries.d04_curation(spark, dir))
    // phase 1 must window on (lang, slice) — a bare per-lang window alone
    // over the doc stream is the single-task top-K shape. The plan prints
    // root-first, so assert the slice-keyed spec EXISTS (the candidate
    // cut) and exactly one bare-lang spec remains (the bounded final).
    val specs = "windowspecdefinition\\(lang[^,)]*(, slice[^,)]*)?,"
      .r.findAllIn(p).toList
    assert(specs.exists(_.contains("slice")),
      s"no (lang, slice) candidate-cut window found:\n$p")
    assert(specs.count(!_.contains("slice")) == 1,
      s"expected exactly one bare-lang window (the bounded final):\n$p")
  }

  test("D6c: shard assignment adds no window or exchange beyond the pack's") {
    val p = plan(PipelineQueries.shardedCorpus(spark, dir))
    // the shard id must be a pure projection over the pack's prefix sums:
    // same window-spec budget as d04_budget_pack (the slice-keyed
    // running sum + at most one bare-lang offsets window) and NO
    // shard-keyed window or repartition in the pre-write plan
    val specs = "windowspecdefinition\\(lang[^,)]*(, slice[^,)]*)?,"
      .r.findAllIn(p).toList
    assert(specs.exists(_.contains("slice")),
      s"no (lang, slice) window spec found:\n$p")
    assert(specs.count(!_.contains("slice")) <= 1,
      s"corpus-sized bare-lang window present:\n$p")
    assert(!p.toLowerCase.contains("windowspecdefinition(shard"),
      s"shard-keyed window crept into the export plan:\n$p")
    assert(!"hashpartitioning\\(shard".r.findFirstIn(p).isDefined,
      s"shard-keyed exchange before the write:\n$p")
  }

  test("D2r: BM25 serve broadcasts the query side and scans the corpus once") {
    val df = PipelineQueries.d02_bm25_topk(spark, dir)
    val p = plan(df)
    // the tiny query-term relations (terms, per-query terms, dfreq)
    // broadcast — the postings never shuffle to meet an 8-row list
    assert(p.contains("BroadcastExchange"), p)
    // the stats aggregate was collected eagerly before plan build, so the
    // returned plan holds at most the two scan nodes over documents it
    // has on both parquet readers; a third would mean postings are being
    // recomputed per arm
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    val scans = root.collect {
      case n if n.nodeName.contains("Scan") && n.toString.contains("documents") => n
    }.size
    assert(scans <= 2, s"$scans scan nodes over documents — postings recomputed:\n$p")
  }

  test("D1g: substring dedup derives the shingle space ONCE (cached), " +
      "gates with an algebraic count + streamed semi join — never a " +
      "row-buffering window — and releases its cache before returning") {
    spark.sqlContext.clearCache() // isolate: prove THIS entry's hygiene
    val (_, trace) = Trace.capture(PipelineQueries
      .d01_dedup_substring(spark, dir)
      .write.mode("overwrite").format("noop").save())
    // the spans materialize INSIDE the call (self-contained lifecycle,
    // r14): the computing plan is the captured one, and the corpus-sized
    // shingle cache must be gone by the time the entry returns — a
    // production session must not depend on LRU pressure or a bench-side
    // clearCache to reclaim it
    val p = trace.note("plan")
    assert(spark.sharedState.cacheManager.isEmpty,
      "shingle cache outlived the substring-dedup call")
    // r13: the persisted shingle space feeds both consumers, so the
    // corpus scan + md5 chain appear under ONE InMemoryRelation; the
    // dup gate must stay ALGEBRAIC (groupBy partial-aggregates a hot
    // boilerplate shingle map-side) + a semi join (streams the probe),
    // never a whole-group window (buffers a corpus-sized group in one
    // task on exactly the inputs this operator exists for)
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"shingle space must be cached, not re-derived per consumer:\n$p")
    assert(p.contains("LeftSemi"),
      s"duplicated-shingle gate must be a semi join:\n$p")
    assert(!p.contains("windowspecdefinition(shash"),
      s"dup gate must not be a shash window (single-task skew wall):\n$p")
    // the islands merge is the ONLY window allowed, and it is per-doc:
    // every window spec in the plan must partition by doc_id (r13 advice:
    // the old `windows >= 0` guard was a tautology)
    val specs = "windowspecdefinition\\(([^,)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected the per-doc islands window:\n$p")
    specs.foreach(c => assert(c.startsWith("doc_id"),
      s"window partitions by '$c', not doc_id (skew wall):\n$p"))
  }

  test("D4q: trained-LR scoring is map-side — one scan, no hash exchange") {
    val p = plan(PipelineQueries.d04_quality_lr(spark, dir))
    // training happened at plan-build time (K-bounded collects); the
    // returned scoring plan must be scan → project → final sort only
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 0,
      s"scoring should carry no hash exchange, got $shuffles:\n$p")
    // one scan node = two textual renders in formatted mode
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"expected exactly one corpus scan node, got $scans/2:\n$p")
  }

  test("B48: LATERAL top-k decorrelates into a ranked join, not a per-row loop") {
    val p = plan(RelationalQueries.b48_lateral_topk(spark, dir))
    // Catalyst must rewrite the correlated ORDER BY+LIMIT subquery into a
    // window/rank over a JOIN — a correlated nested-loop execution would
    // re-run the subquery per outer row (the classic lateral scale trap)
    assert(p.toLowerCase.contains("window") || p.contains("row_number"),
      s"no rank stage — lateral subquery not decorrelated:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian product in the lateral plan:\n$p")
  }

  test("B53: batch session windows aggregate in one user_id shuffle, no self-join") {
    val p = plan(RelationalQueries.b53_session_agg(spark, dir))
    // the gaps-and-islands SQL shape would be LAG + running sum + regroup
    // (three window passes); Spark's session_window must instead be a
    // partition-local sort + session merge under ONE hash exchange on
    // user_id — and never a self-join
    assert(!p.contains("Join"), s"self-join in the session plan:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"$exchanges hash exchanges (expected <= 2):\n$p")
  }

  test("B50: FILTER-clause aggregates run as ONE grouped pass, no self-joins") {
    val p = plan(RelationalQueries.b50_filter_agg(spark, dir))
    // the naive formulation joins k filtered aggregates; Catalyst must
    // instead rewrite each FILTER into a conditional aggregate — one
    // scan, one partial+final aggregation, zero joins
    assert(!p.contains("Join"), s"self-join in the FILTER-agg plan:\n$p")
    // tree-section occurrences only ("HashAggregate (n)"): the formatted
    // details section repeats every node name
    val aggs = """HashAggregate \(\d""".r.findAllIn(p).length
    assert(aggs <= 2, s"$aggs aggregate stages (expected partial+final):\n$p")
  }

  test("D4k: split assignment is a map-side projection + one audit aggregate") {
    val p = plan(PipelineQueries.d04_datasplit(spark, dir))
    assert(!p.contains("Join"), s"join in the datasplit plan:\n$p")
    // no shuffle beyond the audit groupBy (+ the final sort): the split
    // column itself must never require an exchange (tree-section count)
    val exchanges = """Exchange \(\d""".r.findAllIn(p).length
    assert(exchanges <= 2, s"$exchanges exchanges:\n$p")
  }

  test("whole-stage codegen covers the Q1 aggregation path") {
    // codegen stages ("*(n)") appear once AQE finalizes — execute first
    val df = RelationalQueries.b17_q1(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
  }
}
