package graft.queries

import graft.Tables.{dec4, t}
import graft.Trace
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 Part D — LLM-training-pipeline operators over the
  * `documents` and `embeddings` tables.
  *
  * Scale posture (D6): every oracled query below is a pure dataflow —
  * shuffle-partitioned groupBy/join/window with no driver-side collection —
  * so the same plan runs on a 1000-executor cluster. Quadratic candidate
  * generation (brute-force cosine, exact Jaccard) is bounded to declared
  * probe subsets; the scale path for each is the LSH variant
  * (d03_minhash_lsh / d02_ann_lsh) whose cost is linear in rows ×
  * bucket-collision rate.
  */
object PipelineQueries {

  private def tokens(c: org.apache.spark.sql.Column) = split(c, " ")

  /** Max single-token frequency over a `toks` array column: longest equal
    * run of the SORTED tokens — O(n log n) per document vs the naive
    * array_distinct × filter scan, which is O(n²) and dominates the gate
    * stage on long documents. Values identical (both count the modal
    * token), so DuckDB oracles keep the simple quadratic form.
    */
  private def maxTokenFreq: org.apache.spark.sql.Column = expr(
    """(aggregate(array_sort(toks),
      |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
      |  (acc, x) -> named_struct(
      |    'prev', x,
      |    'run', CASE WHEN acc.prev <=> x THEN acc.run + 1 ELSE 1L END,
      |    'best', greatest(acc.best,
      |      CASE WHEN acc.prev <=> x THEN acc.run + 1 ELSE 1L END)))).best
      |""".stripMargin)

  // D1 — exact dedup by content hash: keep lowest doc_id per sha256(text).
  def d01_dedup_exact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(sha2(col("text").cast("binary"), 256).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .orderBy("h")

  // D1b — dedup keep-first via window (the rewrite-side pattern: which rows
  // survive, not just the groups).
  def d01_dedup_keepfirst(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(sha2(col("text").cast("binary"), 256))
      .orderBy(col("doc_id"))
    t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** Shingle length for exact substring-span dedup — 40 chars ≈ the 6-8
    * word window at which a shared span stops being idiom and starts
    * being copied text (Lee et al. 2021, arXiv:2107.06499, use 50 BPE
    * tokens; chars keep the oracle engine-portable). Shared with the
    * DuckDB oracle via SQL interpolation so the two sides cannot drift.
    */
  private[graft] val SubstrShingle = 40

  /** Exact duplicated-SPAN detection (the deduplicate-text-datasets
    * operation, arXiv:2107.06499): every `SubstrShingle`-char window that
    * occurs ≥2 times anywhere in the corpus marks its span, and per-doc
    * overlapping marks merge into maximal [start, end) removal intervals
    * (gaps-and-islands over a cumulative-max window). Unlike document- or
    * passage-level dedup (d01_dedup_exact / d01_dedup_passage) this finds
    * copied text INSIDE otherwise-novel documents — the boilerplate/quote
    * contamination document dedup cannot see.
    *
    * Scale posture: the only wide shuffle is the groupBy on the shingle
    * KEY — the 60-bit md5-prefix hash ([[shingleHashes]], the exact
    * representation `d01_substring_index` commits), not the literal
    * 40-char string (r13, verdict item 4: an 8-byte long shuffles ~5×
    * narrower than 40 UTF-8 chars + offsets; 2^-60 collision contract,
    * and the DuckDB oracle replays the identical hex derivation so the
    * two sides cannot disagree even ON a collision). At 100 TB the
    * further lever is stride>1 sampling + a second exact-verify pass.
    * The island window is per-doc (bounded by doc length). All-integer
    * output → hash-exact across engines.
    */
  private[graft] def substringDupSpans(docs: DataFrame): DataFrame = {
    val L = SubstrShingle
    // The shingle space (explode + md5 chain) materializes ONCE — the
    // persist is what keeps the two consumers below from re-deriving it
    // (that double derivation cost +36% wall in the r13 interim). Both
    // consumers are SKEW-SAFE by shape: the duplicated-key derivation
    // is an algebraic groupBy count (map-side partial aggregation — a
    // corpus-hot boilerplate shingle costs one combiner row per task)
    // and the hit side is a streamed semi-join probe against those
    // keys. The tempting one-pass alternative — a whole-group window
    // count over shash — BUFFERS each group in a single task, which is
    // corpus-sized exactly on the boilerplate-heavy inputs substring
    // dedup exists for; threshold detection must stay algebraic.
    //
    // Lifecycle is SELF-CONTAINED (r14, verdict item 6): the span result
    // (tiny — intervals only) materializes to scratch parquet INSIDE the
    // call and the corpus-sized shingle cache is released before
    // returning, so a long-lived production session calling this
    // repeatedly never depends on LRU pressure or a bench-side
    // clearCache to reclaim the ~24 B/shingle storage.
    val sh = shingleHashes(docs).persist()
    try {
      val dup = sh.groupBy("shash").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select("shash")
      val hits = sh.join(dup, Seq("shash"), "left_semi")
        .select(col("doc_id"), col("p").as("st"),
          (col("p") + L).as("en"))
      val spans = mergeSpans(hits)
      // the computing plan is consumed INSIDE this call (the scratch
      // write below), so the returned frame's plan is a scratch scan —
      // trace it for the plan spec, which pins the cached-once /
      // algebraic-gate / no-shash-window shape
      Trace.note("plan", spans.queryExecution
        .explainString(org.apache.spark.sql.execution
          .ExplainMode.fromString("formatted")))
      // re-sort after the scratch round-trip: parquet read-back order is
      // not contractual, and the span frame is interval-counted tiny
      Scratch.persist(spans, "substr_spans")
        .orderBy("doc_id", "span_start")
    } finally sh.unpersist(false)
  }

  /** Gaps-and-islands interval merge shared by the batch substring-dedup
    * entries and the committed-shingle-index gate: (doc_id, st, en) hit
    * rows → maximal per-doc [span_start, span_end) intervals. The window
    * is per-doc (bounded by doc length) — never corpus-wide.
    */
  private[graft] def mergeSpans(hits: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("st"), col("en"))
    val prevMax = max(col("en"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val marked = hits
      .withColumn("brk",
        when(col("st") > coalesce(prevMax, lit(-1L)), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    marked.groupBy(col("doc_id"), col("island"))
      .agg(min(col("st")).as("span_start"), max(col("en")).as("span_end"))
      .select("doc_id", "span_start", "span_end")
      .orderBy("doc_id", "span_start")
  }

  /** 60-bit md5-portable shingle hashes with positions — the committed-
    * index representation of the substring space (a 40-char shingle
    * string would bloat the index ~5×; the 60-bit prefix is the same
    * engine-portable derivation every md5-hashed operator here uses,
    * 2^-60 collision contract, and DuckDB replays it from the same hex).
    */
  /** Unbind compute-heavy map-side expansions from the INPUT FILE COUNT
    * (guide §2.5, input skew: "one huge unsplittable file ... repartition
    * immediately after the read"): a single-row-group parquet file scans
    * as ONE task, so an expansion fused into the scan (shingle md5
    * chains, zipf token draws, minhash lanes) runs serially no matter how
    * many cores the session has. When the plan already scans with >= the
    * session's shuffle parallelism (the 100 TB case — many files/splits),
    * this is a NO-OP; otherwise the still-narrow pre-expansion rows
    * hash-shuffle to an EXPLICIT partition count. Explicit, not
    * `repartition(col)`: AQE treats a keyless REPARTITION_BY_COL exchange
    * as coalescible and folds the tiny pre-expansion bytes back into ~one
    * partition, re-serializing the expansion that follows (measured at
    * sf0.1/32 cores: zipfTokens 3.6 s keyless vs 1.3 s explicit;
    * shingleHashes 2.6 vs 0.35; md5MinhashSigs 4.9 vs 0.49). Results are
    * partitioning-invariant: every consumer aggregates or joins by key
    * downstream. Streaming frames pass through untouched (micro-batch
    * planning handles their parallelism; `.rdd` is undefined for them).
    */
  private[graft] def fanOut(df: DataFrame, key: String): DataFrame = {
    if (df.isStreaming) return df
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions >= n) df
    else df.repartition(n, col(key))
  }

  private[graft] def shingleHashes(docs: DataFrame): DataFrame = {
    val L = SubstrShingle
    fanOut(docs.filter(length(col("text")) >= L), "doc_id")
      .select(col("doc_id"),
        explode(sequence(lit(0), length(col("text")) - L)).as("p"),
        col("text"))
      .select(col("doc_id"), col("p").cast("long").as("p"),
        expr(s"CAST(conv(substring(md5(substring(text, p + 1, $L)), 1, 15)" +
          ", 16, 10) AS BIGINT)").as("shash"))
  }

  // D1g — exact substring dedup: maximal duplicated char-spans per doc.
  def d01_dedup_substring(s: SparkSession, dir: String): DataFrame =
    substringDupSpans(t(s, dir, "documents").select("doc_id", "text"))

  // D1h — the APPLY side of substring dedup (the rewrite that actually
  // shrinks a training corpus): cut every duplicated span and emit the
  // kept segments. Rows, not a re-glued string, so the output is join-
  // able back to offsets and hash-exact across engines: the mid segments
  // are the gaps between consecutive merged spans (lag window over the
  // span list), the tail segment runs from the last span's end to the
  // doc end, and span-free docs pass through whole. Scale: spans are a
  // tiny fraction of the corpus; the only doc-wide work is the final
  // doc_id join to slice the text.
  def d01_substring_clean(s: SparkSession, dir: String): DataFrame =
    substringCleanSegs(t(s, dir, "documents").select("doc_id", "text"))

  private[graft] def substringCleanSegs(docs: DataFrame): DataFrame = {
    val spans = substringDupSpans(docs)
    val w = Window.partitionBy("doc_id").orderBy("span_start")
    val mids = spans
      .withColumn("pe", lag(col("span_end"), 1, 0L).over(w))
      .filter(col("span_start") > col("pe"))
      .select(col("doc_id"), col("pe").as("seg_start"),
        col("span_start").as("seg_end"))
    val tails = spans.groupBy("doc_id").agg(max("span_end").as("me"))
      .join(docs, "doc_id")
      .filter(length(col("text")).cast("long") > col("me"))
      .select(col("doc_id"), col("me").as("seg_start"),
        length(col("text")).cast("long").as("seg_end"))
    val whole = docs
      .join(spans.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(0L).as("seg_start"),
        length(col("text")).cast("long").as("seg_end"))
    mids.unionByName(tails).unionByName(whole)
      .join(docs, "doc_id")
      .select(col("doc_id"), col("seg_start"),
        expr("substring(text, cast(seg_start as int) + 1, " +
          "cast(seg_end - seg_start as int))").as("seg_text"))
      .orderBy("doc_id", "seg_start")
  }

  // D1c — embedding-cosine near-dup: each vector is a duplicate of its
  // highest-cosine lower-id "canon" vector (id < 400) above the threshold.
  // The canon side broadcasts, so the corpus side never shuffles — the
  // exact-refine primitive of semantic dedup (the candidate-generation
  // scale path is d02_ann_lsh/d02_ann_ivf). Threshold 0.43 sits in a wide
  // gap of the data's cosine distribution, so Spark's double accumulation
  // and DuckDB's cannot disagree across the cut.
  def d01_dedup_embed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val e = t(s, dir, "embeddings")
    val canon = e.filter(col("vec_id") < 400)
      .select(col("vec_id").as("keep_id"), col("embedding").as("be"))
    val w = Window.partitionBy("dup_id").orderBy(col("cos").desc, col("keep_id"))
    e.select(col("vec_id").as("dup_id"), col("embedding").as("ae"))
      .crossJoin(broadcast(canon))
      .filter(col("keep_id") < col("dup_id"))
      .withColumn("cos", expr("cosine_sim(ae, be)"))
      .filter(col("cos") > 0.43)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dup_id"), col("keep_id"), dec4(col("cos")).as("cos"))
      .orderBy("dup_id")
  }

  // D1f — SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup with
  // cluster-bounded pairwise comparison. K-means cells (the trained IVF
  // quantizer, [[trainIvfCentroids]]) assign every vector map-side; the
  // pairwise cosine check runs only WITHIN a cell via a cell-keyed
  // self-join — the design that makes semantic dedup tractable at corpus
  // scale (K grows with N, so per-cell work stays bounded; no all-pairs
  // anywhere). Rank inside a cell is (centroid-sim asc, id): the paper
  // keeps the LOW-centroid-similarity representative of each duplicate
  // relation, dropping the redundant near-centroid copies. A vector is a
  // duplicate iff some earlier-ranked cellmate has cosine > 0.43 (the
  // same wide-gap threshold d01_dedup_embed uses). Approximate (cell
  // boundaries hide cross-cell dups, float centroid means can jitter
  // boundary assignments) → rows-only; properties spec-checked.
  def d01_semdedup(s: SparkSession, dir: String): DataFrame =
    semdedup(s, t(s, dir, "embeddings"))

  /** Exact-twin constants, shared by [[d01_semdedup_exact]] and its DuckDB
    * oracle (interpolated into the SQL — the two sides cannot drift):
    * embeddings quantize to round(x·1000) integers, the first K corpus
    * vectors are the fixed centroids, and the cell cap shrinks to 8 so
    * the 500-vector sf corpus naturally exercises BOTH the within-cell
    * pairwise pass and the cap-breach representative fallback.
    */
  private[graft] val SemDeDupExactK = 100
  private[graft] val SemDeDupExactCap = 8
  private[graft] val SemDeDupExactScale = 1000

  // D1f-exact — the FULL SemDeDup machinery (two-level hierarchical cell
  // assignment incl. fine→coarse routing, cell-cap skew guard, pairwise
  // pass, representative fallback) under engine-portable, ORDER-
  // INDEPENDENT arithmetic — the d02_ann_exact recipe: embeddings
  // quantize to round(x·1000) integers (exact in float storage; dots and
  // norms become exact integer-valued double sums ≤ 64·6e5² ≈ 2.3e7 that
  // no aggregation order can drift), centroids are the first K quantized
  // corpus vectors (no Lloyd training — the trained path's double means
  // ARE order-sensitive, which is exactly why d01_semdedup is rows-only),
  // and every cosine is scalar sqrt/divide on exact integers, identical
  // in any IEEE engine. Drives the SAME semdedup/assignCellsHier code
  // paths as the production entry (K=100 > the 64-literal inlining bound,
  // so the hier route is exercised; cap=8 so breaches occur at sf scale);
  // only the centroid source and cap differ.
  def d01_semdedup_exact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), expr(
      s"""transform(embedding, x ->
         |  CAST(round(CAST(x AS DOUBLE) * ${SemDeDupExactScale}D) AS FLOAT))"""
        .stripMargin).as("embedding"))
    val cents = e.orderBy("vec_id").limit(SemDeDupExactK).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    semdedup(s, e, kOverride = Some(cents.length),
      centsOverride = Some(cents), cap = SemDeDupExactCap)
  }

  /** SemDeDup core over an arbitrary embeddings frame (`vec_id`,
    * `embedding`). K scales as 4·√N (floor 16): K ∝ N would put
    * corpus-proportional centroid state on the driver, and fixed K pushes
    * every cell over the pairwise cap at real scale (the round-5 silent
    * no-op). Assignment goes through the TWO-LEVEL quantizer
    * ([[assignCellsHier]]): N×O(√K) per pass — with K = 4√N that is
    * ~N^1.25 — in the Lloyd training rounds and the final assignment
    * alike, so the within-cell pairwise pass (N×(N/K) ≈ N^1.5/4) is the
    * dominant stage, as it should be: it is the pass doing the actual
    * dedup work. Driver/broadcast centroid state is 4·√N rows — ~8 MB at
    * 10⁸ vectors. Mean cell occupancy (√N/4) meets the 1024-member
    * pairwise cap around ~10⁷ vectors; past that, breaching cells FALL
    * BACK to an O(members) representative comparison (each member vs the
    * cell's most-central member) instead of sitting out, and the breach
    * is surfaced in the trace's counts + a warning log — graceful,
    * visible degradation, never a silent no-op (the cap bounds the
    * largest single shuffle key, which no K choice can fix for a
    * genuinely hot cell).
    */
  private[graft] def semdedup(s: SparkSession, e: DataFrame,
      kOverride: Option[Int] = None,
      centsOverride: Option[Array[(Long, Seq[Float])]] = None,
      cap: Int = 1024): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val n = e.count()
    val k = kOverride.getOrElse(
      math.max(16, 4 * math.ceil(math.sqrt(n.toDouble)).toInt))
    // two-level assignment ([[assignCellsHier]]): N×O(√K) per pass, in
    // training rounds and here. centsOverride (the exact-twin hook) pins
    // fixed centroids instead of Lloyd training — the trained path's
    // double-mean reductions are order-sensitive, so the hash-oracled
    // twin must skip them while driving everything downstream unchanged.
    val cents = centsOverride.getOrElse(trainIvfCentroids(e, k, hier = true))
    // scratch-persisted: the histogram, the bounded self-join, and the
    // final verdict join all consume the assignment — without the
    // materialization each would recompute the full assignment pass
    // from lineage
    val assigned = Scratch.persist(assignCellsHier(e, cents), "semdedup_assign")
    // skew guard (the minhash-bucket pattern): a degenerate cell would
    // make the self-join quadratic in that cell. The cell histogram is K
    // rows — bounded driver state — so it doubles as the observability
    // surface AND a broadcast membership filter, replacing the old
    // count-window (one less full-corpus shuffle).
    val hist = assigned.groupBy("cell").agg(count(lit(1)).as("cn"))
    val histRows = hist.collect() // ≤ K rows
    val excluded = histRows.filter(_.getLong(1) > cap)
    // excluded rows sit out of the pairwise pass: an under-dedup that
    // must be visible, never silent
    Trace.count("n", n)
    Trace.count("k", k.toLong)
    Trace.count("cells", histRows.length.toLong)
    Trace.count("excluded_cells", excluded.length.toLong)
    Trace.count("excluded_rows", excluded.map(_.getLong(1)).sum)
    if (excluded.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"semdedup: ${excluded.length}/${histRows.length} cells over the " +
          s"$cap-member cap (${excluded.map(_.getLong(1)).sum}/$n rows " +
          "fall back to representative comparison instead of the " +
          "pairwise pass); K is undersized for this corpus")
    val ok = s.createDataFrame(java.util.Arrays.asList(
        histRows.filter(_.getLong(1) <= cap): _*), hist.schema)
      .select("cell")
    val bounded = assigned.join(broadcast(ok), "cell")
    val a = bounded.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("ae"), col("csim").as("a_sim"))
    val b = bounded.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("be"), col("csim").as("b_sim"))
    val earlier = (col("a_sim") < col("b_sim")) ||
      (col("a_sim") === col("b_sim") && col("a_id") < col("b_id"))
    val pairDups = a.join(b, "cell").filter(earlier)
      .filter(expr("cosine_sim(ae, be)") > 0.43)
      .select(col("b_id").as("vec_id"))
    // oversized cells: graceful degradation instead of sitting out (the
    // LSH star-fallback rule) — every member compares against ONE
    // representative, the cell's most-central member (highest csim: the
    // dense near-dup mass clusters around the centroid, so the medoid-ish
    // rep catches it), O(members) per cell. Members similar to each other
    // but not to the rep escape — the priced-in loss vs the quadratic
    // pass, strictly better than exempting the whole cell. The rep frame
    // is ≤ (oversized cells) ≤ K rows: bounded broadcast.
    val over = s.createDataFrame(java.util.Arrays.asList(
        excluded: _*), hist.schema)
      .select("cell")
    val big = assigned.join(broadcast(over), "cell")
    val wr = Window.partitionBy("cell")
      .orderBy(col("csim").desc, col("vec_id"))
    val rep = big.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("cell"), col("embedding").as("re"),
        col("vec_id").as("rep_id"))
    val repDups = big.join(broadcast(rep), "cell")
      .filter(col("vec_id") =!= col("rep_id"))
      .filter(expr("cosine_sim(embedding, re)") > 0.43)
      .select(col("vec_id"))
    val dups = pairDups.union(repDups).distinct()
    assigned
      .join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  /** Assign every vector to its max-cosine centroid cell. Two physical
    * shapes, same semantics: small K inlines the centroids as literals
    * (pure map-side argmax inside whole-stage codegen — zero shuffle);
    * large K would blow codegen width, so the centroids become a
    * broadcast table and the argmax becomes a map-side-combined
    * `max_by`-style aggregation — N×K scored rows collapse to N before
    * the (vec_id-keyed) shuffle. Returns (vec_id, embedding, cell, csim).
    */
  private[graft] def assignCells(e: DataFrame,
      cents: Array[(Long, Seq[Float])]): DataFrame = {
    graft.functions.CosineSimilarity.register(e.sparkSession)
    if (cents.length <= 64) {
      val scores = array(cents.toIndexedSeq.map { case (cid, cvec) =>
        struct(call_function("cosine_sim", col("embedding"), typedlit(cvec)).as("s"),
          lit(cid).as("c"))
      }: _*)
      e.withColumn("m", array_max(scores))
        .select(col("vec_id"), col("embedding"),
          col("m.c").as("cell"), col("m.s").as("csim"))
    } else {
      val s = e.sparkSession
      import s.implicits._
      val centsDf = cents.toSeq.toDF("cid", "cvec")
      e.crossJoin(broadcast(centsDf))
        .select(col("vec_id"), col("embedding"),
          struct(expr("cosine_sim(embedding, cvec)").as("s"),
            col("cid").as("c")).as("sc"))
        .groupBy("vec_id")
        .agg(first(col("embedding")).as("embedding"),
          max(col("sc")).as("m"))
        .select(col("vec_id"), col("embedding"),
          col("m.c").as("cell"), col("m.s").as("csim"))
    }
  }

  /** Fine→coarse centroid routing for [[assignCellsHier]]: each fine
    * centroid joins the coarse region it is most cosine-similar to.
    * Tie-break toward the LARGER region id, matching Spark's struct-max
    * (max s, then max c) used by the vectors' coarse argmax — divergent
    * tie-breaks could leave a region holding vectors but zero routed
    * fine centroids.
    *
    * The K·√K dot products are embarrassingly parallel, so above
    * [[RouteSerialCap]] they run as a tiny Spark job (broadcast the √K
    * coarse rows, one map over the K fine rows) — with K = 4√N a
    * single-threaded driver loop is ~O(N^0.75) serial flops, minutes of
    * driver math at 10¹¹ docs. Below the cap the per-job overhead
    * dominates the loop and the serial path wins. Both paths compute the
    * identical argmax (`forceSerial` pins the path for the agreement
    * spec). Returns (region, cid); K rows — the same driver footprint as
    * `cents` itself.
    */
  private[graft] val RouteSerialCap = 4096
  private[graft] def routeRegions(s: SparkSession,
      cents: Array[(Long, Seq[Float])], coarse: Array[(Long, Seq[Float])],
      forceSerial: Option[Boolean] = None): Array[(Long, Long)] = {
    val cos: (Seq[Float], Seq[Float]) => Double = (a, b) => {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb) + 1e-12)
    }
    val route: ((Long, Seq[Float]), Array[(Long, Seq[Float])]) => (Long, Long) = {
      case ((cid, cvec), co) =>
        (co.maxBy { case (rid, cv) => (cos(cvec, cv), rid) }._1, cid)
    }
    if (forceSerial.getOrElse(cents.length <= RouteSerialCap))
      cents.map(c => route(c, coarse))
    else {
      val bc = s.sparkContext.broadcast(coarse)
      try s.sparkContext
        .parallelize(cents.toSeq, math.max(1, math.min(64, cents.length / 1024)))
        .map(c => route(c, bc.value))
        .collect()
      finally bc.destroy()
    }
  }

  /** Two-level cell assignment for large K (the SemDeDup path): vectors
    * find the nearest of ~√K COARSE centroids first, then argmax only
    * over the fine centroids ROUTED to that coarse region — N×O(√K) work
    * instead of flat N×K (with K = 4√N that turns the assignment pass
    * from N^1.5 into ~N^1.25; training pays the same reduction per Lloyd
    * round). Routing runs through [[routeRegions]] (serial under
    * [[RouteSerialCap]], a tiny Spark job above it). A vector whose
    * true nearest fine centroid lives in a neighboring coarse region
    * assigns to its best routed candidate instead; that boundary noise
    * is acceptable for SemDeDup — identical vectors route identically,
    * so exact/near-exact duplicates always co-assign, and a shifted
    * borderline assignment changes which cell dedups a pair, not the
    * operator's keep-one-representative contract. Falls back to flat
    * assignment when K ≤ 64 (already one literal-inline map pass).
    */
  private[graft] def assignCellsHier(e: DataFrame,
      cents: Array[(Long, Seq[Float])]): DataFrame = {
    if (cents.length <= 64) return assignCells(e, cents)
    val s = e.sparkSession
    import s.implicits._
    graft.functions.CosineSimilarity.register(s)
    val kc = math.max(4, math.ceil(math.sqrt(cents.length.toDouble)).toInt)
    // coarse layer: every (K/kc)-th fine centroid, re-keyed 0..kc-1
    val coarse: Array[(Long, Seq[Float])] =
      (0 until kc).map(i => (i.toLong, cents(i * cents.length / kc)._2)).toArray
    val centVec = cents.toMap
    val routed = routeRegions(s, cents, coarse)
      .map { case (region, cid) => (region, cid, centVec(cid)) }
      .toSeq.toDF("region", "cid", "cvec")
    // region -> its own seed fine centroid: the guaranteed fallback cell.
    // The LEFT join + coalesce below make unrouted regions impossible to
    // LOSE: float disagreement between the distributed cosine and the
    // driver-side routing cosine near an exact tie could otherwise strand
    // a region with vectors but no candidates, and an inner join would
    // silently drop those rows from the dedup output. The fallback cell's
    // csim is exact — the region's coarse centroid IS its seed fine
    // centroid, so the stage-1 score is the cosine to that same vector.
    val regionSeed = (0 until kc)
      .map(i => (i.toLong, cents(i * cents.length / kc)._1))
      .toDF("region", "seed_cid")
    val coarseAssigned = assignCells(e, coarse)
      .select(col("vec_id"), col("embedding"),
        col("cell").as("region"), col("csim").as("coarse_sim"))
    coarseAssigned.join(broadcast(routed), Seq("region"), "left")
      .select(col("vec_id"), col("embedding"), col("region"), col("coarse_sim"),
        when(col("cvec").isNotNull,
          struct(expr("cosine_sim(embedding, cvec)").as("s"),
            col("cid").as("c"))).as("sc"))
      .groupBy("vec_id")
      .agg(first(col("embedding")).as("embedding"),
        first(col("region")).as("region"),
        first(col("coarse_sim")).as("coarse_sim"),
        max(col("sc")).as("m"))
      .join(broadcast(regionSeed), "region")
      .select(col("vec_id"), col("embedding"),
        coalesce(col("m.c"), col("seed_cid")).as("cell"),
        coalesce(col("m.s"), col("coarse_sim")).as("csim"))
  }

  /** [[assignCellsHier]] as a PURE stateless projection — no joins, no
    * groupBy — so the two-level assignment can ride a STREAMING
    * micro-batch (d07_semdedup_stream): Structured Streaming forbids the
    * batch path's aggregation, but the whole hierarchy is driver-side
    * metadata (K centroids + the √K routing table), so it evaluates as
    * ONE native codegen'd expression ([[graft.functions.HierAssign]]):
    * coarse argmax over the √K regions, then argmax over the winning
    * region's routed fine centroids, seed fallback for unrouted regions
    * — the identical decision procedure (CosineSimilarity arithmetic,
    * Catalyst struct-max double ordering incl. tie/NaN corners) as the
    * batch join/groupBy dataflow, as two tight loops behind a
    * reference-object call, so the projection stays inside whole-stage
    * codegen at any K (the literal expression-tree alternative inlines
    * ~K 64-float constants and trips the 64 KB generated-method limit).
    * `PipelineSpec` asserts row-for-row (cell, csim) agreement with
    * [[assignCellsHier]], so the gate a stream applies can never diverge
    * from the committed index's batch assignment. Work per row is
    * O(√K + routed(region)) cosines — the same arithmetic the batch path
    * does after its routing join.
    */
  private[graft] def assignCellsHierExpr(e: DataFrame,
      cents: Array[(Long, Seq[Float])]): DataFrame = {
    if (cents.length <= 64) return assignCells(e, cents)
    val s = e.sparkSession
    val kc = math.max(4, math.ceil(math.sqrt(cents.length.toDouble)).toInt)
    val coarse: Array[(Long, Seq[Float])] =
      (0 until kc).map(i => (i.toLong, cents(i * cents.length / kc)._2)).toArray
    val routedByRegion: Map[Long, Array[Long]] = routeRegions(s, cents, coarse)
      .groupBy(_._1).map { case (r, rc) => r -> rc.map(_._2).sorted }
    val regionSeed: Map[Long, Long] =
      (0 until kc).map(i => (i.toLong, cents(i * cents.length / kc)._1)).toMap
    val model = graft.functions.HierAssignModel(
      cents, coarse, routedByRegion, regionSeed)
    e.withColumn("m",
        graft.functions.HierAssign.column(col("embedding"), model))
      .select(col("vec_id"), col("embedding"),
        col("m.cell").as("cell"), col("m.csim").as("csim"))
  }

  // D2 — brute-force cosine top-5 neighbors for a 20-vector probe set.
  // cosine_sim is our native codegen'd Catalyst expression
  // (graft.functions.CosineSimilarity) — a tight primitive loop inside
  // whole-stage codegen; broadcast the probe side so the big side never
  // shuffles.
  def d02_cosine_topk(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val e = t(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cos = expr("cosine_sim(qe, oe)")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))
    e.select(col("vec_id").as("oid"), col("embedding").as("oe"))
      .crossJoin(broadcast(probes))
      .filter(col("qid") =!= col("oid"))
      .withColumn("cos", cos)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("oid"), dec4(col("cos")).as("cos"))
      .orderBy("qid", "rn")
  }

  /** BM25 retrieval constants, shared by the Scala plans AND the DuckDB
    * oracle (interpolated into the SQL — the two sides cannot drift).
    * k1/b are the Robertson defaults; queries are fixed multi-word probes
    * over the documents vocabulary with distinct terms per query.
    */
  private[graft] val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "spark table join", 2 -> "window agg stream",
    3 -> "fast scan filter", 4 -> "customer order group",
    5 -> "vector hash merge", 6 -> "big data query",
    7 -> "slow row sort", 8 -> "batch line column")
  private[graft] val Bm25TopK = 10

  /** Inverted-index postings for a document set: one row per (term, doc)
    * with the term frequency and the doc length — the layout a search
    * engine commits (df is NOT stored: it is recoverable at serve time as
    * the posting count of the term, so maintenance appends never have to
    * rewrite existing rows).
    */
  private[graft] def bm25Postings(docs: DataFrame): DataFrame =
    fanOut(docs, "doc_id")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"),
        size(split(col("text"), " ")).cast("long").as("dl"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
      .select("term", "doc_id", "tf", "dl")

  /** Committed BM25 index table DDL + layout keys. Two levels (r11
    * verdict item 2, the 100 TB serve path):
    *   - tkey = pmod(xxhash64(term), 16) — the PARTITION bucket; spreads
    *     hot terms' postings across files (a raw term key would pile the
    *     corpus's Zipf head into one bucket) and gives the serve its
    *     first 16× manifest prune from literal query terms;
    *   - thash = xxhash64(term) — the full 64-bit hash as a first-class
    *     SORTED column: index writes cluster by thash within each bucket
    *     (writeDataFiles sortBy + maxRecordsPerFile → files with DISJOINT
    *     thash ranges), so a serve's thash IN (literals) predicate lets
    *     footer min/max skipping prune WITHIN buckets — selectivity
    *     approaches one-file-per-query-term instead of capping at 16×,
    *     which is the difference between "reads 1/16th of a 100 TB index"
    *     and "reads ~the postings it returns".
    * Shared by the batch index entry (d02_bm25_index), the fused hybrid
    * (d02_hybrid_indexed), and the streaming maintainer (d07_bm25_stream).
    */
  private[graft] val Bm25IndexDdl =
    "tkey BIGINT,thash BIGINT,term STRING,doc_id BIGINT,tf BIGINT,dl BIGINT"
  private[graft] def bm25Keyed(postings: DataFrame): DataFrame = postings
    .withColumn("thash", xxhash64(col("term")))
    .withColumn("tkey", pmod(col("thash"), lit(16L)))
    .select("tkey", "thash", "term", "doc_id", "tf", "dl")

  /** Target rows per committed index data file: small enough that a
    * bucket splits into several thash-range files at bench scale (so the
    * within-bucket skip is exercised, not just spec'd), large enough that
    * file-count overhead stays negligible. At 100 TB this would be sized
    * to the store's optimal object size instead.
    */
  private[graft] val Bm25IndexRowsPerFile = 4096L

  /** Driver-side replica of the layout key pmod(xxhash64(term), 16):
    * evaluates the SAME Catalyst XxHash64 (seed 42) the index build's
    * `xxhash64` column uses, so LITERAL query terms become plan-time
    * bucket constants a serve can push into the committed index scan as
    * an IN predicate — manifest/partition pruning then skips every file
    * whose bucket no query term hashes into, instead of scanning the
    * whole index and filtering rows after.
    */
  private[graft] def thashOf(term: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    XxHash64(Seq(Literal.create(term,
      org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
  }
  private[graft] def tkeyOf(term: String): Long =
    ((thashOf(term) % 16L) + 16L) % 16L

  /** The layout buckets / sorted-column hashes the fixed BM25 / phrase
    * probes touch — derived at plan time from the literal query terms
    * (they are constants, so their tkeys/thashes are too). Sorted for
    * deterministic plans. A serve pushes BOTH: tkey IN prunes at the
    * manifest/partition level, thash IN prunes within buckets via footer
    * min/max on the sorted column.
    */
  // lazy vals, not defs: the probes are compile-time constants, and a def
  // re-runs XxHash64.eval over every term at each call site — including
  // inside per-file closures (the serve's bucket-file count calls
  // bm25QueryTkeys.contains per file)
  private[graft] lazy val bm25QueryTkeys: Seq[Long] =
    Bm25Queries.flatMap(_._2.split(" ")).distinct.map(tkeyOf).distinct.sorted
  private[graft] lazy val phraseQueryTkeys: Seq[Long] =
    PhraseQueries.flatMap(_._2.split(" ")).distinct.map(tkeyOf).distinct.sorted
  private[graft] lazy val bm25QueryThashes: Seq[Long] =
    Bm25Queries.flatMap(_._2.split(" ")).distinct.map(thashOf).distinct.sorted
  private[graft] lazy val phraseQueryThashes: Seq[Long] =
    PhraseQueries.flatMap(_._2.split(" ")).distinct.map(thashOf).distinct.sorted

  /** The serve-side layout predicate, BUCKET-AWARE: OR over matched
    * buckets of (tkey = k AND thash IN (that bucket's hashes)). A flat
    * `tkey IN (...) AND thash IN (all hashes)` barely skips files: thash
    * values are uniform over the full 64-bit space in EVERY bucket, so a
    * file covering 1/f of its bucket's sorted range is accepted by some
    * cross-bucket hash with probability ≈ 1−(1−1/f)^|hashes| (~0.96 at
    * f=8, 24 hashes — measured: 99 of 105 matched-bucket files planned
    * at sf0.1). The conjunction scopes each bucket's range test to the
    * ~1–2 hashes that can actually live there: the file's tkey is its
    * partition value, so stats pruning disproves every other branch, and
    * within the bucket only its own hashes are tested against the thash
    * footer range. Row-wise the OR is equivalent to the flat form (tkey
    * is a function of thash), so serve results are unchanged.
    */
  private[graft] def layoutPredicate(hashes: Seq[Long]): org.apache.spark.sql.Column =
    hashes.groupBy(h => ((h % 16L) + 16L) % 16L).toSeq.sortBy(_._1)
      .map { case (k, hs) =>
        col("tkey") === lit(k) && col("thash").isin(hs.distinct.sorted: _*)
      }.reduce(_ || _)
  private[graft] lazy val bm25LayoutPredicate: org.apache.spark.sql.Column =
    layoutPredicate(bm25QueryThashes)
  private[graft] lazy val phraseLayoutPredicate: org.apache.spark.sql.Column =
    layoutPredicate(phraseQueryThashes)

  /** Zipf-vocabulary EXPANSION (r13 verdict item 5): the testdata corpus
    * has a ~30-word vocabulary, so every fixed probe term IS the corpus
    * head and the envelope's serve walls measure the worst case only.
    * Each token occurrence is deterministically suffixed with an OCTAVE
    * rank — e = u mod 10 picks an octave (uniform), the offset is
    * uniform within it, so rank r lands with probability ∝ 2^-⌊log₂ r⌋
    * /10: a ~1024-rank log-uniform (Zipf(≈1)-shaped) family per base
    * word, ~30k-term vocabulary with df spanning three orders of
    * magnitude. ALL-INTEGER derivation (shift/mod over the 60-bit md5
    * prefix — the same engine-portable hash every md5 operator here
    * uses): no pow()/ln() in the TERM IDENTITY, so the two engines
    * cannot disagree on what a term is called (BM25 scoring keeps its
    * own micro-unit quantization downstream).
    */
  private[graft] def zipfTokens(docs: DataFrame): DataFrame =
    // the expansion below costs an md5 + base-16 conv PER TOKEN; a
    // one-file corpus scan would otherwise run it all on one task
    // (the d02_phrase_zipf r15 finding) — map-side parallelism must
    // never be bound to the input file count. fanOut, not a keyless
    // repartition: AQE coalesced the latter back to ~1 partition
    // (this round's finding — 3.6 s vs 1.3 s for the expansion alone)
    fanOut(docs, "doc_id")
      .selectExpr("doc_id",
        "posexplode(split(text, ' ')) AS (pos, term)",
        "CAST(size(split(text, ' ')) AS BIGINT) AS dl")
      .withColumn("u", expr(
        "CAST(conv(substring(md5(concat(doc_id, ':', pos)), 1, 15), " +
          "16, 10) AS BIGINT)"))
      .withColumn("zterm", expr(
        "concat(term, '~', shiftleft(1L, CAST(u % 10 AS INT)) + " +
          "(u DIV 10) % shiftleft(1L, CAST(u % 10 AS INT)))"))

  private[graft] def zipfPostings(docs: DataFrame): DataFrame =
    zipfTokens(docs)
      .groupBy(col("doc_id"), col("zterm"))
      .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl"))
      .select(col("zterm").as("term"), col("doc_id"), col("tf"), col("dl"))

  /** The zipf expansion with POSITION LISTS — the positional-index layout
    * (d02_phrase_zipf) over the expanded vocabulary: adjacency survives
    * expansion as-is because each occurrence keeps its original token
    * position, only its term name gains the octave-rank suffix.
    */
  private[graft] def zipfPositionalPostings(docs: DataFrame): DataFrame =
    positionalAssembly(zipfTokens(docs), col("zterm"))

  /** Positional-posting assembly via ONE window sort (guide §5: the
    * aggregation buffer is the scaling hazard). The groupBy collect_list
    * form planned as partial+final ObjectHashAggregate: group keys here
    * are nearly unique (tf ≈ 1), so the map-side partial pass built a
    * second full set of per-group object buffers for no row reduction,
    * and both passes churned GC on array-buffer rows (d02_phrase_zipf's
    * r15 32-core collapse lived exactly there — 8.4 s of summed task GC
    * in the build stage at sf0.1×16). The window form sorts each task
    * once by (doc_id, term, pos) and assembles per-group state bounded
    * by ONE position list; `hashpartitioning(doc_id)` from the upstream
    * fanOut already satisfies the window's (doc_id, term) clustering, so
    * no new exchange appears and the whole build fuses into the
    * expansion stage (plans/r16/zipf_expansion_*). The frame order makes
    * the list ascending by construction — sort_array is gone, same rows
    * (probed bit-exact over all 4.24 M sf0.1×16 postings; oracle green).
    */
  private def positionalAssembly(tokens: DataFrame,
      termCol: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy(col("doc_id"), termCol).orderBy("pos")
    val wAll =
      w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tokens
      .withColumn("rn", row_number().over(w))
      .withColumn("tf", count(lit(1)).over(wAll))
      .withColumn("positions",
        collect_list(col("pos").cast("long")).over(wAll))
      .filter(col("rn") === 1)
      .select(termCol.as("term"), col("doc_id"), col("tf"), col("dl"),
        col("positions"))
  }

  /** Fixed ranked probes over the expanded vocabulary, one pair per df
    * octave band — the serve walls these produce track ROUND-OVER-ROUND
    * retrieval latency under realistic selectivity (head rank-1 terms
    * down to octave-9 tail terms whose df is ~1/5000th of an occurrence
    * mass). Shared with the oracle via SQL interpolation. */
  private[graft] val ZipfQueries: Seq[(Int, String)] = Seq(
    1 -> "data~1 query~3",
    2 -> "table~6 scan~13",
    3 -> "join~20 sort~45",
    4 -> "vector~100 batch~200",
    5 -> "row~300 column~700")
  private[graft] lazy val zipfQueryThashes: Seq[Long] =
    ZipfQueries.flatMap(_._2.split(" ")).distinct.map(thashOf).distinct.sorted
  private[graft] lazy val zipfQueryTkeys: Seq[Long] =
    ZipfQueries.flatMap(_._2.split(" ")).distinct.map(tkeyOf).distinct.sorted
  private[graft] lazy val zipfLayoutPredicate: org.apache.spark.sql.Column =
    layoutPredicate(zipfQueryThashes)

  /** Corpus amplification for the PHRASE arm under the Zipf vocabulary
    * (r14 verdict item 3). A phrase probe over expanded terms needs BOTH
    * adjacent occurrences to land on the probed ranks — survival is
    * P(r1)·P(r2) ≈ 1/100 at the head — and the testdata corpus carries
    * only ~30 adjacencies per base pair, so exact-rank probes over the
    * organic corpus would be empty. The entry replicates the corpus ×16
    * with shifted doc_ids BEFORE expansion (rank draws differ per replica
    * because u hashes doc_id:pos), measured 3–4 matches per head probe at
    * sf0.01 — nonzero for the oracle gate while the tail probes stay
    * genuine needles. Deterministic and engine-portable: the oracle
    * replays the same cross-join replication in SQL.
    */
  private[graft] val ZipfPhraseReplicas = 16
  private[graft] val ZipfPhraseShift = 10000000L

  /** Two-word phrase probes over the EXPANDED vocabulary, spanning df
    * octaves (head rank-1 pairs → octave-5/6 tail needles; measured
    * posting sizes 1398 → 29 at sf0.01×16). Shared with the oracle. */
  private[graft] val ZipfPhraseQueries: Seq[(Int, String)] = Seq(
    1 -> "sort~1 query~1",
    2 -> "value~1 spark~1",
    3 -> "stream~2 data~3",
    4 -> "join~6 big~13",
    5 -> "order~45 column~100")
  private[graft] lazy val zipfPhraseQueryThashes: Seq[Long] =
    ZipfPhraseQueries.flatMap(_._2.split(" ")).distinct.map(thashOf)
      .distinct.sorted
  private[graft] lazy val zipfPhraseQueryTkeys: Seq[Long] =
    ZipfPhraseQueries.flatMap(_._2.split(" ")).distinct.map(tkeyOf)
      .distinct.sorted
  private[graft] lazy val zipfPhraseLayoutPredicate:
      org.apache.spark.sql.Column =
    layoutPredicate(zipfPhraseQueryThashes)

  /** BM25 scoring + top-K over a postings set. Work ∝ the QUERY TERMS'
    * postings only: the query-term list broadcasts, postings semi-join it
    * before anything else, and df comes from a ≤|terms|-row aggregate of
    * the matched postings (never a full-index pass) — the serve shape that
    * lets the committed-index entry (d02_bm25_index) touch a 100 TB
    * corpus's index proportionally to the query.
    *
    * Hash-exactness across engines: per-term contributions contain ln()
    * (the one non-correctly-rounded primitive), so each contribution is
    * quantized to integer micro-units via floor(x·1e6 + 0.5) — identical
    * HALF-UP semantics in both engines, making the subsequent sum
    * order-independent. (Not absolute immunity: an individual
    * contribution can still flip when ln() drift lands x·1e6 + 0.5
    * within an ulp of an integer — a half-way-point event whose
    * probability is negligible but nonzero.) The per-(query, doc) score
    * is then an order-independent integer sum. Ranking orders by that
    * exact integer (ties by doc_id).
    */
  private[graft] def bm25Serve(postings: DataFrame, nDocs: Long,
      sumDl: Long, queries: Seq[(Int, String)] = Bm25Queries): DataFrame = {
    val s = postings.sparkSession
    import s.implicits._
    val q = queries.toDF("qid", "qtext")
      .select(col("qid"), explode(split(col("qtext"), " ")).as("term"))
    val post = postings.join(broadcast(q.select("term").distinct()), Seq("term"))
    val dfreq = post.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val avgdl = lit(sumDl).cast("double") / lit(nDocs)
    val denom = col("tf") + lit(1.2) *
      (lit(1.0) - lit(0.75) + lit(0.75) * col("dl").cast("double") / avgdl)
    val contrib = idf * col("tf") * lit(1.2 + 1) / denom
    val micro = floor(contrib * lit(1e6) + lit(0.5)).cast("long")
    val scored = post.join(broadcast(q), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .select(col("qid"), col("doc_id"), micro.as("micro"))
      .groupBy("qid", "doc_id").agg(sum(col("micro")).as("sm"))
    val w = Window.partitionBy("qid").orderBy(col("sm").desc, col("doc_id"))
    // no dec4 hop: sm is the same exact integer in both engines, so the
    // single IEEE division below is bit-identical — and dec4's round(,4)
    // would land on half-way points for ~10% of micro-unit sums, exactly
    // where Spark (HALF_UP) and DuckDB disagree
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Bm25TopK)
      .select(col("qid"), col("rn"), col("doc_id"),
        (col("sm").cast("double") / lit(1e6)).as("score"))
      .orderBy("qid", "rn")
  }

  // D2r — BM25 ranked retrieval (Robertson/Spärck Jones probabilistic
  // model): full-corpus postings build + query-proportional serve. The
  // committed-index variant is d02_bm25_index (LakeQueries).
  def d02_bm25_topk(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val stats = docs
      .agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " ")).cast("long")).as("sd"))
      .collect()(0) // 1-row corpus-stats aggregate — bounded by design
    bm25Serve(bm25Postings(docs), stats.getLong(0), stats.getLong(1))
  }

  /** DuckDB replay of [[bm25Serve]] over the full documents corpus —
    * shared by d02_bm25_topk and d02_bm25_index (the index entry serves
    * the same corpus from its committed postings, so the end state is
    * identical). Constants and query VALUES are interpolated from the
    * same fields the Scala plans read.
    */
  private[graft] def bm25OracleSql: String =
    s"""WITH $bm25RankedCte
       |SELECT qid, rn, doc_id, CAST(sm AS DOUBLE) / 1e6 AS score
       |FROM ranked WHERE rn <= $Bm25TopK ORDER BY qid, rn""".stripMargin

  /** The BM25 replay up to the `ranked(qid, doc_id, sm, rn)` relation —
    * shared by the three BM25 entry oracles and the hybrid-fusion oracle.
    */
  private def bm25RankedCte: String = bm25RankedCteFor(
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |         len(string_split(text, ' ')) AS dl
      |  FROM documents)""".stripMargin, Bm25Queries)

  /** DuckDB replay of the Zipf-vocabulary committed-index serve
    * (d02_bm25_zipf): the same toks relation with each occurrence's term
    * suffixed by the integer-octave rank [[zipfPostings]] derives —
    * identical 60-bit md5 prefix, identical shift/mod arithmetic, 1-based
    * generate_subscripts aligned to Spark's 0-based posexplode.
    */
  /** DuckDB replay of the zipf token expansion over an arbitrary docs
    * relation — emits (doc_id, pos, term, dl) with the 1-based
    * generate_subscripts position aligned to Spark's 0-based posexplode
    * inside the hash input (`pos - 1`). Shared by the ranked, phrase and
    * hybrid zipf oracles so the expansion can never drift between them.
    */
  private def zipfTokSql(docsRel: String): String =
    s"""SELECT doc_id, pos,
       |    term || '~' || CAST(
       |      (CAST(1 AS BIGINT) << CAST(u % 10 AS INT)) +
       |      ((u // 10) % (CAST(1 AS BIGINT) << CAST(u % 10 AS INT)))
       |      AS VARCHAR) AS term,
       |    dl
       |  FROM (
       |    SELECT doc_id, term, pos, dl,
       |      CAST(concat('0x', substring(md5(
       |        CAST(doc_id AS VARCHAR) || ':' ||
       |        CAST(pos - 1 AS VARCHAR)), 1, 15)) AS BIGINT) AS u
       |    FROM (
       |      SELECT doc_id, CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
       |             unnest(tk) AS term, CAST(len(tk) AS BIGINT) AS dl
       |      FROM (SELECT doc_id, string_split(text, ' ') AS tk
       |            FROM $docsRel)))""".stripMargin

  /** The zipf-vocabulary BM25 replay up to `ranked` — shared by the
    * ranked entry's oracle and the hybrid-zipf fusion oracle. */
  private def zipfRankedCte: String = bm25RankedCteFor(
    s"""toks AS (
       |  SELECT doc_id, term, dl FROM (
       |${zipfTokSql("documents")}))""".stripMargin, ZipfQueries)

  private[graft] def bm25ZipfOracleSql: String =
    s"""WITH $zipfRankedCte
       |SELECT qid, rn, doc_id, CAST(sm AS DOUBLE) / 1e6 AS score
       |FROM ranked WHERE rn <= $Bm25TopK ORDER BY qid, rn""".stripMargin

  /** DuckDB replay of d02_phrase_zipf: the same ×[[ZipfPhraseReplicas]]
    * doc_id-shifted replication, the shared zipf expansion WITH
    * positions, and the phraseMatchOracleSql adjacency self-join over
    * the expanded terms.
    */
  private[graft] def phraseZipfOracleSql: String = {
    val values = ZipfPhraseQueries.map { case (id, p) =>
      val Array(t1, t2) = p.split(" ")
      s"($id, '$t1', '$t2')"
    }.mkString(", ")
    s"""WITH rdocs AS (
       |  SELECT d.doc_id + r.i * $ZipfPhraseShift AS doc_id, d.text
       |  FROM documents d CROSS JOIN range($ZipfPhraseReplicas) r(i)),
       |ztok AS (
       |  SELECT doc_id, pos, term FROM (
       |${zipfTokSql("rdocs")})),
       |q(pid, t1, t2) AS (VALUES $values),
       |m AS (
       |  SELECT q.pid, a.doc_id, COUNT(*) AS n_occur
       |  FROM q JOIN ztok a ON a.term = q.t1
       |    JOIN ztok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |      AND b.term = q.t2
       |  GROUP BY q.pid, a.doc_id)
       |SELECT pid, doc_id, n_occur FROM m ORDER BY pid, doc_id""".stripMargin
  }

  private def bm25RankedCteFor(toksCte: String,
      queries: Seq[(Int, String)]): String = {
    val values = queries.map { case (id, s) => s"($id, '$s')" }.mkString(", ")
    s"""$toksCte,
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
       |  FROM toks GROUP BY doc_id, term),
       |stats AS (
       |  SELECT COUNT(*) AS n_docs,
       |         SUM(len(string_split(text, ' '))) AS sum_dl
       |  FROM documents),
       |q(qid, qtext) AS (VALUES $values),
       |qt AS (SELECT qid, unnest(string_split(qtext, ' ')) AS term FROM q),
       |dfreq AS (
       |  SELECT tf.term, COUNT(*) AS df FROM tf
       |  WHERE tf.term IN (SELECT term FROM qt) GROUP BY tf.term),
       |contrib AS (
       |  SELECT qt.qid, tf.doc_id,
       |    CAST(floor(
       |      ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
       |      * tf.tf * (1.2 + 1)
       |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE)
       |           / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))
       |      * 1e6 + 0.5) AS BIGINT) AS micro
       |  FROM qt JOIN tf ON qt.term = tf.term
       |    JOIN dfreq d ON d.term = qt.term CROSS JOIN stats s),
       |score AS (
       |  SELECT qid, doc_id, SUM(micro) AS sm FROM contrib
       |  GROUP BY qid, doc_id),
       |ranked AS (
       |  SELECT qid, doc_id, sm, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY sm DESC, doc_id) AS rn FROM score)""".stripMargin
  }

  /** RRF constant (Cormack et al. 2009's k=60) — shared with the oracle. */
  private[graft] val RrfK = 60

  /** Two-word phrase probes for positional retrieval — shared with the
    * oracle (words must be distinct within a phrase). */
  private[graft] val PhraseQueries: Seq[(Int, String)] = Seq(
    1 -> "spark table", 2 -> "fast scan", 3 -> "window agg", 4 -> "big data")

  // D2p — PHRASE matching from POSITIONAL postings: the capability step
  // beyond bag-of-words BM25 (an inverted index without positions cannot
  // answer "these words ADJACENT"). Postings here carry the sorted
  // position list per (doc, term) — built only for the phrase terms
  // (broadcast semi-join first, so work ∝ the probes' postings, the
  // d02_bm25 serve discipline) — and a phrase occurrence is a position p
  // in t1's list with p+1 in t2's list (exact integer set intersect; the
  // count is adjacency occurrences, overlap-safe where substring LIKE
  // counting is not). All-integer output → hash-exact.
  def d02_phrase_match(s: SparkSession, dir: String): DataFrame =
    phraseMatch(t(s, dir, "documents").select("doc_id", "text"))

  private[graft] def phraseMatch(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    // build position lists ONLY for the probes' terms (work ∝ probes)
    val postings = toks
      .join(broadcast(phraseQueryTerms(s)), Seq("term"))
      .groupBy("doc_id", "term")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      .select("term", "doc_id", "positions")
    phraseServe(postings)
  }

  private def phraseQueryTerms(s: SparkSession,
      queries: Seq[(Int, String)] = PhraseQueries): DataFrame = {
    import s.implicits._
    queries.toDF("pid", "phrase")
      .select(explode(split(col("phrase"), " ")).as("term")).distinct()
  }

  /** Phrase adjacency over a positional postings set (term, doc_id,
    * positions sorted ARRAY<BIGINT>) — shared by the direct entry and the
    * committed positional index (d02_phrase_index), whose table layout
    * (term, doc_id, tf, dl, positions) also serves bm25Serve unchanged:
    * ONE committed index answers ranked AND phrase queries.
    */
  private[graft] def phraseServe(positional: DataFrame,
      queries: Seq[(Int, String)] = PhraseQueries): DataFrame = {
    val s = positional.sparkSession
    import s.implicits._
    val q = queries.toDF("pid", "phrase")
      .select(col("pid"),
        split(col("phrase"), " ").getItem(0).as("t1"),
        split(col("phrase"), " ").getItem(1).as("t2"))
    val matched = positional
      .join(broadcast(phraseQueryTerms(s, queries)), Seq("term"))
    val a = matched.select(col("doc_id"), col("term").as("ta"),
      col("positions").as("pa"))
    val b = matched.select(col("doc_id"), col("term").as("tb"),
      col("positions").as("pb"))
    broadcast(q).join(a, col("t1") === col("ta"))
      .join(b, Seq("doc_id")).filter(col("t2") === col("tb"))
      .withColumn("n_occur",
        size(array_intersect(expr("transform(pa, x -> x + 1)"), col("pb")))
          .cast("long"))
      .filter(col("n_occur") > 0)
      .select(col("pid"), col("doc_id"), col("n_occur"))
      .orderBy("pid", "doc_id")
  }

  /** Full positional postings for the committed index: the production
    * layout (term, doc_id, tf, dl, positions) — bm25Serve reads the
    * (term, doc_id, tf, dl) projection, phraseServe the (term, doc_id,
    * positions) one; appends never rewrite rows (df stays derived).
    */
  private[graft] def positionalPostings(docs: DataFrame): DataFrame =
    positionalAssembly(
      fanOut(docs, "doc_id")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")),
          size(split(col("text"), " ")).cast("long").as("dl")),
      col("term"))

  /** DuckDB replay of [[phraseMatch]]: 1-based token positions via
    * generate_subscripts, adjacency as a position self-join — each
    * occurrence counted once (position lists are duplicate-free), which a
    * substring LIKE count would get wrong on boundary-sharing repeats.
    */
  private[graft] def phraseMatchOracleSql: String = {
    val values = PhraseQueries.map { case (id, p) =>
      val Array(t1, t2) = p.split(" ")
      s"($id, '$t1', '$t2')"
    }.mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(generate_subscripts(t, 1) AS BIGINT) AS pos,
       |         unnest(t) AS term
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
       |q(pid, t1, t2) AS (VALUES $values),
       |m AS (
       |  SELECT q.pid, a.doc_id, COUNT(*) AS n_occur
       |  FROM q JOIN tok a ON a.term = q.t1
       |    JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |      AND b.term = q.t2
       |  GROUP BY q.pid, a.doc_id)
       |SELECT pid, doc_id, n_occur FROM m ORDER BY pid, doc_id""".stripMargin
  }

  // D2f — HYBRID retrieval with reciprocal-rank fusion: the modern search
  // stack's default shape — a lexical arm (BM25 over text) and a semantic
  // arm (cosine over the probe's embedding, vec_id aligned with doc_id)
  // each rank top-K independently, then fuse by RRF = Σ 1/(k + rank).
  // Rank-space fusion needs no score calibration between arms, which is
  // also what makes it hash-exact for free: both arms' RANKS are already
  // engine-deterministic (integer micro-unit BM25 sums; the proven
  // d02_cosine_topk ordering), and the fused score is a fixed-order
  // two-term sum of exact-integer reciprocals — no aggregation anywhere.
  // Scale: each arm is its own proven scale path (query-proportional
  // postings serve; ANN index for the semantic arm); fusion itself is a
  // top-K-sized full-outer join per query.
  def d02_hybrid_rrf(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val stats = docs
      .agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " ")).cast("long")).as("sd"))
      .collect()(0) // 1-row corpus-stats aggregate — bounded
    val lex = bm25Serve(bm25Postings(docs), stats.getLong(0), stats.getLong(1))
      .select(col("qid"), col("doc_id"), col("rn").as("rl"))
    val e = t(s, dir, "embeddings")
    val probes = e.filter(col("vec_id").between(1, Bm25Queries.length))
      .select(col("vec_id").cast("int").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("doc_id"))
    val sem = e.select(col("vec_id").as("doc_id"), col("embedding").as("oe"))
      .crossJoin(broadcast(probes))
      .filter(col("qid") =!= col("doc_id"))
      .withColumn("cos", expr("cosine_sim(qe, oe)"))
      .withColumn("rs", row_number().over(w))
      .filter(col("rs") <= Bm25TopK)
      .select("qid", "doc_id", "rs")
    rrfFuse(lex, sem)
  }

  /** Rank-space RRF fusion of a lexical arm (qid, doc_id, rl) and a
    * semantic arm (qid, doc_id, rs): fixed-order two-term sum of exact
    * reciprocals, top-K per query. Shared by the recompute entry
    * (d02_hybrid_rrf) and the committed-index one (d02_hybrid_indexed) —
    * the fusion math cannot drift between them.
    */
  private[graft] def rrfFuse(lex: DataFrame, sem: DataFrame): DataFrame = {
    val rrf = coalesce(lit(1.0) / (lit(RrfK) + col("rl")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfK) + col("rs")), lit(0.0))
    val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf", rrf)
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= Bm25TopK)
      .select(col("qid"), col("rn"), col("doc_id"), col("rrf"))
      .orderBy("qid", "rn")
  }

  /** DuckDB replay of [[d02_hybrid_rrf]]: the shared BM25 ranked CTE +
    * the proven cosine-ranking replay + the same fixed-order RRF sum.
    */
  private[graft] def hybridRrfOracleSql: String =
    s"""WITH $bm25RankedCte,
       |elems AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |spairs AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS doc_id,
       |    SUM(a.x * b.x) AS dot, SUM(a.x * a.x) AS na, SUM(b.x * b.x) AS nb
       |  FROM elems a JOIN elems b ON a.i = b.i
       |  WHERE a.vec_id BETWEEN 1 AND ${Bm25Queries.length}
       |    AND a.vec_id <> b.vec_id
       |  GROUP BY qid, doc_id),
       |sem AS (
       |  SELECT CAST(qid AS INTEGER) AS qid, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, doc_id) AS rs
       |  FROM spairs),
       |lex AS (SELECT qid, doc_id, rn AS rl FROM ranked WHERE rn <= $Bm25TopK),
       |semt AS (SELECT qid, doc_id, rs FROM sem WHERE rs <= $Bm25TopK),
       |cand AS (
       |  SELECT COALESCE(l.qid, s.qid) AS qid,
       |    COALESCE(l.doc_id, s.doc_id) AS doc_id, l.rl, s.rs
       |  FROM lex l FULL OUTER JOIN semt s
       |    ON l.qid = s.qid AND l.doc_id = s.doc_id),
       |fused AS (
       |  SELECT qid, doc_id,
       |    COALESCE(1.0 / ($RrfK + rl), 0.0) + COALESCE(1.0 / ($RrfK + rs), 0.0)
       |      AS rrf
       |  FROM cand),
       |fout AS (
       |  SELECT qid, doc_id, rrf, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, doc_id) AS rn FROM fused)
       |SELECT qid, rn, doc_id, rrf FROM fout WHERE rn <= $Bm25TopK
       |ORDER BY qid, rn""".stripMargin

  /** DuckDB replay of d02_hybrid_indexed (LakeQueries): the shared BM25
    * ranked CTE (the committed postings round-trip is value-transparent,
    * so the index serve replays as the full recompute) + the IVF+PQ serve
    * chain under the committed-batch seed predicate with the fusion's
    * probe set and depth + the same fixed-order RRF sum. The fusion tail's
    * candidate CTE is `fcand` — `cand` is taken by the IVF chain.
    */
  private[graft] def hybridIndexedOracleSql: String =
    hybridIndexedOracleFor(bm25RankedCte, Bm25Queries.length)

  /** DuckDB replay of d02_hybrid_zipf: the zipf-vocabulary ranked CTE as
    * the lexical arm (same committed-serve value-transparency argument as
    * the base hybrid) + the same IVF+PQ chain with the zipf probe count.
    */
  private[graft] def hybridZipfOracleSql: String =
    hybridIndexedOracleFor(zipfRankedCte, ZipfQueries.length)

  private def hybridIndexedOracleFor(rankedCte: String,
      probeLen: Int): String =
    s"""WITH $rankedCte,
       |${ivfPqScoredCtes("vec_id % 17 = 0 AND vec_id < 400",
          s"f.vec_id BETWEEN 1 AND $probeLen")},
       |lex AS (SELECT qid, doc_id, rn AS rl FROM ranked WHERE rn <= $Bm25TopK),
       |semt AS (
       |  SELECT CAST(qid AS INTEGER) AS qid, oid AS doc_id, rn AS rs
       |  FROM scored WHERE rn <= $Bm25TopK),
       |fcand AS (
       |  SELECT COALESCE(l.qid, s.qid) AS qid,
       |    COALESCE(l.doc_id, s.doc_id) AS doc_id, l.rl, s.rs
       |  FROM lex l FULL OUTER JOIN semt s
       |    ON l.qid = s.qid AND l.doc_id = s.doc_id),
       |fused AS (
       |  SELECT qid, doc_id,
       |    COALESCE(1.0 / ($RrfK + rl), 0.0) + COALESCE(1.0 / ($RrfK + rs), 0.0)
       |      AS rrf
       |  FROM fcand),
       |fout AS (
       |  SELECT qid, doc_id, rrf, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY rrf DESC, doc_id) AS rn FROM fused)
       |SELECT qid, rn, doc_id, rrf FROM fout WHERE rn <= $Bm25TopK
       |ORDER BY qid, rn""".stripMargin

  // D2-scale — LSH-bucketed ANN: random-hyperplane signatures (SimHash for
  // vectors), candidates only within equal signature buckets. Deterministic
  // pseudo-random planes derived from (dim, plane) via a hash — no RNG at
  // plan time. No SQL oracle (approximate); spec checks recall vs d02.
  def d02_ann_lsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // 8 bands × 4 hyperplanes (32 planes): per-band collision for a
    // cos≈0.4 pair is ~(1-θ/π)⁴ ≈ 0.16, so 8 independent bands lift
    // pair recall to ~1-(1-0.16)⁸ ≈ 0.75 (4 bands measured 0.42) — the
    // standard LSH lever, linear cost in bands. The equi-join on
    // (band, signature) is a plain shuffle join — the scale path. Plane
    // weights derived deterministically from xxhash64(dim, plane).
    def sig(band: Int) = expr(
      s"""aggregate(
         |  transform(sequence(0, 3), p ->
         |    CASE WHEN aggregate(zip_with(embedding,
         |        transform(sequence(0, 63), d ->
         |          cast(xxhash64(d * 64 + p + $band * 4) % 1000 as double) / 1000.0 - 0.5),
         |        (x, w) -> cast(x as double) * w), 0D, (acc, v) -> acc + v) > 0
         |    THEN cast(pow(2, p) as bigint) ELSE 0L END),
         |  0L, (acc, b) -> acc + b)""".stripMargin)
    val sigs = e.select(col("vec_id") +: col("embedding") +:
      (0 until 8).map(b => sig(b).as(s"s$b")): _*)
    lshCandidateRefine(sigs, expr(
      """aggregate(zip_with(ae, be, (x, y) -> cast(x as double) * cast(y as double)),
        |          0D, (acc, v) -> acc + v)
        | / (sqrt(aggregate(ae, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))
        |    * sqrt(aggregate(be, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double))))
        |""".stripMargin))
  }

  /** 8-band explode, skew-guarded candidate equi-join, and cosine>0.4
    * refine shared by d02_ann_lsh and its oracled twin — ONE copy of the
    * machinery, so a fix to the banding or join can never diverge between
    * the production variant and the twin that proves it. `cosRefine`
    * scores an (ae, be) pair: the raw double fold for production,
    * order-independent quantized-integer sums for the exact twin.
    *
    * Skew guard (the minhashBandPairs rule, cap 256 here: 4-plane
    * signatures give only 16 buckets per band, so expected bucket size
    * is N/16 and a tight cap would star legitimately-sized buckets and
    * cost recall): ≤256-member buckets self-join all pairs; larger
    * buckets star to the member with the minimum vec_id — O(members), so
    * a mega-cluster of near-identical embeddings stays connected to its
    * representative instead of going quadratic or (worse) being silently
    * exempted.
    */
  private def lshCandidateRefine(sigs: DataFrame,
      cosRefine: org.apache.spark.sql.Column): DataFrame = {
    val bands = sigs.select(col("vec_id"), col("embedding"),
      posexplode(array((0 until 8).map(b => col(s"s$b")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")
    val wb = Window.partitionBy("band", "sig")
    val sized = bands.withColumn("bn", count(lit(1)).over(wb))
      .withColumn("mn", min("vec_id").over(wb))
      .withColumn("mne", min_by(col("embedding"), col("vec_id")).over(wb))
    val pruned = sized.filter(col("bn") <= 256)
    val a = pruned.select(col("vec_id").as("a_id"), col("embedding").as("ae"),
      col("band"), col("sig"))
    val b = pruned.select(col("vec_id").as("b_id"), col("embedding").as("be"),
      col("band"), col("sig"))
    val allPairs = a.join(b, Seq("band", "sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "ae", "be")
    val starPairs = sized.filter(col("bn") > 256 && col("vec_id") =!= col("mn"))
      .select(col("mn").as("a_id"), col("vec_id").as("b_id"),
        col("mne").as("ae"), col("embedding").as("be"))
    allPairs.union(starPairs).dropDuplicates("a_id", "b_id")
      .withColumn("cos", cosRefine)
      .filter(col("cos") > 0.4)
      .select(col("a_id"), col("b_id"), dec4(col("cos")).as("cos"))
      .orderBy("a_id", "b_id")
  }

  // D2b-exact — the hyperplane-LSH machinery under engine-portable,
  // ORDER-INDEPENDENT arithmetic: plane weights are integers in
  // [-500, 500) derived from md5 prefixes (both engines bit-identical),
  // and BOTH the sign test and the cosine refine run on embeddings
  // quantized to round(x·1e6) — per-plane dots (max |64·1e6·500| ≈
  // 3.2e10) and pair dots/norms (max 64·1e12 ≈ 6.4e13 < 2^53) are exact
  // BIGINT sums, so neither bucket membership nor the refine value can
  // drift with aggregation order in EITHER engine; the only floating
  // point left is scalar sqrt/divide on exact integers, identical
  // everywhere. Same 8-band × 4-plane banding, candidate join, and
  // cosine>0.4 refine as d02_ann_lsh (shared lshCandidateRefine); that
  // entry keeps the cheap xxhash64 weights and its recall spec, this
  // twin hash-oracles the machinery (the d01_cluster_exact /
  // d03_minhash_exact pattern).
  def d02_ann_exact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = "x -> CAST(round(CAST(x AS DOUBLE) * 1000000D) AS BIGINT)"
    def sig(band: Int) = expr(
      s"""aggregate(
         |  transform(sequence(0, 3), p ->
         |    CASE WHEN aggregate(zip_with(embedding,
         |        transform(sequence(0, 63), d ->
         |          CAST(conv(substring(md5(CAST(d * 64 + p + $band * 4
         |            AS STRING)), 1, 15), 16, 10) AS BIGINT) % 1000 - 500),
         |        (x, w) -> CAST(round(CAST(x AS DOUBLE) * 1000000D) AS BIGINT) * w),
         |      0L, (acc, v) -> acc + v) > 0
         |    THEN cast(pow(2, p) as bigint) ELSE 0L END),
         |  0L, (acc, b) -> acc + b)""".stripMargin)
    val sigs = e.select(col("vec_id") +: col("embedding") +:
      (0 until 8).map(b => sig(b).as(s"s$b")): _*)
    lshCandidateRefine(sigs, expr(
      s"""CAST(aggregate(zip_with(transform(ae, $q), transform(be, $q),
         |    (xa, xb) -> xa * xb), 0L, (acc, v) -> acc + v) AS DOUBLE)
         | / (sqrt(CAST(aggregate(transform(ae, $q), 0L,
         |      (acc, xa) -> acc + xa * xa) AS DOUBLE))
         |  * sqrt(CAST(aggregate(transform(be, $q), 0L,
         |      (acc, xb) -> acc + xb * xb) AS DOUBLE)))""".stripMargin))
  }

  /** Train the IVF coarse quantizer: deterministic every-31st seeds
    * refined by `iters` distributed Lloyd rounds (spherical k-means:
    * cosine assignment map-side against centroid literals, per-cell mean
    * via the [[graft.functions.VectorMean]] UDAF — partial+final, one
    * shuffle of K×dim partial sums per round). The driver holds only K
    * centroid rows per round — the bounded "train the quantizer, ship it
    * to executors" shape a real IVF index build uses. Empty cells keep
    * their previous centroid. (Double-sum order across partitions can
    * jitter the last ulp of a mean — harmless for a quantizer: the recall
    * floor, not a hash, gates these entries.)
    */
  private[graft] def trainIvfCentroids(e: DataFrame, k: Int = 16,
      iters: Int = 2, hier: Boolean = false): Array[(Long, Seq[Float])] = {
    var cents: Array[(Long, Seq[Float])] =
      e.filter(pmod(col("vec_id"), lit(31)) === 0)
        .orderBy("vec_id").limit(k)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mean = udaf(graft.functions.VectorMean)
    for (_ <- 0 until iters) {
      // hier: Lloyd rounds assign through the two-level route too —
      // approximate k-means, standard for large-K quantizer training;
      // without it every training round pays the flat N×K pass the
      // hierarchical assignment exists to avoid
      val assigned =
        if (hier) assignCellsHier(e, cents) else assignCells(e, cents)
      val byCell = assigned
        .groupBy("cell").agg(mean(col("embedding")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      cents = cents.map { case (cid, old) =>
        (cid, byCell.get(cid).filter(_.nonEmpty)
          .map(_.map(_.toFloat)).getOrElse(old))
      }
    }
    cents
  }

  // D2-scale (IVF) — inverted-file ANN: a 16-centroid coarse quantizer
  // (k-means-trained from deterministic seeds, [[trainIvfCentroids]])
  // assigns every vector to its nearest cell MAP-SIDE (centroids are a
  // bounded model constant inlined as literals — the same "ship the
  // trained quantizer to executors" shape a real IVF index uses; no
  // shuffle, no window). Probes scan their nprobe=6 nearest cells;
  // candidates come from one broadcast equi-join on cell id, exact
  // cosine refine inside. Cost: corpus × K map work + corpus-linear probe
  // join — the classic IVF trade (recall bounded by nprobe/K). No SQL
  // oracle (approximate); spec checks recall vs d02 brute force.
  def d02_ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    ivfSearch(s, e, trainIvfCentroids(e))
  }

  /** The IVF search machinery with the centroid source split out (shared
    * by the trained d02_ann_ivf and the hash-oracled d02_ivf_exact twin):
    * map-side cell assignment against centroid literals, nprobe-cell
    * probe fan-out, broadcast equi-join on cell id, exact cosine refine
    * to top-5.
    */
  private[graft] def ivfSearch(s: SparkSession, e: DataFrame,
      cents: Array[(Long, Seq[Float])], nprobe: Int = 6): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    def cellScores(vec: org.apache.spark.sql.Column) = array(cents.toIndexedSeq.map {
      case (cid, cvec) => struct(
        call_function("cosine_sim", vec, typedlit(cvec)).as("s"),
        lit(cid).as("c"))
    }: _*)
    // argmax over the struct array: max by (s, then c) — pure expression
    val assigned = e.select(col("vec_id").as("oid"), col("embedding").as("oe"),
      array_max(cellScores(col("embedding"))).getField("c").as("cell"))
    // probes fan out to their nprobe best cells: recall is bounded by
    // nprobe/K, and 6/16 keeps the probe scan well under half the corpus
    // while clearing the top-5 neighbors' cell spread (4 measured 0.57
    // recall@5, 6 buys the next tier at +50% probe-side work)
    val probeCells = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(slice(reverse(array_sort(cellScores(col("embedding")))), 1, nprobe)
          .getField("c")).as("cell"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))
    assigned.join(broadcast(probeCells), "cell")
      .filter(col("qid") =!= col("oid"))
      .withColumn("cos", expr("cosine_sim(qe, oe)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("oid"), dec4(col("cos")).as("cos"))
      .orderBy("qid", "rn")
  }

  // D2c-exact — the FULL IVF machinery (literal-inline cell assignment,
  // nprobe probe fan-out with the array_sort/reverse/slice tie-breaks,
  // broadcast cell join, cosine refine) under the d02_ann_exact recipe:
  // embeddings quantize to round(x·1e6) integers (float-exact; every
  // dot/norm is an exact order-independent double sum), and the centroids
  // are the UNTRAINED every-31st seeds (the Lloyd rounds' double means
  // are the one order-sensitive stage, which is exactly why d02_ann_ivf
  // is rows-only). Same ivfSearch code path — only the centroid source
  // and input quantization differ — so the probe/assign/refine machinery
  // itself is hash-verified the way d01_semdedup_exact covers SemDeDup.
  def d02_ivf_exact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), expr(
      """transform(embedding, x ->
        |  CAST(round(CAST(x AS DOUBLE) * 1000000D) AS FLOAT))""".stripMargin)
      .as("embedding"))
    val cents = e.filter(pmod(col("vec_id"), lit(31)) === 0)
      .orderBy("vec_id").limit(16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    ivfSearch(s, e, cents)
  }

  // D2flt — FILTERED vector search ("neighbors within my category"),
  // the predicate-constrained ANN serve every production vector store
  // exposes and the reference's query surface lacks outright. Each
  // probe retrieves top-5 among candidates sharing ITS OWN label —
  // per-query filtering, the hard case (a global predicate could
  // pre-filter once; a per-query one must ride the candidate join).
  // Brute force is the correctness anchor AND the honest small-filter
  // plan: a selective predicate shrinks candidates enough that exact
  // scan wins — here the label equi-join (broadcast hash, ~1/10
  // selectivity) replaces the unfiltered entry's crossJoin, so the
  // filter prunes BEFORE the cosine, not after. Hash-oracled like
  // d02_cosine_topk (dec4-rounded doubles).
  def d02_ann_filtered(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val e = t(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))
    e.select(col("vec_id").as("oid"), col("embedding").as("oe"),
        col("label").as("olabel"))
      .join(broadcast(probes), col("olabel") === col("qlabel"))
      .filter(col("qid") =!= col("oid"))
      .withColumn("cos", expr("cosine_sim(qe, oe)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("oid"), dec4(col("cos")).as("cos"))
      .orderBy("qid", "rn")
  }

  /** IVF search with a per-probe label filter on the candidate join —
    * the scale path of [[d02_ann_filtered]]. The label predicate rides
    * the SAME broadcast cell join (cell AND label equi-keys), so
    * filtering prunes candidates before any cosine is computed; nprobe
    * oversamples 6 → 10 because a ~1/10-selective filter thins each
    * probed cell's candidate pool — the selectivity-aware knob a
    * filtered-ANN serve tunes (at production K in the thousands the
    * multiplier matters; at K=16 it saturates near "most cells", which
    * is honest about what a 10-way filter does to a 16-cell index).
    */
  private[graft] def ivfFilteredSearch(s: SparkSession, e: DataFrame,
      cents: Array[(Long, Seq[Float])], nprobe: Int = 10): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    def cellScores(vec: org.apache.spark.sql.Column) =
      array(cents.toIndexedSeq.map { case (cid, cvec) => struct(
        call_function("cosine_sim", vec, typedlit(cvec)).as("s"),
        lit(cid).as("c"))
      }: _*)
    val assigned = e.select(col("vec_id").as("oid"),
      col("embedding").as("oe"), col("label").as("olabel"),
      array_max(cellScores(col("embedding"))).getField("c").as("cell"))
    val probeCells = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"),
        explode(slice(reverse(array_sort(cellScores(col("embedding")))),
          1, nprobe).getField("c")).as("cell"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))
    assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("qid") =!= col("oid") && col("olabel") === col("qlabel"))
      .withColumn("cos", expr("cosine_sim(qe, oe)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("oid"), dec4(col("cos")).as("cos"))
      .orderBy("qid", "rn")
  }

  // D2flt-scale — the filtered IVF under the exact-replay recipe
  // (round(x·1e6) quantization, untrained every-31st seeds: every
  // dot/norm an exact order-independent double sum), so the FILTERED
  // candidate machinery itself — cell assignment, oversampled fan-out,
  // label-constrained broadcast join, refine — is hash-verified the way
  // d02_ivf_exact covers the unfiltered path.
  def d02_ann_filtered_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), expr(
      """transform(embedding, x ->
        |  CAST(round(CAST(x AS DOUBLE) * 1000000D) AS FLOAT))""".stripMargin)
      .as("embedding"), col("label"))
    val cents = e.filter(pmod(col("vec_id"), lit(31)) === 0)
      .orderBy("vec_id").limit(16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    ivfFilteredSearch(s, e, cents)
  }

  // D2-scale (PQ) — product-quantization ANN: normalized 64-dim vectors
  // split into 4 subspaces of 16 dims; each subspace quantizes to one of
  // 16 deterministic codewords (the same every-31st sample the IVF coarse
  // quantizer uses), so a vector stores as 4 small codes — 64× smaller
  // than the float vector, THE memory/bandwidth lever of billion-vector
  // search. Probes precompute a 64-entry lookup table (dot of their
  // subvector with every codeword); the ADC scan scores a candidate with
  // 4 table adds instead of 64 multiplies, takes the top-200, and an exact
  // cosine refine re-ranks to top-5. Encode and LUT are map-side pure
  // expressions; codes ride a broadcast join (compose with d02_ann_ivf's
  // cells to also bound the scan). Approximate → rows-only; recall spec.
  // (The refine carries the original vectors for simplicity; a production
  // pipeline re-fetches the shortlist by id to keep the scan code-only.)
  private def pqNormalize(v: Seq[Float]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(_.toDouble / n)
  }

  // normalized vector as array<double> (unit cosine domain for PQ)
  private val pqNv = expr(
    """transform(embedding, x -> cast(x as double) /
      |  sqrt(aggregate(embedding, 0D,
      |    (a, y) -> a + cast(y as double) * cast(y as double))))""".stripMargin)

  private def pqDot(vec: org.apache.spark.sql.Column, w: Seq[Double]) =
    aggregate(zip_with(vec, typedlit(w), (x, y) => x * y),
      lit(0.0), (a, v) => a + v)

  /** L2-argmin PQ encoder for subspace `sb`:
    * argmin_j ‖x − c_j‖² = argmax_j (x·c_j − ‖c_j‖²/2) — a pure
    * expression over the codebook literals, ties to the lowest code id.
    */
  private def pqCode(cents: Array[Array[Seq[Double]]], sb: Int) =
    array_max(array((0 until 16).map { j =>
      val c = cents(sb)(j)
      val bias = c.map(x => x * x).sum / 2
      struct((pqDot(slice(col("nv"), sb * 16 + 1, 16), c) - lit(bias)).as("s"),
        lit(j).as("c"))
    }: _*)).getField("c")

  /** Train the PQ codebooks: the deterministic every-31st normalized
    * sample slices seed 4 × 16 codewords, refined by `iters` distributed
    * Lloyd rounds — L2 assignment ([[pqCode]]) map-side, per-(subspace,
    * code) mean via [[graft.functions.VectorMean]], all four subspaces in
    * ONE shuffle per round (posexplode to (sb, code, subvec) rows). The
    * driver holds 64 codeword rows per round — bounded model training,
    * exactly how a production PQ index fits its codebooks. Empty codes
    * keep their previous codeword.
    */
  private[graft] def trainPqCodebooks(e: DataFrame,
      iters: Int = 2, seedMod: Int = 31): Array[Array[Seq[Double]]] = {
    val sample: Array[Seq[Float]] = e.filter(pmod(col("vec_id"), lit(seedMod)) === 0)
      .orderBy("vec_id").limit(16)
      .collect().map(_.getSeq[Float](1))
    var cents: Array[Array[Seq[Double]]] = Array.tabulate(4)(sb =>
      sample.map(v => pqNormalize(v).slice(sb * 16, sb * 16 + 16)))
    val mean = udaf(graft.functions.VectorMean)
    for (_ <- 0 until iters) {
      val byCode = e.withColumn("nv", pqNv)
        .select(posexplode(array((0 until 4).map { sb =>
          struct(lit(sb).as("sb"), pqCode(cents, sb).as("code"),
            slice(col("nv"), sb * 16 + 1, 16).cast("array<float>").as("sub"))
        }: _*)))
        .select(col("col.sb").as("sb"), col("col.code").as("code"),
          col("col.sub").as("sub"))
        .groupBy("sb", "code").agg(mean(col("sub")).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      cents = Array.tabulate(4)(sb => Array.tabulate(16)(j =>
        byCode.get((sb, j)).filter(_.nonEmpty).getOrElse(cents(sb)(j))))
    }
    cents
  }

  def d02_ann_pq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // codebook: 4 × 16 trained codewords ([[trainPqCodebooks]]) — a
    // bounded model constant shipped to executors as literals
    pqSearch(s, e, trainPqCodebooks(e))
  }

  // D2d-exact — the FULL PQ machinery (normalize, L2-argmin encode, LUT
  // build, 4-add ADC scan, 200-candidate shortlist, exact cosine refine)
  // hash-oracled WITHOUT quantizing anything: with UNTRAINED codebooks
  // (iters=0 — the every-31st normalized sample slices, re-derivable in
  // SQL) there is no distributed aggregation anywhere in the dataflow —
  // every float reduction is a SEQUENTIAL array fold (Spark `aggregate`
  // over array literals / the cosine_sim element loop), which DuckDB's
  // list_reduce replays in the identical order, so every double is
  // bit-identical across engines and every rank/tie-break agrees. The
  // Lloyd rounds' partition-order double means are the ONE order-
  // sensitive stage — exactly why d02_ann_pq stays rows-only while this
  // twin hash-verifies the machinery (completing the twin set: LSH/
  // MinHash/SimHash/CC/SemDeDup/IVF/PQ all exact-oracled somewhere).
  def d02_pq_exact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    pqSearch(s, e, trainPqCodebooks(e, iters = 0))
  }

  /** The PQ search machinery with the codebook source split out (shared
    * by the trained d02_ann_pq and the hash-oracled d02_pq_exact twin).
    */
  private[graft] def pqSearch(s: SparkSession, e: DataFrame,
      cents: Array[Array[Seq[Double]]]): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val corpus = e.withColumn("nv", pqNv)
      .select(col("vec_id").as("oid") +: col("embedding").as("oe") +:
        (0 until 4).map(sb => pqCode(cents, sb).as(s"c$sb")): _*)
    val probes = e.filter(col("vec_id") < 20).withColumn("nv", pqNv)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        array((for { sb <- 0 until 4; j <- 0 until 16 } yield
          pqDot(slice(col("nv"), sb * 16 + 1, 16), cents(sb)(j))): _*).as("lut"))
    val wAdc = Window.partitionBy("qid").orderBy(col("adc").desc, col("oid"))
    val wCos = Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))
    corpus.crossJoin(broadcast(probes))
      .filter(col("qid") =!= col("oid"))
      .withColumn("adc",
        element_at(col("lut"), col("c0") + 1) +
          element_at(col("lut"), col("c1") + 17) +
          element_at(col("lut"), col("c2") + 33) +
          element_at(col("lut"), col("c3") + 49))
      .withColumn("arn", row_number().over(wAdc))
      // 200-candidate ADC shortlist (was 100): the exact refine prices
      // each extra candidate at one cosine, so recall lost to 4-bit code
      // quantization comes back nearly free (the d02_ann_ivfpq lesson)
      .filter(col("arn") <= 200)
      .withColumn("cos", expr("cosine_sim(qe, oe)"))
      .withColumn("rn", row_number().over(wCos))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("oid"), dec4(col("cos")).as("cos"))
      .orderBy("qid", "rn")
  }

  // D2-scale (IVF+PQ) — the composed billion-vector index shape: the IVF
  // coarse quantizer bounds WHICH vectors are scored (probes scan their
  // nprobe=8 nearest cells only) and PQ bounds HOW each candidate is
  // scored (4 LUT adds against 8-bit codes instead of a 64-dim float
  // product). Memory per corpus vector: cell id + 4 codes; the scan
  // never touches the float vectors until the top-200 exact-cosine
  // refine. Both models are bounded literals trained distributively
  // (trainIvfCentroids / trainPqCodebooks). Approximate → rows-only;
  // recall spec vs brute force.
  def d02_ann_ivfpq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    ivfPqSearch(s, e, trainIvfCentroids(e), trainPqCodebooks(e))
  }

  // D2e-exact — the COMPOSED IVF+PQ machinery hash-oracled: untrained
  // seed models for both stages (the d02_ivf_exact / d02_pq_exact
  // recipe composed) make the whole dataflow free of distributed
  // aggregation, so the SQL replay's sequential folds agree
  // bit-for-bit: cell assignment, nprobe=8 fan-out, PQ encode, 4-add
  // ADC over the cell-bounded candidates, shortlist, cosine refine.
  // Same ivfPqSearch code path as the trained production entry.
  def d02_ivfpq_exact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    ivfPqSearch(s, e, trainIvfCentroids(e, iters = 0),
      trainPqCodebooks(e, iters = 0))
  }

  /** IVF cell assignment + PQ encode of `e` under frozen models:
    * (vec_id, cell, c0..c3) — the rows a PERSISTED ANN index table
    * stores (cell id + 4 codes per corpus vector, the ~64×-smaller
    * representation the scan reads instead of floats). Map-side pure
    * expressions against model literals; shared by the per-query
    * ivfPqSearch path and the committed-index d02_ann_indexed entry, so
    * the index a table serves from is byte-for-byte what the per-query
    * path would compute.
    */
  private[graft] def ivfPqEncode(s: SparkSession, e: DataFrame,
      ivf: Array[(Long, Seq[Float])],
      pq: Array[Array[Seq[Double]]]): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    def cellScores(vec: org.apache.spark.sql.Column) = array(ivf.toIndexedSeq.map {
      case (cid, cvec) => struct(
        call_function("cosine_sim", vec, typedlit(cvec)).as("s"),
        lit(cid).as("c"))
    }: _*)
    e.withColumn("nv", pqNv)
      .withColumn("m", array_max(cellScores(col("embedding"))))
      .select(col("vec_id") +: col("m.c").as("cell") +:
        (0 until 4).map(sb => pqCode(pq, sb).as(s"c$sb")): _*)
  }

  /** Serve top-5 from an ENCODED corpus (`codes`: vec_id, cell, c0..c3)
    * + the float vectors (probe source and exact refine): nprobe=8 cell
    * fan-out, 4-add ADC, 200-shortlist, cosine refine — the query half of
    * the persisted-index split.
    */
  private[graft] def ivfPqServe(s: SparkSession, codes: DataFrame,
      vectors: DataFrame, ivf: Array[(Long, Seq[Float])],
      pq: Array[Array[Seq[Double]]],
      // probe set + result depth default to the d02 contract (first 20
      // vectors, top-5); the hybrid-fusion entry narrows the probes to
      // the fixed query ids and deepens to the fusion's top-K
      probeFilter: org.apache.spark.sql.Column = col("vec_id") < 20,
      topK: Int = 5): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    def cellScores(vec: org.apache.spark.sql.Column) = array(ivf.toIndexedSeq.map {
      case (cid, cvec) => struct(
        call_function("cosine_sim", vec, typedlit(cvec)).as("s"),
        lit(cid).as("c"))
    }: _*)
    // the scan side reads codes; floats attach only for the refine (a
    // production layout re-fetches the ≤200-per-probe shortlist by id —
    // here the join is corpus-wide because the refine carries oe through
    // the ADC for simplicity, same trade the other d02 entries document)
    val corpus = codes.join(vectors, "vec_id")
      .select(col("vec_id").as("oid"), col("embedding").as("oe"),
        col("cell"), col("c0"), col("c1"), col("c2"), col("c3"))
    // nprobe=8 (vs the pure-IVF variant's 6): the composed index pays ~1
    // LUT-add per extra candidate, so doubling the probed cells buys back
    // the recall the two stacked approximations cost almost for free —
    // the exact-cosine refine still touches only the top-200 shortlist
    val probes = vectors.filter(probeFilter).withColumn("nv", pqNv)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(slice(reverse(array_sort(cellScores(col("embedding")))), 1, 8)
          .getField("c")).as("cell"),
        array((for { sb <- 0 until 4; j <- 0 until 16 } yield
          pqDot(slice(col("nv"), sb * 16 + 1, 16), pq(sb)(j))): _*).as("lut"))
    val wAdc = Window.partitionBy("qid").orderBy(col("adc").desc, col("oid"))
    val wCos = Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))
    corpus.join(broadcast(probes), "cell")
      .filter(col("qid") =!= col("oid"))
      .withColumn("adc",
        element_at(col("lut"), col("c0") + 1) +
          element_at(col("lut"), col("c1") + 17) +
          element_at(col("lut"), col("c2") + 33) +
          element_at(col("lut"), col("c3") + 49))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= 200)
      .withColumn("cos", expr("cosine_sim(qe, oe)"))
      .withColumn("rn", row_number().over(wCos))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("rn"), col("oid"), dec4(col("cos")).as("cos"))
      .orderBy("qid", "rn")
  }

  /** Committed ANN index layout: one row per vector (IVF cell + 4 PQ
    * codes), PARTITIONED BY CELL so the serve's probe→cell join
    * runtime-prunes (DPP) the index scan to the probed cells' files —
    * the semantic sibling of the BM25 tkey/thash layout. At 100 TB
    * (thousands of cells) this is the difference between a full-index
    * scan per query and reading only the nprobe cells. ONE definition
    * for the six build sites (batch/trained/rebuild/hybrid entries, the
    * stream maintainers, the specs) so they cannot diverge.
    */
  private[graft] val AnnIndexDdl =
    "vec_id BIGINT,cell BIGINT,c0 INT,c1 INT,c2 INT,c3 INT"
  private[graft] val AnnIndexSpec = graft.lake.TruncateSpec("cell", 1L)

  /** Frozen untrained seed models over a COMMITTED corpus: every-17th
    * vec_id seeds (≤16) + iteration-0 PQ codebooks — THE model recipe the
    * committed-ANN entries and their oracles share (the oracles' seed
    * predicate is `vec_id % 17 = 0` over the committed batch). One
    * definition so the five build sites cannot diverge from it. */
  private[graft] def annSeedModels(committed: DataFrame)
      : (Array[(Long, Seq[Float])], Array[Array[Seq[Double]]]) = {
    val ivf = committed.filter(pmod(col("vec_id"), lit(17)) === 0)
      .orderBy("vec_id").limit(16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    (ivf, trainPqCodebooks(committed, iters = 0, seedMod = 17))
  }

  /** Table-property keys + exact text codec for the frozen ANN models —
    * what makes a committed index table SELF-CONTAINED: a fresh session
    * loads the table, parses the models from its properties, and serves,
    * never retraining. Float.toString/parseFloat (and the Double pair)
    * round-trip bit-exactly by the Java language spec, so the served
    * scores are identical to the build session's.
    */
  val AnnIvfProp = "graft.ann.ivf.model"
  val AnnPqProp = "graft.ann.pq.model"

  private[graft] def ivfModelToString(ivf: Array[(Long, Seq[Float])]): String =
    ivf.map { case (cid, v) => s"$cid:${v.mkString(",")}" }.mkString(";")

  private[graft] def ivfModelFromString(s: String): Array[(Long, Seq[Float])] =
    s.split(';').map { part =>
      val Array(cid, vs) = part.split(':')
      (cid.toLong, vs.split(',').toSeq.map(_.toFloat))
    }

  private[graft] def pqModelToString(pq: Array[Array[Seq[Double]]]): String =
    pq.map(_.map(_.mkString(",")).mkString("|")).mkString(";")

  private[graft] def pqModelFromString(s: String): Array[Array[Seq[Double]]] =
    s.split(';').map(_.split('|').map(_.split(',').toSeq.map(_.toDouble)))

  /** The composed IVF+PQ search machinery with both model sources split
    * out (shared by d02_ann_ivfpq and the d02_ivfpq_exact twin): encode
    * the corpus, then serve — the same two halves d02_ann_indexed
    * persists between, so the per-query path and the committed-index path
    * can never diverge.
    */
  private[graft] def ivfPqSearch(s: SparkSession, e: DataFrame,
      ivf: Array[(Long, Seq[Float])],
      pq: Array[Array[Seq[Double]]]): DataFrame =
    ivfPqServe(s, ivfPqEncode(s, e, ivf, pq), e, ivf, pq)

  // D3 — exact token-set Jaccard over a bounded candidate set (same lang,
  // doc_id < 100). Integer-ratio math → bit-identical across engines.
  def d03_jaccard_pairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"), col("lang"),
        array_distinct(tokens(col("text"))).as("toks"))
    val a = d.select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
      col("toks").as("a_toks"))
    val b = d.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
      col("toks").as("b_toks"))
    a.join(b, col("a_lang") === col("b_lang") && col("a_id") < col("b_id"))
      .withColumn("ni", size(array_intersect(col("a_toks"), col("b_toks"))))
      .withColumn("j", col("ni").cast("double") /
        (size(col("a_toks")) + size(col("b_toks")) - col("ni")))
      .filter(col("j") >= 0.3)
      .select(col("a_id"), col("b_id"), dec4(col("j")).as("j"))
      .orderBy("a_id", "b_id")
  }

  // D3-scale — MinHash + LSH banding over 3-token shingles: per-shingle
  // xxhash64 under 8 seed mixes → 8 min-hashes → 4 bands of 2 → candidates
  // join on equal band values. Linear in corpus size × bucket-collision
  // rate (the 100 TB path). Two scale guards that matter in production:
  // shingling (single tokens from a small vocab make signatures collide
  // pathologically) and a bucket-size cap — an oversized bucket is
  // non-discriminative and would go quadratic, the classic LSH skew.
  // Approximate → no SQL oracle; spec checks containment vs exact Jaccard.
  def d03_minhash_lsh(s: SparkSession, dir: String): DataFrame = {
    // Hash each 3-token shingle ONCE (xxhash64 over the token triple — no
    // string concatenation, no array slicing), then derive the 8 min-hash
    // lanes by arithmetic mixing of that one hash: 8 folds of multiply-add
    // instead of 8 string re-hashes. This is the difference between ~1 s
    // and ~14 s at sf0.1, and the same factor at 100 TB.
    val d = fanOut(t(s, dir, "documents"), "doc_id")
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), expr(
        """CASE WHEN size(toks) < 3 THEN array(xxhash64(text))
          |ELSE transform(sequence(0, size(toks) - 3),
          |  i -> xxhash64(toks[i], toks[i + 1], toks[i + 2])) END"""
          .stripMargin).as("shash"))
    // lane mixer: rehash the precomputed long with the lane index — native
    // long hashing (no string work, no ANSI overflow)
    val withSig = d.withColumn("sig", expr(
      """transform(sequence(0, 7), b ->
        |  aggregate(shash, 9223372036854775807L,
        |    (acc, h) -> least(acc, xxhash64(h, b))))""".stripMargin))
    minhashBandPairs(withSig)
  }

  /** 4 bands × 2 rows, skew-guarded bucket self-join shared by
    * d03_minhash_lsh and its md5-portable oracled twin — ONE copy of the
    * candidate machinery, so a banding/skew fix can never diverge between
    * the production variant and the twin that proves it.
    *
    * Skew guard: buckets with ≤ 64 members self-join (all pairs); LARGER
    * buckets fall back to a STAR — every member pairs with the bucket's
    * minimum doc_id, O(members) instead of O(members²). Dropping big
    * buckets (the previous guard) silently exempted exactly the
    * most-duplicated content from dedup: a boilerplate mega-cluster at
    * 100 TB lands >64 members in EVERY band, got zero candidate pairs,
    * and survived d01_dedup_cluster untouched. The star keeps such a
    * bucket one connected component for the downstream clustering at
    * linear cost (the SemDeDup cell-cap lesson applied here). Both
    * windows (count + min) share the bucket partitioning the join needs
    * anyway. Pure dataflow: no persist/cache — pinning a corpus-sized
    * banded intermediate is what a 100 TB run cannot do.
    */
  /** Explode an 8-lane signature frame into its 4 × 2-row LSH band keys
    * (doc_id, band, h0, h1) — shared by the pair generator below and the
    * incremental gate's band-space join. */
  private[graft] def explodeBands(withSig: DataFrame): DataFrame =
    withSig.select(col("doc_id"),
      posexplode(expr("transform(sequence(0, 3), b -> " +
        "struct(b as band, sig[b*2] as h0, sig[b*2+1] as h1))")))
      .select(col("doc_id"), col("col.band").as("band"),
        col("col.h0").as("h0"), col("col.h1").as("h1"))

  /** Committed band-index table shape, shared by every index site
    * (batch gate, streaming gates, compaction bench). Band hashes are
    * MinHash MINIMA, so h0 skews hard toward low values — partitioning
    * the index on truncate(h0) measured ~70% of files in the low-h0
    * quarter (BENCH_index_compact_x10_r09.json). The LAYOUT key is
    * therefore a uniformized re-key: xxhash64 over the whole
    * (band, h0, h1) key, pmod'd into [[BandIndexBuckets]] buckets —
    * uniform regardless of the minima skew, same 16-bucket fan-out the
    * old 2^56-wide truncation aimed for. Gates and maintenance still
    * JOIN on (band, h0, h1); `bkey` exists only for layout (even
    * maintenance spread, partition-scoped compaction that now targets a
    * true 1/16th of the files, not a hot quarter). */
  private[graft] val BandIndexDdl = "band INT,h0 BIGINT,h1 BIGINT,bkey BIGINT"
  private[graft] val BandIndexBuckets = 16L

  /** Derive the uniform layout key for rows headed into a band-index
    * table — apply to every frame written there so the partition column
    * is always consistent with (band, h0, h1). */
  private[graft] def withBandKey(df: DataFrame): DataFrame =
    df.withColumn("bkey",
      pmod(xxhash64(col("band"), col("h0"), col("h1")),
        lit(BandIndexBuckets)))

  private def minhashBandPairs(withSig: DataFrame): DataFrame = {
    val bands = explodeBands(withSig)
    val wb = Window.partitionBy("band", "h0", "h1")
    val sized = bands.withColumn("bn", count(lit(1)).over(wb))
      .withColumn("mn", min("doc_id").over(wb))
    val pruned = sized.filter(col("bn") <= 64)
    val l = pruned.select(col("doc_id").as("a_id"), col("band"), col("h0"), col("h1"))
    val r = pruned.select(col("doc_id").as("b_id"), col("band"), col("h0"), col("h1"))
    val allPairs = l.join(r, Seq("band", "h0", "h1"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val starPairs = sized.filter(col("bn") > 64 && col("doc_id") =!= col("mn"))
      .select(col("mn").as("a_id"), col("doc_id").as("b_id"))
    allPairs.union(starPairs).distinct()
      .orderBy("a_id", "b_id")
  }

  // D3b-exact — the MinHash-LSH machinery under a DuckDB-portable hash:
  // identical structure to d03_minhash_lsh (3-token shingles hashed once,
  // 8 min-hash lanes by per-lane rehash, 4 bands × 2 rows, ≤64-member
  // skew guard, bucket self-join) but every hash is a 60-bit md5 prefix
  // both engines compute bit-identically, so the ENTIRE candidate
  // generation — signatures, banding, skew pruning, join — hash-oracles
  // against SQL. d03_minhash_lsh stays the production path (native long
  // xxhash64 lanes, ~10× cheaper per shingle); this twin proves the
  // machinery exact, the way d01_cluster_exact oracles the CC machinery.
  /** The md5-portable MinHash signature of a (doc_id, text) frame —
    * 3-token shingles hashed to 60-bit md5 prefixes, 8 min-hash lanes by
    * per-lane rehash — factored out so d03_minhash_exact (full-corpus
    * pairs) and d01_minhash_incremental (increment-vs-committed gate)
    * derive signatures through ONE code path the same DuckDB CTEs replay.
    */
  private[graft] def md5MinhashSigs(d0: DataFrame): DataFrame = {
    def md5h(c: String) =
      s"CAST(conv(substring(md5($c), 1, 15), 16, 10) AS BIGINT)"
    // 9 md5 chains per shingle (1 shingle hash + 8 lane rehashes) — the
    // heaviest per-row expansion in the repo; never leave it bound to
    // the input file count (fanOut doc: measured 4.9 s -> 0.49 s)
    fanOut(d0, "doc_id").withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), expr(
        s"""CASE WHEN size(toks) < 3 THEN array(${md5h("text")})
          |ELSE transform(sequence(0, size(toks) - 3),
          |  i -> ${md5h("concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])")}) END"""
          .stripMargin).as("shash"))
      .withColumn("sig", expr(
        s"""transform(sequence(0, 7), b ->
          |  aggregate(shash, 9223372036854775807L, (acc, h) -> least(acc,
          |    ${md5h("concat(CAST(h AS STRING), '_', CAST(b AS STRING))")})))"""
          .stripMargin))
      .select("doc_id", "sig")
  }

  def d03_minhash_exact(s: SparkSession, dir: String): DataFrame =
    minhashBandPairs(md5MinhashSigs(
      t(s, dir, "documents").select(col("doc_id"), col("text"))))

  // D3c — SimHash near-dup: 60-bit signature (per-bit majority vote over
  // token hashes, single pass with an array-of-counters accumulator),
  // candidates via the pigeonhole banding of 4 × 15-bit chunks (hamming
  // distance ≤ 3 guarantees at least one identical chunk), then exact
  // hamming filter with bit_count(xor). The per-token hash is the first
  // 60 bits of md5 — a hash BOTH engines compute identically (Spark conv/
  // DuckDB 0x-cast on the same hex prefix), which turns the previously
  // engine-side operator into a DuckDB hash-oracled one: every later step
  // is exact integer arithmetic. (xxhash64 would be ~2× cheaper per token;
  // at 100 TB swap the hash back and keep the identical structure — the
  // signature layout, banding, and state shape do not change.)
  /** The 60-bit md5 SimHash signature of `text` as a single expression —
    * the d03_simhash derivation, shared verbatim with the streaming fuzzy
    * stage (`d07_stream_fuzzy`) so the batch oracle's SQL replay covers
    * both. Stateless map-side column ops: fuses into whatever scan (batch
    * or micro-batch) feeds it.
    */
  private[graft] val simhashSig: org.apache.spark.sql.Column = expr(
    """aggregate(
      |  aggregate(
      |    transform(array_distinct(split(text, ' ')),
      |      tk -> CAST(conv(substring(md5(tk), 1, 15), 16, 10) AS BIGINT)),
      |    array_repeat(0, 60),
      |    (acc, h) -> zip_with(acc, sequence(0, 59),
      |      (c, b) -> c + CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)),
      |  0L, (sig, c) -> (sig << 1) | CASE WHEN c > 0 THEN 1L ELSE 0L END)"""
      .stripMargin)

  def d03_simhash(s: SparkSession, dir: String): DataFrame = {
    val sigs = t(s, dir, "documents")
      .select(col("doc_id"), simhashSig.as("sig"))
    // pure dataflow (no persist): each join side recomputes the map-side
    // signature pass — the 100 TB-friendly trade vs pinning a corpus-sized
    // intermediate in executor memory for the session's lifetime
    val chunks = sigs.select(col("doc_id"), col("sig"),
      posexplode(expr(
        "transform(sequence(0, 3), i -> (sig >> (i * 15)) & 32767)")))
      .select(col("doc_id"), col("sig"), col("pos").as("band"), col("col").as("chunk"))
    // skew guard (the minhashBandPairs rule, refined for the hamming
    // filter): ≤64-member chunk buckets self-join; larger ones star each
    // SIGNATURE GROUP to its minimum doc — star edges are then always
    // hamming 0, so they survive the ≤3 filter and an identical-signature
    // mega-cluster stays connected to its representative at O(members)
    // instead of going quadratic (cross-signature pairs inside an
    // oversized bucket are the priced-in loss, as in minhashBandPairs)
    val wb = Window.partitionBy("band", "chunk")
    val wg = Window.partitionBy("band", "chunk", "sig")
    val sized = chunks.withColumn("bn", count(lit(1)).over(wb))
      .withColumn("mn", min("doc_id").over(wg))
    val pruned = sized.filter(col("bn") <= 64)
    val l = pruned.select(col("doc_id").as("a_id"), col("sig").as("a_sig"),
      col("band"), col("chunk"))
    val r = pruned.select(col("doc_id").as("b_id"), col("sig").as("b_sig"),
      col("band"), col("chunk"))
    val allPairs = l.join(r, Seq("band", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sig"), col("b_sig"))
    val starPairs = sized.filter(col("bn") > 64 && col("doc_id") =!= col("mn"))
      .select(col("mn").as("a_id"), col("doc_id").as("b_id"),
        col("sig").as("a_sig"), col("sig").as("b_sig"))
    allPairs.union(starPairs)
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_sig ^ b_sig)").as("hamming"))
      .dropDuplicates("a_id", "b_id")
      .filter(col("hamming") <= 3)
      .orderBy("a_id", "b_id")
  }

  // D4 — corpus stats by language/source.
  def d04_text_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang", "source")

  // D4b — token frequency top-50 (explode + agg).
  def d04_token_topn(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(50)

  // D4c — order-sensitive document fingerprint (position-weighted rolling
  // hash over tokens) — pure integer math, identical in DuckDB.
  def d04_fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .groupBy("doc_id")
      .agg((sum((length(col("col")) * 31 + ascii(col("col")))
        * (col("pos") + 1)) % 2147483647L).as("fp"))
      .orderBy("doc_id")

  // D4d — token count + quality scoring (avg token length, keyword ratio).
  def d04_quality(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        dec4(col("n_chars").cast("double") / size(toks)).as("avg_tok_len"),
        dec4(size(filter(toks, tk => tk.isin("value", "table", "row")))
          .cast("double") / size(toks)).as("kw_ratio"))
      .orderBy("doc_id")
  }

  // D4f — training-mix curation: per-language top-5 documents by quality
  // score (avg token length; IEEE division is bit-identical across
  // engines, doc_id tie-break totalizes the order).
  //
  // TWO-PHASE top-K, not one bare per-lang window: a window partitioned
  // only by lang sorts the dominant language's ENTIRE corpus on one task
  // at 100 TB (the d04_budget_pack shape). Instead:
  //   1. candidate cut per (lang, scan slice): each of the global per-lang
  //      top-5 rows is by definition in its own slice's top-5, so keeping
  //      5 per (lang, slice) preserves them — and bounds every task's sort
  //      to one slice;
  //   2. final per-lang window over ≤ 5 × slices rows per language — tiny.
  // Any slicing gives a correct superset; spark_partition_id() reuses the
  // scan's own splits so phase 1 adds no extra exchange of the full rows.
  def d04_curation(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scored = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      size(toks).cast("long").as("n_tok"),
      (col("n_chars").cast("double") / size(toks)).as("score"))
    val wSlice = Window.partitionBy("lang", "slice")
      .orderBy(col("score").desc, col("doc_id"))
    val cands = scored.withColumn("slice", spark_partition_id())
      .withColumn("crnk", row_number().over(wSlice))
      .filter(col("crnk") <= 5).drop("slice", "crnk")
    val w = Window.partitionBy("lang").orderBy(col("score").desc, col("doc_id"))
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_tok"),
        dec4(col("score")).as("score"))
      .orderBy("lang", "rnk")
  }

  // D4g — token-budget packing: walk each language's docs in quality order
  // and keep them until the running token total crosses the budget — "fill
  // N tokens per language from the best documents first". Integer running
  // sum (exact in both engines).
  //
  // TWO-PHASE cumulative sum, not one per-lang window: a window partitioned
  // only by lang puts the dominant language's ENTIRE corpus on one task at
  // 100 TB. Instead (the classic distributed prefix-sum):
  //   1. slice the score domain at sampled quantile cuts — the cuts are
  //      computed ONCE and embedded as LITERALS, so `slice` is a pure
  //      function of the row (repartitionByRange + spark_partition_id
  //      would re-sample per exchange instance — RangePartitioner seeds
  //      by RDD id — and the two plan branches below could label the same
  //      row differently whenever exchange reuse breaks);
  //   2. local running sums per (lang, slice) — each window group is a
  //      bounded quantile slice, the big language spans many of them;
  //   3. per-slice totals → tiny (≤ slices × langs rows) offset table;
  //   4. broadcast the offsets back: cum = local + offset of earlier slices.
  // Costs one extra exchange vs the single-window plan but no task ever
  // sorts more than one slice. Same oracle SQL, identical output.
  /** [[applyScoreSlices]] adds `slice` — the count of sampled score cuts
    * strictly above this row's score, a PURE row function over literal
    * cut points, descending in score so slice order equals pack order —
    * and `local_cum`, the running n_tok sum within (lang, slice). ANY cut
    * set is correct (slices only bound per-task sort size), so the
    * one-time sample job's exact output never affects results.
    */
  /** Sampled quantile cut points over `df.score`, descending (pack
    * order), as (score, doc_id) COMPOSITE cuts. The normal path is pure
    * score quantiles (doc_id component = Long.MaxValue, which reproduces
    * plain score-only slicing bit-for-bit). DEGENERATE-CUTS GUARD (r12
    * verdict item 1): when near-constant scores collapse the distinct
    * quantiles below slices/2 — plausible on a tiny-vocabulary corpus
    * where the chars/token proxy is almost flat — pure score cuts would
    * drive the whole corpus into a handful of (lang, slice) window
    * tasks. The guard subdivides every surviving score band by doc_id
    * quantiles (the pack-order TIEBREAK), so tie-heavy bands split into
    * ~slices uniform groups and no single window task can hold the
    * corpus. The cuts job executes `df`'s whole upstream plan — callers
    * with an expensive pipeline behind `scored` should sample a CHEAP
    * proxy distribution instead (any cut set is correct; cuts only bound
    * per-task sort size).
    */
  private[graft] def scoreCuts(df: DataFrame, slices: Int): Seq[(Double, Long)] = {
    val probs = (1 until slices).map(_.toDouble / slices).toArray
    val qs = df.stat.approxQuantile(Array("score", "doc_id"), probs, 0.01)
    val sc = qs(0).toSeq.distinct.sorted.reverse // descending = pack order
    if (sc.size >= slices / 2) sc.map(v => (v, Long.MaxValue))
    else {
      val dc = qs(1).toSeq.distinct.sorted.map(_.toLong)
      (sc.map(v => (v, Long.MaxValue)) ++
        (for (v <- sc; d <- dc) yield (v, d))).distinct
    }
  }

  /** The cut-sampling proxy for quality score `n_chars / n_tok`: token
    * count approximated as spaces+1 — LINEAR in the string, no split
    * array ever built. Cut points are correct whatever distribution they
    * come from (they only bound per-task sort size), so the cuts job gets
    * the cheapest scan that still tracks the real distribution. doc_id
    * rides along for the degenerate-cuts guard's tiebreak quantiles.
    */
  private def proxyScore(d: DataFrame): DataFrame =
    d.select(col("doc_id"), (col("n_chars").cast("double") /
      (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1))
      .as("score"))

  /** Slice assignment from composite cuts: cut (cs, cd) precedes row
    * (score, doc_id) in pack order iff cs > score OR (cs = score AND
    * cd <= doc_id) — monotone in (score DESC, doc_id ASC), so slice
    * order equals pack order for ANY cut set, tie-subdivided or not.
    */
  private[graft] def applyScoreSlices(scored: DataFrame,
      cuts: Seq[(Double, Long)]): DataFrame = {
    val wLocal = Window.partitionBy("lang", "slice")
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cutArr = array(cuts.map { case (v, d) =>
      struct(lit(v).as("cs"), lit(d).as("cd")) }: _*)
    scored.withColumn("slice",
        if (cuts.isEmpty) lit(0)
        else size(filter(cutArr, c =>
          c.getField("cs") > col("score") ||
            (c.getField("cs") === col("score") &&
              c.getField("cd") <= col("doc_id")))))
      .withColumn("local_cum", sum("n_tok").over(wLocal))
  }

  /** Bench-only phase probe for [[d04_budget_pack]] (r12 verdict item 1:
    * the ×10 wall was unattributed). Times each stage of the two-phase
    * pack as its own job — the proxy cuts sample, the slice widths (no
    * window), the per-slice window cumsum — alongside the canaries that
    * decide between the two suspects by inspection: `cut_count` (a
    * collapsed cut set = the degenerate-input mode) and
    * `max_slice_rows` (a corpus-holding window task = the superlinear
    * hazard). The full entry is timed by the caller's own protocol.
    */
  private[graft] def budgetPackPhases(s: SparkSession,
      dir: String): Seq[(String, Double)] = {
    val slices = 32
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    var cuts: Seq[(Double, Long)] = Nil
    val tCuts = time {
      cuts = scoreCuts(proxyScore(t(s, dir, "documents")), slices)
    }
    val toks = tokens(col("text"))
    val scored = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      size(toks).cast("long").as("n_tok"),
      (col("n_chars").cast("double") / size(toks)).as("score"))
    var maxSlice = 0L
    val tWidths = time {
      maxSlice = applyScoreSlices(scored, cuts)
        .groupBy("lang", "slice").count()
        .agg(max("count")).head().getLong(0)
    }
    // max(local_cum) cannot be pruned, so this job pays the real
    // per-(lang, slice) window sort the widths job skips
    val tWindow = time {
      applyScoreSlices(scored, cuts).agg(max("local_cum")).head()
    }
    Seq("cuts_s" -> tCuts, "widths_s" -> tWidths, "window_s" -> tWindow,
      "cut_count" -> cuts.size.toDouble,
      "max_slice_rows" -> maxSlice.toDouble)
  }

  def d04_budget_pack(s: SparkSession, dir: String): DataFrame = {
    val budget = 3000L
    val slices = 32 // ≈ shuffle parallelism; bounds every per-task sort
    val toks = tokens(col("text"))
    val scored = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      size(toks).cast("long").as("n_tok"),
      (col("n_chars").cast("double") / size(toks)).as("score"))
    // cuts sampled from the linear proxy scan — the real `scored` plan
    // (with its tokenize) never executes for the cuts job
    val local = applyScoreSlices(scored,
      scoreCuts(proxyScore(t(s, dir, "documents")), slices))
    // slices are ordered: slice i holds pack-order keys before slice
    // i+1's, so the offset for (lang, slice) is the sum of the same
    // language's totals in earlier slices — a window over ≤ P×langs rows
    val wOff = Window.partitionBy("lang").orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("lang", "slice").agg(sum("n_tok").as("ptot"))
      .withColumn("off", coalesce(sum("ptot").over(wOff), lit(0L)))
      .select(col("lang"), col("slice"), col("off"))
    local.join(broadcast(offsets), Seq("lang", "slice"))
      .withColumn("cum_tok", col("local_cum") + col("off"))
      .filter(col("cum_tok") <= budget)
      .select(col("lang"), col("doc_id"), col("n_tok"), col("cum_tok"))
      .orderBy("lang", "cum_tok", "doc_id")
  }

  // D4k — PACKED-STREAM SEQUENCE PACKING (the GPT-style trainer-prep op
  // d04_budget_pack doesn't cover): concatenate the corpus in doc_id
  // order into one token stream and cut it every `cap` tokens. A document
  // spans every sequence its token interval overlaps, emitting one
  // (doc_id, seq_id, tok_start, tok_len, off_in_seq) row per overlap —
  // the index a packed-pretraining loader consumes (documents cross
  // sequence boundaries; the loader's attention mask cuts at offsets).
  // The global running sum is the budget-pack two-phase shape keyed by
  // doc_id-range slices: per-slice window cumsum + a broadcast of
  // per-slice offsets (≤ `slices` rows ever sit in one window task), and
  // the per-document window fan-out is a pure sequence() explode — so the
  // whole op is two tiny exchanges over (doc_id, n_tok) rows, never a
  // single-task global window over the corpus. Integer math end to end →
  // hash-oracled. Any cut set is correct (slices only bound per-task
  // sort size), so the sampled quantiles never affect the output.
  def d04_seq_pack(s: SparkSession, dir: String): DataFrame =
    packStreamSpans(t(s, dir, "documents")
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok")), base = 0L)

  /** ONE SQL body behind both packed-stream replays: the whole-corpus
    * pack (`orderCols = "doc_id"`, emit all) and the incremental pack in
    * LakeQueries (stream order = corpus side first, emit the increment's
    * rows only — the full-replay cumsum reproduces the engine's
    * base-offset arithmetic exactly).
    */
  private[graft] def seqPackOracleSql(orderCols: String,
      outWhere: String): String =
    s"""WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |    CAST(SUM(n_tok) OVER (ORDER BY $orderCols ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS end_tok
      |  FROM d),
      |span AS (
      |  SELECT doc_id, n_tok, end_tok, end_tok - n_tok AS start_tok FROM c),
      |w AS (
      |  SELECT doc_id, start_tok, end_tok,
      |    unnest(range(start_tok // 512, (end_tok - 1) // 512 + 1)) AS seq_id
      |  FROM span WHERE $outWhere)
      |SELECT doc_id, seq_id,
      |  GREATEST(seq_id * 512 - start_tok, 0) AS tok_start,
      |  LEAST(end_tok, (seq_id + 1) * 512)
      |    - GREATEST(start_tok, seq_id * 512) AS tok_len,
      |  GREATEST(start_tok - seq_id * 512, 0) AS off_in_seq
      |FROM w ORDER BY doc_id, seq_id""".stripMargin

  /** The packed-stream span computation over (doc_id, n_tok) rows with
    * the token stream starting at offset `base`: per-slice window cumsum
    * + a broadcast of the ≤`slices` per-slice offsets (the two-phase
    * prefix sum), then a pure sequence() explode into one row per
    * (doc, overlapped sequence). Shared by [[d04_seq_pack]] (base 0,
    * whole corpus) and the INCREMENTAL packer in LakeQueries (base = the
    * committed stream's token total — the entire pack state is that one
    * scalar, so arrivals pack with work ∝ increment).
    */
  private[graft] def packStreamSpans(d: DataFrame, base: Long,
      cap: Long = 512L, slices: Int = 32): DataFrame = {
    val cuts = d.select(col("doc_id").cast("double").as("score"))
      .stat.approxQuantile("score",
        (1 until slices).map(_.toDouble / slices).toArray, 0.01)
      .toSeq.distinct.sorted // ascending = stream order
    val wLocal = Window.partitionBy("slice").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = d.withColumn("slice",
        if (cuts.isEmpty) lit(0)
        else size(filter(array(cuts.map(lit): _*),
          c => c <= col("doc_id").cast("double"))))
      .withColumn("local_cum", sum("n_tok").over(wLocal))
    // ≤ `slices` rows: the one intentionally-unpartitioned window
    val wOff = Window.orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("slice").agg(sum("n_tok").as("ptot"))
      .withColumn("off", coalesce(sum("ptot").over(wOff), lit(0L)) + base)
      .select("slice", "off")
    local.join(broadcast(offsets), Seq("slice"))
      .withColumn("end_tok", col("local_cum") + col("off"))
      .withColumn("start_tok", col("end_tok") - col("n_tok"))
      .withColumn("seq_id", explode(sequence(
        expr(s"start_tok div $cap"), expr(s"(end_tok - 1) div $cap"))))
      .select(col("doc_id"), col("seq_id"),
        greatest(col("seq_id") * cap - col("start_tok"), lit(0L))
          .as("tok_start"),
        (least(col("end_tok"), (col("seq_id") + 1) * cap) -
          greatest(col("start_tok"), col("seq_id") * cap)).as("tok_len"),
        greatest(col("start_tok") - col("seq_id") * cap, lit(0L))
          .as("off_in_seq"))
      .orderBy("doc_id", "seq_id")
  }

  // D6 — the END-TO-END training-data pipeline: the cleaning passes
  // composed as ONE dataflow, the shape a real 100 TB curation run takes —
  //   1. Gopher-style quality gate        (map-side; d04_gopher_rules)
  //   2. exact dedup, keep-first          (content-hash window; d01b)
  //   3. PII redaction                    (map-side regex chain; d04_pii)
  //   4. per-lang token-budget packing    (two-phase prefix sum; d04g)
  // Composing matters beyond the sum of parts: Catalyst pipelines stages
  // 1→3 into the same codegen'd scan-side stage (one pass over text before
  // the first shuffle), and the only exchanges are the dedup hash and the
  // pack's (lang, slice) window shuffle. Every stage is deterministic, so
  // the whole pipeline is hash-oracled end to end against DuckDB.
  def d06_pipeline_e2e(s: SparkSession, dir: String): DataFrame = {
    // stage 2 — exact dedup keep-first: shuffle keyed on the content hash;
    // a group is one duplicate set, never corpus-proportional
    val wDup = Window.partitionBy("h").orderBy("doc_id")
    val deduped = gateStage(s, dir)
      .withColumn("h", sha2(col("text").cast("binary"), 256))
      .withColumn("rn", row_number().over(wDup))
      .filter(col("rn") === 1).drop("h", "rn")
    redactPackStages(s, dir, deduped)
  }

  // D6b — the same pipeline with stage 2 swapped for FUZZY dedup: connected
  // components over the exact-Jaccard candidate graph (the
  // d01_cluster_exact machinery) computed on the GATED corpus, keep-first
  // per component (non-keeper members drop via anti-join). The candidate
  // subset is the declared doc_id < 100 probe set (the d03_jaccard_pairs
  // bound) so the whole pipeline — including the iterative component
  // search — stays hash-oracled via DuckDB's recursive-CTE transitive
  // closure; d03_minhash_lsh is the (spec-checked) candidate generator at
  // scale for this same composition. What this entry proves: the fixpoint
  // -iterative operator COMPOSES inside one dataflow — its labels come
  // back as a distributed scan (scratch parquet, never driver rows) that
  // the downstream anti-join, redaction, and pack stages consume like any
  // other frame.
  def d06_pipeline_fuzzy(s: SparkSession, dir: String): DataFrame = {
    val gated = gateStage(s, dir)
    val cand = gated.filter(col("doc_id") < 100)
      .select(col("doc_id"), col("lang"),
        array_distinct(tokens(col("text"))).as("toks"))
    val a = cand.select(col("doc_id").as("a_id"), col("lang").as("a_lang"),
      col("toks").as("a_toks"))
    val b = cand.select(col("doc_id").as("b_id"), col("lang").as("b_lang"),
      col("toks").as("b_toks"))
    val pairs = a
      .join(b, col("a_lang") === col("b_lang") && col("a_id") < col("b_id"))
      .withColumn("ni", size(array_intersect(col("a_toks"), col("b_toks"))))
      .withColumn("j", col("ni").cast("double") /
        (size(col("a_toks")) + size(col("b_toks")) - col("ni")))
      .filter(col("j") >= 0.3)
      .select("a_id", "b_id")
    val dups = connectedComponents(pairs)
      .filter(col("comp") =!= col("id"))
      .select(col("id").as("doc_id"))
    val deduped = gated.join(dups, Seq("doc_id"), "left_anti")
    redactPackStages(s, dir, deduped)
  }

  // D6c — the pipeline's EXPORT stage (the "last mile" every training run
  // needs): the full cleaned corpus — gate → exact dedup → PII redaction →
  // two-phase pack WITHOUT a budget cut — is split into deterministic
  // TOKEN-BOUNDED SHARDS (shard = start-offset DIV 500 within the
  // language's pack order: every doc STARTS inside its shard's token
  // window, so shard sizes are bounded by S + one doc and the assignment
  // is a pure expression over the prefix sums — no extra shuffle beyond
  // the pack's own), then LANDED in the table format partitioned
  // one-bucket-per-shard (truncate width 1 on the shard id: the DSv2
  // write's clustered distribution rolls one self-contained data file
  // per shard — what a trainer's data loader consumes), and read back
  // through the DSv2 scan. Hash-oracled end to end: the shard math
  // replays in SQL and the lake round-trip must return the content
  // byte-identically.
  def d06_pipeline_shards(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val sharded = shardedCorpus(s, dir)
    val loc = sc.table("d06c",
      "lang STRING,doc_id BIGINT,n_tok BIGINT,cum_tok BIGINT," +
        "shard BIGINT,redacted_sha STRING",
      graft.lake.TruncateSpec("shard", 1L)).location
    sharded.write.format("laketable").mode("append").save(loc)
    val back = s.read.format("laketable").load(loc)
      .select("lang", "shard", "doc_id", "n_tok", "cum_tok", "redacted_sha")
      .orderBy("lang", "shard", "cum_tok", "doc_id")
    // localize is the VERIFICATION harness (the scratch table must drop
    // before returning), not the operator: in production the export ENDS
    // at the committed shard table — consumers read the buckets in
    // place, nothing corpus-sized ever reaches the driver
    s.createDataFrame(java.util.Arrays.asList(back.collect(): _*), back.schema)
  }

  /** Shard token budget for [[d06_pipeline_shards]] — shared with its
    * DuckDB oracle (interpolated) and the spec's invariants.
    */
  private[graft] val ShardTokens = 500L

  /** The shard-export dataflow up to (not including) the lake write —
    * split out so PlanSpec can assert the shard assignment is a pure
    * projection over the pack's prefix sums (no window or exchange of
    * its own; the only exchanges in the whole export are the dedup
    * hash, the pack's range partitioning, and the write's
    * one-file-per-bucket clustering).
    */
  private[graft] def shardedCorpus(s: SparkSession, dir: String): DataFrame = {
    val wDup = Window.partitionBy("h").orderBy("doc_id")
    val deduped = gateStage(s, dir)
      .withColumn("h", sha2(col("text").cast("binary"), 256))
      .withColumn("rn", row_number().over(wDup))
      .filter(col("rn") === 1).drop("h", "rn")
    redactPackStages(s, dir, deduped, budget = Long.MaxValue)
      .withColumn("shard", expr(s"(cum_tok - n_tok) DIV $ShardTokens"))
      .select("lang", "doc_id", "n_tok", "cum_tok", "shard", "redacted_sha")
  }

  /** Stage 1 of the D6 pipelines — quality gate (same rules + rounding as
    * d04_gopher_rules), map-side, fused by Catalyst into the scan stage.
    */
  private def gateStage(s: SparkSession, dir: String): DataFrame =
    // fanOut at the BATCH call site (gateDf itself also serves the
    // streaming pipeline, whose micro-batch planner owns parallelism):
    // the gate's tokenize + per-doc aggregates otherwise fuse into the
    // one-task corpus scan
    gateDf(fanOut(t(s, dir, "documents"), "doc_id"))

  /** The gate as a frame transform — stateless column ops only, so the
    * same stage drops into a Structured Streaming plan unchanged
    * (d07_stream_pipeline runs it continuously over arriving documents).
    */
  private[graft] def gateDf(d: DataFrame): DataFrame =
    d
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 1)
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("mean_len",
        dec4(expr("aggregate(toks, 0D, (a, x) -> a + length(x)) / size(toks)")))
      .withColumn("max_freq", maxTokenFreq)
      .filter(col("n_tok") >= 20 && col("n_tok") <= 5000 &&
        col("mean_len") >= 3.0 && col("mean_len") <= 12.0 &&
        col("max_freq").cast("double") / col("n_tok") <= 0.2)
      .drop("toks")

  /** Stages 3–4 of the D6 pipelines — PII redaction (map-side regex
    * chain) then the two-phase per-lang token-budget pack.
    */
  private def redactPackStages(s: SparkSession, dir: String,
      deduped: DataFrame, budget: Long = 3000L,
      slices: Int = 32): DataFrame = {
    // stage 3 — PII redaction (planted doc_id-derived suffix as in d04_pii
    // so the scrubber has real matches on the synthetic corpus)
    val emailP = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val ipP = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
    val phoneP = """\b555-\d{4}\b"""
    val redacted = deduped
      .withColumn("raw", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 tel 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .withColumn("redacted_sha", sha2(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), lit(emailP), lit("<EMAIL>")),
            lit(ipP), lit("<IP>")),
          lit(phoneP), lit("<PHONE>")), 256))
    // stage 4 — two-phase budget pack (the d04_budget_pack shape) over the
    // surviving, redacted docs
    val scored = redacted.select(col("lang"), col("doc_id"), col("n_tok"),
      col("redacted_sha"),
      (col("n_chars").cast("double") / col("n_tok")).as("score"))
    // cut points sampled from the linear PROXY scan — NOT from `scored`,
    // whose upstream plan (gate, dedup shuffle, regex chain) would
    // otherwise execute twice. The proxy distribution differs slightly;
    // slices only bound per-task sort size, so correctness and
    // near-uniformity both survive.
    val local = applyScoreSlices(scored,
      scoreCuts(proxyScore(t(s, dir, "documents")), slices))
    val wOff = Window.partitionBy("lang").orderBy("slice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("lang", "slice").agg(sum("n_tok").as("ptot"))
      .withColumn("off", coalesce(sum("ptot").over(wOff), lit(0L)))
      .select(col("lang"), col("slice"), col("off"))
    local.join(broadcast(offsets), Seq("lang", "slice"))
      .withColumn("cum_tok", col("local_cum") + col("off"))
      .filter(col("cum_tok") <= budget)
      .select(col("lang"), col("doc_id"), col("n_tok"), col("cum_tok"),
        col("redacted_sha"))
      .orderBy("lang", "cum_tok", "doc_id")
  }

  // D4h — PII detection + redaction: regex-scrub emails, IPv4s, and phone
  // numbers to typed placeholders, with per-doc match counts — the
  // mandatory scrubbing pass of a training pipeline. The synthetic corpus
  // carries no PII, so the query plants a deterministic doc_id-derived
  // PII suffix first (same derivation in the oracle) — the operator under
  // test is the redaction chain, which is pure map-side (no shuffle;
  // patterns are Java-regex ∩ RE2 so both engines agree). Replacement
  // order matters and is fixed: emails first (their local part contains
  // digits an IP/phone pattern could nibble), then IPs, then phones.
  def d04_pii(s: SparkSession, dir: String): DataFrame = {
    val emailP = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    val ipP = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
    val phoneP = """\b555-\d{4}\b"""
    def nMatches(p: String) =
      size(regexp_extract_all(col("raw"), lit(p), lit(0))).cast("long")
    t(s, dir, "documents")
      .withColumn("raw", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 tel 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), lit(emailP), lit("<EMAIL>")),
            lit(ipP), lit("<IP>")),
          lit(phoneP), lit("<PHONE>")))
      .select(col("doc_id"),
        nMatches(emailP).as("n_email"),
        nMatches(ipP).as("n_ip"),
        nMatches(phoneP).as("n_phone"),
        sha2(col("redacted"), 256).as("redacted_sha"),
        expr("right(redacted, 40)").as("red_tail"))
      .orderBy("doc_id")
  }

  // D4 — HTML/whitespace text CLEANING (the CCNet/RefinedWeb-style
  // normalization pass every web-scrape corpus runs before anything
  // else): strip markup tags, decode the common HTML entities, collapse
  // runs of whitespace, trim. The noise is synthesized deterministically
  // around each doc's text (the d04_pii pattern — testdata text is
  // clean, so the operator must provably REMOVE what was injected: the
  // cleaned sha equals a plain normalization of the original text or the
  // hash diverges). Pure per-row projection — scan-fused codegen, no
  // shuffle, trivially 100 TB-safe. Identical regex/replace semantics in
  // DuckDB (both regex dialects support `<[^>]+>` and `\s+`; DuckDB
  // needs the explicit 'g' flag Spark applies by default) → hash-oracled.
  def d04_clean(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("""<div class="post"><h1>Doc """), col("doc_id").cast("string"),
      lit("</h1>\t "), col("text"),
      lit(" &amp; more&nbsp;text &lt;ok&gt; <br/>  <span>tail</span>   "))
    t(s, dir, "documents")
      .withColumn("raw", raw)
      .withColumn("stripped", regexp_replace(col("raw"), lit("<[^>]+>"), lit(" ")))
      .withColumn("decoded", expr(
        """replace(replace(replace(replace(replace(stripped,
          |  '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
          |  '&quot;', '"')""".stripMargin))
      .withColumn("cleaned",
        trim(regexp_replace(col("decoded"), lit("""\s+"""), lit(" "))))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("cleaned")).cast("long").as("n_clean"),
        sha2(col("cleaned"), 256).as("clean_sha"),
        expr("left(cleaned, 30)").as("clean_head"))
      .orderBy("doc_id")
  }

  // D4i — domain-mixture sampling with fractional epochs: each language
  // gets a target weight (zh 2.0 = every doc twice; en 1.5 = once plus a
  // reproducible half; fr 0.3 = 30% sample), materialized as (doc, copy)
  // rows. Inclusion uses a multiplicative doc_id hash in exact integer
  // arithmetic — seeded, engine-agnostic reproducibility (Spark's
  // hash()/rand() would diverge from DuckDB) — so re-running the pipeline
  // regenerates the byte-identical mix. Pure map-side: no shuffle, scales
  // linearly; the weights table would broadcast at 100 TB.
  def d04_mixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("w10", expr(
        """CASE lang WHEN 'zh' THEN 20 WHEN 'en' THEN 15 WHEN 'de' THEN 10
          |WHEN 'es' THEN 7 WHEN 'fr' THEN 3 ELSE 10 END""".stripMargin))
      .withColumn("u", expr("(doc_id * 2654435761) % 4294967296"))
      .withColumn("copies", expr(
        "w10 div 10 + CASE WHEN u * 10 < (w10 % 10) * 4294967296 THEN 1 ELSE 0 END"))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("copies").cast("long"))).as("copy"))
      .orderBy("doc_id", "copy")

  // D4j2 — TEMPERATURE-scaled language mixture (the multilingual-training
  // reweighting recipe: sampling share ∝ natural_share^α, α = 1/T): where
  // d04_mixture takes DECLARED per-language weights, this derives them
  // from the corpus itself — low-resource languages upsample toward
  // parity, the head language downsamples, total mass ≈ unchanged
  // (Σ n_l · f_l = N by construction). α is fixed at 0.5 so the only
  // non-rational primitive is sqrt — correctly rounded in every IEEE
  // engine, unlike pow — and the per-language factor quantizes to integer
  // TENTHS before the fractional-epoch machinery (the same w10 div/
  // deterministic-bernoulli shape as d04_mixture, one discipline for
  // both). Weights are computed IN-PLAN over a ≤|langs|-row frame that
  // broadcasts — no driver collection.
  def d04_mixture_temp(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // sqrt(share) contributions quantize to integer MICRO-UNITS before the
    // normalizer sum (the established floor(x*1e6+0.5) recipe): z as a raw
    // SUM(double) is order-sensitive across Spark partial-agg vs DuckDB
    // scan order, and a last-ulp z drift could flip floor(f*10+0.5) at a
    // half-way point. With sqm integer, z is an order-independent integer
    // sum; sqrt and division are correctly rounded in IEEE doubles, so f
    // is then bit-identical across engines given identical (nl, n).
    val w = d.groupBy("lang").agg(count(lit(1)).as("nl"))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
      .withColumn("share", col("nl").cast("double") / col("n"))
      .withColumn("sqm",
        floor(sqrt(col("share")) * lit(1e6) + lit(0.5)).cast("long"))
    val w10 = w.crossJoin(broadcast(w.agg(sum(col("sqm")).as("zm"))))
      .withColumn("f", col("sqm").cast("double") / col("zm") / col("share"))
      .select(col("lang"),
        floor(col("f") * lit(10) + lit(0.5)).cast("long").as("w10"))
    d.join(broadcast(w10), Seq("lang"))
      .withColumn("u", expr("(doc_id * 2654435761) % 4294967296"))
      .withColumn("copies", expr(
        "w10 div 10 + CASE WHEN u * 10 < (w10 % 10) * 4294967296 THEN 1 ELSE 0 END"))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("copies").cast("long"))).as("copy"))
      .orderBy("doc_id", "copy")
  }

  // D4k — deterministic train/val/test split assignment: every dataset
  // build needs splits that are (a) reproducible across runs and engines,
  // (b) stable (a doc keeps its split when the corpus grows — no
  // reshuffling between refreshes), and (c) leakage-free by
  // construction. Split = a 60-bit md5 prefix of the DOC ID modulo 100
  // (portable hash both engines compute identically, the d03 recipe):
  // <90 train, <95 val, else test. Map-side pure projection — no shuffle
  // beyond the audit aggregate; the audit reports per-(split, lang) doc
  // and char mass so quota drift across corpus versions is visible.
  def d04_datasplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("b", expr(
        "pmod(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT), 100)"))
      .withColumn("split", expr(
        "CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"))
      .orderBy("split", "lang")

  // D3d — benchmark-contamination check: train docs (id >= 20) sharing at
  // least two distinct 3-gram shingles with any eval doc (id < 20). The
  // shingle equi-join is linear in shingle count — the standard
  // decontamination pass, not an all-pairs scan.
  def d03_contamination(s: SparkSession, dir: String): DataFrame = {
    // tokenize ONCE into a named column — the gram expression reads `toks`
    // three times, and hoisting beats relying on Catalyst CSE to rescue a
    // triple split() of every document. Grams travel as 64-bit hashes
    // (join keys + the bloom variant'''s bitmap feed): no per-gram string
    // build, 8-byte shuffle/broadcast keys — same collision contract as
    // the other hashed-n-gram operators, value-identical on driver data
    val grams = expr(
      """CASE WHEN size(toks) < 3 THEN array()
        |ELSE array_distinct(transform(sequence(0, size(toks) - 3),
        |  i -> xxhash64(toks[i], toks[i + 1], toks[i + 2]))) END"""
        .stripMargin)
    val docs = t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(grams).as("g"))
    val evalSet = docs.filter(col("doc_id") < 20)
      .select(col("doc_id").as("eval_id"), col("g"))
    val train = docs.filter(col("doc_id") >= 20)
      .select(col("doc_id").as("train_id"), col("g"))
    // eval side is the bounded benchmark set — broadcast it explicitly
    // (post-explode size estimates are unreliable, and at corpus scale the
    // train side must never shuffle)
    train.join(broadcast(evalSet), "g")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= 2)
      .orderBy("train_id", "eval_id")
  }

  // D3f — contamination with a bloom-filter prefilter: IDENTICAL result to
  // d03_contamination (same oracle — bloom false positives die in the exact
  // join), but the 100 TB shape: the eval set's grams aggregate into ONE
  // fixed-size bitmap (bloom_filter_agg — Spark's own runtime-filtering
  // sketch, partial+final agg of OR-merged bitmaps), the corpus prefilters
  // MAP-SIDE against the broadcast bytes inside whole-stage codegen
  // (might_contain), and only the surviving sliver reaches the exact
  // gram join. At corpus scale the bitmap broadcast is KBs where the
  // gram-set broadcast is GBs, and the exact join's shuffle input drops by
  // the corpus's non-contaminated fraction — the decontamination pass every
  // production run executes.
  def d03_contamination_bloom(s: SparkSession, dir: String): DataFrame = {
    graft.functions.BloomFunctions.register(s)
    val grams = expr(
      """CASE WHEN size(toks) < 3 THEN array()
        |ELSE array_distinct(transform(sequence(0, size(toks) - 3),
        |  i -> xxhash64(toks[i], toks[i + 1], toks[i + 2]))) END"""
        .stripMargin)
    val docs = t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(grams).as("g"))
    docs.createOrReplaceTempView("d03f_grams")
    // might_contain requires its bloom side to be a constant or a SCALAR
    // SUBQUERY — the one-row aggregate plans as an independent subquery
    // stage whose result (the bitmap bytes) broadcasts into the main
    // scan's codegen'd filter. 8192 expected items / 64 Kbit ≈ 1% FP —
    // sized to the benchmark set, independent of corpus size.
    s.sql(
      """WITH eval_set AS (
        |  SELECT doc_id AS eval_id, g FROM d03f_grams WHERE doc_id < 20),
        |train AS (
        |  SELECT doc_id AS train_id, g FROM d03f_grams WHERE doc_id >= 20),
        |hits AS (
        |  SELECT train_id, g FROM train
        |  WHERE might_contain(
        |    (SELECT bloom_filter_agg(xxhash64(g), 8192L, 65536L) FROM eval_set),
        |    xxhash64(g)))
        |SELECT /*+ BROADCAST(e) */ train_id, eval_id, count(*) AS overlap
        |FROM hits JOIN eval_set e USING (g)
        |GROUP BY train_id, eval_id HAVING count(*) >= 2
        |ORDER BY train_id, eval_id""".stripMargin)
  }

  // D1e — passage-granularity dedup (the substring-dedup pass of Lee et
  // al.'s "Deduplicating Training Data" at fixed stride): docs chunk into
  // non-overlapping 8-token passages, each passage keeps only its FIRST
  // occurrence corpus-wide (order = doc_id, then position), and every doc
  // reports its duplicated-passage fraction — the granularity that catches
  // template pages sharing paragraphs that whole-doc hashing misses.
  // Shuffle keyed on passage text (a group = one duplicate set, never
  // corpus-proportional); everything before it is map-side chunking.
  def d01_dedup_passage(s: SparkSession, dir: String): DataFrame = {
    val chunks = t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        // passages shuffle as xxhash64 over the 8-token slice (array
        // hashing is native) — no passage string ever built; same
        // collision contract as the other hashed-n-gram operators
        """transform(sequence(0, cast(ceil(size(toks) / 8.0) as int) - 1),
          |  i -> xxhash64(slice(toks, i * 8 + 1, 8)))""".stripMargin)))
      .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("passage"))
    val w = Window.partitionBy("passage").orderBy("doc_id", "chunk_idx")
    chunks.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        dec4(col("n_dup").cast("double") / col("n_passages")))
      .orderBy("doc_id")
  }

  // D4j — BPE-style pre-tokenization counting: GPT-2-family tokenizers
  // first split text on a regex (letter runs / digit runs / punctuation
  // runs, each absorbing one leading space) before byte-pair merging, so
  // `len(pre_tokens)` upper-bounds and tracks the real token count far
  // better than whitespace splitting — the budget arithmetic every
  // training mix uses. Branches are disjoint on their first non-space
  // char, so Java and RE2 agree on every match. The corpus is bare
  // lowercase words, so a doc_id-derived suffix with digits and
  // punctuation (same derivation in the oracle) exercises the non-letter
  // branches. Pure map-side; fertility = BPE-ish tokens per whitespace
  // token.
  def d04_bpe_tokens(s: SparkSession, dir: String): DataFrame = {
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
    t(s, dir, "documents")
      .withColumn("raw", concat(col("text"),
        lit(" v"), col("doc_id").cast("string"),
        lit(".2, id="), col("doc_id").cast("string"),
        lit("; cost $9.99!")))
      .select(col("doc_id"),
        size(split(col("raw"), " ")).cast("long").as("n_ws"),
        size(regexp_extract_all(col("raw"), lit(pat), lit(0)))
          .cast("long").as("n_bpe"))
      .withColumn("fertility", dec4(col("n_bpe").cast("double") / col("n_ws")))
      .orderBy("doc_id")
  }

  /** Fixed public BPE merge list for [[d04_bpe_encode]], rank-ordered —
    * the twelve highest-frequency English letter pairs/affixes (the
    * classic Sennrich-style toy merge table). Serialized into the model
    * table's properties as "a b,th e,…"; the encoder builds its
    * expression from the PARSED property, never from this constant, so
    * the committed model is the single source of truth at serve time. */
  private[graft] val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("in", "g"))
  private[graft] val BpeMergesProp = "graft.bpe.merges"
  private[graft] def bpeMergesToString(m: Seq[(String, String)]): String =
    m.map { case (a, b) => s"$a $b" }.mkString(",")
  private[graft] def bpeMergesFromString(s: String): Seq[(String, String)] =
    s.split(',').toSeq.map { p =>
      val Array(a, b) = p.split(' '); (a, b)
    }

  // D4j2 — TRUE byte-pair encoding (round-9 verdict item 6): unlike
  // d04_bpe_tokens (pre-tokenization counting only), this APPLIES a
  // merge table and emits token ids. The model is committed first: a
  // lake table whose properties carry the rank-ordered merge list (the
  // d02_ann_indexed discipline — nothing the encoder uses exists
  // outside the committed table); the encoder parses the merges back
  // from a FRESH load and builds a pure expression chain from them.
  // Encoding is the classic Sennrich replace-by-rank form: each word
  // becomes its characters wrapped in sentinels ("cat" → "<c><a><t>"),
  // and merge k (a,b → ab) is ONE literal replace of "<a><b>" with
  // "<ab>" — left-to-right non-overlapping replacement is exactly BPE's
  // greedy per-rank application, the sentinels make matches whole-symbol
  // only (no cross-token or mid-token merges), and both engines'
  // replace() share those semantics, so the WHOLE encode hash-oracles.
  // Ids index the committed vocab (26 base chars, then one id per merge
  // in rank order). Scale: map-side expression chain over the corpus —
  // the 12-deep replace nest is constant work per char; the only
  // shuffle is the output sort.
  def d04_bpe_encode(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val model = sc.table("d04bpe", "rank INT,lhs STRING,rhs STRING",
      TruncateSpec("rank", 1000L))
    model.setProperty(BpeMergesProp, bpeMergesToString(BpeMerges))
    // serve path: merges parsed back from the committed model table
    val merges = bpeMergesFromString(
      LakeTable.load(model.location).tableMeta.properties(BpeMergesProp))
    val vocab = ('a' to 'z').map(_.toString) ++ merges.map { case (a, b) => a + b }
    val vocabSql = vocab.map(v => s"'$v'").mkString("array(", ", ", ")")
    val mergeChain = merges.foldLeft("wrapped") { case (acc, (a, b)) =>
      s"replace($acc, '<$a><$b>', '<$a$b>')"
    }
    t(s, dir, "documents")
      .withColumn("norm",
        trim(regexp_replace(lower(col("text")), "[^a-z ]", "")))
      .filter(expr("length(replace(norm, ' ', ''))") > 0)
      .withColumn("wrapped", expr(
        """concat_ws('|', transform(filter(split(norm, ' '), x -> x != ''),
          |  w -> regexp_replace(w, '(.)', '<$1>')))""".stripMargin))
      .withColumn("merged", expr(mergeChain))
      .withColumn("syms", expr(
        "split(substring(merged, 2, length(merged) - 2), '>\\\\|?<')"))
      .withColumn("ids", expr(
        s"transform(syms, x -> array_position($vocabSql, x) - 1)"))
      .select(col("doc_id"),
        expr("cast(length(replace(norm, ' ', '')) as long)").as("n_chars"),
        size(col("syms")).cast("long").as("n_tokens"),
        expr("concat_ws(',', ids)").as("token_ids"))
      .withColumn("compression",
        dec4(col("n_chars").cast("double") / col("n_tokens")))
      .orderBy("doc_id")
  }

  /** Original fixture passage for the PRODUCTION-VOCAB BPE model
    * ([[d04_bpe_encode_full]]) — plain English written for this repo, so
    * it is public by construction and ships with the code. The trainer
    * only needs pair statistics rich enough to yield a few hundred valid
    * merges; the passage's topic is irrelevant to correctness.
    */
  private[graft] val BpeTrainText: String =
    """A training data pipeline moves raw documents from crawl storage to
      |model ready shards through a series of transformations that must be
      |deterministic and cheap to audit. The first stage normalizes the
      |text and computes quality signals such as token counts and stopword
      |ratios. The second stage removes exact duplicates by hashing the
      |content and keeping the first document in each hash bucket. Fuzzy
      |duplicates survive exact hashing, so the third stage computes
      |minhash signatures over shingles and joins candidate pairs inside
      |each band bucket. Documents that share enough bands are near
      |duplicates and only one member of each connected component is kept.
      |The fourth stage scores every surviving document with language
      |identification and perplexity filters, dropping pages that look
      |machine generated or boilerplate heavy. The fifth stage tokenizes
      |the clean corpus with a byte pair encoder whose merge table was
      |learned from a held out sample, packing the resulting token stream
      |into fixed length sequences that cross document boundaries. Every
      |stage writes its output to a committed table so that the whole
      |pipeline can resume after a failure and so that any sequence in the
      |final shards can be traced back to the exact snapshot of the corpus
      |that produced it. At petabyte scale the expensive operations are
      |the shuffles, so the pipeline keys every join and aggregation on
      |stable hashes, broadcasts the small side whenever the planner can
      |prove it fits, and salts the hot keys that would otherwise pin a
      |straggler task. The same dataflow runs unchanged on a laptop sample
      |and on a thousand executor cluster because nothing in it depends on
      |the order of arrival, only on the committed state of the tables it
      |reads. Operators watch a handful of counters, the number of
      |documents entering and leaving each gate, the ratio of tokens to
      |characters after encoding, and the age of the oldest uncommitted
      |file, because those three numbers catch almost every failure mode
      |before it reaches a trainer. When a new snapshot of the crawl
      |arrives only the increment flows through the gates, the committed
      |indexes answer membership probes for everything seen before, and
      |the packer extends the token stream from the single scalar offset
      |it stored in the last commit.""".stripMargin.replace("\n", " ")

  /** Driver-side BPE trainer (the Sennrich algorithm): start from
    * characters, repeatedly merge the most frequent adjacent symbol pair
    * (ties broken deterministically by count desc, then pair
    * lexicographic), re-counting after each merge. Valid-by-construction:
    * each merge's operands are base characters or products of EARLIER
    * merges, which is the invariant that makes "apply ranks in order,
    * each fully" equal to the tokenizer's "repeatedly merge the
    * lowest-rank pair present" — a later merge can never create an
    * earlier rank's pair, because that pair's operands predate it.
    * Runs in milliseconds on the fixture passage; a production trainer
    * would distribute the pair counting, but the TRAINING side is not
    * what this operator prices — the ENCODER is.
    */
  private[graft] def trainBpeMerges(text: String,
      nMerges: Int): Seq[(String, String)] = {
    var words: Map[Vector[String], Long] =
      text.toLowerCase.replaceAll("[^a-z ]", " ")
        .split(' ').filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) =>
          (w.map(_.toString).toVector, ws.length.toLong) }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      for ((w, c) <- words; i <- 0 until w.length - 1)
        counts.updateWith((w(i), w(i + 1)))(p => Some(p.getOrElse(0L) + c))
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        words = words.toSeq.map { case (w, c) =>
          (mergePass(w, best._1, best._2), c)
        }.groupBy(_._1).map { case (w, ps) => (w, ps.map(_._2).sum) }
      }
    }
    merges.toSeq
  }

  /** One left-to-right non-overlapping merge pass of (a,b) → ab over a
    * symbol sequence — the exact semantics of both engines' `replace`
    * over the sentinel-wrapped form, and of a real tokenizer's per-rank
    * pass. One pass removes every occurrence: for a ≠ b occurrences
    * cannot overlap, and for a == b the greedy pass leaves no two
    * consecutive unmerged symbols.
    */
  private[graft] def mergePass(w: IndexedSeq[String], a: String,
      b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var j = 0
    while (j < w.length) {
      if (j < w.length - 1 && w(j) == a && w(j + 1) == b) {
        out += a + b; j += 2
      } else { out += w(j); j += 1 }
    }
    out.result()
  }

  /** The 256-merge model for [[d04_bpe_encode_full]] — trained once per
    * JVM from the fixture passage; both the Spark encoder (via the
    * committed model table) and the DuckDB oracle (via the generated
    * replace chain) derive from this same pure function of constants,
    * so they can never drift.
    */
  private[graft] lazy val BpeFullMerges: Seq[(String, String)] =
    trainBpeMerges(BpeTrainText, 256)

  /** Greedy per-word BPE encode against a rank map — the loop shape real
    * tokenizers use (find the lowest-rank adjacent pair, merge all its
    * occurrences, repeat). Equal to applying the merge list in rank
    * order (see [[trainBpeMerges]]), which is what the expression-chain
    * twin and the DuckDB oracle replay.
    */
  private[graft] def bpeEncodeWord(word: String,
      ranks: collection.Map[(String, String), Int],
      pairByRank: Array[(String, String)]): Vector[String] = {
    var syms: IndexedSeq[String] = word.map(_.toString)
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = pairByRank(bestRank)
        syms = mergePass(syms, a, b)
        done = syms.length < 2
      }
    }
    syms.toVector
  }

  /** Row shape of the mapPartitions encoder (compression is appended as
    * a column so the rounding matches the oracle's dec4 exactly). */
  private[graft] case class BpeEncoded(doc_id: Long, n_chars: Long,
      n_tokens: Long, token_ids: String)

  // D4j3 — PRODUCTION-VOCAB BPE ENCODE (round-10 verdict item 2): the
  // 12-merge d04_bpe_encode proves the committed-model discipline but its
  // one-replace-per-merge expression chain cannot host a real merge
  // table (a 50k-merge vocab would be a 50k-deep expression). This is
  // the encoder shape that CAN: the merge list (256 merges, trained by
  // [[trainBpeMerges]]) is committed to the model table exactly as
  // before, parsed back from a FRESH load at serve time, and applied by
  // a mapPartitions greedy loop over a BROADCAST rank map — per-word
  // work is independent of vocab size (hash lookups, not a replace
  // scan per merge), and a per-partition word→ids cache collapses the
  // corpus's repeated words to one encode each (natural-language word
  // frequency follows Zipf, so the cache hit rate is high and bounded
  // memory: distinct words per partition). The DuckDB oracle replays
  // the SAME merges as a replace chain split into ≤80-deep CTE blocks
  // (DuckDB's binder caps expression recursion at 128), so the entry
  // stays hash-green — the greedy loop and the rank-order chain are
  // provably the same function on a valid merge list.
  def d04_bpe_encode_full(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val model = sc.table("d04bpef", "rank INT,lhs STRING,rhs STRING",
      TruncateSpec("rank", 1000L))
    model.setProperty(BpeMergesProp, bpeMergesToString(BpeFullMerges))
    val merges = bpeMergesFromString(
      LakeTable.load(model.location).tableMeta.properties(BpeMergesProp))
    val vocabIdx: Map[String, Int] =
      (('a' to 'z').map(_.toString) ++
        merges.map { case (a, b) => a + b }).zipWithIndex.toMap
    val ranks: Map[(String, String), Int] = merges.zipWithIndex.toMap
    val pairByRank = merges.toArray
    // one copy per executor, not per task — at 1000 executors the
    // model ships once each, and a 50k-merge table is still only ~MBs
    val bc = s.sparkContext.broadcast((ranks, pairByRank, vocabIdx))
    import s.implicits._
    val enc = t(s, dir, "documents")
      .withColumn("norm",
        trim(regexp_replace(lower(col("text")), "[^a-z ]", "")))
      .filter(expr("length(replace(norm, ' ', ''))") > 0)
      .select(col("doc_id"), col("norm")).as[(Long, String)]
      .mapPartitions { iter =>
        val (rk, byRank, vIdx) = bc.value
        val cache = new java.util.HashMap[String, Array[Int]]()
        iter.map { case (docId, norm) =>
          var nChars = 0L
          var nTok = 0L
          val sb = new java.lang.StringBuilder
          norm.split(' ').foreach { w =>
            if (w.nonEmpty) {
              nChars += w.length
              val ids = cache.computeIfAbsent(w,
                _ => bpeEncodeWord(w, rk, byRank).map(vIdx).toArray)
              var i = 0
              while (i < ids.length) {
                if (sb.length > 0) sb.append(',')
                sb.append(ids(i))
                i += 1
              }
              nTok += ids.length
            }
          }
          BpeEncoded(docId, nChars, nTok, sb.toString)
        }
      }
    enc.toDF()
      .withColumn("compression",
        dec4(col("n_chars").cast("double") / col("n_tokens")))
      .orderBy("doc_id")
  }

  // D4h — within-doc repetition ratio (the Gopher/RefinedWeb repetition
  // rule): 1 − distinct_bigrams/total_bigrams per document. Repetitive
  // machine-generated text scores high and gets filtered before training.
  // Map-side only (per-row array math, no shuffle until the final sort).
  def d04_repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    t(s, dir, "documents")
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        (size(col("toks")) - 1).cast("long").as("n_bigrams"),
        // bigrams counted as 64-bit hashes — distinct over longs, no
        // per-bigram string build (same collision contract as the other
        // hashed-n-gram operators; value-identical on the driver data)
        expr("""cast(size(array_distinct(transform(sequence(0, size(toks) - 2),
               |  i -> xxhash64(toks[i], toks[i + 1])))) as long)""".stripMargin)
          .as("n_distinct"))
      .withColumn("rep_ratio",
        dec4(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams")))
      .orderBy("doc_id")
  }

  // D4i — composite Gopher-style quality rules: token-count bounds, mean
  // word length bounds, and a max-single-token-frequency cap. Documents
  // failing any rule are dropped from a training mix; emitting the
  // per-rule booleans keeps the audit explainable. Per-row array math.
  def d04_gopher_rules(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    t(s, dir, "documents")
      .withColumn("toks", toks)
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        dec4(expr("aggregate(toks, 0D, (a, x) -> a + length(x)) / size(toks)"))
          .as("mean_len"),
        maxTokenFreq.as("max_freq"))
      .withColumn("ok_count", col("n_tok") >= 20 && col("n_tok") <= 5000)
      .withColumn("ok_meanlen", col("mean_len") >= 3.0 && col("mean_len") <= 12.0)
      .withColumn("ok_maxfreq",
        col("max_freq").cast("double") / col("n_tok") <= 0.2)
      .withColumn("keep", col("ok_count") && col("ok_meanlen") && col("ok_maxfreq"))
      .orderBy("doc_id")
  }

  // D3e — cross-document boilerplate: 4-grams appearing in >= 3 distinct
  // documents (headers, templates, license blobs at corpus scale) and each
  // document's boilerplate fraction. Gram-keyed shuffle for the document
  // frequencies, then a plain gram-keyed join back onto the per-doc gram
  // stream — the C4-style boilerplate pass, linear in grams. NO broadcast
  // hint on the boilerplate side: that set is corpus-proportional (every
  // df>=3 gram), so a forced broadcast — which bypasses the planner's size
  // guard — would OOM the driver at 100 TB. Both join inputs are already
  // gram-keyed (the df aggregate shuffles on gram), so the shuffle join
  // reuses that partitioning; if stats ever show the set is genuinely
  // small, AQE's own size check may still elect a broadcast — the point is
  // the plan degrades gracefully instead of being pinned to one.
  def d03_boilerplate(s: SparkSession, dir: String): DataFrame = {
    // grams travel as 64-bit xxhash64(t0,t1,t2,t3) — no concat string is
    // ever built and the double shuffle (df-aggregate + join-back) moves
    // 8-byte keys instead of ~30-byte strings: ~35% off the pass at sf0.1
    // with the SAME skew-safe join shape (AQE can split a hot gram's
    // probe partitions; a window over gram could not). Same 2^-64
    // collision contract as the MinHash/fingerprint operators — a
    // collision merges two grams' document frequencies; value-identical
    // to the string form on the driver data (A/B-verified sf0.1).
    val grams = fanOut(t(s, dir, "documents"), "doc_id")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 4)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(0, size(toks) - 4),
          |  i -> xxhash64(toks[i], toks[i+1], toks[i+2], toks[i+3])))"""
          .stripMargin)).as("gram"))
    // grams are DISTINCT per (doc, gram) by construction (array_distinct
    // before the explode), so document frequency is a plain count — no
    // distinct-aggregate expand
    val boiler = grams.groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3)
      .select(col("gram"), lit(1).as("is_boiler"))
    grams.join(boiler, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_boiler"), lit(0))).cast("long").as("n_boiler"))
      .withColumn("boiler_ratio",
        dec4(col("n_boiler").cast("double") / col("n_grams")))
      .orderBy("doc_id")
  }

  // D1d — fuzzy-dedup clustering: connected components over the MinHash-LSH
  // candidate graph, then keep-first per cluster. THE production semantic
  // dedup shape: candidates → components → one survivor per component.
  // Engine-side iterative op → rows-only; PipelineSpec asserts the
  // partitioning equals a driver-side union-find over the same edges.
  def d01_dedup_cluster(s: SparkSession, dir: String): DataFrame = {
    val pairs = d03_minhash_lsh(s, dir).select("a_id", "b_id")
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
      .withColumn("keeper", col("doc_id") === col("cluster"))
      .orderBy("doc_id")
  }

  // D1e — clustering over the EXACT-Jaccard pair graph: the same
  // components → keep-first shape as d01_dedup_cluster, but the candidate
  // edges are the deterministic d03_jaccard_pairs set, so the whole
  // operator — including the iterative component search — hash-checks
  // against a DuckDB recursive-CTE transitive closure. This is the oracle
  // for the engine's connected-components machinery itself; the MinHash
  // variant then only adds the (spec-checked) approximate edge generator.
  def d01_cluster_exact(s: SparkSession, dir: String): DataFrame = {
    val pairs = d03_jaccard_pairs(s, dir).select("a_id", "b_id")
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
      .withColumn("keeper", col("doc_id") === col("cluster"))
      .orderBy("doc_id")
  }

  /** Distributed connected components by min-label propagation WITH pointer
    * jumping (label ← label-of-label each round), iterated TO FIXPOINT —
    * a round whose changed-label count is 0 — never a fixed iteration
    * budget: a fixed budget silently mislabels any component whose diameter
    * exceeds it (wrong survivor set, no error). Jumping makes convergence
    * O(log diameter), so `maxRounds` = 64 is an astronomically safe guard
    * that throws instead of returning wrong labels. Per-round cost: one
    * edge join + one label self-join + one cheap changed-count agg; each
    * round persists its labels and unpersists the previous round's, so at
    * most one label snapshot is pinned at a time. The result stays
    * DISTRIBUTED: the final labels are written to a scratch parquet under
    * the warehouse dir and the returned frame is a scan over it — the
    * label set is proportional to the candidate graph, which on
    * near-dup-dense corpora is a large fraction of all documents, far too
    * big to localize to the driver. Disk-backed scratch beats
    * localCheckpoint here: it survives executor loss, pins no
    * storage-memory blocks past the call, and lets the per-round caches be
    * released without recompute risk. The scratch dir is deleted on JVM
    * exit.
    */
  private[graft] def connectedComponents(pairs: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val session = pairs.sparkSession
    // both edge directions from ONE pass over `pairs`: the union form
    // scanned the pair-generator subtree twice (for the MinHash candidate
    // graph that is two full signature+banding computations — the cache
    // populate paid ~2× the generator before the first round even ran).
    // explode(array(fwd, bwd)) emits the same rows from a single scan;
    // row order differs from the union's, which nothing downstream
    // observes (every consumer aggregates or joins by key).
    val edges = pairs.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .cache() // reused every round; unpersisted below
    // SCALE-ADAPTIVE round parallelism (r15 verdict item 6 / guide §2.2):
    // every fixpoint round is ~6 shuffle stages over the label frame, and
    // the per-round `persist` pins each round's plan at the session's
    // shuffle width — AQE cannot re-coalesce cached plans (the r16 probe
    // read 43 stages × 32 near-empty tasks at sf0.1, pure task-launch
    // overhead; 8 cores beat 32 on the driver's r15 scaling block). The
    // edge count is measured by the SAME action that populates the edge
    // cache (no extra pass), and the loop's exchanges are sized to ~2 M
    // edge rows per task, clamped to the session width — tiny graphs run
    // their rounds 1-wide, a 100 TB candidate graph still fans to the
    // full session parallelism. Results are partitioning-invariant (all
    // per-round ops aggregate or join by key).
    val nEdges = edges.count()
    val width = math.max(1L, math.min(
      session.sessionState.conf.numShufflePartitions.toLong,
      (nEdges + 1999999L) / 2000000L))
    // init fuses the first propagation: label₀ = min(id, min neighbor) —
    // one groupBy replaces the distinct AND round 1's neighbor-min join,
    // shaving a full fixpoint round (each round is a multi-stage job,
    // the dominant per-round cost until the joins carry real data)
    var comp = edges.groupBy(col("src").as("id"))
      .agg(least(col("src"), min("dst")).as("comp"))
    var pinned: Option[DataFrame] = None
    var changed = 1L
    var rounds = 0
    graft.SessionConf.withConf(session,
        "spark.sql.shuffle.partitions" -> width.toString)(while (changed > 0) {
      if (rounds >= maxRounds) {
        pinned.foreach(_.unpersist())
        edges.unpersist()
        throw new IllegalStateException(
          s"connected components did not converge within $maxRounds rounds")
      }
      // propagation FUSED into one aggregate (r15 verdict item 6): the
      // former [neighbor-min groupBy + left-join back onto comp] pair was
      // two keyed shuffles per round; unioning the neighbor candidates
      // with each id's own label computes least(comp, min neighbor) in a
      // single groupBy — every id keeps its own (id, comp) row, so ids
      // without neighbor rows degrade to their own label exactly as the
      // old coalesce did, and `prev` rides along as max over {label,
      // null} (one non-null per group). Same fixpoint, one less exchange
      // and two fewer stages per round.
      val neighborCands = edges
        .join(comp.select(col("id").as("dst"), col("comp").as("ncomp")), "dst")
        .select(col("src").as("id"), col("ncomp").as("cand"),
          lit(null).cast("long").as("lbl"))
      val propagated = neighborCands
        .unionByName(comp.select(col("id"), col("comp").as("cand"),
          col("comp").as("lbl")))
        .groupBy("id")
        .agg(min("cand").as("mid"), max("lbl").as("prev"))
        .select(col("id"), col("prev"), col("mid"))
      // pointer jump: follow the label one hop (labels are node ids, so
      // every label has a row) — this is what turns O(diameter) plain
      // propagation into O(log diameter)
      val jt = propagated.select(col("id").as("jid"), col("mid").as("jmid"))
      val jumped = propagated.join(jt, propagated("mid") === jt("jid"), "left")
        .select(propagated("id"), col("prev"),
          coalesce(col("jmid"), col("mid")).as("comp"))
        .persist()
      changed = jumped.filter(col("comp") =!= col("prev")).count()
      pinned.foreach(_.unpersist())
      pinned = Some(jumped)
      // truncate the plan: the self-join references its input TWICE, so
      // carrying the raw Dataset forward doubles the Catalyst tree every
      // round (exponential analysis/explain cost). Re-rooting the labels
      // as a LogicalRDD over the just-persisted blocks keeps every round's
      // plan constant-size; if a cached block is evicted the lineage
      // recomputes through the previous rounds — slower, never wrong.
      val labels = jumped.select(col("id"), col("comp"))
      comp = session.createDataFrame(labels.rdd, labels.schema)
      rounds += 1
    })
    val out = Scratch.persist(comp, "cc")
    pinned.foreach(_.unpersist())
    edges.unpersist()
    out
  }

  // D4e — n-gram language ID: rank each language's bigrams by lift
  // (freq-in-lang / freq-overall), keep the top 30 per language, predict
  // per doc by argmax of summed profile lifts. Scoring sums QUANTIZED
  // lifts (round(lift·1e15) as BIGINT): integer sums are
  // order-independent, so the argmax cannot drift with Spark's partial-
  // aggregation order AND the whole query becomes exactly reproducible
  // in ANSI SQL — DuckDB hash-oracled, not rows-only. (Max summed
  // magnitude ≈ 30·1e13 per doc ≪ 2^63; the raw-double profile RANK is
  // shared verbatim by both engines, and halfway doubles below 2^52 are
  // exactly representable, so round() agrees bit-for-bit.)
  def d04_langid(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val toks = d.select(col("doc_id"), col("lang"), explode(expr(
      """transform(sequence(0, greatest(size(split(text, ' ')) - 2, 0)),
        |  i -> concat(split(text, ' ')[i], '_', split(text, ' ')[i + 1]))"""
        .stripMargin)).as("tok"))
    // distinctive-bigram profile built from the corpus itself: rank each
    // language's bigrams by lift (freq-in-lang / freq-overall), keep the
    // top 30, score docs by normalized hit rate on each profile
    val counts = toks.groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val totals = toks.groupBy("lang").agg(count(lit(1)).as("tot"))
    val overall = toks.groupBy("tok").agg(count(lit(1)).as("n_all"))
    val profile = counts.join(totals, "lang").join(overall, "tok")
      .filter(col("n") >= 3)
      .withColumn("lift",
        (col("n").cast("double") / col("tot")) / (col("n_all").cast("double")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("lift").desc, col("tok"))))
      .filter(col("rk") <= 30)
      .select(col("lang").as("p_lang"), col("tok"),
        round(col("lift") * lit(1e15)).cast("long").as("lift_q"))
    val scored = toks.join(broadcast(profile), Seq("tok"))
      .groupBy("doc_id", "p_lang").agg(sum(col("lift_q")).as("score"))
    val best = scored.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("p_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("p_lang").as("pred_lang"))
    d.select("doc_id", "lang").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred_lang"), lit("unk")).as("pred_lang"))
      .orderBy("doc_id")
  }

  // D4i — TRAINED language/quality classifier (the fastText-style model
  // every production curation stack runs): hashing-TF bag-of-BIGRAMS →
  // multinomial logistic regression, fit distributively, then scored over
  // the corpus MAP-SIDE — the fitted model broadcasts inside the
  // transform, no shuffle touches the corpus. At 100 TB the fit runs on a
  // bounded labeled seed and only the broadcast-scoring pass sees the full
  // data. Scored in-sample here, the same gate d04_langid's corpus-derived
  // profiles use: the synthetic corpus's langs share one 31-token
  // vocabulary with uniform ordering (label-only — verified empirically:
  // a held-out split scores at chance for ANY learner), so cross-document
  // generalization is untestable on this data by construction; the spec
  // gates that the distributed fit actually converged on the seen labels
  // (in-sample accuracy far above the majority baseline).
  // Engine-side ML (float iteration order) → rows-only.
  def d04_lang_model(s: SparkSession, dir: String): DataFrame =
    langModelFitScore(t(s, dir, "documents"), t(s, dir, "documents"))

  /** The d04_lang_model machinery with the fit/score corpora split out:
    * fit the hashing-TF bigram multinomial LR on `trainDocs`, score
    * `scoreDocs` (both need doc_id, lang, text). d04_lang_model passes
    * the same frame twice (the driver corpus's languages share one
    * vocabulary by construction, so held-out accuracy is chance there —
    * see the entry's doc); the generalization spec passes DISJOINT
    * train/test synthetic corpora where out-of-sample accuracy is
    * meaningful, closing the "untestable on this data" caveat with data
    * the spec controls. The fitted model broadcasts inside the scoring
    * transform — map-side, no shuffle over the scored corpus.
    */
  private[graft] def langModelFitScore(trainDocs: DataFrame,
      scoreDocs: DataFrame): DataFrame = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.HashingTF
    def prep(d: DataFrame): DataFrame = d
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("lang"), expr(
        """transform(sequence(0, greatest(size(toks) - 2, 0)),
          |  i -> concat(toks[i], '_', toks[i + 1]))""".stripMargin).as("words"))
    val train = prep(trainDocs)
    // deterministic label ids: langs sorted (the label map is tiny and
    // ships as a literal CASE — no StringIndexer fit pass)
    val langs = train.select("lang").distinct().collect()
      .map(_.getString(0)).sorted
    val toLabel = langs.zipWithIndex
      .foldLeft(lit(-1.0)) { case (acc, (l, i)) =>
        when(col("lang") === l, lit(i.toDouble)).otherwise(acc)
      }
    val tf = new HashingTF().setInputCol("words").setOutputCol("features")
      .setNumFeatures(1 << 14)
    val model = new LogisticRegression()
      .setMaxIter(50).setRegParam(0.001).setFamily("multinomial")
      .fit(tf.transform(train.withColumn("label", toLabel)))
    val fromLabel = langs.zipWithIndex
      .foldLeft(lit("unk")) { case (acc, (l, i)) =>
        when(col("prediction") === i.toDouble, lit(l)).otherwise(acc)
      }
    model.transform(tf.transform(prep(scoreDocs)))
      .select(col("doc_id"), col("lang"), fromLabel.as("pred_lang"))
      .orderBy("doc_id")
  }

  // D5 — multimodal binary columns: payload + typed metadata, pure-SQL
  // feature extraction (size/hash/chunking), oracle-checked.
  def d05_multimodal(s: SparkSession, dir: String): DataFrame = {
    val media = graft.operators.Multimodal.asMedia(
      t(s, dir, "documents"), "text", "doc_id")
    graft.operators.Multimodal.features(media)
      .orderBy("media_id")
  }

  // D4 — CCNet-style LM cross-entropy scoring: train a bigram language
  // model on the English slice, score EVERY document by its mean negative
  // log-likelihood under add-one smoothing — the perplexity filter every
  // large-scale pipeline runs (CCNet buckets a corpus into head/middle/
  // tail by exactly this score; outliers in either direction are
  // boilerplate or garbage).
  //
  // Scale shape: the model IS a distributed table (bigram/context counts),
  // never a broadcast — the d03_boilerplate lesson: a corpus-derived set
  // grows with the corpus, so scoring joins on the gram key (two shuffle
  // joins) and re-aggregates per doc. The only driver value is the scalar
  // vocabulary size. Everything is exact integer counting + IEEE doubles
  // rounded to 4 decimals → DuckDB hash-oracled.
  def d04_perplexity(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
    val bi = toks.select(col("doc_id"), col("lang"), explode(expr(
      "transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS w1, tk[i + 1] AS w2))"))
      .as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1"), col("b.w2"))
    val train = bi.filter(col("lang") === "en")
    val bigramCounts = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val contextCounts = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    // vocabulary size: ONE bounded scalar to the driver (the smoothing
    // denominator), not the model
    val v = train.agg(countDistinct(col("w2"))).head().getLong(0)
    bi.join(bigramCounts, Seq("w1", "w2"), "left")
      .join(contextCounts, Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        dec4(avg(-log(
          (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("c1"), lit(0L)) + lit(v)).cast("double"))))
          .as("cross_entropy"))
      .orderBy("doc_id")
  }

  // D4 — DSIR-style importance weighting (data selection via importance
  // resampling): every doc scores avg_t [ ln p_target(t) − ln p_raw(t) ]
  // under add-one-smoothed unigram models — target = the English slice,
  // raw = the whole corpus. Positive weight ⇒ the doc looks more like the
  // target distribution than the background; `selected` is the resampling
  // verdict. This is the importance-sampling selection pass pretraining
  // pipelines run to up-weight target-domain data.
  //
  // Scale shape (the d03_boilerplate lesson): both models ARE distributed
  // token-keyed tables, never broadcast — scoring is two shuffle joins on
  // the token key and one per-doc re-aggregation. The only driver values
  // are three scalars (target size, corpus size, vocabulary) from ONE
  // aggregate pass. Exact integer counts + IEEE doubles rounded to 4
  // decimals → DuckDB hash-oracled.
  def d04_dsir(s: SparkSession, dir: String): DataFrame = {
    val uni = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
    // BOTH models in one token-keyed aggregate (one corpus scan): raw
    // count + target count per token; the three smoothing scalars then
    // come from the model table, not another corpus pass
    val model = uni.groupBy("w").agg(
      count(lit(1)).as("cr"),
      count(when(col("lang") === "en", 1)).as("ct"))
    val scalars = model.agg(
      sum("cr").as("nr"), sum("ct").as("nt"), count(lit(1)).as("v")).head()
    val (nr, nt, v) = (scalars.getLong(0), scalars.getLong(1), scalars.getLong(2))
    uni.join(model, Seq("w")) // inner: every token exists in the corpus
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        dec4(avg(
          log((col("ct") + lit(1L)).cast("double") / lit((nt + v).toDouble)) -
            log((col("cr") + lit(1L)).cast("double") / lit((nr + v).toDouble))))
          .as("dsir_weight"))
      .withColumn("selected", col("dsir_weight") > 0d)
      .orderBy("doc_id")
  }

  /** Model-based quality/routing filter constants, shared by the Scala
    * training loop and the generated DuckDB oracle (both sides derive
    * from these — they cannot drift): feature tokens, full-batch GD
    * rounds, and learning rate. The label is the `lang='en'` proxy (the
    * weak-label pattern of production LLM quality filters: train a cheap
    * linear model on a heuristic label, score the corpus with it).
    */
  private[graft] val QualityLrTokens = Seq("order", "window", "table",
    "hash", "customer", "scan", "big", "slow", "group", "join", "sort",
    "query")
  private[graft] val QualityLrRounds = 6
  private[graft] val QualityLrRate = 0.5

  /** D4q — logistic-regression quality filter TRAINED IN-ENGINE with a
    * hash-exact cross-engine oracle — the first trained model here whose
    * TRAINING (not just its serve) is DuckDB-replayable bit-for-bit. The
    * committed-model family's trained variants (d02_ann_indexed_trained,
    * d04_lang_model) are rows-only because double means/exp sums are
    * aggregation-order-sensitive; this entry removes that excuse for
    * gradient descent itself:
    *   - features are exact rationals (32·count/n_tok — one correctly-
    *     rounded IEEE division of exact integers);
    *   - each doc's per-weight gradient contribution is quantized to
    *     integer micro-units (floor(x·1e6 + 0.5) — the BM25 recipe), so
    *     the batch gradient is an ORDER-INDEPENDENT integer sum
    *     (half-way-point flips from sub-ulp exp() drift between libm and
    *     the JVM remain probabilistically negligible, not impossible);
    *   - weights re-round to 1e-6 after every update, so both engines
    *     enter each round from identical state.
    * Full-batch GD, QualityLrRounds rounds: the per-round driver action
    * is ONE 13-long-column aggregate collect (K-bounded, the Lloyd-round
    * pattern) — corpus work stays distributed and the model is 13
    * doubles. Scale: one scan + one map-side partial agg per round.
    */
  def d04_quality_lr(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
    // featurize ONCE: the GD loop is QualityLrRounds aggregate passes +
    // the final scoring pass, and without materialization each re-ran
    // the tokenize + 12-filter featurization from the corpus scan (8
    // full text passes; 2.8 s -> ~1 s at sf0.1). The feature frame is
    // 13 numeric columns + doc_id — corpus-linear but ~50× narrower
    // than the text, the scratch-parquet handoff connectedComponents
    // already uses (no executor blocks pinned past the entry). Values
    // are bit-identical through the parquet round-trip (doubles are
    // stored binary), so the trained weights cannot move.
    val feat = Scratch.persist(
      fanOut(docs, "doc_id")
        .withColumn("toks", tokens(col("text")))
        .select(
        col("doc_id") +:
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y") +:
        QualityLrTokens.zipWithIndex.map { case (tk, i) =>
          (lit(32.0) * expr(s"size(filter(toks, w -> w = '$tk'))")
            .cast("double") / size(col("toks")).cast("double"))
            .as(s"x${i + 1}")
        }: _*), "qlr_feat")
    val dims = QualityLrTokens.length + 1
    val n = docs.count()
    var w = Array.fill(dims)(0.0)
    def zCol(wv: Array[Double]): org.apache.spark.sql.Column =
      (1 until dims).foldLeft(lit(wv(0)): org.apache.spark.sql.Column) {
        (acc, j) => acc + lit(wv(j)) * col(s"x$j") }
    for (_ <- 1 to QualityLrRounds) {
      val sig = lit(1.0) / (lit(1.0) + exp(-zCol(w)))
      val grads = (0 until dims).map { j =>
        val xj = if (j == 0) lit(1.0) else col(s"x$j")
        sum(floor((sig - col("y")) * xj * lit(1e6) + lit(0.5)).cast("long"))
          .as(s"g$j")
      }
      // ONE 13-column aggregate per round — the whole driver-side state
      // is the 13-double weight vector (K-bounded, the Lloyd pattern)
      val g = feat.agg(grads.head, grads.tail: _*).collect()(0)
      w = Array.tabulate(dims)(j => math.floor(
        (w(j) - QualityLrRate * (g.getLong(j) / 1e6) / n) * 1e6 + 0.5) / 1e6)
    }
    val sigF = lit(1.0) / (lit(1.0) + exp(-zCol(w)))
    feat.select(col("doc_id"),
        (floor(sigF * lit(1e6) + lit(0.5)).cast("double") / lit(1e6))
          .as("prob"))
      .withColumn("pred", col("prob") > 0.5)
      .orderBy("doc_id")
  }

  /** Generated DuckDB replay of [[d04_quality_lr]]'s ENTIRE training run:
    * w0 = zeros; per round r, s{r} computes each doc's sigmoid under
    * w{r-1}, g{r} the micro-quantized gradient sums, w{r} the re-rounded
    * update — then the final weights score the corpus. Every constant
    * and expression shape is generated from the same fields the Scala
    * loop reads.
    */
  private[graft] def qualityLrOracleSql: String = {
    val dims = QualityLrTokens.length + 1
    val featCols = QualityLrTokens.zipWithIndex.map { case (tk, i) =>
      s"""    32.0 * len(list_filter(string_split(text, ' '), w -> w = '$tk'))
         |      / len(string_split(text, ' ')) AS x${i + 1}""".stripMargin
    }.mkString(",\n")
    def zExpr = "w.w0 + " +
      (1 until dims).map(j => s"w.w$j * f.x$j").mkString(" + ")
    val rounds = (1 to QualityLrRounds).map { r =>
      val gCols = (0 until dims).map { j =>
        val xj = if (j == 0) "1.0" else s"x$j"
        s"SUM(CAST(floor((sig - y) * $xj * 1e6 + 0.5) AS BIGINT)) AS g$j"
      }.mkString(",\n    ")
      val wCols = (0 until dims).map { j =>
        s"floor((w.w$j - $QualityLrRate * (g.g$j / 1e6) / n.n) * 1e6 + 0.5)" +
          s" / 1e6 AS w$j"
      }.mkString(",\n    ")
      s"""s$r AS (
         |  SELECT f.*, 1.0 / (1.0 + exp(-($zExpr))) AS sig
         |  FROM feat f CROSS JOIN w${r - 1} w),
         |g$r AS (
         |  SELECT $gCols
         |  FROM s$r),
         |w$r AS (
         |  SELECT $wCols
         |  FROM w${r - 1} w CROSS JOIN g$r g CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    val zeros = (0 until dims).map(j => s"0.0 AS w$j").mkString(", ")
    s"""WITH feat AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |$featCols
       |  FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM feat),
       |w0 AS (SELECT $zeros),
       |$rounds
       |SELECT f.doc_id,
       |  floor((1.0 / (1.0 + exp(-($zExpr)))) * 1e6 + 0.5) / 1e6 AS prob,
       |  floor((1.0 / (1.0 + exp(-($zExpr)))) * 1e6 + 0.5) / 1e6 > 0.5 AS pred
       |FROM feat f CROSS JOIN w$QualityLrRounds w
       |ORDER BY f.doc_id""".stripMargin
  }

  /** Frame count shared by the d05_decode_stub query AND its DuckDB
    * oracle (the oracle SQL interpolates this into `range(n)` and the
    * stride derivation) — one constant so the Scala call and the SQL
    * replay can never drift apart silently.
    */
  val DecodeStubFrames = 8

  // D5b — distributed decode with the stubbed codec (deterministic fake):
  // exercises the executor-side batch plumbing; hash-oracled (the oracle
  // replays the rolling hash with DecodeStubFrames frames).
  def d05_decode_stub(s: SparkSession, dir: String): DataFrame = {
    val media = graft.operators.Multimodal.asMedia(
      t(s, dir, "documents"), "text", "doc_id")
    graft.operators.Multimodal.decode(media, frames = DecodeStubFrames)
      .select(col("media_id"), col("fmt"),
        dec4(expr("aggregate(frame_features, 0D, (a, x) -> a + x)")).as("feat_sum"))
      .orderBy("media_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d05_multimodal" -> d05_multimodal _,
    "d05_decode_stub" -> d05_decode_stub _,
    "d01_dedup_exact" -> d01_dedup_exact _,
    "d01_dedup_keepfirst" -> d01_dedup_keepfirst _,
    "d01_dedup_substring" -> d01_dedup_substring _,
    "d01_substring_clean" -> d01_substring_clean _,
    "d02_bm25_topk" -> d02_bm25_topk _,
    "d02_hybrid_rrf" -> d02_hybrid_rrf _,
    "d02_phrase_match" -> d02_phrase_match _,
    "d04_mixture_temp" -> d04_mixture_temp _,
    "d04_quality_lr" -> d04_quality_lr _,
    "d01_dedup_embed" -> d01_dedup_embed _,
    "d01_semdedup" -> d01_semdedup _,
    "d01_semdedup_exact" -> d01_semdedup_exact _,
    "d02_cosine_topk" -> d02_cosine_topk _,
    "d02_ann_lsh" -> d02_ann_lsh _,
    "d02_ann_exact" -> d02_ann_exact _,
    "d02_ann_ivf" -> d02_ann_ivf _,
    "d02_ivf_exact" -> d02_ivf_exact _,
    "d02_ann_filtered" -> d02_ann_filtered _,
    "d02_ann_filtered_ivf" -> d02_ann_filtered_ivf _,
    "d02_ann_pq" -> d02_ann_pq _,
    "d02_pq_exact" -> d02_pq_exact _,
    "d02_ann_ivfpq" -> d02_ann_ivfpq _,
    "d02_ivfpq_exact" -> d02_ivfpq_exact _,
    "d03_jaccard_pairs" -> d03_jaccard_pairs _,
    "d03_minhash_lsh" -> d03_minhash_lsh _,
    "d03_minhash_exact" -> d03_minhash_exact _,
    "d03_simhash" -> d03_simhash _,
    "d04_text_stats" -> d04_text_stats _,
    "d04_token_topn" -> d04_token_topn _,
    "d04_fingerprint" -> d04_fingerprint _,
    "d04_quality" -> d04_quality _,
    "d04_langid" -> d04_langid _,
    "d04_lang_model" -> d04_lang_model _,
    "d04_curation" -> d04_curation _,
    "d04_budget_pack" -> d04_budget_pack _,
    "d04_seq_pack" -> d04_seq_pack _,
    "d04_pii" -> d04_pii _,
    "d04_clean" -> d04_clean _,
    "d04_mixture" -> d04_mixture _,
    "d04_datasplit" -> d04_datasplit _,
    "d03_contamination" -> d03_contamination _,
    "d03_contamination_bloom" -> d03_contamination_bloom _,
    "d01_dedup_passage" -> d01_dedup_passage _,
    "d04_bpe_tokens" -> d04_bpe_tokens _,
    "d04_bpe_encode" -> d04_bpe_encode _,
    "d04_bpe_encode_full" -> d04_bpe_encode_full _,
    "d04_repetition" -> d04_repetition _,
    "d04_perplexity" -> d04_perplexity _,
    "d04_gopher_rules" -> d04_gopher_rules _,
    "d03_boilerplate" -> d03_boilerplate _,
    "d01_dedup_cluster" -> d01_dedup_cluster _,
    "d01_cluster_exact" -> d01_cluster_exact _,
    "d04_dsir" -> d04_dsir _,
    "d06_pipeline_e2e" -> d06_pipeline_e2e _,
    "d06_pipeline_fuzzy" -> d06_pipeline_fuzzy _,
    "d06_pipeline_shards" -> d06_pipeline_shards _,
  )

  /** The quality-gate CTE block (`tk`/`g`/`kept`) shared VERBATIM by all
    * six pipeline oracles (d06 e2e/fuzzy/shards here; the three d07
    * streaming variants in StreamingQueries) — one definition so the
    * gate rules cannot drift between oracles (the DecodeStubFrames
    * lesson applied to the pipeline's largest shared SQL). `kept`
    * carries (doc_id, lang, n_chars, text, n_tok); consumers that need
    * fewer columns just select fewer.
    */
  private[graft] val GateCteSql: String =
    """tk AS (
      |  SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS t
      |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
      |g AS (
      |  SELECT doc_id, lang, n_chars, text,
      |    CAST(len(t) AS BIGINT) AS n_tok,
      |    CAST(CAST(round(list_aggregate(list_transform(t, x -> length(x)), 'sum')
      |      / CAST(len(t) AS DOUBLE), 4) AS DECIMAL(28,4)) AS DOUBLE) AS mean_len,
      |    CAST(list_max(list_transform(list_distinct(t),
      |      u -> len(list_filter(t, x -> x = u)))) AS BIGINT) AS max_freq
      |  FROM tk),
      |kept AS (
      |  SELECT doc_id, lang, n_chars, text, n_tok FROM g
      |  WHERE n_tok >= 20 AND n_tok <= 5000
      |    AND mean_len >= 3.0 AND mean_len <= 12.0
      |    AND CAST(max_freq AS DOUBLE) / n_tok <= 0.2)""".stripMargin

  /** Sequential-fold dot product over the first `n` elements of two SQL
    * list expressions — the exact order Spark's `aggregate(zip_with(...))`
    * and the cosine_sim loop use, so doubles match bit-for-bit. Shared by
    * the d02_pq_exact / d02_ivfpq_exact oracles.
    */
  private def sqlSeqDot(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"[($a)[i+1] * ($b)[i+1] FOR i IN range($n)]), (acc, v) -> acc + v)"

  /** Sequential-fold sum of squared (double-cast) elements. */
  private def sqlSeqSumSq(l: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($l, " +
      "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v)"

  /** The PQ codebook + encode CTE block (`nvs`/`samp`/`cbb`/`codes`/
    * `codesw`/`lut`), shared VERBATIM by the d02_pq_exact and
    * d02_ivfpq_exact oracles — one definition so the encode tie-break or
    * bias derivation can never drift between the two replays.
    */
  /** PQ codebook CTEs with the seed predicate split out: the untrained
    * codewords come from the first 16 vectors matching `seedWhere` —
    * "vec_id % 31 = 0" for the full-corpus twins, a committed-batch
    * predicate for the persisted-index entry. */
  private def pqCodebookCteSql(seedWhere: String): String =
    s"""nvs AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)
      |      / sqrt(${sqlSeqSumSq("embedding")})) AS nv
      |  FROM embeddings),
      |samp AS (
      |  SELECT nv, j FROM (
      |    SELECT nv, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
      |    FROM nvs WHERE $seedWhere)
      |  WHERE j < 16),
      |cbb AS (
      |  SELECT sbs.sb, s.j,
      |    list_slice(s.nv, sbs.sb * 16 + 1, sbs.sb * 16 + 16) AS cw,
      |    ${"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(" +
          "list_slice(s.nv, sbs.sb * 16 + 1, sbs.sb * 16 + 16), " +
          "x -> x * x)), (acc, v) -> acc + v)"} / 2 AS bias
      |  FROM samp s, (SELECT unnest(range(0, 4)) AS sb) sbs),
      |codes AS (
      |  SELECT vec_id, sb, j AS code FROM (
      |    SELECT n.vec_id, c.sb, c.j,
      |      ROW_NUMBER() OVER (PARTITION BY n.vec_id, c.sb ORDER BY
      |        (${sqlSeqDot("list_slice(n.nv, c.sb * 16 + 1, c.sb * 16 + 16)",
                   "c.cw", 16)} - c.bias) DESC, c.j DESC) AS rn
      |    FROM nvs n CROSS JOIN cbb c)
      |  WHERE rn = 1),
      |codesw AS (
      |  SELECT vec_id,
      |    MAX(CASE WHEN sb = 0 THEN code END) AS c0,
      |    MAX(CASE WHEN sb = 1 THEN code END) AS c1,
      |    MAX(CASE WHEN sb = 2 THEN code END) AS c2,
      |    MAX(CASE WHEN sb = 3 THEN code END) AS c3
      |  FROM codes GROUP BY vec_id),
      |lut AS (
      |  SELECT n.vec_id AS qid, c.sb, c.j,
      |    ${sqlSeqDot("list_slice(n.nv, c.sb * 16 + 1, c.sb * 16 + 16)",
                   "c.cw", 16)} AS lv
      |  FROM nvs n CROSS JOIN cbb c WHERE n.vec_id < 20)""".stripMargin

  private lazy val PqCodebookCteSql: String =
    pqCodebookCteSql("vec_id % 31 = 0")

  /** The full IVF+PQ exact replay (assignment, nprobe=8 fan-out, encode,
    * LUT, ADC, shortlist, refine) with the seed predicate split out —
    * ONE SQL body behind both the d02_ivfpq_exact oracle (full-corpus
    * seeds) and the d02_ann_indexed oracle in LakeQueries (seeds from the
    * committed batch only, since a frozen index must not peek at future
    * arrivals). The lake round-trip is value-transparent, so the indexed
    * entry's serve-from-committed-codes result replays identically.
    */
  private[graft] def ivfPqExactOracleSql(seedWhere: String): String =
    ivfPqReplaySql(seedWhere, arrivals = None)

  /** ONE SQL body behind both ivfPq replays — the plain serve
    * (d02_ivfpq_exact / d02_ann_indexed / d07_ann_serve_live) and the
    * arrival-ordered serve (d07_ann_ordered). `arrivals = Some((n, w))`
    * adds the arr dimension: n corpus prefixes of w vectors each, served
    * independently by restricting the CANDIDATE set to `oid < arr*w`
    * (frozen models make assignment/encode arrival-independent, so every
    * other CTE is shared verbatim). A tie-break or scoring fix edits one
    * place and reaches every oracle.
    */
  private def ivfPqReplaySql(seedWhere: String,
      arrivals: Option[(Int, Int)]): String = {
    val key = if (arrivals.isDefined) Seq("arr", "qid") else Seq("qid")
    val k = key.mkString(", ")
    s"""WITH ${ivfPqCteChain(seedWhere, arrivals, "f.vec_id < 20")}
       |SELECT $k, rn, oid,
       |  CAST(CAST(round(cos, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cos
       |FROM scored WHERE rn <= 5 ORDER BY $k, rn""".stripMargin
  }

  /** The serve replay's CTE chain up to `scored(qid, oid, cos, rn)` with
    * the PROBE predicate split out — the hybrid-fusion oracle embeds it
    * beside the BM25 ranked CTE (CTE names are disjoint by construction)
    * and reads semantic ranks from `scored` directly.
    */
  private[graft] def ivfPqScoredCtes(seedWhere: String,
      probeWhere: String): String =
    ivfPqCteChain(seedWhere, None, probeWhere)

  private def ivfPqCteChain(seedWhere: String,
      arrivals: Option[(Int, Int)], probeWhere: String): String = {
    def cos64(a: String, b: String): String =
      s"(${sqlSeqDot(a, b, 64)} / (sqrt(${sqlSeqDot(a, a, 64)}) * " +
        s"sqrt(${sqlSeqDot(b, b, 64)})))"
    // key columns carried through the serve tail: (arr, qid) when the
    // arrival dimension is on, plain qid otherwise (no hybrid caller uses
    // arrivals, so `scored` keeps its plain-qid shape there)
    val key = if (arrivals.isDefined) Seq("arr", "qid") else Seq("qid")
    val k = key.mkString(", ")
    val ck = key.map("c." + _).mkString(", ")
    val (arrsCte, cand) = arrivals match {
      case Some((n, w)) => (
        s"arrs AS (SELECT unnest(range(1, ${n + 1})) AS arr),\n",
        s"""cand AS (
           |  SELECT ar.arr, p.qid, a.oid FROM arrs ar
           |  CROSS JOIN probes p JOIN assign a ON a.cell = p.cell
           |  WHERE a.oid <> p.qid AND a.oid < ar.arr * $w)""".stripMargin)
      case None => ("",
        """cand AS (
          |  SELECT p.qid, a.oid FROM probes p JOIN assign a ON a.cell = p.cell
          |  WHERE a.oid <> p.qid)""".stripMargin)
    }
    s"""fvs AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fv
      |  FROM embeddings),
      |ivfc AS (
      |  SELECT vec_id AS cid, fv AS cv FROM fvs
      |  WHERE $seedWhere ORDER BY vec_id LIMIT 16),
      |${pqCodebookCteSql(seedWhere)},
      |assign AS (
      |  SELECT vec_id AS oid, cell FROM (
      |    SELECT f.vec_id, c.cid AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
      |        ${cos64("f.fv", "c.cv")} DESC, c.cid DESC) AS rn
      |    FROM fvs f CROSS JOIN ivfc c)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS qid, cell FROM (
      |    SELECT f.vec_id, c.cid AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
      |        ${cos64("f.fv", "c.cv")} DESC, c.cid DESC) AS rn
      |    FROM fvs f CROSS JOIN ivfc c WHERE $probeWhere)
      |  WHERE rn <= 8),
      |$arrsCte$cand,
      |adc AS (
      |  SELECT $ck, c.oid, ((l0.lv + l1.lv) + l2.lv) + l3.lv AS adc
      |  FROM cand c
      |  JOIN codesw k ON k.vec_id = c.oid
      |  JOIN lut l0 ON l0.qid = c.qid AND l0.sb = 0 AND l0.j = k.c0
      |  JOIN lut l1 ON l1.qid = c.qid AND l1.sb = 1 AND l1.j = k.c1
      |  JOIN lut l2 ON l2.qid = c.qid AND l2.sb = 2 AND l2.j = k.c2
      |  JOIN lut l3 ON l3.qid = c.qid AND l3.sb = 3 AND l3.j = k.c3),
      |short AS (
      |  SELECT $k, oid FROM (
      |    SELECT $k, oid,
      |      ROW_NUMBER() OVER (PARTITION BY $k ORDER BY adc DESC, oid) AS arn
      |    FROM adc)
      |  WHERE arn <= 200),
      |fin AS (
      |  SELECT ${key.map("sh." + _).mkString(", ")}, sh.oid,
      |    ${cos64("e1.fv", "e2.fv")} AS cos
      |  FROM short sh
      |  JOIN fvs e1 ON e1.vec_id = sh.qid
      |  JOIN fvs e2 ON e2.vec_id = sh.oid),
      |scored AS (
      |  SELECT $k, oid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY $k ORDER BY cos DESC, oid) AS rn
      |  FROM fin)""".stripMargin
  }

  /** The ARRIVAL-ORDERED serve replay (oracles `d07_ann_ordered`):
    * [[ivfPqReplaySql]] with the arrival dimension on — each arrival's
    * serve is the shared machinery over the candidate prefix
    * `oid < arr * width`, the state a monotonically-growing index
    * exposes after arrival `arr`.
    */
  private[graft] def ivfPqOrderedOracleSql(seedWhere: String,
      arrivals: Int, width: Int): String =
    ivfPqReplaySql(seedWhere, Some((arrivals, width)))

  /** The INDEX-CONTENT replay (cell assignment + PQ codes per corpus
    * vector, no serving) — what a committed ANN index table must hold,
    * row for row. Oracles `d07_ann_index_stream` (the continuously-
    * maintained index): same untrained-model CTEs as the ivfPqExact
    * serve replay, projected at the encode stage.
    */
  private[graft] def annIndexOracleSql(seedWhere: String): String = {
    def cos64(a: String, b: String): String =
      s"(${sqlSeqDot(a, b, 64)} / (sqrt(${sqlSeqDot(a, a, 64)}) * " +
        s"sqrt(${sqlSeqDot(b, b, 64)})))"
    s"""WITH fvs AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS fv
      |  FROM embeddings),
      |ivfc AS (
      |  SELECT vec_id AS cid, fv AS cv FROM fvs
      |  WHERE $seedWhere ORDER BY vec_id LIMIT 16),
      |${pqCodebookCteSql(seedWhere)},
      |assign AS (
      |  SELECT vec_id AS oid, cell FROM (
      |    SELECT f.vec_id, c.cid AS cell,
      |      ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
      |        ${cos64("f.fv", "c.cv")} DESC, c.cid DESC) AS rn
      |    FROM fvs f CROSS JOIN ivfc c)
      |  WHERE rn = 1)
      |SELECT a.oid AS vec_id, a.cell,
      |  CAST(k.c0 AS INT) AS c0, CAST(k.c1 AS INT) AS c1,
      |  CAST(k.c2 AS INT) AS c2, CAST(k.c3 AS INT) AS c3
      |FROM assign a JOIN codesw k ON k.vec_id = a.oid
      |ORDER BY vec_id""".stripMargin
  }

  /** The SimHash signature CTE block (`tokh`/`bits`/`sigs`) computing
    * the 60-bit md5 signature per doc of `src` (needs doc_id, text) —
    * shared by the d03_simhash oracle (src = documents) and the
    * d07_stream_fuzzy oracle (src = the gated `kept`), mirroring the one
    * Scala-side [[simhashSig]] expression both queries use.
    */
  private[graft] def simhashSigCteSql(src: String): String =
    s"""tokh AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      |        FROM $src)),
      |bits AS (
      |  SELECT doc_id, bb.b AS b,
      |    SUM(CASE WHEN (h >> CAST(bb.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS c
      |  FROM tokh, (SELECT unnest(range(0, 60)) AS b) bb
      |  GROUP BY doc_id, bb.b),
      |sigs AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN c > 0
      |    THEN CAST(1 AS BIGINT) << CAST(59 - b AS INT) ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Exact cosine on quantized integer lists (list_dot_product sums are
    * exact for integer components) — the SemDeDup exact-twin arithmetic.
    */
  private[graft] def sdxCosSql(a: String, b: String): String =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b))))"

  /** The two-level SemDeDup ASSIGNMENT replay (`q`/`cents`/`coarse_idx`/
    * `coarse`/`routed`/`vassign`/`fa0`/`fassign`) under the shared
    * exact-twin constants — one definition used by the d01_semdedup_exact
    * oracle (full dedup) and the d01_semdedup_incremental oracle
    * (increment-vs-committed gate in LakeQueries). `fassign` carries
    * (vec_id, v, cell, csim) for EVERY corpus vector, including the
    * unrouted-region seed-cell fallback mirroring assignCellsHier.
    */
  private[graft] lazy val SemDedupHierAssignCteSql: String =
    semDedupHierAssignCteSqlFrom(
      s"""SELECT vec_id, list_transform(embedding,
         |    x -> round(CAST(x AS DOUBLE) * $SemDeDupExactScale)) AS v
         |  FROM embeddings""".stripMargin)

  /** [[SemDedupHierAssignCteSql]] with a caller-supplied `q` body — the
    * live-gate oracle (d07_semdedup_live) unions planted wave re-keys
    * into the vector space. Re-keys must sort AFTER every original
    * vec_id: `cents` takes the first-K rows by vec_id, so high re-key
    * ids leave the frozen-centroid derivation untouched. */
  private[graft] def semDedupHierAssignCteSqlFrom(qSelect: String): String = {
    val kc = math.max(4,
      math.ceil(math.sqrt(SemDeDupExactK.toDouble)).toInt)
    val seedValues = (0 until kc)
      .map(i => s"($i, ${i * SemDeDupExactK / kc})").mkString(", ")
    s"""q AS (
      |  $qSelect),
      |cents AS (
      |  SELECT cid, cv, idx FROM (
      |    SELECT vec_id AS cid, v AS cv,
      |      ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS idx FROM q)
      |  WHERE idx < $SemDeDupExactK),
      |coarse_idx(rid, idx) AS (VALUES $seedValues),
      |coarse AS (
      |  SELECT ci.rid, c.cid AS seed_cid, c.cv
      |  FROM coarse_idx ci JOIN cents c ON c.idx = ci.idx),
      |routed AS (
      |  SELECT cid, cv, rid FROM (
      |    SELECT c.cid, c.cv, r.rid,
      |      ROW_NUMBER() OVER (PARTITION BY c.cid ORDER BY
      |        (list_dot_product(c.cv, r.cv) /
      |          (sqrt(list_dot_product(c.cv, c.cv)) *
      |           sqrt(list_dot_product(r.cv, r.cv)) + 1e-12)) DESC,
      |        r.rid DESC) AS rn
      |    FROM cents c CROSS JOIN coarse r)
      |  WHERE rn = 1),
      |vassign AS (
      |  SELECT vec_id, v, region, coarse_sim FROM (
      |    SELECT q.vec_id, q.v, r.rid AS region,
      |      ${sdxCosSql("q.v", "r.cv")} AS coarse_sim,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |        ${sdxCosSql("q.v", "r.cv")} DESC, r.rid DESC) AS rn
      |    FROM q CROSS JOIN coarse r)
      |  WHERE rn = 1),
      |fa0 AS (
      |  SELECT vec_id, cell, csim FROM (
      |    SELECT vec_id, cell, csim, ROW_NUMBER() OVER
      |      (PARTITION BY vec_id ORDER BY csim DESC, cell DESC) AS rn
      |    FROM (SELECT va.vec_id, f.cid AS cell,
      |            ${sdxCosSql("va.v", "f.cv")} AS csim
      |          FROM vassign va JOIN routed f ON f.rid = va.region))
      |  WHERE rn = 1),
      |fassign AS (
      |  -- seed-cell fallback, mirroring assignCellsHier's LEFT join +
      |  -- coalesce: a region holding vectors but ZERO routed fine
      |  -- centroids (possible only at an exact routing tie, since the
      |  -- routing cosine carries a 1e-12 epsilon the vector argmax does
      |  -- not) must assign to the region's seed cell with the coarse
      |  -- score, never drop rows
      |  SELECT va.vec_id, va.v,
      |    COALESCE(f.cell, co.seed_cid) AS cell,
      |    COALESCE(f.csim, va.coarse_sim) AS csim
      |  FROM vassign va
      |  LEFT JOIN fa0 f ON f.vec_id = va.vec_id
      |  JOIN coarse co ON co.rid = va.region)""".stripMargin
  }

  /** The exact-dedup CTE (stage 2 of the e2e/shards pipelines). */
  private val DedupCteSql: String =
    """deduped AS (
      |  SELECT doc_id, lang, n_chars, text, n_tok FROM (
      |    SELECT *, ROW_NUMBER() OVER
      |      (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |    FROM kept) WHERE rn = 1)""".stripMargin

  /** The PII-redact + pack CTE block (stages 3-4), shared by the d06
    * e2e/fuzzy/shards oracles — consumes `deduped`, defines `packed`
    * with the per-lang running token sum. Raw string: the regex
    * backslashes must reach DuckDB verbatim.
    */
  private val RedactPackCteSql: String =
    """red AS (
      |  SELECT doc_id, lang, n_chars, n_tok,
      |    sha256(regexp_replace(regexp_replace(regexp_replace(
      |      text || ' contact user' || CAST(doc_id AS VARCHAR)
      |        || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
      |        || '.7 tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |      '\b555-\d{4}\b', '<PHONE>', 'g')) AS redacted_sha
      |  FROM deduped),
      |packed AS (
      |  SELECT lang, doc_id, n_tok, redacted_sha,
      |    CAST(SUM(n_tok) OVER (PARTITION BY lang
      |      ORDER BY CAST(n_chars AS DOUBLE) / n_tok DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM red)""".stripMargin

  /** Shared CTE prefix for the substring-dedup oracles: everything up to
    * the merged `spans` relation (doc_id, st, en) — one copy, so the
    * detection oracle and the apply-side oracle cannot drift.
    */
  private def substrSpansCte: String = {
    val L = SubstrShingle
    // the engine groups on the 60-bit md5-prefix shingle hash (the
    // committed-index representation); the oracle replays the SAME hex
    // derivation so both sides agree bit-for-bit even on a collision
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) >= $L),
       |sh AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |    CAST(concat('0x', substring(md5(substr(text, p + 1, $L)), 1, 15))
       |      AS BIGINT) AS s
       |  FROM d, unnest(range(0, CAST(len(text) - ${L - 1} AS BIGINT))) AS u(p)),
       |dup AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2),
       |hits AS (SELECT doc_id, p AS st, p + $L AS en FROM sh JOIN dup USING (s)),
       |isl AS (
       |  SELECT doc_id, st, en,
       |    CASE WHEN st > COALESCE(MAX(en) OVER (PARTITION BY doc_id
       |      ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      -1) THEN 1 ELSE 0 END AS brk
       |  FROM hits),
       |isl2 AS (
       |  SELECT doc_id, st, en, SUM(brk) OVER (PARTITION BY doc_id
       |    ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS island
       |  FROM isl),
       |spans AS (
       |  SELECT doc_id, MIN(st) AS st, MAX(en) AS en
       |  FROM isl2 GROUP BY doc_id, island)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "d01_dedup_substring" ->
      s"""$substrSpansCte
         |SELECT doc_id, st AS span_start, en AS span_end FROM spans
         |ORDER BY doc_id, span_start""".stripMargin,
    "d01_substring_clean" ->
      s"""$substrSpansCte,
         |pe AS (
         |  SELECT doc_id, st, en, COALESCE(LAG(en) OVER (PARTITION BY doc_id
         |    ORDER BY st), 0) AS pe
         |  FROM spans),
         |mids AS (SELECT doc_id, pe AS seg_start, st AS seg_end FROM pe
         |  WHERE st > pe),
         |tails AS (
         |  SELECT m.doc_id, m.me AS seg_start, CAST(len(t0.text) AS BIGINT)
         |    AS seg_end
         |  FROM (SELECT doc_id, MAX(en) AS me FROM spans GROUP BY doc_id) m
         |  JOIN documents t0 ON t0.doc_id = m.doc_id
         |  WHERE CAST(len(t0.text) AS BIGINT) > m.me),
         |whole AS (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS seg_start,
         |    CAST(len(text) AS BIGINT) AS seg_end
         |  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM spans)),
         |segs AS (SELECT * FROM mids UNION ALL SELECT * FROM tails
         |  UNION ALL SELECT * FROM whole)
         |SELECT g.doc_id, g.seg_start,
         |  substr(t0.text, CAST(g.seg_start AS INT) + 1,
         |    CAST(g.seg_end - g.seg_start AS INT)) AS seg_text
         |FROM segs g JOIN documents t0 ON t0.doc_id = g.doc_id
         |ORDER BY g.doc_id, g.seg_start""".stripMargin,
    "d02_bm25_topk" -> bm25OracleSql,
    "d02_hybrid_rrf" -> hybridRrfOracleSql,
    "d02_phrase_match" -> phraseMatchOracleSql,
    "d04_mixture_temp" ->
      """WITH nl AS (SELECT lang, COUNT(*) AS nl FROM documents GROUP BY lang),
        |tot AS (SELECT COUNT(*) AS n FROM documents),
        |w AS (
        |  SELECT lang, CAST(nl AS DOUBLE) / n AS share,
        |         CAST(floor(sqrt(CAST(nl AS DOUBLE) / n) * 1e6 + 0.5)
        |           AS BIGINT) AS sqm
        |  FROM nl CROSS JOIN tot),
        |z AS (SELECT SUM(sqm) AS zm FROM w),
        |w10 AS (
        |  SELECT lang, CAST(floor(CAST(sqm AS DOUBLE) / z.zm / share * 10
        |    + 0.5) AS BIGINT) AS w10
        |  FROM w CROSS JOIN z),
        |m AS (
        |  SELECT d.doc_id, d.lang, w10.w10,
        |    (d.doc_id * 2654435761) % 4294967296 AS u
        |  FROM documents d JOIN w10 USING (lang)),
        |c AS (
        |  SELECT doc_id, lang,
        |    w10 // 10 + CASE WHEN u * 10 < (w10 % 10) * 4294967296
        |      THEN 1 ELSE 0 END AS copies
        |  FROM m)
        |SELECT doc_id, lang, unnest(range(1, copies + 1)) AS copy
        |FROM c WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin,
    "d04_quality_lr" -> qualityLrOracleSql,
    "d06_pipeline_e2e" ->
      (s"WITH $GateCteSql,\n$DedupCteSql,\n$RedactPackCteSql\n" +
      """SELECT lang, doc_id, n_tok, cum_tok, redacted_sha
        |FROM packed WHERE cum_tok <= 3000
        |ORDER BY lang, cum_tok, doc_id""".stripMargin),
    // same pipeline, stage 2 = connected components over the exact-Jaccard
    // graph of the GATED doc_id<100 subset (recursive-CTE closure), drop
    // non-keeper members
    "d06_pipeline_fuzzy" ->
      (s"WITH RECURSIVE $GateCteSql,\n" +
      """cd AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tkn
        |  FROM kept WHERE doc_id < 100),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM cd GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ni
        |  FROM cd x JOIN cd y ON x.tkn = y.tkn AND x.lang = y.lang
        |  WHERE x.doc_id < y.doc_id GROUP BY a_id, b_id),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
        |  WHERE CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) >= 0.3),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |dups AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(r)),
        |deduped AS (
        |  SELECT doc_id, lang, n_chars, text, n_tok FROM kept
        |  WHERE doc_id NOT IN (SELECT id FROM dups)),""".stripMargin +
      s"\n$RedactPackCteSql\n" +
      """SELECT lang, doc_id, n_tok, cum_tok, redacted_sha
        |FROM packed WHERE cum_tok <= 3000
        |ORDER BY lang, cum_tok, doc_id""".stripMargin),
    // shard export: the e2e pipeline without the budget cut, shard =
    // start-offset integer-divided by the shared ShardTokens constant;
    // the lake round-trip must hand the content back unchanged
    "d06_pipeline_shards" ->
      (s"WITH $GateCteSql,\n$DedupCteSql,\n$RedactPackCteSql\n" +
      s"""SELECT lang, (cum_tok - n_tok) // $ShardTokens AS shard, doc_id,
        |  n_tok, cum_tok, redacted_sha
        |FROM packed
        |ORDER BY lang, shard, cum_tok, doc_id""".stripMargin),
    "d05_multimodal" ->
      """SELECT doc_id AS media_id, 'txt' AS fmt,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS size_bytes,
        | sha256(text) AS h256,
        | CAST(CEIL(CAST(octet_length(CAST(text AS BLOB)) AS DOUBLE) / 256) AS BIGINT) AS n_chunks,
        | base64(CAST(substr(text, 1, 32) AS BLOB)) AS head_b64
        |FROM documents ORDER BY media_id""".stripMargin,
    // The decode STUB is deterministic (frame-strided rolling hash mod
    // 2^64), so it is SQL-reconstructable after all: per frame, reduce
    // the byte slice under HUGEINT mod-2^64 arithmetic, quantize to
    // float k/1000, and sum the frames in order as doubles —
    // bit-for-bit the JVM path. Frame count interpolated from
    // DecodeStubFrames, the same constant the Scala query passes to
    // Multimodal.decode — the two sides cannot drift.
    "d05_decode_stub" ->
      s"""WITH p AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n,
        |         greatest(1, octet_length(encode(text)) // $DecodeStubFrames) AS stride
        |  FROM documents)
        |SELECT media_id, 'txt' AS fmt,
        |  CAST(CAST(round(
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      [CAST(CAST(
        |         list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |           [CAST(('0x' || substr(h, 2*i+1, 2)) AS INT)::HUGEINT
        |            FOR i IN range(f*stride, least(n, f*stride + stride))]),
        |           (a,x) -> (a*31+x) % CAST('18446744073709551616' AS HUGEINT))
        |         % 1000 AS FLOAT) / CAST(1000 AS FLOAT) AS DOUBLE)
        |       FOR f IN range($DecodeStubFrames)]),
        |      (a,x) -> a + x), 4) AS DECIMAL(28,4)) AS DOUBLE) AS feat_sum
        |FROM p ORDER BY media_id""".stripMargin,
    "d01_dedup_exact" ->
      """SELECT sha256(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS n
        |FROM documents GROUP BY h ORDER BY h""".stripMargin,
    "d01_dedup_keepfirst" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, ROW_NUMBER() OVER
        |    (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "d01_dedup_embed" ->
      """WITH elems AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS dup_id, b.vec_id AS keep_id,
        |    SUM(a.x * b.x) AS dot, SUM(a.x * a.x) AS na, SUM(b.x * b.x) AS nb
        |  FROM elems a JOIN elems b ON a.i = b.i
        |  WHERE b.vec_id < a.vec_id AND b.vec_id < 400
        |  GROUP BY dup_id, keep_id),
        |scored AS (
        |  SELECT dup_id, keep_id, dot / (sqrt(na) * sqrt(nb)) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY dup_id
        |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, keep_id) AS rn
        |  FROM pairs WHERE dot / (sqrt(na) * sqrt(nb)) > 0.43)
        |SELECT dup_id, keep_id,
        |  CAST(CAST(round(cos, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cos
        |FROM scored WHERE rn = 1 ORDER BY dup_id""".stripMargin,
    // d01_semdedup_exact: full SQL replay of the two-level SemDeDup
    // machinery under the shared exact-twin constants (K/cap/scale and
    // the coarse seed indices interpolated from the SAME Scala values
    // the query uses). Quantized integer components make every dot/norm
    // an exact sum in both engines; the remaining sqrt/divide on exact
    // integers is identical IEEE scalar math, so cell argmaxes (tie:
    // larger id, matching Spark's struct max), the csim rank inside a
    // cell, and both dup passes reproduce bit-for-bit. Routing adds the
    // 1e-12 denominator epsilon exactly like routeRegions' cosine.
    "d01_semdedup_exact" -> {
      s"""WITH $SemDedupHierAssignCteSql,
        |hist AS (SELECT cell, COUNT(*) AS cn FROM fassign GROUP BY cell),
        |pair_dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM fassign a JOIN fassign b ON a.cell = b.cell
        |  JOIN hist h ON h.cell = a.cell
        |  WHERE h.cn <= $SemDeDupExactCap
        |    AND (a.csim < b.csim OR (a.csim = b.csim AND a.vec_id < b.vec_id))
        |    AND ${sdxCosSql("a.v", "b.v")} > 0.43),
        |rep AS (
        |  SELECT cell, rep_id, rv FROM (
        |    SELECT f.cell, f.vec_id AS rep_id, f.v AS rv,
        |      ROW_NUMBER() OVER (PARTITION BY f.cell
        |        ORDER BY f.csim DESC, f.vec_id) AS rn
        |    FROM fassign f JOIN hist h ON h.cell = f.cell
        |      AND h.cn > $SemDeDupExactCap)
        |  WHERE rn = 1),
        |rep_dups AS (
        |  SELECT f.vec_id FROM fassign f JOIN rep r ON f.cell = r.cell
        |  WHERE f.vec_id <> r.rep_id AND ${sdxCosSql("f.v", "r.rv")} > 0.43),
        |dups AS (
        |  SELECT vec_id FROM pair_dups UNION SELECT vec_id FROM rep_dups)
        |SELECT f.vec_id, f.cell, (d.vec_id IS NOT NULL) AS is_dup
        |FROM fassign f LEFT JOIN dups d ON d.vec_id = f.vec_id
        |ORDER BY f.vec_id""".stripMargin
    },
    "d02_cosine_topk" ->
      """WITH elems AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS oid,
        |    SUM(a.x * b.x) AS dot, SUM(a.x * a.x) AS na, SUM(b.x * b.x) AS nb
        |  FROM elems a JOIN elems b ON a.i = b.i
        |  WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id
        |  GROUP BY qid, oid),
        |scored AS (
        |  SELECT qid, oid, dot / (sqrt(na) * sqrt(nb)) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, oid) AS rn
        |  FROM pairs)
        |SELECT qid, rn, oid, CAST(CAST(round(cos, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cos
        |FROM scored WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "d01_cluster_exact" ->
      // transitive closure over the exact-Jaccard candidate graph: the
      // recursive member carries every reachable id to every node, min()
      // per node = the component label (same label the engine's min-label
      // propagation converges to)
      """WITH RECURSIVE dtok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tk
        |  FROM documents WHERE doc_id < 100),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM dtok GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ni
        |  FROM dtok x JOIN dtok y ON x.tk = y.tk AND x.lang = y.lang
        |  WHERE x.doc_id < y.doc_id GROUP BY a_id, b_id),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
        |  WHERE CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) >= 0.3),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(id, r) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id AS doc_id, MIN(r) AS cluster, id = MIN(r) AS keeper
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "d04_dsir" ->
      """WITH u AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tc AS (SELECT w, COUNT(*) AS ct FROM u WHERE lang = 'en' GROUP BY w),
        |rc AS (SELECT w, COUNT(*) AS cr FROM u GROUP BY w),
        |sc AS (SELECT COUNT(*) AS nr,
        |  COUNT(*) FILTER (WHERE lang = 'en') AS nt,
        |  COUNT(DISTINCT w) AS v FROM u),
        |scored AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(CAST(round(AVG(
        |      ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (nt + v)) -
        |      ln(CAST(cr + 1 AS DOUBLE) / (nr + v))), 4)
        |      AS DECIMAL(28,4)) AS DOUBLE) AS dsir_weight
        |  FROM u LEFT JOIN tc USING (w) JOIN rc USING (w) CROSS JOIN sc
        |  GROUP BY doc_id)
        |SELECT doc_id, n_tokens, dsir_weight, dsir_weight > 0 AS selected
        |FROM scored ORDER BY doc_id""".stripMargin,
    "d03_jaccard_pairs" ->
      """WITH dtok AS (
        |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS tk
        |  FROM documents WHERE doc_id < 100),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM dtok GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ni
        |  FROM dtok x JOIN dtok y ON x.tk = y.tk AND x.lang = y.lang
        |  WHERE x.doc_id < y.doc_id GROUP BY a_id, b_id)
        |SELECT a_id, b_id,
        |  CAST(CAST(round(CAST(ni AS DOUBLE) / (ca.n + cb.n - ni), 4) AS DECIMAL(28,4)) AS DOUBLE) AS j
        |FROM inter JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
        |WHERE CAST(ni AS DOUBLE) / (ca.n + cb.n - ni) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,
    "d04_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "d04_token_topn" ->
      """SELECT tok, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin,
    "d04_fingerprint" ->
      """SELECT doc_id, CAST(SUM((length(tok) * 31 + ascii(tok)) * i) % 2147483647 AS BIGINT) AS fp
        |FROM (
        |  SELECT doc_id, CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS i,
        |         unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the quantized-lift scoring (sum of BIGINTs) is order-independent,
    // so the argmax reproduces exactly; the profile RANK compares the
    // identical raw-double lift expression in both engines
    "d04_langid" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |toks AS (
        |  SELECT doc_id, lang,
        |    t[CAST(i AS INT)] || '_' || t[CAST(i AS INT) + 1] AS tok
        |  FROM (SELECT doc_id, lang, t, generate_subscripts(t, 1) AS i FROM tk)
        |  WHERE i < len(t) OR len(t) = 1),
        |counts AS (SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY lang, tok),
        |totals AS (SELECT lang, COUNT(*) AS tot FROM toks GROUP BY lang),
        |overall AS (SELECT tok, COUNT(*) AS n_all FROM toks GROUP BY tok),
        |prof AS (
        |  SELECT lang AS p_lang, tok, CAST(round(lift * 1e15) AS BIGINT) AS lift_q
        |  FROM (
        |    SELECT c.lang, c.tok,
        |      (CAST(c.n AS DOUBLE) / t.tot) / CAST(o.n_all AS DOUBLE) AS lift,
        |      ROW_NUMBER() OVER (PARTITION BY c.lang ORDER BY
        |        (CAST(c.n AS DOUBLE) / t.tot) / CAST(o.n_all AS DOUBLE) DESC,
        |        c.tok) AS rk
        |    FROM counts c JOIN totals t ON c.lang = t.lang
        |    JOIN overall o ON c.tok = o.tok
        |    WHERE c.n >= 3)
        |  WHERE rk <= 30),
        |scored AS (
        |  SELECT k.doc_id, p.p_lang, SUM(p.lift_q) AS score
        |  FROM toks k JOIN prof p ON k.tok = p.tok
        |  GROUP BY k.doc_id, p.p_lang),
        |best AS (
        |  SELECT doc_id, p_lang FROM (
        |    SELECT doc_id, p_lang, ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, p_lang) AS rk
        |    FROM scored) WHERE rk = 1)
        |SELECT d.doc_id, d.lang, COALESCE(b.p_lang, 'unk') AS pred_lang
        |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // bigram LM with add-one smoothing, trained on the en slice, scoring
    // every doc: pure integer counts + one rounded double — the joins and
    // grouping reproduce exactly in DuckDB
    "d04_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (
        |  SELECT doc_id, lang, tk[CAST(i AS INT)] AS w1,
        |    tk[CAST(i AS INT) + 1] AS w2
        |  FROM (SELECT doc_id, lang, tk, generate_subscripts(tk, 1) AS i
        |        FROM tok)
        |  WHERE i < len(tk)),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi WHERE lang = 'en'
        |       GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi WHERE lang = 'en'
        |       GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT w2) AS v FROM bi WHERE lang = 'en')
        |SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |  CAST(CAST(round(AVG(-ln((COALESCE(c2.c2, 0) + 1.0) /
        |    (COALESCE(c1.c1, 0) + v.v))), 4) AS DECIMAL(28,4)) AS DOUBLE)
        |    AS cross_entropy
        |FROM bi b
        |LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        |LEFT JOIN c1 ON b.w1 = c1.w1
        |CROSS JOIN v
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "d04_curation" ->
      """WITH scored AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS score
        |  FROM documents),
        |ranked AS (
        |  SELECT lang, doc_id, n_tok, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY score DESC, doc_id) AS INT) AS rnk
        |  FROM scored)
        |SELECT lang, rnk, doc_id, n_tok,
        |  CAST(CAST(round(score, 4) AS DECIMAL(28,4)) AS DOUBLE) AS score
        |FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin,
    "d04_budget_pack" ->
      """WITH scored AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS score
        |  FROM documents),
        |packed AS (
        |  SELECT lang, doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY lang
        |      ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS cum_tok
        |  FROM scored)
        |SELECT lang, doc_id, n_tok, cum_tok FROM packed
        |WHERE cum_tok <= 3000 ORDER BY lang, cum_tok, doc_id""".stripMargin,
    // the packed stream is one global integer prefix sum cut every 512
    // tokens; a doc spans [start, end) and emits one row per overlapped
    // sequence — pure integer math, bit-identical across engines
    "d04_seq_pack" -> seqPackOracleSql("doc_id", "TRUE"),
    "d04_pii" ->
      """WITH r AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |    || '.7 tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    AS raw
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, raw,
        |    regexp_replace(regexp_replace(regexp_replace(raw,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b555-\d{4}\b', '<PHONE>', 'g') AS redacted
        |  FROM r)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(raw,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(raw,
        |    '\b555-\d{4}\b')) AS BIGINT) AS n_phone,
        |  sha256(redacted) AS redacted_sha,
        |  right(redacted, 40) AS red_tail
        |FROM x ORDER BY doc_id""".stripMargin,
    // same injected markup, same strip/decode/collapse pipeline; DuckDB's
    // regexp_replace needs the explicit 'g' flag (Spark replaces all by
    // default); sha256 ↔ sha2(...,256)
    "d04_clean" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    '<div class="post"><h1>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</h1>' || chr(9) || ' ' || text
        |    || ' &amp; more&nbsp;text &lt;ok&gt; <br/>  <span>tail</span>   '
        |    AS raw
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, raw,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(raw, '<[^>]+>', ' ', 'g'),
        |        '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
        |        '&quot;', '"'),
        |      '\s+', ' ', 'g')) AS cleaned
        |  FROM r)
        |SELECT doc_id, CAST(len(raw) AS BIGINT) AS n_raw,
        |  CAST(len(cleaned) AS BIGINT) AS n_clean,
        |  sha256(cleaned) AS clean_sha,
        |  left(cleaned, 30) AS clean_head
        |FROM c ORDER BY doc_id""".stripMargin,
    "d04_datasplit" ->
      """SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM (
        |  SELECT lang, n_chars,
        |    CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT lang, n_chars,
        |          CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
        |            1, 15)) AS BIGINT) % 100 AS b
        |        FROM documents))
        |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "d04_mixture" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'zh' THEN 20 WHEN 'en' THEN 15 WHEN 'de' THEN 10
        |      WHEN 'es' THEN 7 WHEN 'fr' THEN 3 ELSE 10 END AS w10,
        |    (doc_id * 2654435761) % 4294967296 AS u
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    w10 // 10 + CASE WHEN u * 10 < (w10 % 10) * 4294967296
        |      THEN 1 ELSE 0 END AS copies
        |  FROM w)
        |SELECT doc_id, lang, CAST(copy AS BIGINT) AS copy FROM (
        |  SELECT doc_id, lang, 1 AS copy FROM c WHERE copies >= 1
        |  UNION ALL SELECT doc_id, lang, 2 FROM c WHERE copies >= 2
        |  UNION ALL SELECT doc_id, lang, 3 FROM c WHERE copies >= 3)
        |ORDER BY doc_id, copy""".stripMargin,
    // d02_ivf_exact: full SQL replay of the IVF machinery on round(x·1e6)
    // quantized embeddings with the untrained every-31st seed centroids.
    // Integer components make every dot/norm an exact order-independent
    // sum; cell argmax and probe fan-out tie-break (cos DESC, cid DESC)
    // mirror Spark's struct array_max / reversed array_sort exactly.
    "d02_ivf_exact" -> {
      def cos(a: String, b: String): String =
        s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
          s"sqrt(list_dot_product($b, $b))))"
      s"""WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cid, v AS cv FROM q
        |  WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 16),
        |assign AS (
        |  SELECT vec_id AS oid, v AS ov, cell FROM (
        |    SELECT q.vec_id, q.v, c.cid AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        ${cos("q.v", "c.cv")} DESC, c.cid DESC) AS rn
        |    FROM q CROSS JOIN cents c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS qid, v AS qv, cell FROM (
        |    SELECT q.vec_id, q.v, c.cid AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        ${cos("q.v", "c.cv")} DESC, c.cid DESC) AS rn
        |    FROM q CROSS JOIN cents c WHERE q.vec_id < 20)
        |  WHERE rn <= 6),
        |cand AS (
        |  SELECT p.qid, a.oid, ${cos("p.qv", "a.ov")} AS cos
        |  FROM probes p JOIN assign a ON a.cell = p.cell
        |  WHERE a.oid <> p.qid),
        |scored AS (
        |  SELECT qid, oid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, oid) AS rn
        |  FROM cand)
        |SELECT qid, rn, oid,
        |  CAST(CAST(round(cos, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cos
        |FROM scored WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    },
    // d02_ann_filtered: the cosine_topk replay with the per-probe label
    // constraint joined in BEFORE scoring — same dec4 rounding
    "d02_ann_filtered" ->
      """WITH lab AS (SELECT vec_id, label FROM embeddings),
        |elems AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) AS i,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS oid,
        |    SUM(a.x * b.x) AS dot, SUM(a.x * a.x) AS na, SUM(b.x * b.x) AS nb
        |  FROM elems a JOIN elems b ON a.i = b.i
        |  WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id
        |  GROUP BY qid, oid),
        |filt AS (
        |  SELECT p.* FROM pairs p
        |  JOIN lab la ON la.vec_id = p.qid
        |  JOIN lab lb ON lb.vec_id = p.oid AND lb.label = la.label),
        |scored AS (
        |  SELECT qid, oid, dot / (sqrt(na) * sqrt(nb)) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, oid) AS rn
        |  FROM filt)
        |SELECT qid, rn, oid, CAST(CAST(round(cos, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cos
        |FROM scored WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    // d02_ann_filtered_ivf: the d02_ivf_exact replay with label carried
    // through assignment, nprobe widened 6 -> 10 (the oversampling
    // knob), and the label equality on the candidate join
    "d02_ann_filtered_ivf" -> {
      def cos(a: String, b: String): String =
        s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
          s"sqrt(list_dot_product($b, $b))))"
      s"""WITH q AS (
        |  SELECT vec_id, label, list_transform(embedding,
        |    x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cid, v AS cv FROM q
        |  WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 16),
        |assign AS (
        |  SELECT vec_id AS oid, v AS ov, label AS olabel, cell FROM (
        |    SELECT q.vec_id, q.v, q.label, c.cid AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        ${cos("q.v", "c.cv")} DESC, c.cid DESC) AS rn
        |    FROM q CROSS JOIN cents c)
        |  WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS qid, v AS qv, label AS qlabel, cell FROM (
        |    SELECT q.vec_id, q.v, q.label, c.cid AS cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        ${cos("q.v", "c.cv")} DESC, c.cid DESC) AS rn
        |    FROM q CROSS JOIN cents c WHERE q.vec_id < 20)
        |  WHERE rn <= 10),
        |cand AS (
        |  SELECT p.qid, a.oid, ${cos("p.qv", "a.ov")} AS cos
        |  FROM probes p JOIN assign a
        |    ON a.cell = p.cell AND a.olabel = p.qlabel
        |  WHERE a.oid <> p.qid),
        |scored AS (
        |  SELECT qid, oid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, oid) AS rn
        |  FROM cand)
        |SELECT qid, rn, oid,
        |  CAST(CAST(round(cos, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cos
        |FROM scored WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    },
    // d02_pq_exact: full SQL replay of the PQ machinery with the
    // untrained seed codebooks. No quantization: every Spark-side float
    // reduction here is a SEQUENTIAL array fold (aggregate / the
    // cosine_sim loop), which list_reduce replays in identical order —
    // bit-identical doubles, so encode argmax (tie: larger code id), ADC
    // rank, and refine rank all agree. ADC sums via 4 explicit joins in
    // the same left-assoc order as the Spark expression.
    "d02_pq_exact" -> {
      val cosRefine =
        s"(${sqlSeqDot("e1.fv", "e2.fv", 64)} / " +
          s"(sqrt(${sqlSeqDot("e1.fv", "e1.fv", 64)}) * " +
          s"sqrt(${sqlSeqDot("e2.fv", "e2.fv", 64)})))"
      s"""WITH $PqCodebookCteSql,
        |adc AS (
        |  SELECT l0.qid, k.vec_id AS oid,
        |    ((l0.lv + l1.lv) + l2.lv) + l3.lv AS adc
        |  FROM codesw k
        |  JOIN lut l0 ON l0.sb = 0 AND l0.j = k.c0
        |  JOIN lut l1 ON l1.qid = l0.qid AND l1.sb = 1 AND l1.j = k.c1
        |  JOIN lut l2 ON l2.qid = l0.qid AND l2.sb = 2 AND l2.j = k.c2
        |  JOIN lut l3 ON l3.qid = l0.qid AND l3.sb = 3 AND l3.j = k.c3
        |  WHERE l0.qid <> k.vec_id),
        |short AS (
        |  SELECT qid, oid FROM (
        |    SELECT qid, oid,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, oid) AS arn
        |    FROM adc)
        |  WHERE arn <= 200),
        |fin AS (
        |  SELECT sh.qid, sh.oid, $cosRefine AS cos
        |  FROM short sh
        |  JOIN (SELECT vec_id, list_transform(embedding,
        |          x -> CAST(x AS DOUBLE)) AS fv FROM embeddings) e1
        |    ON e1.vec_id = sh.qid
        |  JOIN (SELECT vec_id, list_transform(embedding,
        |          x -> CAST(x AS DOUBLE)) AS fv FROM embeddings) e2
        |    ON e2.vec_id = sh.oid),
        |scored AS (
        |  SELECT qid, oid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, oid) AS rn
        |  FROM fin)
        |SELECT qid, rn, oid,
        |  CAST(CAST(round(cos, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cos
        |FROM scored WHERE rn <= 5 ORDER BY qid, rn""".stripMargin
    },
    // d02_ivfpq_exact: the composed replay — IVF cell assignment +
    // nprobe=8 fan-out on raw (cast-to-double) embeddings with untrained
    // seeds, PQ encode/LUT/ADC from the d02_pq_exact codebook CTEs,
    // cell-bounded candidates, 200-shortlist, cosine refine. All
    // reductions sequential folds — bit-identical in both engines.
    "d02_ivfpq_exact" -> ivfPqExactOracleSql("vec_id % 31 = 0"),
    // hyperplane-LSH reproduction (md5-portable twin): integer plane
    // weights, exact quantized-dot sign test, 8×4 banding, cosine refine
    "d02_ann_exact" ->
      """WITH elems AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS d,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq
        |  FROM embeddings),
        |planes AS (
        |  SELECT dd.d AS d, pp.p AS p, bb.band AS band,
        |    CAST(concat('0x', substring(md5(
        |      CAST(dd.d * 64 + pp.p + bb.band * 4 AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 1000 - 500 AS w
        |  FROM (SELECT unnest(range(0, 64)) AS d) dd,
        |       (SELECT unnest(range(0, 4)) AS p) pp,
        |       (SELECT unnest(range(0, 8)) AS band) bb),
        |dots AS (
        |  SELECT e.vec_id, pl.band, pl.p, SUM(e.xq * pl.w) AS dot
        |  FROM elems e JOIN planes pl ON e.d = pl.d
        |  GROUP BY e.vec_id, pl.band, pl.p),
        |sigs AS (
        |  SELECT vec_id, band, CAST(SUM(CASE WHEN dot > 0
        |    THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS sig
        |  FROM dots GROUP BY vec_id, band),
        |sized AS (
        |  SELECT vec_id, band, sig,
        |    COUNT(*) OVER (PARTITION BY band, sig) AS bn,
        |    MIN(vec_id) OVER (PARTITION BY band, sig) AS mn
        |  FROM sigs),
        |cand AS (
        |  SELECT DISTINCT a_id, b_id FROM (
        |    SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |    FROM (SELECT * FROM sized WHERE bn <= 256) a
        |    JOIN (SELECT * FROM sized WHERE bn <= 256) b
        |      ON a.band = b.band AND a.sig = b.sig
        |    WHERE a.vec_id < b.vec_id
        |    UNION ALL
        |    SELECT mn AS a_id, vec_id AS b_id FROM sized
        |    WHERE bn > 256 AND vec_id <> mn)),
        |pairs AS (
        |  SELECT c.a_id, c.b_id,
        |    CAST(SUM(a.xq * b.xq) AS DOUBLE) AS dot,
        |    CAST(SUM(a.xq * a.xq) AS DOUBLE) AS na,
        |    CAST(SUM(b.xq * b.xq) AS DOUBLE) AS nb
        |  FROM cand c
        |  JOIN elems a ON a.vec_id = c.a_id
        |  JOIN elems b ON b.vec_id = c.b_id AND a.d = b.d
        |  GROUP BY c.a_id, c.b_id)
        |SELECT a_id, b_id,
        |  CAST(CAST(round(dot / (sqrt(na) * sqrt(nb)), 4) AS DECIMAL(28,4))
        |    AS DOUBLE) AS cos
        |FROM pairs WHERE dot / (sqrt(na) * sqrt(nb)) > 0.4
        |ORDER BY a_id, b_id""".stripMargin,
    // full MinHash-LSH reproduction (md5-portable twin): shingle hashes,
    // 8 min lanes via per-lane rehash, 4×2 banding, ≤64 skew guard, join
    "d03_minhash_exact" ->
      """WITH tk AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN
        |      [CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT)]
        |    ELSE list_transform(range(1, len(t) - 1), i ->
        |      CAST(concat('0x', substring(md5(
        |        t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
        |        t[CAST(i AS INT) + 2]), 1, 15)) AS BIGINT))
        |    END AS shash
        |  FROM tk),
        |lanes AS (
        |  SELECT doc_id, bb.b AS lane,
        |    MIN(CAST(concat('0x', substring(md5(
        |      CAST(h AS VARCHAR) || '_' || CAST(bb.b AS VARCHAR)), 1, 15))
        |      AS BIGINT)) AS mh
        |  FROM (SELECT doc_id, unnest(shash) AS h FROM sh),
        |       (SELECT unnest(range(0, 8)) AS b) bb
        |  GROUP BY doc_id, bb.b),
        |sig AS (SELECT doc_id, list(mh ORDER BY lane) AS sig
        |        FROM lanes GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, bb.b AS band,
        |    sig[CAST(bb.b * 2 + 1 AS INT)] AS h0,
        |    sig[CAST(bb.b * 2 + 2 AS INT)] AS h1
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b) bb),
        |sized AS (
        |  SELECT doc_id, band, h0, h1,
        |    COUNT(*) OVER (PARTITION BY band, h0, h1) AS bn,
        |    MIN(doc_id) OVER (PARTITION BY band, h0, h1) AS mn
        |  FROM bands),
        |pruned AS (
        |  SELECT doc_id, band, h0, h1 FROM sized WHERE bn <= 64),
        |allp AS (
        |  SELECT l.doc_id AS a_id, r.doc_id AS b_id
        |  FROM pruned l JOIN pruned r
        |    ON l.band = r.band AND l.h0 = r.h0 AND l.h1 = r.h1
        |  WHERE l.doc_id < r.doc_id
        |  UNION ALL
        |  SELECT mn AS a_id, doc_id AS b_id FROM sized
        |  WHERE bn > 64 AND doc_id <> mn)
        |SELECT DISTINCT a_id, b_id FROM allp ORDER BY a_id, b_id""".stripMargin,
    // full SimHash reproduction: md5-prefix token hashes, per-bit majority
    // vote, 4×15-bit pigeonhole banding, exact hamming — all integer-exact
    "d03_simhash" ->
      (s"WITH ${simhashSigCteSql("documents")},\n" +
      """chunks AS (
        |  SELECT doc_id, sig, ii.i AS band,
        |    (sig >> CAST(ii.i * 15 AS INT)) & 32767 AS chunk
        |  FROM sigs, (SELECT unnest(range(0, 4)) AS i) ii),
        |sized AS (
        |  SELECT doc_id, sig, band, chunk,
        |    COUNT(*) OVER (PARTITION BY band, chunk) AS bn,
        |    MIN(doc_id) OVER (PARTITION BY band, chunk, sig) AS mn
        |  FROM chunks),
        |cand AS (
        |  SELECT l.doc_id AS a_id, r.doc_id AS b_id
        |  FROM (SELECT * FROM sized WHERE bn <= 64) l
        |  JOIN (SELECT * FROM sized WHERE bn <= 64) r
        |    ON l.band = r.band AND l.chunk = r.chunk
        |  WHERE l.doc_id < r.doc_id
        |  UNION ALL
        |  SELECT mn AS a_id, doc_id AS b_id FROM sized
        |  WHERE bn > 64 AND doc_id <> mn),
        |pairs AS (
        |  SELECT DISTINCT c.a_id, c.b_id,
        |    CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS hamming
        |  FROM cand c
        |  JOIN sigs sa ON sa.doc_id = c.a_id
        |  JOIN sigs sb ON sb.doc_id = c.b_id)
        |SELECT a_id, b_id, hamming FROM pairs
        |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin),
    "d03_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |idx AS (
        |  SELECT doc_id, tk, CAST(generate_subscripts(tk, 1) AS INT) AS i
        |  FROM toks),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
        |  FROM idx WHERE i <= len(tk) - 2)
        |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
        |  CAST(COUNT(*) AS BIGINT) AS overlap
        |FROM grams t JOIN grams e ON t.g = e.g
        |WHERE t.doc_id >= 20 AND e.doc_id < 20
        |GROUP BY train_id, eval_id HAVING COUNT(*) >= 2
        |ORDER BY train_id, eval_id""".stripMargin,
    // identical result to d03_contamination: the bloom is a prefilter whose
    // false positives the exact join removes
    "d03_contamination_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |idx AS (
        |  SELECT doc_id, tk, CAST(generate_subscripts(tk, 1) AS INT) AS i
        |  FROM toks),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS g
        |  FROM idx WHERE i <= len(tk) - 2)
        |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
        |  CAST(COUNT(*) AS BIGINT) AS overlap
        |FROM grams t JOIN grams e ON t.g = e.g
        |WHERE t.doc_id >= 20 AND e.doc_id < 20
        |GROUP BY train_id, eval_id HAVING COUNT(*) >= 2
        |ORDER BY train_id, eval_id""".stripMargin,
    "d01_dedup_passage" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |ch AS (
        |  SELECT doc_id, ci AS chunk_idx,
        |    array_to_string(t[(ci * 8 + 1):(ci * 8 + 8)], ' ') AS passage
        |  FROM (SELECT doc_id, t,
        |          unnest(range(CAST(ceil(len(t) / 8.0) AS INT))) AS ci
        |        FROM tk)),
        |rn AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY passage
        |    ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(CAST(round(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 4) AS DECIMAL(28,4)) AS DOUBLE) AS dup_ratio
        |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d04_bpe_tokens" ->
      """WITH r AS (
        |  SELECT doc_id, text || ' v' || CAST(doc_id AS VARCHAR) || '.2, id='
        |    || CAST(doc_id AS VARCHAR) || '; cost $9.99!' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(string_split(raw, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(raw,
        |    ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT) AS n_bpe,
        |  CAST(CAST(round(CAST(len(regexp_extract_all(raw,
        |      ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS DOUBLE)
        |    / len(string_split(raw, ' ')), 4) AS DECIMAL(28,4)) AS DOUBLE)
        |    AS fertility
        |FROM r ORDER BY doc_id""".stripMargin,
    "d04_bpe_encode" -> {
      // the oracle replays the SAME deterministic merge list (it is a
      // fixed public constant); the chain interpolates from BpeMerges so
      // Spark and DuckDB can never drift on rank order
      val chain = BpeMerges.foldLeft("wrapped") { case (acc, (a, b)) =>
        s"replace($acc, '<$a><$b>', '<$a$b>')"
      }
      val vocab = (('a' to 'z').map(_.toString) ++
        BpeMerges.map { case (a, b) => a + b })
        .map(v => s"'$v'").mkString("[", ", ", "]")
      s"""WITH w AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS norm
         |  FROM documents),
         |wr AS (
         |  SELECT doc_id, norm,
         |    array_to_string(list_transform(
         |      list_filter(string_split(norm, ' '), x -> x <> ''),
         |      w -> regexp_replace(w, '(.)', '<\\1>', 'g')), '|') AS wrapped
         |  FROM w WHERE length(replace(norm, ' ', '')) > 0),
         |m AS (SELECT doc_id, norm, $chain AS merged FROM wr),
         |sy AS (
         |  SELECT doc_id, norm, string_split_regex(
         |    substring(merged, 2, length(merged) - 2), '>\\|?<') AS syms
         |  FROM m)
         |SELECT doc_id,
         |  CAST(length(replace(norm, ' ', '')) AS BIGINT) AS n_chars,
         |  CAST(len(syms) AS BIGINT) AS n_tokens,
         |  array_to_string(list_transform(syms,
         |    x -> list_position($vocab, x) - 1), ',') AS token_ids,
         |  CAST(CAST(round(CAST(length(replace(norm, ' ', '')) AS DOUBLE)
         |    / len(syms), 4) AS DECIMAL(28,4)) AS DOUBLE) AS compression
         |FROM sy ORDER BY doc_id""".stripMargin
    },
    "d04_bpe_encode_full" -> {
      // same replay as d04_bpe_encode but over the 256-merge trained
      // model; the chain is split into ≤80-merge CTE blocks because
      // DuckDB's binder caps expression recursion at 128. Both this SQL
      // and the Spark encoder derive from BpeFullMerges (a pure function
      // of in-repo constants), so rank order can never drift.
      val merges = BpeFullMerges
      def chain(src: String, blk: Seq[(String, String)]): String =
        blk.foldLeft(src) { case (acc, (a, b)) =>
          s"replace($acc, '<$a><$b>', '<$a$b>')"
        }
      val blocks = merges.grouped(80).toSeq
      val ctes = blocks.zipWithIndex.map { case (blk, i) =>
        val src = if (i == 0) "wr" else s"m$i"
        s"m${i + 1} AS (SELECT doc_id, norm, " +
          s"${chain("wrapped", blk)} AS wrapped FROM $src)"
      }.mkString(",\n")
      val last = s"m${blocks.size}"
      val vocab = (('a' to 'z').map(_.toString) ++
        merges.map { case (a, b) => a + b })
        .map(v => s"'$v'").mkString("[", ", ", "]")
      s"""WITH w AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS norm
         |  FROM documents),
         |wr AS (
         |  SELECT doc_id, norm,
         |    array_to_string(list_transform(
         |      list_filter(string_split(norm, ' '), x -> x <> ''),
         |      w -> regexp_replace(w, '(.)', '<\\1>', 'g')), '|') AS wrapped
         |  FROM w WHERE length(replace(norm, ' ', '')) > 0),
         |$ctes,
         |sy AS (
         |  SELECT doc_id, norm, string_split_regex(
         |    substring(wrapped, 2, length(wrapped) - 2), '>\\|?<') AS syms
         |  FROM $last)
         |SELECT doc_id,
         |  CAST(length(replace(norm, ' ', '')) AS BIGINT) AS n_chars,
         |  CAST(len(syms) AS BIGINT) AS n_tokens,
         |  array_to_string(list_transform(syms,
         |    x -> list_position($vocab, x) - 1), ',') AS token_ids,
         |  CAST(CAST(round(CAST(length(replace(norm, ' ', '')) AS DOUBLE)
         |    / len(syms), 4) AS DECIMAL(28,4)) AS DOUBLE) AS compression
         |FROM sy ORDER BY doc_id""".stripMargin
    },
    "d04_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS b
        |  FROM (SELECT doc_id, t, CAST(generate_subscripts(t, 1) AS INT) AS i
        |        FROM tk WHERE len(t) >= 2)
        |  WHERE i <= len(t) - 1)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(COUNT(DISTINCT b) AS BIGINT) AS n_distinct,
        |  CAST(CAST(round(1.0 - CAST(COUNT(DISTINCT b) AS DOUBLE) / COUNT(*), 4)
        |    AS DECIMAL(28,4)) AS DOUBLE) AS rep_ratio
        |FROM bg GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d04_gopher_rules" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS n_tok,
        |    CAST(CAST(round(list_aggregate(list_transform(t, x -> length(x)), 'sum')
        |      / CAST(len(t) AS DOUBLE), 4) AS DECIMAL(28,4)) AS DOUBLE) AS mean_len,
        |    CAST(list_max(list_transform(list_distinct(t),
        |      u -> len(list_filter(t, x -> x = u)))) AS BIGINT) AS max_freq
        |  FROM tk)
        |SELECT doc_id, n_tok, mean_len, max_freq,
        |  n_tok >= 20 AND n_tok <= 5000 AS ok_count,
        |  mean_len >= 3.0 AND mean_len <= 12.0 AS ok_meanlen,
        |  CAST(max_freq AS DOUBLE) / n_tok <= 0.2 AS ok_maxfreq,
        |  (n_tok >= 20 AND n_tok <= 5000) AND (mean_len >= 3.0 AND mean_len <= 12.0)
        |    AND (CAST(max_freq AS DOUBLE) / n_tok <= 0.2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "d03_boilerplate" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |            WHERE len(string_split(text, ' ')) >= 4),
        |gr AS (
        |  SELECT DISTINCT doc_id,
        |    t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] AS gram
        |  FROM (SELECT doc_id, t, CAST(generate_subscripts(t, 1) AS INT) AS i FROM tk)
        |  WHERE i <= len(t) - 3),
        |boiler AS (
        |  SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS df
        |                    FROM gr GROUP BY gram) WHERE df >= 3)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN gram IN (SELECT gram FROM boiler) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_boiler,
        |  CAST(CAST(round(CAST(SUM(CASE WHEN gram IN (SELECT gram FROM boiler)
        |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS DECIMAL(28,4)) AS DOUBLE)
        |    AS boiler_ratio
        |FROM gr GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d04_quality" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        | CAST(CAST(round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4)
        |   AS DECIMAL(28,4)) AS DOUBLE) AS avg_tok_len,
        | CAST(CAST(round(CAST(len(list_filter(string_split(text, ' '),
        |     tk -> tk IN ('value', 'table', 'row'))) AS DOUBLE)
        |   / len(string_split(text, ' ')), 4) AS DECIMAL(28,4)) AS DOUBLE) AS kw_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
