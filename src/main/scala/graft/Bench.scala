package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{DecimalNode, IntNode, LongNode,
  NullNode, ObjectNode}
import graft.lake.Json
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main (driver contract): runs the headline batch queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Protocol: one throwaway session warmup, then each query runs once as
  * per-query warmup and twice timed — the reported number is the best
  * timed run. Rounds 1-2 showed ±30-40% run-to-run swings on untouched
  * queries with a single-shot protocol; best-of-2 after warmup is the
  * cheapest way to make a 30% regression distinguishable from noise.
  * The cache is cleared between runs so a query that caches intermediates
  * (d03_minhash_lsh) pays the same materialization cost every run instead
  * of accidentally reusing a previous run's cache.
  *
  * Queries execute into the noop sink — count() would let Catalyst prune
  * the very projections being measured. Streaming replays and the
  * scratch-LakeTable queries are exercised by Verify/tests, not timed here:
  * the headline set is the batch surface whose cost scales with data.
  *
  * The JSON line is printed bare on stdout (build.sbt forces
  * OutputStrategy.StdoutOutput so sbt cannot prefix it) and also written
  * to /tmp/graft_bench.json as a file fallback.
  */
object Bench {
  // Representative scan/filter/join/agg/window/sort/dedup/pipeline mix.
  val headline: Seq[String] = Seq(
    "b01_scan", "b08_filter", "b09_join_inner", "b10_join_broadcast",
    "b11_join_left", "b14_range_join", "b17_q1", "b18_distinct_agg",
    "b20_rollup", "b22_window_rank", "b25_sort_topk", "b29_dedup",
    "b33_pivot", "c04_array", "d01_dedup_exact", "d01_dedup_embed",
    "d02_cosine_topk", "d03_minhash_lsh", "d03_contamination",
    "d04_token_topn", "d04_fingerprint", "d04_curation",
    "d03_boilerplate", "d04_repetition", "d04_budget_pack",
    "d06_pipeline_e2e")

  /** The round-5 scale flags, fixed and priced: fuzzy-dedup CC with the
    * distributed label handoff, SemDeDup with scale-aware K + two-level
    * assignment. Run AFTER the envelope benches, not inside `headline`:
    * their fixpoint/persist churn (~7 s of GC-heavy jobs) right before
    * `ingest_100k` measurably shifted the envelope numbers (+0.2-0.4 s
    * each), which would read as cross-round regressions on entries whose
    * code didn't change.
    */
  val heavyTail: Seq[String] = Seq(
    // r15: the filtered-ANN scale path (per-probe label predicate inside
    // the oversampled IVF candidate join) — new surface, so appending it
    // here (not to `headline`) keeps the envelope `total` population
    // comparable across rounds; its wall reports under heavy_total
    "d02_ann_filtered_ivf",
    // moved here from the END of `headline` in round 8: its scratch-table
    // commit+GC churn sat directly before `ingest_100k` and drifted that
    // entry +0.17 s with no code change (r7 verdict finding #1) — the
    // exact adjacency effect this block exists to absorb. Its seconds now
    // report under heavy_total (round ≥8 artifacts).
    "d01_semdedup_incremental",
    // round-10: the LAST scratch-laketable entry still in the envelope —
    // every sibling (the three incremental gates below, the committed
    // indexes) moved here in r8/r9 for the same reason: the timed region
    // includes table create/commit/drop churn the DuckDB oracle replays
    // as pure logic, so in the ENVELOPE it reads as a 40× "ratio" that is
    // actually the table round-trip being priced against nothing
    "d01_dedup_incremental",
    // round-8 additions: both build and drop scratch laketables, so their
    // commit churn belongs here, away from the envelope entries
    "d01_minhash_incremental", "d02_ann_indexed",
    // round-9: the committed band-index variant of the fuzzy gate and the
    // trained-model committed ANN index — scratch-table commit churn (and
    // Lloyd-round training jobs), same placement rationale
    "d03_minhash_index", "d02_ann_indexed_trained",
    // round-9: the committed semantic cell index — completes the
    // committed-index family; same scratch-table churn rationale
    "d01_semdedup_index",
    // continuation: the incremental packer (scratch-table commits +
    // property roll-forward), priced with its family
    "d04_seqpack_incremental",
    "d01_dedup_cluster", "d01_semdedup",
    // ~5.5 s at sf0.1: the export writes ~500 per-shard files through the
    // lake sink — honest pricing of the one-file-per-shard layout, but
    // its IO/GC churn belongs after the envelope entries
    "d06_pipeline_shards",
    // round-11: the production-vocab BPE encoder (commits a scratch model
    // table → heavy family); its tokens/sec rides the full artifact via
    // runBpeRate
    "d04_bpe_encode_full",
    // round-12 (r11 verdict item 3): the round-11 operator family was
    // priced only in the one-off x4/x10 artifact — round-over-round
    // regressions in BM25/substring/LR were invisible. All commit scratch
    // laketables (substring/BM25/phrase indexes, the LR's committed
    // corpus) → heavy family, same placement rationale as their siblings.
    // d02_hybrid_indexed is round-12's committed-fusion entry, tracked
    // from birth.
    "d01_dedup_substring", "d01_substring_index", "d02_bm25_index",
    "d02_phrase_index", "d04_quality_lr", "d02_hybrid_indexed",
    // realistic-selectivity ranked serve (r14): its committed-index
    // build + octave-probe serve track round-over-round, hash-oracled
    "d02_bm25_zipf",
    // r15 (r14 verdict item 3): the phrase and hybrid arms under the
    // same realistic Zipf selectivity, hash-oracled from birth
    "d02_phrase_zipf", "d02_hybrid_zipf")

  /** Global shuffle-exchange accumulator (r14 verdict item 1): the
    * join-shaped envelope entries bounced 1.5–2.4× across code-identical
    * runs and the artifact could not decompose a bounced wall into
    * bytes-moved (plan drift) vs time-per-byte (machine epoch). This
    * listener sums task-level shuffle read/write bytes, fetch-wait and
    * write time across every task that completes between reset() and
    * snapshot(); the bench brackets each timed rep of the join family
    * with it and keeps the snapshot from the rep that produced the
    * reported (min) wall. Listener events post asynchronously, so both
    * reset and snapshot first drain: wait until the task counter is
    * stable across a 20 ms window.
    */
  private object ExchangeProbe
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    private val readB = new AtomicLong
    private val writeB = new AtomicLong
    private val fetchWaitMs = new AtomicLong
    private val writeMs = new AtomicLong
    private val taskN = new AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        readB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        writeB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        writeMs.addAndGet(m.shuffleWriteMetrics.writeTime / 1000000L)
        taskN.incrementAndGet()
      }
    }
    private def drain(): Unit = {
      var prev = -1L
      var i = 0
      while (i < 50) {
        val cur = taskN.get()
        if (cur == prev) return
        prev = cur
        Thread.sleep(20)
        i += 1
      }
    }
    def reset(): Unit = {
      drain()
      readB.set(0); writeB.set(0); fetchWaitMs.set(0); writeMs.set(0)
      taskN.set(0)
    }
    def snapshot(): Seq[(String, Double)] = {
      drain()
      Seq("rd_mb" -> readB.get() / 1048576.0,
        "wr_mb" -> writeB.get() / 1048576.0,
        "fw_ms" -> fetchWaitMs.get().toDouble,
        "wt_ms" -> writeMs.get().toDouble,
        "tasks" -> taskN.get().toDouble)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.useV1SourceList", "")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(ExchangeProbe)

    // the entries whose timed reps the ExchangeProbe brackets; the SPJ
    // pair and the stream-catchup region are probed at their own call
    // sites below (they time through dedicated runners). The two
    // heavy entries are the other r14 bouncers (+26%/+37% same-code) —
    // their bytes include scratch-table build shuffles, which is fine:
    // the adjudication compares each entry against ITS OWN prior rounds.
    val exchangeFamily = Set("b09_join_inner", "b11_join_left",
      "d02_ann_indexed", "d06_pipeline_e2e",
      // r15 canonical run's only >1.4x mover (1.02 -> 1.57 s same-code,
      // bloom-gated increment over committed state) — probed so an r16
      // bounce splits into bytes-moved vs time-per-byte like the rest
      "d01_dedup_incremental",
      // r15 verdict item 3: the driver's trained-ANN regression
      // (3.95 -> 6.31 s on a code path whose r16 same-JVM A/B read flat)
      // gets the same adjudication bracket
      "d02_ann_indexed_trained",
      // r15 verdict item 3: the ingest_100k 2.17 -> 4.04 s move happened
      // on byte-identical code and could not be adjudicated bytes-moved
      // vs time-per-byte
      "ingest_100k", "maintenance_compact")
    // short artifact prefixes for the `exchange` object's keys
    val exchangeKeyNames = Map(
      "b09_join_inner" -> "b09", "b11_join_left" -> "b11",
      "lake_join_spj" -> "spj", "lake_join_shuffle" -> "shuf",
      "stream_catchup_backlog" -> "catchup",
      "d02_ann_indexed" -> "ann", "d06_pipeline_e2e" -> "e2e",
      "d01_dedup_incremental" -> "dinc",
      "d02_ann_indexed_trained" -> "annt", "ingest_100k" -> "ing",
      "maintenance_compact" -> "mnt")
    val exchangeByEntry =
      scala.collection.mutable.Map[String, (Double, Seq[(String, Double)])]()
    def recordExchange(key: String, wall: Double): Unit =
      if (wall >= 0) {
        val snap = ExchangeProbe.snapshot()
        exchangeByEntry.get(key) match {
          case Some((w, _)) if w <= wall => ()
          case _ => exchangeByEntry(key) = (wall, snap)
        }
      }

    // entries whose phase split the artifact carries (r14 verdict item 2):
    // bestOf captures every rep's trace and keeps the record of the rep
    // that set the reported MIN — phases taken post-hoc came from the LAST
    // rep, so a taxed last rep made phases sum to 2× the reported wall
    // (r14's own artifact: ann phases 9.58 s vs entry 4.05 s). Each gets
    // its spans, the zipf serves' file-pruning counts, and phases_wall_s
    // so sum-of-phases ≈ wall is checkable from the JSON.
    val phaseEntries = Set("d02_ann_indexed", "d02_hybrid_indexed",
      "d02_phrase_index", "d02_bm25_zipf", "d02_phrase_zipf",
      "d02_hybrid_zipf")
    val pruneEntries = Set("d02_bm25_zipf", "d02_phrase_zipf")
    val serveFileCounts =
      Set("serve_files_planned", "serve_bucket_files", "files_total")
    val minRepPhases =
      scala.collection.mutable.Map[String, Seq[(String, Double)]]()

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      } finally spark.sqlContext.clearCache()
      (System.nanoTime() - t0) / 1e9
    }

    /** The one rep protocol, for every envelope, lifecycle and heavy
      * entry: warmup run (discarded), then best of two timed runs — plus a
      * THIRD timed run when the best so far is sub-1.5 s (r10 verdict item 1:
      * the envelope is ~25 entries dominated by fixed per-job overhead, so
      * on a weather-degraded VM a single bad scheduler/GC pause inflates a
      * 0.3 s entry 2-3×; one extra rep on the cheap entries costs ~10 s of
      * wall total and moves the reported min materially toward the true
      * floor. Entries ≥1.5 s keep best-of-2: their runtime is real work,
      * spiky noise is proportionally small, and a third rep there would
      * add minutes). `f` returns one rep's wall in seconds, -1 on failure;
      * reps of the `exchangeFamily` entries get the ExchangeProbe bracket.
      */
    def bestOf(key: String)(f: () => Double): Double = {
      val probed = exchangeFamily(key)
      var minSoFar = Double.MaxValue
      def rep(): Double = {
        if (probed) ExchangeProbe.reset()
        val (w, trace) = Trace.capture(f())
        if (probed) recordExchange(key, w)
        if (w >= 0 && w < minSoFar) {
          minSoFar = w
          if (phaseEntries(key))
            minRepPhases(key) = trace.spans ++ trace.counts.collect {
              case (k, n) if pruneEntries(key) && serveFileCounts(k) =>
                k -> n.toDouble
            } :+ ("phases_wall_s" -> w)
        }
        w
      }
      // warmup: runs what a rep runs, never probed, never sets the min
      Trace.capture(f())
      val a = rep(); val b = rep()
      val best = if (a < 0 || b < 0) math.max(a, b) else math.min(a, b)
      if (best >= 0 && best < 1.5) {
        val c = rep()
        if (c >= 0) math.min(best, c) else best
      } else best
    }

    /** The reference's core workload (A4–A15): generate → write partitioned
      * files → publish monikers → bookkeeper sweep → one fast-append commit.
      * Reported as seconds for 100k rows × 4 writer batches.
      */
    def runIngest(): Double = {
      import graft.lake._
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ingest-${java.util.UUID.randomUUID()}"
      val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      val t0 = System.nanoTime()
      for (i <- 0 until 4) {
        val files = LakeWriter.writeDataFiles(
          LakeWriter.generateBatch(spark, 25000, (5666666L + i) * 300000000L, seed = i),
          table, filesPerPartition = 4)
        Monikers.publish(loc, files)
      }
      new FileBookkeeper(table).sweep()
      val secs = (System.nanoTime() - t0) / 1e9
      assert(table.toDF(spark).count() == 100000L)
      LakeTable.drop(loc)
      secs
    }

    /** Table maintenance envelope: a table fragmented into many small
      * ingest files is bin-pack compacted and re-scanned. Timed region =
      * compactFiles + full re-scan (the operations an operator schedules);
      * the fragmentation setup itself is untimed.
      */
    def runMaintenance(): Double = {
      import graft.lake._
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft-bench-maint-${java.util.UUID.randomUUID()}"
      val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      // 4 commits × (buckets × 4 files) of small files — the many-small-file
      // state a streaming ingester leaves behind
      for (i <- 0 until 4) {
        table.append(LakeWriter.writeDataFiles(
          LakeWriter.generateBatch(spark, 25000, (5666666L + i) * 300000000L, seed = 100 + i),
          table, filesPerPartition = 4))
      }
      val before = table.files().size
      val t0 = System.nanoTime()
      table.compactFiles(spark)
      val n = table.toDF(spark).count()
      val secs = (System.nanoTime() - t0) / 1e9
      assert(n == 100000L, s"maintenance rescan saw $n rows")
      assert(table.files().size < before, "compaction did not reduce file count")
      LakeTable.drop(loc)
      secs
    }

    /** DSv2 scan parity: the same non-pushable aggregate over the same data
      * files, once through format("laketable") (vectorized columnar reader +
      * manifest planning) and once through raw spark.read.parquet. The two
      * numbers belong within ~1.5× of each other — the laketable source must
      * not tax the table it exists for.
      */
    def runLakeScanPair(): Seq[(String, Double)] = {
      import graft.lake._
      import org.apache.spark.sql.functions._
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft-bench-scan-${java.util.UUID.randomUUID()}"
      val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      // 100k rows × 4 commits = 400k
      for (i <- 0 until 4)
        table.append(LakeWriter.writeDataFiles(
          LakeWriter.generateBatch(spark, 100000, (5666666L + i) * 300000000L, seed = 200 + i),
          table, filesPerPartition = 4))
      val paths = table.files().map(_.path)
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.agg(avg(length(col("data"))).as("avg_len"),
          avg(col("message_id")).as("avg_id"),
          sum(length(col("message_body"))).as("body_bytes"))
      def once(df: => org.apache.spark.sql.DataFrame): Double = {
        val t0 = System.nanoTime()
        agg(df).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      // alternate the two scans (warmup pair, then 3 timed pairs, best run
      // each) so GC/page-cache drift lands on both sides equally — with
      // lake always first, the fresh table's cold page cache taxed only the
      // lake side and read as a reader gap (it wasn't: steady-state runs
      // are at parity)
      def lakeDf = spark.read.format("laketable").load(loc)
      def rawDf = spark.read.schema(table.schema).parquet(paths: _*)
      // 5 timed pairs, min each: profiled exec-time variance on this exact
      // workload is ~3× (GC/page-cache jitter dwarfs the reader delta), so
      // min-of-3 routinely reported a phantom reader gap in either
      // direction. Both sides get identical treatment.
      once(lakeDf); once(rawDf)
      val (lakes, raws) = (1 to 5).map(_ => (once(lakeDf), once(rawDf))).unzip
      LakeTable.drop(loc)
      Seq("lake_scan_400k" -> lakes.min, "lake_scan_raw_parquet" -> raws.min)
    }

    /** Row-level DML pair: the SAME sparse MERGE (update 1% of rows, keys
      * scattered so every data file holds matches) against the same 100k-row
      * table, once copy-on-write (rewrites every touched file) and once
      * merge-on-read (writes positions + new versions). The gap between the
      * two numbers is the write amplification MoR exists to remove; at
      * 100 TB it is the difference between a delta-sized commit and
      * re-copying every touched file. Timed region = the MERGE only.
      */
    def runMergeOnce(mor: Boolean): Double = {
      val cat = graft.queries.LakeQueries.dmlCatalog(spark)
      val tbl = s"$cat.ns.bm${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val props =
        if (mor) s"TBLPROPERTIES ('${graft.lake.LakeFormat.PropMergeMode}'='" +
          s"${graft.lake.LakeFormat.DeleteModeMergeOnRead}')"
        else ""
      spark.sql(
        s"""CREATE TABLE $tbl (k BIGINT, v DOUBLE, tag STRING)
           |PARTITIONED BY (truncate(12500, k)) $props""".stripMargin)
      // 4 commits × 8 buckets → 32 files, matches in every one
      for (i <- 0 until 4)
        spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE), 'x' " +
          s"FROM range(${i * 25000}, ${(i + 1) * 25000})")
      val t0 = System.nanoTime()
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING (SELECT id * 100 AS k, CAST(id AS DOUBLE) AS v, 'm' AS tag
           |       FROM range(0, 1000)) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.v * 2, tag = s.tag
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val secs = (System.nanoTime() - t0) / 1e9
      val n = spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0)
      assert(n == 100000L, s"merge bench saw $n rows")
      spark.sql(s"DROP TABLE $tbl")
      secs
    }

    /** Merge-on-read READ tax: the same aggregate scan over the same table
      * with 1% of rows position-deleted — once with the masks pending
      * (whole scan on the row path, per-slice bitmap application) and once
      * after compaction materialized them (columnar fast path). The gap is
      * what un-paid delete debt costs every reader, i.e. the number that
      * sets the compaction cadence at 100 TB.
      */
    def runMorScanPair(): Seq[(String, Double)] = {
      import graft.lake._
      import org.apache.spark.sql.functions._
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft-bench-mor-${java.util.UUID.randomUUID()}"
      val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
        Map(LakeFormat.PropDeleteMode -> LakeFormat.DeleteModeMergeOnRead))
      for (i <- 0 until 4)
        table.append(LakeWriter.writeDataFiles(
          LakeWriter.generateBatch(spark, 100000, (5666666L + i) * 300000000L, seed = 300 + i),
          table, filesPerPartition = 4))
      table.deleteWhere(spark, col("message_id") % 100 === 0) // 1% scattered
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.agg(avg(length(col("data"))).as("avg_len"), avg(col("message_id")).as("avg_id"))
      def once(): Double = {
        val t0 = System.nanoTime()
        agg(spark.read.format("laketable").load(loc))
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val pending = math.min(once(), once())
      table.compactFiles(spark)
      once()
      val compacted = math.min(once(), once())
      LakeTable.drop(loc)
      Seq("lake_scan_mor_pending" -> pending,
        "lake_scan_mor_compacted" -> compacted)
    }

    /** Point-lookup pair: the SAME needle query (`WHERE v = <needle>`, a
      * non-partition high-cardinality column) against two tables holding
      * identical rows in identically-rolled files — one declared
      * `write.sort-order=v` + `write.bloom.columns=v` (disjoint per-file
      * v-ranges, blooms in every footer), one with neither. The sorted
      * side plans ONE file via manifest stats and bloom-skips row groups;
      * the plain side reads every file because each covers the full
      * range. The gap is what declaring the layout buys every needle
      * query — at 100 TB it is the difference between opening one 512 MB
      * file and scanning the corpus.
      *
      * Instrumented (r14, after the r13 10× regression arrived with no
      * code change on this path and no way to adjudicate it from the
      * artifact): each side's detail — total data files, planned files
      * per needle serve, and every rep's wall — lands in
      * `pointLookupDetail` (the planned counts on the stdout line, the
      * rest in the full artifact). Planned-count
      * drift means the layout stopped pruning; same counts with
      * uniformly slow reps means per-open cost (fs weather); one bad
      * rep means a scheduler/GC pause the min already absorbs.
      */
    var pointLookupDetail: Seq[(String, Double)] = Nil
    def runPointLookupPair(): Seq[(String, Double)] = {
      val cat = graft.queries.LakeQueries.dmlCatalog(spark)
      val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
      val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
      def build(name: String, props: String): (String, String) = {
        val tbl = s"$cat.ns.$name$sfx"
        spark.sql(
          s"""CREATE TABLE $tbl (k BIGINT, v BIGINT, tag STRING)
             |PARTITIONED BY (truncate(1000000, k)) $props""".stripMargin)
        // v is a scattered permutation of [0, 1M): without the declared
        // sort every rolled file's min/max covers the full range and
        // nothing prunes; with it the range distribution + local sort
        // make the rolled files disjoint in v
        spark.sql(s"INSERT INTO $tbl SELECT id, (id * 7919) % 1000000, " +
          "md5(cast(id AS STRING)) FROM range(0, 1000000)")
        (tbl, s"$wh/ns/$name$sfx")
      }
      val (sorted, sortedLoc) = build("pls",
        "TBLPROPERTIES ('write.sort-order'='v', " +
        "'write.bloom.columns'='v', 'write.target-file-size-bytes'='1048576')")
      val (plain, plainLoc) = build("plp",
        "TBLPROPERTIES ('write.target-file-size-bytes'='1048576')")
      def once(tbl: String, needle: Long): Double = {
        val t0 = System.nanoTime()
        // fetch the payload, not count(*): the needle's row must be FOUND
        // and materialized, the everyday "give me this document" shape
        val rows = spark.sql(s"SELECT k, tag FROM $tbl WHERE v = $needle")
          .collect()
        assert(rows.length == 1, s"point lookup saw ${rows.length} rows")
        (System.nanoTime() - t0) / 1e9
      }
      def planned(loc: String): Double = graft.lake.dsv2.LakeScanMetrics
        .lastPlannedByLocation.getOrElse(loc, -1).toDouble
      def side(tbl: String, loc: String,
          tag: String): (Double, Seq[(String, Double)]) = {
        // warmup uses its OWN needle: re-querying a warmed needle makes
        // that rep systematically page-cache-hot and the per-rep walls
        // incomparable (the adjudication signal this detail exists for).
        // All three timed reps are fresh needles — the pair reads
        // slightly higher than the pre-r14 warm-repeat protocol, once.
        val warm = once(tbl, 7919L * 4 % 1000000)
        val warmPlanned = planned(loc)
        val repPairs = (1 to 3).map { i =>
          val w = once(tbl, 7919L * i % 1000000)
          (w, planned(loc))
        }
        val reps = repPairs.map(_._1)
        // planned-file counts are captured PER REP (r14 ADVICE: a single
        // post-hoc sample reflects only the last rep's plan, so pruning
        // drift that appears mid-side was invisible). Identical reps
        // collapse to the single historical key; divergence emits per-rep
        // keys alongside it plus a stderr warning.
        val plans = warmPlanned +: repPairs.map(_._2)
        val plannedDetail =
          if (plans.distinct.size == 1) Seq(s"${tag}_planned" -> plans.head)
          else {
            System.err.println(s"[bench] point_lookup $tag: per-rep " +
              "planned-file counts DIVERGED (warm,r1,r2,r3): " +
              plans.map(_.toLong).mkString(","))
            Seq(s"${tag}_planned" -> repPairs.last._2) ++
              repPairs.zipWithIndex.map { case ((_, p), i) =>
                s"${tag}_planned_r${i + 1}" -> p }
          }
        val detail =
          (Seq(s"${tag}_total" -> graft.lake.LakeTable.load(loc).files()
                .size.toDouble) ++
            plannedDetail ++
            Seq(s"${tag}_warm" -> warm,
              s"${tag}_max" -> reps.max)) ++
            reps.zipWithIndex.map { case (w, i) => s"${tag}_r${i + 1}" -> w }
        (reps.min, detail)
      }
      // needles exist by construction (v is a bijection on [0, 1000000))
      val (s, sDetail) = side(sorted, sortedLoc, "s")
      val (p, pDetail) = side(plain, plainLoc, "p")
      // sp/pp: the two planned counts again under the stdout line's short
      // names (the pruning-drift canary; sorted must stay 1)
      pointLookupDetail = sDetail ++ pDetail ++ (sDetail ++ pDetail).collect {
        case ("s_planned", v) => "sp" -> v
        case ("p_planned", v) => "pp" -> v }
      System.err.println("[bench] point_lookup detail: " + pointLookupDetail
        .map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      spark.sql(s"DROP TABLE $sorted"); spark.sql(s"DROP TABLE $plain")
      Seq("lake_point_lookup_sorted" -> s, "lake_point_lookup_plain" -> p)
    }

    /** Storage-partitioned-join pair: the SAME lake-lake equi-join on
      * (partition column, row id) over the same two tables — once with V2
      * bucketing on (each side's key-grouped scan satisfies the join's
      * distribution, zero exchanges under the join) and once with it off
      * (both inputs re-shuffle). The gap is the dominant cost of a
      * fact-fact lake join at 100 TB: with co-partitioned tables the join
      * is a per-bucket merge; without, it moves both corpora over the
      * network. Timed region = join + aggregate only; table build shared.
      */
    def runSpjJoinPair(): Seq[(String, Double)] = {
      val cat = graft.queries.LakeQueries.dmlCatalog(spark)
      val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
      def build(name: String): String = {
        val tbl = s"$cat.ns.$name$sfx"
        spark.sql(
          s"""CREATE TABLE $tbl (k BIGINT, id BIGINT, v DOUBLE)
             |PARTITIONED BY (truncate(62500, k))""".stripMargin)
        // 1M rows over 16 buckets; id scattered within bucket
        spark.sql(s"INSERT INTO $tbl SELECT id % 1000000, id, " +
          "CAST(id AS DOUBLE) FROM range(0, 1000000)")
        tbl
      }
      val a = build("spja")
      val b = build("spjb")
      val q =
        s"""SELECT count(*) AS pairs, sum(a.v + b.v) AS s
           |FROM $a a JOIN $b b ON a.k = b.k AND a.id = b.id""".stripMargin
      def once(spj: Boolean): Double = {
        val confs = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> spj.toString,
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> spj.toString,
          // join keys (k, id) SUPERSET the partition key truncate(k):
          // accept the partition-key prefix as co-partitioning (SpjSpec)
          "spark.sql.requireAllClusterKeysForCoPartition" -> (!spj).toString,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        SessionConf.withConf(spark, confs: _*) {
          val t0 = System.nanoTime()
          val row = spark.sql(q).head()
          assert(row.getLong(0) == 1000000L, s"spj join saw ${row.getLong(0)}")
          (System.nanoTime() - t0) / 1e9
        }
      }
      once(true); once(false) // warmup both shapes
      def probedRep(key: String, spj: Boolean): Double = {
        ExchangeProbe.reset()
        val w = once(spj)
        recordExchange(key, w)
        w
      }
      val spjs = (1 to 3).map(_ => probedRep("lake_join_spj", spj = true))
      val shuf = (1 to 3).map(_ =>
        probedRep("lake_join_shuffle", spj = false))
      spark.sql(s"DROP TABLE $a"); spark.sql(s"DROP TABLE $b")
      Seq("lake_join_spj" -> spjs.min, "lake_join_shuffle" -> shuf.min)
    }

    /** Streaming catch-up under a deep snapshot backlog (the A25
      * contract): 32 fast-append commits land BEFORE the stream starts;
      * the reader must plan each micro-batch in O(files admitted) — the
      * round-3 O(snapshots × inventory) walk made exactly this shape
      * quadratic — and byte-based admission must chunk the backlog into
      * bounded triggers (what keeps a 1000-executor restart from
      * swallowing a week of commits in one batch). Timed region = stream
      * start → processAllAvailable; per-trigger admitted row counts go to
      * stderr so the round artifact records the admission shape.
      */
    def runStreamCatchup(): Double = {
      import graft.lake._
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft-bench-stream-${java.util.UUID.randomUUID()}"
      val ckpt = s"$loc-ckpt"
      val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      for (i <- 0 until 32)
        table.append(LakeWriter.writeDataFiles(
          LakeWriter.generateBatch(spark, 3125, (5666666L + i % 4) * 300000000L,
            seed = 400 + i), table))
      val totalBytes = table.files().map(_.sizeBytes).sum
      ExchangeProbe.reset() // timed region only — the backlog build is untimed
      val t0 = System.nanoTime()
      val q = spark.readStream.format("laketable")
        .option("maxBytesPerTrigger", (totalBytes / 8).max(1L).toString)
        .load(loc)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      recordExchange("stream_catchup_backlog", secs)
      val admitted = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      q.stop()
      assert(admitted.sum == 100000L, s"catch-up saw ${admitted.sum} rows")
      assert(admitted.length >= 4,
        s"admission did not chunk the backlog (${admitted.length} trigger(s))")
      System.err.println(
        s"[bench] stream_catchup admissions (rows/trigger): ${admitted.mkString(",")}")
      LakeTable.drop(loc)
      org.apache.hadoop.fs.FileSystem
        .getLocal(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(ckpt), true)
      secs
    }

    /** r11 verdict item 1 — the WELL-CONDITIONED headline ratio. Three
      * rounds of driver artifacts computed >2× vs DuckDB while committed
      * runs sat at 1.15–1.55×; the in-artifact canaries proved why: at
      * sf0.1 the 25-entry envelope numerator is ~70% fixed per-job Spark
      * floor (spark_floor ≈ 0.09 s × 25 over a 17 MB corpus) and the
      * denominator is ~70% ONE 3 s oracle — a ratio of two
      * weather-exposed constants, not of engine work. This section makes
      * the headline number itself well-conditioned: the SAME headline
      * queries over a ×M-replicated corpus (default ×10) timed for BOTH
      * engines inside the SAME run, so real work dominates the job
      * floor. The SUM ratio can still be dominated by one entry where
      * the engines' per-row costs differ by orders of magnitude (r12/
      * r13: d01_dedup_embed is ~94% of the denominator; the r13 run
      * with perturbed replicas pinned the mechanism — DuckDB scales
      * LINEARLY, 5.9 s ×1 → 62.7 s ×10, it is simply ~100×/pair slower
      * at list-lambda cosine than Spark's codegen'd float kernel, a
      * genuine engine win that one entry should still not let set the
      * headline) — which is why the x10 block also carries ratio_median
      * and ratio_work, and why every replicated table gets
      * de-duplication treatment below.
      *
      * Corpus replication preserves join selectivity — each replica joins
      * only itself (fact keys offset per replica: orderkey/custkey/
      * partkey/suppkey aligned across lineitem/orders/customer/part/
      * supplier; events offset user_id+event_id so the range join's
      * per-user pairing never crosses replicas) while the genuine
      * dimensions (nation/region) stay unreplicated, exactly like a
      * higher scale factor. Documents get a per-replica " cp$i" suffix
      * and embeddings a one-dimension deterministic perturbation per
      * replica (replica texts AND vectors stay unique, so dedup
      * semantics don't degenerate into giant equal groups — the r12
      * ADVICE finding: exact-duplicate replica vectors drove the DuckDB
      * dedup oracle quadratic and its 53 s were 94% of the ×10
      * denominator); probe/eval/canonical sets keyed on low ids
      * (vec_id < 20/400, doc_id < 20) stay CONSTANT-sized by
      * construction — queries scale in corpus, not in probe count, the
      * 100 TB shape.
      *
      * Estimator: warmup + MEDIAN-of-3 per entry per engine (verdict item
      * 1b). The sf0.1 envelope keeps best-of for cross-round continuity
      * (item 1c); here median is the right statistic because this section
      * exists to produce THE summary ratio and a single lucky rep should
      * not define it. The DuckDB side runs through the same
      * tools/bench_duckdb.py with mode=median3 against the same scratch
      * corpus in the same process run — same weather for both engines by
      * construction.
      *
      * One ×m tier builds the scratch corpus, runs the given entries
      * through both engines (same run, same storage), and returns (spark
      * walls, duckdb seconds, budget-pack phases). A second tier re-runs
      * just the floor-dominated subset at a higher multiplier (r14 verdict
      * item 4) — the ×10 corpus at 170 MB leaves ~half the overlap
      * sub-second on BOTH engines, carrying no engine signal.
      */
    def runEnvelopeAtScale(m: Int, names: Seq[String], withPack: Boolean):
        (Seq[(String, Double)], Option[JsonNode], Seq[(String, Double)]) = {
      import org.apache.spark.sql.functions._
      val scratch = s"${System.getProperty("java.io.tmpdir")}/graft-envx$m-${java.util.UUID.randomUUID()}"
      def tb(n: String) = graft.Tables.t(spark, sfDir, n)
      def keyCeil(n: String, c: String): Long =
        tb(n).agg(max(col(c))).head().getLong(0) + 1
      // which tables does the selected entry subset actually read? For
      // the full headline, all of them; for a subset (the deep floor
      // tier), ONE dry plan-construction pass against the base dir
      // records Tables.t accesses — replicating 8 tables at ×100 for
      // entries that scan two is minutes of wasted untimed setup, and a
      // hand-kept entry→tables map would silently starve an entry the
      // first time a query grew an input (review finding, r14).
      val needed: Set[String] =
        if (names == headline) graft.Tables.names.toSet
        else {
          val acc = scala.collection.mutable.Set[String]()
          graft.Tables.accessRecorder = Some(n => acc += n)
          // note: EAGER entries (those that execute jobs at construction)
          // run fully here, untimed, against the base corpus — acceptable
          // discovery cost, but a construction failure must be LOGGED: an
          // entry that threw after touching only some of its tables gets
          // a silently starved `needed` set otherwise (r14 ADVICE)
          try names.foreach { n =>
            try SparkEntry.queries(n)(spark, sfDir)
            catch { case e: Throwable =>
              System.err.println(s"[bench] x$m table discovery: $n threw " +
                s"${e.getClass.getSimpleName}: ${e.getMessage} — its " +
                "needed-tables set may be incomplete")
            }
          } finally graft.Tables.accessRecorder = None
          acc.toSet ++ Set("nation", "region") // tiny dims always ride
        }
      // key ceilings are one job per table — computed only when the
      // owning table (or a table shifted by its key) is materialized
      lazy val mOrd = keyCeil("orders", "o_orderkey")
      lazy val mCust = keyCeil("customer", "c_custkey")
      lazy val mPart = keyCeil("part", "p_partkey")
      lazy val mSupp = keyCeil("supplier", "s_suppkey")
      // events' two ceilings in ONE aggregate; rep() caches its base so
      // the union of m shifted replicas reads the source parquet once,
      // not m times (untimed setup, but it runs on every full bench)
      lazy val evCeil = tb("events")
        .agg(max(col("user_id")), max(col("event_id"))).head()
      lazy val mUser = evCeil.getLong(0) + 1
      lazy val mEvent = evCeil.getLong(1) + 1
      lazy val mDoc = keyCeil("documents", "doc_id")
      lazy val mVec = keyCeil("embeddings", "vec_id")
      def rep(table: String)(shift: (org.apache.spark.sql.DataFrame, Int) =>
          org.apache.spark.sql.DataFrame): Unit = {
        if (!needed(table)) return
        val base = tb(table).persist()
        try (0 until m).map(i => shift(base, i)).reduce(_ union _)
          .write.parquet(s"$scratch/$table.parquet")
        finally base.unpersist()
      }
      rep("lineitem")((d, i) => d
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * mOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(i * mPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * mSupp)))
      rep("orders")((d, i) => d
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * mOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * mCust)))
      rep("customer")((d, i) => d
        .withColumn("c_custkey", col("c_custkey") + lit(i * mCust)))
      rep("part")((d, i) => d
        .withColumn("p_partkey", col("p_partkey") + lit(i * mPart)))
      rep("supplier")((d, i) => d
        .withColumn("s_suppkey", col("s_suppkey") + lit(i * mSupp)))
      rep("events")((d, i) => d
        .withColumn("event_id", col("event_id") + lit(i * mEvent))
        .withColumn("user_id", col("user_id") + lit(i * mUser)))
      rep("documents")((d, i) => {
        val sh = d.withColumn("doc_id", col("doc_id") + lit(i * mDoc))
        if (i == 0) sh
        else sh.withColumn("text", concat(col("text"), lit(s" cp$i")))
      })
      rep("embeddings")((d, i) => {
        val sh = d.withColumn("vec_id", col("vec_id") + lit(i * mVec))
        // the documents' " cp$i" treatment for vectors: nudge ONE
        // dimension (cycling with the replica index) by a tiny
        // deterministic epsilon — replicas stay near their source (same
        // cells/buckets, same candidate structure) but are no longer
        // bit-equal, so no engine's dedup path degenerates on
        // corpus-sized equal groups
        if (i == 0) sh
        else sh.withColumn("embedding",
          expr(s"transform(embedding, (x, j) -> IF(j = $i % size(embedding), " +
            s"CAST(x + ${i}.0E-4 AS FLOAT), x))"))
      })
      // true dimensions ride along unreplicated (b09/b10 join them)
      for (t <- Seq("nation", "region"))
        tb(t).write.parquet(s"$scratch/$t.parquet")
      def med3(name: String): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          try SparkEntry.queries(name)(spark, scratch)
            .write.mode("overwrite").format("noop").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name x$m failed: ${e.getMessage}")
            return -1.0
          } finally spark.sqlContext.clearCache()
          (System.nanoTime() - t0) / 1e9
        }
        // short-circuit on the first failure (r12 ADVICE): a failed rep
        // already condemns the entry to -1 — paying for the remaining
        // reps only burns minutes; the -1 rides envelope_x10 in the full
        // artifact, so a shrunken overlap is attributable from the JSON
        if (once() < 0) return -1.0 // warmup
        var reps = List.empty[Double]
        while (reps.size < 3) {
          val r = once()
          if (r < 0) return -1.0
          reps ::= r
        }
        reps.sorted.apply(1)
      }
      val sparkSide = names.map(n => n -> med3(n))
      // budget-pack phase probe at ×M (r12 verdict item 1): one timed
      // job per stage of the two-phase pack plus the cut-count /
      // max-slice-width canaries, so a superlinear wall in the summary
      // is attributable from the artifact alone — degenerate cuts show
      // as a corpus-sized max_slice_rows, environmental pressure as all
      // phases inflating together while the canaries stay healthy
      val packPhases: Seq[(String, Double)] =
        if (!withPack) Nil
        else try graft.queries.PipelineQueries.budgetPackPhases(spark, scratch)
        catch { case e: Throwable =>
          System.err.println(s"[bench] budget_pack phases x$m failed: " +
            e.getMessage)
          Nil
        }
      // DuckDB over the SAME scratch corpus, same protocol, same run
      val duck = runDuckdb(scratch, names.toSet, Some("median3"))
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(scratch))
      (sparkSide, duck, packPhases)
    }

    /** Realistic-vocabulary retrieval selectivity (r12 verdict item 3).
      * The testdata vocabulary is ~30 words, so the fixed probe terms ARE
      * the corpus head (each in ~78% of docs, 80% of postings) — every
      * committed-index serve is measured at its WORST case and layout
      * pruning looks like it does nothing even when it is correct. This
      * probe synthesizes the corpus a 100 TB index actually serves: the
      * sf's doc count ×10, 40 terms per doc drawn Zipf(≈1) from a
      * 20,011-term vocabulary (rank = floor(V^u) with deterministic
      * xxhash64 u-draws — P(rank) ∝ 1/rank), a planted probe phrase and
      * a planted 40-char duplicated span on every 512th doc. ONE
      * committed positional index (the d02_phrase_index layout: tkey
      * buckets, thash-sorted files) serves both ranked and phrase reads;
      * the substring gate runs through its own committed shingle index.
      * Reported per term-frequency DECILE (rank V^(k/10), k=1..10):
      * serve wall (warmup + best-of-2), planned files, and df — the
      * query-proportional curve from corpus-head (d1, df ≈ 80% of docs)
      * to needle (d10, df ≈ a dozen docs). Full-artifact key
      * `zipf_retrieval`; never inside total/heavy_total.
      */
    def runZipfRetrieval(): Seq[(String, Double)] = {
      import org.apache.spark.sql.functions._
      import graft.lake._
      val P = graft.queries.PipelineQueries
      val out = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      val V = 20011L
      val nDocs = graft.Tables.t(spark, sfDir, "documents").count() * 10
      val span = "the exact same forty character span here"
      def u(j: Int) =
        pmod(xxhash64(col("id"), lit(j)), lit(1000000L)).cast("double") / 1e6
      val terms = (0 until 40).map(j =>
        concat(lit("w"), floor(pow(lit(V.toDouble), u(j))).cast("long")))
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat(concat_ws(" ", terms: _*),
          when(pmod(col("id"), lit(512L)) === 0L,
            lit(s" zp1 zp2 $span")).otherwise(lit(""))).as("text"))
      val idxLoc = s"${System.getProperty("java.io.tmpdir")}/graft-bench-zipf-${java.util.UUID.randomUUID()}"
      val idx = LakeTable.create(idxLoc,
        "tkey BIGINT,thash BIGINT,term STRING,doc_id BIGINT,tf BIGINT," +
          "dl BIGINT,positions ARRAY<BIGINT>",
        TruncateSpec("tkey", 1L))
      idx.setProperty("write.sort-order", "thash")
      try {
        idx.append(LakeWriter.writeDataFiles(
          P.positionalPostings(docs)
            .withColumn("thash", xxhash64(col("term")))
            .withColumn("tkey", pmod(col("thash"), lit(16L)))
            .select("tkey", "thash", "term", "doc_id", "tf", "dl",
              "positions"),
          idx, sortBy = Seq("thash"), maxRecordsPerFile = 16384L))
        val totalFiles = idx.refresh().files().size
        out += "files_total" -> totalFiles.toDouble
        out += "n_docs" -> nDocs.toDouble
        def planned(): Double = graft.lake.dsv2.LakeScanMetrics
          .lastPlannedByLocation.getOrElse(idxLoc, -1).toDouble
        def timed(f: => Unit): Double = {
          f // warmup — re-plans and re-reads like any serve
          def once(): Double = {
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          math.min(once(), once())
        }
        // ---- ranked serve per term-frequency decile ----
        for (k <- 1 to 10) {
          val rank = math.min(V - 1,
            math.max(1L, math.pow(V.toDouble, k / 10.0).toLong))
          val term = s"w$rank"
          val pred = P.layoutPredicate(Seq(P.thashOf(term)))
          def serveOnce(): Unit =
            LakeTable.load(idxLoc).toDF(spark).filter(pred)
              .filter(col("term") === term)
              .select(col("doc_id"),
                (col("tf").cast("double") / col("dl")).as("score"))
              .orderBy(col("score").desc, col("doc_id")).limit(10)
              .write.mode("overwrite").format("noop").save()
          val s = timed(serveOnce())
          // capture the serve's planning BEFORE the df-count query below
          // re-plans the same table — they share a predicate today, but a
          // future serve-only plan change (e.g. limit-driven pruning)
          // must not be silently mislabeled by the count scan's number
          val filesPlanned = planned()
          val df = LakeTable.load(idxLoc).toDF(spark).filter(pred)
            .filter(col("term") === term).count()
          out += s"bm25_d${k}_s" -> s
          out += s"bm25_d${k}_files" -> filesPlanned
          out += s"bm25_d${k}_df" -> df.toDouble
        }
        // ---- phrase serve (planted needle phrase) ----
        {
          val pred = P.layoutPredicate(
            Seq(P.thashOf("zp1"), P.thashOf("zp2")))
          def phraseOnce(): Unit = {
            val m = LakeTable.load(idxLoc).toDF(spark).filter(pred)
              .filter(col("term").isin("zp1", "zp2"))
              .select("term", "doc_id", "positions")
            val a = m.filter(col("term") === "zp1")
              .select(col("doc_id"), col("positions").as("pa"))
            val b = m.filter(col("term") === "zp2")
              .select(col("doc_id"), col("positions").as("pb"))
            a.join(b, Seq("doc_id"))
              .withColumn("n_occur", size(array_intersect(
                expr("transform(pa, x -> x + 1)"), col("pb"))).cast("long"))
              .filter(col("n_occur") > 0)
              .select("doc_id", "n_occur")
              .write.mode("overwrite").format("noop").save()
          }
          out += "phrase_s" -> timed(phraseOnce())
          out += "phrase_files" -> planned()
        }
      } finally LakeTable.drop(idxLoc)
      // ---- substring gate through the committed shingle index ----
      // corpus = the zipf docs (planted span duplicated every 512th doc);
      // increment = one novel doc COPYING the span — the gate must flag
      // it while planning only the increment's skey buckets
      locally {
        import spark.implicits._
        val inc = Seq((nDocs + 1L, span + " !!!!")).toDF("doc_id", "text")
        val (spans, trace) = Trace.capture(graft.queries.LakeQueries
          .substrIndexRun(spark, docs, inc))
        val n = spans.count()
        // phase-split (r13 review): substrIndexRun's wall is >99% the
        // ONE-TIME corpus shingle-index build — reporting it as the
        // gate would claim corpus-proportional serve work, the exact
        // misattribution this probe exists to rule out. The gate key
        // carries the increment-proportional serve only.
        out += "substr_build_s" -> trace.span("build_s")
        out += "substr_gate_s" -> trace.span("gate_s")
        out += "substr_maint_s" -> trace.span("maint_s")
        out += "substr_gate_hits" -> n.toDouble
        out += "substr_files_planned" ->
          trace.count("serve_files_planned").toDouble
        out += "substr_files_total" -> trace.count("files_total").toDouble
      }
      System.err.println("[bench] zipf_retrieval: " + out.map {
        case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      out.toSeq
    }

    /** Commit latency vs snapshot-history
      * depth (r7 verdict item #4). The reference's whole point is
      * low-latency ingest; the delta-metadata codec claims O(1)-ish
      * commits at deep history, but the standard benches only price
      * ~32-commit tables. 1000 single-file fast-appends land on one
      * table; each commit is timed individually and the curve reports
      * mean ms-per-commit over the windows ending at depth 10 / 100 /
      * 1000. The appended metas are synthetic (unique paths, no physical
      * parquet): the probe isolates the COMMIT PROTOCOL — metadata codec
      * + CAS + property GC — from Spark job-launch noise, which at ~1 ms
      * per commit would otherwise be 100× the signal. Reported under its
      * own `commit_curve` JSON key (ms units), never inside
      * `total`/`heavy_total`.
      */
    def runCommitCurve(): Seq[(String, Double)] = {
      import graft.lake._
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ccurve-${java.util.UUID.randomUUID()}"
      val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      val lat = new Array[Double](1000)
      for (i <- 0 until 1000) {
        val meta = DataFileMeta(s"$loc/data/f$i.parquet", 1024L, 10L,
          5666666L * 300000000L)
        val t0 = System.nanoTime()
        table.append(Seq(meta))
        lat(i) = (System.nanoTime() - t0) / 1e6
      }
      assert(table.currentSnapshotId == 1000L,
        s"commit curve landed at snapshot ${table.currentSnapshotId}")
      LakeTable.drop(loc)
      def win(until: Int): Double = {
        val from = math.max(0, until - 10)
        lat.slice(from, until).sum / (until - from)
      }
      // full decade-ish shape to stderr for diagnosis; the artifact keys
      // carry the three contract depths
      System.err.println("[bench] commit curve (ms/commit): " +
        Seq(10, 100, 200, 300, 400, 500, 700, 900, 1000)
          .map(d => s"at_$d=${"%.2f".formatLocal(java.util.Locale.ROOT, win(d))}")
          .mkString(" "))
      Seq("ms_per_commit_at_10" -> win(10), "ms_per_commit_at_100" -> win(100),
        "ms_per_commit_at_1000" -> win(1000))
    }

    /** Phase split for the shard export (r9 verdict item 3): the heavy
      * entry `d06_pipeline_shards` prices gate→dedup→redact→pack COMPUTE,
      * the one-file-per-shard LAKE WRITE, and the DSv2 READ-BACK as one
      * number, while its DuckDB oracle replays only the compute CTE — the
      * single-key artifact read as a 24.6× "regression". Same dataflow,
      * three timed phases under their own keys; the entry's single number
      * stays untouched for cross-round comparability.
      */
    def runShardPhases(): Seq[(String, Double)] = {
      import graft.lake._
      val P = graft.queries.PipelineQueries
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft-bench-d06p-${java.util.UUID.randomUUID()}"
      def secs(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val sharded = P.shardedCorpus(spark, sfDir)
      val computeS = secs(sharded.write.mode("overwrite").format("noop").save())
      LakeTable.create(loc,
        "lang STRING,doc_id BIGINT,n_tok BIGINT,cum_tok BIGINT," +
          "shard BIGINT,redacted_sha STRING",
        TruncateSpec("shard", 1L))
      val writeS = secs(
        sharded.write.format("laketable").mode("append").save(loc))
      val readS = secs(
        spark.read.format("laketable").load(loc)
          .write.mode("overwrite").format("noop").save())
      LakeTable.drop(loc)
      System.err.println(f"[bench] d06 shard phases: compute=$computeS%.2fs " +
        f"write=$writeS%.2fs read=$readS%.2fs")
      Seq("compute_s" -> computeS, "write_s" -> writeS, "read_s" -> readS)
    }

    // SPARK_GRAFT_BENCH_ONLY=<substring[,substring...]> restricts the run —
    // an iteration aid (e.g. =lake_scan while tuning the DSv2 reader, or a
    // section name: =zipf_retrieval, =commit_curve); a full run leaves it
    // unset.
    val benchOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val only: String => Boolean = benchOnly match {
      case Some(f) => val pats = f.split(","); n => pats.exists(n.contains)
      case None => _ => true
    }
    val fullRun = benchOnly.isEmpty
    // the lifecycle entries use the same protocol as the queries — each
    // invocation builds and drops its own scratch table, so repeats are
    // independent (single-shot runs read ±35% noise as regressions across
    // rounds 1-3)
    def lifecycle(key: String)(f: () => Double): Seq[(String, Double)] =
      if (only(key)) Seq(key -> bestOf(key)(f)) else Nil
    def query(name: String): (String, Double) =
      name -> bestOf(name)(() => runOnce(name))
    query("b01_scan") // session warmup (codegen, FS metadata) — not reported
    val envelope = headline.filter(only).map(query) ++
      lifecycle("ingest_100k")(() => runIngest()) ++
      lifecycle("maintenance_compact")(() => runMaintenance()) ++
      lifecycle("dml_merge_cow")(() => runMergeOnce(mor = false)) ++
      lifecycle("dml_merge_mor")(() => runMergeOnce(mor = true)) ++
      (if (only("lake_scan_400k")) runLakeScanPair() else Nil) ++
      (if (only("lake_scan_mor")) runMorScanPair() else Nil) ++
      (if (only("lake_point_lookup")) runPointLookupPair() else Nil) ++
      (if (only("lake_join_spj")) runSpjJoinPair() else Nil) ++
      lifecycle("stream_catchup_backlog")(() => runStreamCatchup())
    val heavy = heavyTail.filter(only).map(query)
    // r11 verdict item 1: the work-dominated headline ratio (see
    // runEnvelopeAtScale above). Runs on every FULL run — this is the
    // section whose ratio is the round's summary number; the raw sf0.1
    // envelope above stays untouched for cross-round continuity. Runs
    // AFTER the envelope+heavy entries (the adjacency rule) and BEFORE
    // the commit-curve canary, so the canary still adjudicates the
    // whole run's weather.
    val x10Mult = 10
    val (x10Spark, x10Duck, x10PackPhases) =
      if (fullRun) runEnvelopeAtScale(x10Mult, headline, withPack = true)
      else (Seq.empty[(String, Double)], None, Seq.empty[(String, Double)])
    // DEEP tier over the FLOOR-DOMINATED subset (r14 verdict item 4):
    // at ×10 roughly half the overlap is sub-0.1 s on DuckDB — those
    // entries' ratios price the fixed Spark job floor against an
    // in-process engine, not the plans. Entries the ×10 run measured
    // under the 0.1 s work bar re-run at ×100 (derived from THIS run's
    // duckdb map, not a hardcoded list), growing the work-dominated
    // population the combined ratio_work covers. ×100, not ×40: a ×40
    // pilot moved only 4 of 16 over the bar — DuckDB answers the
    // scan/filter/pivot shapes in near-metadata time, so the multiplier
    // must buy an order of magnitude. Entries still under the bar at
    // ×100 are genuinely floor-shaped in BOTH engines (b01-style
    // metadata answers); they stay visible in duckdb_xfloor rather than
    // being silently escalated further.
    val xfloorMult = 100
    val x10DuckSecs = duckSeconds(x10Duck)
    val floorNames = x10Spark.filter(_._2 >= 0).map(_._1)
      .filter(k => x10DuckSecs.get(k).exists(v => v > 0 && v < 0.1))
    val (xfloorSpark, xfloorDuck) =
      if (fullRun && floorNames.nonEmpty) {
        val (s, d, _) = runEnvelopeAtScale(xfloorMult, floorNames,
          withPack = false)
        (s, d)
      } else (Seq.empty[(String, Double)], None)
    // realistic-vocabulary retrieval selectivity (r12 verdict item 3)
    val zipfRetrieval =
      if (only("zipf_retrieval"))
        try runZipfRetrieval()
        catch { case e: Throwable =>
          System.err.println(s"[bench] zipf_retrieval failed: ${e.getMessage}")
          Nil
        }
      else Nil
    // the commit curve doubles as the IN-ARTIFACT VM-HEALTH CANARY (r9
    // verdict item 1): it is pure fs-op protocol work (no Spark jobs), so
    // ms_per_commit_at_1000 ≈ 7 ms marks a healthy VM and ~2× that the
    // degraded one that inflated the r9 envelope. Every FULL run embeds
    // it — a reader can now adjudicate environment-vs-regression from the
    // committed artifact alone. Runs AFTER the envelope+heavy entries so
    // its 1000-commit churn can't shift them (the adjacency rule).
    val commitCurve = if (only("commit_curve")) runCommitCurve() else Nil
    // SECOND in-artifact canary (r10 verdict item 1, "fix the sensitivity"):
    // the measured PER-ENTRY SPARK FLOOR. The envelope is ~25 sub-second
    // entries whose cost at sf0.1 is dominated by fixed per-job overhead
    // (scheduling + 32-task shuffle stages + the noop write + clearCache),
    // not by plan quality — the floor probes price exactly that overhead
    // through the SAME timed path as every entry: noop write + clearCache,
    // and the same MIN estimator the entries use (min-of-9 here vs
    // best-of-2/3 there — more reps because the probe is ~0.1 s, so nine
    // cost nothing; the estimator FAMILY matches, r11 advice #4, so
    // subtracting the floor from entry numerators no longer mixes a
    // median into best-of numbers). Decomposition for a reader:
    //   marginal_envelope ≈ spark_overlap_total − overlap × floor_shuffle_s
    // At the 100 TB design point this per-job constant amortizes into real
    // work; at sf0.1 it IS most of the numerator, and it is also the part
    // VM weather inflates (degraded runs tax scheduling + scratch IO, which
    // the flat-fs commit-curve canary does not see). Two shapes:
    //   floor_noshuffle_s — one codegen'd stage, no exchange (range+sum);
    //   floor_shuffle_s   — tiny parquet scan + one exchange + noop write
    //                       (the minimum shape of a real envelope entry).
    val sparkFloor = if (fullRun) {
      def probe(mk: () => org.apache.spark.sql.DataFrame): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          mk().write.mode("overwrite").format("noop").save()
          spark.sqlContext.clearCache()
          (System.nanoTime() - t0) / 1e9
        }
        once(); once() // warm (codegen + scan metadata)
        Seq.fill(9)(once()).min // min of 9 — the entries' estimator family
      }
      Seq(
        "floor_noshuffle_s" -> probe(() =>
          spark.range(1000).selectExpr("sum(id) AS s")),
        "floor_shuffle_s" -> probe(() =>
          spark.read.parquet(s"$sfDir/region.parquet")
            .groupBy("r_name").count()),
        // THIRD canary (r14): sustained shuffle THROUGHPUT, not just the
        // per-job floor. The r14 full run measured the join-shaped
        // B-entries 1.5-2.4× their three-round band while BOTH existing
        // canaries read calm — fs-op latency and tiny-job floor do not
        // see a machine epoch that taxes bulk exchange (page cache,
        // memory bandwidth). 8M synthetic rows through one wide hash
        // exchange + aggregate prices exactly that regime (~0.3 s
        // healthy), so a board drift on the join/agg family is
        // adjudicable from the committed artifact alone.
        "floor_bulk_s" -> probe(() =>
          spark.range(8000000L)
            .selectExpr("id % 100000 AS k", "id AS v")
            .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")
              .as("s"))
            .selectExpr("sum(s) AS t")),
        // FOURTH canary (r15): sustained PARQUET-SCAN throughput over the
        // testdata itself. The r14 bounce class (join-shaped entries
        // moving 1.5-2.4× on identical code while range-based floor_bulk
        // moved +5%) is consistent with page-cache eviction of the
        // testdata files — a regime a synthetic range() shuffle never
        // touches. This probe reads lineitem's widest column (l_comment)
        // plus two numerics end to end, so a board drift on anything
        // scan-fed decomposes against it: scan canary moves with the
        // entries = storage/page-cache epoch; scan canary calm = look at
        // the exchange object's bytes instead.
        "floor_scan_s" -> probe(() =>
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .selectExpr("sum(l_extendedprice * l_discount) AS a",
              "sum(l_quantity + l_tax) AS b", "count(l_returnflag) AS c",
              "max(l_shipdate) AS d")))
    } else Nil
    // phase split rides every full artifact next to the single-key entry
    val shardPhases = if (fullRun) runShardPhases() else Nil
    // r11 verdict item 7 (attributable drift) + r14 verdict item 2
    // (min-rep consistency): each phased entry's split is the one
    // captured AT the rep that set the entry's reported wall, with
    // phases_wall_s carrying that wall — so sum-of-time-phases ≈
    // phases_wall_s is checkable from the artifact, and a reader never
    // inherits the r14 trap of last-rep phases summing to 2× the entry.
    def entryPhases(name: String): Seq[(String, Double)] =
      if (!fullRun) Nil
      else {
        val ph = minRepPhases.getOrElse(name, Nil)
        if (ph.nonEmpty) {
          System.err.println(s"[bench] $name phases: " + ph
            .map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
          for ((timeSum, w) <- phaseDrift(ph))
            System.err.println(f"[bench] WARNING: $name phase sum " +
              f"$timeSum%.2fs exceeds its min-rep wall $w%.2fs — " +
              "phase capture drifted from the reported rep")
        }
        ph
      }
    // r10 verdict item 2's "measured tokens/sec at a few-hundred-merge
    // vocab": one end-to-end run of the production-vocab encoder (model
    // commit + serve) reduced to sum(n_tokens); rate = corpus tokens
    // emitted per second of wall, the number a tokenization budget uses
    val bpeRate = if (fullRun) {
      val t0 = System.nanoTime()
      val toks = graft.queries.PipelineQueries
        .d04_bpe_encode_full(spark, sfDir)
        .agg(org.apache.spark.sql.functions.sum("n_tokens"))
        .head().getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] bpe_full: ${toks / secs}%.0f tokens/s " +
        f"($toks tokens in $secs%.2fs, 256 merges)")
      Seq("merges" -> 256.0, "tokens" -> toks.toDouble,
        "tokens_per_sec" -> toks / secs, "encode_s" -> secs)
    } else Nil
    if (x10PackPhases.nonEmpty)
      System.err.println("[bench] d04_budget_pack x10 phases: " +
        x10PackPhases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    // the join family's min-rep exchange decomposition (r14 verdict item
    // 1): per probed entry, the wall that was reported plus the shuffle
    // bytes moved and the fetch-wait/write time behind it. Adjudication
    // rule (README): bytes flat vs the prior round + wall up = machine
    // epoch (time-per-byte moved); bytes up = plan drift — the two causes
    // a bounced join entry could previously not be split into.
    val exchangeStats: Seq[(String, Double)] = exchangeByEntry.toSeq
      .sortBy(_._1).flatMap { case (entry, (wall, snap)) =>
        val p = exchangeKeyNames.getOrElse(entry, entry)
        (s"${p}_wall_s" -> wall) +: snap.map { case (k, v) =>
          s"${p}_$k" -> v }
      }
    if (exchangeStats.nonEmpty)
      System.err.println("[bench] exchange (min-rep): " + exchangeStats
        .map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    val results = envelope ++ heavy
    val (line, full) = render(Measured(
      sf = sfDir.split('/').last,
      envelope = envelope,
      heavy = heavy,
      x10 = Tier(x10Mult, x10Spark, x10Duck),
      x10PackPhases = x10PackPhases,
      xfloor = Tier(xfloorMult, xfloorSpark, xfloorDuck),
      sections = Seq(
        "point_lookup" -> pointLookupDetail,
        "commit_curve" -> commitCurve,
        "spark_floor" -> sparkFloor,
        "exchange" -> exchangeStats,
        "d06_shards_phases" -> shardPhases) ++
        Seq("d02_ann_indexed", "d02_hybrid_indexed", "d02_phrase_index",
          "d02_bm25_zipf", "d02_phrase_zipf", "d02_hybrid_zipf")
          .map(n => s"${n}_phases" -> entryPhases(n)) ++
        Seq("bpe_full" -> bpeRate, "zipf_retrieval" -> zipfRetrieval),
      // DuckDB side-by-side: each measured entry's oracle SQL on the same
      // parquet at the same sf, so the artifact carries both engines and
      // the round ratio needs no re-measurement
      duckdb = runDuckdb(sfDir, results.map(_._1).toSet, mode = None)))
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: json line ${line.length} chars " +
        "— approaching the 2000-char driver tail capture")
    // the file copies keep ms precision AND the full per-query duckdb map;
    // BENCH_FULL_c<cpus>.json is committed so a reader has the complete
    // map even though stdout carries summaries. One file per core count:
    // an 8-core run once overwrote the 32-core artifact and its canaries.
    // Partial runs (SPARK_GRAFT_BENCH_ONLY) write the /tmp copy only — a
    // section-only iteration must never clobber the committed full
    // artifact with an empty envelope. Same guard for the SCALE: the
    // committed artifact is sf0.1 evidence, and a full smoke at sf0.001
    // (the verify recipe's step 4) silently replaced it once in r11 —
    // only a full run at the driver's sf may write it.
    for (path <- Seq("/tmp/graft_bench.json") ++
        (if (fullRun && sfDir.endsWith("sf0.1")) Seq(s"BENCH_FULL_c$cpus.json")
         else Nil)) {
      try {
        val w = new java.io.PrintWriter(path)
        try w.println(full) finally w.close()
      } catch { case _: Throwable => }
    }
    // the bare stdout line is printed LAST so an output-tail capture
    // always holds the complete line
    println(line)
    spark.stop()
  }

  /** A ×m replicated-corpus tier: the Spark walls per entry and the DuckDB
    * twin's {entry: seconds} object (None when DuckDB did not run).
    */
  final case class Tier(mult: Int, spark: Seq[(String, Double)],
      duckdb: Option[JsonNode])

  /** What one run measured — the input of [[render]]. `sections` are the
    * named per-run objects (canaries, phase splits, zipf_retrieval) in
    * report order; an empty one is left out.
    */
  final case class Measured(
      sf: String,
      envelope: Seq[(String, Double)],
      heavy: Seq[(String, Double)],
      x10: Tier,
      x10PackPhases: Seq[(String, Double)],
      xfloor: Tier,
      sections: Seq[(String, Seq[(String, Double)])],
      duckdb: Option[JsonNode])

  /** Times each named entry's oracle SQL in DuckDB over the parquet tables
    * in `dir` through tools/bench_duckdb.py (mode "median3" for the ×m
    * tiers, the script's best-of protocol otherwise) and returns its
    * {entry: seconds} object. None when no entry has oracle SQL or when
    * python3/duckdb is unavailable or fails — duckdb is measurement
    * tooling, not a library dependency.
    */
  private def runDuckdb(dir: String, names: Set[String],
      mode: Option[String]): Option[JsonNode] = {
    val sqls = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
    if (sqls.isEmpty) None
    else try {
      val node = Json.obj()
      sqls.foreach { case (k, v) => node.put(k, v) }
      val f = java.io.File.createTempFile("graft-bench-sql", ".json")
      f.deleteOnExit()
      java.nio.file.Files.write(f.toPath,
        Json.write(node).getBytes("UTF-8"))
      // stderr INHERITs the bench's own stderr: a piped-but-unread
      // stderr deadlocks the child (and this run) the moment a warning
      // storm overflows the ~64 KB pipe buffer; merging into stdout
      // would corrupt the JSON line instead
      val proc = new ProcessBuilder((Seq("python3", "tools/bench_duckdb.py",
          dir, f.getAbsolutePath) ++ mode): _*)
        .redirectError(ProcessBuilder.Redirect.INHERIT).start()
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      val line = try src.mkString.trim finally src.close()
      if (proc.waitFor() == 0 && line.startsWith("{")) Some(Json.parse(line))
      else None
    } catch { case _: Throwable => None }
  }

  /** The DuckDB seconds per entry; entries whose oracle errored are left
    * out.
    */
  private def duckSeconds(duck: Option[JsonNode]): Map[String, Double] =
    duck.fold(Map.empty[String, Double])(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble(-1.0))
      .filter(_._2 >= 0).toMap)

  // Entries whose DuckDB oracle is deliberately ORACLE-SHAPED rather than
  // engine-idiomatic: d04_bpe_encode_full's oracle replays the greedy BPE
  // encoder as ~80-deep nested-replace CTE blocks (the only way DuckDB SQL
  // can express merge recursion), measured ~90× the Spark mapPartitions
  // encoder (30.4 s vs 0.34 s at sf0.1). Timing that compares the oracle's
  // SHAPE, not the engines — and including it flatters the summary ratio
  // ~2.8× (0.69 vs 1.9 on the r11 healthy run). The summary overlap
  // excludes it; the raw per-query number stays in duckdb_seconds so both
  // are visible.
  private val oracleShaped = Set("d04_bpe_encode_full")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0 else xs.sorted.apply((xs.size - 1) / 2)

  /** Phases recorded as per-thread durations of work that runs at the same
    * time: the hybrid entries build their lexical and ANN arms
    * concurrently, so the two spans overlap on the wall.
    */
  private val concurrentPhases = Set("lex_build_s", "ann_build_s")

  /** `(phase sum, wall)` when a rep's `_s` time phases add up past its
    * `phases_wall_s` by more than capture noise, i.e. the split was not
    * taken at the reported rep. Sequential phases add; the concurrent ones
    * count once, as their longest.
    */
  private[graft] def phaseDrift(
      phases: Seq[(String, Double)]): Option[(Double, Double)] = {
    val (concurrent, sequential) = phases.collect {
      case (k, v) if k.endsWith("_s") && k != "phases_wall_s" => k -> v
    }.partition { case (k, _) => concurrentPhases(k) }
    val timeSum = sequential.map(_._2).sum +
      concurrent.map(_._2).maxOption.getOrElse(0.0)
    phases.collectFirst { case ("phases_wall_s", w) => w }
      .filter(w => timeSum > w * 1.3 + 0.2).map(timeSum -> _)
  }

  /** The full report as one JSON tree of raw numbers, in artifact order. */
  private def report(m: Measured): ObjectNode = {
    val root = Json.obj()
    def put(key: String, entries: Seq[(String, Double)]): Unit =
      if (entries.nonEmpty) {
        val o = root.putObject(key)
        entries.foreach { case (k, v) => o.put(k, v) }
      }
    val results = m.envelope ++ m.heavy
    // `total` = envelope entries only; the heavyTail entries report under
    // `heavy_total` so the envelope aggregate stays comparable with
    // rounds ≤5 (adding them to `total` in round 6 read as a +5 s
    // cross-round regression with no code change).
    root.put("metric", "total")
    root.put("value", m.envelope.map(_._2).filter(_ >= 0).sum)
    root.put("unit", "sec")
    root.put("heavy_total", m.heavy.map(_._2).filter(_ >= 0).sum)
    val q = root.putObject("queries")
    results.foreach { case (k, v) => q.put(k, v) }
    // ×m tier summaries: the work-dominated engine ratio over entries
    // BOTH engines completed (the `_duckdb_canary` key never matches a
    // Spark entry, so it can't join the overlap; it rides the full
    // artifact as this run's second denominator canary). r12 verdict
    // item 2: the sum ratio is kept for continuity but is not robust —
    // one entry where the engines differ in complexity class can own
    // either side of the quotient. ratio_median (median of per-entry
    // ratios) is domination-proof; ratio_work (sum ratio over entries
    // whose DuckDB side >= 0.1 s) conditions away the ~0.1 s per-job
    // Spark floor that owns the sub-second entries' ratios.
    def ratios(t: Tier): Seq[(String, Double, Double)] = {
      val duck = duckSeconds(t.duckdb)
      t.spark.filter { case (k, v) => v >= 0 && duck.contains(k) &&
        !oracleShaped(k) }.map { case (k, v) => (k, v, duck(k)) }
    }
    val x10Overlap = ratios(m.x10)
    val x10SparkTotal = x10Overlap.map(_._2).sum
    val x10DuckTotal = x10Overlap.map(_._3).sum
    val x10Ratios = x10Overlap.filter(_._3 > 0)
    val x10Work = x10Ratios.filter(_._3 >= 0.1)
    // COMBINED work-dominated set (r14 verdict item 4): the ×10 work
    // entries plus every floor entry the deep tier pushed over the 0.1 s
    // DuckDB bar. Per entry the deeper tier is only used where ×10
    // carried no signal, so the two tiers never double-count. Weighting
    // caveat (r14 ADVICE): ratio_work sums ×10 walls and deep-tier walls
    // into one sum-of-sums quotient, so a deep-tier entry carries
    // ~(xfloor mult / x10 mult)× the weight per unit of base-corpus work;
    // ratio_work_median is the scale-weighting-free companion, and
    // `work_set` pins the population so cross-round ratio_work values are
    // comparable only when the named set matches.
    val x10WorkNames = x10Work.map(_._1).toSet
    val combinedWork = x10Work ++ ratios(m.xfloor)
      .filter(_._3 >= 0.1).filterNot(t => x10WorkNames(t._1))
    if (m.x10.spark.nonEmpty)
      put("x10", Seq("mult" -> m.x10.mult.toDouble,
        "spark_total" -> x10SparkTotal,
        "duckdb_total" -> x10DuckTotal,
        "overlap" -> x10Overlap.size.toDouble,
        "ratio" -> (if (x10DuckTotal > 0) x10SparkTotal / x10DuckTotal else -1.0),
        "ratio_median" -> median(x10Ratios.map(t => t._2 / t._3)),
        "ratio_work" -> (if (x10Work.isEmpty) -1.0
          else x10Work.map(_._2).sum / x10Work.map(_._3).sum),
        "work_n" -> x10Work.size.toDouble))
    // the xfloor summary's work_n/ratio_work are the COMBINED
    // (×10 ∪ deep-tier) work-dominated statistics — the round's
    // widest-coverage engine comparison (README)
    if (m.xfloor.spark.nonEmpty)
      put("xfloor", Seq("mult" -> m.xfloor.mult.toDouble,
        "n" -> m.xfloor.spark.size.toDouble,
        "work_n" -> combinedWork.size.toDouble,
        "ratio_work" -> (if (combinedWork.isEmpty) -1.0
          else combinedWork.map(_._2).sum / combinedWork.map(_._3).sum),
        "ratio_work_median" -> median(combinedWork.map(t => t._2 / t._3))))
    if (m.x10.spark.nonEmpty) {
      put("envelope_x10", m.x10.spark)
      root.set[JsonNode]("duckdb_x10", m.x10.duckdb.getOrElse(NullNode.instance))
      put("d04_budget_pack_x10_phases", m.x10PackPhases)
    }
    if (m.xfloor.spark.nonEmpty) {
      put("envelope_xfloor", m.xfloor.spark)
      root.set[JsonNode]("duckdb_xfloor",
        m.xfloor.duckdb.getOrElse(NullNode.instance))
      if (combinedWork.nonEmpty) {
        val a = root.putArray("work_set")
        combinedWork.map(_._1).sorted.foreach(a.add)
      }
    }
    m.sections.foreach { case (k, entries) => put(k, entries) }
    // the sf-level engine overlap. The raw all-overlap quotient mixes two
    // populations: the ENVELOPE queries (pure compute, comparable across
    // engines) and the heavy-tail LIFECYCLE entries (table create +
    // multi-commit + serve + drop, which the DuckDB oracle replays as pure
    // logic with no storage — pricing the table round-trip against
    // nothing, the r10 finding that moved them out of the envelope). The
    // env/lifecycle split lets a reader compute like-for-like; the
    // cross-engine headline remains the x10 section.
    val duck = duckSeconds(m.duckdb)
    if (duck.isEmpty) root.putNull("duckdb_total")
    else {
      val overlap = results.filter { case (k, v) =>
        v >= 0 && duck.contains(k) && !oracleShaped(k) }
      val envNames = m.envelope.map(_._1).toSet
      val (env, lifecycle) = overlap.partition(p => envNames(p._1))
      def duckSum(xs: Seq[(String, Double)]) = xs.map(p => duck(p._1)).sum
      root.put("duckdb_total", duckSum(overlap))
      root.put("duckdb_overlap", overlap.size.toDouble)
      root.put("spark_overlap_total", overlap.map(_._2).sum)
      root.put("spark_env_total", env.map(_._2).sum)
      root.put("duckdb_env_total", duckSum(env))
      root.put("spark_lifecycle_total", lifecycle.map(_._2).sum)
      root.put("duckdb_lifecycle_total", duckSum(lifecycle))
    }
    root.set[JsonNode]("duckdb_seconds", m.duckdb.getOrElse(NullNode.instance))
    root.put("sf", m.sf)
    root
  }

  /** What the stdout line keeps of the report: top-level key → the
    * sub-keys kept of its object (empty = the whole value). Everything
    * else rides the full artifact only — the line's reader captures the
    * last 2,000 chars of output, and the round-6 artifact lost three
    * entries when the line outgrew that window.
    */
  private val lineKeys: Map[String, Set[String]] = Map(
    "metric" -> Set(), "value" -> Set(), "unit" -> Set(),
    "heavy_total" -> Set(), "queries" -> Set(),
    "x10" -> Set("spark_total", "duckdb_total", "overlap", "ratio"),
    "xfloor" -> Set("work_n", "ratio_work", "ratio_work_median"),
    "point_lookup" -> Set("sp", "pp"),
    // the canary threshold the gate rule quotes
    "commit_curve" -> Set("ms_per_commit_at_1000"),
    // bulk = exchange epoch, scan = page-cache/storage epoch
    "spark_floor" -> Set("floor_bulk_s", "floor_scan_s"),
    "duckdb_total" -> Set(), "duckdb_overlap" -> Set(),
    "spark_overlap_total" -> Set(), "sf" -> Set())

  // counts (planned files, work_n, overlap) render as bare integers —
  // "64" not "64.00". KEY-driven, not value-driven (r14 ADVICE): a
  // timing that lands exactly on an integer must still render as "2.00",
  // else textual artifact diffs are format-unstable depending on the value.
  private val countKeys = Set("sp", "pp", "mult", "n", "overlap", "work_n",
    "duckdb_overlap", "merges", "tokens", "s_total", "p_total", "n_docs",
    "files_total")
  private def isCount(k: String): Boolean =
    countKeys(k) || k.endsWith("_planned") || k.endsWith("_files") ||
      k.endsWith("_df") || k.endsWith("_hits") || k.endsWith("_rows") ||
      k.endsWith("_tasks") || k.contains("files_planned") ||
      k.endsWith("files_total")

  /** The stdout line's subset of the report, in report order. */
  private def line(report: ObjectNode): ObjectNode = {
    val out = Json.obj()
    report.properties().asScala.foreach { e =>
      lineKeys.get(e.getKey).foreach { sub =>
        if (sub.isEmpty) out.set[JsonNode](e.getKey, e.getValue)
        else {
          val kept = Json.obj()
          e.getValue.properties().asScala.foreach { p =>
            if (sub(p.getKey)) kept.set[JsonNode](p.getKey, p.getValue)
          }
          if (!kept.isEmpty) out.set[JsonNode](e.getKey, kept)
        }
      }
    }
    out
  }

  /** `n` with every number at `dp` decimals: counts as integers, failures
    * (any negative) as -1.
    */
  private def formatted(n: JsonNode, dp: Int, key: String = ""): JsonNode =
    n match {
      case o: ObjectNode =>
        val out = Json.obj()
        o.properties().asScala.foreach(e =>
          out.set[JsonNode](e.getKey, formatted(e.getValue, dp, e.getKey)))
        out
      case d if d.isFloatingPointNumber =>
        val v = d.doubleValue
        if (v.isNaN || v.isInfinite) NullNode.instance
        else if (v < 0) IntNode.valueOf(-1)
        else if (isCount(key) && v == v.floor && v < 1e9)
          LongNode.valueOf(v.toLong)
        else DecimalNode.valueOf(java.math.BigDecimal.valueOf(v)
          .setScale(dp, java.math.RoundingMode.HALF_UP))
      case other => other
    }

  /** The report rendered twice: the stdout line (2 dp, summaries only) and
    * the full artifact (3 dp).
    */
  def render(m: Measured): (String, String) = {
    val tree = report(m)
    (Json.write(formatted(line(tree), 2)), Json.write(formatted(tree, 3)))
  }
}
