package graft.streaming

import java.util.UUID

import graft.{SparkSpec, Trace, TraceRecord}
import graft.lake._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics not expressible as batch-equivalence oracles
  * (SURVEY C13/C14/C17): watermark late-data drop, stateful dedup, and the
  * reference's core ingest loop as a Structured Streaming pipeline.
  */
class StreamingSpec extends SparkSpec {

  private val evSchema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"

  /** Per-run deltas of the `landed` total an entry traces before its runs
    * and after each. */
  private def perRun(trace: TraceRecord): Seq[Long] = {
    val landed = trace.series("landed")
    landed.zip(landed.tail).map { case (a, b) => b - a }
  }

  /** Replay fixed JSON batches through a file stream in file order. */
  private def replay(files: Seq[Seq[String]], transform: org.apache.spark.sql.DataFrame
      => org.apache.spark.sql.DataFrame, mode: OutputMode): org.apache.spark.sql.DataFrame = {
    val in = tmpDir("graft-replay")
    files.zipWithIndex.foreach { case (rows, i) =>
      val f = new java.io.File(in, f"b$i%03d.json")
      java.nio.file.Files.write(f.toPath, rows.mkString("\n").getBytes)
      f.setLastModified(1700000000000L + i * 60000) // deterministic batch order
    }
    val name = "m" + UUID.randomUUID().toString.replace("-", "")
    StreamingQueries.drain(tmpDir("graft-ckpt"), transform(spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(evSchema))
        .option("maxFilesPerTrigger", "1")
        .json(in))
      .writeStream.format("memory").queryName(name).outputMode(mode))
    spark.table(name)
  }

  private def ev(id: Long, ts: String, uid: Long = 1, v: Double = 1.0): String =
    s"""{"event_id":$id,"ts":"$ts","user_id":$uid,"value":$v}"""

  test("C13: watermark drops late data beyond the threshold") {
    // batch 0 advances the watermark to 12:00 − 10min = 11:50. Spark's
    // late-record filter uses the PREVIOUS batch's watermark (one-batch
    // lag), so the late 11:30 event arrives two batches later → dropped;
    // 11:55 (within delay at its batch's filter watermark) is kept.
    val out = replay(
      Seq(
        Seq(ev(1, "2024-01-01 11:40:00"), ev(2, "2024-01-01 12:00:00")),
        Seq(ev(4, "2024-01-01 11:55:00")),
        Seq(ev(3, "2024-01-01 11:30:00")), // late beyond watermark → dropped
        Seq(ev(5, "2024-01-01 13:00:00")),
        Seq(ev(6, "2024-01-01 14:00:00"))), // flushes closed windows
      df => df.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes")).agg(count(lit(1)).as("n")),
      OutputMode.Append())
    val got = out.select(unix_micros(col("window.start")).as("w"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
    assert(got(us("2024-01-01T11:40:00Z")) == 1)
    assert(got(us("2024-01-01T11:55:00Z")) == 1) // late-but-within kept
    assert(!got.contains(us("2024-01-01T11:30:00Z"))) // beyond watermark dropped
  }

  test("C14: stateful dedup across micro-batches with watermark") {
    val out = replay(
      Seq(
        Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00")),
        Seq(ev(2, "2024-01-01 10:01:00"), ev(3, "2024-01-01 10:02:00"))),
      df => df.withWatermark("ts", "1 hour").dropDuplicates("event_id"),
      OutputMode.Append())
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L))
  }

  test("C19: streaming MERGE upsert equals batch keep-last + count per key") {
    val dir = "/root/testdata/sf0.001"
    val out = StreamingQueries.c19_stream_upsert(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = graft.Tables.t(spark, dir, "events")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val expected = ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), graft.Tables.us(col("ts")), col("n"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && out.toSeq == expected.toSeq)
  }

  test("D7: streaming pipeline equals batch gate + distinct; dedup state catches cross-batch twins") {
    val dir = "/root/testdata/sf0.001"
    val out = StreamingQueries.d07_stream_pipeline(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // batch equivalent: the d06 gate over the same docs, one row per doc
    val expected = graft.queries.PipelineQueries
      .gateDf(graft.Tables.t(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("n_tok"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty, "gated stream produced no rows")
    assert(out.toSeq == expected.toSeq,
      "completed stream != batch gate+distinct")
    // the replay doubled every row; round-robin repartitioning spreads the
    // copies so most (not provably all) duplicate pairs straddle
    // micro-batches — equality with the batch result shows the watermarked
    // state store dropped the straddling duplicates, and C14/C22 cover the
    // cross-batch guarantee with controlled batch placement
  }

  test("D7f: signature-keyed dedup drops a cross-batch near-dup, keeps distinct docs") {
    // controlled batch placement: docB is a REORDERING of docA's tokens
    // (same distinct-token set -> same SimHash signature) arriving one
    // micro-batch later — only the signature-keyed state store can drop
    // it, exact doc_id dedup would keep both. docC is genuinely distinct
    // and must survive. All three pass the quality gate (>=20 tokens,
    // mean length 3-12, max token frequency <= 0.2).
    val words = (0 until 25).map(i => s"word${('a' + i % 26).toChar}$i")
    val textA = words.mkString(" ")
    val textB = words.reverse.mkString(" ") // same token SET, new order
    val textC = (0 until 25).map(i => s"other${('z' - i % 26).toChar}$i").mkString(" ")
    def doc(id: Long, ts: String, text: String) =
      s"""{"doc_id":$id,"ts":"$ts","text":"$text"}"""
    val in = tmpDir("graft-fuzzy-replay")
    Seq(
      Seq(doc(1, "2024-01-01 10:00:00", textA)),
      Seq(doc(2, "2024-01-01 10:01:00", textB),
        doc(3, "2024-01-01 10:02:00", textC))).zipWithIndex.foreach {
      case (rows, i) =>
        val f = new java.io.File(in, f"b$i%03d.json")
        java.nio.file.Files.write(f.toPath, rows.mkString("\n").getBytes)
        f.setLastModified(1700000000000L + i * 60000)
    }
    val name = "m" + UUID.randomUUID().toString.replace("-", "")
    StreamingQueries.drain(tmpDir("graft-fuzzy-ckpt"),
      graft.queries.PipelineQueries.gateDf(spark.readStream
          .schema(org.apache.spark.sql.types.StructType
            .fromDDL("doc_id BIGINT, ts TIMESTAMP, text STRING"))
          .option("maxFilesPerTrigger", "1")
          .json(in))
      .withColumn("sig", graft.queries.PipelineQueries.simhashSig)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("sig")
      .select(col("doc_id"), col("sig"))
      .writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append()))
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // one survivor per signature: docA won its group (first arrival, batch
    // placement controlled), docB's signature collided and was dropped by
    // state from the PREVIOUS batch, docC survived
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 3L),
      s"expected docs 1 and 3 to survive, got ${out.toSeq}")
    // and the signatures really did collide/differ as constructed
    import spark.implicits._
    val sigs = Seq((1L, textA), (2L, textB), (3L, textC))
      .toDF("doc_id", "text")
      .withColumn("sig", graft.queries.PipelineQueries.simhashSig)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(sigs(1L) == sigs(2L), "reordered twin should share the signature")
    assert(sigs(1L) != sigs(3L), "distinct doc should differ in signature")
  }

  test("D7d continuous fuzzy gate: two checkpointed runs gate each wave " +
      "exactly once against the committed band index; verdicts equal the " +
      "batch gate") {
    val dir = "/root/testdata/sf0.001"
    val (streamed, trace) = Trace.capture(
      StreamingQueries.d07_minhash_stream(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
    val batch = graft.queries.LakeQueries.d01_minhash_incremental(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the waves union to the batch increment and both gates probe the
    // same committed band space — the completed stream must equal batch
    assert(streamed == batch,
      s"stream gate diverged: ${(streamed.toSet diff batch.toSet).take(5)}")
    // exactly-once across the restart: run 2 gated ONLY wave 2 (the 40
    // planted re-key docs — 20 exact, all of which must match, plus up
    // to 20 near re-keys). A replayed wave 1 would re-land its dup ids
    // and push the delta past the wave-2 ceiling.
    val deltas = perRun(trace)
    assert(deltas.size == 2, s"expected 2 gate runs, saw $deltas")
    assert(deltas(1) >= 20L && deltas(1) <= 40L,
      s"run-2 dup delta ${deltas(1)} outside wave 2's [20, 40] envelope " +
        "— replay or loss across the restart")
  }

  test("D7e live fuzzy gate: arrivals gate against EARLIER ARRIVALS via " +
      "in-stream index maintenance; exactly-once across the restart") {
    val dir = "/root/testdata/sf0.001"
    val (out, trace) = Trace.capture(StreamingQueries.d07_minhash_live(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
    // +3M docs are exact re-keys of WAVE-1 arrivals: their bands entered
    // the index only through run-1's in-stream maintenance append — a
    // corpus-frozen gate (d07_minhash_stream's shape) would pass every
    // one; the live gate must flag them all
    val wave1Rekeys = out.keys.filter(k => k >= 3000000L && k < 4000000L)
    assert(wave1Rekeys.size == 20, s"expected 20 wave-1 re-keys, got ${wave1Rekeys.size}")
    assert(wave1Rekeys.forall(out(_)),
      s"live gate missed wave-1 re-keys: ${wave1Rekeys.filterNot(out(_)).take(5)}")
    // +1M corpus re-keys flag under any gate
    val corpusRekeys = out.keys.filter(k => k >= 1000000L && k < 2000000L)
    assert(corpusRekeys.size == 20 && corpusRekeys.forall(out(_)))
    // +5M/+6M are SAME-BATCH twins (reversed text, novel everywhere
    // else): neither membership in the committed index nor wave order
    // can flag them — only the within-batch self-dup term, on BOTH
    // halves of each pair
    val twins = out.keys.filter(_ >= 5000000L)
    assert(twins.size == 20, s"expected 20 same-batch twins, got ${twins.size}")
    assert(twins.forall(out(_)),
      s"within-batch self-dup missed twins: ${twins.filterNot(out(_)).take(5)}")
    // exactly-once across the checkpointed restart: per-run dup deltas
    // sum to the verdict total; run 2 must carry the 40 planted exact
    // re-keys plus the 20 twins (a replayed wave 1 would inflate it
    // past the wave-2 ceiling of 80)
    val deltas = perRun(trace)
    assert(deltas.size == 2, s"expected 2 gate runs, saw $deltas")
    assert(deltas.sum == out.count(_._2).toLong,
      s"per-run deltas $deltas don't sum to ${out.count(_._2)}")
    assert(deltas(1) >= 60L && deltas(1) <= 80L,
      s"run-2 dup delta ${deltas(1)} outside wave 2's [60, 80] envelope")
    // a gate that flags every arrival meets the wave-2 checks above; run 1
    // gated the whole wave 1 (the odd corpus docs, novel text), which such
    // a gate would flag in full
    val wave1 = out.keys.count(_ < 1000000L)
    assert(deltas(0) < wave1,
      s"run 1 flagged ${deltas(0)} of its $wave1 arrivals")
    // the wave-grain oracle's premise: each AvailableNow run processed
    // its wave as exactly ONE micro-batch
    assert(trace.series("epochs") == Seq(1L, 1L),
      s"waves split across micro-batches: ${trace.series("epochs")}")
  }

  test("D7g live semantic gate: wave-2 twins of wave-1 arrivals flag via " +
      "in-stream cell-index maintenance; exactly-once across the restart") {
    val dir = "/root/testdata/sf0.001"
    val (out, trace) = Trace.capture(StreamingQueries.d07_semdedup_live(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap)
    // +10000 docs are exact twins of WAVE-1 vectors (cosine 1 to their
    // source): their cells entered the index only through run-1's
    // maintenance append — a corpus-frozen gate flags one only if its
    // source was itself a corpus dup; the live gate must flag them ALL,
    // and each twin must land in its source's cell
    val twins = out.keys.filter(k => k >= 10000L && k < 20000L)
    assert(twins.size == 20, s"expected 20 wave-1 twins, got ${twins.size}")
    assert(twins.forall(out(_)._2),
      s"live gate missed wave-1 twins: ${twins.filterNot(out(_)._2).take(5)}")
    twins.foreach { k =>
      assert(out(k)._1 == out(k - 10000L)._1,
        s"twin $k landed in cell ${out(k)._1} != source cell ${out(k - 10000L)._1}")
    }
    // +20000 docs are SAME-BATCH twins: their sources [450,465) ride the
    // same wave-2 batch, so neither side is in the index as of the batch
    // — only the within-batch self-dup term can flag the pair, and it
    // must flag BOTH members (r12 verdict item 8)
    val sameBatch = out.keys.filter(_ >= 20000L)
    assert(sameBatch.size == 15,
      s"expected 15 same-batch twins, got ${sameBatch.size}")
    assert(sameBatch.forall(out(_)._2), "within-batch term missed twins: " +
      s"${sameBatch.filterNot(out(_)._2).take(5)}")
    assert(sameBatch.forall(k => out(k - 20000L)._2),
      "within-batch term must flag the twin's SOURCE too: " +
        s"${sameBatch.filterNot(k => out(k - 20000L)._2).take(5)}")
    sameBatch.foreach { k =>
      assert(out(k)._1 == out(k - 20000L)._1,
        s"twin $k landed in cell ${out(k)._1} != source cell ${out(k - 20000L)._1}")
    }
    val deltas = perRun(trace)
    assert(deltas.size == 2, s"expected 2 gate runs, saw $deltas")
    assert(deltas.sum == out.count(_._2._2).toLong,
      s"per-run deltas $deltas don't sum to ${out.count(_._2._2)}")
    assert(deltas(1) >= 50L, s"run-2 dup delta ${deltas(1)} below the " +
      "20 wave-1 twins + 15 same-batch pairs (30 members) planted")
  }

  test("D7e live gate is ARRIVAL-grained: within one run, a later " +
      "micro-batch gates against an earlier batch's maintenance") {
    // The wave-level entry proves cross-RUN dedup; this pins the finer
    // property the live shape exists for — under file-capped admission a
    // single AvailableNow run splits its backlog, and batch N+1 must see
    // batch N's band keys in the index (gate-then-maintain per batch).
    val P = graft.queries.PipelineQueries
    val locD = tmpDir("graft-live-arr-data"); val locI = tmpDir("graft-live-arr-idx")
    val locR = tmpDir("graft-live-arr-res")
    import spark.implicits._
    val data = LakeTable.create(locD, "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    LakeTable.create(locI, P.BandIndexDdl, TruncateSpec("bkey", 1L))
    LakeTable.create(locR, "doc_id BIGINT", TruncateSpec("doc_id", 1000L))
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    val textC = "completely different content with no shared shingles at all here"
    // backlog of two snapshots: doc 1, then its exact re-key + a fresh doc
    data.append(LakeWriter.writeDataFiles(
      Seq((1L, textA)).toDF("doc_id", "text"), data))
    data.append(LakeWriter.writeDataFiles(
      Seq((2L, textA), (3L, textC)).toDF("doc_id", "text"), data))
    // the entries' own gate (StreamingQueries.liveGate), one file per batch
    StreamingQueries.drainBatches(tmpDir("graft-live-arr-ckpt"),
      spark.readStream.format("laketable")
        .option("startSnapshotId", "0")
        .option("maxFilesPerTrigger", "1") // force per-file batches
        .load(locD)
        .writeStream) { (batch, epoch) =>
      val bands = P.explodeBands(P.md5MinhashSigs(batch))
      StreamingQueries.liveGate(locR, locI, epoch)(
        com => bands.join(com, Seq("band", "h0", "h1"), "left_semi").select("doc_id"),
        com => P.withBandKey(bands.select("band", "h0", "h1").distinct()
          .join(com, Seq("band", "h0", "h1"), "left_anti")))
    }
    val dups = spark.read.format("laketable").load(locR)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // doc 2's bands matched doc 1's — indexed by an EARLIER batch of
    // the SAME run; doc 3 is fresh and must pass
    assert(dups == Set(2L),
      s"expected exactly doc 2 flagged (intra-run dedup), got $dups")
    // and the index holds each band key exactly once (left_anti dedup)
    val keys = spark.read.format("laketable").load(locI)
      .groupBy("band", "h0", "h1").count()
      .filter(col("count") > 1).count()
    assert(keys == 0L, s"$keys band keys duplicated in the live index")
  }

  test("D7f continuous semantic gate: two checkpointed runs gate each wave " +
      "exactly once against the committed cell index; verdicts equal the " +
      "batch gate") {
    val dir = "/root/testdata/sf0.001"
    val (streamed, trace) = Trace.capture(
      StreamingQueries.d07_semdedup_stream(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap)
    val batch = graft.queries.LakeQueries.d01_semdedup_index(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // waves union to the batch increment; both gates assign under the
    // same frozen centroids and probe the same committed cell snapshot —
    // the completed stream must equal the batch committed-index gate
    assert(streamed == batch,
      s"stream gate diverged: ${(streamed.toSet diff batch.toSet).take(5)}")
    // exactly-once across the restart: the two per-run dup deltas must
    // sum to the total dup verdicts (waves are disjoint vec_id ranges, so
    // a replayed wave 1 in run 2 would double-count its dups), and each
    // run must have landed at least one dup at this sf (planted twins
    // exist on both sides of the 450 split)
    val deltas = perRun(trace)
    assert(deltas.size == 2, s"expected 2 gate runs, saw $deltas")
    assert(deltas.sum == streamed.count(_._2._2).toLong,
      s"per-run dup deltas $deltas don't sum to the verdict total " +
        s"${streamed.count(_._2._2)} — replay or loss across the restart")
  }

  test("D7k ANN ordered serve: every arrival answers only from vectors " +
      "arrived so far, at a recall floor vs per-prefix brute force") {
    // the hash oracle pins exact equality with the prefix replay; this
    // spec pins the two properties the entry EXISTS for — (1) causality:
    // arrival k's answers never cite a vector that arrives later, and
    // (2) per-arrival RECALL against exact brute force over the same
    // prefix (the growing index must keep serving well mid-growth, not
    // only at the final state)
    val dir = "/root/testdata/sf0.001"
    graft.functions.CosineSimilarity.register(spark)
    val served = StreamingQueries.d07_ann_ordered(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(served.map(_._1).toSet == (1L to 5L).toSet)
    assert(served.forall { case (arr, _, oid) => oid < arr * 100 },
      "an arrival cited a vector that had not arrived yet")
    val e = graft.Tables.t(spark, dir, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    (1 to 5).foreach { arr =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("oid"))
      val exact = e.filter(col("vec_id") < arr * 100)
        .select(col("vec_id").as("oid"), col("embedding").as("oe"))
        .crossJoin(broadcast(probes))
        .filter(col("qid") =!= col("oid"))
        .withColumn("cos", expr("cosine_sim(qe, oe)"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("qid", "oid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = served.filter(_._1 == arr).map(t => (t._2, t._3)).toSet
      val recall = got.intersect(exact).size.toDouble / exact.size
      // measured ~0.9+ per arrival for the untrained 16-cell/nprobe-8
      // IVF+PQ over ≤500 vectors; 0.7 = measured minus margin
      assert(recall >= 0.7,
        f"arrival $arr recall@5 $recall%.2f below floor 0.7")
    }
  }

  test("D7l continuous packing: restart packs only the new wave; the " +
      "completed stream equals the batch incremental pack") {
    val dir = "/root/testdata/sf0.001"
    val (streamed, trace) = Trace.capture(
      StreamingQueries.d07_seqpack_stream(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet)
    // exactly-once across the checkpointed restart: both runs landed
    // rows, and together they account for every span exactly once
    val runs = perRun(trace)
    assert(runs.size == 2 && runs.forall(_ > 0),
      s"expected two productive runs, got $runs")
    assert(runs.sum == streamed.size.toLong)
    // batch-equivalence row for row: same positions, same tiling —
    // batch boundaries and the restart moved nothing
    val batch = graft.queries.LakeQueries
      .d04_seqpack_incremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream diverged from batch on ${(streamed diff batch).take(3)}")
  }

  test("D7k stream-maintained BM25 index: each wave appends exactly its own " +
      "postings with the stats property fenced alongside; serve equals the " +
      "batch recompute") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val (served, trace) = Trace.capture(
      StreamingQueries.d07_bm25_stream(spark, dir)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq)
    // exactly-once across the checkpointed restart: two productive runs,
    // each landing its own wave's postings (work ∝ the wave)
    val runs = perRun(trace)
    assert(runs.size == 2 && runs.forall(_ > 0),
      s"expected two productive maintenance runs, got $runs")
    val d = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val oddPostings = graft.queries.PipelineQueries
      .bm25Postings(d.filter(pmod(col("doc_id"), lit(2)) === 1)).count()
    assert(runs.sum == oddPostings,
      s"maintenance landed ${runs.sum} posting rows != increment's " +
        s"$oddPostings — replay or corpus-proportional rewrite")
    // the stream-maintained index serves the same ranking as the batch
    // full recompute — stats property and postings stayed consistent
    val batch = graft.queries.PipelineQueries.d02_bm25_topk(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(served == batch,
      s"stream-maintained serve diverged: ${(served.toSet diff batch.toSet).take(3)}")
    // default cap must never fire on the two-wave entry — the trigger is
    // for unbounded streams, not a behavior change here
    assert(trace.count("compactions") == 0,
      s"default cap tripped ${trace.count("compactions")}" +
        " compactions on the two-wave entry")
  }

  test("D7k live index pays its small-file debt: a lowered per-bucket cap " +
      "trips the DEFAULT compaction mid-stream (declared sort-order " +
      "re-cluster) and the serve is unchanged") {
    val dir = "/root/testdata/sf0.001"
    val (served, trace) = Trace.capture(
      StreamingQueries.bm25StreamRun(spark, dir, compactPerBucketCap = 2)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq)
    assert(trace.count("compactions") >= 1,
      "lowered cap should trip at least one mid-stream compaction")
    val batch = graft.queries.PipelineQueries.d02_bm25_topk(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(served == batch,
      "mid-stream compaction changed the served ranking")
  }

  test("D7n continuous hybrid retrieval: both stream-maintained arms drain " +
      "to the batch end state and the fused serve equals d02_hybrid_indexed") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingQueries.d07_hybrid_stream(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(streamed.nonEmpty)
    val batch = graft.queries.LakeQueries.d02_hybrid_indexed(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(streamed == batch,
      s"continuous hybrid diverged from the batch fusion: ${
        (streamed.toSet diff batch.toSet).take(3)}")
  }

  test("D7m live substring gate: wave-1 re-keys are caught ONLY because the " +
      "index self-maintains; both runs land hits exactly once") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val L = graft.queries.PipelineQueries.SubstrShingle
    val (spans, trace) = Trace.capture(
      StreamingQueries.d07_substring_live(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    val runs = perRun(trace)
    assert(runs.size == 2 && runs.forall(_ > 0),
      s"expected two productive gate runs, got $runs")
    // the +3M docs re-key WAVE-1 arrivals: their shingles entered the
    // index during run 1, so a frozen-corpus gate would miss them — the
    // live gate must flag EVERY one, whole-doc span
    val lens = graft.Tables.t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 1 && col("doc_id") < 40 &&
        length(col("text")) >= L)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .collect().map(r => (r.getLong(0) + 3000000L, r.getLong(1))).toMap
    assert(lens.nonEmpty)
    lens.foreach { case (id, len) =>
      val ss = spans.filter(_._1 == id)
      assert(ss.length == 1 && ss.head._2 == 0L && ss.head._3 == len,
        s"wave-1 re-key $id not whole-doc flagged: ${ss.toSeq} (len $len)")
    }
    // +5M/+6M are SAME-BATCH twins (reversed text — novel vs corpus and
    // wave 1): only the within-batch self-dup term can flag them; both
    // halves of each pair must carry the whole-doc span
    val twinLens = graft.Tables.t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 0 &&
        col("doc_id") >= 40 && col("doc_id") < 60 &&
        length(col("text")) >= L)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .collect().flatMap(r => Seq(
        (r.getLong(0) + 5000000L, r.getLong(1)),
        (r.getLong(0) + 6000000L, r.getLong(1)))).toMap
    assert(twinLens.nonEmpty)
    twinLens.foreach { case (id, len) =>
      val ss = spans.filter(_._1 == id)
      assert(ss.length == 1 && ss.head._2 == 0L && ss.head._3 == len,
        s"same-batch twin $id not whole-doc flagged: ${ss.toSeq} (len $len)")
    }
    // the wave-grain oracle's premise: one micro-batch per run
    assert(trace.series("epochs") == Seq(1L, 1L),
      s"waves split across micro-batches: ${trace.series("epochs")}")
  }

  test("C17: streaming table ingest — moniker stream foreachBatch-appends into a LakeTable") {
    val Width = 300000000L
    def bucket(i: Int): Long = (5666666L + i) * Width
    val loc = tmpDir("graft-ingest-table")
    val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    // writers publish three batches (with one duplicate publish)
    val published = (0 until 3).map { i =>
      val files = LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10 + i, bucket(i), seed = i), table)
      Monikers.publish(loc, files)
      files
    }
    Monikers.publish(loc, published.head) // duplicate moniker (at-least-once)
    val pending = s"$loc/${LakeFormat.PendingCommitsDir}"
    StreamingQueries.drainBatches(tmpDir("graft-ingest-ckpt"), spark.readStream
      .schema("files ARRAY<STRUCT<path: STRING, sizeBytes: BIGINT, rowCount: BIGINT, partitionValue: BIGINT, format: STRING>>")
      .option("maxFilesPerTrigger", "2")
      .option("multiLine", "true") // monikers are pretty-printed JSON
      .json(pending)
      .writeStream.outputMode(OutputMode.Append())) { (batch, _) =>
      val files = batch.selectExpr("explode(files) AS f").select("f.*")
        .collect().map { r =>
          DataFileMeta(r.getAs[String]("path"), r.getAs[Long]("sizeBytes"),
            r.getAs[Long]("rowCount"), r.getAs[Long]("partitionValue"),
            r.getAs[String]("format"))
        }
      if (files.nonEmpty) table.append(files.toSeq)
    }
    table.refresh()
    assert(table.toDF(spark).count() == 10 + 11 + 12) // dupe deduped
  }

  test("memory-sink entries drop their sink view: no m<uuid> view (and its " +
      "rows) outlives the call") {
    def sinkViews(): Set[String] = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.matches("m[0-9a-f]{32}"))
      .map(_.name).toSet
    val dir = tmpDir("sinkviews")
    spark.range(40).selectExpr("id AS event_id", "id % 3 AS user_id",
        "IF(id % 2 = 0, 'click', 'view') AS event_type",
        "CAST(id AS DOUBLE) AS value", "timestamp_seconds(1700000000 + id * 60) AS ts")
      .write.parquet(s"$dir/events.parquet")
    val before = sinkViews()
    // runStream's sink, and the two entries that start their own
    assert(StreamingQueries.c10_stream_tumbling(spark, dir).count() > 0)
    assert(StreamingQueries.c13_watermark_latedrop(spark, dir).count() > 0)
    assert(StreamingQueries.c18_stream_stream_join(spark, dir).count() > 0)
    assert(sinkViews() -- before == Set.empty,
      s"sink views left behind: ${sinkViews() -- before}")
  }
}
