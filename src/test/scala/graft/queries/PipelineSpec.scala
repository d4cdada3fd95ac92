package graft.queries

import graft.{SparkSpec, Trace}
import org.apache.spark.sql.functions._

/** Quality gates for the approximate / oracle-less pipeline operators
  * (SURVEY §2.D): MinHash-LSH recall vs exact shingle Jaccard, ANN-LSH
  * recall vs brute-force cosine, HLL tolerance, language-ID accuracy.
  * Everything is deterministic (fixed hashes, fixed corpus), so these are
  * exact assertions, not flaky statistical ones.
  */
class PipelineSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("D3: MinHash-LSH candidates contain every pair with shingle-Jaccard >= 0.9") {
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), expr(
        """array_distinct(CASE WHEN size(split(text, ' ')) < 3 THEN array(text)
          |ELSE transform(sequence(0, size(split(text, ' ')) - 3),
          |  i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3))) END)"""
          .stripMargin).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val truth = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("ni", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("j", col("ni").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("ni")))
      .filter(col("j") >= 0.9)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain near-duplicates")
    val candidates = PipelineQueries.d03_minhash_lsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth -- candidates
    assert(missed.isEmpty, s"LSH missed near-dup pairs: $missed")
  }

  test("D3 contamination tokenizes once per scan branch (split hoisted)") {
    val plan = PipelineQueries.d03_contamination(spark, dir)
      .queryExecution.optimizedPlan.toString
    val n = "split\\(".r.findAllIn(plan).size
    // two scan branches (eval side, train side), ONE split each — the gram
    // CASE reads the hoisted toks column instead of re-splitting 3×
    assert(n <= 2, s"expected <=2 split() in optimized plan, got $n")
  }

  test("entries leave no cached blocks pinned after evaluation") {
    // the former cache().count() pattern pinned executor blocks for the
    // session lifetime; every entry must now evaluate to a clean session
    val before = spark.sparkContext.getPersistentRDDs.keySet
    PipelineQueries.d03_minhash_lsh(spark, dir).collect()
    PipelineQueries.d03_simhash(spark, dir).collect()
    LakeQueries.b02_snapshot_scan(spark, dir).collect()
    graft.streaming.StreamingQueries.c13_watermark_latedrop(spark, dir).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned RDD blocks leaked: $leaked")
  }

  test("D1: dedup clustering equals union-find over the candidate graph") {
    val pairs = PipelineQueries.d03_minhash_lsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // driver-side union-find ground truth over the same edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(x => x -> find(x)).toMap
    val got = PipelineQueries.d01_dedup_cluster(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == truth.keySet)
    // identical partitioning AND canonical labels (min doc_id per component)
    assert(got == truth, s"cluster mismatch: ${got.toSeq.diff(truth.toSeq).take(5)}")
    // exactly one keeper per cluster, and it is the cluster id
    val keepers = PipelineQueries.d01_dedup_cluster(spark, dir)
      .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(keepers == truth.values.toSet)
  }

  test("D1: a mega-cluster past the bucket cap still dedups via the star fallback") {
    // 120 identical docs overflow the 64-member cap in EVERY minhash band
    // (identical signatures → one bucket) — the old guard dropped those
    // buckets and the whole cluster silently escaped dedup; the star
    // fallback must keep it one connected component with one keeper
    val tdir = s"${System.getProperty("java.io.tmpdir")}/graft-star-${java.util.UUID.randomUUID()}"
    val boiler = "the quick brown fox jumps over the lazy dog again and again " * 3
    val rows = (0L until 120L).map(i => (i, boiler, "en", "web", boiler.length.toLong)) ++
      (200L until 210L).map(i => (i, s"unique document number $i with its own words entirely", "en", "web", 50L))
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tdir/documents.parquet")
    try {
      val pairs = PipelineQueries.d03_minhash_lsh(spark, tdir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // star shape: O(members) edges, not O(members^2)
      assert(pairs.length < 1000, s"quadratic pair count ${pairs.length}")
      val clusters = PipelineQueries.d01_dedup_cluster(spark, tdir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val mega = clusters.filter(c => c._1 < 120L)
      assert(mega.length == 120 && mega.map(_._2).toSet == Set(0L),
        "identical docs did not land in one cluster labeled by doc 0")
      assert(mega.count(_._3) == 1, "mega-cluster must keep exactly one doc")
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tdir))
  }

  test("D1: exact-Jaccard clustering equals union-find over the exact pair graph") {
    val pairs = PipelineQueries.d03_jaccard_pairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(x => x -> find(x)).toMap
    val got = PipelineQueries.d01_cluster_exact(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth, s"cluster mismatch: ${got.toSeq.diff(truth.toSeq).take(5)}")
  }

  test("D4: DSIR weights separate target-language documents") {
    val d = graft.Tables.t(spark, dir, "documents").select("doc_id", "lang")
    val w = PipelineQueries.d04_dsir(spark, dir)
    // selected is exactly the sign of the rounded weight
    assert(w.filter(col("selected") =!= (col("dsir_weight") > 0d)).count() == 0)
    val byLang = w.join(d, "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg("dsir_weight").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the importance weight must rank target-distribution docs above the
    // background on average — that separation IS the operator's purpose.
    // The synthetic corpus shares most of its vocabulary across languages,
    // so the gap is small (measured: en +0.0010 vs other −0.0013); the
    // floor sits at half the measured gap — deterministic corpus, exact
    // counts, so this only moves if the operator itself changes
    assert(byLang(true) > byLang(false) + 0.001,
      s"no target/background separation: $byLang")
  }

  test("D1: connected components equal union-find on seeded random graphs") {
    // adversarial-topology fuzz for the fixpoint machinery (and its fused
    // init round, label₀ = min(id, min neighbor)): random sparse/dense
    // graphs, a clique, a star, and isolated pairs — topologies where a
    // one-round or init-only labeling would be wrong but plausible-looking.
    // Seeded RNG → deterministic failures.
    val rnd = new scala.util.Random(0x9e3779b9L)
    val cases: Seq[(String, Seq[(Long, Long)])] = Seq(
      "sparse" -> Seq.fill(120)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)),
      "dense" -> Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)),
      // a clique converges at the fused init; must not regress past it
      "clique" -> (for (i <- 0L until 20L; j <- i + 1 to 19L) yield (i, j)),
      // a star whose hub is NOT the minimum id: leaves must still reach 0
      "star" -> (0L until 40L).filterNot(_ == 17L).map(x => (17L, x)),
      "pairs" -> (0L until 30L).map(i => (i * 2, i * 2 + 1)))
    for ((name, raw) <- cases) {
      val edges = raw.filter { case (a, b) => a != b }
      assert(edges.nonEmpty, s"$name generated no edges")
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = parent.keys.map(x => x -> find(x)).toMap
      import spark.implicits._
      val pairs = edges.toDF("a_id", "b_id")
      val got = PipelineQueries.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth,
        s"$name: CC labels diverge from union-find; " +
          s"diff=${(got.toSet -- truth.toSet).take(5)} / ${(truth.toSet -- got.toSet).take(5)}")
    }
  }

  test("D1: connected components converge on a 300-node chain (diameter >> 64)") {
    // the round-4 implementation ran a FIXED 6 propagation rounds — a
    // chain longer than its reach silently mislabeled (wrong survivor
    // set, no error). The fixpoint loop with pointer jumping must label
    // the whole chain with its minimum id in O(log diameter) rounds.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = 300L
    val pairs = spark.range(1, n)
      .select((col("id") + 1000L).as("a_id"), (col("id") + 1001L).as("b_id"))
    val comp = PipelineQueries.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == n.toInt, s"expected $n nodes, got ${comp.size}")
    assert(comp.values.forall(_ == 1001L),
      s"chain not fully labeled: ${comp.filter(_._2 != 1001L).take(5)}")
    // and two disjoint chains stay disjoint (no label bleed through jumps)
    val two = spark.range(1, 100)
      .select((col("id") + 1000L).as("a_id"), (col("id") + 1001L).as("b_id"))
      .union(spark.range(1, 100)
        .select((col("id") + 5000L).as("a_id"), (col("id") + 5001L).as("b_id")))
    val comp2 = PipelineQueries.connectedComponents(two)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp2.filter(_._1 <= 1100L).values.toSet == Set(1001L))
    assert(comp2.filter(_._1 >= 5000L).values.toSet == Set(5001L))
    // nothing stays pinned after the calls
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned RDD blocks leaked: $leaked")
  }

  test("D1: connected components stay distributed on a 2^20-node graph") {
    // the round-5 implementation collect()ed the full label set to the
    // driver — one row per candidate-graph node, a driver OOM on
    // near-dup-dense corpora where the candidate graph is a large fraction
    // of all documents. The labels must come back as a distributed scan
    // (scratch parquet), never a driver-resident LocalRelation, and the
    // whole check runs distributed: no collect of the 2^20 labels here
    // either.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = 1L << 20 // 65,536 chains of 16 nodes: diameter 15, ~4 rounds
    val pairs = spark.range(0, n).filter((col("id") + 1) % 16 =!= 0)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
    val comp = PipelineQueries.connectedComponents(pairs)
    val plan = comp.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LocalRelation"),
      s"labels localized to the driver:\n$plan")
    assert(comp.count() == n, "every node labeled")
    // each chain's label is its minimum node id — verified distributed
    val wrong = comp.filter(col("comp") =!= col("id") - (col("id") % 16)).count()
    assert(wrong == 0, s"$wrong nodes mislabeled")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"pinned RDD blocks leaked: $leaked")
  }

  test("D2: IVF ANN recall@5 vs brute-force top-5") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = pairs(PipelineQueries.d02_cosine_topk(spark, dir))
    val ivf = pairs(PipelineQueries.d02_ann_ivf(spark, dir))
    assert(truth.nonEmpty)
    val recall = ivf.intersect(truth).size.toDouble / truth.size
    info(f"IVF recall@5: $recall%.3f (|ivf|=${ivf.size})")
    // k-means-trained centroids (2 Lloyd rounds) + nprobe=6 measure 0.77
    // here (nprobe=4 measured 0.57; raw sampled seeds 0.51); floor sits
    // ~0.07 under measured — a change that halves the recall must FAIL,
    // not coast over a stale floor (the old 0.6 let 0.62 pass), while
    // float-sum jitter of distributed means keeps clearing it
    assert(recall >= 0.7, s"IVF recall $recall below floor (|ivf|=${ivf.size})")
    // every reported neighbor must be a real vector with sane cosine
    assert(PipelineQueries.d02_ann_ivf(spark, dir)
      .filter(col("cos") > 1.0001 || col("cos") < -1.0001).count() == 0)
  }

  test("D2flt: filtered ANN — same-label invariant, filtered-IVF " +
      "recall vs filtered brute force, label filter inside the join") {
    val e = graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = pairs(PipelineQueries.d02_ann_filtered(spark, dir))
    assert(truth.nonEmpty)
    // the operator's contract: every neighbor shares its probe's label
    val crossLabel = truth.filter { case (q, o) => e(q) != e(o) }
    assert(crossLabel.isEmpty,
      s"${crossLabel.size} cross-label neighbors leaked the filter")
    val ivf = pairs(PipelineQueries.d02_ann_filtered_ivf(spark, dir))
    assert(ivf.forall { case (q, o) => e(q) == e(o) })
    val recall = ivf.intersect(truth).size.toDouble / truth.size
    info(f"filtered-IVF recall@5: $recall%.3f (|ivf|=${ivf.size})")
    // nprobe=10/16 with a ~1/10-selective label filter measures 0.76
    // here (untrained seed centroids — the exact-replay recipe trades
    // recall for hash-verifiability; the trained-centroid lift is
    // covered by the unfiltered sibling). Floor ~0.06 under measured,
    // the sibling IVF spec's discipline.
    assert(recall >= 0.7,
      s"filtered-IVF recall $recall below floor (|ivf|=${ivf.size})")
  }

  test("D4: PII redaction scrubs every planted email/IP/phone") {
    val out = PipelineQueries.d04_pii(spark, dir).collect()
    assert(out.length == 500)
    // every doc got exactly one planted instance of each PII kind
    assert(out.forall(r => r.getLong(1) == 1 && r.getLong(2) == 1 && r.getLong(3) == 1))
    // the 40-char tail covers the planted suffix: all three placeholders
    // present, no raw PII survives in it
    assert(out.forall { r =>
      val tail = r.getString(5)
      tail.contains("<EMAIL>") && tail.contains("<IP>") && tail.contains("<PHONE>") &&
        !tail.contains("@example.com") && !tail.contains("10.0.")
    })
  }

  test("D4: mixture sampling materializes fractional epochs per language") {
    val docs = graft.Tables.t(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mix = PipelineQueries.d04_mixture(spark, dir)
      .groupBy("lang").agg(countDistinct("doc_id").as("d"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // zh 2.0: every doc exactly twice; de 1.0: every doc exactly once
    assert(mix("zh") == ((docs("zh"), docs("zh") * 2)))
    assert(mix("de") == ((docs("de"), docs("de"))))
    // fr 0.3: a strict subset, one copy each
    assert(mix("fr")._1 > 0 && mix("fr")._1 < docs("fr") &&
      mix("fr")._2 == mix("fr")._1)
    // en 1.5: all docs once, a strict subset twice
    assert(mix("en")._1 == docs("en") &&
      mix("en")._2 > docs("en") && mix("en")._2 < docs("en") * 2)
    // deterministic: a second run is byte-identical
    assert(PipelineQueries.d04_mixture(spark, dir).collect().toSeq ==
      PipelineQueries.d04_mixture(spark, dir).collect().toSeq)
  }

  test("D2: PQ ANN recall@5 vs brute-force top-5") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = pairs(PipelineQueries.d02_cosine_topk(spark, dir))
    val pq = pairs(PipelineQueries.d02_ann_pq(spark, dir))
    assert(truth.nonEmpty)
    val recall = pq.intersect(truth).size.toDouble / truth.size
    info(f"PQ recall@5: $recall%.3f (|pq|=${pq.size})")
    // trained 4x16 codebooks (2 Lloyd rounds, L2-argmin encode) + top-200
    // ADC shortlist + exact refine measure 0.88 (top-100 measured 0.72;
    // raw sampled codewords 0.50); floor ~0.08 under measured so a
    // regression to either untrained codebooks or a starved shortlist
    // fails instead of coasting over the old 0.65
    assert(recall >= 0.8, s"PQ recall $recall below floor (|pq|=${pq.size})")
    assert(PipelineQueries.d02_ann_pq(spark, dir)
      .filter(col("cos") > 1.0001 || col("cos") < -1.0001).count() == 0)
  }

  test("D2: composed IVF+PQ recall@5 vs brute-force top-5") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = pairs(PipelineQueries.d02_cosine_topk(spark, dir))
    val composed = pairs(PipelineQueries.d02_ann_ivfpq(spark, dir))
    assert(truth.nonEmpty)
    val recall = composed.intersect(truth).size.toDouble / truth.size
    info(s"IVF+PQ recall@5 = $recall")
    // the composition loses to BOTH parents by design (cell bounding ∩
    // code quantization); nprobe=8 + the 200-candidate ADC shortlist buy
    // the IVF-side recall back, measuring 0.82 — floor ~0.12 under so a
    // regression to either untrained model or the starved nprobe=4/
    // top-100 shape fails
    assert(recall >= 0.7,
      s"IVF+PQ recall $recall below floor (|c|=${composed.size})")
    assert(PipelineQueries.d02_ann_ivfpq(spark, dir)
      .filter(col("cos") > 1.0001 || col("cos") < -1.0001).count() == 0)
  }

  test("D1: embedding near-dup pairs agree with exact recompute") {
    val out = PipelineQueries.d01_dedup_embed(spark, dir).collect()
    assert(out.nonEmpty, "threshold should admit at least one near-dup pair")
    out.foreach { r =>
      assert(r.getLong(1) < r.getLong(0)) // keep_id strictly lower
      assert(r.getDouble(2) > 0.43)
    }
    // one dup verdict per dup_id (argmax uniqueness)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
  }

  test("D1: SemDeDup verdicts are cluster-sound and reduce the corpus") {
    graft.functions.CosineSimilarity.register(spark)
    val out = PipelineQueries.d01_semdedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val e = graft.Tables.t(spark, dir, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.length == e.size, "one verdict per vector")
    val nDup = out.count(_._3)
    assert(nDup > 0 && nDup < e.size / 2,
      s"dup count $nDup should be positive but not dominate")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // every duplicate has a same-cell witness above the threshold; kept
    // vectors in the same cell may still pair >tau only through a chain
    // whose intermediate was itself dropped (declared SemDeDup semantics)
    val byCell = out.groupBy(_._2)
    for ((_, members) <- byCell; (id, _, dup) <- members if dup) {
      val witness = members.exists { case (oid, _, _) =>
        oid != id && cos(e(oid), e(id)) > 0.43 }
      assert(witness, s"dup $id has no same-cell near-dup witness")
    }
    // deterministic: a second run returns identical verdicts
    val again = PipelineQueries.d01_semdedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(again.sameElements(out), "semdedup should be deterministic")
  }

  test("D1: SemDeDup scales K with the corpus — 40k vectors where K=16 no-ops") {
    // round-5 regression target: K was hardcoded 16 with a 1024-member
    // cell cap, so any corpus past ~16k vectors pushed EVERY cell over
    // the cap and the operator silently returned zero duplicates. K must
    // grow with N, planted duplicates must be found, and a cap breach
    // must be observable through the traced counts — never silent.
    val n = 40000L
    // deterministic pseudo-random 64-dim vectors; ids 20000..20499 are
    // exact twins of 0..499 (same hash seed → identical vector)
    val e = spark.range(0, n).select(col("id").as("vec_id"), expr(
      """transform(sequence(0, 63), d -> cast(
        |  cast(xxhash64(CASE WHEN id BETWEEN 20000 AND 20499
        |                     THEN id - 20000 ELSE id END * 64 + d) % 1000
        |    as double) / 1000.0 as float))""".stripMargin).as("embedding"))
    val (out, stats) = Trace.capture(PipelineQueries.semdedup(spark, e)
      .filter(col("is_dup")).select("vec_id").collect().map(_.getLong(0)).toSet)
    assert(stats.count("n") == n)
    assert(stats.count("k") >= n / 512,
      s"K=${stats.count("k")} did not scale with N=$n")
    assert(stats.count("excluded_cells") == 0,
      s"cells over cap at spec scale: $stats")
    // every planted twin pair lands in one cell (identical vectors) and
    // the later-ranked member must be flagged; which member ranks later
    // depends on centroid-sim ties, so check pair coverage
    val found = (0L until 500L).count(i => out.contains(i) || out.contains(i + 20000))
    assert(found == 500, s"only $found/500 planted twin pairs flagged")
    // and the same corpus under the old fixed K demonstrably breaches the
    // cap — visibly, via the stats surface
    val (_, fixed) = Trace.capture(
      PipelineQueries.semdedup(spark, e, kOverride = Some(16)).collect())
    assert(fixed.count("excluded_rows").toDouble / fixed.count("n") > 0.9,
      s"expected fixed K=16 to exclude nearly all rows, got $fixed")
  }

  test("D1: SemDeDup cap breach degrades to representative comparison, not a no-op") {
    // a clone mega-cell past the 1024-member cap must still be deduped:
    // the fallback compares every member to the cell's most-central
    // member, so the 1500-clone mass collapses to its representative
    // while distinct vectors survive. xxhash64 % 1000 is SIGNED, so the
    // components already center on 0 and unrelated vectors sit near
    // cosine 0, far from the 0.43 bar.
    val e = spark.range(0, 2000).select(col("id").as("vec_id"), expr(
      """transform(sequence(0, 63), d -> cast(
        |  cast(xxhash64(CASE WHEN id < 1500 THEN 7 ELSE id END * 64 + d)
        |    % 1000 as double) / 1000.0 as float))""".stripMargin)
      .as("embedding"))
    val (out, stats) = Trace.capture(
      PipelineQueries.semdedup(spark, e, kOverride = Some(4))
        .filter(col("is_dup")).select("vec_id").collect().map(_.getLong(0)).toSet)
    assert(stats.count("excluded_cells") >= 1,
      s"expected a cap breach, got $stats")
    val clonesFlagged = out.count(_ < 1500L)
    assert(clonesFlagged >= 1498,
      s"fallback caught only $clonesFlagged/1499 clones: $stats")
    assert(clonesFlagged < 1500, "the representative itself must be kept")
    val strangersFlagged = out.count(_ >= 1500L)
    assert(strangersFlagged <= 50,
      s"$strangersFlagged/500 distinct vectors falsely flagged")
  }

  test("D1: SemDeDup exact twin drives both dup passes through the hier route") {
    // the hash-oracled twin must exercise the SAME machinery the
    // production entry uses: K=100 > the 64-literal bound (hier
    // assignment), and at the 500-vector sf both the within-cell pairwise
    // pass AND the cap-breach representative fallback must fire — a twin
    // that only ever walks one path hash-verifies half the guard
    val (out, stats) = Trace.capture(
      PipelineQueries.d01_semdedup_exact(spark, dir).collect())
    assert(out.length == 500)
    assert(stats.count("k") == PipelineQueries.SemDeDupExactK)
    assert(stats.count("excluded_cells") >= 1,
      s"no cell breached the twin cap — rep fallback unexercised: $stats")
    assert(stats.count("cells") - stats.count("excluded_cells") >= 1,
      s"every cell breached — pairwise pass unexercised: $stats")
    // determinism: the fixed-centroid path has no training jitter
    val again = PipelineQueries.d01_semdedup_exact(spark, dir).collect()
    assert(again.map(_.toString).sameElements(out.map(_.toString)))
  }

  test("D1: hierarchical cell assignment agrees with flat and co-assigns twins") {
    // the two-level route (coarse region -> fine argmax within region) is
    // an approximation of the flat N x K argmax: identical vectors MUST
    // land identically (dedup correctness), and overall agreement with
    // the exact assignment must stay high (quantizer quality)
    val n = 4000L
    val e = spark.range(0, n).select(col("id").as("vec_id"), expr(
      """transform(sequence(0, 63), d -> cast(
        |  cast(xxhash64(CASE WHEN id >= 3500 THEN id - 3500 ELSE id END
        |    * 64 + d) % 1000 as double) / 1000.0 as float))""".stripMargin)
      .as("embedding"))
    val cents = PipelineQueries.trainIvfCentroids(e, k = 256, hier = true)
    val flat = PipelineQueries.assignCells(e, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hier = PipelineQueries.assignCellsHier(e, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hier.size == n)
    // twins (3500+i duplicates i) take identical routes
    (0L until 500L).foreach { i =>
      assert(hier(i) == hier(i + 3500),
        s"twin pair $i/${i + 3500} split across cells ${hier(i)}/${hier(i + 3500)}")
    }
    val agree = hier.count { case (id, c) => flat(id) == c }.toDouble / n
    info(f"hier-vs-flat assignment agreement: $agree%.3f")
    assert(agree >= 0.5,
      s"two-level assignment agreement $agree too far from the flat argmax")
  }

  test("D1: pure-expression hier assignment equals the batch hier path row-for-row") {
    // assignCellsHierExpr folds the two-level assignment into stateless
    // literal expressions so it can ride a streaming micro-batch
    // (d07_semdedup_stream); any divergence from the batch
    // assignCellsHier would let a stream's gate disagree with the
    // committed index it probes — (cell, csim) must match exactly
    val n = 2000L
    val e = spark.range(0, n).select(col("id").as("vec_id"), expr(
      """transform(sequence(0, 63), d -> cast(
        |  cast(xxhash64(id * 64 + d) % 1000 as double) / 1000.0 as float))"""
        .stripMargin).as("embedding"))
    val cents = PipelineQueries.trainIvfCentroids(e, k = 256, hier = true)
    def collectAssign(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "csim").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = collectAssign(PipelineQueries.assignCellsHier(e, cents))
    val pure = collectAssign(PipelineQueries.assignCellsHierExpr(e, cents))
    assert(pure.size == n)
    val diff = batch.keys.filter(k => batch(k) != pure(k)).take(5)
    assert(diff.isEmpty,
      s"expression path diverged from batch hier assignment at vec_ids " +
        s"$diff: ${diff.map(k => (batch(k), pure(k)))}")
  }

  test("D1: distributed centroid routing agrees with the serial loop") {
    // the fine->coarse routing above RouteSerialCap runs as a Spark job
    // instead of a K*sqrt(K) single-threaded driver loop (~O(N^0.75)
    // serial flops with K = 4*sqrt(N) — minutes of driver math at 1e11
    // docs); both paths must produce the identical argmax, including the
    // larger-region-id tie-break
    def coarseOf(cents: Array[(Long, Seq[Float])]): Array[(Long, Seq[Float])] = {
      val kc = math.max(4, math.ceil(math.sqrt(cents.length.toDouble)).toInt)
      (0 until kc).map(i => (i.toLong, cents(i * cents.length / kc)._2)).toArray
    }
    // trained centroids from a 40k-vector corpus (the semdedup shape)
    val e = spark.range(0, 40000).select(col("id").as("vec_id"), expr(
      """transform(sequence(0, 63), d -> cast(
        |  cast(xxhash64(id * 64 + d) % 1000 as double) / 1000.0 as float))"""
        .stripMargin).as("embedding"))
    val trained = PipelineQueries.trainIvfCentroids(e, k = 800, hier = true)
    val co = coarseOf(trained)
    val serial = PipelineQueries
      .routeRegions(spark, trained, co, forceSerial = Some(true)).sorted.toSeq
    val dist = PipelineQueries
      .routeRegions(spark, trained, co, forceSerial = Some(false)).sorted.toSeq
    assert(serial == dist, "distributed routing diverged from the serial loop")
    // above the cap the DEFAULT path is the distributed one — synthetic
    // K > RouteSerialCap centroids (routing needs no training), default
    // call must agree with the forced-serial loop
    val big: Array[(Long, Seq[Float])] = Array.tabulate(
      PipelineQueries.RouteSerialCap + 1000) { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val bigCo = coarseOf(big)
    val bigDefault = PipelineQueries.routeRegions(spark, big, bigCo).sorted.toSeq
    val bigSerial = PipelineQueries
      .routeRegions(spark, big, bigCo, forceSerial = Some(true)).sorted.toSeq
    assert(bigDefault == bigSerial,
      "default large-K routing diverged from the serial loop")
  }

  test("D3: SimHash candidates contain every pair with shingle-Jaccard >= 0.9") {
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), expr(
        """array_distinct(CASE WHEN size(split(text, ' ')) < 3 THEN array(text)
          |ELSE transform(sequence(0, size(split(text, ' ')) - 3),
          |  i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3))) END)"""
          .stripMargin).as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val truth = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("ni", size(array_intersect(col("a_sh"), col("b_sh"))))
      .withColumn("j", col("ni").cast("double") /
        (size(col("a_sh")) + size(col("b_sh")) - col("ni")))
      .filter(col("j") >= 0.9)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val candidates = PipelineQueries.d03_simhash(spark, dir)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hamming <= 3 on 60-bit signatures is a STRICTER bar than shingle
    // J >= 0.9 — assert a recall floor, not containment
    val recall = truth.intersect(candidates).size.toDouble / truth.size
    assert(recall >= 0.25, s"SimHash recall $recall below floor")
    // hard guarantee: identical distinct-token sets → identical signature
    // → same chunks → always candidates
    val setEqual = {
      val d = graft.Tables.t(spark, dir, "documents")
        .select(col("doc_id"), sort_array(array_distinct(
          split(col("text"), " "))).as("ts"))
      val x = d.select(col("doc_id").as("a_id"), col("ts").as("a_ts"))
      val y = d.select(col("doc_id").as("b_id"), col("ts").as("b_ts"))
      x.crossJoin(y)
        .filter(col("a_id") < col("b_id") && col("a_ts") === col("b_ts"))
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val missedExact = setEqual -- candidates
    assert(missedExact.isEmpty, s"SimHash missed token-set-equal pairs: $missedExact")
  }

  test("D2: ANN-LSH finds the most-similar pair and >= 30% of pairs above threshold") {
    val truth = PipelineQueries.d02_cosine_topk(spark, dir) // brute force, qid < 20
      .filter(col("rn") === 1).orderBy(col("cos").desc).limit(1)
      .collect().head
    val (qid, oid) = (truth.getLong(0), truth.getLong(2))
    val best = if (qid < oid) (qid, oid) else (oid, qid)
    val ann = PipelineQueries.d02_ann_lsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the globally most-similar pair must collide in some band
    assert(ann.contains(best) || truth.getDecimal(3).doubleValue < 0.4,
      s"ANN missed the top pair $best")
    // recall floor vs the exact >0.4 set (measured 42% with these hashes)
    val exact = {
      val e = graft.Tables.t(spark, dir, "embeddings")
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ae"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("be"))
      val cos = expr(
        """aggregate(zip_with(ae, be, (x, y) -> cast(x as double) * cast(y as double)),
          |          0D, (acc, v) -> acc + v)
          | / (sqrt(aggregate(ae, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))
          |    * sqrt(aggregate(be, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double))))
          |""".stripMargin)
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .withColumn("cos", cos).filter(col("cos") > 0.4)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(exact.nonEmpty)
    val recall = ann.intersect(exact).size.toDouble / exact.size
    info(f"ANN-LSH pair recall: $recall%.3f (found ${ann.size}, true ${exact.size})")
    // 8 bands × 4 bits measure 0.82 (analytic ≈ 0.75 at cos 0.4, rising
    // with cos; 4 bands measured 0.42); floor ~0.12 under measured so a
    // banding/plane regression fails instead of coasting over the old 0.6
    assert(recall >= 0.7, s"ANN recall $recall below floor (found ${ann.size}, true ${exact.size})")
  }

  test("B19: exact count matches and approx lands within the hashed tolerance") {
    val exact = graft.Tables.t(spark, dir, "lineitem")
      .agg(countDistinct("l_partkey")).head.getLong(0)
    val row = RelationalQueries.b19_approx_distinct(spark, dir).head
    assert(row.getLong(0) == exact)
    assert(row.getBoolean(1), "approx_count_distinct beyond 5% of exact")
  }

  test("D4: language-ID beats the majority-class baseline") {
    val out = PipelineQueries.d04_langid(spark, dir)
    val n = out.count().toDouble
    val correct = out.filter(col("lang") === col("pred_lang")).count()
    val majority = out.groupBy("lang").count()
      .agg(max("count")).head.getLong(0)
    assert(correct / n > majority / n,
      s"accuracy ${correct / n} not above majority baseline ${majority / n}")
  }

  test("D4: trained lang classifier converges well past the majority baseline") {
    // in-sample gate (same as langid's corpus-derived profiles): the
    // synthetic langs are label-only — a held-out split scores at chance
    // for ANY learner — so this asserts the distributed fit + broadcast
    // scoring actually learned the seen labels
    val out = PipelineQueries.d04_lang_model(spark, dir)
    val n = out.count().toDouble
    assert(n > 0)
    val correct = out.filter(col("lang") === col("pred_lang")).count()
    val majority = out.groupBy("lang").count()
      .agg(max("count")).head.getLong(0)
    assert(correct / n > 0.9 && correct / n > majority / n,
      s"in-sample accuracy ${correct / n} too low (baseline ${majority / n})")
  }

  test("D4: trained lang classifier GENERALIZES to held-out docs on learnable data") {
    // the driver corpus can't test generalization (its languages share
    // one vocabulary by construction — held-out accuracy is chance for
    // any learner), so this spec OWNS its corpus: three languages with
    // mostly-disjoint vocabularies (40% shared noise tokens), 30-token
    // docs drawn by seeded hashes. Train on doc_id < 400, score doc_id
    // >= 400 — fully disjoint documents — and out-of-sample accuracy
    // must clear the ~1/3 majority baseline by a wide margin.
    val langNames = Seq("aa", "bb", "cc")
    val corpus = spark.range(0, 600)
      .select(col("id").as("doc_id"),
        element_at(typedlit(langNames), pmod(col("id"), lit(3)).cast("int") + 1)
          .as("lang"))
      .withColumn("text", expr(
        """concat_ws(' ', transform(sequence(0, 29), p ->
          |  CASE WHEN pmod(xxhash64(doc_id * 97 + p), 5) < 2
          |       THEN concat('shared', pmod(xxhash64(doc_id * 131 + p), 20))
          |       ELSE concat(lang, 'word', pmod(xxhash64(doc_id * 173 + p), 30))
          |  END))""".stripMargin))
    val train = corpus.filter(col("doc_id") < 400)
    val test = corpus.filter(col("doc_id") >= 400)
    val out = PipelineQueries.langModelFitScore(train, test)
    val n = out.count().toDouble
    assert(n == 200)
    val correct = out.filter(col("lang") === col("pred_lang")).count()
    val majority = test.groupBy("lang").count().agg(max("count")).head.getLong(0)
    assert(correct / n > 0.9,
      s"out-of-sample accuracy ${correct / n} too low")
    assert(correct / n > majority / n + 0.2,
      s"accuracy ${correct / n} not clearly above baseline ${majority / n}")
  }

  test("D1: incremental SemDeDup verdicts have same-cell committed witnesses") {
    // the per-arrival semantic gate: every flagged increment vector must
    // have a committed same-cell witness above the bar, every unflagged
    // one must have none — recomputed brute-force on the quantized
    // vectors (exact integer arithmetic, so the recompute is bit-equal
    // to the query's own cosines)
    val out = graft.queries.LakeQueries
      .d01_semdedup_incremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 100, s"expected the 100-vector increment")
    assert(out.count(_._3) >= 1, "no dup found — the gate is vacuous here")
    val q = graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), expr(
        """transform(embedding, x ->
          |  CAST(round(CAST(x AS DOUBLE) * 1000D) AS FLOAT))""".stripMargin)
        .as("embedding"))
    val vecs = q.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // committed cell assignment from the SAME machinery
    val cents = q.filter(col("vec_id") < 400).orderBy("vec_id")
      .limit(PipelineQueries.SemDeDupExactK)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val cells = PipelineQueries
      .assignCellsHier(q, cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val committedByCell = cells.filter(_._1 < 400).groupBy(_._2)
      .map { case (c, m) => c -> m.keys.toSeq }
    out.foreach { case (id, cell, isDup) =>
      assert(cells(id) == cell, s"cell mismatch for $id")
      val witness = committedByCell.getOrElse(cell, Nil)
        .exists(cid => cos(vecs(id), vecs(cid)) > 0.43)
      assert(witness == isDup,
        s"vec $id flagged=$isDup but witness=$witness in cell $cell")
    }
  }

  test("D6: shard export — docs start inside their shard window, shards contiguous and bounded") {
    val out = PipelineQueries.d06_pipeline_shards(spark, dir).collect()
    assert(out.nonEmpty)
    val S = PipelineQueries.ShardTokens
    // columns: lang, shard, doc_id, n_tok, cum_tok, redacted_sha
    out.foreach { r =>
      val start = r.getLong(4) - r.getLong(3)
      assert(start / S == r.getLong(1),
        s"doc ${r.getLong(2)} start offset $start outside shard ${r.getLong(1)}")
    }
    // shard ids start at 0, and a gap between consecutive present ids is
    // legal ONLY when the doc preceding the gap spans the skipped windows
    // (start-offset sharding: a doc longer than S skips shards) — plain
    // contiguity would be an over-assert that breaks on long-doc corpora
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val byShard = rows.sortBy(r => (r.getLong(1), r.getLong(4))).toSeq
      assert(byShard.head.getLong(1) == 0L, s"$lang first shard not 0")
      byShard.sliding(2).foreach {
        case Seq(a, b) =>
          val (sa, sb) = (a.getLong(1), b.getLong(1))
          if (sb > sa + 1) {
            // a's doc must END past the start of shard sb's window
            assert(a.getLong(4) >= sb * S,
              s"$lang shards jump $sa->$sb without a spanning doc")
          }
        case _ =>
      }
    }
    // start-offset sharding bounds every shard at S + one doc's tokens
    out.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (k, rows) =>
      val tot = rows.map(_.getLong(3)).sum
      assert(tot <= S + rows.map(_.getLong(3)).max,
        s"shard $k holds $tot tokens (budget $S)")
    }
  }

  test("D1: keep-first dedup output size equals number of distinct hashes") {
    val nHashes = PipelineQueries.d01_dedup_exact(spark, dir).count()
    val nKept = PipelineQueries.d01_dedup_keepfirst(spark, dir).count()
    assert(nKept == nHashes)
  }

  test("D3: bloom-prefiltered contamination equals the exact pass, " +
    "and the plan actually carries the prefilter") {
    val exact = PipelineQueries.d03_contamination(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloomDf = PipelineQueries.d03_contamination_bloom(spark, dir)
    val bloomed = bloomDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloomed == exact,
      s"bloom path diverged: only-exact=${exact -- bloomed} " +
        s"only-bloom=${bloomed -- exact}")
    // the equality above would also hold if the optimizer dropped the
    // prefilter entirely — assert the might_contain probe survives in the
    // executed plan
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "bloom prefilter missing from the physical plan")
  }

  test("D1: passage dedup counts duplicated 8-token chunks exactly") {
    import spark.implicits._
    // doc 1 and doc 2 share their first 8 tokens; doc 2's second chunk is
    // unique; doc 3 repeats doc 1's chunk internally twice
    val base = (1 to 8).map(i => s"w$i").mkString(" ")
    val uniq = (9 to 16).map(i => s"u$i").mkString(" ")
    Seq(
      (1L, base, "en", "s", 1L),
      (2L, s"$base $uniq", "en", "s", 1L),
      (3L, s"$base $base", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .createOrReplaceTempView("passage_fixture")
    val fixture = spark.table("passage_fixture")
    val chunks = fixture
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, cast(ceil(size(toks) / 8.0) as int) - 1),
          |  i -> concat_ws(' ', slice(toks, i * 8 + 1, 8)))""".stripMargin)))
      .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("passage"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("passage").orderBy("doc_id", "chunk_idx")
    val out = chunks
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1 wins the shared chunk (lowest doc_id); docs 2 and 3 lose it;
    // doc 3's second copy is also a duplicate
    assert(out(1L) == (1L, 0L))
    assert(out(2L) == (2L, 1L))
    assert(out(3L) == (2L, 2L))
  }

  test("D4: BPE-ish pre-tokenization counts letter/digit/punct runs") {
    import spark.implicits._
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
    val out = Seq("hello world v1.2, id=42; cost $9.99!")
      .toDF("raw")
      .select(size(regexp_extract_all(col("raw"), lit(pat), lit(0))).as("n"))
      .head.getInt(0)
    // hello|world|v|1|.|2|,|id|=|42|;|cost|$|9|.|99|! = 17 pre-tokens
    assert(out == 17, s"expected 17 pre-tokens, got $out")
  }

  test("D1i incremental MinHash: planted cross-batch dups flagged, fresh docs " +
      "survive, committed side joins as distinct band keys (LEFT SEMI)") {
    val (rows, trace) = Trace.capture(
      LakeQueries.d01_minhash_incremental(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
    // exact re-keys (+1000000) share ALL 4 bands with their committed
    // original — every one must be flagged
    val exactRekeys = rows.keys.filter(id => id >= 1000000L && id < 2000000L)
    assert(exactRekeys.nonEmpty)
    assert(exactRekeys.forall(rows(_)),
      s"unflagged exact re-key: ${exactRekeys.filterNot(rows(_))}")
    // near-dup re-keys (+2000000, 3 appended tokens) keep most lanes: the
    // overwhelming majority must still collide on >= 1 band
    val nearRekeys = rows.keys.filter(_ >= 2000000L)
    assert(nearRekeys.nonEmpty)
    val caught = nearRekeys.count(rows(_))
    assert(caught * 2 > nearRekeys.size,
      s"near-dup recall collapsed: $caught/${nearRekeys.size}")
    // genuinely-new odd docs: not ALL of them may be flagged (natural
    // near-dups exist in the corpus, but not everywhere)
    assert(rows.exists { case (id, dup) => id < 1000000L && !dup },
      "every fresh doc flagged — the gate is not discriminating")
    // scale shape: the committed corpus participates ONLY as a distinct
    // band-key set probed by a LEFT SEMI join — per-key width 1, no
    // increment × committed pair fan-out
    val plan = trace.note("plan")
    assert(plan.contains("LeftSemi"), plan.take(2000))
    val semiIdx = plan.indexOf("LeftSemi")
    assert(plan.indexOf("Aggregate", semiIdx) > 0,
      "committed band keys not deduplicated below the semi join:\n" +
        plan.take(2000))
  }

  test("D4l incremental sequence packing: base offset equals the committed " +
      "total, positions continue the stream, no corpus rescan in the plan") {
    import org.apache.spark.sql.functions._
    val (out, trace) = Trace.capture(
      LakeQueries.d04_seqpack_incremental(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))))
    assert(out.nonEmpty && out.forall(_._1 % 2 == 1),
      "output must be increment (odd) docs only")
    // the first arrival's first span starts exactly at the committed
    // stream's token total: seq_id*512 + off_in_seq == sum(evens n_tok)
    val evensTot = graft.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    val first = out.minBy(r => (r._1, r._2))
    assert(first._2 * 512 + first._5 == evensTot,
      s"first increment span starts at ${first._2 * 512 + first._5}, " +
        s"committed total is $evensTot")
    // spans tile the increment exactly: per-doc tok_len sums to n_tok
    val lens = out.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val expect = graft.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lens == expect, "span lengths must tile each doc's tokens")
    // scale shape: the pack plan reads the INCREMENT's parquet relation
    // only — a corpus rescan would reintroduce the table's DSv2 scan
    val plan = trace.note("plan")
    assert(!plan.contains("laketable"),
      s"corpus table scan leaked into the incremental pack:\n${plan.take(2000)}")
  }

  test("D3f committed MinHash band index: gate probes the INDEX TABLE scan " +
      "(not a corpus recompute), maintenance appends only novel keys, " +
      "verdicts equal the recompute gate") {
    val (indexed, trace) = Trace.capture(LakeQueries.d03_minhash_index(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
    val recomputed = LakeQueries.d01_minhash_incremental(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the committed-index gate and the recompute gate see the same band
    // space, so their verdict sets must be identical — the persisted
    // index adds storage and reuse, never drift
    assert(indexed == recomputed,
      s"indexed gate diverged on ${(indexed.toSet diff recomputed.toSet).take(5)}")
    val (plan, locI) = (trace.note("plan"), trace.note("index_location"))
    // the semi-join's committed side is the INDEX table's DSv2 relation
    // (its name embeds the index location) — a regression back to
    // re-banding the corpus would scan the DATA table's text instead
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(plan.contains(locI),
      s"gate does not scan the committed index table $locI:\n${plan.take(2000)}")
    // maintenance wrote ONLY the increment's novel keys: bounded by
    // 4 band keys per increment doc, and strictly positive (fresh odd
    // docs contribute new band buckets)
    val incDocs = indexed.size
    val appended = trace.count("maint_rows")
    assert(appended > 0L, "maintenance appended no keys")
    assert(appended <= 4L * incDocs,
      s"maintenance wrote $appended keys for $incDocs increment docs " +
        "— corpus-proportional rewrite")
  }

  test("D1s committed SemDeDup cell index: gate joins the INDEX TABLE scan " +
      "(not a corpus re-assign), maintenance writes exactly the increment, " +
      "verdicts equal the re-assign gate") {
    val (indexed, trace) = Trace.capture(LakeQueries.d01_semdedup_index(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap)
    val reassigned = LakeQueries.d01_semdedup_incremental(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // the committed-index gate and the re-assign gate see the same cell
    // space under the same frozen centroids, so their verdict sets must
    // be identical — the persisted index adds reuse, never drift
    assert(indexed == reassigned,
      s"indexed gate diverged on ${(indexed.toSet diff reassigned.toSet).take(5)}")
    val (plan, locI) = (trace.note("plan"), trace.note("index_location"))
    // the cell join's committed side is the INDEX table's DSv2 relation
    // (its name embeds the index location) — a regression back to
    // re-assigning the corpus would scan the DATA table instead
    assert(plan.contains(locI),
      s"gate does not scan the committed index table $locI:\n${plan.take(2000)}")
    // maintenance assigned and wrote EXACTLY the increment's rows — one
    // index row per gated vector, never a corpus-proportional rewrite
    assert(trace.count("maint_rows") == indexed.size.toLong,
      s"maintenance wrote ${trace.count("maint_rows")} rows " +
        s"for ${indexed.size} increment vectors")
  }

  test("D2g TRAINED committed ANN index: recall@5 clears the floor, and the " +
      "self-contained reload (parsed-back trained models) equals the " +
      "direct path under the same model instances") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val (out, trace) = Trace.capture(
      LakeQueries.d02_ann_indexed_trained(spark, dir))
    val served = pairs(out)
    val truth = pairs(PipelineQueries.d02_cosine_topk(spark, dir))
    assert(truth.nonEmpty)
    val recall = served.intersect(truth).size.toDouble / truth.size
    info(f"trained committed-index recall@5: $recall%.3f")
    // models train on the COMMITTED 400 vectors only (the frozen-index
    // contract), then serve the full corpus — measured 0.88 here (the
    // 13-cell IVF from the committed corpus's every-31st seeds probes a
    // larger corpus fraction at nprobe=8 than d02_ann_ivfpq's 16 cells,
    // more than paying back the unseen-increment handicap); floor ~0.10
    // under measured (the d02 convention) so a regression to untrained
    // models or a starved shortlist fails
    assert(recall >= 0.78,
      s"trained committed-index recall $recall below floor")
    // the entry served from models PARSED BACK from the index table's
    // properties; under the same model instances the direct (unsplit,
    // unpersisted) path must produce the identical result — the codec
    // and the lake round-trip add storage, never drift
    val ivf = PipelineQueries.ivfModelFromString(trace.note("ivf_model"))
    val pq = PipelineQueries.pqModelFromString(trace.note("pq_model"))
    val e = graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val direct = PipelineQueries.ivfPqSearch(spark, e, ivf, pq).collect().toSeq
    assert(out.collect().toSeq == direct,
      "trained committed-index serve diverged from the direct path")
    // and the trained floats themselves round-trip bit-exactly: the
    // models above already went through the codec, so the check trains
    // its own in-memory instances on the same committed 400 vectors —
    // full-precision Lloyd means, which a lossy codec would not survive
    val committed = e.filter(col("vec_id") < 400)
    val ivf0 = PipelineQueries.trainIvfCentroids(committed)
    val pq0 = PipelineQueries.trainPqCodebooks(committed, seedMod = 23)
    def ivfBits(m: Array[(Long, Seq[Float])]) =
      m.toList.map { case (c, v) => (c, v.toList.map(java.lang.Float.floatToIntBits)) }
    def pqBits(m: Array[Array[Seq[Double]]]) =
      m.toList.map(_.toList.map(_.toList.map(java.lang.Double.doubleToLongBits)))
    assert(ivfBits(PipelineQueries.ivfModelFromString(
      PipelineQueries.ivfModelToString(ivf0))) == ivfBits(ivf0))
    assert(pqBits(PipelineQueries.pqModelFromString(
      PipelineQueries.pqModelToString(pq0))) == pqBits(pq0))
  }

  test("D2h rebuild_index: drifted-increment recall decays under frozen " +
      "models and recovers after the one-commit swap (old index stays " +
      "time-travelable)") {
    import graft.lake._
    val P = PipelineQueries
    val locD = s"${System.getProperty("java.io.tmpdir")}/graft-rbd-d-${java.util.UUID.randomUUID()}"
    val locI = s"${System.getProperty("java.io.tmpdir")}/graft-rbd-i-${java.util.UUID.randomUUID()}"
    val data = LakeTable.create(locD, "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = LakeTable.create(locI, P.AnnIndexDdl, P.AnnIndexSpec)
    try {
      val e = graft.Tables.t(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // corpus A: all 500 natural vectors shifted to ids 500..999, so
      // that every serve query (vec_id < 20) is a DRIFTED vector
      val corpusA = e.select((col("vec_id") + 500).as("vec_id"),
        col("embedding"))
      // drift: rotate halves and flip alternate signs — an orthogonal
      // transform, so the drifted set keeps its internal neighbor
      // structure (truth ⊂ drifted) while being geometrically disjoint
      // from A's distribution. 300 drifted vectors OVERFLOW the serve's
      // 200-candidate ADC shortlist: under the A-frozen codebooks the
      // drifted codes are noise, the shortlist cut loses true neighbors,
      // and recall genuinely decays — the failure mode rebuild exists for
      // (100 vectors would all survive the cut and the exact refine
      // would mask the stale models entirely)
      val drifted = e.filter(col("vec_id") < 300)
        .select(col("vec_id"),
          expr("""cast(transform(sequence(0, 63), i ->
            |  embedding[int((i + 32) % 64)] *
            |  (case when i % 2 = 0 then -1.0F else 1.0F end)) as array<float>)
            |""".stripMargin).as("embedding"))
      val d1 = data.append(LakeWriter.writeDataFiles(corpusA, data))
      val committed = data.snapshotDF(spark, d1)
      val ivf = P.trainIvfCentroids(committed)
      // every-23rd seeds: the 400-vector committed corpus must yield the
      // full 16 codewords (the d02_ann_indexed_trained convention)
      val pq = P.trainPqCodebooks(committed, seedMod = 23)
      index.setProperty(P.AnnIvfProp, P.ivfModelToString(ivf))
      index.setProperty(P.AnnPqProp, P.pqModelToString(pq))
      index.append(LakeWriter.writeDataFiles(
        P.ivfPqEncode(spark, committed, ivf, pq), index))
      val d2 = data.append(LakeWriter.writeDataFiles(drifted, data))
      index.append(LakeWriter.writeDataFiles(
        P.ivfPqEncode(spark, data.changesBetween(spark, d1, d2), ivf, pq),
        index))
      val preSwapIndexId = index.currentSnapshotId

      def recallNow(): Double = {
        val served = LakeTable.load(locI)
        val ivf2 = P.ivfModelFromString(
          served.tableMeta.properties(P.AnnIvfProp))
        val pq2 = P.pqModelFromString(
          served.tableMeta.properties(P.AnnPqProp))
        val got = P.ivfPqServe(spark, served.toDF(spark),
          data.refresh().toDF(spark), ivf2, pq2)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        // exact truth, driver-side (500 × 64 floats — spec-bounded)
        val all = data.toDF(spark).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
            nb += b(i).toDouble * b(i); i += 1
          }
          d / (math.sqrt(na) * math.sqrt(nb))
        }
        val truth = all.filter(_._1 < 20).flatMap { case (qid, qv) =>
          all.filter(_._1 != qid)
            .map { case (oid, ov) => (oid, cos(qv, ov)) }
            .sortBy { case (oid, c) => (-c, oid) }.take(5)
            .map { case (oid, _) => (qid, oid) }
        }.toSet
        truth.intersect(got).size.toDouble / truth.size
      }

      val pre = recallNow()
      val swapId = LakeQueries.rebuildAnnIndex(spark, data, index,
        trained = true, seedMod = 23)
      val post = recallNow()
      info(f"rebuild_index recall@5 on drifted queries: pre=$pre%.3f " +
        f"post=$post%.3f")
      // the claim: rebuild RE-EARNS the recall floor the frozen models
      // lost under drift. Floors leave the d02 convention's margin under
      // measured values; a rebuild that forgot to retrain (or to
      // re-encode) collapses post to pre and fails
      // measured pre=0.72 post=0.82; the +0.05 recovery margin (not the
      // full measured +0.10) absorbs the last-ulp run-order wobble the
      // distributed Lloyd means carry (the d02 rows-only rationale)
      assert(post >= 0.70, s"post-rebuild recall $post below floor")
      assert(post >= pre + 0.05,
        s"rebuild did not recover recall: pre=$pre post=$post")
      // the swap is ONE commit …
      assert(index.refresh().currentSnapshotId == swapId)
      // … and the pre-rebuild index is still time-travelable: the old
      // snapshot's codes are exactly the pre-swap rows
      val oldCodes = index.snapshotDF(spark, preSwapIndexId).count()
      assert(oldCodes == 800L, s"time travel saw $oldCodes code rows")
    } finally {
      LakeTable.drop(locD)
      LakeTable.drop(locI)
    }
  }

  test("D2h rebuild auto-trigger: the debt odometer advances per " +
      "maintenance, the threshold fires exactly at N and resets, and a " +
      "breached recall floor fires a rebuild that recovers recall") {
    import graft.lake._
    val P = PipelineQueries
    val locD = s"${System.getProperty("java.io.tmpdir")}/graft-trg-d-${java.util.UUID.randomUUID()}"
    val locI = s"${System.getProperty("java.io.tmpdir")}/graft-trg-i-${java.util.UUID.randomUUID()}"
    val data = LakeTable.create(locD, "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = LakeTable.create(locI, P.AnnIndexDdl, P.AnnIndexSpec)
    try {
      val e = graft.Tables.t(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val corpusA = e.select((col("vec_id") + 500).as("vec_id"),
        col("embedding"))
      val d1 = data.append(LakeWriter.writeDataFiles(corpusA, data))
      val committed = data.snapshotDF(spark, d1)
      val (ivf, pq) = P.annSeedModels(committed)
      index.setProperty(P.AnnIvfProp, P.ivfModelToString(ivf))
      index.setProperty(P.AnnPqProp, P.pqModelToString(pq))
      index.append(LakeWriter.writeDataFiles(
        P.ivfPqEncode(spark, committed, ivf, pq), index))
      def odometer: Long = index.refresh().tableMeta.properties
        .getOrElse(LakeQueries.AnnIncrementsProp, "0").toLong
      def models: String =
        index.refresh().tableMeta.properties(P.AnnIvfProp)
      assert(odometer == 0L)
      val m0 = models
      // three maintenances advance the odometer 1, 2, 3 — the trigger
      // must hold below the threshold and fire exactly at it
      Seq((0L, 100L), (100L, 200L), (200L, 300L))
        .zipWithIndex.foreach { case ((lo, hi), i) =>
          val inc = e.filter(col("vec_id") >= lo && col("vec_id") < hi)
          data.append(LakeWriter.writeDataFiles(inc, data))
          LakeQueries.maintainAnnIndex(spark, index, inc)
          assert(odometer == i + 1L,
            s"odometer ${odometer} after ${i + 1} maintenances")
          if (i < 2) {
            assert(!LakeQueries.maybeRebuildAnnIndex(spark, data, index,
              maxIncrements = 3), s"trigger fired early at debt ${i + 1}")
            assert(models == m0, "models changed without a rebuild")
          }
        }
      assert(LakeQueries.maybeRebuildAnnIndex(spark, data, index,
        maxIncrements = 3), "trigger did not fire at the threshold")
      assert(odometer == 0L, "swap did not reset the odometer")
      assert(models != m0, "threshold rebuild did not retrain the models")
      // recall-floor leg: a drifted maintenance (orthogonal transform,
      // 300 vectors — enough to overflow the 200-candidate shortlist)
      // decays measured recall under the now-frozen models; arming a
      // floor just above the measured value must fire a TRAINED rebuild
      // that recovers it
      val drifted = e.filter(col("vec_id") < 300)
        .select((col("vec_id") + 1500L).as("vec_id"),
          expr("""cast(transform(sequence(0, 63), i ->
            |  embedding[int((i + 32) % 64)] *
            |  (case when i % 2 = 0 then -1.0F else 1.0F end)) as array<float>)
            |""".stripMargin).as("embedding"))
      data.append(LakeWriter.writeDataFiles(drifted, data))
      LakeQueries.maintainAnnIndex(spark, index, drifted)
      val pre = LakeQueries.measureAnnRecall(spark, data, index)
      assert(pre < 1.0, "drift did not move measured recall at all")
      assert(!LakeQueries.maybeRebuildAnnIndex(spark, data, index,
        maxIncrements = 100, recallFloor = Some(pre - 0.01)),
        "floor below the measurement must not fire")
      assert(LakeQueries.maybeRebuildAnnIndex(spark, data, index,
        maxIncrements = 100, recallFloor = Some(pre + 0.01),
        trained = true, seedMod = 23),
        "breached recall floor did not fire the rebuild")
      val post = LakeQueries.measureAnnRecall(spark, data, index)
      info(f"auto-trigger recall@5: pre=$pre%.3f post=$post%.3f")
      assert(post >= pre,
        s"recall-floor rebuild did not recover recall: pre=$pre post=$post")
      assert(odometer == 0L)
    } finally {
      LakeTable.drop(locD)
      LakeTable.drop(locI)
    }
  }

  test("D2f persisted ANN index: an append encodes ONLY the increment, and " +
      "serving from committed codes equals the per-query path") {
    val (out, trace) = Trace.capture(
      LakeQueries.d02_ann_indexed(spark, dir).collect().toSeq)
    assert(out.nonEmpty)
    // 100 vectors arrived after the index was built (vec_id 400..499 at
    // this sf) — the maintenance commit must encode exactly those, never
    // re-encode the 400-vector committed corpus
    assert(trace.count("increment_rows") == 100L,
      s"index maintenance encoded ${trace.count("increment_rows")} rows")
    // the committed-index serve must be indistinguishable from running
    // the unsplit encode+serve machinery over the same vectors with the
    // same frozen models — the persisted index adds storage, not drift
    val e = graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val committed = e.filter(col("vec_id") < 400)
    val (ivf, pq) = PipelineQueries.annSeedModels(committed)
    val direct = PipelineQueries.ivfPqSearch(spark, e, ivf, pq).collect().toSeq
    assert(out == direct, s"indexed serve diverged from per-query path")
    // the model text codec (index-table properties) round-trips bit-exactly
    // — the entry serves from PARSED models, so this is the claim the
    // out==direct equality above rests on
    val ivf2 = PipelineQueries.ivfModelFromString(
      PipelineQueries.ivfModelToString(ivf))
    assert(ivf2.toSeq.map { case (c, v) => (c, v.toList) } ==
      ivf.toSeq.map { case (c, v) => (c, v.toList) })
    val pq2 = PipelineQueries.pqModelFromString(
      PipelineQueries.pqModelToString(pq))
    assert(pq2.map(_.map(_.toList).toList).toList ==
      pq.map(_.map(_.toList).toList).toList)
  }

  test("D2f cell-keyed ANN index: a narrow serve prunes the index scan to " +
      "the probed cells' files (runtime/DPP file pruning)") {
    import graft.lake._
    val P = PipelineQueries
    val locD = s"${System.getProperty("java.io.tmpdir")}/graft-cellp-d-${java.util.UUID.randomUUID()}"
    val locI = s"${System.getProperty("java.io.tmpdir")}/graft-cellp-i-${java.util.UUID.randomUUID()}"
    val data = LakeTable.create(locD, "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = LakeTable.create(locI, P.AnnIndexDdl, P.AnnIndexSpec)
    try {
      val e = graft.Tables.t(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      data.append(LakeWriter.writeDataFiles(e, data))
      val corpus = data.toDF(spark)
      val (ivf, pq) = P.annSeedModels(corpus)
      index.append(LakeWriter.writeDataFiles(
        P.ivfPqEncode(spark, corpus, ivf, pq), index))
      val idxT = LakeTable.load(locI)
      val total = idxT.files().size
      // the cell layout writes one file per occupied cell — enough spread
      // that an 8-cell probe fan-out is a strict subset
      assert(total > 8, s"cell layout should spread the index: $total files")
      val served = P.ivfPqServe(spark, idxT.toDF(spark), corpus, ivf, pq,
        probeFilter = col("vec_id") === 0)
      assert(served.count() > 0)
      // the probe joins the index on cell with an 8-cell fan-out: the
      // index SCAN must plan only those cells' files — the serve respects
      // the index's own layout (the ANN sibling of the BM25 tkey prune)
      val planned = graft.lake.dsv2.LakeScanMetrics.lastPlannedByLocation
        .getOrElse(locI, -1)
      assert(planned > 0 && planned <= 8 && planned < total,
        s"index scan not pruned to probed cells: planned $planned of " +
          s"$total files\n" + served.queryExecution.executedPlan.toString.take(3000))
    } finally {
      LakeTable.drop(locD)
      LakeTable.drop(locI)
    }
  }

  test("D4j2 BPE encode: merges apply by rank, feed later merges, stay " +
      "whole-symbol, and never cross token boundaries") {
    val tdir = s"${System.getProperty("java.io.tmpdir")}/graft-bpe-${java.util.UUID.randomUUID()}"
    import spark.implicits._
    Seq((1L, "the cat in the hat", "en", "web", 18L),
        (2L, "ander doing", "en", "web", 11L),
        (3L, "xa b or", "en", "web", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tdir/documents.parquet")
    try {
      val out = PipelineQueries.d04_bpe_encode(spark, tdir)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))))
        .toMap
      // vocab ids: a=0..z=25, then merges in rank order: th=26 the=27
      // in=28 an=29 er=30 on=31 re=32 at=33 en=34 or=35 and=36 ing=37
      // "the"→[the], "cat"→[c,at], "in"→[in], "hat"→[h,at]
      assert(out(1L) == ((14L, 7L, "27,2,33,28,27,7,33", 2.0)), out(1L))
      // "ander": (a,n)→an, (e,r)→er, then (an,d)→and — MERGED symbols
      // feed later merges; "doing": (i,n)→in then (in,g)→ing
      assert(out(2L) == ((10L, 5L, "36,30,3,14,37", 2.0)), out(2L))
      // "xa b": the 'a' inside "xa" must NOT merge across the token
      // boundary with "b"; "or" merges by rule 10
      assert(out(3L) == ((5L, 4L, "23,0,1,35", 1.25)), out(3L))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(tdir))
  }

  test("D4j3 production-vocab BPE: trained merge list is full-size and " +
      "valid; greedy encoder equals rank-order application on the corpus") {
    val merges = PipelineQueries.BpeFullMerges
    assert(merges.size == 256, s"trained only ${merges.size} merges")
    // validity invariant (what makes greedy == rank-order): each merge's
    // operands are base characters or products of strictly earlier merges
    val products = scala.collection.mutable.HashSet[String]()
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      def known(s: String) = s.length == 1 || products.contains(s)
      assert(known(a) && known(b), s"merge $r ($a,$b) has unknown operand")
      products += (a + b)
    }
    assert(merges == merges.distinct, "duplicate merge learned")

    // greedy-vs-rank-order equivalence over every word of the sf0.001
    // corpus: the oracle/the chain twin apply ranks 0..255 in order,
    // each fully; the mapPartitions encoder runs the tokenizer's greedy
    // lowest-rank loop — same function on a valid list
    val ranks = merges.zipWithIndex.toMap
    val byRank = merges.toArray
    def rankOrder(word: String): Vector[String] =
      merges.foldLeft(word.map(_.toString).toVector) { case (syms, (a, b)) =>
        PipelineQueries.mergePass(syms, a, b)
      }
    val dir = "/root/testdata/sf0.001"
    val words = graft.Tables.t(spark, dir, "documents")
      .select(lower(col("text")).as("t"))
      .select(explode(split(regexp_replace(col("t"), "[^a-z ]", ""), " ")))
      .filter(length(col("col")) > 0).distinct()
      .collect().map(_.getString(0))
    // the synthetic corpus's vocabulary is small (~31 words at sf0.001),
    // so widen coverage with seeded random letter strings — these hit
    // merge interactions (overlaps, repeats, rank races) natural words
    // never produce
    val rnd = new scala.util.Random(20260815L)
    val fuzz = (0 until 2000).map(_ =>
      (0 until (1 + rnd.nextInt(14))).map(_ =>
        ('a' + rnd.nextInt(26)).toChar).mkString)
    assert(words.length > 20, s"corpus gave only ${words.length} words")
    (words ++ fuzz).foreach { w =>
      val greedy = PipelineQueries.bpeEncodeWord(w, ranks, byRank)
      assert(greedy == rankOrder(w),
        s"greedy != rank-order on '$w': $greedy vs ${rankOrder(w)}")
    }

    // end-to-end entry: ids decode back to the normalized text, and the
    // committed-model serve path produced full-vocab tokens (some id
    // must index past the 12-merge toy vocab's range)
    val vocab = ('a' to 'z').map(_.toString) ++ merges.map(p => p._1 + p._2)
    val out = PipelineQueries.d04_bpe_encode_full(spark, dir).collect()
    assert(out.length > 0)
    var sawBig = false
    out.foreach { r =>
      val ids = r.getString(3).split(',').filter(_.nonEmpty).map(_.toInt)
      assert(ids.length == r.getLong(2), "n_tokens != id count")
      val rebuilt = ids.map(vocab).mkString
      assert(rebuilt.length == r.getLong(1), "ids do not rebuild n_chars")
      if (ids.exists(_ >= 26 + 12)) sawBig = true
    }
    assert(sawBig, "no document used a merge beyond the toy-vocab range")
  }

  test("D1g substring dedup: planted shared 60-char run yields exactly its " +
      "merged span in both carriers, clean docs yield none") {
    import spark.implicits._
    // a non-self-similar shared run: period-26 character walk, so no
    // 40-gram inside it equals a shifted copy of itself (max overlap
    // shift 20 < period) — the only duplicated shingles are the
    // cross-document ones the operator must find
    val s60 = (0 until 60).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val x37 = (0 until 37).map(i => ('A' + (i * 5) % 26).toChar).mkString
    val y15 = (0 until 15).map(i => ('0' + (i * 3) % 10).toChar).mkString
    val p22 = (0 until 22).map(i => ('A' + (i * 11 + 2) % 26).toChar).mkString
    val q31 = (0 until 31).map(i => ('0' + (i * 7 + 1) % 10).toChar).mkString
    // 45 chars: long enough to shingle (>= 40), short enough that no
    // self-shift reaches the walk's period 26 (max shift 5)
    val clean = (0 until 45).map(i => ('a' + (i * 11 + 3) % 26).toChar).mkString
    val docs = Seq(
      (1L, x37 + s60 + y15), (2L, p22 + s60 + q31), (3L, clean))
      .toDF("doc_id", "text")
    val spans = PipelineQueries.substringDupSpans(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // merged island = the full planted run, positioned by each carrier's
    // prefix length; the clean doc contributes nothing
    assert(spans == Set((1L, 37L, 97L), (2L, 22L, 82L)), spans.toString)
  }

  test("D1h substring clean: kept segments + cut spans tile each planted doc " +
      "exactly; span-free docs pass through whole") {
    import spark.implicits._
    val s60 = (0 until 60).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val x37 = (0 until 37).map(i => ('A' + (i * 5) % 26).toChar).mkString
    val y15 = (0 until 15).map(i => ('0' + (i * 3) % 10).toChar).mkString
    val p22 = (0 until 22).map(i => ('A' + (i * 11 + 2) % 26).toChar).mkString
    val q31 = (0 until 31).map(i => ('0' + (i * 7 + 1) % 10).toChar).mkString
    val clean = (0 until 45).map(i => ('a' + (i * 11 + 3) % 26).toChar).mkString
    val docA = x37 + s60 + y15
    val docB = p22 + s60 + q31
    val docs = Seq((1L, docA), (2L, docB), (3L, clean)).toDF("doc_id", "text")
    val segs = PipelineQueries.substringCleanSegs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // doc 1 keeps its prefix and suffix around the cut [37,97); doc 2 the
    // same around [22,82); the clean doc passes through whole
    assert(segs == Set(
      (1L, 0L, x37), (1L, 97L, y15),
      (2L, 0L, p22), (2L, 82L, q31),
      (3L, 0L, clean)), segs.toString)
  }

  test("D1g substring dedup agrees with an O(n²) brute force on 30 random " +
      "tiny-alphabet corpora (forced collisions, overlaps, self-repeats)") {
    import spark.implicits._
    val L = PipelineQueries.SubstrShingle
    val rnd = new scala.util.Random(20260815L)
    (0 until 30).foreach { trial =>
      // 2-char alphabet, doc lengths straddling the shingle size: dense
      // accidental collisions, self-overlapping repeats, whole-doc dups —
      // the regimes natural text never exercises
      val docs = (0 until (3 + rnd.nextInt(4))).map { id =>
        val len = 30 + rnd.nextInt(80)
        (id.toLong, (0 until len).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString)
      }
      val expected = {
        val all = docs.flatMap { case (id, t) =>
          (0 to t.length - L).map(p => (id, p, t.substring(p, p + L))) }
        val counts = all.groupBy(_._3).view.mapValues(_.size).toMap
        val hits = all.filter { case (_, _, s) => counts(s) >= 2 }
        hits.groupBy(_._1).toSeq.flatMap { case (id, hs) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          for ((st, en) <- hs.map(h => (h._2.toLong, (h._2 + L).toLong)).sorted) {
            if (merged.nonEmpty && st <= merged.last._2)
              merged(merged.size - 1) =
                (merged.last._1, math.max(merged.last._2, en))
            else merged += ((st, en))
          }
          merged.map { case (st, en) => (id, st, en) }
        }.sortBy(x => (x._1, x._2))
      }
      val got = PipelineQueries.substringDupSpans(
          docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expected, s"trial $trial diverged: got ${got.take(5)} " +
        s"expected ${expected.take(5)}")
    }
  }

  test("D1g substring dedup spans are merged maximal intervals on testdata") {
    val rows = PipelineQueries.d01_dedup_substring(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "corpus should contain duplicated spans")
    rows.foreach { case (_, st, en) =>
      assert(en - st >= PipelineQueries.SubstrShingle, s"span [$st,$en) " +
        "shorter than one shingle") }
    // merged: consecutive spans of one doc must have a gap, never touch
    rows.groupBy(_._1).values.foreach { ss =>
      ss.sortBy(_._2).toSeq.sliding(2).foreach {
        case Seq((_, _, e1), (_, s2, _)) =>
          assert(s2 > e1, s"adjacent spans touch: end=$e1 next-start=$s2")
        case _ => }
    }
  }

  test("D2r BM25: tiny-corpus score matches a scalar reimplementation and " +
      "all-term docs outrank single-term docs") {
    import spark.implicits._
    // query 1 is "spark table join" (Bm25Queries) — doc 10 carries all
    // three terms, doc 11 one of them, doc 12 none
    val docs = Seq(
      (10L, "spark table join"),
      (11L, "spark big big"),
      (12L, "big data big data")).toDF("doc_id", "text")
    val out = PipelineQueries.bm25Serve(
      PipelineQueries.bm25Postings(docs), nDocs = 3L, sumDl = 10L)
      .collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val q1 = out.filter(_._1 == 1)
    assert(q1.head._3 == 10L, s"all-term doc must rank first: ${q1.toSeq}")
    // scalar reimplementation of the same math (independent of the plan):
    // doc 10, query 1 — tf=1 for each of 3 terms, dl=3, avgdl=10/3,
    // df(spark)=2 (docs 10, 11), df(table)=df(join)=1
    def contrib(df: Long): Long = {
      val idf = math.log(1.0 + (3L - df + 0.5) / (df + 0.5))
      val denom = 1L + 1.2 * (1.0 - 0.75 + 0.75 * 3.0 / (10.0 / 3))
      math.floor(idf * 1L * (1.2 + 1) / denom * 1e6 + 0.5).toLong
    }
    val expected = (contrib(2) + contrib(1) + contrib(1)).toDouble / 1e6
    assert(q1.head._4 == expected,
      s"doc 10 score ${q1.head._4} != scalar recompute $expected")
    // docs without any query-1 term never appear under query 1
    assert(!q1.exists(_._3 == 12L), q1.toSeq.toString)
  }

  test("D2z zipf expansion: postings equal a scalar reimplementation of " +
      "the integer-octave derivation, dl preserved, vocabulary widened") {
    import spark.implicits._
    val docs = Seq(
      (3L, "data query data table"),
      (7L, "data data")).toDF("doc_id", "text")
    val got = PipelineQueries.zipfPostings(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // scalar recompute: the SAME md5 prefix + shift/mod arithmetic,
    // independent of the Catalyst expressions
    def rank(docId: Long, pos: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$docId:$pos".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val u = java.lang.Long.parseLong(md, 16)
      val e = (u % 10).toInt
      (1L << e) + (u / 10) % (1L << e)
    }
    val expected = Seq(3L -> "data query data table".split(" "),
        7L -> "data data".split(" "))
      .flatMap { case (id, toks) =>
        toks.zipWithIndex.map { case (t, i) =>
          (id, s"$t~${rank(id, i)}", toks.length.toLong) } }
      .groupBy(x => (x._1, x._2))
      .map { case ((id, term), hits) =>
        (term, id, hits.size.toLong, hits.head._3) }.toSet
    assert(got == expected, s"got $got expected $expected")
    // the expansion's point: repeated base tokens fan out to DISTINCT
    // vocabulary entries unless two occurrences draw the same rank
    val doc7Ranks = Seq(rank(7L, 0), rank(7L, 1))
    val doc7Terms = got.filter(_._2 == 7L).map(_._1)
    assert(doc7Terms.size == doc7Ranks.distinct.size,
      s"doc 7 vocabulary $doc7Terms vs ranks $doc7Ranks")
    // every rank lives in [1, 1024): e ∈ [0,9], offset < 2^e
    got.foreach { case (term, _, _, _) =>
      val r = term.split('~')(1).toLong
      assert(r >= 1 && r < 1024, s"rank out of octave range: $term") }
  }

  test("D2pz zipf positional postings: tf == |positions|, dropping " +
      "positions equals zipfPostings, and phraseServe over the expansion " +
      "matches a scalar adjacency recompute") {
    import spark.implicits._
    val docs = Seq(
      (3L, "data query data table sort query"),
      (7L, "sort query sort query data"),
      (11L, "table data sort")).toDF("doc_id", "text")
    val pos = PipelineQueries.zipfPositionalPostings(docs)
    val rows = pos.collect()
    rows.foreach { r =>
      val tf = r.getLong(2)
      val ps = r.getSeq[Long](4)
      assert(tf == ps.size, s"tf $tf != |positions| ${ps.size} for $r")
      assert(ps == ps.sorted, s"positions not sorted: $r")
    }
    val flat = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet
    val plain = PipelineQueries.zipfPostings(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(flat == plain,
      "positional postings must equal zipfPostings modulo positions")
    // scalar recompute of the expanded token STREAM (same derivation the
    // D2z test pins), then adjacency counting over it — the probe pair is
    // taken FROM the scalar stream so the test never depends on rank luck
    def rank(docId: Long, p: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$docId:$p".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val u = java.lang.Long.parseLong(md, 16)
      val e = (u % 10).toInt
      (1L << e) + (u / 10) % (1L << e)
    }
    val streams = Seq(3L -> "data query data table sort query",
        7L -> "sort query sort query data", 11L -> "table data sort")
      .map { case (id, t) =>
        id -> t.split(" ").zipWithIndex.map { case (w, i) =>
          s"$w~${rank(id, i)}" }.toSeq }
    val (probeDoc, probeStream) = streams.head
    val (z1, z2) = (probeStream(0), probeStream(1))
    val expected = streams.flatMap { case (id, zs) =>
      val n = zs.sliding(2).count(p => p.head == z1 && p.last == z2)
      if (n > 0) Some((1, id, n.toLong)) else None
    }.toSet
    assert(expected.exists(_._2 == probeDoc))
    val served = PipelineQueries.phraseServe(pos, Seq(1 -> s"$z1 $z2"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == expected, s"served $served expected $expected")
  }

  test("D1i committed shingle index: gate spans equal a driver recompute, " +
      "probe scans the INDEX TABLE, maintenance appends only novel hashes") {
    val L = PipelineQueries.SubstrShingle
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
      .filter(_._2.length >= L)
    val corpus = docs.filter(_._1 % 2 == 0).flatMap { case (_, t) =>
      (0 to t.length - L).map(p => h60(t.substring(p, p + L))) }.toSet
    val incSh = docs.filter(_._1 % 2 == 1).toSeq.flatMap { case (id, t) =>
      (0 to t.length - L).map(p => (id, p.toLong, h60(t.substring(p, p + L)))) }
    val counts = incSh.groupBy(_._3).view.mapValues(_.size).toMap
    val hits = incSh.filter { case (_, _, h) => corpus(h) || counts(h) >= 2 }
    val expected = hits.groupBy(_._1).toSeq.flatMap { case (id, hs) =>
      val sorted = hs.map(x => (x._2, x._2 + L)).sorted
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for ((st, en) <- sorted) {
        if (merged.nonEmpty && st <= merged.last._2)
          merged(merged.size - 1) =
            (merged.last._1, math.max(merged.last._2, en))
        else merged += ((st, en))
      }
      merged.map { case (st, en) => (id, st, en) }
    }.sortBy(x => (x._1, x._2))
    assert(expected.nonEmpty, "testdata should have cross-parity dup spans")
    val (got, trace) = Trace.capture(LakeQueries.d01_substring_index(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(got == expected,
      s"gate spans diverged: ${(got.toSet diff expected.toSet).take(3)} vs " +
        s"${(expected.toSet diff got.toSet).take(3)}")
    val (plan, locI) = (trace.note("plan"), trace.note("index_location"))
    assert(plan.contains(locI),
      s"gate does not scan the committed shingle index $locI:\n${plan.take(2000)}")
    val novel = incSh.map(_._3).toSet.diff(corpus)
    assert(trace.count("maint_rows") == novel.size.toLong,
      s"maintenance wrote ${trace.count("maint_rows")} keys != " +
        s"increment's ${novel.size} novel hashes")
  }

  test("D2p phrase match counts adjacency occurrences exactly, including " +
      "boundary-sharing repeats a substring count would miss") {
    import spark.implicits._
    val docs = Seq(
      // "spark table" twice — the occurrences SHARE the middle space, so
      // a non-overlapping substring count of ' spark table ' finds 1
      (1L, "spark table spark table big"),
      (2L, "spark big table"), // words present, never adjacent
      (3L, "fast scan fast scan fast scan"), // 3 adjacencies
      (4L, "window agg")).toDF("doc_id", "text")
    val got = PipelineQueries.phraseMatch(docs)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1, 1L, 2L), (2, 3L, 3L), (3, 4L, 1L)), got.toString)
  }

  test("D2f hybrid RRF retrieval equals a driver-side fusion of the two arms") {
    val K = PipelineQueries.Bm25TopK
    val nq = PipelineQueries.Bm25Queries.length
    val out = PipelineQueries.d02_hybrid_rrf(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val lex = PipelineQueries.d02_bm25_topk(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getInt(1)).toMap
    val embs = graft.Tables.t(spark, dir, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // same left-to-right fold order as the codegen'd cosine_sim — the
    // doubles must match bit-for-bit for rank agreement
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val semRanks = (1 to nq).flatMap { q =>
      val qe = embs(q.toLong)
      embs.toSeq.filter(_._1 != q.toLong)
        .map { case (oid, v) => (oid, cos(qe, v)) }
        .sortBy { case (oid, c) => (-c, oid) }.take(K).zipWithIndex
        .map { case ((oid, _), i) => (q, oid) -> (i + 1) }
    }.toMap
    val expected = (1 to nq).flatMap { q =>
      val cands = (lex.keys.filter(_._1 == q).map(_._2) ++
        semRanks.keys.filter(_._1 == q).map(_._2)).toSet
      cands.toSeq.map { d =>
        val rrf = lex.get((q, d)).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          semRanks.get((q, d)).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (q, d, rrf)
      }.sortBy { case (_, d, s) => (-s, d) }.take(K).zipWithIndex
        .map { case ((q2, d, s), i) => (q2, i + 1, d, s) }
    }
    assert(out == expected,
      s"fusion diverged: ${(out.toSet diff expected.toSet).take(3)} vs " +
        s"${(expected.toSet diff out.toSet).take(3)}")
  }

  test("D2r BM25 agrees with a scalar reimplementation on 20 random corpora " +
      "(skewed dfs, repeated terms, length extremes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val vocab = PipelineQueries.Bm25Queries.flatMap(_._2.split(" ")).distinct ++
      Seq("xx", "yy", "zz")
    (0 until 20).foreach { trial =>
      val docs = (0 until (4 + rnd.nextInt(8))).map { id =>
        val len = 1 + rnd.nextInt(30)
        (id.toLong, (0 until len)
          .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val n = docs.size.toLong
      val sumDl = docs.map(_._2.split(" ").length.toLong).sum
      // scalar BM25, same expression shapes as bm25Serve
      val tf = docs.flatMap { case (id, t) =>
        val toks = t.split(" ")
        toks.groupBy(identity).map { case (w, g) =>
          (w, id, g.length.toLong, toks.length.toLong) }
      }
      val qterms = PipelineQueries.Bm25Queries
        .flatMap { case (qid, q) => q.split(" ").map(qid -> _) }
      val dfm = tf.filter(p => qterms.exists(_._2 == p._1))
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val expected = qterms
        .flatMap { case (qid, term) =>
          tf.filter(_._1 == term).map { case (_, id, f, dl) =>
            val df = dfm(term)
            val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            val denom = f + 1.2 * (1.0 - 0.75 + 0.75 * dl.toDouble /
              (sumDl.toDouble / n))
            ((qid, id), math.floor(idf * f * (1.2 + 1) / denom * 1e6 + 0.5)
              .toLong)
          }
        }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
        .groupBy(_._1._1).toSeq.flatMap { case (_, byDoc) =>
          byDoc.sortBy { case ((_, id), sm) => (-sm, id) }
            .take(PipelineQueries.Bm25TopK).zipWithIndex
            .map { case (((q2, id), sm), i) =>
              (q2, i + 1, id, sm.toDouble / 1e6) }
        }.sortBy(x => (x._1, x._2))
      val got = PipelineQueries.bm25Serve(
          PipelineQueries.bm25Postings(docs.toDF("doc_id", "text")), n, sumDl)
        .collect().map(r =>
          (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == expected,
        s"trial $trial diverged: got ${got.take(3)} expected ${expected.take(3)}")
    }
  }

  test("D2p committed positional index: phrase serve reads position lists " +
      "from the INDEX TABLE, maintenance appends the increment's postings, " +
      "results equal the direct recompute") {
    val (indexed, trace) = Trace.capture(LakeQueries.d02_phrase_index(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq)
    val direct = PipelineQueries.d02_phrase_match(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(indexed == direct,
      s"index serve diverged: ${(indexed.toSet diff direct.toSet).take(5)}")
    assert(indexed.nonEmpty, "corpus should contain phrase matches")
    val (plan, loc) = (trace.note("plan"), trace.note("index_location"))
    assert(plan.contains(loc),
      s"serve does not scan the committed positional index $loc:\n${plan.take(2000)}")
    assert(!plan.contains("documents"),
      s"serve plan re-tokenizes the corpus:\n${plan.take(2000)}")
    val odds = graft.Tables.t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 1)
    val oddPostings = PipelineQueries.positionalPostings(odds).count()
    assert(trace.count("maint_rows") == oddPostings,
      s"maintenance rows ${trace.count("maint_rows")} != " +
        s"increment postings $oddPostings")
    // r12: phrase serve scan is layout-pruned like the BM25 serve
    val (planned, total) =
      (trace.count("serve_files_planned"), trace.count("files_total"))
    assert(planned > 0 && planned < total,
      s"serve scan not bucket-pruned: planned $planned of $total files")
  }

  test("D4j2 temperature mixture upsamples tail languages toward parity and " +
      "matches a scalar mirror copy-for-copy") {
    val counts = graft.Tables.t(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    // mirror the plan's micro-quantized normalizer (r11 advice #1): each
    // sqrt(share) contribution rounds to integer micro-units BEFORE the
    // sum, so z is order-independent in both engines
    val zm = counts.values
      .map(c => math.floor(math.sqrt(c.toDouble / n) * 1e6 + 0.5).toLong).sum
    val w10 = counts.map { case (l, c) =>
      val share = c.toDouble / n
      val sqm = math.floor(math.sqrt(share) * 1e6 + 0.5)
      l -> math.floor(sqm / zm / share * 10 + 0.5).toLong
    }
    val head = counts.maxBy(_._2)._1
    val tail = counts.minBy(_._2)._1
    assert(w10(tail) > w10(head),
      s"temperature must upsample the tail: $w10 (head=$head tail=$tail)")
    val docs = graft.Tables.t(spark, dir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, l) =>
      val w = w10(l)
      val u = (id * 2654435761L) % 4294967296L
      val copies = w / 10 + (if (u * 10 < (w % 10) * 4294967296L) 1L else 0L)
      (1L to copies).map(c => (id, l, c))
    }.sortBy(x => (x._1, x._3)).toSeq
    val got = PipelineQueries.d04_mixture_temp(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected,
      s"mixture diverged: got ${got.take(3)} expected ${expected.take(3)}")
  }

  test("D4q trained LR quality filter: beats the majority baseline, learns a " +
      "non-constant model, and is run-to-run deterministic") {
    val docs = graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), (col("lang") === "en").as("en"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val out = PipelineQueries.d04_quality_lr(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val n = out.length
    assert(n == docs.size)
    val correct = out.count { case (id, _, pred) => pred == docs(id) }
    val majority = math.max(docs.values.count(identity),
      docs.values.count(!_))
    assert(correct > majority,
      s"LR $correct/$n did not beat majority $majority/$n")
    // the model is non-trivial: many distinct quantized probabilities
    assert(out.map(_._2).distinct.length > 50,
      "probabilities collapsed — model learned nothing")
    // determinism: the quantized-gradient training is aggregation-order
    // independent, so a second full training run lands on the SAME model
    val again = PipelineQueries.d04_quality_lr(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(again.toSeq == out.toSeq, "retraining diverged — gradient " +
      "quantization failed to make training order-independent")
  }

  test("D2i committed BM25 index: serve scans the INDEX TABLE (not a corpus " +
      "re-tokenize), maintenance appends exactly the increment's postings, " +
      "results equal the full recompute") {
    val (indexed, trace) = Trace.capture(LakeQueries.d02_bm25_index(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq)
    val recomputed = PipelineQueries.d02_bm25_topk(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(indexed == recomputed,
      s"index serve diverged from recompute: ${
        (indexed.toSet diff recomputed.toSet).take(5)}")
    val (plan, loc) = (trace.note("plan"), trace.note("index_location"))
    assert(plan.contains(loc),
      s"serve does not scan the committed index table $loc:\n${plan.take(2000)}")
    // a regression back to corpus re-tokenize would scan the documents
    // source in the serve plan — the committed postings already carry
    // tf/dl, so the corpus must not appear at all (the only split() left
    // is the 8-literal-row query-side explode)
    assert(!plan.contains("documents"),
      s"serve plan re-reads the corpus:\n${plan.take(2000)}")
    // maintenance wrote exactly the odd half's postings
    val odds = graft.Tables.t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 1)
    val oddPostings = PipelineQueries.bm25Postings(odds).count()
    assert(trace.count("maint_rows") == oddPostings,
      s"maintenance rows ${trace.count("maint_rows")} != " +
        s"increment postings $oddPostings")
    // r12: the serve SCAN is layout-pruned — the probes' literal terms
    // hash into a strict subset of the 16 tkey buckets, so the scan must
    // plan strictly fewer files than the index holds
    val (planned, total) =
      (trace.count("serve_files_planned"), trace.count("files_total"))
    assert(planned > 0 && planned < total,
      s"serve scan not bucket-pruned: planned $planned of $total files")
  }

  test("D2i term-sorted layout: the serve skips files WITHIN matched tkey " +
      "buckets via footer min/max on the thash-sorted column") {
    import spark.implicits._
    // a corpus whose postings fan every tkey bucket across MANY files at
    // rowsPerFile=64 (filler vocabulary of ~499 terms), with the fixed
    // probe terms planted on every 3rd doc so the serve returns rows.
    // Bucket pruning alone can never plan below the matched buckets' file
    // count; only footer min/max skipping on the thash-sorted files can —
    // so planned < bucketFiles is the within-bucket-skip invariant.
    val probeVocab = PipelineQueries.Bm25Queries
      .flatMap(_._2.split(" ")).distinct
    val docs = (0L until 200L).map { i =>
      val filler = (0 until 25).map(j => s"w${(i * 41 + j * 7) % 499}")
      val probes =
        if (i % 3 == 0) Seq(probeVocab((i % probeVocab.size).toInt)) else Nil
      (i, (filler ++ probes).mkString(" "))
    }.toDF("doc_id", "text")
    val (res, trace) = Trace.capture(LakeQueries.bm25IndexRun(spark,
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      rowsPerFile = 64L))
    assert(res.count() > 0, "serve must return ranked rows")
    val (planned, total) =
      (trace.count("serve_files_planned"), trace.count("files_total"))
    val bucketFiles = trace.count("serve_bucket_files")
    assert(bucketFiles <= total)
    assert(bucketFiles > PipelineQueries.bm25QueryTkeys.size * 2,
      s"corpus too small to exercise the skip: $bucketFiles files across " +
        s"${PipelineQueries.bm25QueryTkeys.size} matched buckets")
    // the bucket-aware predicate tests only ~1-2 hashes against each
    // bucket's ~10 files, so the skip must be STRONG, not marginal (the
    // flat two-IN form passed a `planned < bucketFiles` assertion while
    // planning 94% of the files — this pins the fix)
    assert(planned > 0 && planned * 2 < bucketFiles,
      s"within-bucket skip too weak: planned $planned of $bucketFiles " +
        s"files in matched buckets ($total total)")
  }

  test("D2i fragmented index re-clusters under DEFAULT compaction: the " +
      "declared write.sort-order restores the within-bucket skip and the " +
      "served rows are unchanged") {
    import graft.lake._
    import spark.implicits._
    val P = PipelineQueries
    val loc = s"${System.getProperty("java.io.tmpdir")}/graft-idxsort-${java.util.UUID.randomUUID()}"
    val probeVocab = P.Bm25Queries.flatMap(_._2.split(" ")).distinct
    val docs = (0L until 200L).map { i =>
      val filler = (0 until 25).map(j => s"w${(i * 41 + j * 7) % 499}")
      val probes =
        if (i % 3 == 0) Seq(probeVocab((i % probeVocab.size).toInt)) else Nil
      (i, (filler ++ probes).mkString(" "))
    }.toDF("doc_id", "text")
    val index = LakeTable.create(loc, P.Bm25IndexDdl, TruncateSpec("tkey", 1L))
    index.setProperty("write.sort-order", "thash")
    def serveRows(): (Seq[(Long, Long, Long)], Int, Int) = {
      val idxT = LakeTable.load(loc)
      val rows = idxT.toDF(spark)
        .filter(P.bm25LayoutPredicate)
        .select("thash", "doc_id", "tf")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      val planned = graft.lake.dsv2.LakeScanMetrics.lastPlannedByLocation
        .getOrElse(loc, -1)
      val bucketFiles = idxT.files()
        .count(f => P.bm25QueryTkeys.contains(f.partitionValue))
      (rows, planned, bucketFiles)
    }
    try {
      // 10 ingest waves, one commit each: every wave's per-bucket file is
      // internally sorted but spans ~the whole bucket hash range, so the
      // ranges OVERLAP across waves and the thash skip degrades toward
      // "plan every file in the matched buckets" — exactly the debt a
      // streaming maintainer accrues
      for (w <- 0L until 10L)
        index.append(LakeWriter.writeDataFiles(
          P.bm25Keyed(P.bm25Postings(
            docs.filter(pmod(col("doc_id"), lit(10L)) === w))),
          index, sortBy = Seq("thash")))
      val (rowsFrag, plannedFrag, bucketFrag) = serveRows()
      assert(rowsFrag.nonEmpty)
      assert(plannedFrag > bucketFrag / 2,
        s"fragmented serve should plan most bucket files: $plannedFrag " +
          s"of $bucketFrag")
      // DEFAULT compaction — no explicit sortBy: it must pick up the
      // declared write.sort-order and re-split at the record cap, or the
      // maintenance would silently destroy the serve's pruning contract
      assert(index.compactFiles(spark, maxRecordsPerFile = 64L) > 0)
      val (rowsComp, plannedComp, bucketComp) = serveRows()
      assert(rowsComp == rowsFrag, "compaction changed served rows")
      assert(plannedComp < plannedFrag,
        s"compaction did not restore pruning: $plannedFrag -> $plannedComp")
      assert(plannedComp < bucketComp,
        s"no within-bucket skip after compaction: planned $plannedComp " +
          s"of $bucketComp bucket files")
    } finally LakeTable.drop(loc)
  }

  test("D2h indexed hybrid: both arms serve from COMMITTED index tables — " +
      "no corpus read, no cross join — and per-query output is a full " +
      "top-K ranking") {
    val (got, trace) = Trace.capture(
      LakeQueries.d02_hybrid_indexed(spark, dir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))))
    val (plan, locB, locI) = (trace.note("plan"),
      trace.note("bm25_location"), trace.note("ann_location"))
    assert(plan.contains(locB),
      s"lexical arm does not scan the committed BM25 index $locB")
    assert(plan.contains(locI),
      s"semantic arm does not scan the committed ANN index $locI")
    assert(!plan.contains("documents"),
      s"fused plan re-reads the corpus:\n${plan.take(2000)}")
    assert(!plan.contains("Cross"),
      s"fused plan contains a cross join:\n${plan.take(2000)}")
    // every query fused to a dense 1..K ranking
    val K = PipelineQueries.Bm25TopK
    PipelineQueries.Bm25Queries.map(_._1).foreach { q =>
      assert(got.filter(_._1 == q).map(_._2).sorted.toSeq == (1 to K),
        s"query $q ranking not dense 1..$K")
    }
    // the lexical serve inside the hybrid is bucket-pruned like the
    // standalone d02_bm25_index serve
    val rrfs = got.map(_._4)
    assert(rrfs.forall(v => v > 0.0 && v <= 2.0 / (PipelineQueries.RrfK + 1)),
      "RRF scores out of the two-arm reciprocal range")
  }

  test("D2i driver-side tkeyOf replicates the engine's xxhash64 layout key " +
      "for every probe term — the premise that makes serve-scan pruning " +
      "safe — and the fixed probes cover a strict subset of buckets") {
    import spark.implicits._
    val terms = (PipelineQueries.Bm25Queries ++ PipelineQueries.PhraseQueries)
      .flatMap(_._2.split(" ")).distinct
    val engine = terms.toDF("term")
      .select(col("term"), pmod(xxhash64(col("term")), lit(16L)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach { t =>
      assert(PipelineQueries.tkeyOf(t) == engine(t),
        s"driver tkey ${PipelineQueries.tkeyOf(t)} != engine ${engine(t)} " +
          s"for '$t' — pruning would silently drop this term's postings")
    }
    assert(PipelineQueries.bm25QueryTkeys.length < 16,
      s"bm25 probes cover all 16 buckets — prune assertions are vacuous")
    assert(PipelineQueries.phraseQueryTkeys.length < 16,
      s"phrase probes cover all 16 buckets — prune assertions are vacuous")
  }

  test("D1i substring gate prunes the committed index scan to the " +
      "increment's skey buckets and still flags the copied span") {
    import spark.implicits._
    val L = PipelineQueries.SubstrShingle
    // corpus long enough that its shingles populate every bucket; the
    // increment is ONE shingle-width-plus-4 copy of a corpus span, so its
    // ≤5 shingles touch at most 5 of the 16 skey buckets
    val base = (0 until 40).map(i => s"corpus sentence $i keeps going on")
      .mkString(" ")
    val corpus = Seq((2L, base), (4L, base.reverse)).toDF("doc_id", "text")
    // first shingle copies the corpus (gate must flag it); the trailing
    // "!!!!" makes the other 4 shingles novel so maintenance has keys to
    // append — still ≤5 skey buckets total
    val inc = Seq((5L, base.substring(0, L) + "!!!!")).toDF("doc_id", "text")
    val (spans, trace) =
      Trace.capture(LakeQueries.substrIndexRun(spark, corpus, inc).collect())
    assert(spans.nonEmpty, "increment copies the corpus — gate must flag it")
    val (planned, total) =
      (trace.count("serve_files_planned"), trace.count("files_total"))
    assert(planned > 0 && planned <= 5 && planned < total,
      s"gate scan not bucket-pruned: planned $planned of $total files")
  }

  test("D4f degenerate-cuts guard: constant proxy scores still slice " +
      "near-uniformly — no (lang, slice) window task can hold the corpus") {
    import spark.implicits._
    val n = 4096
    val slices = 32
    // a corpus whose quality proxy is CONSTANT — every score quantile
    // collapses to one value, the exact hazard r12 named for the
    // ~30-word testdata vocabulary
    val proxy = (0 until n).map(i => (i.toLong, 1.0)).toDF("doc_id", "score")
    val cuts = PipelineQueries.scoreCuts(proxy, slices)
    assert(cuts.size >= slices / 2,
      s"guard did not expand the collapsed cut set: ${cuts.size} cuts")
    val scored = (0 until n).map(i => ("en", i.toLong, 1L, 1.0))
      .toDF("lang", "doc_id", "n_tok", "score")
    val widths = PipelineQueries.applyScoreSlices(scored, cuts)
      .groupBy("slice").count().collect().map(_.getLong(1))
    assert(widths.max <= 2L * n / slices,
      s"degenerate slice width ${widths.max} exceeds 2x the uniform " +
        s"share (${2L * n / slices}) over ${widths.length} slices")
    // the two-phase invariant the guard must preserve: slice order ==
    // pack order (score DESC, doc_id ASC), so per-slice cumsums + slice
    // offsets reproduce the global prefix sum. With constant scores,
    // pack order is doc_id order: every row's slice must be >= the
    // previous doc_id's slice.
    val byDoc = PipelineQueries.applyScoreSlices(scored, cuts)
      .select("doc_id", "slice").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sortBy(_._1).map(_._2)
    assert(byDoc.zip(byDoc.tail).forall { case (a, b) => a <= b },
      "slice assignment is not monotone in pack order")
  }
}
