package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors}

import graft.queries.LakeQueries

class TraceSpec extends SparkSpec {

  test("outside a capture no value is evaluated and nothing is recorded") {
    var evaluated = 0
    Trace.span("s", { evaluated += 1; 1.0 })
    Trace.count("c", { evaluated += 1; 1L })
    Trace.note("n", { evaluated += 1; "x" })
    assert(Trace.phase("p")(41 + 1) == 42)
    assert(evaluated == 0, "a by-name value ran with no capture open")
    // and nothing leaked into the next capture
    val (_, rec) = Trace.capture(())
    assert(rec == TraceRecord(Nil, Nil, Nil))
  }

  test("a record keeps every kind in recording order, repeats as a series") {
    val (a, rec) = Trace.capture {
      Trace.count("landed", 0L)
      Trace.span("build_s", 1.5)
      Trace.count("landed", 7L)
      Trace.note("plan", "p1")
      val r = Trace.phase("serve_s")("done")
      Trace.count("landed", 9L)
      r
    }
    assert(a == "done")
    assert(rec.spans.map(_._1) == Seq("build_s", "serve_s"))
    assert(rec.span("build_s") == 1.5 && rec.span("serve_s") >= 0.0)
    assert(rec.series("landed") == Seq(0L, 7L, 9L))
    assert(rec.count("landed") == 9L)
    assert(rec.note("plan") == "p1")
    intercept[NoSuchElementException](rec.count("absent"))
  }

  test("a nested capture gets its own recorder and restores the outer one") {
    val (inner, outer) = Trace.capture {
      Trace.count("a", 1L)
      val (_, in) = Trace.capture(Trace.count("b", 2L))
      // a capture that throws restores the outer recorder too
      def boom(): Unit = throw new IllegalStateException("boom")
      intercept[IllegalStateException](Trace.capture(boom()))
      Trace.count("a", 3L)
      in
    }
    assert(inner.counts == Seq("b" -> 2L))
    assert(outer.counts == Seq("a" -> 1L, "a" -> 3L))
  }

  test("two d02_bm25_index lifecycles on two threads in one session each " +
      "get a complete record of their own run") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import spark.implicits._
    // bm25IndexRun is the d02_bm25_index lifecycle; a generated corpus
    // (the probe terms planted on every 3rd doc) spreads every tkey bucket
    // over several files, so each serve prunes
    val probes = graft.queries.PipelineQueries.Bm25Queries
      .flatMap(_._2.split(" ")).distinct
    val docs = (0L until 200L).map { i =>
      val filler = (0 until 25).map(j => s"w${(i * 41 + j * 7) % 499}")
      (i, (filler ++ (if (i % 3 == 0) Seq(probes((i % probes.size).toInt))
        else Nil)).mkString(" "))
    }.toDF("doc_id", "text")
    val evens = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    try {
      val runs = (1 to 2).map(_ => pool.submit(new Callable[(Seq[String], TraceRecord)] {
        def call(): (Seq[String], TraceRecord) = {
          start.await()
          Trace.capture(LakeQueries.bm25IndexRun(spark, evens, odds, 64L)
            .collect().map(_.toString).toSeq)
        }
      }))
      start.countDown()
      val Seq((rowsA, a), (rowsB, b)) = runs.map(_.get())
      assert(rowsA.nonEmpty && rowsA == rowsB)
      val (locA, locB) = (a.note("index_location"), b.note("index_location"))
      assert(locA != locB, "both records name one scratch index")
      for ((rec, own, other) <- Seq((a, locA, locB), (b, locB, locA))) {
        val plan = rec.note("plan")
        assert(plan.contains(own), s"serve plan does not scan $own")
        assert(!plan.contains(other), s"serve plan of $own scans $other")
        assert(rec.count("maint_rows") > 0)
        val planned = rec.count("serve_files_planned")
        assert(planned > 0 && planned < rec.count("files_total"),
          s"serve of $own: planned $planned of ${rec.count("files_total")}")
        assert(rec.count("serve_bucket_files") <= rec.count("files_total"))
        assert(rec.counts.map(_._1) == Seq("maint_rows",
          "serve_files_planned", "serve_bucket_files", "files_total"))
      }
      assert(a.count("maint_rows") == b.count("maint_rows"))
    } finally pool.shutdown()
  }
}
