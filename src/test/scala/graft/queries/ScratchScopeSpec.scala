package graft.queries

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.{SessionConf, SparkSpec, Trace}
import graft.lake.{LakeWriter, TruncateSpec}

/** The scratch scope: what a scope creates is gone when it exits, and
  * nothing it started can write after that; session settings scoped on
  * the way are restored; a branch's trace joins its caller's.
  */
class ScratchScopeSpec extends SparkSpec {
  private val TsKey = "spark.sql.parquet.outputTimestampType"

  private def ids(n: Long) = spark.range(n).toDF("id")

  test("a body that throws leaves none of its tables or directories, and " +
      "its own exception surfaces with a branch failure suppressed") {
    var loc, dir: String = null
    val boom = new IllegalStateException("boom")
    val branchFailure = new RuntimeException("branch failed")
    val e = intercept[IllegalStateException](Scratch.scoped(spark) { sc =>
      val t = sc.table("scopespec", "id BIGINT", TruncateSpec("id", 10L))
      loc = t.location
      t.append(LakeWriter.writeDataFiles(ids(20), t))
      dir = sc.dir("scopespec-ckpt")
      ids(3).write.parquet(s"$dir/x")
      sc.overlap[Unit](throw branchFailure)
      throw boom
    })
    assert(e eq boom)
    assert(e.getSuppressed.toSeq == Seq(branchFailure))
    assert(new File(loc).getName.startsWith("graft-scopespec-"))
    assert(!new File(loc).exists, s"table $loc left behind")
    assert(!new File(dir).exists, s"directory $dir left behind")
  }

  test("when one overlap branch fails, its sibling's commit never lands " +
      "after the drop") {
    val started = new CountDownLatch(1)
    val finished = new CountDownLatch(1)
    var loc: String = null
    val e = intercept[IllegalStateException](Scratch.scoped(spark) { sc =>
      val t = sc.table("scopespec-race", "id BIGINT", TruncateSpec("id", 10L))
      loc = t.location
      sc.overlap {
        try {
          started.await()
          // still building when its sibling fails and the body exits
          Thread.sleep(1500)
          t.append(LakeWriter.writeDataFiles(ids(10), t))
        } finally finished.countDown()
      }
      val failing = sc.overlap[Unit] {
        started.countDown()
        throw new IllegalStateException("index build failed")
      }
      failing.join()
    })
    assert(e.getMessage == "index build failed")
    assert(!new File(loc).exists, "the table outlived its scope")
    // the branch pool has drained: nothing wrote into the table after it
    assert(finished.await(60, TimeUnit.SECONDS))
    assert(!new File(loc).exists, "a branch wrote into the dropped table")
  }

  test("outputTimestampType is unchanged after concurrent writers, and a " +
      "scope asking another value for a scoped key fails fast") {
    val before = spark.conf.getOption(TsKey)
    Scratch.scoped(spark) { sc =>
      val t = sc.table("scopespec-ts", "id BIGINT", TruncateSpec("id", 10L))
      val a = sc.overlap(LakeWriter.writeDataFiles(ids(50), t))
      val b = sc.overlap(LakeWriter.writeDataFiles(ids(50), t))
      t.append(a.join() ++ b.join())
      assert(t.refresh().toDF(spark).count() == 100)
    }
    assert(spark.conf.getOption(TsKey) == before)
    SessionConf.withConf(spark, TsKey -> "TIMESTAMP_MICROS") {
      intercept[IllegalStateException](
        SessionConf.withConf(spark, TsKey -> "INT96")(()))
      SessionConf.withConf(spark, TsKey -> "TIMESTAMP_MICROS")(
        assert(spark.conf.get(TsKey) == "TIMESTAMP_MICROS"))
      assert(spark.conf.get(TsKey) == "TIMESTAMP_MICROS")
    }
    assert(spark.conf.getOption(TsKey) == before)
  }

  test("a span recorded inside a branch appears in the caller's record; " +
      "outside a capture a branch evaluates nothing for the trace") {
    val (tags, rec) = Trace.capture(Scratch.scoped(spark) { sc =>
      val b = sc.overlap {
        Trace.phase("branch_s")(ids(10).count())
        spark.sparkContext.getJobTags()
      }
      Trace.count("caller", 1L)
      b.join()
    })
    assert(rec.span("branch_s") >= 0.0)
    assert(rec.count("caller") == 1L)
    assert(tags.exists(_.startsWith("graft-overlap-")),
      s"branch ran without its job tag: $tags")
    assert(!spark.sparkContext.getJobTags().exists(_.startsWith("graft-overlap-")))
    val evaluated = new AtomicBoolean(false)
    Scratch.scoped(spark)(_.overlap(
      Trace.note("n", { evaluated.set(true); "x" })).join())
    assert(!evaluated.get, "a branch evaluated a trace value with no capture open")
  }
}
