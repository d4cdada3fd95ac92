package graft.queries

import graft.{SessionConf, SparkSpec}
import org.apache.spark.sql.functions._

/** Scratch lifecycle: the TTL sweep reclaims this JVM's stale dirs
  * promptly, holds foreign dirs for 24× the TTL (it cannot know when
  * another process last referenced them), and never touches fresh dirs.
  */
class ScratchSpec extends SparkSpec {

  test("persist returns a readable distributed frame and sweeps by ownership") {
    val root = new java.io.File(
      spark.sessionState.conf.warehousePath.stripPrefix("file:"),
      "_graft_scratch")
    SessionConf.withConf(spark, Scratch.TtlKey -> "1") {
      // first persist: learn this JVM's ownership token from the dir name
      val out = Scratch.persist(
        spark.range(100).select(col("id")), "scratchspec")
      assert(out.count() == 100)
      val mine = root.listFiles().filter(_.getName.startsWith("scratchspec"))
      assert(mine.nonEmpty, "scratch dir not created under the warehouse")
      val token = mine.head.getName.split("_")(1)

      // plant: an OWN stale dir, a FOREIGN stale dir (past TTL but inside
      // 24x), and a FOREIGN ancient dir (past 24x TTL)
      def plant(name: String, ageMs: Long): java.io.File = {
        val d = new java.io.File(root, name)
        d.mkdirs()
        d.setLastModified(System.currentTimeMillis() - ageMs)
        d
      }
      val ownStale = plant(s"own_${token}_stale", 5000)
      val foreignStale = plant("foreign_feedbeef_stale", 5000)
      val foreignAncient = plant("foreign_feedbeef_ancient", 30 * 3600 * 1000L)
      val fresh = plant(s"own_${token}_fresh", 0)

      Scratch.persist(spark.range(1).toDF(), "trigger")
      assert(!ownStale.exists(), "own stale dir must be swept at TTL")
      assert(foreignStale.exists(),
        "foreign dir inside 24x TTL must be retained")
      assert(!foreignAncient.exists(),
        "foreign dir past 24x TTL must be reclaimed")
      assert(fresh.exists(), "fresh dir must never be swept")
    }
  }
}
