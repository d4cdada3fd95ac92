package graft.lake.dsv2

import graft.{SessionConf, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Storage-partitioned joins: two laketables sharing the truncate spec are
  * co-partitioned at the source, so a join on the partition column runs
  * with NO shuffle on either side. At 100 TB that turns the dominant cost
  * of a lake-lake join (re-shuffling both inputs) into a metadata zip.
  */
class SpjSpec extends SparkSpec {
  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width

  private lazy val warehouse: String = lakeCatalog("spj")

  private def mkTable(name: String, buckets: Seq[Int], rowsPer: Int): Unit = {
    spark.sql(
      s"""CREATE TABLE spj.ns.$name (
         |  message_id BIGINT, data STRING, timestamp TIMESTAMP,
         |  timeperiod_loadedBy BIGINT, message_body BINARY)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    buckets.foreach { b =>
      spark.sql(
        s"""INSERT INTO spj.ns.$name SELECT
           |  id, md5(cast(id AS STRING)), timestamp_micros(${bucket(b)} + id),
           |  ${bucket(b)}L, cast('x' AS BINARY)
           |FROM range(0, $rowsPer)""".stripMargin)
    }
  }

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }.size

  private def withSpjConfs(body: => Unit): Unit = SessionConf.withConf(spark,
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")(body)

  test("lake-lake join on the partition column runs with zero shuffles") {
    warehouse
    mkTable("a", buckets = Seq(0, 1, 2), rowsPer = 40)
    mkTable("b", buckets = Seq(0, 1, 2), rowsPer = 20)
    withSpjConfs {
      val joined = spark.sql(
        """SELECT a.timeperiod_loadedBy AS bucket, count(*) AS pairs
          |FROM spj.ns.a a JOIN spj.ns.b b
          |  ON a.timeperiod_loadedBy = b.timeperiod_loadedBy
          |GROUP BY 1 ORDER BY 1""".stripMargin)
      val rows = joined.collect()
      assert(rows.length == 3)
      assert(rows.forall(_.getLong(1) == 40L * 20))
      // the join itself is shuffle-free: a sort-merge join directly over
      // the two key-grouped scans. (The final ORDER BY adds its own
      // exchange above the aggregation; assert no exchange BELOW the join.)
      val plan = joined.queryExecution.executedPlan
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.isDefined, s"expected sort-merge join:\n$plan")
      val below = smj.get.collect { case s: ShuffleExchangeExec => s }
      assert(below.isEmpty, s"expected shuffle-free join:\n$plan")
    }
  }

  test("SPJ zips mismatched bucket sets via pushed partition values") {
    warehouse
    mkTable("c", buckets = Seq(0, 1, 2, 3), rowsPer = 10)
    mkTable("d", buckets = Seq(1, 3), rowsPer = 5)
    withSpjConfs {
      val joined = spark.sql(
        """SELECT c.timeperiod_loadedBy AS bucket, count(*) AS pairs
          |FROM spj.ns.c c JOIN spj.ns.d d
          |  ON c.timeperiod_loadedBy = d.timeperiod_loadedBy
          |GROUP BY 1 ORDER BY 1""".stripMargin)
      val rows = joined.collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(bucket(1), bucket(3)))
      assert(rows.forall(_.getLong(1) == 10L * 5))
      val smj = joined.queryExecution.executedPlan
        .collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.isDefined)
      assert(smj.get.collect { case s: ShuffleExchangeExec => s }.isEmpty)
    }
  }

  test("join keys that SUPERSET the partition key stay shuffle-free") {
    // the realistic fact-fact shape: equi-join on (partition col, row id).
    // The partition transform's source column is among the join keys, so
    // each side's key-grouped scan already satisfies the distribution —
    // within-bucket matching happens in the local sort, not an exchange.
    // Needs requireAllClusterKeysForCoPartition=false: by default Spark
    // only accepts co-partitioning that covers EVERY join key; the
    // partition-key prefix is sufficient here (both sides group by the
    // same truncate buckets, extra keys only refine the local sort).
    warehouse
    mkTable("h", buckets = Seq(0, 1, 2), rowsPer = 50)
    mkTable("i", buckets = Seq(0, 1, 2), rowsPer = 50)
    SessionConf.withConf(spark,
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false")(withSpjConfs {
      val joined = spark.sql(
        """SELECT count(*) AS pairs, sum(h.message_id) AS s
          |FROM spj.ns.h h JOIN spj.ns.i i
          |  ON h.timeperiod_loadedBy = i.timeperiod_loadedBy
          | AND h.message_id = i.message_id""".stripMargin)
      val row = joined.head
      assert(row.getLong(0) == 150L, s"expected 150 pairs, got ${row.getLong(0)}")
      val plan = joined.queryExecution.executedPlan
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.isDefined, s"expected sort-merge join:\n$plan")
      assert(smj.get.collect { case s: ShuffleExchangeExec => s }.isEmpty,
        s"expected shuffle-free superset-key join:\n$plan")
    })
  }

  test("mixed spec widths fall back to a shuffled join, never a wrong zip") {
    // partition evolution mid-data: one side carries files written under
    // TWO truncate widths. The scan must report UnknownPartitioning (a
    // key-grouped claim would be true only under one width) so the join
    // pays a shuffle instead of zipping buckets that no longer line up.
    warehouse
    mkTable("j", buckets = Seq(0, 1), rowsPer = 20)
    mkTable("k2", buckets = Seq(0, 1), rowsPer = 20)
    // evolve j's width and land a file under the NEW spec
    spark.sql(s"CALL spj.system.set_partition_width('ns.j', ${Width / 2})")
    spark.sql(
      s"""INSERT INTO spj.ns.j SELECT
         |  id + 1000, md5(cast(id AS STRING)), timestamp_micros(${bucket(2)} + id),
         |  ${bucket(2)}L, cast('x' AS BINARY)
         |FROM range(0, 10)""".stripMargin)
    withSpjConfs {
      val joined = spark.sql(
        """SELECT count(*) AS pairs
          |FROM spj.ns.j j JOIN spj.ns.k2 k
          |  ON j.timeperiod_loadedBy = k.timeperiod_loadedBy""".stripMargin)
      // correctness first: buckets 0 and 1 match (20×20 each); the new
      // bucket-2 rows have no partner
      assert(joined.head.getLong(0) == 2L * 20 * 20)
      // and the plan did NOT claim co-partitioning: the join sits above
      // at least one exchange
      val plan = joined.queryExecution.executedPlan
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.isDefined, s"expected sort-merge join:\n$plan")
      assert(smj.get.collect { case s: ShuffleExchangeExec => s }.nonEmpty,
        s"mixed-width side must not zip as co-partitioned:\n$plan")
    }
  }

  test("without the bucketing conf the same join still answers correctly") {
    warehouse
    mkTable("e", buckets = Seq(0, 1), rowsPer = 7)
    mkTable("f", buckets = Seq(0, 1), rowsPer = 3)
    val joined = spark.sql(
      """SELECT count(*) AS pairs
        |FROM spj.ns.e e JOIN spj.ns.f f
        |  ON e.timeperiod_loadedBy = f.timeperiod_loadedBy""".stripMargin)
    assert(joined.head.getLong(0) == 2L * 7 * 3)
  }

  test("partition-aligned GROUP BY skips its shuffle under key grouping") {
    warehouse
    mkTable("g", buckets = Seq(0, 1, 2), rowsPer = 12)
    withSpjConfs {
      val agg = spark.sql(
        """SELECT timeperiod_loadedBy AS bucket, sum(message_id) AS s
          |FROM spj.ns.g GROUP BY 1""".stripMargin)
      val rows = agg.collect()
      assert(rows.length == 3 && rows.forall(_.getLong(1) == 66))
      assert(shuffles(agg) == 0,
        s"expected shuffle-free aggregation:\n${agg.queryExecution.executedPlan}")
    }
  }
}
