package graft.lake.dsv2

import graft.SparkSpec
import graft.lake.LakeTable

/** CTAS / RTAS through the V2 catalog: `CREATE TABLE ... AS SELECT`
  * resolves the partition transform, creates the lake table, and lands the
  * query result through the normal DSv2 write; `REPLACE TABLE ... AS
  * SELECT` re-creates with the (possibly different) new schema. Failure
  * hygiene: a failed CTAS write leaves no table behind (Spark's
  * non-staging fallback drops the half-created table).
  */
class CtasSpec extends SparkSpec {
  private lazy val warehouse: String = lakeCatalog("lakectas")

  private def seedSrc(): Unit = {
    warehouse
    if (!LakeTable.exists(s"$warehouse/ns/src")) {
      spark.sql(
        """CREATE TABLE lakectas.ns.src (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
          |PARTITIONED BY (truncate(100, timeperiod_loadedBy))""".stripMargin)
      spark.sql(
        "INSERT INTO lakectas.ns.src SELECT id, id * 2, id * 10 FROM range(0, 20)")
    }
  }

  test("CTAS creates the table and lands the query result") {
    seedSrc()
    spark.sql(
      """CREATE TABLE lakectas.ns.ctas1
        |PARTITIONED BY (truncate(100, timeperiod_loadedBy))
        |AS SELECT * FROM lakectas.ns.src WHERE message_id < 12""".stripMargin)
    assert(LakeTable.exists(s"$warehouse/ns/ctas1"))
    assert(spark.sql("SELECT count(*), sum(v) FROM lakectas.ns.ctas1")
      .head match { case r => r.getLong(0) == 12 && r.getLong(1) == 132 })
    // partitioned layout: rows landed under the transform's buckets
    // (tp = id*10 → ids 0..9 bucket 0, ids 10,11 bucket 100)
    val t = LakeTable.load(s"$warehouse/ns/ctas1")
    assert(t.files().map(_.partitionValue).distinct.sorted == Seq(0L, 100L))
    spark.sql("DROP TABLE lakectas.ns.ctas1")
  }

  test("RTAS replaces content and schema") {
    seedSrc()
    spark.sql(
      """CREATE TABLE lakectas.ns.rt
        |PARTITIONED BY (truncate(100, timeperiod_loadedBy))
        |AS SELECT * FROM lakectas.ns.src WHERE message_id < 5""".stripMargin)
    spark.sql(
      """REPLACE TABLE lakectas.ns.rt
        |PARTITIONED BY (truncate(100, timeperiod_loadedBy))
        |AS SELECT message_id, CAST(v AS DOUBLE) AS price, timeperiod_loadedBy
        |FROM lakectas.ns.src WHERE message_id >= 5""".stripMargin)
    val out = spark.sql("SELECT message_id, price FROM lakectas.ns.rt ORDER BY message_id")
    assert(out.schema("price").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(out.count() == 15)
    assert(out.head.getLong(0) == 5L)
    spark.sql("DROP TABLE lakectas.ns.rt")
  }

  test("failed CTAS leaves no table behind") {
    seedSrc()
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE lakectas.ns.ctasfail
          |PARTITIONED BY (truncate(100, timeperiod_loadedBy))
          |AS SELECT message_id, v,
          |  CASE WHEN message_id > 10 THEN raise_error('boom')
          |       ELSE CAST(timeperiod_loadedBy AS STRING) END AS x,
          |  timeperiod_loadedBy
          |FROM lakectas.ns.src""".stripMargin)
    }
    assert(!LakeTable.exists(s"$warehouse/ns/ctasfail"))
    assert(!spark.sql("SHOW TABLES IN lakectas.ns").collect()
      .map(_.getString(1)).contains("ctasfail"))
  }
}
