package graft.queries

import graft.{SessionConf, SparkSpec}
import org.apache.spark.sql.functions._

/** Co-located joins via bucketing (SURVEY D6: "co-locate joins via
  * bucketing or pre-partitioning"): two tables bucketed on the join key
  * join with NO exchange on either side — the shuffle is paid once at
  * write time and amortized over every subsequent join.
  */
class BucketedJoinSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle") {
    // bucketed writes go through the V1 path and the session catalog
    try SessionConf.withConf(spark,
        "spark.sql.sources.useV1SourceList" -> "avro,csv,json,kafka,orc,parquet,text",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("va"))
        .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_a")
      spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("vb"))
        .write.mode("overwrite").bucketBy(8, "k").sortBy("k").saveAsTable("bkt_b")
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      assert(j.count() == 1000)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }
}
