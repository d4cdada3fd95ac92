package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salted-join equivalence + distribution, and AQE's runtime skew
  * handling staying enabled (the two layers of the skew story).
  */
class SkewJoinSpec extends SparkSpec {

  private def skewed = {
    // 90% of rows share key 0 — the classic hot key
    spark.range(10000)
      .select((when(pmod(col("id"), lit(10)) < 9, 0L).otherwise(col("id")))
        .as("k"), col("id").as("v"))
  }

  private def dim = {
    spark.range(100).select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
  }

  test("salted inner join returns exactly the plain join's result") {
    val plain = skewed.join(dim, "k")
      .agg(count(lit(1)).as("n"), sum("v").as("s")).head
    val salted = SkewJoin.saltedInnerJoin(skewed, dim, "k", buckets = 8)
      .agg(count(lit(1)).as("n"), sum("v").as("s")).head
    assert(salted.getLong(0) == plain.getLong(0))
    assert(salted.getLong(1) == plain.getLong(1))
  }

  test("salting spreads the hot key across buckets") {
    val spread = skewed
      .withColumn("__salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(8)).cast("int"))
      .filter(col("k") === 0)
      .select(countDistinct("__salt")).head.getLong(0)
    assert(spread == 8, s"hot key landed in only $spread buckets")
  }

  test("salted two-phase count equals plain groupBy count") {
    val plain = skewed.groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val salted = SkewJoin.saltedCount(skewed, "k", 8)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(salted == plain)
  }

  test("AQE skew-join handling is on in the bench/verify configuration") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }
}
