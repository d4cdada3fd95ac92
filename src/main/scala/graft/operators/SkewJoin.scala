package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit key-salting for skewed equi-joins (SURVEY D6 / §2 scale
  * posture).
  *
  * AQE's skew-join handling splits oversized sort-merge partitions at
  * runtime, but it cannot help when one logical key's hash partition
  * exceeds what a single task can hold (the classic hot-key join). Salting
  * fixes that structurally: the skewed (large) side scatters each key into
  * `buckets` sub-keys; the build (small-per-key) side replicates each row
  * across all sub-keys; the join key becomes (key, salt) — the hot key's
  * rows now spread over `buckets` tasks. Result set is identical to the
  * unsalted join.
  */
object SkewJoin {

  /** Inner equi-join `large.key == small.key` with the large side salted.
    *
    * @param buckets number of salt buckets a hot key is spread across
    */
  def saltedInnerJoin(large: DataFrame, small: DataFrame, key: String,
      buckets: Int = 16): DataFrame = {
    require(buckets > 0)
    // scatter: deterministic salt derived from the row, not the key (a
    // key-derived salt would put the whole hot key in one bucket again)
    val salted = large.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(buckets)).cast("int"))
    // replicate: each small-side row joins every salt bucket
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated,
        salted(key) === replicated(key) && salted("__salt") === replicated("__salt"))
      .drop("__salt")
      .drop(replicated(key))
  }

  /** Same shape for aggregation: two-phase (salted partial → final) count
    * over a skewed key — the map-side-combine pattern made explicit for
    * aggregates whose partial state is large (e.g. collect-like).
    */
  def saltedCount(df: DataFrame, key: String, buckets: Int = 16): DataFrame =
    df.withColumn("__salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(buckets)).cast("int"))
      .groupBy(col(key), col("__salt")).agg(count(lit(1)).as("__partial"))
      .groupBy(col(key)).agg(sum("__partial").as("n"))
}
