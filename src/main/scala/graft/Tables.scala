package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers shared by every declared query (SURVEY.md §2).
  *
  * Determinism rules (SURVEY §2 preamble): every query ends with an ORDER BY
  * giving a total order; DOUBLE aggregates are rounded to 4 dp (via a
  * DECIMAL(28,4) hop, emitted as DOUBLE — see dec4) before the driver
  * hashes them; timestamps are compared as
  * epoch microseconds (BIGINT) because the testdata mixes ms/us/ns parquet
  * timestamp encodings that Spark and DuckDB widen differently.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one driver testdata table from `dir` (e.g. /root/testdata/sf0.01).
    *
    * Timestamp encodings vary across driver testdata generations: the
    * current files carry µs `isAdjustedToUTC=false` (which Spark would
    * infer as TIMESTAMP_NTZ), older ones nanosecond INT64 (which Spark 4
    * rejects outright unless read as a long). Normalize BOTH to a µs
    * TimestampType holding the file's raw micros as a UTC instant — the
    * same value DuckDB's `epoch_us(ts)` sees, keeping both engines in one
    * timestamp domain:
    *   - the `inferTimestampNTZ=false` READ OPTION makes naive-µs columns
    *     scan as plain TIMESTAMP at the source (no cast wrapper, so filter
    *     pushdown on e.g. `l_shipdate` survives intact);
    *   - the `nanosAsLong=true` read option + the div-1000 branch covers
    *     legacy ns files (the branch keys on the INFERRED type, so it is
    *     a no-op for µs-encoded data).
    * Both are per-read parquet options, NOT session-conf mutations: a
    * library loader must never silently flip how the shared session reads
    * unrelated parquet (a genuine TIMESTAMP_NTZ table elsewhere in the
    * session would be coerced to instant TIMESTAMP).
    * Session TZ is pinned UTC by every entry point, so the instant
    * interpretation is deterministic.
    */
  // Inferred-schema cache: one footer-inference job per (dir, table) per
  // JVM instead of per t() call. Testdata is immutable within a process
  // (the driver regenerates it only between rounds/JVMs).
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String),
      org.apache.spark.sql.types.StructType]()

  /** Optional access recorder: when set, every t() call reports its table
    * name. Bench's deep-scale tier uses one dry plan-construction pass to
    * learn which tables a selected entry subset actually reads, so the
    * replicated scratch corpus materializes ONLY those — a hand-kept
    * entry→tables map would silently fail an entry the first time a query
    * grew a new input. Not thread-safe by design: only the single-threaded
    * bench driver sets it, and always restores None.
    */
  @volatile private[graft] var accessRecorder: Option[String => Unit] = None

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    accessRecorder.foreach(_(name))
    // The NTZ/nanos flags are consulted by parquet SCHEMA INFERENCE from
    // the session conf only (they are not honored as per-read options),
    // so: infer the schema once inside a set-and-restore window, cache
    // it, and hand every read an EXPLICIT schema. Execution with an
    // explicit schema never consults these confs, so the shared session's
    // parquet behavior is left exactly as we found it — a library loader
    // must not silently flip how unrelated parquet reads infer types.
    val path = s"$dir/$name.parquet"
    // Concurrent unrelated parquet reads during the window still see the
    // flipped inference; the window is one footer read per (dir, table)
    // per JVM, so exposure is bounded and first-use, not per-query.
    val schema = schemaCache.computeIfAbsent((dir, name), { _ =>
      val nanos =
        if (name == "events") Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true")
        else Nil
      SessionConf.withConf(spark, ("spark.sql.parquet.inferTimestampNTZ.enabled"
        -> "false") +: nanos: _*)(spark.read.parquet(path).schema)
    })
    val raw = spark.read.schema(schema).parquet(path)
    if (name == "events" &&
        raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Round to 4 dp via DECIMAL(28,4), emit as DOUBLE — the oracle hashing
    * convention. The decimal hop makes both engines agree on the rounded
    * value exactly; the final double cast serializes identically on both
    * sides regardless of trailing zeros, which fixed-scale decimals don't.
    *
    * Caveat: decimal→nearest-double is bit-identical across engines only
    * while the 10^4-scaled unscaled value stays below 2^53 (|x| ≲ 9e11).
    * Beyond that, DuckDB's int128→double→divide path can double-round and
    * land 1 ULP away from Spark's correctly-rounded BigDecimal.doubleValue.
    * Driver SFs keep every rounded aggregate far below the bound; if a new
    * oracle query can SUM past ~9e11, divide or bucket the magnitude first.
    */
  def dec4(c: Column): Column =
    round(c, 4).cast(DecimalType(28, 4)).cast("double")

  /** Timestamp column → epoch microseconds (matches DuckDB epoch_us). */
  def us(c: Column): Column = unix_micros(c)
}
