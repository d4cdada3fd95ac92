package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. Everything a workload feeds the program is
  * built here during set-up; the same seed gives the same inputs, and the
  * input sizes do not depend on the seed.
  *
  * Events follow the program's table schema (`LakeWriter.EventSchemaDdl`):
  * batch `b` holds message ids `[b * rows, (b + 1) * rows)`, and every row
  * of a batch falls in one 5-minute partition bucket.
  */
object Gen {
  /** 2024-01-01T00:00Z, aligned to the 5-minute bucket width. */
  val BaseMicros = 1704067200000000L
  val WidthMicros: Long = graft.lake.LakeWriter.EventSpec.widthMicros

  def bucket(index: Long): Long = BaseMicros + index * WidthMicros

  def rng(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private val HexDigits = "0123456789abcdef".getBytes("US-ASCII")

  private def hex(r: java.util.SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) { b(i) = HexDigits(r.nextInt(16)); i += 1 }
    b
  }

  private val TemplateSchema = StructType(Seq(
    StructField("j", LongType, nullable = false),
    StructField("data", StringType),
    StructField("body", BinaryType)))

  /** Uncompressed bytes of one event row: the two longs, the timestamp,
    * the data string and the body.
    */
  def rowBytes(dataChars: Int, bodyBytes: Int): Long = 8L * 3 + dataChars + bodyBytes

  /** Ingest input: `count` distinct pre-built row sets of `rows` events
    * each (local relations, so a batch costs no generation at write time).
    * Batch `b` uses set `b % count` with its own ids and bucket, see
    * [[batch]].
    */
  final class EventBatches(spark: SparkSession, seed: Long, count: Int,
      val rows: Int, val dataChars: Int, val bodyBytes: Int,
      val batchesPerBucket: Int) {
    private val templates: IndexedSeq[DataFrame] = (0 until count).map { t =>
      val r = rng(seed, 1000L + t)
      val rs = new java.util.ArrayList[Row](rows)
      var j = 0
      while (j < rows) {
        rs.add(Row(j.toLong, new String(hex(r, dataChars), "US-ASCII"),
          hex(r, bodyBytes)))
        j += 1
      }
      spark.createDataFrame(rs, TemplateSchema)
    }

    def bucketOf(b: Long): Long = bucket(b / batchesPerBucket)
    def inputBytes(batches: Long): Long = batches * rows * rowBytes(dataChars, bodyBytes)

    def batch(b: Long): DataFrame = {
      val bk = bucketOf(b)
      templates((b % templates.size).toInt).select(
        (col("j") + lit(b * rows)).as("message_id"),
        col("data"),
        timestamp_micros(lit(bk) + col("j")).as("timestamp"),
        lit(bk).as("timeperiod_loadedBy"),
        col("body").as("message_body"))
    }
  }

  /** The deep-history table's rows: `slices * rows` events, slice `s`
    * holding ids `[s * rows, (s + 1) * rows)` in bucket `s`. Built as one
    * Spark job, so the table's files are written in one pass.
    */
  def sliceRows(spark: SparkSession, seed: Long, slices: Int, rows: Int,
      dataChars: Int, bodyBytes: Int): DataFrame = {
    val salt = lit(s"$seed-")
    spark.range(0L, slices.toLong * rows, 1L, 4).select(
      col("id").as("message_id"),
      substring(sha2(concat(salt, col("id").cast("string")), 256), 1, dataChars)
        .as("data"),
      timestamp_micros(lit(BaseMicros) + (col("id") / rows).cast("long") *
        lit(WidthMicros) + col("id") % rows).as("timestamp"),
      (lit(BaseMicros) + (col("id") / rows).cast("long") * lit(WidthMicros))
        .as("timeperiod_loadedBy"),
      unhex(substring(sha2(concat(lit("b"), salt, col("id").cast("string")), 512),
        1, 2 * bodyBytes)).as("message_body"))
  }

  /** The words of the program's `documents` test corpus. */
  val Words: IndexedSeq[String] = ("a agg batch big column customer data fast filter " +
    "group hash join key line merge order part query row scan slow small sort " +
    "spark stream table the value vector window").split(" ").toIndexedSeq

  /** A `documents` table shaped like the program's test corpus: `docs`
    * documents of 10 to 100 words drawn uniformly from [[Words]], with
    * `lang`, `source` and `n_chars`. Returns the table and its text bytes.
    */
  def documents(spark: SparkSession, seed: Long, docs: Int): (DataFrame, Long) = {
    val r = rng(seed, 3000L)
    val langs = Seq("en", "de", "es", "fr", "zh")
    val rows = new java.util.ArrayList[Row](docs)
    var bytes = 0L
    for (d <- 0 until docs) {
      val text = Seq.fill(10 + r.nextInt(91))(Words(r.nextInt(Words.size))).mkString(" ")
      bytes += text.length
      rows.add(Row(d.toLong, text, langs(r.nextInt(langs.size)), s"src${d % 20}",
        text.length.toLong))
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    (spark.createDataFrame(rows, schema), bytes)
  }
}
