package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.jdk.CollectionConverters._

/** Typed row of the reference's single table schema (SURVEY §1.2: a
  * `Dataset[Event]` is provided for the ingest generator; the query
  * surface stays untyped `DataFrame`).
  */
final case class LakeEvent(
    message_id: Long,
    data: String,
    timestamp: java.sql.Timestamp,
    timeperiod_loadedBy: Long,
    message_body: Array[Byte])

/** Write path: synthetic event generation (A4), partitioned data-file
  * writes (A5–A9), and parquet footer-metrics harvesting (A18).
  */
object LakeWriter {

  /** The reference's single table schema (Constants.java:26-31). */
  val EventSchemaDdl: String =
    "message_id BIGINT NOT NULL, data STRING, timestamp TIMESTAMP, " +
      "timeperiod_loadedBy BIGINT, message_body BINARY"

  /** The reference's partition spec (Constants.java:25,33-35). */
  val EventSpec: TruncateSpec = TruncateSpec("timeperiod_loadedBy", 300000000L)

  /** Synthetic record batch (A4, Writer.java:52-72): sequential message_id,
    * random-UUID data, now() timestamp, batch-constant timeperiod µs, and a
    * ~1.8 KB random binary body (50 concatenated UUIDs — sized to model the
    * 1432 B Kafka average, Writer.java:58-60). `seed >= 0` swaps the random
    * pieces for deterministic md5-derived bytes so tests replay exactly.
    */
  def generateBatch(spark: SparkSession, numRows: Long, batchMicros: Long,
      seed: Long = -1L): DataFrame = {
    val base = spark.range(numRows).toDF("message_id")
    val (dataCol, bodyCol) =
      if (seed < 0)
        (expr("uuid()"),
          expr("cast(concat_ws('', transform(sequence(1, 50), i -> uuid())) as binary)"))
      else
        (expr(s"md5(concat('d', $seed, '-', message_id))"),
          expr(s"cast(concat_ws('', transform(sequence(1, 50), " +
            s"i -> md5(concat('b', $seed, '-', message_id, '-', i)))) as binary)"))
    base.select(
      col("message_id"),
      dataCol.as("data"),
      timestamp_micros(lit(batchMicros) + col("message_id")).as("timestamp"),
      lit(batchMicros).as("timeperiod_loadedBy"),
      bodyCol.as("message_body"))
  }

  /** Typed view of the generator (case-class Encoder, compile-time field
    * checks for callers that transform events in Scala).
    */
  def generateTypedBatch(spark: SparkSession, numRows: Long, batchMicros: Long,
      seed: Long = -1L): org.apache.spark.sql.Dataset[LakeEvent] = {
    import spark.implicits._
    generateBatch(spark, numRows, batchMicros, seed).as[LakeEvent]
  }

  /** Write a DataFrame into the table's data layout (A5–A7): rows land in
    * `data/<col>_trunc=<bucket>/<uuid>.parquet` directories keyed by the
    * truncate transform; returns the files' DataFileMeta, uncommitted.
    * The tasks write through [[dsv2.LakeDataWriter]] straight to the final
    * paths and take stats from their own in-memory footers, the shape of
    * the reference's writers (Writer.java:84-97). `filesPerPartition` > 1
    * emulates the reference's multi-file batches (A9, Writer.java:126-137).
    *
    * `splitBy` (optional) appends caller-computed columns to the write-
    * clustering key, letting ONE bucket's rows spread over several write
    * tasks. Contract: each splitBy column must be a MONOTONE COARSENING of
    * the leading sort key (e.g. `shiftright(thash, 61)` when sorting by
    * thash) — tasks then own disjoint sort-key RANGES within a bucket, so
    * every file still holds a disjoint range and the footer-skip contract
    * is untouched. Why it exists: bucket-count caps write parallelism —
    * a 16-bucket index build can never use more than 16 write tasks no
    * matter the cluster (the d02_phrase_zipf build wrote 4.2 M posting
    * rows through ~13 effective tasks at 32 cores; at 100 TB the same cap
    * binds at ANY core count). Routing by __part alone is unchanged —
    * files land in the same bucket dirs either way.
    */
  def writeDataFiles(df: DataFrame, table: LakeTable,
      filesPerPartition: Int = 1, sortBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      sortExprs: Seq[org.apache.spark.sql.Column] = Nil,
      splitBy: Seq[org.apache.spark.sql.Column] = Nil): Seq[DataFileMeta] = {
    // the files are stamped with the table's CURRENT schema id — rows that
    // arrive under stale (e.g. pre-rename) column names would then resolve
    // to null at read time; fail the write instead of corrupting silently
    val expected = table.schema.fieldNames.toSet
    val got = df.columns.toSet
    require(got == expected,
      s"write columns ${got.mkString(",")} != table schema " +
        s"${expected.mkString(",")} — align names to the current schema")
    val spark = df.sparkSession
    val spec = table.spec
    // a one-bucket local batch (the reference's writer, perfbench's
    // ingest batch) already lands whole in one task: write it there, with
    // no exchange and no sort
    val plain = filesPerPartition <= 1 && sortBy.isEmpty &&
      sortExprs.isEmpty && splitBy.isEmpty
    val (qe, rdd) =
      if (plain && oneBucket(df, spec))
        (df.queryExecution, df.queryExecution.toRdd.coalesce(1))
      else {
        val withPart = df.withColumn("__part",
          col(spec.column) - pmod(col(spec.column), lit(spec.widthMicros)))
        val repartitioned =
          if (filesPerPartition <= 1)
            // EXPLICIT partition count: AQE treats a keyless
            // REPARTITION_BY_COL exchange as coalescible and can fold all
            // populated buckets into ~one task, serializing the per-bucket
            // sort + parquet encode that follows. Routing is still by
            // __part alone, so each bucket lands whole in exactly one task
            // either way — the file count and the per-bucket sort-column
            // disjointness (footer-skip contract) are unchanged; only the
            // write-side parallelism is. (r16: same-JVM A/B against an
            // AQE-coalescible repartition(col) read within noise on three
            // small index writes; the count stays AQE-proof for the
            // expansion-built index writes that need the parallelism.)
            withPart.repartition(
              spark.sessionState.conf.numShufflePartitions,
              (col("__part") +: splitBy): _*)
          else withPart.repartition(filesPerPartition, col("__part"),
            pmod(col("message_id"), lit(filesPerPartition)))
        // bucket first, so each task visits its buckets one after another
        // and holds one open file; then the clustering keys, so the
        // maxRecordsPerFile rolls of a bucket hold DISJOINT sort-column
        // ranges (each file prunes independently via footer stats).
        // sortExprs carries computed keys (e.g. a z-order curve) that must
        // order the rows without being written to the files
        val clustered = repartitioned.sortWithinPartitions(
          (col("__part") +: (sortExprs ++ sortBy.map(col))): _*).drop("__part")
        (clustered.queryExecution, clustered.queryExecution.toRdd)
      }
    val factory = new dsv2.LakeWriterFactory(table.location, df.schema.toDDL,
      spec.column, spec.widthMicros, dsv2.LakeDataWriter.sessionParquetConf(spark),
      dsv2.LakeDataWriter.targetFor(table),
      dsv2.LakeDataWriter.bloomColumnsFor(table), sequentialBuckets = true,
      maxRecordsPerFile = maxRecordsPerFile)
    val written = new Array[Seq[DataFileMeta]](rdd.getNumPartitions)
    try SQLExecution.withNewExecutionId(qe, Some("writeDataFiles")) {
      spark.sparkContext.runJob(rdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => {
          val msg = DataWritingSparkTask.run(factory, ctx, rows, false, Map.empty)
            .writerCommitMessage
          // killed while writing (a sibling task failed the job): the
          // driver drops a killed task's result, so drop its files here
          if (ctx.isInterrupted()) {
            dsv2.LakeWriteCommit.deleteAll(dsv2.LakeWriteCommit.collect(Array(msg)))
            throw new TaskKilledException("write job cancelled")
          }
          msg
        },
        (i: Int, msg: WriterCommitMessage) =>
          written(i) = dsv2.LakeWriteCommit.collect(Array(msg)))
    } catch { case e: Throwable =>
      // a failed or killed task removed its own files; the finished tasks'
      // files are referenced by no manifest yet — remove them too
      dsv2.LakeWriteCommit.deleteAll(written.toSeq.filter(_ != null).flatten)
      throw e
    }
    // stamp the schema AND partition-spec vintages the rows were WRITTEN
    // under (the table's current defs at write time): a rename or width
    // change committed between this write and its commit still resolves
    // these files' physical names / bucket widths correctly
    dsv2.LakeWriteCommit.stamp(written.toSeq.flatten,
      table.currentSchemaId, table.currentSpecId)
  }

  /** Does `df` plan to an in-memory relation whose rows all fall in at
    * most one bucket? Exact, on the driver, where those rows already are.
    * A NULL partition value counts in no bucket: the writer rejects it
    * whichever way the rows are routed. Plans that read anything but
    * local rows are not optimized here.
    */
  private def oneBucket(df: DataFrame, spec: TruncateSpec): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      (df.queryExecution.optimizedPlan match {
        case l: LocalRelation =>
          val i = l.output.indexWhere(_.name == spec.column)
          i >= 0 && l.output(i).dataType == LongType &&
            l.data.iterator.collect { case r if !r.isNullAt(i) => spec(r.getLong(i)) }
              .distinct.take(2).size <= 1
        case _ => false
      })

  /** Parquet footer → DataFileMeta (A18): row count plus per-column stats
    * (long min/max, truncated ASCII string min/max, null/value counts),
    * which drive manifest-level file skipping (SURVEY §4). Each stat domain
    * is emitted only when every row group of the file proves it — a single
    * statless or non-conforming chunk invalidates that domain for the file
    * (pruning must never rest on partial evidence).
    */
  def footerMeta(conf: Configuration, path: Path, partitionValue: Long): DataFileMeta = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try metaFromFooter(reader.getFooter, path,
      path.getFileSystem(conf).getFileStatus(path).getLen, partitionValue)
    finally reader.close()
  }

  /** Footer-stats harvest from an ALREADY-IN-MEMORY footer — the
    * `ParquetWriter.getFooter` path (parquet 1.16): a writer that just
    * closed a file already holds the exact footer it wrote, so re-opening
    * the file to read it back (one full GET per file on an object store)
    * is pure waste. [[footerMeta]] keeps the open-and-read shape for files
    * this process did NOT write (add_files import, compaction inputs).
    */
  def metaFromFooter(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      path: Path, size: Long, partitionValue: Long): DataFileMeta = {
    // per-column accumulator across row groups
    final class Acc {
      var longMin, longMax: Option[Long] = None
      var strMin, strMax: Option[String] = None
      var rangeValid = true
      var nulls = 0L
      var nullsValid = true
      var values = 0L
    }
    {
      val blocks = footer.getBlocks.asScala
      val rowCount = blocks.map(_.getRowCount).sum
      val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val acc = accs.getOrElseUpdate(c.getPath.toDotString, new Acc)
        acc.values += c.getValueCount
        val st = c.getStatistics
        if (st == null) { acc.rangeValid = false; acc.nullsValid = false }
        else {
          if (st.isNumNullsSet) acc.nulls += st.getNumNulls
          else acc.nullsValid = false
          if (st.hasNonNullValue) {
            val isString = c.getPrimitiveType.getLogicalTypeAnnotation
              .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                acc.longMin = Some(acc.longMin.fold(mn.longValue)(math.min(_, mn.longValue)))
                acc.longMax = Some(acc.longMax.fold(mx.longValue)(math.max(_, mx.longValue)))
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                acc.longMin = Some(acc.longMin.fold(mn.longValue)(math.min(_, mn.longValue)))
                acc.longMax = Some(acc.longMax.fold(mx.longValue)(math.max(_, mx.longValue)))
              case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary)
                  if isString =>
                val (lo, hi) = (mn.toStringUsingUTF8, mx.toStringUsingUTF8)
                // ASCII-only bounds: the one regime where parquet's unsigned
                // UTF-8 byte order and String.compareTo agree
                if (lo.forall(_ < 0x80) && hi.forall(_ < 0x80)) {
                  val tl = ColStats.truncateLower(lo)
                  acc.strMin = Some(acc.strMin.fold(tl)(p => if (p <= tl) p else tl))
                  ColStats.truncateUpper(hi) match {
                    case Some(th) =>
                      acc.strMax = Some(acc.strMax.fold(th)(p => if (p >= th) p else th))
                    case None => acc.rangeValid = false
                  }
                } else acc.rangeValid = false
              case _ => acc.rangeValid = false
            }
          } else if (!(st.isNumNullsSet && st.getNumNulls == c.getValueCount))
            // no values AND not provably all-null: stats are absent, not empty
            acc.rangeValid = false
        }
      }
      val stats = accs.collect { case (name, a)
          if a.rangeValid || a.nullsValid =>
        name -> ColStats(
          longMin = if (a.rangeValid) a.longMin else None,
          longMax = if (a.rangeValid) a.longMax else None,
          strMin = if (a.rangeValid) a.strMin else None,
          strMax = if (a.rangeValid) a.strMax else None,
          nullCount = if (a.nullsValid) Some(a.nulls) else None,
          valueCount = Some(a.values))
      }.toMap
      DataFileMeta(path.toUri.getPath, size, rowCount, partitionValue,
        "parquet", stats.toMap)
    }
  }

  /** Top-level fields of a parquet file's footer schema — the add_files
    * import gate's compatibility check (one footer read, no row data
    * touched). */
  def footerFields(conf: Configuration, path: Path): Seq[org.apache.parquet.schema.Type] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
    finally reader.close()
  }

  /** Is the parquet footer field's physical type identical to — or legally
    * widenable to — the table's Spark type? The add_files registration
    * gate: a same-named column of an incompatible physical type (STRING
    * where the table has BIGINT) imports cleanly and then fails or
    * silently misreads on every later scan, so the check must happen at
    * import. Widenable means what the scan path already decodes across
    * vintages (b57): INT32 read as BIGINT, FLOAT read as DOUBLE. Nested
    * and exotic types pass the name gate only — the footer can't cheaply
    * prove their shape and the reference schema carries none of them.
    */
  def parquetCompatible(dt: org.apache.spark.sql.types.DataType,
      t: org.apache.parquet.schema.Type): Boolean = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    if (!t.isPrimitive) return dt match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _ => false
    }
    val p = t.asPrimitiveType().getPrimitiveTypeName
    val ann = t.getLogicalTypeAnnotation
    def isString = ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
    def isTimestamp = ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
    def isDate = ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
    def isDecimal = ann.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
    dt match {
      case ByteType | ShortType | IntegerType =>
        p == INT32 && !isDate && !isDecimal
      case LongType =>
        (p == INT64 || p == INT32) && !isTimestamp && !isDate && !isDecimal
      case FloatType => p == FLOAT
      case DoubleType => p == DOUBLE || p == FLOAT
      case StringType => p == BINARY && isString
      case BinaryType => p == BINARY && !isString
      case BooleanType => p == BOOLEAN
      case TimestampType | TimestampNTZType =>
        (p == INT64 && isTimestamp) || p == INT96 // INT96 = legacy default
      case DateType => p == INT32 && isDate
      case d: DecimalType => isDecimal && {
        val da = ann.asInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
        da.getScale == d.scale && da.getPrecision <= d.precision
      }
      case _ => true
    }
  }
}
