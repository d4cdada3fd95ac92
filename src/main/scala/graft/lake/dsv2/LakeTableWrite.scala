package graft.lake.dsv2

import java.util.UUID

import graft.lake.{bestEffort, DataFileMeta, LakeTable, LakeWriter, TruncateSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** DSv2 write path for the "laketable" source: `df.write
  * .format("laketable").mode("append").save(loc)` and `df.writeStream
  * .format("laketable")` both land parquet data files in the table layout
  * and fast-append them in ONE driver-side commit — the reference's
  * write-files-then-commit-once shape (Writer.java:126-150) expressed as a
  * V2 BatchWrite/StreamingWrite pair.
  *
  * Scale shape: executors write files and ship back only DataFileMeta
  * (path + footer stats — bytes per file, not rows); the driver's commit is
  * O(files in this batch). Streaming commits are epoch-fenced through
  * [[LakeTable.appendEpoch]] so micro-batch replays after a crash are
  * exact-once no-ops; the fenced replay's duplicate files are deleted by
  * the sink (they were never referenced by any manifest).
  */
/** How a batch write's commit lands relative to existing data. */
private[dsv2] sealed trait LakeWriteMode
private[dsv2] object LakeWriteMode {
  /** Fast-append (the default `mode("append")` / INSERT INTO). */
  case object Append extends LakeWriteMode
  /** Full-table replacement (`mode("overwrite")` / static INSERT OVERWRITE). */
  case object Truncate extends LakeWriteMode
  /** Filter overwrite (`writeTo(t).overwrite(cond)`): delete matching rows
    * + append, atomically ([[graft.lake.LakeTable.overwriteWhere]]). */
  final case class ByFilter(predicate: org.apache.spark.sql.Column)
    extends LakeWriteMode
  /** Dynamic partition overwrite (`overwritePartitions()` / INSERT
    * OVERWRITE under partitionOverwriteMode=dynamic): replace exactly the
    * buckets the new data touches ([[graft.lake.LakeTable.overwriteDynamic]]). */
  case object Dynamic extends LakeWriteMode
}

final class LakeWriteBuilder(location: String, info: LogicalWriteInfo,
    viaCatalog: Boolean = false)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private var mode: LakeWriteMode = LakeWriteMode.Append

  /** mode("overwrite"): replace the table's contents in one CoW rewrite
    * commit (prior snapshots keep time-traveling to the old files).
    */
  override def truncate(): WriteBuilder = { mode = LakeWriteMode.Truncate; this }

  /** OverwriteByExpression: Spark hands the condition as source Filters
    * (AND semantics). AlwaysTrue collapses to the truncate path; anything
    * [[LakeDsTable.toColumn]] can faithfully express becomes an atomic
    * delete-matching + append commit. canOverwrite rejects the rest so
    * Spark errors at analysis instead of silently replacing too much.
    */
  override def canOverwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean =
    filters.forall(LakeDsTable.toColumn(_).isDefined)

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    val cols = filters.toSeq.map(f => LakeDsTable.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(s"cannot overwrite by $f")))
    val isTruncate = filters.isEmpty || filters.forall {
      case org.apache.spark.sql.sources.AlwaysTrue() => true
      case _ => false
    }
    mode =
      if (isTruncate) LakeWriteMode.Truncate
      else LakeWriteMode.ByFilter(cols.reduce(_ && _))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = LakeWriteMode.Dynamic; this
  }

  override def build(): Write = new Write
    with RequiresDistributionAndOrdering {
    private lazy val table = LakeTable.load(location)
    private def spec = table.spec

    /** Declared write-time sort order (`write.sort-order` property):
      * within each task the rows additionally sort by these columns, so a
      * bucket's rolled files carry disjoint footer-stat ranges on the sort
      * keys — stats pruning works straight from ingest, not only after a
      * clustering compaction.
      */
    private def sortColumns: Seq[String] =
      graft.lake.LakeFormat.sortOrderColumns(table.tableMeta.properties,
        table.schema.fieldNames.toIndexedSeq)

    /** Default: cluster incoming rows by the partition column and sort
      * within each task, so each bucket's rows land in ONE writer instead
      * of every task opening a file per bucket it happens to see — without
      * this an N-task insert over K buckets writes N×K small files; with
      * it, K. (Identity clustering: the transform groups ranges of the
      * column, so same-value co-location implies same-bucket co-location.)
      *
      * With a declared `write.sort-order`: RANGE-distribute by
      * (bucket transform, sort columns) — Iceberg's
      * write.distribution-mode=range. Each task then owns a contiguous
      * (bucket, sort-key) range, so (a) tasks visit buckets SEQUENTIALLY
      * (one open parquet writer per task, ~K+N files total, the writer's
      * `sequentialBuckets` contract) and (b) within every bucket the
      * rolled files carry disjoint sort-key ranges — a needle predicate
      * plans at most one file per bucket straight from manifest stats.
      * The transform resolves through the table catalog's
      * [[TruncateFunction]]; that resolution only exists for
      * catalog-loaded relations, so path-based writes fall back to
      * ranging by the sort columns alone — still per-bucket sort-key
      * disjoint (tasks own disjoint key ranges), at the cost of every
      * task visiting every bucket it sees keys for. Ordering by the RAW
      * partition column instead would be wrong in a different way: within
      * a bucket rows would sort by the partition value first, scattering
      * the sort key inside every file and losing the needle pruning the
      * declaration exists for.
      */
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution = {
      import org.apache.spark.sql.connector.distributions.Distributions
      import org.apache.spark.sql.connector.expressions.Expressions
      if (sortColumns.nonEmpty) Distributions.ordered(sortOrders)
      else Distributions.clustered(Array(Expressions.column(spec.column)))
    }

    private def sortOrders
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
      import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
      def asc(e: org.apache.spark.sql.connector.expressions.Expression) =
        Expressions.sort(e, SortDirection.ASCENDING)
      if (sortColumns.isEmpty) Array(asc(Expressions.column(spec.column)))
      else {
        val keys = sortColumns.toArray
          .map(c => asc(Expressions.column(c)))
        if (!viaCatalog) keys
        else asc(Expressions.apply(
          TruncateFunction.nameFor(spec.widthMicros),
          Expressions.column(spec.column))) +: keys
      }
    }

    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      sortOrders

    /** WIDTH-1 clustered writes pin the partition count to the session's
      * shuffle parallelism: with 0 ("let AQE size it") the tiny pre-write
      * bytes of a many-bucket insert coalesce to ~one task, which then
      * writes every bucket's file SEQUENTIALLY (d06_pipeline_shards: ~540
      * one-per-shard files on one task — write phase 3.5 s of a 4.9 s
      * entry). The pin is safe exactly when the truncate width is 1:
      * clustering is by the RAW column (see requiredDistribution), and at
      * width 1 value-routing IS bucket-routing, so each bucket still
      * lands whole in exactly one task — file count unchanged, only write
      * parallelism. At width > 1 a bucket's many values would spread
      * across every task (one small file per task per bucket — the N×K
      * problem the clustering exists to avoid; it also dilutes per-file
      * delete-mark counts, breaking threshold compaction selection), so
      * wider specs keep 0 and let AQE coalesce. ORDERED (sort-order)
      * writes also keep 0: their range split count determines how many
      * files a bucket's sort range splits into, and pinning it would grow
      * small tables' file counts (the sequentialBuckets ingest-pruning
      * contract sizes those by data, not by core count).
      */
    override def requiredNumPartitions(): Int =
      if (sortColumns.nonEmpty || spec.widthMicros != 1L) 0
      else org.apache.spark.sql.SparkSession.active
        .sessionState.conf.numShufflePartitions

    override def toBatch: BatchWrite =
      new LakeBatchWrite(location, info.schema(), spec, mode,
        sequentialBuckets = viaCatalog && sortColumns.nonEmpty)
    override def toStreaming: StreamingWrite = {
      // CDC upsert mode: .option("upsertKeys", "k1[,k2...]") — each batch
      // appends its rows AND an equality-delete on their keys, atomically
      // retiring every older version of each key (merge-on-read; no
      // read-modify-write at any table size). In-batch duplicates are NOT
      // collapsed — dedupe upstream (dropDuplicates / keep-last) when the
      // source can repeat a key within one trigger.
      val upsertKeys = Option(info.options.get("upsertKeys"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      upsertKeys.foreach(k => require(info.schema().fieldNames.contains(k),
        s"upsertKeys column '$k' is not in the write schema"))
      new LakeStreamingWrite(location, info.schema(), spec, info.queryId(),
        upsertKeys)
    }
  }
}

private[lake] object LakeWriteCommit {
  def collect(messages: Array[WriterCommitMessage]): Seq[DataFileMeta] =
    messages.toSeq.collect {
      case LakeCommitMessage(files) => files
      case LakeDeltaCommitMessage(files, _) => files
    }.flatten

  def collectDeletes(messages: Array[WriterCommitMessage]): Seq[graft.lake.DeleteFileMeta] =
    messages.toSeq.collect { case LakeDeltaCommitMessage(_, dels) => dels }.flatten

  /** Stamp committed files with the schema id the write planned under —
    * the id travels with the file so reads resolve its PHYSICAL column
    * names even when renames commit between this write's plan and commit.
    */
  def stamp(files: Seq[DataFileMeta], schemaId: Int,
      specId: Int = 0): Seq[DataFileMeta] =
    if (schemaId == 0 && specId == 0) files
    else files.map(_.copy(schemaId = schemaId, specId = specId))

  def deleteAll(files: Seq[DataFileMeta]): Unit = files.foreach(f => delete(f.path))

  def deleteDeleteFiles(dels: Seq[graft.lake.DeleteFileMeta]): Unit =
    dels.foreach(d => delete(d.path))

  private def delete(path: String): Unit = {
    val p = new Path(path)
    bestEffort("delete", p)(p.getFileSystem(LakeTable.hadoopConf).delete(p, false))
  }
}

final case class LakeCommitMessage(files: Seq[DataFileMeta])
  extends WriterCommitMessage

final class LakeBatchWrite(location: String, schema: StructType,
    spec: TruncateSpec, mode: LakeWriteMode = LakeWriteMode.Append,
    sequentialBuckets: Boolean = false)
  extends BatchWrite {
  // spec id, WIDTH and target size captured from ONE metadata load: a
  // width change racing this write must not split them (files bucketed
  // under one width but stamped with another vintage would mis-prune)
  private val (writeSchemaId, writeSpecId, writeSpec, targetBytes, bloomCols) = {
    val t = LakeTable.load(location)
    (t.currentSchemaId, t.currentSpecId, t.spec, LakeDataWriter.targetFor(t),
      LakeDataWriter.bloomColumnsFor(t))
  }
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LakeWriterFactory(location, schema.toDDL, writeSpec.column,
      writeSpec.widthMicros, LakeDataWriter.sessionParquetConf(
        org.apache.spark.sql.SparkSession.active),
      targetBytes, bloomCols, sequentialBuckets)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = LakeWriteCommit.stamp(
      LakeWriteCommit.collect(messages), writeSchemaId, writeSpecId)
    mode match {
      case LakeWriteMode.Truncate =>
        LakeTable.load(location).overwrite(files)
      case LakeWriteMode.ByFilter(pred) =>
        LakeTable.load(location).overwriteWhere(
          org.apache.spark.sql.SparkSession.active, pred, files)
      case LakeWriteMode.Dynamic =>
        LakeTable.load(location).overwriteDynamic(
          org.apache.spark.sql.SparkSession.active, files, writeSpecId)
      case LakeWriteMode.Append =>
        if (files.nonEmpty) LakeTable.load(location).append(files)
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LakeWriteCommit.deleteAll(LakeWriteCommit.collect(messages))
}

final class LakeStreamingWrite(location: String, schema: StructType,
    spec: TruncateSpec, queryId: String,
    upsertKeys: Seq[String] = Nil) extends StreamingWrite {
  // one load for id + width + target: see LakeBatchWrite
  private val (writeSchemaId, writeSpecId, writeSpec, targetBytes, bloomCols) = {
    val t = LakeTable.load(location)
    (t.currentSchemaId, t.currentSpecId, t.spec, LakeDataWriter.targetFor(t),
      LakeDataWriter.bloomColumnsFor(t))
  }
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val parquetConf = LakeDataWriter.sessionParquetConf(
      org.apache.spark.sql.SparkSession.active)
    if (upsertKeys.isEmpty)
      new LakeWriterFactory(location, schema.toDDL, writeSpec.column,
        writeSpec.widthMicros, parquetConf, targetBytes, bloomCols)
    else
      new LakeUpsertWriterFactory(location, schema.toDDL, writeSpec.column,
        writeSpec.widthMicros, upsertKeys, parquetConf)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = LakeWriteCommit.stamp(
      LakeWriteCommit.collect(messages), writeSchemaId, writeSpecId)
    val dels = LakeWriteCommit.collectDeletes(messages)
    if ((files.nonEmpty || dels.nonEmpty) &&
        LakeTable.load(location)
          .appendEpoch(files, queryId, epochId, dels) < 0) {
      // fenced: this epoch already committed before a restart — the files
      // written for the replay are unreferenced duplicates
      LakeWriteCommit.deleteAll(files)
      LakeWriteCommit.deleteDeleteFiles(dels)
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    LakeWriteCommit.deleteAll(LakeWriteCommit.collect(messages))
    LakeWriteCommit.deleteDeleteFiles(LakeWriteCommit.collectDeletes(messages))
  }
}

/** Upsert-mode task writer: every row goes to the ordinary bucket-routing
  * data writer AND records its key in the task's equality-delete file.
  */
final class LakeUpsertWriterFactory(location: String, schemaDdl: String,
    specColumn: String, specWidth: Long, keys: Seq[String],
    parquetConf: Map[String, String])
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val schema = StructType.fromDDL(schemaDdl)
    val data = new LakeDataWriter(location, schema,
      TruncateSpec(specColumn, specWidth), parquetConf)
    new DataWriter[InternalRow] {
      private var eq: LakeEqualityDeleteWriter = _
      override def write(row: InternalRow): Unit = {
        if (eq == null) eq = new LakeEqualityDeleteWriter(location, schema, keys)
        eq.write(row)
        data.write(row)
      }
      override def commit(): WriterCommitMessage = {
        val files = data.commit() match {
          case LakeCommitMessage(f) => f
          case _ => Nil
        }
        LakeDeltaCommitMessage(files,
          if (eq != null && eq.hasRows) Seq(eq.finish())
          else { if (eq != null) eq.abortAndDelete(); Nil })
      }
      override def abort(): Unit = {
        data.abort()
        if (eq != null) eq.abortAndDelete()
      }
      override def close(): Unit = {
        data.close()
        if (eq != null) eq.close()
      }
    }
  }
}

/** Serialized once per write; shipped to executors for both batch and
  * streaming tasks (epoch/task ids only disambiguate file names — the
  * layout key is the partition transform of each ROW, same as the
  * reference's bucketed writers, A5-A9).
  */
final class LakeWriterFactory(location: String, schemaDdl: String,
    specColumn: String, specWidth: Long,
    parquetConf: Map[String, String],
    targetBytes: Long = LakeDataWriter.DefaultTargetBytes,
    bloomColumns: Seq[String] = Nil,
    sequentialBuckets: Boolean = false,
    maxRecordsPerFile: Long = 0L)
  extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeDataWriter(location, StructType.fromDDL(schemaDdl),
      TruncateSpec(specColumn, specWidth), parquetConf, targetBytes,
      bloomColumns, sequentialBuckets, maxRecordsPerFile)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

object LakeDataWriter {
  /** Default rolling threshold (Iceberg's write.target-file-size default). */
  val DefaultTargetBytes: Long = 512L << 20

  /** The session's `parquet.*` settings (row-group and page sizes,
    * dictionary, writer version), read where the write is planned and
    * shipped with a writer factory: what Spark's file-source writer
    * would apply. */
  def sessionParquetConf(spark: org.apache.spark.sql.SparkSession): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    spark.sessionState.newHadoopConf().getValByRegex("^parquet\\.").asScala.toMap
  }

  /** Size-poll cadence: at most this many rows of overshoot per check. */
  val RollCheckRows: Int = 1000

  /** Per-table override: `write.target-file-size-bytes`. Resolved driver-
    * side at factory construction and shipped with the factory.
    */
  def targetFor(table: LakeTable): Long =
    table.tableMeta.properties.get(graft.lake.LakeFormat.PropTargetFileSize)
      .map(_.toLong).getOrElse(DefaultTargetBytes)

  /** Columns declared for parquet bloom filters (`write.bloom.columns`).
    * Resolved driver-side and shipped with the factory, same as the
    * rolling target.
    */
  def bloomColumnsFor(table: LakeTable): Seq[String] =
    table.tableMeta.properties.get(graft.lake.LakeFormat.PropBloomColumns)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
}

/** One executor task's writer: routes each row to a per-bucket parquet
  * writer (`data/<col>_trunc=<bucket>/<uuid>.parquet`), encoding through
  * Spark's own ParquetWriteSupport — the identical binary layout (INT64 µs
  * timestamps, footer stats) the table's vectorized reader already speaks.
  * Files are invisible until the driver's manifest commit, so
  * direct-to-final-path writes are safe; abort deletes them.
  *
  * Rolling: once a file's in-flight size crosses `targetBytes`
  * (write.target-file-size-bytes, default 512 MB) it closes and a fresh
  * one opens for the bucket — without this, one task sinking a hot bucket
  * writes ONE multi-GB file that no byte-range split can decode in
  * parallel row groups fairly, and compaction bin-packing has nothing to
  * work with. Size is polled every [[LakeDataWriter.RollCheckRows]] rows
  * of a file (getDataSize walks column buffers — too hot for per-row).
  * `maxRecordsPerFile` > 0 also rolls a file at that many rows.
  *
  * `parquetConf` carries the writing session's `parquet.*` settings
  * ([[LakeDataWriter.sessionParquetConf]]); they apply as Spark's
  * file-source writer applies them.
  */
final class LakeDataWriter(location: String, schema: StructType,
    spec: TruncateSpec,
    parquetConf: Map[String, String],
    targetBytes: Long = LakeDataWriter.DefaultTargetBytes,
    bloomColumns: Seq[String] = Nil,
    sequentialBuckets: Boolean = false,
    maxRecordsPerFile: Long = 0L)
  extends DataWriter[InternalRow] {

  private val partIdx = schema.fieldIndex(spec.column)
  private val conf: Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(LakeTable.hadoopConf)
    parquetConf.foreach { case (k, v) => c.set(k, v) }
    org.apache.spark.sql.execution.datasources.parquet
      .ParquetWriteSupport.setSchema(schema, c)
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c
  }

  private final class OpenFile(val path: Path, val writer: ParquetWriter[InternalRow]) {
    var rows = 0L
  }
  private val open = scala.collection.mutable.LinkedHashMap.empty[Long, OpenFile]
  // files already rolled closed this task, in commit-message order
  private val rolled = Seq.newBuilder[DataFileMeta]

  private final class Builder(path: Path)
    extends ParquetWriter.Builder[InternalRow, Builder](path) {
    override def self(): Builder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport()
        .asInstanceOf[WriteSupport[InternalRow]]
  }

  // no mkdirs: a FileSystem's create makes the missing parents itself,
  // and on an object store a directory marker is one more request
  private def openFile(bucket: Long): OpenFile = {
    val path = new Path(new Path(new Path(location, graft.lake.LakeFormat.DataDir),
      spec.dirName(bucket)), s"${UUID.randomUUID()}.parquet")
    val b = new Builder(path)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
    // declared bloom columns: the filter bytes land in THIS file's
    // footer region; readers' row-group filtering consults them for
    // pushed equality predicates with no extra wiring
    bloomColumns.foreach(c => b.withBloomFilterEnabled(c, true))
    new OpenFile(path, b.build())
  }

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(partIdx))
      throw new IllegalArgumentException(
        s"laketable: partition column ${spec.column} must not be NULL")
    val bucket = spec(row.getLong(partIdx))
    // sorted writes order rows (bucket, sort columns), so a new bucket
    // means the previous one is FINISHED — close it now instead of holding
    // one open (row-group-buffering) parquet writer per bucket for the
    // task's whole lifetime
    if (sequentialBuckets && !open.contains(bucket)) {
      open.foreach { case (b, f) => rolled += closedMeta(f, b) }
      open.clear()
    }
    val f = open.getOrElseUpdate(bucket, openFile(bucket))
    f.writer.write(row)
    f.rows += 1
    if ((maxRecordsPerFile > 0 && f.rows >= maxRecordsPerFile) ||
        (f.rows % LakeDataWriter.RollCheckRows == 0 &&
          f.writer.getDataSize >= targetBytes)) {
      rolled += closedMeta(f, bucket)
      open.remove(bucket)
    }
  }

  /** Close the writer and harvest stats from ITS OWN in-memory footer
    * (`ParquetWriter.getFooter`) — no read-back of the just-written file
    * (on an object store that was one full GET per file). One stat call
    * remains for the exact on-disk size (footer+magic bytes are not in
    * `getDataSize`), a metadata round-trip, not a data read.
    */
  private def closedMeta(f: OpenFile, bucket: Long): DataFileMeta = {
    f.writer.close()
    LakeWriter.metaFromFooter(f.writer.getFooter, f.path,
      f.path.getFileSystem(conf).getFileStatus(f.path).getLen, bucket)
  }

  override def commit(): WriterCommitMessage = {
    val metas = open.toSeq.map { case (bucket, f) => closedMeta(f, bucket) }
    open.clear()
    LakeCommitMessage(rolled.result() ++ metas)
  }

  override def abort(): Unit = {
    val paths = open.values.map { f =>
      bestEffort("close", f.path)(f.writer.close())
      f.path
    } ++ rolled.result().map(m => new Path(m.path))
    open.clear()
    rolled.clear()
    paths.foreach(p => bestEffort("delete", p)(p.getFileSystem(conf).delete(p, false)))
  }

  override def close(): Unit =
    open.values.foreach(f => bestEffort("close", f.path)(f.writer.close()))
}
