package graft.lake.dsv2

import java.util.UUID

import graft.lake.{bestEffort, DataFileMeta, DeleteFileMeta, LakeFormat, LakeTable, TruncateSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Delta-based (merge-on-read) SQL MERGE / UPDATE / DELETE — Spark's
  * [[SupportsDelta]] row-level contract, selected by the per-command table
  * properties `write.merge.mode` / `write.update.mode` / `write.delete.mode`
  * = `merge-on-read` ([[LakeDsTable.newRowLevelOperationBuilder]]).
  *
  * How it differs from the group-based CoW path
  * ([[LakeRowLevelOperation]]): instead of rewriting every file that holds
  * a matched row, the plan emits per-ROW deltas — DELETE rows carry the row
  * identity `(_file, _pos)` (both scan metadata columns,
  * [[LakeMetaColumns]]), UPDATE is represented as DELETE + INSERT
  * ([[LakeDeltaOperation.representUpdateAsDeleteAndInsert]]), INSERT rows
  * carry the new data. Executors route deletes into position-delete
  * parquets (`(file_path, pos)` — the same shape predicate MoR deletes
  * write, [[LakeTable.deleteWhereMoR]]) and inserts through the normal
  * bucket-routing data writer; the driver lands both in ONE
  * [[LakeTable.commitDelta]] snapshot.
  *
  * At 100 TB: a MERGE that updates 0.1% of rows scattered across every
  * file writes kilobytes of positions + the new row versions — the CoW
  * path would re-copy the other 99.9% of every touched file. Readers
  * apply the masks ([[LakeReaderFactory]]); compaction materializes them
  * away ([[LakeTable.compactFiles]]).
  *
  * Unlike the CoW scan, this scan accepts full filter/stats pushdown:
  * there is no group-replacement commit to starve — a file the scan prunes
  * simply produces no delta rows, which is exactly correct.
  */
final class LakeDeltaOperation(location: String,
    cmd: RowLevelOperation.Command, viaCatalog: Boolean)
  extends RowLevelOperation with SupportsDelta {

  // snapshot current when the operation was PLANNED; newScanBuilder pins
  // the scan to THIS snapshot, so the commit's capped-entry validation
  // (files removed since the scan, LakeTable.danglingDeleteRefs) covers
  // exactly the file set the scan could have read. An unpinned scan from
  // a fresh load could read a file appended after planning; a capped
  // (path-list-free) delete entry covering it would dodge the
  // removed-since-scan check and dangle after a concurrent rewrite —
  // silent resurrection.
  private val scanSnapshot: Long = LakeTable.load(location).currentSnapshotId

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"laketable $cmd (merge-on-read)"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeMetaColumns.FileColumn),
      Expressions.column(LakeMetaColumns.PosColumn))

  /** UPDATE rows split into DELETE + INSERT deltas: the position delete
    * retires the old row version wherever it lives; the insert writes the
    * new version through the ordinary partition-routed data writer (it may
    * land in a different bucket when the update moves the partition value —
    * a case in-place update representations cannot express).
    */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val t = LakeTable.load(location)
    // empty-at-plan tables have no snapshot to pin (nothing to delete);
    // an expired pin falls back to current — validation then treats
    // capped entries conservatively (danglingDeleteRefs' expired branch)
    val pin = if (t.snapshots.exists(_.id == scanSnapshot)) Some(scanSnapshot)
      else None
    new LakeScanBuilder(location, t, None, pin, None, viaCatalog = viaCatalog)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new LakeDeltaBatchWrite(location, Some(scanSnapshot))
      }
    }
}

/** Task commit payload: the data files this task's inserts produced plus
  * the position-delete files its deletes produced.
  */
final case class LakeDeltaCommitMessage(dataFiles: Seq[DataFileMeta],
    deleteFiles: Seq[DeleteFileMeta]) extends WriterCommitMessage

final class LakeDeltaBatchWrite(location: String,
    scanSnapshot: Option[Long] = None) extends DeltaBatchWrite {
  // one load for spec id + width: a width change racing this write must
  // not split them (see LakeBatchWrite)
  private val (writeSchemaId, writeSpecId, writeSchemaDdl, writeSpec) = {
    val t = LakeTable.load(location)
    (t.currentSchemaId, t.currentSpecId, t.schema.toDDL, t.spec)
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new LakeDeltaWriterFactory(location, writeSchemaDdl,
      writeSpec.column, writeSpec.widthMicros, LakeDataWriter.sessionParquetConf(
        org.apache.spark.sql.SparkSession.active))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (data, dels) = messages.foldLeft(
      (Seq.empty[DataFileMeta], Seq.empty[DeleteFileMeta])) {
      case ((d, x), LakeDeltaCommitMessage(df, xf)) => (d ++ df, x ++ xf)
      case (acc, _) => acc
    }
    LakeTable.load(location).commitDelta(
      LakeWriteCommit.stamp(data, writeSchemaId, writeSpecId), dels,
      scanSnapshot)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case LakeDeltaCommitMessage(data, dels) =>
        LakeWriteCommit.deleteAll(data)
        LakeWriteCommit.deleteDeleteFiles(dels)
      case _ =>
    }
}

final class LakeDeltaWriterFactory(location: String, schemaDdl: String,
    specColumn: String, specWidth: Long,
    parquetConf: Map[String, String]) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaWriter(location, StructType.fromDDL(schemaDdl),
      TruncateSpec(specColumn, specWidth), parquetConf)
}

/** One task's delta writer: inserts ride the ordinary per-bucket data
  * writer ([[LakeDataWriter]] — handles any mix of partition values);
  * deletes stream into one position-delete parquet per task, opened
  * lazily so insert-only tasks write no delete file (and vice versa).
  */
final class LakeDeltaWriter(location: String, schema: StructType,
    spec: TruncateSpec, parquetConf: Map[String, String])
  extends DeltaWriter[InternalRow] {

  private val data = new LakeDataWriter(location, schema, spec, parquetConf)
  private var dels: LakeDeletePositionsWriter = _

  override def insert(row: InternalRow): Unit = data.write(row)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (dels == null) dels = new LakeDeletePositionsWriter(location)
    // rowId projection order: (_file, _pos) — LakeDeltaOperation.rowId
    dels.write(id.getUTF8String(0), id.getLong(1))
  }

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    // unreachable with representUpdateAsDeleteAndInsert = true; keep the
    // equivalent semantics anyway
    delete(metadata, id)
    insert(row)
  }

  override def write(row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = {
    val dataFiles = data.commit() match {
      case LakeCommitMessage(files) => files
      case _ => Nil
    }
    LakeDeltaCommitMessage(dataFiles,
      if (dels == null) Nil else Seq(dels.finish()))
  }

  override def abort(): Unit = {
    data.abort()
    if (dels != null) dels.abortAndDelete()
  }

  override def close(): Unit = {
    data.close()
    if (dels != null) dels.close()
  }
}

/** Executor-side position-delete parquet writer: `(file_path STRING,
  * pos BIGINT)` rows into `deletes/<uuid>.parquet`, invisible until the
  * driver's manifest commit. Tracks the [[DeleteFileMeta]] envelope as
  * rows stream through — row count, data-path range, and the exact
  * referenced-path list while it stays under
  * [[LakeTable.DeletePathListCap]] (the inline list is what makes reader
  * candidate pruning and commit-time conflict validation exact).
  */
final class LakeDeletePositionsWriter(location: String) {
  import LakeDeletePositionsWriter._

  private val path = new Path(new Path(location, LakeFormat.DeleteDir),
    s"${UUID.randomUUID()}.parquet")
  private val conf: Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(LakeTable.hadoopConf)
    org.apache.spark.sql.execution.datasources.parquet
      .ParquetWriteSupport.setSchema(DeleteSchema, c)
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c
  }

  private final class Builder(p: Path)
    extends ParquetWriter.Builder[InternalRow, Builder](p) {
    override def self(): Builder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport()
        .asInstanceOf[WriteSupport[InternalRow]]
  }

  private val writer: ParquetWriter[InternalRow] = {
    path.getFileSystem(conf).mkdirs(path.getParent)
    new Builder(path).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
  }

  private val row = new GenericInternalRow(2)
  private var count = 0L
  private var lo: String = _
  private var hi: String = _
  // null once the cap is exceeded (→ DeleteFileMeta falls back to [lo, hi])
  private var paths = scala.collection.mutable.TreeSet.empty[String]

  def write(filePath: UTF8String, pos: Long): Unit = {
    row.update(0, filePath)
    row.setLong(1, pos)
    writer.write(row)
    count += 1
    val s = filePath.toString
    if (lo == null || s < lo) lo = s
    if (hi == null || s > hi) hi = s
    if (paths != null) {
      paths += s
      if (paths.size > LakeTable.DeletePathListCap) paths = null
    }
  }

  def finish(): DeleteFileMeta = {
    writer.close()
    val size = path.getFileSystem(conf).getFileStatus(path).getLen
    DeleteFileMeta(path.toString, size, count, lo, hi,
      dataPaths = if (paths == null) Nil else paths.toSeq)
  }

  def abortAndDelete(): Unit = {
    bestEffort("close", path)(writer.close())
    bestEffort("delete", path)(path.getFileSystem(conf).delete(path, false))
  }

  def close(): Unit = bestEffort("close", path)(writer.close())
}

object LakeDeletePositionsWriter {
  /** The position-delete file schema — matches [[LakeTable.deleteWhereMoR]]
    * output and [[LakeReaderFactory.deleteFileConf]]'s read schema.
    */
  val DeleteSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))
}

/** Executor-side EQUALITY-delete parquet writer: one key-column row per
  * upserted record (`keys` in table-schema order = the file's layout),
  * landing in `deletes/<uuid>.parquet`. Sequence-addressed at commit time:
  * the entry retires every matching key in data files strictly OLDER than
  * its commit ([[graft.lake.DeleteFileMeta.applies]]), which is what lets
  * a streaming CDC upsert write new row versions and their retirement in
  * one commit with NO read-modify-write — the write path stays O(batch)
  * at any table size. An in-task seen-set skips duplicate keys (bounded;
  * overflow writes through — readers apply keys as a set anyway).
  */
final class LakeEqualityDeleteWriter(location: String,
    tableSchema: StructType, keys: Seq[String]) {

  private val keySchema = StructType(
    keys.map(k => tableSchema(tableSchema.fieldIndex(k)).copy(nullable = false)))
  private val keyOrdinals = keys.map(tableSchema.fieldIndex)
  private val keyTypes = keySchema.fields.map(_.dataType)

  private val path = new Path(new Path(location, LakeFormat.DeleteDir),
    s"${UUID.randomUUID()}.parquet")
  private val conf: Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val c = new Configuration(LakeTable.hadoopConf)
    org.apache.spark.sql.execution.datasources.parquet
      .ParquetWriteSupport.setSchema(keySchema, c)
    c.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    c.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    c.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    c.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    c
  }

  private final class Builder(p: Path)
    extends ParquetWriter.Builder[InternalRow, Builder](p) {
    override def self(): Builder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport()
        .asInstanceOf[WriteSupport[InternalRow]]
  }

  private val writer: ParquetWriter[InternalRow] = {
    path.getFileSystem(conf).mkdirs(path.getParent)
    new Builder(path).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
  }

  private val toUnsafe = org.apache.spark.sql.catalyst.expressions
    .UnsafeProjection.create(keyOrdinals.zipWithIndex.map { case (ord, i) =>
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        ord, keyTypes(i), nullable = true)
    })
  private var seen = new java.util.HashSet[InternalRow]()
  private val keyRow = new GenericInternalRow(keys.length)
  private var count = 0L

  /** Record the key of one upserted data row (duplicates skipped while the
    * seen-set stays bounded).
    */
  def write(dataRow: InternalRow): Unit = {
    val key = toUnsafe(dataRow)
    if (seen != null) {
      if (seen.contains(key)) return
      seen.add(key.copy())
      if (seen.size > (1 << 20)) seen = null // cap ~1M keys/task, write through
    }
    var i = 0
    while (i < keyOrdinals.length) {
      keyRow.update(i, dataRow.get(keyOrdinals(i), keyTypes(i)))
      i += 1
    }
    writer.write(keyRow)
    count += 1
  }

  def hasRows: Boolean = count > 0

  /** Close and describe; `seq` is stamped by the landing commit. */
  def finish(): DeleteFileMeta = {
    writer.close()
    val size = path.getFileSystem(conf).getFileStatus(path).getLen
    DeleteFileMeta(path.toString, size, count, "", "",
      kind = DeleteFileMeta.KindEq, eqColumns = keys)
  }

  def abortAndDelete(): Unit = {
    bestEffort("close", path)(writer.close())
    bestEffort("delete", path)(path.getFileSystem(conf).delete(path, false))
  }

  def close(): Unit = bestEffort("close", path)(writer.close())
}
