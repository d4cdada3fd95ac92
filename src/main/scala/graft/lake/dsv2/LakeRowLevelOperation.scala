package graft.lake.dsv2

import graft.lake.{DataFileMeta, LakeTable}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL MERGE INTO / UPDATE (and the rewritten DELETE) for laketables via
  * Spark's group-based (copy-on-write) row-level operation contract —
  * an extension beyond the reference surface (its tables are append+retire
  * only); the CoW machinery is the same manifest swap `deleteWhere` uses.
  *
  * How the pieces fit Spark's model:
  *
  *  - Spark's analyzer rewrites MERGE/UPDATE/DELETE over a
  *    [[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]
  *    table into a ReplaceData plan: read the affected groups through THIS
  *    operation's scan, compute the groups' replacement rows, write them
  *    through THIS operation's write, which must atomically swap scanned
  *    groups for written files ([[LakeTable.replaceFiles]]).
  *  - Groups = data files. The scan records exactly the files it planned
  *    (after runtime group filtering); the write's commit replaces exactly
  *    that set. Scan and write share the one operation instance, all
  *    driver-side.
  *  - The CoW scan deliberately does NOT accept filter pushdown: build-time
  *    stats pruning against the rewrite's residual filter (e.g. NOT(cond)
  *    for DELETE) would drop fully-matching files from the scan — and a
  *    file the scan never plans is a file the commit never replaces, so
  *    its rows would silently survive. File pruning instead comes from
  *    Spark's runtime group filtering (SPARK-38959): a subquery over the
  *    ORIGINAL command condition derives matching group values and feeds
  *    them to [[LakeBatchScan.filter]] — that predicates on cond (files
  *    with no matching rows need no rewrite), which is always sound.
  *  - Replaced-but-unwritten groups (an UPDATE touching every row of a
  *    file, a MERGE whose matched clause is DELETE) are handled by the
  *    same commit: scanned files leave the manifest whether or not any
  *    replacement row landed in their bucket.
  *
  * At 100 TB: runtime group filtering bounds the rewrite to files that
  * contain matched rows, executors write the replacement files, and the
  * driver's commit is O(changed files) — the identical envelope as
  * deleteWhere/compaction, now reachable as `MERGE INTO lake.ns.t ...`.
  */
final class LakeRowLevelOperation(location: String,
    cmd: RowLevelOperation.Command, viaCatalog: Boolean) extends RowLevelOperation {

  /** Files planned by this operation's scan (set at planInputPartitions
    * time, after runtime group filtering) — the groups the write replaces.
    * Driver-only state: scan planning and commit both run on the driver.
    * The snapshot the scan planned against rides along so the commit can
    * detect deletes that landed mid-rewrite (resurrection race).
    */
  @volatile private[dsv2] var scannedPaths: Set[String] = Set.empty
  @volatile private[dsv2] var scanSnapshot: Option[Long] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"laketable $cmd (copy-on-write)"

  /** `_file` is the group identity: Spark resolves it against the table's
    * metadata columns, the runtime group filter aggregates it over matching
    * rows, and the ReplaceData write receives it as the metadata projection
    * (which also makes Spark strip the internal operation column before
    * rows reach the writer).
    */
  override def requiredMetadataAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(graft.lake.dsv2.LakeMetaColumns.FileColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val table = LakeTable.load(location)
    // full data schema + the `_file` metadata column, no pushdown surfaces
    // (see class doc): the rewrite needs every surviving row of every
    // affected file
    val readSchema = org.apache.spark.sql.types.StructType(
      table.schema.fields :+ org.apache.spark.sql.types.StructField(
        LakeMetaColumns.FileColumn, org.apache.spark.sql.types.StringType,
        nullable = false))
    new ScanBuilder {
      override def build(): Scan = {
        val snap = ScanSnapshot.pin(table, None)
        new LakeBatchScan(location, table, readSchema, Array.empty,
          None, None, snap,
          planListener = Some { fs =>
            scannedPaths = fs.map(_.path).toSet
            scanSnapshot = Some(snap.id)
          }, viaCatalog = viaCatalog)
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write with RequiresDistributionAndOrdering {
        private def spec = LakeTable.load(location).spec

        // same clustering contract as the append write path: one bucket →
        // one writer → K buckets land K replacement files
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          org.apache.spark.sql.connector.distributions.Distributions.clustered(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .column(spec.column)))

        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(spec.column),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))

        override def requiredNumPartitions(): Int = 0

        override def toBatch: BatchWrite =
          new LakeReplaceDataWrite(location, info.schema(),
            LakeRowLevelOperation.this)
      }
    }
}

/** The ReplaceData commit: executor-written replacement files swap in for
  * the operation's scanned files in ONE rewrite commit.
  */
final class LakeReplaceDataWrite(location: String,
    schema: org.apache.spark.sql.types.StructType,
    op: LakeRowLevelOperation) extends BatchWrite {
  // one load for spec id + width: see LakeBatchWrite
  private val (writeSchemaId, writeSpecId, writeSpec, targetBytes) = {
    val t = LakeTable.load(location)
    (t.currentSchemaId, t.currentSpecId, t.spec, LakeDataWriter.targetFor(t))
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LakeCoWWriterFactory(
      new LakeWriterFactory(location, schema.toDDL, writeSpec.column,
        writeSpec.widthMicros, LakeDataWriter.sessionParquetConf(
          org.apache.spark.sql.SparkSession.active), targetBytes),
      schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newFiles: Seq[DataFileMeta] = LakeWriteCommit.stamp(
      LakeWriteCommit.collect(messages), writeSchemaId, writeSpecId)
    LakeTable.load(location)
      .replaceFiles(op.scannedPaths, newFiles, op.scanSnapshot)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    LakeWriteCommit.deleteAll(LakeWriteCommit.collect(messages))
}

/** Adapts group-based ReplaceData rows to the table writer. Spark's
  * group-based plans emit `[__row_operation, <data columns...>]` and only
  * strip the leading operation column itself when the connector requested
  * metadata attributes (DataAndMetadataWritingSparkTask) — without them the
  * raw query row reaches the DataWriter. The data columns are the TRAILING
  * fields of the row in table-schema order, so project them positionally
  * with Spark's own ProjectingInternalRow; rows that already match the
  * table arity (plans with no operation column) pass through untouched.
  * The operation VALUE is irrelevant here: group-based rewrites only emit
  * rows to keep (deletes are simply absent), unlike delta writes.
  */
final class LakeCoWWriterFactory(inner: LakeWriterFactory,
    schema: org.apache.spark.sql.types.StructType) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val d = inner.createWriter(partitionId, taskId)
    val arity = schema.length
    new DataWriter[InternalRow] {
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      override def write(row: InternalRow): Unit =
        if (row.numFields == arity) d.write(row)
        else {
          if (proj == null)
            proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(schema,
              ((row.numFields - arity) until row.numFields).toIndexedSeq)
          proj.project(row)
          d.write(proj)
        }
      // metadata-projected path (DataAndMetadataWritingSparkTask): the data
      // row is already projected to the table schema; `_file` metadata is
      // lineage only — the group swap happens at commit, not per row
      override def write(metadata: InternalRow, row: InternalRow): Unit =
        d.write(row)
      override def commit(): WriterCommitMessage = d.commit()
      override def abort(): Unit = d.abort()
      override def close(): Unit = d.close()
    }
  }
}
