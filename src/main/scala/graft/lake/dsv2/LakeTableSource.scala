package graft.lake.dsv2

import java.util

import graft.lake.{DataFileMeta, LakeTable}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DSv2 "laketable" source (SURVEY §4, §7.3 — the one declared piece of
  * custom Catalyst work): batch scans with manifest-level partition/stats
  * pruning and filter/column pushdown, plus a MicroBatchStream whose
  * offsets are snapshot ids — the reference's incremental-read contract
  * ("all we are interested in are the added files in a commit",
  * reference Writer.java:141-145) as a first-class streaming source.
  *
  * Usage: spark.read.format("laketable").load(loc)
  *        spark.readStream.format("laketable")
  *          .option("startSnapshotId", "0").load(loc)
  */
class LakeTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "laketable"

  private def location(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("laketable requires a path"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeTable.load(location(options)).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // properties preserves the caller's key case — match case-insensitively
    new LakeDsTable(properties.get("path"), {
      val it = properties.entrySet().iterator()
      var found: Option[Long] = None
      while (it.hasNext && found.isEmpty) {
        val e = it.next()
        if (e.getKey.equalsIgnoreCase("snapshotId"))
          found = Some(e.getValue.toLong)
      }
      found
    })
  }
}

final class LakeDsTable(location: String, asOf: Option[Long] = None,
    viaCatalog: Boolean = false)
  extends Table
  with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  private lazy val table = LakeTable.load(location)

  /** `_file` — the per-row data-file path ([[LakeMetaColumns]]). */
  override def metadataColumns()
    : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    LakeMetaColumns.columns

  /** SQL MERGE/UPDATE/DELETE: group-based copy-on-write by default
    * ([[LakeRowLevelOperation]]); the per-command table property
    * (`write.merge.mode` / `write.update.mode` / `write.delete.mode` =
    * `merge-on-read`) selects the delta path instead
    * ([[LakeDeltaOperation]] — position deletes + appends, no rewrite).
    * DELETE also analyzes through here, then Spark's
    * OptimizeMetadataOnlyDeleteFromTable hands filter-expressible deletes
    * back to [[deleteWhere]] — whole-file deletes stay metadata-only.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      import org.apache.spark.sql.connector.write.RowLevelOperation.Command
      val modeKey = info.command() match {
        case Command.DELETE => graft.lake.LakeFormat.PropDeleteMode
        case Command.UPDATE => graft.lake.LakeFormat.PropUpdateMode
        case Command.MERGE => graft.lake.LakeFormat.PropMergeMode
      }
      val mor = LakeTable.load(location).tableMeta.properties
        .get(modeKey).contains(graft.lake.LakeFormat.DeleteModeMergeOnRead)
      if (mor) new LakeDeltaOperation(location, info.command(), viaCatalog)
      else new LakeRowLevelOperation(location, info.command(), viaCatalog)
    }

  /** SQL `DELETE FROM`: pushed filters become one predicate Column for the
    * table's copy-on-write deleteWhere — metadata-only when whole files
    * match (the reference's aligned retention delete, A21), row-rewrite
    * otherwise. Unconvertible filters reject the pushdown so Spark errors
    * instead of deleting the wrong rows.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(LakeDsTable.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val pred = filters.foldLeft(lit(true)) { (acc, f) =>
      acc && LakeDsTable.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(s"cannot delete by $f"))
    }
    table.deleteWhere(org.apache.spark.sql.SparkSession.active, pred)
  }

  override def name(): String = s"laketable.`$location`"
  // a pinned snapshot reads with the schema as of that snapshot
  override def schema(): StructType =
    asOf.map(table.schemaAt).getOrElse(table.schema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(location, table,
      Option(options.get("startSnapshotId")).map(_.toLong), asOf,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      endSnapshot = Option(options.get("endSnapshotId")).map(_.toLong),
      // INTERNAL (maintenance): read raw rows with merge-on-read deletes
      // NOT applied — convertEqualityDeletes scans for the row positions
      // the pending eq keys retire, which the default scan would hide
      skipDeletes =
        Option(options.get("skipDeleteApplication")).exists(_.toBoolean),
      viaCatalog = viaCatalog)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder =
    // viaCatalog gates the bucket-transform write distribution: the
    // transform only resolves when the relation carries a FunctionCatalog
    new LakeWriteBuilder(location, info, viaCatalog)
}

object LakeDsTable {
  /** V2 Filter → Column, for the SQL DELETE path. Returns None for shapes
    * deleteWhere cannot faithfully evaluate (delete must never guess).
    */
  private[dsv2] def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case StringStartsWith(c, p) => Some(col(c).startsWith(p))
      case StringEndsWith(c, p) => Some(col(c).endsWith(p))
      case StringContains(c, p) => Some(col(c).contains(p))
      case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
      case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
      case Not(x) => toColumn(x).map(not)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }
}

/** Filter pushdown = manifest pruning. Filters over the partition column
  * and any column with footer stats narrow the file list; every filter is
  * also returned to Spark for row-level re-evaluation (pruning is an
  * optimization, never a correctness dependency).
  */
final class LakeScanBuilder(location: String, table: LakeTable,
    startSnapshot: Option[Long], asOf: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    endSnapshot: Option[Long] = None,
    skipDeletes: Boolean = false,
    viaCatalog: Boolean = false)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
  with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  // pinned here so an aggregate pushdown and the scan it declines to
  // replace share one manifest walk
  private val snap = ScanSnapshot.pin(table, asOf)
  private var required: StructType =
    asOf.map(table.schemaAt).getOrElse(table.schema)
  private var aggRows: Option[(StructType, Seq[Seq[Any]])] = None
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all filters still evaluated by Spark post-scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT n directly over the scan: plan only enough files (by manifest
    * row count) to cover n rows — `SELECT * FROM t LIMIT 10` on a 10⁶-file
    * table plans one file instead of a million. Partial pushdown: Spark
    * keeps its limit operator for the exact cut; the scan only promises AT
    * LEAST n rows, which manifest counts guarantee — except under pending
    * deletes (masked rows shrink live counts below the manifest number),
    * where the cut is skipped ([[LakeBatchScan.planInputPartitions]]).
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Manifest-aggregate pushdown (SURVEY §4): COUNT(*)/MIN/MAX over
    * stats-covered long columns are answered from manifest metadata — no
    * data file is ever opened. Partial pushdown: one row per data file,
    * Spark runs the final combine. GROUP BY the partition column is also
    * supported (each data file belongs to exactly one bucket, so per-file
    * rows keyed by partition value re-aggregate correctly) — "rows per
    * 5-minute bucket", the reference's operational query, becomes
    * metadata-only. Declined whenever filters are present (they're
    * evaluated row-level) or any file lacks the needed stat.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (pushed.nonEmpty) return false
    // batch incremental read (startSnapshotId): the manifest-aggregate
    // rows below come from the FULL inventory — answering over the
    // increment needs the row-level path
    if (startSnapshot.isDefined) return false
    // pending merge-on-read deletes: manifest row counts/stats include
    // deleted rows — answers must come from the row-level path (which
    // applies the delete masks)
    if (snap.deletes.nonEmpty) return false
    val groupByPart = agg.groupByExpressions.toSeq match {
      case Nil => false
      case Seq(n: NamedReference)
        if n.fieldNames.sameElements(Array(table.spec.column)) => true
      case _ => return false // any other grouping: full row-level path
    }
    val files = snap.files
    // Truncate partitioning (widthMicros > 1) admits in-bucket variation:
    // rows keep raw values while a file only records its bucket start, so
    // answering GROUP BY <part col> from manifests would collapse every
    // distinct in-bucket value into one group keyed by the bucket start.
    // Push down only when per-file footer stats PROVE the column constant
    // and equal to the bucket start (longMin == longMax == partitionValue
    // for every file) or the transform is identity (width 1); otherwise
    // fall back to the row-level path.
    if (groupByPart && !files.forall { f =>
        table.specFor(f).widthMicros == 1L ||
          f.stats.get(table.spec.column).exists(s =>
            s.longMin.contains(f.partitionValue) &&
              s.longMax.contains(f.partitionValue))
      }) return false
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames.head)
        case _ => None
      }
    def longStat(f: DataFileMeta, c: String): Option[(Long, Long)] =
      f.stats.get(c).flatMap(s => for { lo <- s.longMin; hi <- s.longMax } yield (lo, hi))
    def fieldType(c: String): Option[DataType] =
      table.schema.fields.find(_.name == c).map(_.dataType)
    val plans: Seq[Option[(StructField, DataFileMeta => Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            (f: DataFileMeta) => f.rowCount))
        case m: Min => colName(m.column).flatMap { c =>
          fieldType(c).collect { case t @ (LongType | TimestampType)
              if files.forall(longStat(_, c).isDefined) =>
            (StructField(s"min($c)", t), (f: DataFileMeta) => longStat(f, c).get._1)
          }
        }
        case m: Max => colName(m.column).flatMap { c =>
          fieldType(c).collect { case t @ (LongType | TimestampType)
              if files.forall(longStat(_, c).isDefined) =>
            (StructField(s"max($c)", t), (f: DataFileMeta) => longStat(f, c).get._2)
          }
        }
        case _ => None
      }
    if (plans.exists(_.isEmpty) || plans.isEmpty) return false
    // group-by pushdown contract: grouping columns lead the output row
    val groupFields =
      if (!groupByPart) Nil
      else Seq(StructField(table.spec.column,
        fieldType(table.spec.column).getOrElse(LongType), nullable = false))
    val fields = groupFields ++ plans.map(_.get._1)
    val rows = files.map(f =>
      (if (groupByPart) Seq(f.partitionValue) else Nil) ++ plans.map(_.get._2(f)))
    aggRows = Some((StructType(fields.toArray), rows))
    true
  }

  override def build(): Scan = aggRows match {
    case Some((aggSchema, rows)) => new Scan {
      override def readSchema(): StructType = aggSchema
      override def description(): String =
        s"laketable manifest-aggregate scan: ${aggSchema.fieldNames.mkString(", ")}"
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          Array(LakeAggPartition(rows.map(_.map(_.asInstanceOf[Long]))))
        override def createReaderFactory(): PartitionReaderFactory =
          new LakeAggReaderFactory
      }
    }
    case None =>
      new LakeBatchScan(location, table, required, pushed, startSnapshot, asOf,
        snap, maxFilesPerTrigger, pushedLimit = limit,
        maxBytesPerTrigger = maxBytesPerTrigger, endSnapshot = endSnapshot,
        skipDeletes = skipDeletes, viaCatalog = viaCatalog)
  }
}

/** Stats-based file acceptance shared by build-time pruning (pushed
  * filters) and runtime pruning (join-derived filters, below).
  */
object LakeStatsPruning {

  /** Stats-based file acceptance for one filter: reject ONLY when the
    * manifest stats PROVE no row can match — any unknown (missing stat,
    * unhandled type, unhandled filter shape) keeps the file; row-level
    * re-evaluation is always behind us (pushFilters returns everything).
    * Long and string domains are both consulted; And/Or recurse so compound
    * predicates (e.g. a date OR over two ranges) still prune.
    */
  def accept(spec: graft.lake.TruncateSpec, f: DataFileMeta,
      filter: Filter): Boolean = {
    def rec(filter: Filter): Boolean = accept(spec, f, filter)
    val part = spec.column
    def longRange(col: String): Option[(Long, Long)] =
      if (col == part)
        Some((f.partitionValue, f.partitionValue + spec.widthMicros - 1))
      else f.stats.get(col)
        .flatMap(s => for { lo <- s.longMin; hi <- s.longMax } yield (lo, hi))
    def strRange(col: String): Option[(String, String)] =
      f.stats.get(col)
        .flatMap(s => for { lo <- s.strMin; hi <- s.strMax } yield (lo, hi))
    def longOf(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case t: java.sql.Timestamp =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
      case t: java.time.Instant =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
      case _ => None
    }
    def strOf(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    /** Evaluate a comparison in whichever stat domain the value belongs to. */
    def cmp(c: String, v: Any,
        onLong: ((Long, Long), Long) => Boolean,
        onStr: ((String, String), String) => Boolean): Boolean =
      longOf(v).map(x => longRange(c).forall(onLong(_, x)))
        .orElse(strOf(v).map(x => strRange(c).forall(onStr(_, x))))
        .getOrElse(true)

    filter match {
      case EqualTo(c, v) =>
        cmp(c, v, { case ((lo, hi), x) => x >= lo && x <= hi },
          { case ((lo, hi), x) => x >= lo && x <= hi })
      case EqualNullSafe(c, null) => rec(IsNull(c))
      case EqualNullSafe(c, v) => rec(EqualTo(c, v))
      case In(c, values) =>
        // SQL IN: NULL elements never match; an all-NULL/empty list matches
        // no row regardless of stats
        values.filter(_ != null) match {
          case vs if vs.isEmpty => false
          case vs => vs.exists(v => rec(EqualTo(c, v)))
        }
      case IsNull(c) =>
        // prune only when the footer proved zero nulls
        f.stats.get(c).flatMap(_.nullCount).forall(_ > 0)
      case IsNotNull(c) =>
        // prune only when the footer proved the column is entirely null
        f.stats.get(c).flatMap(s =>
          for { n <- s.nullCount; v <- s.valueCount } yield n < v).getOrElse(true)
      case GreaterThan(c, v) =>
        cmp(c, v, { case ((_, hi), x) => hi > x }, { case ((_, hi), x) => hi > x })
      case GreaterThanOrEqual(c, v) =>
        cmp(c, v, { case ((_, hi), x) => hi >= x }, { case ((_, hi), x) => hi >= x })
      case LessThan(c, v) =>
        cmp(c, v, { case ((lo, _), x) => lo < x }, { case ((lo, _), x) => lo < x })
      case LessThanOrEqual(c, v) =>
        cmp(c, v, { case ((lo, _), x) => lo <= x }, { case ((lo, _), x) => lo <= x })
      case StringStartsWith(c, p) =>
        // any s with prefix p satisfies s >= p and s.take(|p|) == p; since
        // x <= y implies x.take(n) <= y.take(n), lo.take(|p|) > p proves
        // every value's |p|-prefix exceeds p
        strRange(c).forall { case (lo, hi) => hi >= p && lo.take(p.length) <= p }
      case And(l, r) => rec(l) && rec(r)
      case Or(l, r) => rec(l) || rec(r)
      case _ => true
    }
  }
}

/** Test/diagnostic visibility into scan planning (the planned-file count is
  * otherwise unobservable from the public plan once runtime filters apply).
  */
object LakeScanMetrics {
  @volatile var lastPlannedFiles: Int = -1
  /** location → planned file count of the most recent batch scan of that
    * table — lets a spec observe ONE table's pruning inside a plan that
    * scans several tables (gate plans read the data AND index tables).
    * BOUNDED: scratch tables are UUID-named and dropped after each entry,
    * so an unbounded map leaks one key per table ever scanned across a
    * long Verify/bench session; observers only ever ask about tables
    * scanned moments ago, so keeping the most recent 64 loses nothing. */
  @volatile var lastPlannedByLocation: Map[String, Int] = Map.empty
  private val recentLocations = new java.util.LinkedHashMap[String, Int](
      64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Int]): Boolean = size() > 64
  }
  private[dsv2] def record(location: String, planned: Int): Unit =
    synchronized {
      lastPlannedFiles = planned
      recentLocations.put(location, planned)
      lastPlannedByLocation = {
        import scala.jdk.CollectionConverters._
        recentLocations.asScala.toMap
      }
    }
}

/** Metadata columns (SupportsMetadataColumns): `_file` is the data-file
  * path of each row — the audit column (`SELECT _file, count(*) ...`) and,
  * more importantly, the GROUP IDENTITY for copy-on-write row-level
  * operations: runtime group filtering aggregates `_file` over matching
  * rows and the scan prunes to exactly those files (the same design the
  * public Iceberg connector uses). `_pos` is the row's global position
  * within its data file (the position-delete coordinate system);
  * `(_file, _pos)` together are the ROW IDENTITY delta-based (merge-on-
  * read) row-level operations delete by.
  */
object LakeMetaColumns {
  val FileColumn = "_file"
  val PosColumn = "_pos"

  val columns: Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = FileColumn
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "path of the data file holding the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = PosColumn
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "row position within the data file (position-delete coordinates)"
      })

  /** Does this V1 filter accept the file, interpreting `_file` against the
    * file's own path? Non-`_file` legs fall back to stats pruning (which
    * keeps any file it cannot disprove, so unknown shapes stay safe).
    */
  def accept(spec: graft.lake.TruncateSpec, f: DataFileMeta,
      filter: Filter): Boolean = filter match {
    case In(FileColumn, vs) => vs.exists(v => v != null && v.toString == f.path)
    case EqualTo(FileColumn, v) => v != null && v.toString == f.path
    case And(l, r) => accept(spec, f, l) && accept(spec, f, r)
    case Or(l, r) => accept(spec, f, l) || accept(spec, f, r)
    case other => LakeStatsPruning.accept(spec, f, other)
  }
}

/** The snapshot one scan reads, pinned once, with its data-file and
  * delete-file lists each walked at most once. Planning asks for them
  * several times (aggregate pushdown, statistics, partitioning,
  * runtime-filter attributes, partitions, the reader factory); the memo
  * lives only as long as the builder and scan that hold it, so nothing
  * outlives the query.
  */
final class ScanSnapshot private (table: LakeTable, val id: Long) {
  lazy val files: Seq[DataFileMeta] = table.files(id)
  lazy val deletes: Seq[graft.lake.DeleteFileMeta] = table.deleteFilesMeta(id)
}

object ScanSnapshot {
  /** `asOf`, or the table's current snapshot. */
  def pin(table: LakeTable, asOf: Option[Long]): ScanSnapshot =
    new ScanSnapshot(table, asOf.getOrElse(table.currentSnapshotId))
}

/** The data scan. Three scale-relevant contracts beyond the basic Batch:
  *
  *  - [[SupportsRuntimeFiltering]]: join-derived runtime filters (dynamic
  *    partition pruning) re-prune the file list before execution — a join
  *    against a filtered dimension on the partition column (or any
  *    stats-covered column) reads only matching files, the V2 analog of
  *    Hive-style DPP.
  *  - [[SupportsReportStatistics]]: sizeInBytes/rowCount from the manifest
  *    (post-pruning), so Catalyst can auto-broadcast a small laketable —
  *    without it a V2 relation defaults to "huge" and never broadcasts.
  *  - micro-batch streaming with snapshot-id offsets.
  */
final class LakeBatchScan(location: String, table: LakeTable,
    required: StructType, pushed: Array[Filter], startSnapshot: Option[Long],
    asOf: Option[Long], snap: ScanSnapshot,
    maxFilesPerTrigger: Option[Int] = None,
    planListener: Option[Seq[DataFileMeta] => Unit] = None,
    pushedLimit: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    endSnapshot: Option[Long] = None,
    // maintenance-internal: plan NO delete refs — the eq→pos conversion
    // scan needs the rows the deletes would mask (its `_pos` projection
    // still routes it down the row path; that is the position source)
    skipDeletes: Boolean = false,
    // resolved through LakeCatalog, the only route by which Spark can
    // resolve the reported truncate transform ([[keyGrouped]])
    viaCatalog: Boolean = false)
  extends Scan with Batch with SupportsRuntimeFiltering
  with SupportsReportStatistics with SupportsReportPartitioning {

  private var runtime: Array[Filter] = Array.empty

  // the pinned snapshot's file list (time travel: that version's).
  // BATCH incremental read (A25's batch form, the Iceberg incremental
  // surface): with startSnapshotId the scan plans only the files APPEND
  // snapshots added over (start, end] — same never-re-deliver-compacted
  // contract as the streaming source, one walk over the range
  // (addedFilesBetween). Walked once per scan: statistics, partitioning,
  // runtime-filter attributes and partition planning all read it, and
  // runtime filters re-prune it in memory.
  private lazy val liveFiles: Seq[DataFileMeta] = startSnapshot match {
    case Some(from) => table.addedFilesBetween(from, endSnapshot.getOrElse(snap.id))
    case None => snap.files
  }

  /** Schema def the scan's column names resolve against (rename/drop
    * evolution): current, or the pinned def of a time-travel snapshot.
    */
  private lazy val readDef: graft.lake.SchemaDef = table.schemaDefAt(snap.id)

  /** Stats/filter pruning sees CURRENT column names; a file written under
    * an older schema keys its footer stats by its PHYSICAL names. Translate
    * through field ids before pruning — a field the file predates (or that
    * was dropped and re-added) simply has no stats, which pruning treats
    * as "cannot disprove" and keeps the file. Identity (and free) for
    * never-evolved tables.
    */
  private def statsAligned(f: DataFileMeta): DataFileMeta = {
    val metaSchemas = table.tableMeta.schemas
    if (metaSchemas.isEmpty || f.schemaId == readDef.id) f
    else metaSchemas.find(_.id == f.schemaId) match {
      case None => f
      case Some(fd) =>
        val translated = readDef.names.iterator.zip(readDef.ids.iterator)
          .flatMap { case (n, fid) =>
            fd.nameOf(fid).flatMap(f.stats.get).map(n -> _)
          }.toMap
        f.copy(stats = translated)
    }
  }

  // per-file spec: partitionValue covers [start, start + OWN width)
  private def accepts(filters: Array[Filter])(f: DataFileMeta): Boolean =
    filters.forall(LakeMetaColumns.accept(table.specFor(f), statsAligned(f), _))

  /** Files the pushed filters keep. Runtime filters and a pushed LIMIT
    * only ever narrow this set, so a property checked here holds for every
    * file the scan can end up planning.
    */
  private lazy val pushedFiles: Seq[DataFileMeta] = liveFiles.filter(accepts(pushed))

  private def prunedFiles: Seq[DataFileMeta] =
    if (runtime.isEmpty) pushedFiles else pushedFiles.filter(accepts(runtime))

  /** Files the scan actually plans: pruned, then cut to a pushed LIMIT
    * when that is sound (no filters of either kind — they drop rows
    * post-scan — and no pending deletes, whose masks shrink live counts
    * below the manifest numbers). Shared by partition planning, the
    * reported partitioning, and statistics so they can never disagree.
    */
  private def plannedFiles: Seq[DataFileMeta] = {
    val files = prunedFiles
    pushedLimit match {
      case Some(n) if pushed.isEmpty && runtime.isEmpty && snap.deletes.isEmpty =>
        var acc = 0L
        files.takeWhile { f => val need = acc < n; acc += f.rowCount; need }
      case _ => files
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"laketable scan ${table.location} [${required.fieldNames.mkString(", ")}]" +
      s" pushed=${pushed.mkString(", ")}"

  /** Columns whose stats can actually prune: the partition column always;
    * others only when every current file carries a stats domain for them
    * (a runtime filter on a statless column could never reject a file, so
    * advertising it would buy a useless subquery). Restricted to the
    * projected output — Spark resolves these refs against the pruned scan
    * schema and errors on anything absent from it.
    */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] = {
    // Row-level (CoW) scans advertise ONLY `_file`: runtime group filtering
    // builds ONE dynamic predicate over ALL advertised attributes (a
    // struct-IN when there are several, which no V1 filter can express and
    // so would prune nothing) — a single `_file IN (matching files)` is
    // both convertible and the exact group identity the rewrite needs.
    if (planListener.isDefined)
      return Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(LakeMetaColumns.FileColumn))
    val files = liveFiles
    val statCovered = table.schema.fieldNames.filter { c =>
      files.nonEmpty && files.forall(f => f.stats.get(c).exists(s =>
        s.longMin.isDefined || s.strMin.isDefined))
    }
    (statCovered.toSet + table.spec.column)
      .intersect(required.fieldNames.toSet).toArray.map(
        org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = runtime = filters

  /** Whether Spark can use a key-grouped partitioning of this scan, decided
    * once so that [[outputPartitioning]] and [[planInputPartitions]] cannot
    * disagree. Three conditions, all required:
    *  - the table came through [[LakeCatalog]]: Spark resolves the reported
    *    truncate transform only through the relation's FunctionCatalog
    *    ([[TruncateFunction]]), so a path-based read would drop the claim;
    *  - the pruned read schema holds the partition column: Spark keeps the
    *    claim only when its references are in the scan's output;
    *  - the planned files share one spec width: mid-migration (before
    *    compaction re-buckets old files) two widths bucket the column
    *    differently, and a wrong co-partitioning claim would silently
    *    mis-join where a missing one merely costs a shuffle.
    * Evaluated on first use, which is Catalyst's partitioning query, before
    * any runtime filter: runtime filters only drop files, so a one-width
    * set stays one-width.
    */
  private lazy val keyGrouped: Boolean =
    viaCatalog && required.fieldNames.contains(table.spec.column) &&
      plannedFiles.map(table.specFor(_).widthMicros).distinct.size <= 1

  /** Storage-partitioned-join contract. When [[keyGrouped]], rows are
    * clustered by truncate_<width>(partitionCol), one partition value per
    * scan task: two laketable scans with the same width are then
    * co-partitioned and a join on the partition column needs NO shuffle on
    * either side — with `spark.sql.sources.v2.bucketing.pushPartValues.enabled`,
    * bucket sets that don't line up zip with empty slots instead of falling
    * back. Runtime file pruning composes: dropped buckets are a subset of
    * the reported partition values, which BatchScanExec backfills as empty
    * partitions. Otherwise the scan reports no partitioning, and its tasks
    * are free to span buckets.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    if (!keyGrouped)
      return new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    val files = plannedFiles
    val width = files.headOption.map(table.specFor(_).widthMicros)
      .getOrElse(table.spec.widthMicros)
    val key = Expressions.apply(TruncateFunction.nameFor(width),
      Expressions.column(table.spec.column))
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(key), files.map(_.partitionValue).distinct.size)
  }

  // merge-on-read deletes the scan applies (none for the maintenance scan)
  private lazy val dels: Seq[graft.lake.DeleteFileMeta] =
    if (skipDeletes) Nil else snap.deletes

  /** Each file's candidate delete files (position entries range-pruned by
    * data path, equality entries sequence-pruned); readers apply them as
    * skip masks / key sets.
    */
  private lazy val deletesFor: DataFileMeta => Seq[DeleteSliceRef] =
    if (dels.isEmpty) _ => Nil
    else {
      // qualified through the table's fs: the metadata's scheme-less
      // form would make the reader's FileSplit resolve the DEFAULT fs.
      // Qualified ONCE per delete entry (a small Seq) — inside the
      // per-file closure it would re-run Path/URI construction once
      // per (data file × matched delete), 10⁶+ times at planning scale
      val qualified = dels.iterator
        .map(d => d.path -> table.qualifiedDeletePath(d.path)).toMap
      f => table.deletesFor(dels, f)
        .map(d => DeleteSliceRef(qualified(d.path), d.sizeBytes, d.eqColumns))
    }

  /** Whether any file the pushed filters keep has a candidate delete — a
    * superset of the files planned after runtime filtering, so a `false`
    * here proves that no planned slice carries a delete.
    */
  private lazy val hasDeletes: Boolean =
    dels.nonEmpty && pushedFiles.exists(table.deletesFor(dels, _).nonEmpty)

  override def planInputPartitions(): Array[InputPartition] = {
    val files = plannedFiles
    LakeScanMetrics.record(location, files.size)
    // row-level (CoW) operations record the planned group here — the set
    // their ReplaceData commit swaps out (post-runtime-filter truth)
    planListener.foreach(_(files))
    LakePartitionPacker.pack(files, keyed = keyGrouped, deletesFor)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeReaderFactory(required.toDDL, pushed ++ runtime,
      // Spark rejects mixed columnar/row partition sets, so a candidate
      // delete on ANY file the filters keep sends the whole scan down the
      // row path; scans whose files carry none (the overwhelming
      // majority) stay columnar
      hasDeletes = hasDeletes,
      // full table schema: equality-delete key columns may lie outside the
      // projection and need their types for the injected read
      tableSchemaDdl = asOf.map(table.schemaAt).getOrElse(table.schema).toDDL,
      readSchemaId = readDef.id,
      schemaDefs = table.tableMeta.schemas)

  override def estimateStatistics(): Statistics = {
    val files = plannedFiles
    // pending MoR deletes shrink the row estimate (position counts may
    // double-mark a row — estimates, not answers; clamped at 0)
    val pendingDeletes = snap.deletes.map(_.rowCount).sum
    val rows = math.max(0L, files.map(_.rowCount).sum - pendingDeletes)
    // scale the on-disk size by projection width so a narrow projection of
    // a wide table can still broadcast (same spirit as the built-in file
    // source's column-pruned sizing)
    val width = math.max(1, required.fields.length)
    val total = math.max(1, table.schema.fields.length)
    val bytes = files.map(_.sizeBytes).sum * width / total
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LakeMicroBatchStream(location, required, startSnapshot.getOrElse(0L),
      maxFilesPerTrigger, maxBytesPerTrigger)
}

/** One row of pre-aggregated manifest values per data file (all long-domain). */
final case class LakeAggPartition(rows: Seq[Seq[Long]]) extends InputPartition

final class LakeAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[LakeAggPartition].rows
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: Seq[Long] = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow =
        InternalRow.fromSeq(cur)
      override def close(): Unit = ()
    }
  }
}

/** A delete parquet that may mark rows of a slice's data file as deleted
  * (merge-on-read). `eqCols` empty = position delete — readers load its
  * (file_path, pos) rows for their file into a skip bitmap. `eqCols`
  * non-empty = equality delete — readers load its key rows into a hash
  * set and drop matching rows (the CDC-upsert retirement path).
  */
final case class DeleteSliceRef(path: String, sizeBytes: Long,
    eqCols: Seq[String] = Nil)

/** One byte range of one data file. `start == 0 && length == fileSize` for
  * unsplit files; larger files are carved into ranges and the parquet
  * reader consumes exactly the row groups whose midpoint falls inside
  * [start, start+length) — the same contract the built-in file source uses,
  * so ranges never duplicate or drop a row group. `rowCount` is the whole
  * file's count attributed to the FIRST range only (it feeds the
  * no-columns-projected COUNT(*) path, which never opens files).
  * `deletes` lists the position-delete files that can reference this data
  * file (pruned by data-path range at planning).
  */
final case class LakeFileSlice(
    path: String, rowCount: Long, start: Long, length: Long,
    deletes: Seq[DeleteSliceRef] = Nil,
    // [[graft.lake.SchemaDef]] id the file was written under: readers with
    // a DIFFERENT read schema id request the file's physical column names
    // (resolved through field ids) instead of the current ones
    schemaId: Int = 0)

/** One scan task = one bin-packed run of file ranges (below). A task of a
  * key-grouped scan ([[LakeBatchScan.keyGrouped]]) holds one partition
  * bucket, and `bucket` is the task's partition key (HasPartitionKey):
  * with `spark.sql.sources.v2.bucketing.enabled` on, Spark groups tasks by
  * key and key-grouped joins/aggregations skip their shuffle
  * (storage-partitioned join). Any other task may span buckets; its
  * `bucket` is 0 and Spark never reads it.
  */
final case class LakeInputPartition(files: Seq[LakeFileSlice], bucket: Long = 0L)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Carves data files into scan tasks with the built-in FileSourceScan
  * formula: maxSplit = min(maxPartitionBytes, max(openCostInBytes,
  * totalBytes / parallelism)); files larger than maxSplit split into byte
  * ranges (no straggler task pinned to one huge file), smaller ones
  * bin-pack together (no per-file task-launch tax — the naive
  * one-task-per-file plan ran ~2.7× raw parquet on a 300-file table).
  * Tiny-file tables still get one file per task (openCost floor), so
  * manifest pruning remains observable as partition counts.
  *
  * One next-fit loop walks the slices bucket by bucket, largest first
  * within a bucket. `keyed` closes the open task at every bucket boundary,
  * so each task's rows share one partition value and the task is
  * key-addressable for a storage-partitioned join; only a scan whose
  * key-grouped claim Spark can use asks for it ([[LakeBatchScan.keyGrouped]]).
  * Every other scan lets a task run on into the next bucket, so a
  * many-bucket read of small files runs a handful of tasks instead of one
  * per file. Task SIZING is global either way (maxSplit over the whole
  * file set), and since next-fit starting from a partly filled task never
  * opens more tasks than starting from an empty one, the unkeyed plan is
  * never larger than the keyed one.
  */
object LakePartitionPacker {
  def pack(files: Seq[DataFileMeta], keyed: Boolean,
      deletesFor: DataFileMeta => Seq[DeleteSliceRef] = _ => Nil)
      : Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val parallelism = math.max(1,
      conf.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism))
    val totalBytes = files.map(_.sizeBytes + openCost).sum
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / parallelism))
    val parts = Array.newBuilder[InputPartition]
    val cur = Seq.newBuilder[LakeFileSlice]
    var curSize = 0L
    var curEmpty = true
    var curBucket = 0L
    def close(): Unit = if (!curEmpty) {
      parts += LakeInputPartition(cur.result(), curBucket)
      cur.clear(); curSize = 0L; curEmpty = true
    }
    files.groupBy(_.partitionValue).toSeq.sortBy(_._1).foreach {
      case (bucket, group) =>
        if (keyed) { close(); curBucket = bucket }
        val slices = group.flatMap { f =>
          val dels = deletesFor(f)
          if (f.sizeBytes <= maxSplit || maxSplit <= 0)
            Seq(LakeFileSlice(f.path, f.rowCount, 0L, f.sizeBytes, dels,
              f.schemaId))
          else (0L until f.sizeBytes by maxSplit).map { off =>
            LakeFileSlice(f.path, if (off == 0) f.rowCount else 0L,
              off, math.min(maxSplit, f.sizeBytes - off), dels, f.schemaId)
          }
        }
        slices.sortBy(-_.length).foreach { s =>
          if (curSize + s.length > maxSplit) close()
          cur += s
          curSize += s.length + openCost
          curEmpty = false
        }
    }
    close()
    parts.result()
  }
}

/** Reader factory over the pruned file list. The projected schema lives
  * here (ONE serialized copy) rather than on every InputPartition — at 10⁶
  * files the per-partition payload is just (path, rowCount).
  *
  * Read path: Spark's own VectorizedParquetRecordReader, the same columnar
  * decoder the built-in parquet source uses — batch scans hand ColumnarBatch
  * straight to the exec (ColumnarToRow + whole-stage codegen take over),
  * contexts that want rows (empty projection, any non-vectorizable type)
  * fall back to the same reader in row mode. This replaces the former
  * row-at-a-time parquet-hadoop Group reader, which was a 10-50× scan
  * handicap for exactly the table the engine is about.
  */
final class LakeReaderFactory(schemaDdl: String,
    filters: Array[Filter] = Array.empty,
    hasDeletes: Boolean = false,
    tableSchemaDdl: String = "",
    // rename/drop evolution: the read snapshot's schema def id plus the
    // table's (bounded — one entry per DDL change) registry. Empty
    // registry = never evolved = every file's physical names are the
    // current names, all mapping short-circuits to identity.
    readSchemaId: Int = 0,
    schemaDefs: Seq[graft.lake.SchemaDef] = Nil) extends PartitionReaderFactory {
  private lazy val schema: StructType =
    if (schemaDdl.isEmpty) new StructType() else StructType.fromDDL(schemaDdl)
  private lazy val tableSchema: StructType =
    if (tableSchemaDdl.isEmpty) schema else StructType.fromDDL(tableSchemaDdl)

  private lazy val defsById: Map[Int, graft.lake.SchemaDef] =
    schemaDefs.map(d => d.id -> d).toMap
  /** Requested-schema fields with each column's name translated to the
    * FILE's physical name (same positions, same types — downstream is
    * positional). A field id absent from the file's def (column added, or
    * dropped-then-re-added, after the file was written) maps to a sentinel
    * name no parquet file contains, so the reader null-fills it — the same
    * mechanism as plain missing columns, but keyed by id: a re-added
    * column's STALE same-named parquet data stays dead.
    */
  private def mappedFields(fields: Array[StructField],
      fileSid: Int): Array[StructField] = {
    val rd = defsById.get(readSchemaId).orNull
    val fd = defsById.get(fileSid).orNull
    if (rd == null || fd == null) return fields // unknown → identity
    fields.map { f =>
      val i = rd.names.indexWhere(_.equalsIgnoreCase(f.name))
      if (i < 0) f // not a table column (e.g. row-index temp): keep as-is
      else {
        val fid = rd.ids(i)
        fd.nameOf(fid) match {
          case Some(phys) if phys == f.name => f
          case Some(phys) => f.copy(name = phys)
          case None => f.copy(name = s"__graft_absent_$fid", nullable = true)
        }
      }
    }
  }

  // `_file` metadata column: parquet never sees it — the reader decodes
  // dataSchema and injects the slice's path as a constant (a
  // ConstantColumnVector in the columnar path, a projected join in the row
  // path), so metadata-requesting scans stay vectorized. `_pos` rides
  // Spark's row-index generator (row path only — delta row-level scans are
  // the consumer, never the hot analytical path).
  private lazy val fileIdx: Int =
    schema.fieldNames.indexOf(LakeMetaColumns.FileColumn)
  private lazy val posIdx: Int =
    schema.fieldNames.indexOf(LakeMetaColumns.PosColumn)
  private lazy val dataSchema: StructType =
    StructType(schema.fields.filterNot(f =>
      f.name == LakeMetaColumns.FileColumn || f.name == LakeMetaColumns.PosColumn))
  // physical slots among [data cols..., rowIdx?, constFile?] for schema idx i
  private def metaBefore(i: Int): Int =
    (if (fileIdx >= 0 && fileIdx < i) 1 else 0) +
      (if (posIdx >= 0 && posIdx < i) 1 else 0)

  // Hadoop Configuration construction loads the default XML resources —
  // milliseconds per call. Paid once per (JVM, projection) instead of once
  // per file: at many-small-file scale the per-file open cost must be I/O,
  // not conf parsing. The cached conf is read-only after construction and
  // shared across concurrent tasks (Configuration reads are thread-safe).
  private lazy val baseConf: org.apache.hadoop.conf.Configuration =
    LakeReaderFactory.confFor(dataSchema.toDDL, dataSchema)

  /** Row-group predicate pushdown: pushed (and runtime) filters convert to
    * a parquet FilterPredicate via Spark's own ParquetFilters, so the
    * reader's footer pass skips row groups whose stats preclude a match —
    * the intra-file analog of manifest pruning, and the payoff of
    * clustering/z-order INSIDE surviving files. Safe by construction:
    * pushFilters returns every filter for Spark-side re-evaluation, so
    * this can only skip data parquet PROVES cannot match.
    */
  private lazy val cachedConf: org.apache.hadoop.conf.Configuration = {
    // `_file` predicates are file-level (handled at planning); only
    // data-column filters can become parquet row-group predicates
    val dataFilters = filters.filter(
      _.references.forall(_ != LakeMetaColumns.FileColumn))
    if (dataFilters.isEmpty || dataSchema.isEmpty) baseConf
    else {
      val messageType = new org.apache.spark.sql.execution.datasources.parquet
        .SparkToParquetSchemaConverter(
          false, // writeLegacyParquetFormat
          org.apache.spark.sql.internal.SQLConf.ParquetOutputTimestampType
            .TIMESTAMP_MICROS,
          false, // useFieldId
          false  // variant annotation
        ).convert(dataSchema)
      val pf = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFilters(messageType,
          true, true, true, true, 10, false,
          org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
            org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED, None))
      val preds = dataFilters.toSeq.flatMap(pf.createFilter(_))
      if (preds.isEmpty) baseConf
      else {
        val conf = new org.apache.hadoop.conf.Configuration(baseConf)
        org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf,
          preds.reduce(org.apache.parquet.filter2.predicate.FilterApi.and))
        conf
      }
    }
  }

  private def vectorizable: Boolean =
    dataSchema.nonEmpty && dataSchema.fields.forall(f => f.dataType match {
      case _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    })

  /** Scans whose files carry candidate merge-on-read deletes take the row
    * path (per-row skip against the delete mask, and Spark requires the
    * partition set to be uniformly columnar or row); delete-free scans —
    * the overwhelming majority of reads, since compaction materializes
    * deletes away and filters prune the files deletes touch — keep the
    * columnar fast path.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorizable && !hasDeletes && posIdx < 0

  /** Read schema for a slice that needs columns beyond the projection
    * (equality-delete keys) and/or Spark's temporary row-index column —
    * the vectorized reader populates GLOBAL row positions for every
    * produced row, correct under byte-range splits AND row-group predicate
    * skipping, exactly the coordinate system position-delete files are
    * written in. One Configuration per (extras, withIdx) variant, cached:
    * Configuration construction costs milliseconds and a scan sees at most
    * a handful of variants.
    */
  private val readConfCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.hadoop.conf.Configuration]()

  // per-vintage field types (defId -> fieldId -> type), for the widening
  // filter gate below
  private lazy val typesByDef
      : Map[Int, Map[Int, org.apache.spark.sql.types.DataType]] =
    schemaDefs.map { d =>
      val st = StructType.fromDDL(d.ddl)
      d.id -> d.ids.zip(st.fields.map(_.dataType)).toMap
    }.toMap

  private lazy val filterRefNames: Set[String] =
    filters.flatMap(_.references).map(_.toLowerCase).toSet

  /** TYPE WIDENING gate for the row-group predicate: the FilterPredicate
    * is built against the CURRENT (wide) types, and parquet-mr rejects a
    * Long/Double predicate on an INT32/FLOAT column at file open. A file
    * whose vintage stored a FILTERED column under a different physical
    * type must read through baseConf — the decode still widens (the
    * requested schema keeps the logical types); only row-group skipping
    * is forfeited, and Spark re-evaluates every filter post-scan.
    */
  private def filterTypesMatch(sid: Int): Boolean =
    sid == readSchemaId || filters.isEmpty || defsById.isEmpty || {
      (for {
        rd <- defsById.get(readSchemaId)
        rdT <- typesByDef.get(readSchemaId)
        fdT <- typesByDef.get(sid)
      } yield rd.names.iterator.zip(rd.ids.iterator).forall { case (n, fid) =>
        !filterRefNames.contains(n.toLowerCase) ||
          fdT.get(fid).forall(_ == rdT(fid))
      }).getOrElse(false)
    }

  private def readConfFor(extras: Seq[StructField], withIdx: Boolean,
      sid: Int): org.apache.hadoop.conf.Configuration = {
    // identity = the file's physical names ARE the requested names: same
    // schema id, no registry, or a mapping that touches no projected column
    val logical = dataSchema.fields ++ extras
    val phys =
      if (sid == readSchemaId || defsById.isEmpty) logical
      else mappedFields(logical, sid)
    val identity = (phys eq logical) ||
      phys.iterator.zip(logical.iterator).forall { case (a, b) => a.name == b.name }
    val filterSafe = filterTypesMatch(sid)
    if (identity && filterSafe && extras.isEmpty && !withIdx) return cachedConf
    val fields = (if (identity) logical else phys) ++
      (if (withIdx) Seq(StructField(
        org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
          // nullable: the column is "missing" from the file by design — the
          // reader's RowIndexGenerator fills it (a REQUIRED missing column
          // would fail the reader's schema check instead)
          .ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true))
      else Nil)
    val s = StructType(fields)
    readConfCache.computeIfAbsent(s.toDDL + withIdx + identity + filterSafe, _ => {
      // mapped (non-identity) or type-widened slices build on baseConf,
      // NOT cachedConf: the parquet row-group predicate references
      // CURRENT column names/types, which the file doesn't have. Spark
      // re-evaluates every filter post-scan, so dropping the predicate
      // loses skipping, not rows.
      val c = new org.apache.hadoop.conf.Configuration(
        if (identity && filterSafe) cachedConf else baseConf)
      c.set(org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, s.json)
      c
    })
  }

  /** Positions of `slice.path` rows marked deleted, as a bitmap. Loaded
    * per (task, slice) from the slice's candidate POSITION-delete files —
    * delete parquets are small and range-pruned, so this is a bounded
    * scan, not a broadcast of global delete state.
    */
  private def deletedBits(slice: LakeFileSlice): java.util.BitSet = {
    val bits = new java.util.BitSet()
    val target = org.apache.spark.unsafe.types.UTF8String.fromString(slice.path)
    slice.deletes.filter(_.eqCols.isEmpty).foreach { d =>
      val r = new org.apache.spark.sql.execution.datasources.parquet
        .VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
      val split = new org.apache.hadoop.mapred.FileSplit(
        new org.apache.hadoop.fs.Path(d.path), 0, d.sizeBytes, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        LakeReaderFactory.deleteFileConf,
        new org.apache.hadoop.mapreduce.TaskAttemptID())
      try {
        r.initialize(split, ctx)
        while (r.nextKeyValue()) {
          val row = r.getCurrentValue.asInstanceOf[InternalRow]
          if (row.getUTF8String(0).equals(target)) {
            val pos = row.getLong(1)
            // per-file positions fit an int by construction (a single
            // parquet file never holds 2^31 rows)
            bits.set(pos.toInt)
          }
        }
      } finally r.close()
    }
    bits
  }

  /** Live rows of a slice for the count-only paths: manifest count minus
    * the file's deleted positions (whole-file counts ride on the FIRST
    * slice, so the subtraction lands exactly once per file). Only sound
    * when the slice has no equality deletes — those require reading keys,
    * so callers guard with [[LakeReaderFactory.posOnly]].
    */
  private def liveRowCount(s: LakeFileSlice): Long =
    if (s.rowCount <= 0 || s.deletes.isEmpty) s.rowCount
    else s.rowCount - deletedBits(s).cardinality()

  /** One equality-delete check: drop the row when its key tuple (projected
    * from the slice's physical read row) is in the delete file's key set.
    * UnsafeRow byte-equality is the tuple comparison — both sides project
    * through the same column types, so equal values produce equal bytes.
    */
  private def eqChecks(s: LakeFileSlice, readSchema: StructType)
      : Seq[(org.apache.spark.sql.catalyst.expressions.UnsafeProjection,
             java.util.HashSet[InternalRow])] =
    s.deletes.filter(_.eqCols.nonEmpty).groupBy(_.eqCols).toSeq.map {
      case (cols, dels) =>
        val fields = cols.map(c => tableSchema(tableSchema.fieldIndex(c)))
        val keySchema = StructType(fields)
        val set = new java.util.HashSet[InternalRow]()
        dels.foreach(d => LakeReaderFactory
          .eqKeySet(d.path, d.sizeBytes, keySchema).forEach(k => set.add(k)))
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(fields.zipWithIndex.map { case (f, _) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              readSchema.fieldIndex(f.name), f.dataType, nullable = true)
          }.toSeq)
        (proj, set)
    }

  /** Spark-written files carry modern (proleptic-Gregorian) dates and µs
    * timestamps — CORRECTED rebase, no int96, on-heap 4K batches.
    *
    * Split-based initialize: the reader consumes exactly the row groups
    * whose midpoint falls in the slice's byte range, and the manifest's
    * size spares the per-file getFileStatus the path-based convenience
    * initializer would issue. The conf carries the same flag values that
    * convenience path hardcodes, plus the projected Spark schema.
    */
  private def openVectorized(s: LakeFileSlice,
      conf: org.apache.hadoop.conf.Configuration) = {
    val r = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    // mapred.FileSplit (extends the mapreduce one): the reader base
    // downcasts to the old-API class internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      new org.apache.hadoop.fs.Path(s.path), s.start, s.length,
      Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      if (conf == null) cachedConf else conf,
      new org.apache.hadoop.mapreduce.TaskAttemptID())
    try r.initialize(split, ctx)
    catch { case e: Throwable => r.close(); throw e }
    r
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val it = partition.asInstanceOf[LakeInputPartition].files.iterator
    new PartitionReader[ColumnarBatch] {
      private var cur: org.apache.spark.sql.execution.datasources.parquet
        .VectorizedParquetRecordReader = _
      // `_file`-requesting scans: the inner batch's vectors plus one
      // constant path vector, re-wrapped once per slice
      private var wrapped: ColumnarBatch = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!it.hasNext) return false
            val slice = it.next()
            cur = openVectorized(slice,
              readConfFor(Nil, withIdx = false, slice.schemaId))
            cur.enableReturningBatches()
            val inner = cur.resultBatch() // allocate vectors before the first nextBatch
            if (fileIdx >= 0) {
              val const = new org.apache.spark.sql.execution.vectorized
                .ConstantColumnVector(4096, StringType)
              const.setUtf8String(
                org.apache.spark.unsafe.types.UTF8String.fromString(slice.path))
              val cols = Array.tabulate[org.apache.spark.sql.vectorized.ColumnVector](
                schema.length)(i =>
                  if (i == fileIdx) const
                  else inner.column(if (i < fileIdx) i else i - 1))
              wrapped = new ColumnarBatch(cols)
            }
          }
          if (cur.nextBatch()) return true
          cur.close(); cur = null; wrapped = null
        }
        false
      }
      override def get(): ColumnarBatch = {
        val b = cur.resultBatch()
        if (fileIdx < 0) b
        else { wrapped.setNumRows(b.numRows()); wrapped }
      }
      override def close(): Unit = { if (cur != null) cur.close(); cur = null }
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakeInputPartition]
    // equality deletes void the manifest-count shortcuts: live counts are
    // only knowable by reading keys
    val posOnly = p.files.forall(_.deletes.forall(_.eqCols.isEmpty))
    if (schema.isEmpty && posOnly)
      // empty projection (e.g. COUNT(*)): the manifest already knows the
      // row counts — emit that many empty rows, never opening a file
      new PartitionReader[InternalRow] {
        private var remaining = p.files.map(liveRowCount).sum
        private val empty = new GenericInternalRow(0)
        override def next(): Boolean = { remaining -= 1; remaining >= 0 }
        override def get(): InternalRow = empty
        override def close(): Unit = ()
      }
    else if (dataSchema.isEmpty && posIdx < 0 && posOnly) {
      // only `_file` projected: per-slice constant rows, counts from the
      // manifest — still no file opened (`_pos` scans can't shortcut:
      // positions must come from the reader, so they fall through)
      val it = p.files.iterator
      new PartitionReader[InternalRow] {
        private var remaining = 0L
        private var row: InternalRow = _
        override def next(): Boolean = {
          while (remaining <= 0) {
            if (!it.hasNext) return false
            val s = it.next()
            remaining = liveRowCount(s)
            row = new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(s.path)))
          }
          remaining -= 1
          true
        }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
    } else {
      // row mode of the same vectorized decoder (values still decoded
      // column-wise into vectors; rows are views over the batch);
      // `_file` injected by projecting [data row ++ constant path row]
      // back into the requested column order. Slices with pending
      // position deletes additionally request Spark's row-index column
      // and skip rows whose global position is in the delete bitmap;
      // slices with pending equality deletes additionally read the key
      // columns (even outside the projection) and skip rows whose key is
      // in a delete key set. Both extras project away before rows hand up.
      val it = p.files.iterator
      new PartitionReader[InternalRow] {
        private var cur: org.apache.spark.sql.execution.datasources.parquet
          .VectorizedParquetRecordReader = _
        private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        private var constRow: InternalRow = _
        private var bits: java.util.BitSet = _ // null = slice has no pos deletes
        private var eqs: Seq[(org.apache.spark.sql.catalyst.expressions.UnsafeProjection,
          java.util.HashSet[InternalRow])] = Nil
        private var idxSlot: Int = -1
        private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
        private def openSlice(s: LakeFileSlice): Unit = {
          val posDels = s.deletes.filter(_.eqCols.isEmpty)
          val eqColNames = s.deletes.flatMap(_.eqCols).distinct
          // equality keys outside the projection ride along as extra
          // trailing read columns (same trick as the row index)
          val extras = eqColNames
            .filterNot(n => dataSchema.fieldNames.contains(n))
            .map(n => tableSchema(tableSchema.fieldIndex(n)))
          // the row-index column serves two masters: delete-mask skipping
          // and the `_pos` metadata projection (delta row-level scans)
          val hasIdx = posDels.nonEmpty || posIdx >= 0
          bits = if (posDels.nonEmpty) deletedBits(s) else null
          val readSchema = StructType(dataSchema.fields ++ extras)
          eqs = if (eqColNames.isEmpty) Nil else eqChecks(s, readSchema)
          cur = openVectorized(s, readConfFor(extras, hasIdx, s.schemaId))
          if (fileIdx >= 0)
            constRow = new GenericInternalRow(Array[Any](
              org.apache.spark.unsafe.types.UTF8String.fromString(s.path)))
          // physical row layout: [data cols..., eq extras..., rowIdx?, constFile?]
          idxSlot = readSchema.length
          val fileSlot = readSchema.length + (if (hasIdx) 1 else 0)
          proj =
            if (fileIdx < 0 && !hasIdx && extras.isEmpty) null
            else org.apache.spark.sql.catalyst.ProjectingInternalRow(schema,
              schema.indices.map(i =>
                if (i == fileIdx) fileSlot // const path in JoinedRow
                else if (i == posIdx) idxSlot
                else i - metaBefore(i)).toIndexedSeq)
        }
        private def deleted(row: InternalRow): Boolean =
          (bits != null && bits.get(row.getLong(idxSlot).toInt)) ||
            eqs.exists { case (kp, set) => set.contains(kp(row)) }
        override def next(): Boolean = {
          while (true) {
            if (cur == null) {
              if (!it.hasNext) return false
              openSlice(it.next())
            }
            var advanced = cur.nextKeyValue()
            while (advanced &&
                deleted(cur.getCurrentValue.asInstanceOf[InternalRow]))
              advanced = cur.nextKeyValue()
            if (advanced) return true
            cur.close(); cur = null
          }
          false
        }
        override def get(): InternalRow = {
          val data = cur.getCurrentValue.asInstanceOf[InternalRow]
          if (proj == null) data
          else {
            proj.project(if (fileIdx >= 0) joined(data, constRow) else data)
            proj
          }
        }
        override def close(): Unit = { if (cur != null) cur.close(); cur = null }
      }
    }
  }
}

object LakeReaderFactory {
  /** Position-delete parquets are (file_path STRING, pos BIGINT) — one
    * shared reader Configuration, same cache as data projections.
    */
  private[dsv2] lazy val deleteFileConf: org.apache.hadoop.conf.Configuration =
    confFor("__lake_position_deletes__", StructType(Seq(
      StructField("file_path", StringType),
      StructField("pos", LongType))))

  private val confCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.hadoop.conf.Configuration]()

  /** One immutable reader Configuration per (executor JVM, projection).
    * Carries the same flag values VectorizedParquetRecordReader's
    * convenience initializer hardcodes, plus the projected Spark schema.
    */
  private def confFor(ddl: String,
      schema: StructType): org.apache.hadoop.conf.Configuration =
    confCache.computeIfAbsent(ddl, _ => {
      import org.apache.spark.sql.internal.SQLConf
      val conf = new org.apache.hadoop.conf.Configuration()
      conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
      conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, false)
      conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
      conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, false)
      conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
      conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")
      conf.set(org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
      conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
        classOf[org.apache.spark.sql.execution.datasources.parquet
          .ParquetReadSupport].getName)
      conf
    })

  /** Equality-delete key sets, cached per (executor JVM, delete file):
    * every slice older than the delete consults the same small key file,
    * so a scan over K slices must not re-read it K times. Keys are
    * canonical UnsafeRows (copied), compared byte-wise. Bounded LRU —
    * a delete file is kilobytes of keys, and compaction retires entries.
    */
  private val eqSetCache: java.util.Map[String, java.util.HashSet[InternalRow]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, java.util.HashSet[InternalRow]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.util.HashSet[InternalRow]]): Boolean =
          size() > 64
      })

  private[dsv2] def eqKeySet(path: String, sizeBytes: Long,
      keySchema: StructType): java.util.HashSet[InternalRow] = {
    val cacheKey = path + "#" + keySchema.toDDL
    val cached = eqSetCache.get(cacheKey)
    if (cached != null) return cached
    val set = new java.util.HashSet[InternalRow]()
    val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(keySchema)
    val r = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    val split = new org.apache.hadoop.mapred.FileSplit(
      new org.apache.hadoop.fs.Path(path), 0, sizeBytes, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      confFor("__lake_eq_deletes__#" + keySchema.toDDL, keySchema),
      new org.apache.hadoop.mapreduce.TaskAttemptID())
    try {
      r.initialize(split, ctx)
      while (r.nextKeyValue())
        set.add(toUnsafe(r.getCurrentValue.asInstanceOf[InternalRow]).copy())
    } finally r.close()
    eqSetCache.put(cacheKey, set)
    set
  }
}

/** Snapshot-id offsets: each micro-batch reads exactly the files added in
  * (startId, endId] — one or more snapshot diffs (SURVEY §1.1 "Stream
  * (consume)", A25).
  */
final case class SnapshotOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

final class LakeMicroBatchStream(location: String, schema: StructType,
    startSnapshotId: Long, maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def table: LakeTable = LakeTable.load(location)

  // Trigger.AvailableNow: the engine's generic wrapper DISCARDS read
  // limits for sources that don't implement SupportsTriggerAvailableNow
  // (it logs a warning and reads allAvailable), so we implement it
  // natively — capture the catch-up target here and drain to it in
  // bounded batches.
  @volatile private var availableNowBound: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(table.currentSnapshotId)

  override def initialOffset(): Offset = SnapshotOffset(startSnapshotId)
  override def latestOffset(): Offset = SnapshotOffset(table.currentSnapshotId)
  override def deserializeOffset(json: String): Offset = SnapshotOffset(json.toLong)

  /** Admission control: cap a micro-batch at maxFilesPerTrigger data
    * files and/or maxBytesPerTrigger bytes, so a backlog restart (or a
    * bursty committer) drains as bounded batches instead of one giant
    * catch-up batch — snapshot granularity, always advancing at least one
    * snapshot so the stream can't stall on a single oversized commit.
    * Bytes are the budget that actually tracks executor work when file
    * sizes vary (a file-count cap admits 10 GB as readily as 10 KB).
    */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val limits =
      maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
        maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case more => ReadLimit.compositeLimit(more.toArray)
    }
  }

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxBytes, ReadMaxFiles}
    val t = table
    // same expired-offset clamp as planInputPartitions: a checkpointed
    // offset the Reaper has expired must resume, not crash-loop
    def clamp(id: Long): Long =
      if (t.tableMeta.snapshot(id).isDefined) id
      else t.snapshots.map(_.id).filter(_ >= id).minOption
        .getOrElse(t.currentSnapshotId)
    val from = clamp(start.asInstanceOf[SnapshotOffset].id)
    val target = availableNowBound.getOrElse(t.currentSnapshotId)
    // (file budget, byte budget) — composite limits apply both
    def budgets(l: org.apache.spark.sql.connector.read.streaming.ReadLimit)
        : (Option[Long], Option[Long]) = l match {
      case m: ReadMaxFiles => (Some(m.maxFiles().toLong), None)
      case b: ReadMaxBytes => (None, Some(b.maxBytes()))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(budgets).foldLeft(
          (Option.empty[Long], Option.empty[Long])) { case ((f1, b1), (f2, b2)) =>
          (Seq(f1, f2).flatten.minOption, Seq(b1, b2).flatten.minOption)
        }
      case _ => (None, None)
    }
    val (fileBudget, byteBudget) = budgets(limit)
    if (target <= from || (fileBudget.isEmpty && byteBudget.isEmpty))
      return SnapshotOffset(target)
    // ONE forward walk sizes every pending snapshot (the old shape —
    // addedFilesBetween per candidate end — re-walked the chain per
    // snapshot: O(pending² × inventory) manifest work per trigger during
    // exactly the backlog drain these limits exist for)
    val perSnapshot = t.addedFilesBySnapshot(from, target)
      .map { case (id, fs) => (id, fs.size.toLong, fs.map(_.sizeBytes).sum) }
    // snapshots that added nothing (rewrites, empty appends) cost no
    // budget; always admit at least one snapshot
    var end = from
    var files = 0L
    var bytes = 0L
    var admitted = false
    var stopped = false
    for ((id, af, ab) <- perSnapshot if !stopped) {
      if (!admitted || (fileBudget.forall(files + af <= _) &&
          byteBudget.forall(bytes + ab <= _))) {
        end = id
        files += af
        bytes += ab
        admitted = true
      } else stopped = true
    }
    if (!stopped) end = target // trailing no-op snapshots ride along
    SnapshotOffset(end)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val t = table
    // Checkpointed (or configured) offsets can reference snapshots the
    // Reaper has since expired — clamp to the oldest retained snapshot so
    // a restart resumes instead of crash-looping. Commits inside the
    // expired gap are NOT replayed: snapshot expiry bounds replayable
    // history, so operators must keep retainLast above the stream's
    // maximum lag (same contract as Kafka retention vs consumer lag).
    def clamp(id: Long): Long =
      if (t.tableMeta.snapshot(id).isDefined) id
      else t.snapshots.map(_.id).filter(_ >= id).minOption
        .getOrElse(t.currentSnapshotId)
    val s = clamp(start.asInstanceOf[SnapshotOffset].id)
    val e = clamp(end.asInstanceOf[SnapshotOffset].id)
    // a stream reports no partitioning, so its tasks may span buckets
    if (s >= e) Array.empty
    else LakePartitionPacker.pack(t.addedFilesBetween(s, e), keyed = false)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the stream's fixed output schema is the CURRENT name space; files
    // from pre-rename snapshots resolve their physical names via the
    // registry like any batch scan
    val t = table
    new LakeReaderFactory(schema.toDDL,
      readSchemaId = t.currentSchemaId,
      schemaDefs = t.tableMeta.schemas)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
