package graft.lake.dsv2

import graft.lake.LakeTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType}

/** SQL-callable maintenance procedures (Spark 4 ProcedureCatalog — the
  * Iceberg `CALL cat.system.<proc>(...)` surface), so an operator runs the
  * table's lifecycle with no Scala in sight:
  *
  * {{{
  *   CALL lake.system.compact(`table` => 'ns.events')
  *   CALL lake.system.expire_snapshots(`table` => 'ns.events', retain_last => 20)
  *   CALL lake.system.rollback(`table` => 'ns.events', snapshot_id => 7)
  *   CALL lake.system.create_tag(`table` => 'ns.events', tag => 'train-v1')
  *   CALL lake.system.publish_branch(`table` => 'ns.events', branch => 'audit')
  *   CALL lake.system.drop_branch(`table` => 'ns.events', branch => 'audit')
  *   CALL lake.system.remove_orphan_files(`table` => 'ns.events')
  * }}}
  *
  * Each returns one row `(snapshot_id BIGINT)` — the commit it landed, or
  * -1 when there was nothing to do. Execution is the same driver-side
  * table op the Scala API runs; the procedure layer is pure name
  * resolution + argument plumbing.
  */
object LakeProcedures {

  val Names: Seq[String] = Seq("compact", "expire_snapshots", "rollback",
    "create_tag", "publish_branch", "drop_branch", "remove_orphan_files",
    "set_partition_width", "rewrite_manifests", "add_files",
    "rewrite_position_deletes", "convert_equality_deletes")

  private val OutSchema = StructType.fromDDL("snapshot_id BIGINT")

  /** `older_than_ms` cutoff: -1 → now minus `defaultAgeMs`; values below
    * ~2001 in epoch terms (1e12) read as an AGE ("older than 7 days" =
    * 604800000) — an operator passing a duration would otherwise get a
    * cutoff in 1970 and a silent no-op; larger values are absolute
    * epoch-millis timestamps.
    */
  private def cutoffMs(v: Long, defaultAgeMs: Long): Long =
    if (v <= 0) System.currentTimeMillis() - defaultAgeMs
    else if (v < 1_000_000_000_000L) System.currentTimeMillis() - v
    else v

  private def param(n: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(n, t).build()

  private def paramD(n: String, t: DataType, dflt: String): ProcedureParameter =
    ProcedureParameter.in(n, t).defaultValue(dflt).build()

  /** One-row (snapshot_id) result. */
  private final class ResultScan(id: Long) extends LocalScan {
    override def rows(): Array[InternalRow] = Array(InternalRow(id))
    override def readSchema(): StructType = OutSchema
  }

  private def bound(procName: String, params: Array[ProcedureParameter])(
      body: InternalRow => Long): BoundProcedure = new BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"laketable $procName"
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      java.util.List.of[Scan](new ResultScan(body(input))).iterator()
  }

  /** Procedure factory: `resolve` maps the `table` argument ("ns.name" in
    * the calling catalog) to the table location.
    */
  def load(procName: String, resolve: String => String): Option[UnboundProcedure] = {
    def table(input: InternalRow): LakeTable =
      LakeTable.load(resolve(input.getUTF8String(0).toString))
    val b: Option[BoundProcedure] = procName match {
      case "compact" => Some(bound(procName, Array(
        param("table", StringType),
        paramD("small_file_bytes", LongType, (64L << 20).toString),
        paramD("min_input_files", IntegerType, "2"),
        // comma-separated column lists: sort_by = lexicographic
        // clustering, zorder_by = Morton-curve multi-dimension clustering
        paramD("sort_by", StringType, "''"),
        paramD("zorder_by", StringType, "''"),
        paramD("max_records_per_file", LongType, "0"),
        // partition-scoped maintenance: compact only buckets in
        // [partition_min, partition_max]. Long.MinValue = unbounded side —
        // NOT -1: bucket starts are arbitrary BIGINTs (negative keys,
        // pre-1970 timestamps), so any value a caller can actually pass
        // must be honored or the compaction silently goes full-table
        paramD("partition_min", LongType, Long.MinValue.toString),
        paramD("partition_max", LongType, Long.MinValue.toString),
        // MoR read-amplification trigger: rewrite any file carrying >=
        // this many pending position-delete marks regardless of size.
        // Exactly -1 means off; 0 and other negatives are rejected so a
        // caller passing 0 expecting "rewrite every marked file" gets a
        // loud error instead of a silent no-op (use 1 for that).
        paramD("delete_file_threshold", LongType, "-1"))) { in =>
        def cols(i: Int): Seq[String] =
          Option(in.getUTF8String(i)).map(_.toString.trim).filter(_.nonEmpty)
            .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)
        def bound(i: Int): Option[Long] =
          Some(in.getLong(i)).filter(_ != Long.MinValue)
        val markThreshold = in.getLong(8) match {
          case -1L          => None
          case t if t >= 1L => Some(t)
          case bad => throw new IllegalArgumentException(
            s"delete_file_threshold must be >= 1 or -1 (off), got $bad")
        }
        table(in).compactFiles(SparkSession.active,
          smallFileBytes = in.getLong(1), minInputFiles = in.getInt(2),
          sortBy = cols(3), zorderBy = cols(4),
          maxRecordsPerFile = in.getLong(5),
          partitionMin = bound(6), partitionMax = bound(7),
          deleteMarkThreshold = markThreshold)
      })
      case "expire_snapshots" => Some(bound(procName, Array(
        param("table", StringType),
        paramD("older_than_ms", LongType, "-1"),
        paramD("retain_last", IntegerType, "-1"))) { in =>
        table(in).expireSnapshots(cutoffMs(in.getLong(1), 0L),
          retainLast = in.getInt(2))
      })
      case "rollback" => Some(bound(procName, Array(
        param("table", StringType),
        param("snapshot_id", LongType))) { in =>
        table(in).rollbackTo(in.getLong(1))
      })
      case "create_tag" => Some(bound(procName, Array(
        param("table", StringType),
        param("tag", StringType),
        paramD("snapshot_id", LongType, "-1"))) { in =>
        val t = table(in)
        val id = if (in.getLong(2) >= 0) in.getLong(2) else t.currentSnapshotId
        t.createTag(in.getUTF8String(1).toString, id)
      })
      case "publish_branch" => Some(bound(procName, Array(
        param("table", StringType),
        param("branch", StringType))) { in =>
        table(in).publishBranch(in.getUTF8String(1).toString)
      })
      case "drop_branch" => Some(bound(procName, Array(
        param("table", StringType),
        param("branch", StringType))) { in =>
        table(in).dropBranch(in.getUTF8String(1).toString)
      })
      // returns the DELETED-FILE COUNT in the snapshot_id column (the op
      // commits no snapshot). Default cutoff: 24 h ago, the Iceberg
      // convention that keeps in-flight writers safe.
      // partition evolution: change the truncate width NEW writes bucket
      // under (metadata-only; existing files keep their vintage and
      // compaction migrates them)
      case "set_partition_width" => Some(bound(procName, Array(
        param("table", StringType),
        param("width_micros", LongType))) { in =>
        table(in).setPartitionWidth(in.getLong(1))
      })
      // force-merge the current snapshot's data manifests into one
      // (metadata-only; -1 when already consolidated)
      case "rewrite_manifests" => Some(bound(procName, Array(
        param("table", StringType))) { in =>
        table(in).rewriteManifests()
      })
      // metadata-only import of externally-written parquet (the Iceberg
      // add_files migration path): footer-harvested stats, per-file bucket
      // derivation, one fast-append commit, idempotent on re-import
      case "add_files" => Some(bound(procName, Array(
        param("table", StringType),
        param("source_dir", StringType))) { in =>
        table(in).addFiles(in.getUTF8String(1).toString)
      })
      // compact position-delete files: union live pos rows, drop dangling
      // and duplicate marks, rewrite range-binned; eq deletes untouched
      case "rewrite_position_deletes" => Some(bound(procName, Array(
        param("table", StringType))) { in =>
        table(in).rewritePositionDeletes(SparkSession.active)
      })
      // retire equality-delete debt: convert pending eq keys into
      // position deletes (one snapshot). max_seq scopes conversion to the
      // OLDEST debt (entries with seq <= max_seq; -1 = all) — the
      // sequence dimension is how eq deletes address data, so it is the
      // knob that bounds the rewrite and its conflict window (eq entries
      // are table-global: partition scoping cannot apply here).
      // min_eq_files is the b67-style threshold trigger: no-op until the
      // pending eq-file count reaches it (0 = always run).
      case "convert_equality_deletes" => Some(bound(procName, Array(
        param("table", StringType),
        paramD("max_seq", LongType, "-1"),
        paramD("min_eq_files", IntegerType, "0"))) { in =>
        table(in).convertEqualityDeletes(SparkSession.active,
          maxSeq = Some(in.getLong(1)).filter(_ >= 0),
          minEqFiles = in.getInt(2))
      })
      case "remove_orphan_files" => Some(bound(procName, Array(
        param("table", StringType),
        paramD("older_than_ms", LongType, "-1"),
        // dry_run: audit — identical dataflow and count, nothing deleted
        paramD("dry_run", BooleanType, "false"))) { in =>
        table(in).removeOrphanFiles(SparkSession.active,
          cutoffMs(in.getLong(1), 24L * 3600 * 1000),
          dryRun = in.getBoolean(2)).deletedCount
      })
      case _ => None
    }
    b.map(bp => new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"laketable $procName"
      override def bind(inputType: StructType): BoundProcedure = bp
    })
  }
}
