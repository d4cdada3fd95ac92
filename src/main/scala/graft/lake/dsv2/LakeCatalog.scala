package graft.lake.dsv2

import java.util

import graft.lake.{LakeTable, TruncateSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.{Literal, NamedReference, Transform}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** V2 catalog exposing laketables to pure SQL — the consumer surface the
  * reference assumes ("we then read these tables with Spark",
  * reference README): DDL, DML, and time travel with no Scala API in sight.
  *
  * {{{
  *   spark.sql.catalog.lake           = graft.lake.dsv2.LakeCatalog
  *   spark.sql.catalog.lake.warehouse = /data/warehouse
  *
  *   CREATE TABLE lake.ns.events (message_id BIGINT, ...)
  *     PARTITIONED BY (truncate(300000000, timeperiod_loadedBy))
  *   INSERT INTO lake.ns.events SELECT ...
  *   SELECT * FROM lake.ns.events VERSION AS OF 3
  *   SELECT * FROM lake.ns.events TIMESTAMP AS OF '2026-01-01 00:00:00'
  * }}}
  *
  * Identifier → location is `warehouse/ns.../name`; the table's own
  * snapshot log (not the catalog) is the source of truth for schema and
  * state, so a catalog is just a *name resolver* — exactly the coupling
  * the reference has between its catalog and HadoopTables.
  */
class LakeCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def name(): String = catalogName

  // ---- functions: the partition transform, resolvable by the analyzer ----
  // Storage-partitioned joins resolve a scan's reported
  // KeyGroupedPartitioning(truncate_<w>(col)) against THIS catalog
  // (V2ExpressionUtils looks the transform name up in the empty namespace
  // of the table's own catalog). Width lives in the name — see
  // [[TruncateFunction]] for why it can't be a literal argument.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    TruncateFunction.widthOf(ident.name())
      .map(new TruncateFunction.Unbound(_))
      .getOrElse(throw new NoSuchFunctionException(ident))

  // ---- namespaces: plain warehouse directories ---------------------------

  private def nsPath(namespace: Array[String]): Path =
    new Path((warehouse +: namespace.toSeq).mkString("/"))

  override def listNamespaces(): Array[Array[String]] = {
    val dir = new Path(warehouse)
    val fs = dir.getFileSystem(LakeTable.hadoopConf)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && !LakeTable.exists(s.getPath.toUri.getPath))
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
      Array.empty // single-level namespaces
    }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = nsPath(namespace)
    p.getFileSystem(LakeTable.hadoopConf).exists(p)
  }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val p = nsPath(namespace)
    p.getFileSystem(LakeTable.hadoopConf).mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("laketable namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(s"namespace not empty: ${namespace.mkString(".")}")
    val p = nsPath(namespace)
    p.getFileSystem(LakeTable.hadoopConf).delete(p, true)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  private def location(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  // ---- maintenance procedures: CALL <cat>.system.<proc>(...) -------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    LakeProcedures.load(ident.name(),
        tbl => (warehouse +: tbl.split('.').toSeq).mkString("/"))
      .getOrElse(throw new NoSuchTableException(ident))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    LakeProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(LakeTable.hadoopConf)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && LakeTable.exists(s.getPath.toUri.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    LakeTable.exists(location(ident))

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: SELECT * FROM lake.ns.t$files
    ident.name().split('$') match {
      case Array(base, suffix) =>
        val baseIdent = Identifier.of(ident.namespace(), base)
        if (!tableExists(baseIdent)) throw new NoSuchTableException(ident)
        return suffix match {
          case "files" => new LakeFilesMetaTable(location(baseIdent))
          case "snapshots" => new LakeSnapshotsMetaTable(location(baseIdent))
          case "partitions" => new LakePartitionsMetaTable(location(baseIdent))
          case "manifests" => new LakeManifestsMetaTable(location(baseIdent))
          case "deletes" => new LakeDeletesMetaTable(location(baseIdent))
          case "refs" => new LakeRefsMetaTable(location(baseIdent))
          case "history" => new LakeHistoryMetaTable(location(baseIdent))
          case _ => throw new NoSuchTableException(ident)
        }
      case _ => ()
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new LakeDsTable(location(ident), viaCatalog = true)
  }

  /** SQL `VERSION AS OF <snapshot-id | 'tag-name' | 'branch-name'>`: a
    * numeric version is a snapshot id; any other string resolves through
    * the table's named refs (`ref.tag.<name>`, then `ref.branch.<name>`),
    * so `VERSION AS OF 'train-v1'` reads the exact pinned corpus and
    * `VERSION AS OF 'audit'` is how a WAP audit query reads staged data.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = LakeTable.load(location(ident))
    val id = version.toLongOption.orElse(t.tags.get(version))
      .orElse(t.branchHead(version))
      .getOrElse(throw new NoSuchTableException(ident))
    if (t.tableMeta.snapshot(id).isEmpty)
      throw new NoSuchTableException(ident)
    new LakeDsTable(location(ident), asOf = Some(id), viaCatalog = true)
  }

  /** SQL `TIMESTAMP AS OF ...` (Spark hands micros since epoch): newest
    * snapshot committed at or before the timestamp.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = LakeTable.load(location(ident))
    val cutoffMs = timestampMicros / 1000L
    val id = t.snapshots.filter(_.timestampMs <= cutoffMs)
      .map(_.id).maxOption.getOrElse(throw new NoSuchTableException(ident))
    new LakeDsTable(location(ident), asOf = Some(id), viaCatalog = true)
  }

  /** PARTITIONED BY must carry exactly one `truncate(width, col)` (either
    * argument order) over a BIGINT column — the reference's single
    * partition transform (Constants.java:25,33-35).
    */
  private def specOf(partitions: Array[Transform]): TruncateSpec = {
    def parse(t: Transform): Option[TruncateSpec] =
      if (!t.name().equalsIgnoreCase("truncate")) None
      else t.arguments() match {
        case Array(l: Literal[_], f: NamedReference) =>
          Some(TruncateSpec(f.fieldNames().mkString("."),
            l.value().toString.toLong))
        case Array(f: NamedReference, l: Literal[_]) =>
          Some(TruncateSpec(f.fieldNames().mkString("."),
            l.value().toString.toLong))
        case _ => None
      }
    partitions.toSeq.flatMap(parse(_)) match {
      case Seq(spec) => spec
      case _ => throw new UnsupportedOperationException(
        "laketable requires PARTITIONED BY (truncate(<widthMicros>, <bigintCol>)); got " +
          partitions.map(_.describe()).mkString("[", ", ", "]"))
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val spec = specOf(partitions)
    require(schema.fieldNames.contains(spec.column),
      s"partition column ${spec.column} not in schema")
    val loc = location(ident)
    val props = properties.asScala.toMap --
      Seq(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
        TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT)
    LakeTable.create(loc, schema.toDDL, spec, props)
    new LakeDsTable(loc, viaCatalog = true)
  }

  /** Schema evolution: ADD / RENAME / DROP COLUMN (all metadata-only, no
    * data files touched). ADD null-fills pre-existing files; RENAME and
    * DROP are sound across existing files because every file records the
    * schema it was written under and reads resolve column names through
    * never-reused field ids ([[graft.lake.SchemaDef]]) — a dropped-then-
    * re-added name cannot resurrect old data. Retype remains rejected
    * (value conversion, not name resolution). The reference itself fixes
    * its schema at create time (Constants.java:26-31).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = LakeTable.load(location(ident))
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "laketable ADD COLUMN supports top-level columns only")
        if (!add.isNullable)
          throw new UnsupportedOperationException(
            "added columns must be nullable: pre-existing files null-fill them")
        t.addColumn(add.fieldNames().head, add.dataType())
      case rn: TableChange.RenameColumn =>
        if (rn.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "laketable RENAME COLUMN supports top-level columns only")
        t.renameColumn(rn.fieldNames().head, rn.newName())
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "laketable DROP COLUMN supports top-level columns only")
        t.dropColumn(del.fieldNames().head)
      case sp: TableChange.SetProperty =>
        t.setProperty(sp.property(), sp.value())
      case ut: TableChange.UpdateColumnType =>
        if (ut.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "laketable ALTER COLUMN TYPE supports top-level columns only")
        t.widenColumnType(ut.fieldNames().head, ut.newDataType())
      case other =>
        throw new UnsupportedOperationException(
          "laketable ALTER supports ADD/RENAME/DROP COLUMN / ALTER COLUMN " +
            s"TYPE (widening) / SET TBLPROPERTIES only; got $other")
    }
    new LakeDsTable(location(ident), viaCatalog = true)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    LakeTable.drop(location(ident))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val src = new Path(location(oldIdent))
    val dst = new Path(location(newIdent))
    val fs = src.getFileSystem(LakeTable.hadoopConf)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename $src -> $dst failed")
  }
}
