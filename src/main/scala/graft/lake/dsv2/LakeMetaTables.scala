package graft.lake.dsv2

import java.util

import graft.lake.{Json, LakeTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style metadata tables, addressed with a `$`-suffix through the
  * catalog: `SELECT * FROM lake.ns.t$files` / `...t$snapshots`. The files
  * table parses each manifest EXECUTOR-side (one scan task per manifest,
  * same posture as [[graft.lake.LakeTable.filesDF]]), so inspecting a
  * 10⁶-file table never materializes the inventory on the driver; the
  * snapshots table is retention-bounded and ships as one task.
  */
object LakeMetaTables {
  val FilesSchema: StructType = StructType.fromDDL(
    "path STRING, size_bytes BIGINT, row_count BIGINT, " +
      "partition_value BIGINT, format STRING, spec_id INT")
  val SnapshotsSchema: StructType = StructType.fromDDL(
    "snapshot_id BIGINT, parent_id BIGINT, committed_at_ms BIGINT, " +
      "operation STRING, manifest_count INT")
  val PartitionsSchema: StructType = StructType.fromDDL(
    "partition_value BIGINT, file_count BIGINT, row_count BIGINT, " +
      "size_bytes BIGINT, min_file_bytes BIGINT, max_file_bytes BIGINT, " +
      "spec_id INT")
  val ManifestsSchema: StructType = StructType.fromDDL(
    "manifest STRING, file_count BIGINT, row_count BIGINT, size_bytes BIGINT")
  val DeletesSchema: StructType = StructType.fromDDL(
    "path STRING, kind STRING, row_count BIGINT, size_bytes BIGINT, " +
      "eq_columns STRING, seq BIGINT, referenced_files INT")
  val RefsSchema: StructType = StructType.fromDDL(
    "name STRING, type STRING, snapshot_id BIGINT")
  val HistorySchema: StructType = StructType.fromDDL(
    "made_current_at_ms BIGINT, snapshot_id BIGINT, parent_id BIGINT, " +
      "is_current_ancestor BOOLEAN, operation STRING")
}

/** One manifest file to parse on an executor. */
final case class ManifestPartition(path: String) extends InputPartition

final class LakeFilesMetaTable(location: String) extends Table with SupportsRead {
  override def name(): String = s"laketable.`$location`$$files"
  override def schema(): StructType = LakeMetaTables.FilesSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = LakeMetaTables.FilesSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val t = LakeTable.load(location)
        val metaDir = new Path(location, graft.lake.LakeFormat.MetadataDir)
        t.tableMeta.currentManifests
          .map(m => ManifestPartition(new Path(metaDir, m).toString): InputPartition)
          .toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => new PartitionReader[InternalRow] {
          private val it = {
            val p = new Path(partition.asInstanceOf[ManifestPartition].path)
            val in = p.getFileSystem(LakeTable.hadoopConf).open(p)
            val content =
              try new String(in.readAllBytes(), "UTF-8") finally in.close()
            Json.manifestFromJson(content).iterator
          }
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            val f = it.next()
            cur = InternalRow(UTF8String.fromString(f.path), f.sizeBytes,
              f.rowCount, f.partitionValue, UTF8String.fromString(f.format),
              f.specId)
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

/** `$partitions` — the skew audit (SURVEY D6): one row per partition bucket
  * with file/row/byte rollups and the min/max file size (small-file and
  * straggler hot spots jump out as min≪max or file_count≫siblings). The
  * rollup runs as ONE executor task over the manifest list: per-file rows
  * never touch the driver, manifest count is bounded by the merge
  * threshold, and the output is one row per bucket. For truly enormous
  * inventories [[graft.lake.LakeTable.partitionsDF]] is the same rollup as
  * a distributed groupBy over the executor-parsed files DataFrame.
  */
final case class ManifestListPartition(paths: Seq[String]) extends InputPartition

final class LakePartitionsMetaTable(location: String) extends Table with SupportsRead {
  override def name(): String = s"laketable.`$location`$$partitions"
  override def schema(): StructType = LakeMetaTables.PartitionsSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = LakeMetaTables.PartitionsSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val t = LakeTable.load(location)
        val metaDir = new Path(location, graft.lake.LakeFormat.MetadataDir)
        Array(ManifestListPartition(
          t.tableMeta.currentManifests
            .map(m => new Path(metaDir, m).toString)))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => new PartitionReader[InternalRow] {
          private val it = {
            final class Acc {
              var files = 0L; var rows = 0L; var bytes = 0L
              var minB = Long.MaxValue; var maxB = Long.MinValue
            }
            // keyed by (bucket, spec vintage): after partition evolution
            // two vintages can share a bucket START with different widths
            val acc = scala.collection.mutable.LinkedHashMap.empty[(Long, Int), Acc]
            for (mp <- partition.asInstanceOf[ManifestListPartition].paths) {
              val p = new Path(mp)
              val in = p.getFileSystem(LakeTable.hadoopConf).open(p)
              val content =
                try new String(in.readAllBytes(), "UTF-8") finally in.close()
              for (f <- Json.manifestFromJson(content)) {
                val a = acc.getOrElseUpdate((f.partitionValue, f.specId), new Acc)
                a.files += 1; a.rows += f.rowCount; a.bytes += f.sizeBytes
                a.minB = math.min(a.minB, f.sizeBytes)
                a.maxB = math.max(a.maxB, f.sizeBytes)
              }
            }
            acc.toSeq.sortBy(_._1).iterator
          }
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            val ((pv, sid), a) = it.next()
            cur = InternalRow(pv, a.files, a.rows, a.bytes, a.minB, a.maxB, sid)
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

/** `$manifests` — one row per current manifest with its file/row/byte
  * totals (manifest-merge health: many small manifests = commit-heavy
  * table approaching its merge threshold). One executor task per manifest.
  */
final class LakeManifestsMetaTable(location: String) extends Table with SupportsRead {
  override def name(): String = s"laketable.`$location`$$manifests"
  override def schema(): StructType = LakeMetaTables.ManifestsSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = LakeMetaTables.ManifestsSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val t = LakeTable.load(location)
        val metaDir = new Path(location, graft.lake.LakeFormat.MetadataDir)
        t.tableMeta.currentManifests
          .map(m => ManifestPartition(new Path(metaDir, m).toString): InputPartition)
          .toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => new PartitionReader[InternalRow] {
          private var done = false
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (done) return false
            val p = new Path(partition.asInstanceOf[ManifestPartition].path)
            val in = p.getFileSystem(LakeTable.hadoopConf).open(p)
            val content =
              try new String(in.readAllBytes(), "UTF-8") finally in.close()
            val files = Json.manifestFromJson(content)
            cur = InternalRow(UTF8String.fromString(p.getName),
              files.size.toLong, files.map(_.rowCount).sum,
              files.map(_.sizeBytes).sum)
            done = true
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

/** `$deletes` — one row per PENDING delete file: the merge-on-read debt an
  * operator schedules compaction against. `kind` = "pos" | "eq";
  * `referenced_files` = inlined data-path count for position entries
  * (-1 = overflowed to the range check). Pending-delete metadata is tiny
  * by design (compaction retires it), so this ships as one task.
  */
final case class DeleteRows(rows: Seq[(String, String, Long, Long, String, Long, Int)])
  extends InputPartition

final class LakeDeletesMetaTable(location: String) extends Table with SupportsRead {
  override def name(): String = s"laketable.`$location`$$deletes"
  override def schema(): StructType = LakeMetaTables.DeletesSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = LakeMetaTables.DeletesSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val rows = LakeTable.load(location).deleteFilesMeta().map { d =>
          (d.path, d.kind, d.rowCount, d.sizeBytes,
            d.eqColumns.mkString(","), d.seq,
            if (d.kind == graft.lake.DeleteFileMeta.KindPos)
              (if (d.dataPaths.nonEmpty) d.dataPaths.size else -1)
            else 0)
        }
        Array(DeleteRows(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => new PartitionReader[InternalRow] {
          private val it = partition.asInstanceOf[DeleteRows].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            val (p, kind, rows, bytes, eqCols, seq, refs) = it.next()
            cur = InternalRow(UTF8String.fromString(p),
              UTF8String.fromString(kind), rows, bytes,
              UTF8String.fromString(eqCols), seq, refs)
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

/** `$refs` — named refs: tags (expiry-pinned audit points) and WAP
  * branches (unpublished stage-chain heads). Tiny by construction —
  * single task.
  */
final case class RefRows(rows: Seq[(String, String, Long)]) extends InputPartition

final class LakeRefsMetaTable(location: String) extends Table with SupportsRead {
  override def name(): String = s"laketable.`$location`$$refs"
  override def schema(): StructType = LakeMetaTables.RefsSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = LakeMetaTables.RefsSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val t = LakeTable.load(location)
        val rows =
          t.tags.toSeq.sortBy(_._1).map { case (n, id) => (n, "tag", id) } ++
            t.branches.toSeq.sortBy(_._1).map { case (n, id) => (n, "branch", id) }
        Array(RefRows(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => new PartitionReader[InternalRow] {
          private val it = partition.asInstanceOf[RefRows].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            val (n, tpe, id) = it.next()
            cur = InternalRow(UTF8String.fromString(n),
              UTF8String.fromString(tpe), id)
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

/** `$history` — the table's commit lineage: one row per retained
  * snapshot with `is_current_ancestor` = whether it sits on the CURRENT
  * head's parent chain. Off-lineage rows are unpublished WAP "stage"
  * commits — the audit question "is this data visible to main readers
  * yet?" answered from metadata. Retention-bounded — single task.
  *
  * DELIBERATE DEVIATION from Iceberg's `history` metadata table: Iceberg
  * derives history from the snapshot LOG (only snapshots that were ever
  * current appear; `made_current_at` is the made-current wall time;
  * `is_current_ancestor=false` marks rolled-back lineage), and surfaces
  * staged/never-current snapshots in `$snapshots` instead. This table
  * emits one row per RETAINED snapshot — including never-current WAP
  * stage commits — with `made_current_at_ms` carrying the snapshot's
  * commit timestamp, i.e. it folds the useful halves of Iceberg's
  * `history` and `snapshots` views into one lineage audit.
  */
final case class HistoryRows(rows: Seq[(Long, Long, Long, Boolean, String)])
  extends InputPartition

final class LakeHistoryMetaTable(location: String) extends Table with SupportsRead {
  override def name(): String = s"laketable.`$location`$$history"
  override def schema(): StructType = LakeMetaTables.HistorySchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = LakeMetaTables.HistorySchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val t = LakeTable.load(location)
        val meta = t.tableMeta
        // ancestor chain of the current head (expiry can leave holes; a
        // missing parent simply terminates the walk, matching what a
        // reader of the retained log can actually reach)
        val anc = scala.collection.mutable.Set.empty[Long]
        var cur = meta.snapshot(meta.currentSnapshotId)
        while (cur.isDefined && anc.add(cur.get.id))
          cur = cur.flatMap(s => meta.snapshot(s.parentId))
        val rows = meta.snapshots.map(s =>
          (s.timestampMs, s.id, s.parentId, anc.contains(s.id), s.operation))
        Array(HistoryRows(rows))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => new PartitionReader[InternalRow] {
          private val it = partition.asInstanceOf[HistoryRows].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            val (ts, id, parent, isAnc, op) = it.next()
            cur = InternalRow(ts, id, parent, isAnc, UTF8String.fromString(op))
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

/** Snapshot log rows (retention-bounded — single task). */
final case class SnapshotRows(rows: Seq[(Long, Long, Long, String, Int)])
  extends InputPartition

final class LakeSnapshotsMetaTable(location: String) extends Table with SupportsRead {
  override def name(): String = s"laketable.`$location`$$snapshots"
  override def schema(): StructType = LakeMetaTables.SnapshotsSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = LakeMetaTables.SnapshotsSchema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val snaps = LakeTable.load(location).snapshots.map(s =>
          (s.id, s.parentId, s.timestampMs, s.operation, s.manifests.size))
        Array(SnapshotRows(snaps))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) => new PartitionReader[InternalRow] {
          private val it = partition.asInstanceOf[SnapshotRows].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            val (id, parent, ts, op, n) = it.next()
            cur = InternalRow(id, parent, ts, UTF8String.fromString(op), n)
            true
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}
