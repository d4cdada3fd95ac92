package graft.lake

/** Core metadata types of the LakeTable format — our native re-expression
  * of the reference's Iceberg table semantics (SURVEY §1.1).
  */

/** Per-column stats harvested from parquet footers
  * (reference readParquetMetrics, StorageQueueBasedBookkeeper.java:63-66);
  * drive stats-based file skipping at scan time (SURVEY §4).
  *
  * Three independent domains, each present only when the footer proves it
  * for EVERY row group of the file:
  *   - long min/max for integral/timestamp columns;
  *   - string min/max for UTF8 columns, truncated to [[ColStats.TruncLen]]
  *     chars so manifests stay small at 10⁶ files (lower bound truncated
  *     down, upper bound truncated with the last kept char bumped UP so it
  *     stays a true upper bound) and kept only for pure-ASCII bounds, where
  *     parquet's unsigned-UTF-8-byte order agrees with String.compareTo;
  *   - null/value counts for IS NULL / IS NOT NULL pruning.
  */
final case class ColStats(
    longMin: Option[Long] = None,
    longMax: Option[Long] = None,
    strMin: Option[String] = None,
    strMax: Option[String] = None,
    nullCount: Option[Long] = None,
    valueCount: Option[Long] = None)

object ColStats {
  val TruncLen = 16

  def truncateLower(s: String): String = s.take(TruncLen)

  /** Truncated UPPER bound: bump the last bumpable kept char. None when the
    * prefix is all ￿ (no finite bound exists at this length).
    */
  def truncateUpper(s: String): Option[String] =
    if (s.length <= TruncLen) Some(s)
    else {
      val p = s.take(TruncLen)
      val i = p.lastIndexWhere(_ < Char.MaxValue)
      if (i < 0) None else Some(p.substring(0, i) + (p(i) + 1).toChar)
    }
}

/** Immutable data-file metadata (reference Iceberg DataFile,
  * Writer.java:84-107): path, size, rows, the file's partition value, and
  * optional column stats.
  */
final case class DataFileMeta(
    path: String,
    sizeBytes: Long,
    rowCount: Long,
    partitionValue: Long,
    format: String = "parquet",
    stats: Map[String, ColStats] = Map.empty,
    // commit sequence (the snapshot id that added the file; stamped at
    // commit time, 0 in pre-sequence metadata): equality deletes apply to
    // a file iff the file's seq is OLDER than the delete's — the ordering
    // that lets an upsert land new row versions and retire old ones in
    // one commit without the delete swallowing its own batch
    seq: Long = 0L,
    // id of the [[SchemaDef]] the file was WRITTEN under (stamped at write
    // time, so a concurrent rename committed between write and commit
    // still resolves the file's physical column names correctly); 0 =
    // the base schema (also every pre-evolution file)
    schemaId: Int = 0,
    // id of the [[SpecDef]] (partition-spec vintage) the file was written
    // under; 0 = the creation spec (also every pre-evolution file). The
    // file's partitionValue is a bucket START under ITS OWN spec's width —
    // pruning and retention must resolve the width through this id, never
    // assume the table's current one
    specId: Int = 0)

/** Position-delete file metadata (merge-on-read deletes): a parquet of
  * (file_path STRING, pos BIGINT) rows marking individual rows of data
  * files as deleted WITHOUT rewriting them — at 100 TB a predicate delete
  * writes kilobytes of positions instead of re-copying terabytes of
  * survivors. [minDataPath, maxDataPath] is the (untruncated) range of data
  * files the delete file references, so readers load only delete files
  * that can affect their slice. Data-file paths are never reused (UUID
  * names), so a delete file can never affect files added after it.
  */
final case class DeleteFileMeta(
    path: String,
    sizeBytes: Long,
    rowCount: Long,
    minDataPath: String,
    maxDataPath: String,
    // exact referenced data paths when few enough to inline in the
    // manifest (empty = unknown/too many → fall back to the range).
    // Data files are UUID-named, so [min,max] alone overlaps almost any
    // sibling path — the exact list is what lets rewrites prune dead
    // delete entries and readers skip irrelevant delete parquets.
    dataPaths: Seq[String] = Nil,
    // "pos" = position delete (file_path, pos rows; path-addressed);
    // "eq" = equality delete (key-column rows; sequence-addressed — it
    // retires every OLDER row version with a matching key, the streaming
    // CDC-upsert shape that needs no read-modify-write)
    kind: String = DeleteFileMeta.KindPos,
    // equality-delete key columns, in table-schema order (= the delete
    // parquet's column layout); empty for position deletes
    eqColumns: Seq[String] = Nil,
    // commit sequence of the delete itself (only meaningful for "eq":
    // applies to data files with seq strictly below it)
    seq: Long = 0L) {
  @transient private lazy val pathSet: Set[String] = dataPaths.toSet
  /** Can this delete file mark rows of `dataPath` as deleted?
    * (Position deletes only — equality deletes address by sequence.)
    */
  def references(dataPath: String): Boolean =
    kind == DeleteFileMeta.KindPos &&
      (if (dataPaths.nonEmpty) pathSet.contains(dataPath)
       else minDataPath <= dataPath && dataPath <= maxDataPath)
  /** Can this delete file mark rows of data file `f` as deleted? */
  def applies(f: DataFileMeta): Boolean =
    if (kind == DeleteFileMeta.KindEq) f.seq < seq else references(f.path)
}

object DeleteFileMeta {
  val KindPos = "pos"
  val KindEq = "eq"
}

/** One registered table schema (schema evolution). `fieldIds` aligns
  * positionally with the DDL's columns. Ids are assigned once and NEVER
  * reused: a dropped-then-re-added column name gets a fresh id, so old
  * files' same-named parquet column stays dead (no data resurrection) —
  * the Iceberg field-id contract, carried in table metadata instead of
  * parquet annotations because every file records the SchemaDef it was
  * written under ([[DataFileMeta.schemaId]]).
  */
final case class SchemaDef(id: Int, ddl: String, fieldIds: Seq[Int]) {
  @transient lazy val names: Seq[String] =
    org.apache.spark.sql.types.StructType.fromDDL(ddl).fieldNames.toSeq
  require(fieldIds.size == names.size || fieldIds.isEmpty,
    s"fieldIds/${fieldIds.size} misaligned with schema columns/${names.size}")
  /** Positional ids for legacy defs written without explicit ids. */
  def ids: Seq[Int] = if (fieldIds.nonEmpty) fieldIds else names.indices.map(_ + 1)
  /** Column name for a field id, if the field exists in this schema. */
  def nameOf(fieldId: Int): Option[String] =
    ids.indexOf(fieldId) match {
      case -1 => None
      case i => Some(names(i))
    }
}

/** The reference's single partition transform (Constants.java:25,33-35):
  * truncate a long µs column to fixed-width buckets. Floor semantics so
  * negative values bucket monotonically.
  */
final case class TruncateSpec(column: String, widthMicros: Long) {
  require(widthMicros > 0, "truncate width must be positive")
  def apply(v: Long): Long = v - java.lang.Math.floorMod(v, widthMicros)
  def dirName(v: Long): String = s"${column}_trunc=${apply(v)}"
}

/** One registered partition-spec vintage (partition evolution): the
  * truncate WIDTH current while a file generation was written. The column
  * is invariant (it is the table's physical layout key); only granularity
  * evolves — the "5-minute buckets grew too many files, move to hourly"
  * migration every long-lived ingest table eventually makes. Ids are
  * assigned once and never reused; files outlive the spec that wrote them,
  * so entries are immutable and never removed.
  */
final case class SpecDef(id: Int, widthMicros: Long) {
  require(widthMicros > 0, "truncate width must be positive")
}

/** One committed table version (reference snapshot, Writer.java:146-150).
  * Fast-append semantics: `manifests` = parent's manifests + one new — the
  * commit never rewrites existing manifests (Writer.java:141-146), so commit
  * cost is O(1) in table size.
  */
final case class Snapshot(
    id: Long,
    parentId: Long, // -1 for the first snapshot
    timestampMs: Long,
    operation: String, // create | append | delete | rewrite | compact | expire | alter | tag | untag | rollback | stage | unbranch
    manifests: Seq[String],
    // schema current AS OF this snapshot (schema evolution): None in
    // pre-evolution metadata → fall back to the table-level schemaDdl
    schemaDdl: Option[String] = None,
    // merge-on-read position-delete manifests ([[DeleteFileMeta]] lists);
    // absent in pre-MoR metadata → no deletes
    deleteManifests: Seq[String] = Nil,
    // [[SchemaDef]] id current AS OF this snapshot; None (pre-rename/drop
    // metadata) = the base schema 0, whose ids are positional — sound for
    // append-only evolution, which is all that era supported
    schemaId: Option[Int] = None)

/** Full table metadata as persisted in metadata/v<N>.json. */
final case class TableMeta(
    formatVersion: Int,
    location: String,
    schemaDdl: String,
    spec: TruncateSpec,
    properties: Map[String, String],
    snapshots: Seq[Snapshot],
    currentSnapshotId: Long,
    // schema registry (rename/drop evolution). Empty = pre-evolution
    // metadata: the base schema 0 is synthesized from schemaDdl with
    // positional ids. Entries are immutable and never removed — files
    // outlive the snapshots that added them, and resolution must too.
    schemas: Seq[SchemaDef] = Nil,
    currentSchemaId: Int = 0,
    // partition-spec registry (width evolution). Empty = never evolved:
    // spec 0 is the creation spec. Same append-only/never-reused contract
    // as `schemas`.
    specs: Seq[SpecDef] = Nil,
    currentSpecId: Int = 0) {
  def current: Option[Snapshot] = snapshots.find(_.id == currentSnapshotId)
  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.id == id)
  def requireSnapshot(id: Long): Snapshot = snapshot(id)
    .getOrElse(throw new IllegalArgumentException(s"no snapshot $id"))
  def currentManifests: Seq[String] = current.toSeq.flatMap(_.manifests)
  def currentDeleteManifests: Seq[String] = current.toSeq.flatMap(_.deleteManifests)
  /** Snapshot id (and metadata version) of a commit derived from this
    * metadata; stamped onto its new data files and equality deletes. */
  def nextSnapshotId: Long = snapshots.map(_.id).maxOption.getOrElse(-1L) + 1
  def schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
  /** Named snapshot refs ("tags"): `ref.tag.<name>` -> snapshot id. */
  def tags: Map[String, Long] = refs(LakeFormat.PropTagPrefix)
  /** Branch refs: `ref.branch.<name>` -> head snapshot id. */
  def branches: Map[String, Long] = refs(LakeFormat.PropBranchPrefix)
  private def refs(prefix: String): Map[String, Long] = properties.collect {
    case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v.toLong
  }
  /** Resolve a schema id; 0 always resolves (synthesized for legacy
    * metadata from the CURRENT ddl — sound because until the first
    * rename/drop mints def 1, names never changed and ids are positional).
    */
  def schemaDef(id: Int): SchemaDef =
    schemas.find(_.id == id).getOrElse {
      if (id == 0) SchemaDef(0, schemaDdl, Nil)
      else throw new IllegalArgumentException(s"no schema def $id")
    }
  def currentSchemaDef: SchemaDef = schemaDef(currentSchemaId)
  /** Highest field id ever assigned (drop never frees an id). */
  def lastFieldId: Int =
    (schemas.flatMap(_.ids) ++ schemaDef(0).ids).max
  /** Truncate width of a partition-spec vintage; 0 always resolves to the
    * creation spec (also covers pre-evolution metadata).
    */
  def specWidth(id: Int): Long =
    if (id == 0) spec.widthMicros
    else specs.find(_.id == id).map(_.widthMicros).getOrElse(
      throw new IllegalArgumentException(s"no partition spec $id"))
  /** The spec NEW writes bucket under (current width, invariant column). */
  def currentSpec: TruncateSpec =
    if (currentSpecId == 0) spec
    else TruncateSpec(spec.column, specWidth(currentSpecId))
}

/** Bounded result of an orphan-file sweep (`removeOrphanFiles`): total
  * deleted count + a ≤[[OrphanSweep.SampleCap]] path sample for
  * operator eyeballing. Deliberately NOT the full path list — a
  * crash-debris sweep can delete millions of files and the summary must
  * stay driver-bounded regardless.
  */
case class OrphanSweep(deletedCount: Long, sample: Seq[String])

object OrphanSweep {
  val SampleCap = 20
}

object LakeFormat {
  val MetadataDir = "metadata"
  // manifest files live under metadata/manifests/ and are referenced by
  // RELATIVE name, so commit-path listings of metadata/ stay
  // O(retained versions); legacy plain names resolve unchanged
  val ManifestsSubdir = "manifests"
  val DataDir = "data"
  val DeleteDir = "deletes"
  // delete strategy for predicate deletes (Iceberg's knob):
  // copy-on-write (default) rewrites files; merge-on-read writes
  // position-delete files readers apply as skip masks
  val PropDeleteMode = "write.delete.mode"
  // per-command row-level strategy (Iceberg's write.update.mode /
  // write.merge.mode): merge-on-read routes SQL UPDATE/MERGE through the
  // delta write path (position deletes + appended rows) instead of the
  // group-based copy-on-write rewrite
  val PropUpdateMode = "write.update.mode"
  val PropMergeMode = "write.merge.mode"
  val DeleteModeMergeOnRead = "merge-on-read"
  val PendingCommitsDir = "_commits/pending"
  val TmpCommitsDir = "_commits/tmp"
  val VersionHint = "version-hint.text"

  // DSv2 writer file rolling: close a data file once it crosses this many
  // bytes and open a fresh one for the bucket (default 512 MB)
  val PropTargetFileSize = "write.target-file-size-bytes"

  // comma-separated columns to write parquet BLOOM FILTERS for: point
  // lookups on unsorted high-cardinality columns then skip row groups the
  // value provably isn't in (parquet-mr's row-group filter consults blooms
  // automatically when the pushed predicate is an equality). Blooms live
  // in the FILES, not the manifests — per-file cost, zero driver-metadata
  // growth at 10⁶ files, exactly Iceberg's write.parquet.bloom-filter-
  // enabled design
  val PropBloomColumns = "write.bloom.columns"

  // declared write-time sort order (comma-separated column names): the
  // DSv2 write requests an in-task ordering on (partition, sort columns),
  // so each bucket's rolled files carry DISJOINT footer-stat ranges on the
  // sort keys and point/range predicates prune to one of them straight
  // from ingest — no compaction pass needed first
  val PropSortOrder = "write.sort-order"

  /** The declared sort columns that still EXIST under the given schema's
    * field names — the one parse of [[PropSortOrder]] (DSv2 write path and
    * compaction both resolve through here, so the formats can't diverge).
    * A column renamed or dropped after declaration silently leaves the
    * order (the property is not rewritten by DDL); resolving against the
    * live schema keeps writes/compaction working on the surviving prefix
    * instead of failing analysis on a phantom name.
    */
  def sortOrderColumns(properties: Map[String, String],
      schemaFields: Seq[String]): Seq[String] = {
    // Locale.ROOT: a locale-sensitive lowercase (tr-TR dotless-i) would
    // silently drop a valid declared column from the order
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val declared = properties.get(PropSortOrder)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val live = schemaFields.map(lower).toSet
    declared.filter(c => live.contains(lower(c)))
  }

  // Table properties honored from the reference (SURVEY §1.3).
  val PropCommitRetries = "commit.retry.num-retries"
  // Exponential-backoff base for lost-CAS retries (doubles per attempt
  // through 16×, with ±50% jitter so racing committers desynchronize,
  // then decays to a 0..4× full-range jitter — the bounded-tail ladder,
  // see LakeTable.retryBackoff).
  // The round-10 contention probe showed why no-backoff spinning is not
  // just slow but LOSSY in practice: with 5 committers racing one table,
  // a loser re-derives at full speed, stays phase-locked with the pack,
  // and can lose 20 straight races (p ≈ 0.8^20 per commit — ~1% — which
  // at 200 commits/thread kills whole committers via retry exhaustion).
  // Jittered backoff makes the k-th consecutive loss exponentially
  // unlikely; 0 disables (tests that fuzz the race directly).
  val PropCommitRetryWaitMs = "commit.retry.min-wait-ms"
  val DefaultCommitRetryWaitMs = "2"
  val PropManifestMinMerge = "commit.manifest.min-count-to-merge"
  // Cap on file entries per MERGED manifest (our analog of Iceberg's
  // manifest target size): merge output is binned, never one unbounded
  // manifest — a 10⁶-file table merged into a single manifest would be a
  // one-task planning bottleneck and a driver-memory spike, and every
  // later merge would rewrite the full inventory. Bins that already meet
  // half this cap are left untouched by later merges (amortized merge
  // cost stays O(small tail), not O(table)).
  val PropManifestMergeMaxEntries = "commit.manifest.merge.max-entries"
  val DefaultManifestMergeMaxEntries = 100000
  val PropMinSnapshotsToKeep = "history.expire.min-snapshots-to-keep"
  // per-query streaming-epoch watermark:
  // "stream.epoch.<queryId>" -> "<epochId>:<commitTimestampMs>"
  val PropStreamEpochPrefix = "stream.epoch."
  // idle epoch watermarks older than this are GC'd at the next epoch
  // commit. NOT under the "stream.epoch." prefix — every key under that
  // prefix IS a watermark and is itself GC-eligible.
  val PropStreamEpochTtlMs = "stream.epoch-ttl-ms"
  val DefaultStreamEpochTtlMs: String = (30L * 24 * 3600 * 1000).toString
  // named snapshot ref: "ref.tag.<name>" -> "<snapshotId>"; tagged
  // snapshots are pinned through expiry (audit / reproducibility points)
  val PropTagPrefix = "ref.tag."
  // WAP branch ref: "ref.branch.<name>" -> "<head snapshotId>" — a chain
  // of "stage" snapshots invisible to main readers until published
  val PropBranchPrefix = "ref.branch."

  // 100, not the reference's low-tens shape: a lost CAS wins its retry
  // race with probability ~1/N under N-way contention, so the attempt
  // budget must cover N·ln(commits) with margin — at 20, five contending
  // committers exhaust it ~1% of commits (measured, round 10), and an
  // exhausted committer is a LOST WRITE for its caller.
  //
  // Wall-time sizing under the DECAY regime (r13 advice — the bounded
  // tail trades per-retry wait for race frequency, which shrinks the
  // drain window a fixed budget covers): past attempt 4 every retry
  // waits base..4x base (floor of one base, LakeTable.backoffWindowMs)
  // PLUS one refresh-rederive round (~6 object-store RTTs — the real
  // per-retry clock at scale). At the probe's 15 ms/op that is ≥ ~90 ms
  // per retry, so 100 attempts cover ≥ ~9 s of pack drain — above the
  // measured worst p99 (9.2 s at 15-way, zero losses in 500 commits,
  // BENCH_probes). A deployment with a slower store or wider packs
  // raises PropCommitRetries (wall coverage scales linearly) or base
  // (coverage per retry scales with it); the happy path still wins on
  // attempt 0 with zero sleeps either way.
  val DefaultProperties: Map[String, String] = Map(
    PropCommitRetries -> "100",
    PropManifestMinMerge -> "200",
    PropMinSnapshotsToKeep -> "100",
    "write.metadata.previous-versions-max" -> "200",
    "write.metadata.delete-after-commit.enabled" -> "true")
}
