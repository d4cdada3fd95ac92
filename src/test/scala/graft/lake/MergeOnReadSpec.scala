package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Merge-on-read position deletes (SURVEY §2 extension; the Iceberg v2
  * position-delete shape): predicate deletes write (file_path, pos)
  * parquets instead of rewriting data; readers apply them as skip masks;
  * compaction materializes them away.
  */
class MergeOnReadSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Width = 300000000L // 5 minutes in µs
  private def bucket(i: Int): Long = (7000000L + i) * Width

  private def newMoRTable(): LakeTable = {
    val loc = tmpDir("laketable-mor")
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      Map(LakeFormat.PropDeleteMode -> LakeFormat.DeleteModeMergeOnRead))
  }

  private def appendBatch(t: LakeTable, rows: Long, micros: Long, seed: Long,
      filesPer: Int = 1): Long = {
    val df = LakeWriter.generateBatch(spark, rows, micros, seed)
    t.append(LakeWriter.writeDataFiles(df, t, filesPer))
  }

  test("MoR deleteWhere writes position deletes without touching data files") {
    val t = newMoRTable()
    appendBatch(t, 100, bucket(0), seed = 1) // ids 0..99
    appendBatch(t, 50, bucket(1), seed = 2)  // ids 0..49
    val filesBefore = t.files().map(_.path).toSet
    val preSnap = t.currentSnapshotId

    val snap = t.deleteWhere(spark,
      col("message_id") < 30 && col("timeperiod_loadedBy") === bucket(0))
    assert(snap > 0)
    // zero data-file churn: identical live data set, deletes on the side
    assert(t.files().map(_.path).toSet == filesBefore)
    val dels = t.deleteFilesMeta()
    assert(dels.nonEmpty && dels.map(_.rowCount).sum == 30)
    assert(dels.forall(_.dataPaths.nonEmpty)) // exact path list inlined
    assert(t.toDF(spark).count() == 120)
    // deleted rows are gone; NULL-free survivors intact
    assert(t.toDF(spark)
      .filter(col("timeperiod_loadedBy") === bucket(0)).count() == 70)
    // time travel to the pre-delete snapshot still sees every row
    assert(t.snapshotDF(spark, preSnap).count() == 150)
  }

  test("DSv2 scans apply MoR deletes: full, filtered, projected, count-star") {
    val t = newMoRTable()
    appendBatch(t, 100, bucket(0), seed = 3)
    appendBatch(t, 50, bucket(1), seed = 4)
    t.deleteWhere(spark,
      col("message_id") < 30 && col("timeperiod_loadedBy") === bucket(0))

    val df = spark.read.format("laketable").load(t.location)
    assert(df.count() == 120) // count-star path must subtract masks
    assert(df.filter(col("timeperiod_loadedBy") === bucket(0)).count() == 70)
    // projection-only read
    assert(df.select("message_id").count() == 120)
    // residual rows keep correct values (no off-by-one in the skip walk)
    val ids = df.filter(col("timeperiod_loadedBy") === bucket(0))
      .select("message_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (30L until 100L))
    // group-by-partition agg: pushdown must decline under pending deletes
    val byBucket = df.groupBy("timeperiod_loadedBy").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBucket == Map(bucket(0) -> 70L, bucket(1) -> 50L))
  }

  test("a scan whose files no MoR delete touches stays columnar") {
    val t = newMoRTable()
    appendBatch(t, 100, bucket(0), seed = 3)
    appendBatch(t, 50, bucket(1), seed = 4)
    t.deleteWhere(spark,
      col("message_id") < 30 && col("timeperiod_loadedBy") === bucket(0))
    def read(b: Int): DataFrame = spark.read.format("laketable").load(t.location)
      .filter(col("timeperiod_loadedBy") === bucket(b)).select("message_id", "data")
    def columnar(df: DataFrame): Boolean = {
      val scans = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
      assert(scans.size == 1)
      scans.head.supportsColumnar
    }
    // bucket 1: the delete's data-path list names no file the filter keeps
    val clean = read(1)
    assert(columnar(clean))
    assert(clean.collect().length == 50)
    // bucket 0: its file carries the delete, so the scan takes the row
    // path and still masks the deleted rows
    val masked = read(0)
    assert(!columnar(masked))
    assert(masked.collect().map(_.getLong(0)).sorted.toSeq == (30L until 100L))
  }

  test("stacked MoR deletes union; re-deleting a deleted row is a no-op") {
    val t = newMoRTable()
    appendBatch(t, 100, bucket(0), seed = 5)
    t.deleteWhere(spark, col("message_id") < 30)
    // overlaps the first delete on ids 0..29 — set semantics, no double count
    t.deleteWhere(spark, col("message_id") < 40)
    assert(t.tableMeta.current.get.deleteManifests.size == 2)
    assert(t.toDF(spark).count() == 60)
    assert(spark.read.format("laketable").load(t.location).count() == 60)
    // no-match predicate commits nothing
    assert(t.deleteWhere(spark, col("message_id") > 1000) == -1L)
  }

  test("MoR delete keeps rows where the predicate evaluates to NULL") {
    val t = newMoRTable()
    val df = LakeWriter.generateBatch(spark, 100, bucket(0), seed = 6)
      .withColumn("data",
        when(col("message_id") % 2 === 0, col("data")).otherwise(lit(null)))
    t.append(LakeWriter.writeDataFiles(df, t))
    t.deleteWhere(spark, length(col("data")) > 0 && col("message_id") < 50)
    // deleted: even ids < 50 (25 rows); NULL-data rows all kept
    assert(t.toDF(spark).count() == 75)
    assert(t.toDF(spark).filter(col("data").isNull).count() == 50)
  }

  test("compaction materializes MoR deletes and prunes dead delete entries") {
    val t = newMoRTable()
    appendBatch(t, 50, bucket(0), seed = 7, filesPer = 2)
    appendBatch(t, 50, bucket(0), seed = 8, filesPer = 2)
    t.deleteWhere(spark, col("message_id") < 10) // 20 rows across both batches
    assert(t.toDF(spark).count() == 80)
    val preCompact = t.currentSnapshotId
    val snap = t.compactFiles(spark, smallFileBytes = 64L << 20, minInputFiles = 2)
    assert(snap > 0)
    // deletes materialized into the rewritten files and their entries dead
    assert(t.deleteFilesMeta().isEmpty)
    assert(t.toDF(spark).count() == 80)
    assert(spark.read.format("laketable").load(t.location).count() == 80)
    // the pre-compaction snapshot still applies its masks
    assert(t.snapshotDF(spark, preCompact).count() == 80)
  }

  test("MoR delete aborts when a compaction lands between its scan and commit") {
    val t = newMoRTable()
    appendBatch(t, 100, bucket(10), seed = 20, filesPer = 2)
    // the delete scans HERE (positions reference the two original files)
    val written = t.writePositionDeletes(spark, col("message_id") < 10)
    assert(written.nonEmpty)
    // ... then a concurrent compaction replaces every data file mid-flight
    assert(t.compactFiles(spark, smallFileBytes = 64L << 20, minInputFiles = 1) > 0)
    // committing the stale positions would dangle them forever — the DELETE
    // would silently no-op and the rows resurrect
    intercept[java.util.ConcurrentModificationException] {
      t.commitPositionDeletes(written)
    }
    // nothing landed: table unchanged, no delete entries
    assert(t.deleteFilesMeta().isEmpty)
    assert(t.toDF(spark).count() == 100)
  }

  test("capped delete entries (no inline path list) still abort on the " +
      "compaction race via the scan snapshot") {
    val t = newMoRTable()
    appendBatch(t, 100, bucket(11), seed = 21, filesPer = 2)
    val scanSnapshot = t.currentSnapshotId
    val written = t.writePositionDeletes(spark, col("message_id") < 10)
    assert(written.nonEmpty)
    // simulate the >DeletePathListCap overflow: the manifest entry keeps
    // only the [lo,hi] path range. A live-overlap check would pass
    // trivially after compaction (replacement files land in the same
    // bucket dirs and sort inside the range) — the scan-snapshot check
    // must abort instead
    val capped = written.map(_.copy(dataPaths = Nil))
    assert(t.compactFiles(spark, smallFileBytes = 64L << 20, minInputFiles = 1) > 0)
    intercept[java.util.ConcurrentModificationException] {
      t.commitPositionDeletes(capped, Some(scanSnapshot))
    }
    assert(t.deleteFilesMeta().isEmpty)
    // no race: the same capped commit goes through and masks rows
    val written2 = t.writePositionDeletes(spark, col("message_id") < 10)
    val scan2 = t.currentSnapshotId
    assert(t.commitPositionDeletes(
      written2.map(_.copy(dataPaths = Nil)), Some(scan2)) > 0)
    assert(t.toDF(spark).count() == 90)
  }

  test("CoW deleteWhere after MoR deletes never resurrects deleted rows") {
    val loc = tmpDir("laketable-mor-cow")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      Map(LakeFormat.PropDeleteMode -> LakeFormat.DeleteModeMergeOnRead))
    appendBatch(t, 100, bucket(0), seed = 9)
    t.deleteWhere(spark, col("message_id") < 20) // MoR: 80 live
    // switch to CoW and delete a range overlapping live + dead rows: the
    // rewrite of the partially-matching file must not re-emit ids 0..19
    t.setProperty(LakeFormat.PropDeleteMode, "copy-on-write")
    t.deleteWhere(spark, col("message_id") >= 90)
    assert(t.toDF(spark).count() == 70)
    val ids = t.toDF(spark).select("message_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (20L until 90L))
    // the rewrite replaced the only data file → delete entries pruned
    assert(t.deleteFilesMeta().isEmpty)
  }

  test("rollback restores pre-delete content; expiry GCs orphan delete files") {
    val t = newMoRTable()
    appendBatch(t, 100, bucket(0), seed = 10)
    val preSnap = t.currentSnapshotId
    t.deleteWhere(spark, col("message_id") < 50)
    assert(t.toDF(spark).count() == 50)
    val delPaths = t.deleteFilesMeta().map(_.path)
    assert(delPaths.forall(p => new java.io.File(p).exists()))

    t.rollbackTo(preSnap)
    assert(t.toDF(spark).count() == 100)
    assert(t.deleteFilesMeta().isEmpty)
    // expiry drops the delete snapshot → its delete parquets are orphans
    t.expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 1)
    assert(delPaths.forall(p => !new java.io.File(p).exists()))
  }

  test("SQL DELETE routes through MoR when the table property says so") {
    val w = lakeCatalog("morcat")
    spark.sql(
      s"""CREATE TABLE morcat.ns.ev (
         |  message_id BIGINT, data STRING, timestamp TIMESTAMP,
         |  timeperiod_loadedBy BIGINT, message_body BINARY)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(
      s"""INSERT INTO morcat.ns.ev SELECT
         |  id, md5(cast(id AS STRING)), timestamp_micros(${bucket(0)} + id),
         |  ${bucket(0)}L, cast(md5(cast(id AS STRING)) AS BINARY)
         |FROM range(0, 100)""".stripMargin)
    val t = LakeTable.load(s"$w/ns/ev")
    t.setProperty(LakeFormat.PropDeleteMode, LakeFormat.DeleteModeMergeOnRead)
    val filesBefore = t.files().map(_.path).toSet

    spark.sql("DELETE FROM morcat.ns.ev WHERE message_id < 25")
    t.refresh()
    assert(t.files().map(_.path).toSet == filesBefore) // no rewrite
    assert(t.deleteFilesMeta().nonEmpty)
    assert(spark.sql("SELECT count(*) FROM morcat.ns.ev").head.getLong(0) == 75)
    assert(spark.sql(
      "SELECT count(*) FROM morcat.ns.ev WHERE message_id >= 20"
    ).head.getLong(0) == 75)
  }
}
