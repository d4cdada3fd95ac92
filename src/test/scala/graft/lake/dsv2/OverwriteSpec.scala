package graft.lake.dsv2

import graft.{SessionConf, SparkSpec}
import graft.lake.{LakeTable, LakeWriter, TruncateSpec}
import org.apache.spark.sql.functions._

/** INSERT OVERWRITE semantics through the DSv2 write path: filter
  * overwrite (OverwriteByExpression → [[LakeTable.overwriteWhere]], one
  * atomic delete-matching + append commit) and dynamic partition overwrite
  * (OverwritePartitionsDynamic → [[LakeTable.overwriteDynamic]], replacing
  * exactly the buckets the new data touches, metadata-only when vintages
  * share the write width).
  */
class OverwriteSpec extends SparkSpec {
  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width

  private lazy val warehouse: String = lakeCatalog("lakeow")

  private def mkTable(name: String): String = {
    warehouse
    spark.sql(
      s"""CREATE TABLE lakeow.ns.$name (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    s"lakeow.ns.$name"
  }

  private def insert(tbl: String, n: Int, b: Int, idOffset: Long = 0): Unit =
    spark.sql(s"INSERT INTO $tbl SELECT id + $idOffset, id, ${bucket(b)}L " +
      s"FROM range(0, $n)")

  test("dynamic overwrite replaces exactly the touched buckets") {
    val tbl = mkTable("dyn")
    insert(tbl, 40, b = 0)
    insert(tbl, 30, b = 1)
    val loc = s"$warehouse/ns/dyn"
    val untouchedBefore = LakeTable.load(loc).files()
      .filter(_.partitionValue == bucket(1)).map(_.path).toSet

    // overwritePartitions(): only bucket 0 receives data → only bucket 0
    // is replaced; bucket 1's files must come through PHYSICALLY untouched
    spark.range(0, 7).select(
        (col("id") + 1000).as("message_id"), col("id").as("v"),
        lit(bucket(0)).as("timeperiod_loadedBy"))
      .writeTo(tbl).overwritePartitions()

    val t = LakeTable.load(loc)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 37)
    assert(spark.sql(
      s"SELECT count(*) FROM $tbl WHERE timeperiod_loadedBy = ${bucket(0)}"
    ).head.getLong(0) == 7)
    val untouchedAfter = t.files()
      .filter(_.partitionValue == bucket(1)).map(_.path).toSet
    assert(untouchedAfter == untouchedBefore) // metadata-only swap
    // prior snapshot still sees the pre-overwrite generation
    val snaps = t.tableMeta.snapshots.map(_.id)
    assert(t.snapshotDF(spark, snaps(snaps.length - 2)).count() == 70)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL INSERT OVERWRITE under partitionOverwriteMode=dynamic") {
    val tbl = mkTable("dynsql")
    insert(tbl, 20, b = 0)
    insert(tbl, 10, b = 2)
    SessionConf.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
      spark.sql(s"INSERT OVERWRITE $tbl SELECT id, id * 2, ${bucket(0)}L " +
        "FROM range(0, 5)"))
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 15)
    assert(spark.sql(
      s"SELECT sum(v) FROM $tbl WHERE timeperiod_loadedBy = ${bucket(0)}"
    ).head.getLong(0) == 20) // 0+2+4+6+8
    spark.sql(s"DROP TABLE $tbl")
  }

  test("filter overwrite: bucket-aligned predicate swaps the range atomically") {
    val tbl = mkTable("fal")
    insert(tbl, 25, b = 0)
    insert(tbl, 15, b = 1)
    val loc = s"$warehouse/ns/fal"
    val keepBefore = LakeTable.load(loc).files()
      .filter(_.partitionValue == bucket(1)).map(_.path).toSet

    // replace bucket 0's range with recomputed rows — one commit
    spark.range(0, 4).select(
        (col("id") + 500).as("message_id"), (col("id") * 10).as("v"),
        lit(bucket(0)).as("timeperiod_loadedBy"))
      .writeTo(tbl)
      .overwrite(col("timeperiod_loadedBy") < bucket(1))

    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 19)
    assert(spark.sql(
      s"SELECT sum(v) FROM $tbl WHERE timeperiod_loadedBy = ${bucket(0)}"
    ).head.getLong(0) == 60)
    // bucket-1 files survive physically (whole-file classification)
    val keepAfter = LakeTable.load(loc).files()
      .filter(_.partitionValue == bucket(1)).map(_.path).toSet
    assert(keepAfter == keepBefore)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("filter overwrite: non-aligned predicate rewrites survivors, NULL rows survive") {
    val tbl = mkTable("frow")
    // v NULL every 5th row: a NULL predicate result must NOT be deleted
    spark.sql(s"INSERT INTO $tbl SELECT id, " +
      s"CASE WHEN id % 5 = 0 THEN NULL ELSE id END, ${bucket(0)}L FROM range(0, 20)")

    spark.range(0, 2).select(
        (col("id") + 900).as("message_id"), lit(77L).as("v"),
        lit(bucket(0)).as("timeperiod_loadedBy"))
      .writeTo(tbl).overwrite(col("v") >= 10)

    // survivors: v in 1..9 non-null (8 rows) + 4 NULL-v rows (0,5,10,15 →
    // 0,5,10,15 have v NULL; all survive) + 2 new = 14
    val rows = spark.sql(s"SELECT message_id, v FROM $tbl ORDER BY message_id")
      .collect()
    assert(rows.length == 14)
    assert(rows.count(_.isNullAt(1)) == 4)
    assert(rows.filter(r => !r.isNullAt(1)).map(_.getLong(1)).sum ==
      (1 to 9).filter(_ % 5 != 0).sum + 2 * 77)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("filter overwrite into an empty table commits the new files") {
    val tbl = mkTable("fempty")
    spark.range(0, 3).select(col("id").as("message_id"), col("id").as("v"),
        lit(bucket(0)).as("timeperiod_loadedBy"))
      .writeTo(tbl).overwrite(col("v") < 100)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 3)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("dynamic overwrite across spec widths rewrites only straddling files") {
    // a file written under width 1000 straddles touched buckets of width
    // 100 — its rows OUTSIDE the touched buckets must survive via rewrite
    val loc = tmpDir("lake-ow-straddle")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl,
      TruncateSpec("timeperiod_loadedBy", 1000L))
    // 10 rows spread at tp = 0, 100, ..., 900: ONE bucket-0 file under
    // w=1000 whose interval [0, 1000) spans ten w=100 buckets
    val spread = LakeWriter.generateBatch(spark, 10, 0L, seed = 1)
      .withColumn("timeperiod_loadedBy", col("message_id") * 100L)
    t.append(LakeWriter.writeDataFiles(spread, t))
    assert(t.files().size == 1 && t.files().head.partitionValue == 0L)

    t.setPartitionWidth(100L)
    val t2 = LakeTable.load(loc)
    // new generation written under w=100 touches ONLY bucket 0
    val newFiles = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, 0L, seed = 2), t2)
    assert(t2.overwriteDynamic(spark, newFiles, t2.currentSpecId) > 0)
    // old row at tp=0 dies (inside touched bucket 0); tp=100..900 survive
    // through the straddle rewrite; + 5 new rows
    val left = t2.toDF(spark)
    assert(left.count() == 9 + 5)
    assert(left.filter(col("timeperiod_loadedBy") === 0L).count() == 5)
    // the straddling file was replaced; survivors re-bucketed under w=100
    val byBucket = LakeTable.load(loc).files().map(_.partitionValue).sorted
    assert(byBucket.distinct == (0L to 900L by 100L).toSeq)
    LakeTable.drop(loc)
  }

  test("dynamic overwrite vs concurrent append into a touched bucket → CME") {
    val loc = tmpDir("lake-ow-race")
    LakeTable.drop(loc)
    val a = LakeTable.create(loc, LakeWriter.EventSchemaDdl,
      TruncateSpec("timeperiod_loadedBy", 1000L))
    a.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 10, 0L, seed = 1), a))

    // instance A plans the overwrite against the current snapshot...
    val newFiles = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 3, 0L, seed = 2), a)
    // ...then instance B lands MORE data in the touched bucket first
    val b = LakeTable.load(loc)
    b.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 4, 0L, seed = 3), b))

    // A's CAS fails, the retry sees B's files in the touched bucket and
    // must abort rather than silently swallow them
    intercept[java.util.ConcurrentModificationException] {
      a.overwriteDynamic(spark, newFiles, a.currentSpecId)
    }
    // table unchanged by the aborted overwrite
    assert(LakeTable.load(loc).toDF(spark).count() == 14)

    // an append into an UNtouched bucket does not conflict
    val c = LakeTable.load(loc)
    val newFiles2 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 3, 0L, seed = 4), c)
    val d = LakeTable.load(loc)
    d.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 6, 5000L, seed = 5), d)) // bucket 5000
    assert(c.overwriteDynamic(spark, newFiles2, c.currentSpecId) > 0)
    assert(LakeTable.load(loc).toDF(spark).count() == 3 + 6)
    LakeTable.drop(loc)
  }
}
