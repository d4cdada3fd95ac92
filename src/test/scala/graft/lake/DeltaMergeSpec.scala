package graft.lake

import java.util.UUID

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Delta-based (merge-on-read) MERGE / UPDATE via SupportsDelta
  * (`write.merge.mode` / `write.update.mode` = `merge-on-read`): matched
  * rows retire as position deletes, new row versions append — no data file
  * is ever rewritten. Also covers the `_pos` metadata column the delta row
  * identity is built on, and commitDelta's conflict validation.
  */
class DeltaMergeSpec extends SparkSpec {

  private val Width = 300000000L
  private def bucket(i: Int): Long = (7100000L + i) * Width

  private lazy val warehouse: String = lakeCatalog("deltacat")

  private def newOrdersTable(props: String): (String, String) = {
    val wh = warehouse // force catalog registration before any SQL
    val name = s"t${UUID.randomUUID().toString.replace("-", "")}"
    val tbl = s"deltacat.ns.$name"
    spark.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))
         |$props""".stripMargin)
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE), 'A' " +
      "FROM range(0, 800)")
    (tbl, s"$wh/ns/$name")
  }

  private val MorProps =
    s"""TBLPROPERTIES (
       |  '${LakeFormat.PropMergeMode}'='${LakeFormat.DeleteModeMergeOnRead}',
       |  '${LakeFormat.PropUpdateMode}'='${LakeFormat.DeleteModeMergeOnRead}')""".stripMargin

  test("_pos metadata column: per-file global row positions") {
    val loc = tmpDir("laketable-pos")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    t.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 100, bucket(0), seed = 1), t,
      filesPerPartition = 2))
    val rows = spark.read.format("laketable").load(loc)
      .select("_file", "_pos", "message_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 100)
    // (file, pos) is a unique row identity; positions are dense per file
    assert(rows.map(r => (r._1, r._2)).distinct.length == 100)
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).min == 0L)
      assert(g.map(_._2).max == g.length - 1L)
    }
    // _pos composes with _file-free projections and filters
    assert(spark.read.format("laketable").load(loc)
      .select("_pos").count() == 100)
    assert(spark.read.format("laketable").load(loc)
      .filter(col("message_id") < 10).select("_pos", "message_id")
      .count() == 10)
  }

  test("MoR MERGE: position deletes + appends, zero data-file rewrite") {
    val (tbl, loc) = newOrdersTable(MorProps)
    val t = LakeTable.load(loc)
    val filesBefore = t.files().map(_.path).toSet
    val preMerge = t.currentSnapshotId

    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id AS o_orderkey, CAST(id AS DOUBLE) AS o_totalprice,
         |              'B' AS o_orderstatus FROM range(400, 1200)) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    t.refresh()

    // every pre-merge data file survives untouched; inserts appended
    assert(filesBefore.subsetOf(t.files().map(_.path).toSet))
    val dels = t.deleteFilesMeta()
    assert(dels.nonEmpty && dels.map(_.rowCount).sum == 400)
    assert(dels.forall(_.dataPaths.nonEmpty))

    val out = spark.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out.length == 1200)
    out.foreach { case (k, p, st) =>
      if (k < 400) { assert(p == k.toDouble); assert(st == "A") }
      else if (k < 800) { assert(p == 2.0 * k); assert(st == "A") }
      else { assert(p == k.toDouble); assert(st == "B") }
    }
    // time travel: the pre-merge snapshot is untouched
    assert(t.snapshotDF(spark, preMerge).count() == 800)
    assert(t.snapshotDF(spark, preMerge)
      .agg(sum("o_totalprice")).head.getDouble(0) == (0 until 800).sum.toDouble)
  }

  test("MoR MERGE with matched-DELETE clause") {
    val (tbl, loc) = newOrdersTable(MorProps)
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id AS o_orderkey FROM range(0, 1200)) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND t.o_orderkey % 2 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M'""".stripMargin)
    val t = LakeTable.load(loc)
    assert(t.deleteFilesMeta().map(_.rowCount).sum == 800) // 400 del + 400 upd
    val rows = spark.sql(s"SELECT o_orderkey, o_orderstatus FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 400)
    assert(rows.forall { case (k, st) => k % 2 == 1 && st == "M" })
  }

  test("MoR UPDATE moves rows across partition buckets") {
    val (tbl, loc) = newOrdersTable(
      s"TBLPROPERTIES ('${LakeFormat.PropUpdateMode}'='${LakeFormat.DeleteModeMergeOnRead}')")
    val t = LakeTable.load(loc)
    val filesBefore = t.files().map(_.path).toSet
    // moving the partition column: delete-and-insert re-buckets the rows
    spark.sql(s"UPDATE $tbl SET o_orderkey = o_orderkey + 10000 " +
      "WHERE o_orderkey < 50")
    t.refresh()
    assert(filesBefore.subsetOf(t.files().map(_.path).toSet))
    assert(t.deleteFilesMeta().map(_.rowCount).sum == 50)
    // new row versions landed in the 10000+ buckets
    assert(t.files().exists(_.partitionValue >= 10000L))
    val keys = spark.sql(s"SELECT o_orderkey FROM $tbl").collect()
      .map(_.getLong(0)).sorted
    assert(keys.length == 800)
    assert(keys.take(750).toSeq == (50L until 800L))
    assert(keys.drop(750).toSeq == (10000L until 10050L))
  }

  test("compaction materializes merge deltas away") {
    val (tbl, loc) = newOrdersTable(MorProps)
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id AS o_orderkey, CAST(0 AS DOUBLE) AS o_totalprice,
         |              'Z' AS o_orderstatus FROM range(100, 300)) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_orderstatus = 'Z'""".stripMargin)
    val t = LakeTable.load(loc)
    assert(t.deleteFilesMeta().nonEmpty)
    assert(t.compactFiles(spark, smallFileBytes = 64L << 20, minInputFiles = 1) > 0)
    assert(t.deleteFilesMeta().isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE o_orderstatus = 'Z'")
      .head.getLong(0) == 200)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 800)
  }

  test("$deletes metadata table reports pending delete debt") {
    val (tbl, loc) = newOrdersTable(MorProps)
    val name = tbl.split('.').last
    assert(spark.sql(s"SELECT * FROM deltacat.ns.`$name$$deletes`").count() == 0)
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id AS o_orderkey FROM range(0, 100)) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN DELETE""".stripMargin)
    val rows = spark.sql(
      s"SELECT kind, row_count, seq FROM deltacat.ns.`$name$$deletes`").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0) == "pos"))
    assert(rows.map(_.getLong(1)).sum == 100)
    // compaction pays the debt down to zero
    LakeTable.load(loc).compactFiles(spark,
      smallFileBytes = 64L << 20, minInputFiles = 1)
    assert(spark.sql(s"SELECT * FROM deltacat.ns.`$name$$deletes`").count() == 0)
  }

  test("rewrite aborts when a delete lands between its scan and its commit") {
    val loc = tmpDir("laketable-rewrite-race")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      Map(LakeFormat.PropDeleteMode -> LakeFormat.DeleteModeMergeOnRead))
    t.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 100, bucket(2), seed = 3), t))
    val target = t.files().head
    // a rewrite scans HERE (reads all 100 rows, writes replacement files)
    val scanSnapshot = t.currentSnapshotId
    val replacement = LakeWriter.writeDataFiles(
      t.snapshotDF(spark, scanSnapshot), t)
    // ... then a MoR delete lands mid-flight
    t.deleteWhere(spark, org.apache.spark.sql.functions.col("message_id") < 10)
    // committing the stale rewrite would resurrect the 10 deleted rows
    intercept[java.util.ConcurrentModificationException] {
      t.replaceFiles(Set(target.path), replacement, Some(scanSnapshot))
    }
    assert(t.toDF(spark).count() == 90) // table unchanged by the abort
  }

  test("rewrite aborts when a concurrent rewrite already replaced its input") {
    val loc = tmpDir("laketable-rewrite-dup")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    t.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 60, bucket(3), seed = 4), t, 2))
    val scanSnapshot = t.currentSnapshotId
    val input = t.files()
    val mine = LakeWriter.writeDataFiles(t.snapshotDF(spark, scanSnapshot), t)
    // a concurrent compaction swaps the same input files first
    assert(t.compactFiles(spark, smallFileBytes = 64L << 20, minInputFiles = 1) > 0)
    // committing would ADD `mine` next to the compaction's copies — abort
    intercept[java.util.ConcurrentModificationException] {
      t.replaceFiles(input.map(_.path).toSet, mine, Some(scanSnapshot))
    }
    assert(t.toDF(spark).count() == 60) // no duplicated rows
  }

  test("commitDelta rejects deletes referencing replaced data files") {
    val loc = tmpDir("laketable-conflict")
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    t.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 10, bucket(0), seed = 2), t))
    // a delete entry referencing a path no longer (never) live — the shape
    // a concurrent compaction produces between a merge's scan and commit
    val bogus = DeleteFileMeta(s"$loc/deletes/x.parquet", 1L, 1L,
      "/gone.parquet", "/gone.parquet", dataPaths = Seq("/gone.parquet"))
    intercept[java.util.ConcurrentModificationException] {
      t.commitDelta(Nil, Seq(bogus))
    }
    // nothing landed
    assert(t.deleteFilesMeta().isEmpty)
  }
}
