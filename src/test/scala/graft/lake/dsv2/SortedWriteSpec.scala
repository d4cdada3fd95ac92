package graft.lake.dsv2

import graft.SparkSpec
import graft.lake.LakeTable

/** `write.sort-order` (declared write-time clustering): the DSv2 write
  * requests an in-task ordering on (partition, sort columns), so a
  * bucket's rolled files carry DISJOINT footer-stat ranges on the sort
  * keys — a point/range predicate prunes to one file straight from
  * ingest, without waiting for a clustering compaction.
  */
class SortedWriteSpec extends SparkSpec {
  private lazy val warehouse: String = lakeCatalog("lakesw")

  test("sorted ingest yields disjoint per-file ranges and 1-file point lookups") {
    warehouse
    // tiny roll target → the single bucket's 5000 rows split into ~5
    // files (size polled every 1000 rows); sort-order=v makes the splits
    // DISJOINT in v even though the insert arrives shuffled
    spark.sql(
      """CREATE TABLE lakesw.ns.sorted (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
        |PARTITIONED BY (truncate(1000000, timeperiod_loadedBy))
        |TBLPROPERTIES ('write.sort-order'='v',
        |               'write.target-file-size-bytes'='1024')""".stripMargin)
    // reversed insert order: the declared sort, not arrival order, must
    // produce the clustering
    spark.sql(
      "INSERT INTO lakesw.ns.sorted SELECT id, 4999 - id, 7 FROM range(0, 5000)")

    val t = LakeTable.load(s"$warehouse/ns/sorted")
    val files = t.files()
    assert(files.size >= 3, s"expected rolling to split, got ${files.size} file(s)")
    val ranges = files.map { f =>
      val s = f.stats("v")
      (s.longMin.get, s.longMax.get)
    }.sortBy(_._1)
    // disjoint and covering: each file's min follows the previous max
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2,
        s"overlapping sorted-file ranges: $ranges")
      case _ =>
    }
    assert(ranges.head._1 == 0L && ranges.last._2 == 4999L)

    // point lookup prunes to exactly one file
    LakeScanMetrics.lastPlannedFiles = -1
    val hit = spark.sql("SELECT message_id FROM lakesw.ns.sorted WHERE v = 2500")
      .collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(2499L))
    assert(LakeScanMetrics.lastPlannedFiles == 1,
      s"point lookup planned ${LakeScanMetrics.lastPlannedFiles} files")

    // range predicate plans only the covering subset
    LakeScanMetrics.lastPlannedFiles = -1
    assert(spark.sql(
      "SELECT count(*) FROM lakesw.ns.sorted WHERE v >= 4000").head.getLong(0) == 1000)
    assert(LakeScanMetrics.lastPlannedFiles < files.size)
    spark.sql("DROP TABLE lakesw.ns.sorted")
  }

  test("compaction with no explicit sort re-establishes the declared sort order") {
    warehouse
    spark.sql(
      """CREATE TABLE lakesw.ns.sortedc (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
        |PARTITIONED BY (truncate(1000000, timeperiod_loadedBy))
        |TBLPROPERTIES ('write.sort-order'='v')""".stripMargin)
    // 4 small appends, each spanning the WHOLE v domain: every file's
    // (min,max) stat range overlaps every other's, so pre-compaction a
    // point lookup can prune nothing
    for (i <- 0 until 4)
      spark.sql(
        s"INSERT INTO lakesw.ns.sortedc SELECT id, id * 4 + $i, 7 FROM range(0, 500)")
    val t = LakeTable.load(s"$warehouse/ns/sortedc")
    assert(t.files().size >= 4)
    // default-arg compaction (the maintenance loop's call shape) must pick
    // up write.sort-order on its own; maxRecordsPerFile forces multi-file
    // output so disjointness is observable
    val snap = t.compactFiles(spark, minInputFiles = 2,
      maxRecordsPerFile = 500L)
    assert(snap > 0)
    val out = t.files()
    assert(out.size >= 3, s"expected split output, got ${out.size}")
    val ranges = out.map { f =>
      val s = f.stats("v"); (s.longMin.get, s.longMax.get)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2,
        s"compaction lost the declared clustering: $ranges")
      case _ =>
    }
    assert(ranges.head._1 == 0L && ranges.last._2 == 1999L)
    // and the pruning payoff is back: a point lookup plans one file
    LakeScanMetrics.lastPlannedFiles = -1
    assert(spark.sql("SELECT count(*) FROM lakesw.ns.sortedc WHERE v = 1000")
      .head.getLong(0) == 1L)
    assert(LakeScanMetrics.lastPlannedFiles == 1,
      s"post-compaction point lookup planned ${LakeScanMetrics.lastPlannedFiles}")
    spark.sql("DROP TABLE lakesw.ns.sortedc")
  }

  test("renaming a declared sort column follows the rename, keeping clustering") {
    // RENAME COLUMN rewrites write.sort-order in the same commit — a
    // stale token would silently lose the declared clustering (or later
    // bind to an unrelated column reusing the name). Writes and
    // compaction after the rename must still cluster, now by the new
    // name.
    warehouse
    spark.sql(
      """CREATE TABLE lakesw.ns.sortedr (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
        |PARTITIONED BY (truncate(1000000, timeperiod_loadedBy))
        |TBLPROPERTIES ('write.sort-order'='v', 'write.bloom.columns'='v')""".stripMargin)
    for (i <- 0 until 2)
      spark.sql(
        s"INSERT INTO lakesw.ns.sortedr SELECT id, id * 2 + $i, 7 FROM range(0, 200)")
    val t = LakeTable.load(s"$warehouse/ns/sortedr")
    t.renameColumn("v", "w")
    val props = LakeTable.load(s"$warehouse/ns/sortedr").tableMeta.properties
    assert(props(graft.lake.LakeFormat.PropSortOrder) == "w",
      s"sort-order not rewritten: $props")
    assert(props(graft.lake.LakeFormat.PropBloomColumns) == "w",
      s"bloom columns not rewritten: $props")
    // post-rename insert sorts by the renamed column
    spark.sql(
      "INSERT INTO lakesw.ns.sortedr SELECT id + 1000, id, 7 FROM range(0, 50)")
    // post-rename compaction with default args re-clusters on w
    val t2 = LakeTable.load(s"$warehouse/ns/sortedr")
    assert(t2.compactFiles(spark, minInputFiles = 2,
      maxRecordsPerFile = 150L) > 0)
    assert(spark.sql("SELECT count(*) FROM lakesw.ns.sortedr").head.getLong(0) == 450)
    val ranges = LakeTable.load(s"$warehouse/ns/sortedr").files().map { f =>
      val s = f.stats("w"); (s.longMin.get, s.longMax.get)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2,
        s"post-rename compaction lost clustering on w: $ranges")
      case _ =>
    }
    // a sort column dropped outright leaves the order without it
    val t3 = LakeTable.load(s"$warehouse/ns/sortedr")
    t3.dropColumn("w")
    val props2 = LakeTable.load(s"$warehouse/ns/sortedr").tableMeta.properties
    assert(props2.get(graft.lake.LakeFormat.PropSortOrder).contains(""),
      s"sort-order should be emptied by the drop: $props2")
    spark.sql("DROP TABLE lakesw.ns.sortedr")
  }

  test("sort order spanning the partition column dedupes it") {
    warehouse
    spark.sql(
      """CREATE TABLE lakesw.ns.sorted2 (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
        |PARTITIONED BY (truncate(100, timeperiod_loadedBy))
        |TBLPROPERTIES ('write.sort-order'='timeperiod_loadedBy,v')""".stripMargin)
    spark.sql(
      "INSERT INTO lakesw.ns.sorted2 SELECT id, id % 7, id % 3 * 100 FROM range(0, 300)")
    assert(spark.sql("SELECT count(*) FROM lakesw.ns.sorted2").head.getLong(0) == 300)
    spark.sql("DROP TABLE lakesw.ns.sorted2")
  }
}
