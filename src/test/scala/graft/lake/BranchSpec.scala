package graft.lake

import graft.SparkSpec

/** Write-audit-publish branches: stage commits invisible to main readers,
  * auditable via snapshot reads / `VERSION AS OF '<branch>'`, folded into
  * main atomically at publish (even past concurrent appends), pinned
  * through expiry while live, GC'd after drop.
  */
class BranchSpec extends SparkSpec {

  private val Width = 300000000L
  private def bucket(i: Int): Long = (7400000L + i) * Width

  private def newTable(prefix: String): LakeTable = {
    val loc = tmpDir(prefix)
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
  }

  private def batch(t: LakeTable, rows: Long, b: Int, seed: Long) =
    LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, rows, bucket(b), seed), t)

  test("stage → audit → publish: invisible, then atomic, incremental-safe") {
    val t = newTable("wap")
    t.append(batch(t, 50, 0, seed = 1))
    val mainBefore = t.currentSnapshotId

    val s1 = t.stageAppend(batch(t, 20, 1, seed = 2), "audit")
    val s2 = t.stageAppend(batch(t, 10, 2, seed = 3), "audit")
    assert(t.branchHead("audit").contains(s2))
    // main readers see nothing
    assert(t.currentSnapshotId == mainBefore)
    assert(t.toDF(spark).count() == 50)
    assert(spark.read.format("laketable").load(t.location).count() == 50)
    // the audit reads the branch head (stacked stages compose)
    assert(t.snapshotDF(spark, s1).count() == 70)
    assert(t.snapshotDF(spark, s2).count() == 80)

    // concurrent main append between staging and publish must survive
    t.append(batch(t, 5, 3, seed = 4))
    val pub = t.publishBranch("audit")
    assert(pub > 0)
    assert(t.branchHead("audit").isEmpty)
    assert(t.toDF(spark).count() == 85) // 50 + 5 + 30 staged
    // incremental read: the published files are delivered AT the publish
    // snapshot, exactly once
    val added = t.addedFilesBySnapshot(mainBefore, pub)
    assert(added.map(_._1).contains(pub))
    assert(added.flatMap(_._2).map(_.rowCount).sum == 35) // 5 + 30
    assert(t.changesBetween(spark, mainBefore, pub).count() == 35)
    // re-publish of a gone branch is a no-op
    assert(t.publishBranch("audit") == -1L)
  }

  test("dropped branch stages expire; live branch stages are pinned") {
    val t = newTable("wap-gc")
    t.append(batch(t, 30, 0, seed = 5))
    val staged = t.stageAppend(batch(t, 10, 1, seed = 6), "b1")
    val stagedFiles = t.tableMeta.snapshot(staged).get.manifests
      .flatMap(m => t.files(staged)).map(_.path).distinct
      .filterNot(t.files().map(_.path).toSet)
    assert(stagedFiles.nonEmpty)
    // live branch: expiry keeps the stage snapshot and its files
    t.expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 1)
    assert(t.tableMeta.snapshot(staged).isDefined)
    assert(stagedFiles.forall(p => new java.io.File(p).exists()))
    // dropped branch: the stage chain becomes expiry-eligible
    t.dropBranch("b1")
    t.expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 1)
    assert(t.tableMeta.snapshot(staged).isEmpty)
    assert(stagedFiles.forall(p => !new java.io.File(p).exists()))
  }

  test("publish survives aggressive expiry: the branch BASE snapshot is pinned") {
    val t = newTable("wap-base-pin")
    t.append(batch(t, 20, 0, seed = 8)) // the base the stage chain ends at
    t.stageAppend(batch(t, 5, 1, seed = 9), "b2")
    // main advances well past the base
    t.append(batch(t, 5, 2, seed = 10))
    t.append(batch(t, 5, 3, seed = 11))
    // aggressive expiry: only the newest main snapshot is kept by count.
    // The stage snapshots were already pinned; the BASE must be pinned too
    // — otherwise publishBranch's chain walk hits a missing parent and the
    // branch becomes permanently unpublishable
    t.expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 1)
    val pub = t.publishBranch("b2")
    assert(pub > 0)
    assert(t.toDF(spark).count() == 35) // 20 base + 10 main + 5 staged
  }

  test("SQL: VERSION AS OF branch name reads staged data") {
    val w = lakeCatalog("wapcat")
    spark.sql(
      s"""CREATE TABLE wapcat.ns.w (message_id BIGINT, data STRING,
         |  timestamp TIMESTAMP, timeperiod_loadedBy BIGINT, message_body BINARY)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(
      s"""INSERT INTO wapcat.ns.w SELECT id, 'live', timestamp_micros(${bucket(0)}),
         |  ${bucket(0)}L, CAST('x' AS BINARY) FROM range(0, 20)""".stripMargin)
    val t = LakeTable.load(s"$w/ns/w")
    t.stageAppend(batch(t, 7, 1, seed = 7), "wip")
    assert(spark.sql("SELECT count(*) FROM wapcat.ns.w").head.getLong(0) == 20)
    assert(spark.sql("SELECT count(*) FROM wapcat.ns.w VERSION AS OF 'wip'")
      .head.getLong(0) == 27)
  }
}
