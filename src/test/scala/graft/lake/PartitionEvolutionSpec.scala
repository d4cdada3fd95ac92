package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Partition-spec evolution (SURVEY §2 extension): the truncate WIDTH new
  * writes bucket under changes while existing files keep their vintage —
  * the "5-minute buckets grew too many files, move to hourly" migration.
  * Every file records the SpecDef it was written under; pruning, retention
  * and SPJ reporting resolve each file's width through that id, and
  * compaction migrates old vintages to the current layout.
  */
class PartitionEvolutionSpec extends SparkSpec {

  private def newTable(width: Long): LakeTable = {
    val loc = tmpDir("laketable-pevo")
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl,
      TruncateSpec("timeperiod_loadedBy", width))
  }

  private def appendBatch(t: LakeTable, rows: Long, micros: Long,
      seed: Long): Long =
    t.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, rows, micros, seed), t))

  test("width change is metadata-only; both vintages consolidate on read") {
    val t = newTable(width = 100L)
    appendBatch(t, 40, micros = 250L, seed = 1) // bucket 200 under w=100
    val filesBefore = t.files().map(_.path).toSet

    t.setPartitionWidth(1000L)
    assert(t.files().map(_.path).toSet == filesBefore) // no file moved
    assert(t.spec.widthMicros == 1000L)
    assert(t.specFor(t.files().head).widthMicros == 100L) // vintage kept

    appendBatch(t, 30, micros = 250L, seed = 2) // bucket 0 under w=1000
    val byVintage = t.files().groupBy(_.specId)
    assert(byVintage(0).forall(_.partitionValue == 200L))
    assert(byVintage(t.currentSpecId).forall(_.partitionValue == 0L))
    assert(t.toDF(spark).count() == 70)

    // reload from disk: registry round-trips
    val r = LakeTable.load(t.location)
    assert(r.spec.widthMicros == 1000L)
    assert(r.tableMeta.specWidth(0) == 100L)
  }

  test("rejects a no-op or nonpositive width") {
    val t = newTable(width = 100L)
    intercept[IllegalArgumentException](t.setPartitionWidth(100L))
    intercept[IllegalArgumentException](t.setPartitionWidth(0L))
    t.setPartitionWidth(500L)
    intercept[IllegalArgumentException](t.setPartitionWidth(500L))
  }

  test("pruning resolves each file's bucket range under its OWN width") {
    val t = newTable(width = 100L)
    appendBatch(t, 10, micros = 250L, seed = 3) // [200, 300) under w=100
    t.setPartitionWidth(1000L)
    appendBatch(t, 10, micros = 250L, seed = 4) // [0, 1000) under w=1000

    // partitionMin = 400: the narrow file's bucket ends at 300 → pruned;
    // the wide file's bucket ends at 1000 → kept (even though its rows sit
    // at 250 — metadata can only prove what the bucket covers)
    assert(t.scan(spark, partitionMin = Some(400L)).count() == 10)
    // under the CURRENT width alone both files would survive min=250
    assert(t.scan(spark, partitionMin = Some(250L)).count() == 20)
    assert(t.scan(spark, partitionMax = Some(100L)).count() == 10) // wide only
  }

  test("deleteOlderThan drops whole buckets per vintage") {
    val t = newTable(width = 100L)
    appendBatch(t, 10, micros = 150L, seed = 5) // [100, 200) under w=100
    appendBatch(t, 10, micros = 250L, seed = 6) // [200, 300) under w=100
    t.setPartitionWidth(1000L)
    appendBatch(t, 10, micros = 350L, seed = 7) // [0, 1000) under w=1000

    // cutoff 300: narrow buckets [100,200) and [200,300) are entirely
    // below → dropped; the wide bucket [0,1000) straddles → kept whole
    assert(t.deleteOlderThan(300L) > 0)
    assert(t.toDF(spark).count() == 10)
    assert(t.files().forall(_.specId == t.currentSpecId))

    // cutoff 1000 clears the wide bucket too
    assert(t.deleteOlderThan(1000L) > 0)
    assert(t.toDF(spark).count() == 0)
  }

  test("compaction migrates old vintages to the current layout") {
    val t = newTable(width = 100L)
    appendBatch(t, 20, micros = 250L, seed = 8) // two files in bucket 200
    appendBatch(t, 20, micros = 250L, seed = 9)
    t.setPartitionWidth(1000L)
    val sum0 = t.toDF(spark).agg(sum("message_id")).head.getLong(0)

    assert(t.compactFiles(spark, minInputFiles = 2) > 0)
    val files = t.files()
    assert(files.forall(_.specId == t.currentSpecId))
    assert(files.forall(_.partitionValue == 0L)) // re-bucketed under w=1000
    assert(t.toDF(spark).count() == 40)
    assert(t.toDF(spark).agg(sum("message_id")).head.getLong(0) == sum0)
  }

  test("SQL: CALL set_partition_width + $partitions separates vintages") {
    lakeCatalog("lakepe")
    spark.sql(
      """CREATE TABLE lakepe.ns.ev (message_id BIGINT, timeperiod_loadedBy BIGINT)
        |PARTITIONED BY (truncate(100, timeperiod_loadedBy))""".stripMargin)
    spark.sql("INSERT INTO lakepe.ns.ev SELECT id, 250L FROM range(0, 40)")
    val sid = spark.sql(
      "CALL lakepe.system.set_partition_width(`table` => 'ns.ev', width_micros => 1000)")
      .head.getLong(0)
    assert(sid > 0)
    spark.sql("INSERT INTO lakepe.ns.ev SELECT id, 250L FROM range(0, 30)")

    assert(spark.sql("SELECT count(*) FROM lakepe.ns.ev").head.getLong(0) == 70)
    // both vintages appear as separate rows keyed by (bucket, spec_id)
    val parts = spark.sql(
      "SELECT partition_value, spec_id, row_count FROM lakepe.ns.`ev$partitions` " +
        "ORDER BY partition_value, spec_id").collect()
    assert(parts.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq ==
      Seq((0L, 1, 30L), (200L, 0, 40L)))
    // predicate pruning still correct across vintages through SQL
    assert(spark.sql(
      "SELECT count(*) FROM lakepe.ns.ev WHERE timeperiod_loadedBy = 250")
      .head.getLong(0) == 70)
    spark.sql("DROP TABLE lakepe.ns.ev")
  }

  test("joins across a mid-migration table stay correct (SPJ stands down)") {
    val w = lakeCatalog("lakepe2")
    for (name <- Seq("a", "b")) {
      spark.sql(
        s"""CREATE TABLE lakepe2.ns.$name (message_id BIGINT, timeperiod_loadedBy BIGINT)
           |PARTITIONED BY (truncate(100, timeperiod_loadedBy))""".stripMargin)
      spark.sql(s"INSERT INTO lakepe2.ns.$name SELECT id, (id % 5) * 100 FROM range(0, 50)")
    }
    // evolve only table a and land a second vintage in it
    LakeTable.load(s"$w/ns/a").setPartitionWidth(1000L)
    spark.sql("INSERT INTO lakepe2.ns.a SELECT id + 100, (id % 5) * 100 FROM range(0, 50)")

    withSpjConfs {
      val joined = spark.sql(
        """SELECT count(*) FROM lakepe2.ns.a a JOIN lakepe2.ns.b b
          |  ON a.timeperiod_loadedBy = b.timeperiod_loadedBy""".stripMargin)
      // 100 a-rows × 10 matching b-rows per key
      assert(joined.head.getLong(0) == 100L * 10L)
    }
    spark.sql("DROP TABLE lakepe2.ns.a")
    spark.sql("DROP TABLE lakepe2.ns.b")
  }

  private def withSpjConfs[A](body: => A): A = graft.SessionConf.withConf(spark,
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false")(body)
}
