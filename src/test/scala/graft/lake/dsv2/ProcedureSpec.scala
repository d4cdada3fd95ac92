package graft.lake.dsv2

import graft.SparkSpec
import graft.lake._

/** SQL maintenance procedures (`CALL cat.system.<proc>`): the operator
  * lifecycle — compact, expire, rollback, tag, WAP publish — reachable
  * with zero Scala.
  */
class ProcedureSpec extends SparkSpec {

  private val Width = 300000000L
  private def bucket(i: Int): Long = (7500000L + i) * Width

  private lazy val warehouse: String = lakeCatalog("proccat")

  private def newTable(): (String, LakeTable) = {
    val wh = warehouse
    val name = s"p${java.util.UUID.randomUUID().toString.replace("-", "")}"
    spark.sql(
      s"""CREATE TABLE proccat.ns.$name (message_id BIGINT, data STRING,
         |  timestamp TIMESTAMP, timeperiod_loadedBy BIGINT, message_body BINARY)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    (s"ns.$name", LakeTable.load(s"$wh/ns/$name"))
  }

  private def append(t: LakeTable, rows: Long, seed: Long, files: Int = 1): Long =
    t.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, rows, bucket(0), seed), t, files))

  test("CALL compact bin-packs and returns the commit id") {
    val (tbl, t) = newTable()
    append(t, 100, seed = 1, files = 3)
    append(t, 100, seed = 2, files = 3)
    val before = t.refresh().files().size
    val row = spark.sql(
      s"CALL proccat.system.compact(`table` => '$tbl')").head
    assert(row.getLong(0) > 0)
    assert(t.refresh().files().size < before)
    assert(t.toDF(spark).count() == 200)
  }

  test("CALL compact with sort_by clusters output files disjointly") {
    val (tbl, t) = newTable()
    append(t, 200, seed = 6, files = 4) // 4 files, each spanning ids 0..199
    spark.sql(
      s"""CALL proccat.system.compact(`table` => '$tbl',
         |  sort_by => 'message_id', max_records_per_file => 50)""".stripMargin)
    val files = t.refresh().files()
    assert(files.size >= 4)
    // clustered: per-file message_id ranges are disjoint
    val ranges = files.map(f =>
      (f.stats("message_id").longMin.get, f.stats("message_id").longMax.get))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ =>
    }
    assert(t.toDF(spark).count() == 200)
  }

  test("CALL compact with partition_min/max rewrites only the targeted buckets") {
    val (tbl, t) = newTable()
    // two fragmented buckets
    for (s <- 1 to 3) {
      t.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 50, bucket(0), seed = 20 + s), t))
      t.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 50, bucket(1), seed = 30 + s), t))
    }
    val untouched = t.refresh().files()
      .filter(_.partitionValue == bucket(1)).map(_.path).toSet
    assert(untouched.size == 3)
    spark.sql(
      s"""CALL proccat.system.compact(`table` => '$tbl',
         |  partition_min => ${bucket(0)}, partition_max => ${bucket(0)})"""
        .stripMargin)
    val after = t.refresh().files()
    // bucket 0 compacted to one file; bucket 1's files untouched BY NAME
    assert(after.count(_.partitionValue == bucket(0)) == 1)
    assert(after.filter(_.partitionValue == bucket(1)).map(_.path).toSet
      == untouched)
    assert(t.toDF(spark).count() == 300)
  }

  test("CALL rewrite_manifests consolidates without changing content or files") {
    val (tbl, t) = newTable()
    for (i <- 1 to 4) append(t, 50, seed = i)
    t.refresh()
    val beforeFiles = t.files().map(_.path).toSet
    val beforeCount = t.toDF(spark).count()
    val manifestsBefore = t.tableMeta.current.get.manifests.size
    assert(manifestsBefore > 1, s"need multiple manifests, got $manifestsBefore")
    val row = spark.sql(
      s"CALL proccat.system.rewrite_manifests(`table` => '$tbl')").head
    assert(row.getLong(0) > 0)
    t.refresh()
    assert(t.tableMeta.current.get.manifests.size == 1)
    assert(t.files().map(_.path).toSet == beforeFiles, "data files changed")
    assert(t.toDF(spark).count() == beforeCount, "content changed")
    // idempotent: second call has nothing to do
    assert(spark.sql(
      s"CALL proccat.system.rewrite_manifests(`table` => '$tbl')")
      .head.getLong(0) == -1L)
  }

  test("CALL expire_snapshots, rollback, create_tag round-trip") {
    val (tbl, t) = newTable()
    val s1 = append(t, 50, seed = 3)
    append(t, 25, seed = 4)
    // tag the current snapshot by default
    assert(spark.sql(
      s"CALL proccat.system.create_tag(`table` => '$tbl', tag => 'v1')")
      .head.getLong(0) > 0)
    assert(t.refresh().tags.contains("v1"))
    // rollback to the first append
    assert(spark.sql(
      s"CALL proccat.system.rollback(`table` => '$tbl', snapshot_id => $s1)")
      .head.getLong(0) > 0)
    assert(t.refresh().toDF(spark).count() == 50)
    // expire everything but the floor; tagged snapshot survives
    assert(spark.sql(
      s"""CALL proccat.system.expire_snapshots(`table` => '$tbl',
         |  older_than_ms => ${System.currentTimeMillis() + 60000},
         |  retain_last => 1)""".stripMargin).head.getLong(0) > 0)
    val keptIds = t.refresh().snapshots.map(_.id).toSet
    assert(keptIds.contains(t.tags("v1")))
  }

  test("$refs lists tags and branches with their snapshot ids") {
    val (tbl, t) = newTable()
    append(t, 10, seed = 9)
    spark.sql(s"CALL proccat.system.create_tag(`table` => '$tbl', tag => 'gold')")
    t.refresh()
    val staged = t.stageAppend(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, bucket(1), seed = 10), t), "wip")
    val name = tbl.split('.').last
    val refs = spark.sql(
      s"SELECT name, type, snapshot_id FROM proccat.ns.`$name$$refs` ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSeq == Seq(
      ("gold", "tag", t.tags("gold")), ("wip", "branch", staged)))
  }

  test("CALL publish_branch / drop_branch complete the WAP flow in SQL") {
    val (tbl, t) = newTable()
    append(t, 30, seed = 5)
    t.stageAppend(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 10, bucket(1), seed = 6), t), "audit")
    assert(spark.sql(s"SELECT count(*) FROM proccat.$tbl").head.getLong(0) == 30)
    assert(spark.sql(
      s"CALL proccat.system.publish_branch(`table` => '$tbl', branch => 'audit')")
      .head.getLong(0) > 0)
    assert(spark.sql(s"SELECT count(*) FROM proccat.$tbl").head.getLong(0) == 40)
    // drop of a missing branch is a -1 no-op
    assert(spark.sql(
      s"CALL proccat.system.drop_branch(`table` => '$tbl', branch => 'audit')")
      .head.getLong(0) == -1L)
  }

  test("CALL remove_orphan_files deletes only unreferenced, old-enough files") {
    import org.apache.hadoop.fs.Path
    val (tbl, t) = newTable()
    append(t, 100, seed = 9, files = 2)
    val committed = t.refresh().files().map(_.path)
    val fs = new Path(t.location).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def plant(p: Path): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(p.toUri.getPath),
        "junk".getBytes)
    // an orphan parquet inside a live bucket dir (a crashed writer's file)
    val bucketDir = new Path(committed.head).getParent
    val orphan = new Path(bucketDir, "orphan-plant.parquet")
    plant(orphan)
    // an uncommitted file REFERENCED by a pending moniker: a dead
    // bookkeeper's backlog, NOT an orphan — the next sweep commits it
    val pendingRef = new Path(bucketDir, "pending-plant.parquet")
    plant(pendingRef)
    Monikers.publish(t.location,
      Seq(DataFileMeta(pendingRef.toString, 4L, 1L, bucket(0))))
    // a stale writer staging tree at the table root
    val staleTmp = new Path(t.location, "_tmp-write-stale")
    fs.mkdirs(staleTmp)
    plant(new Path(staleTmp, "part-0.parquet"))
    // past cutoff: the mtime guard protects everything
    val guarded = t.removeOrphanFiles(spark, 1000L)
    assert(guarded.deletedCount == 0L && guarded.sample.isEmpty)
    assert(fs.exists(orphan) && fs.exists(staleTmp))
    // dry_run via SQL: the audit reports the same count, deletes nothing
    val audit = spark.sql(
      s"""CALL proccat.system.remove_orphan_files(`table` => '$tbl',
         |  older_than_ms => ${System.currentTimeMillis() + 60000},
         |  dry_run => true)""".stripMargin).head.getLong(0)
    assert(audit == 2L, s"dry run reported $audit entries")
    assert(fs.exists(orphan) && fs.exists(staleTmp),
      "dry run must not delete")
    // future cutoff via SQL: exactly the orphan + the staging tree go
    val n = spark.sql(
      s"""CALL proccat.system.remove_orphan_files(`table` => '$tbl',
         |  older_than_ms => ${System.currentTimeMillis() + 60000})"""
        .stripMargin).head.getLong(0)
    assert(n == 2L, s"deleted $n entries")
    assert(!fs.exists(orphan) && !fs.exists(staleTmp))
    assert(fs.exists(pendingRef), "moniker-referenced file was deleted")
    assert(t.toDF(spark).count() == 100) // committed data intact
    // the surviving backlog still commits
    new FileBookkeeper(t.refresh()).sweep()
    assert(t.refresh().files().map(_.path).contains(pendingRef.toString))
  }

  test("CALL add_files registers external parquet metadata-only; " +
      "re-import is a no-op; bucket-spanning files are rejected") {
    import org.apache.spark.sql.functions.{col, lit}
    val (tbl, t) = newTable()
    append(t, 50, seed = 30) // pre-existing native data
    // an EXTERNAL writer produced bucket-pure parquet (one dir per bucket,
    // rows derived so footer min/max sit inside one truncate width each)
    val ext = tmpDir("proc-addfiles-src")
    def extBatch(b: Int, rows: Int): Unit =
      spark.range(0, rows).selectExpr(
        "id + 1000 AS message_id", "md5(cast(id AS STRING)) AS data",
        s"timestamp_micros(${bucket(b)} + id) AS timestamp",
        s"${bucket(b)}L + id AS timeperiod_loadedBy",
        "cast(md5(cast(id AS STRING)) AS BINARY) AS message_body")
        .coalesce(1).write.mode("append").parquet(s"$ext/b$b")
    extBatch(1, 40)
    extBatch(2, 25)
    val id = spark.sql(
      s"CALL proccat.system.add_files(`table` => '$tbl', source_dir => '$ext')")
      .head.getLong(0)
    assert(id > 0)
    val t2 = t.refresh()
    assert(t2.toDF(spark).count() == 115)
    // files registered IN PLACE (no copy/move) with per-file buckets
    val imported = t2.files().filter(_.path.startsWith(ext))
    assert(imported.map(_.partitionValue).toSet == Set(bucket(1), bucket(2)))
    // partition pruning works off the derived buckets + harvested stats
    assert(spark.read.format("laketable").load(t2.location)
      .filter(col("timeperiod_loadedBy") >= lit(bucket(2))).count() == 25)
    // idempotent: a second import finds only known paths -> no commit
    assert(spark.sql(
      s"CALL proccat.system.add_files(`table` => '$tbl', source_dir => '$ext')")
      .head.getLong(0) == -1L)
    assert(t.refresh().toDF(spark).count() == 115)
    // a file spanning two buckets is rejected with a clear error
    val bad = tmpDir("proc-addfiles-bad")
    spark.range(0, 10).selectExpr(
      "id AS message_id", "'x' AS data",
      s"timestamp_micros(${bucket(3)} + id) AS timestamp",
      s"${bucket(3)}L + id * ${Width}L AS timeperiod_loadedBy",
      "cast('x' AS BINARY) AS message_body")
      .coalesce(1).write.mode("overwrite").parquet(bad)
    val e = intercept[Exception] {
      spark.sql(s"CALL proccat.system.add_files(`table` => '$tbl', " +
        s"source_dir => '$bad')").collect()
    }
    assert(e.getMessage != null)
    assert(t.refresh().toDF(spark).count() == 115) // nothing half-imported
    // a file MISSING table columns is rejected by the schema gate (it
    // would otherwise import fine and fail every later scan)
    val badSchema = tmpDir("proc-addfiles-badschema")
    spark.range(0, 5).selectExpr(
      "id AS message_id", s"${bucket(4)}L + id AS timeperiod_loadedBy")
      .coalesce(1).write.mode("overwrite").parquet(badSchema)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL proccat.system.add_files(`table` => '$tbl', " +
        s"source_dir => '$badSchema')").collect()
    }
    assert(e2.getMessage.contains("lacks table column") ||
      Option(e2.getCause).exists(_.getMessage.contains("lacks table column")),
      s"unexpected error: ${e2.getMessage}")
    assert(t.refresh().toDF(spark).count() == 115)
  }

  test("add_files onto an EVOLVED table stamps current schema/spec ids " +
      "(pruning + renamed-column reads resolve); type clashes are rejected") {
    import org.apache.spark.sql.functions.col
    val (tbl, t) = newTable()
    append(t, 50, seed = 31)
    // evolve BOTH axes before the import: double the partition width and
    // rename data -> payload. bucket(1) is an ODD multiple of Width, so
    // under the doubled width its bucket start is bucket(0) — a file
    // stamped with the creation specId would be interpreted at width W
    // (covering [bucket(0), bucket(1)) only) and every scan filtering
    // >= bucket(1) would silently skip it.
    t.setPartitionWidth(Width * 2)
    t.refresh().renameColumn("data", "payload")
    val t1 = t.refresh()
    val (sid, pid) = (t1.currentSchemaId, t1.currentSpecId)
    assert(sid > 0 && pid > 0)
    // external writer targets the CURRENT names; rows sit in [bucket(1),
    // bucket(1)+30) — inside one bucket of the CURRENT doubled width
    val ext = tmpDir("proc-addfiles-evolved")
    spark.range(0, 30).selectExpr(
      "id + 5000 AS message_id", "md5(cast(id AS STRING)) AS payload",
      s"timestamp_micros(${bucket(1)} + id) AS timestamp",
      s"${bucket(1)}L + id AS timeperiod_loadedBy",
      "cast(md5(cast(id AS STRING)) AS BINARY) AS message_body")
      .coalesce(1).write.mode("overwrite").parquet(ext)
    assert(spark.sql(
      s"CALL proccat.system.add_files(`table` => '$tbl', source_dir => '$ext')")
      .head.getLong(0) > 0)
    val t2 = t.refresh()
    val imported = t2.files().filter(_.path.startsWith(ext))
    assert(imported.nonEmpty)
    imported.foreach { f =>
      assert(f.schemaId == sid, s"schemaId ${f.schemaId} != current $sid")
      assert(f.specId == pid, s"specId ${f.specId} != current $pid")
      assert(f.partitionValue == bucket(0),
        s"bucket ${f.partitionValue} != doubled-width start ${bucket(0)}")
    }
    val df = spark.read.format("laketable").load(t2.location)
    // pruning at the doubled width still admits the file...
    assert(df.filter(col("timeperiod_loadedBy") >= bucket(1)).count() == 30)
    // ...and the renamed column resolves to the file's physical 'payload'
    // (schemaId 0 would map it to physical 'data' -> all-null reads)
    assert(df.filter(col("timeperiod_loadedBy") >= bucket(1))
      .filter(col("payload").isNotNull).count() == 30)
    // a same-named column of an incompatible physical type (STRING where
    // the table has BIGINT) is rejected AT IMPORT, not at first scan
    val badType = tmpDir("proc-addfiles-badtype")
    spark.range(0, 5).selectExpr(
      "cast(id AS STRING) AS message_id", "'x' AS payload",
      s"timestamp_micros(${bucket(3)} + id) AS timestamp",
      s"${bucket(3)}L + id AS timeperiod_loadedBy",
      "cast('x' AS BINARY) AS message_body")
      .coalesce(1).write.mode("overwrite").parquet(badType)
    val e = intercept[Exception] {
      spark.sql(s"CALL proccat.system.add_files(`table` => '$tbl', " +
        s"source_dir => '$badType')").collect()
    }
    val msg = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("incompatible with table type"), s"got: $msg")
    assert(t.refresh().toDF(spark).count() == 80) // nothing half-imported
  }
}
