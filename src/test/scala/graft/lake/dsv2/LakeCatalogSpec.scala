package graft.lake.dsv2

import graft.SparkSpec
import graft.lake.LakeTable

/** Pure-SQL surface through the V2 catalog: DDL with the truncate
  * partition transform, positional INSERT, time travel, overwrite, and
  * namespace listing — no Scala API calls anywhere in the consumer path.
  */
class LakeCatalogSpec extends SparkSpec {
  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width

  private lazy val warehouse: String = lakeCatalog("lake")

  test("SQL DDL + INSERT + SELECT + time travel round-trip") {
    val w = warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.events (
         |  message_id BIGINT, data STRING, timestamp TIMESTAMP,
         |  timeperiod_loadedBy BIGINT, message_body BINARY)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    assert(LakeTable.exists(s"$w/ns/events"))

    spark.sql(
      s"""INSERT INTO lake.ns.events SELECT
         |  id, md5(cast(id AS STRING)), timestamp_micros(${bucket(0)} + id),
         |  ${bucket(0)}L, cast(md5(cast(id AS STRING)) AS BINARY)
         |FROM range(0, 50)""".stripMargin)
    spark.sql(
      s"""INSERT INTO lake.ns.events SELECT
         |  id, md5(cast(id AS STRING)), timestamp_micros(${bucket(1)} + id),
         |  ${bucket(1)}L, cast(md5(cast(id AS STRING)) AS BINARY)
         |FROM range(0, 30)""".stripMargin)

    assert(spark.sql("SELECT count(*) FROM lake.ns.events").head.getLong(0) == 80)
    assert(spark.sql(
      s"SELECT count(*) FROM lake.ns.events WHERE timeperiod_loadedBy = ${bucket(1)}"
    ).head.getLong(0) == 30)

    // time travel to the first INSERT's snapshot
    assert(spark.sql("SELECT count(*) FROM lake.ns.events VERSION AS OF 1")
      .head.getLong(0) == 50)
    // a future timestamp resolves to the current snapshot
    assert(spark.sql(
      "SELECT count(*) FROM lake.ns.events TIMESTAMP AS OF '2030-01-01 00:00:00'"
    ).head.getLong(0) == 80)

    // INSERT OVERWRITE = one CoW rewrite commit
    spark.sql(
      s"""INSERT OVERWRITE lake.ns.events SELECT
         |  id, md5(cast(id AS STRING)), timestamp_micros(${bucket(2)} + id),
         |  ${bucket(2)}L, cast(md5(cast(id AS STRING)) AS BINARY)
         |FROM range(0, 10)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM lake.ns.events").head.getLong(0) == 10)
    // prior version still readable
    assert(spark.sql("SELECT count(*) FROM lake.ns.events VERSION AS OF 2")
      .head.getLong(0) == 80)

    assert(spark.sql("SHOW TABLES IN lake.ns").collect()
      .map(_.getString(1)).contains("events"))
    spark.sql("DROP TABLE lake.ns.events")
    assert(!LakeTable.exists(s"$w/ns/events"))
  }

  test("SQL DELETE FROM: row-level CoW delete with NULL-safe semantics") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.del (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(
      s"""INSERT INTO lake.ns.del SELECT id,
         |  CASE WHEN id % 5 = 0 THEN NULL ELSE id END, ${bucket(0)}L
         |FROM range(0, 20)""".stripMargin)
    spark.sql("DELETE FROM lake.ns.del WHERE v >= 10")
    // NULL v rows must SURVIVE (predicate not satisfied), ids 10..19 minus
    // the null-v multiples of 5 are gone
    val left = spark.sql("SELECT message_id FROM lake.ns.del ORDER BY 1")
      .collect().map(_.getLong(0)).toSeq
    assert(left == (0L to 9L) ++ Seq(10L, 15L))
    // partition-aligned delete drops whole files without rewrite
    spark.sql(s"DELETE FROM lake.ns.del WHERE timeperiod_loadedBy < ${bucket(1)}")
    assert(spark.sql("SELECT count(*) FROM lake.ns.del").head.getLong(0) == 0)
    spark.sql("DROP TABLE lake.ns.del")
  }

  test("SQL UPDATE: CoW rewrites matched files only; unmatched files untouched") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.upd (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.upd SELECT id, id, ${bucket(0)}L FROM range(0, 10)")
    spark.sql(s"INSERT INTO lake.ns.upd SELECT id, id, ${bucket(1)}L FROM range(100, 110)")
    def paths() = spark.sql("SELECT path FROM lake.ns.`upd$files` ORDER BY 1")
      .collect().map(_.getString(0)).toSeq
    val before = paths()
    assert(before.size == 2)
    val versionBefore = spark.sql(
      "SELECT max(snapshot_id) FROM lake.ns.`upd$snapshots`").head.getLong(0)
    spark.sql("UPDATE lake.ns.upd SET v = v + 1000 WHERE message_id >= 105")
    val rows = spark.sql("SELECT message_id, v FROM lake.ns.upd ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == ((0L to 9L).map(i => (i, i)) ++
      (100L to 104L).map(i => (i, i)) ++ (105L to 109L).map(i => (i, i + 1000))))
    // runtime group filtering: the bucket-0 file holds no matched rows and
    // must survive the rewrite UNTOUCHED (same physical path)
    val after = paths()
    assert(after.size == 2)
    assert(after.intersect(before).size == 1,
      s"expected exactly the unmatched file to survive: before=$before after=$after")
    // time travel still sees pre-update values
    assert(spark.sql(
      s"SELECT sum(v) FROM lake.ns.upd VERSION AS OF $versionBefore")
      .head.getLong(0) == (0L to 9L).sum + (100L to 109L).sum)
    spark.sql("DROP TABLE lake.ns.upd")
  }

  test("SQL UPDATE touching every row of a file (the full-file hazard)") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.updall (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.updall SELECT id, id, ${bucket(0)}L FROM range(0, 10)")
    spark.sql(s"INSERT INTO lake.ns.updall SELECT id, id, ${bucket(1)}L FROM range(100, 110)")
    // every row of the bucket-0 file matches: a scan that let the residual
    // NOT(cond) filter prune files would drop this file from the rewrite
    // and its rows would silently keep their old values
    spark.sql(s"UPDATE lake.ns.updall SET v = -1 WHERE timeperiod_loadedBy = ${bucket(0)}")
    val rows = spark.sql("SELECT message_id, v FROM lake.ns.updall ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == ((0L to 9L).map(i => (i, -1L)) ++ (100L to 109L).map(i => (i, i))))
    assert(spark.sql("SELECT count(*) FROM lake.ns.updall").head.getLong(0) == 20)
    spark.sql("DROP TABLE lake.ns.updall")
  }

  test("SQL MERGE INTO: update + delete + insert clauses in one upsert") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.mrg (k BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.mrg SELECT id, id, ${bucket(0)}L FROM range(0, 10)")
    spark.sql(
      s"""MERGE INTO lake.ns.mrg t
         |USING (SELECT id AS k, id * 10 AS v, ${bucket(1)}L AS timeperiod_loadedBy
         |       FROM range(5, 15)) s
         |ON t.k = s.k
         |WHEN MATCHED AND s.k = 7 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT k, v, timeperiod_loadedBy FROM lake.ns.mrg ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected =
      (0L to 4L).map(i => (i, i, bucket(0))) ++          // untouched
        Seq(5L, 6L, 8L, 9L).map(i => (i, i * 10, bucket(0))) ++ // updated in place
        (10L to 14L).map(i => (i, i * 10, bucket(1)))    // inserted (source bucket)
    assert(rows == expected, s"merge result mismatch: $rows")
    // a second identical merge is a pure re-update (idempotent content)
    spark.sql(
      s"""MERGE INTO lake.ns.mrg t
         |USING (SELECT id AS k, id * 10 AS v, ${bucket(1)}L AS timeperiod_loadedBy
         |       FROM range(5, 15)) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM lake.ns.mrg").head.getLong(0) == 15)
    // k=7 re-inserted by NOT MATCHED with v = 70 — same value the matched
    // formula gives, so the total is simply sum(0..4) + sum(5..14)*10
    assert(spark.sql("SELECT sum(v) FROM lake.ns.mrg").head.getLong(0)
      == (0L to 4L).sum + (5L to 14L).map(_ * 10).sum)
    spark.sql("DROP TABLE lake.ns.mrg")
  }

  test("MERGE with NOT MATCHED BY SOURCE: update-stale + delete-absent") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.nmbs (k BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.nmbs SELECT id, id, ${bucket(0)}L FROM range(0, 10)")
    spark.sql(
      s"""MERGE INTO lake.ns.nmbs t
         |USING (SELECT id AS k, id * 10 AS v, ${bucket(1)}L AS timeperiod_loadedBy
         |       FROM range(5, 12)) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.k >= 3 THEN UPDATE SET v = -1
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val rows = spark.sql("SELECT k, v FROM lake.ns.nmbs ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // k 0..2: absent from source, condition false -> deleted
    // k 3..4: absent from source, k >= 3 -> flagged -1
    // k 5..9: matched -> v = k * 10; k 10..11: inserted
    val expected = Seq(3L -> -1L, 4L -> -1L) ++
      (5L to 11L).map(i => i -> i * 10)
    assert(rows == expected, s"NMBS merge mismatch: $rows")
    spark.sql("DROP TABLE lake.ns.nmbs")
  }

  test("$history: stage commits are off-lineage until published; appends are ancestors") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.hist (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.hist SELECT id, ${bucket(0)}L FROM range(0, 20)")
    val table = LakeTable.load(s"$warehouse/ns/hist")
    table.stageAppend(graft.lake.LakeWriter.writeDataFiles(
      spark.range(0, 5).selectExpr("id AS message_id",
        s"${bucket(1)}L AS timeperiod_loadedBy"), table), "audit")
    val hist = spark.sql(
      "SELECT snapshot_id, parent_id, is_current_ancestor, operation " +
        "FROM lake.ns.`hist$history` ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3))).toSeq
    assert(hist == Seq((0L, -1L, true, "create"), (1L, 0L, true, "append"),
      (2L, 1L, false, "stage")), s"history mismatch: $hist")
    // publish: the branch content reaches main through a publish commit;
    // the stage row itself stays off the main parent chain
    table.refresh().publishBranch("audit")
    val after = spark.sql(
      "SELECT snapshot_id, is_current_ancestor, operation " +
        "FROM lake.ns.`hist$history` ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(after.last._3 != "stage" && after.last._2,
      s"publish head should be a current ancestor: $after")
    assert(after.exists(r => r._3 == "stage" && !r._2),
      s"stage snapshot should stay off-lineage: $after")
    assert(spark.sql("SELECT count(*) FROM lake.ns.hist").head.getLong(0) == 25)
    spark.sql("DROP TABLE lake.ns.hist")
  }

  test("DELETE on a row-level-capable table stays metadata-only when aligned") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.delmeta (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.delmeta SELECT id, ${bucket(0)}L FROM range(0, 10)")
    spark.sql(s"INSERT INTO lake.ns.delmeta SELECT id, ${bucket(1)}L FROM range(0, 5)")
    val dataPaths = spark.sql("SELECT path FROM lake.ns.`delmeta$files`")
      .collect().map(_.getString(0)).toSeq
    // whole-bucket delete: OptimizeMetadataOnlyDeleteFromTable must hand
    // this back to SupportsDelete (manifest-only — the surviving file keeps
    // its physical path and no new file appears)
    spark.sql(s"DELETE FROM lake.ns.delmeta WHERE timeperiod_loadedBy = ${bucket(0)}")
    val after = spark.sql("SELECT path FROM lake.ns.`delmeta$files`")
      .collect().map(_.getString(0)).toSeq
    assert(after.size == 1 && dataPaths.contains(after.head),
      s"aligned delete must be metadata-only: before=$dataPaths after=$after")
    assert(spark.sql("SELECT count(*) FROM lake.ns.delmeta").head.getLong(0) == 5)
    spark.sql("DROP TABLE lake.ns.delmeta")
  }

  test("_file metadata column gives per-row file lineage (columnar + row paths)") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.fcol (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.fcol SELECT id, ${bucket(0)}L FROM range(0, 10)")
    spark.sql(s"INSERT INTO lake.ns.fcol SELECT id, ${bucket(1)}L FROM range(0, 5)")
    val manifest = spark.sql("SELECT path, row_count FROM lake.ns.`fcol$files`")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // vectorized path: _file + data columns per row
    val audit = spark.sql(
      "SELECT _file, count(*) AS n, sum(message_id) AS s FROM lake.ns.fcol " +
        "GROUP BY _file ORDER BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(audit == manifest, s"audit=$audit manifest=$manifest")
    // _file-only projection answers from the manifest without opening files
    val only = spark.sql("SELECT _file FROM lake.ns.fcol")
      .collect().map(_.getString(0))
    assert(only.length == 15 && only.toSet == manifest.keySet)
    spark.sql("DROP TABLE lake.ns.fcol")
  }

  test("schema evolution: ADD COLUMN null-fills old files; time travel keeps old schema") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.evo (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.evo SELECT id, ${bucket(0)}L FROM range(0, 10)")
    val preAlter = spark.sql(
      "SELECT max(snapshot_id) FROM lake.ns.`evo$snapshots`").head.getLong(0)
    spark.sql("ALTER TABLE lake.ns.evo ADD COLUMN score BIGINT")
    spark.sql(
      s"INSERT INTO lake.ns.evo SELECT id, ${bucket(1)}L, id * 7 FROM range(100, 105)")
    // both vintages in one scan: old files null-fill the new column
    assert(spark.table("lake.ns.evo").schema.fieldNames.toSeq
      == Seq("message_id", "timeperiod_loadedBy", "score"))
    assert(spark.sql("SELECT count(*) FROM lake.ns.evo").head.getLong(0) == 15)
    assert(spark.sql("SELECT count(*) FROM lake.ns.evo WHERE score IS NULL")
      .head.getLong(0) == 10)
    assert(spark.sql("SELECT sum(score) FROM lake.ns.evo").head.getLong(0)
      == (100L to 104L).map(_ * 7).sum)
    // time travel to the pre-alter snapshot: OLD schema, old rows
    val old = spark.sql(s"SELECT * FROM lake.ns.evo VERSION AS OF $preAlter")
    assert(old.schema.fieldNames.toSeq == Seq("message_id", "timeperiod_loadedBy"))
    assert(old.count() == 10)
    // the evolved column works through CoW DML too
    spark.sql("UPDATE lake.ns.evo SET score = -1 WHERE score IS NULL")
    assert(spark.sql("SELECT count(*) FROM lake.ns.evo WHERE score = -1")
      .head.getLong(0) == 10)
    // duplicate adds are rejected; DROP COLUMN is now supported (field-id
    // evolution, SchemaEvolutionSpec) and removes the column without
    // touching data files
    intercept[Exception] { spark.sql("ALTER TABLE lake.ns.evo ADD COLUMN score BIGINT") }
    spark.sql("ALTER TABLE lake.ns.evo DROP COLUMN score")
    assert(!spark.table("lake.ns.evo").columns.contains("score"))
    assert(spark.sql("SELECT count(*) FROM lake.ns.evo").head.getLong(0) == 15)
    spark.sql("DROP TABLE lake.ns.evo")
  }

  test("$partitions metadata table: per-bucket rollup surfaces skew") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.skew (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    // bucket 0: fragmented into 3 commits; bucket 1: one commit
    for (_ <- 0 until 3)
      spark.sql(s"INSERT INTO lake.ns.skew SELECT id, ${bucket(0)}L FROM range(0, 10)")
    spark.sql(s"INSERT INTO lake.ns.skew SELECT id, ${bucket(1)}L FROM range(0, 40)")
    val rows = spark.sql(
      "SELECT partition_value, file_count, row_count, size_bytes, " +
        "min_file_bytes, max_file_bytes FROM lake.ns.`skew$partitions` " +
        "ORDER BY partition_value").collect()
    assert(rows.length == 2)
    val b0 = rows(0); val b1 = rows(1)
    assert(b0.getLong(0) == bucket(0) && b0.getLong(1) == 3 && b0.getLong(2) == 30)
    assert(b1.getLong(0) == bucket(1) && b1.getLong(1) == 1 && b1.getLong(2) == 40)
    assert(b0.getLong(3) > 0 && b0.getLong(4) > 0 && b0.getLong(5) >= b0.getLong(4))
    // agrees with the distributed API rollup
    val loc = spark.sql("SELECT path FROM lake.ns.`skew$files` LIMIT 1")
      .head.getString(0)
    val t = LakeTable.load(loc.substring(0, loc.indexOf("/data/")))
    val api = t.partitionsDF(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(api == rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    spark.sql("DROP TABLE lake.ns.skew")
  }

  test("VERSION AS OF resolves tag names; rollback is SQL-visible") {
    val w = warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.tagged (
         |  message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.tagged SELECT id, id, ${bucket(0)}L FROM range(0, 10)")
    val t = LakeTable.load(s"$w/ns/tagged")
    t.createTag("train-v1", t.currentSnapshotId)
    spark.sql(s"INSERT INTO lake.ns.tagged SELECT id, id, ${bucket(1)}L FROM range(100, 105)")
    assert(spark.sql("SELECT count(*) FROM lake.ns.tagged").head.getLong(0) == 15)
    // a quoted non-numeric version string resolves through the named refs
    assert(spark.sql("SELECT count(*) FROM lake.ns.tagged VERSION AS OF 'train-v1'")
      .head.getLong(0) == 10)
    intercept[Exception](
      spark.sql("SELECT * FROM lake.ns.tagged VERSION AS OF 'no-such-tag'").collect())
    // rollback through the Scala API is immediately visible to SQL readers
    t.refresh().rollbackTo(t.tags("train-v1"))
    assert(spark.sql("SELECT count(*) FROM lake.ns.tagged").head.getLong(0) == 10)
  }

  test("CREATE TABLE without the truncate transform is rejected") {
    warehouse
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE lake.ns.bad (a BIGINT, b STRING)")
    }
    assert(e.getMessage.contains("truncate"))
  }

  test("metadata tables: $files and $snapshots over SQL; snapshotId read option") {
    val w = warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.meta (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(s"INSERT INTO lake.ns.meta SELECT id, ${bucket(0)}L FROM range(0, 8)")
    spark.sql(s"INSERT INTO lake.ns.meta SELECT id, ${bucket(1)}L FROM range(0, 4)")

    val files = spark.sql(
      "SELECT partition_value, sum(row_count) rc FROM lake.ns.`meta$files` " +
        "GROUP BY 1 ORDER BY 1").collect()
    assert(files.map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((bucket(0), 8L), (bucket(1), 4L)))

    val snaps = spark.sql(
      "SELECT snapshot_id, operation FROM lake.ns.`meta$snapshots` ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snaps == Seq((0L, "create"), (1L, "append"), (2L, "append")))

    // $manifests: two fast-append commits = two manifests, totals add up
    val mans = spark.sql(
      "SELECT manifest, file_count, row_count FROM lake.ns.`meta$manifests` " +
        "ORDER BY row_count DESC").collect()
    assert(mans.length == 2)
    assert(mans.map(_.getLong(2)).toSeq == Seq(8L, 4L))
    // $manifests reports the basename (Path.getName) regardless of the
    // manifests/ subdir the stored relative name carries
    assert(mans.forall(_.getString(0).startsWith("manifest-")))

    // path-based snapshot pin matches VERSION AS OF
    val pinned = spark.read.format("laketable")
      .option("snapshotId", "1").load(s"$w/ns/meta").count()
    assert(pinned == 8)
    spark.sql("DROP TABLE lake.ns.meta")
  }

  test("readStream.table streams from a catalog-resolved laketable") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.srcstream (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(
      s"INSERT INTO lake.ns.srcstream SELECT id, ${bucket(0)}L FROM range(0, 9)")
    val name = "catstream" + System.nanoTime()
    val q = spark.readStream.table("lake.ns.srcstream")
      .groupBy().count()
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("cat-stream-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table(name).head.getLong(0) == 9)
    spark.sql("DROP TABLE lake.ns.srcstream")
  }

  test("CREATE TABLE AS SELECT lands query output through the sink") {
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.ctas
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))
         |AS SELECT id AS message_id, ${bucket(0)}L AS timeperiod_loadedBy
         |FROM range(0, 12)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM lake.ns.ctas").head.getLong(0) == 12)
    spark.sql("DROP TABLE lake.ns.ctas")
  }

  test("writeStream.toTable lands micro-batches in a catalog table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.sink (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    mem.addData(0L until 25L: _*)
    val q = mem.toDF()
      .select(org.apache.spark.sql.functions.col("value").as("message_id"),
        org.apache.spark.sql.functions.lit(bucket(0)).as("timeperiod_loadedBy"))
      .writeStream
      .option("checkpointLocation", tmpDir("cat-sink-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("lake.ns.sink")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM lake.ns.sink").head.getLong(0) == 25)
    spark.sql("DROP TABLE lake.ns.sink")
  }

  test("namespace DDL: create, list, drop") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.nstest")
    assert(spark.sql("SHOW NAMESPACES IN lake").collect()
      .map(_.getString(0)).contains("nstest"))
    spark.sql(
      s"""CREATE TABLE lake.nstest.t1 (a BIGINT, p BIGINT)
         |PARTITIONED BY (truncate(1000, p))""".stripMargin)
    assert(spark.sql("SHOW TABLES IN lake.nstest").collect()
      .map(_.getString(1)).contains("t1"))
    intercept[Exception] { spark.sql("DROP NAMESPACE lake.nstest") } // non-empty
    spark.sql("DROP TABLE lake.nstest.t1")
    spark.sql("DROP NAMESPACE lake.nstest")
    assert(!spark.sql("SHOW NAMESPACES IN lake").collect()
      .map(_.getString(0)).contains("nstest"))
  }

  test("catalog rename preserves table content") {
    val w = warehouse
    spark.sql(
      s"""CREATE TABLE lake.ns.src (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    spark.sql(
      s"INSERT INTO lake.ns.src SELECT id, ${bucket(0)}L FROM range(0, 7)")
    spark.sql("ALTER TABLE lake.ns.src RENAME TO ns.dst")
    assert(!LakeTable.exists(s"$w/ns/src"))
    assert(spark.sql("SELECT count(*) FROM lake.ns.dst").head.getLong(0) == 7)
    spark.sql("DROP TABLE lake.ns.dst")
  }
}
