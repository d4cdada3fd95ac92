package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Rename/drop schema evolution (SURVEY §2 extension; the Iceberg field-id
  * contract carried in table metadata): every file records the SchemaDef it
  * was written under, ids are never reused, and reads resolve each file's
  * PHYSICAL column names through the ids — so renames are free, drops
  * can't resurrect, and time travel sees each snapshot's own names.
  */
class SchemaEvolutionSpec extends SparkSpec {

  private val Width = 300000000L
  private def bucket(i: Int): Long = (8100000L + i) * Width

  private def newTable(props: Map[String, String] = Map.empty): LakeTable = {
    val loc = tmpDir("laketable-evo")
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec, props)
  }

  /** Writers supply CURRENT-name DataFrames; the generator's fixed names
    * align positionally to whatever the table's schema evolved to.
    */
  private def appendBatch(t: LakeTable, rows: Long, micros: Long,
      seed: Long): Long = {
    val df = LakeWriter.generateBatch(spark, rows, micros, seed)
      .toDF(t.schema.fieldNames.toIndexedSeq: _*)
    t.append(LakeWriter.writeDataFiles(df, t))
  }

  test("rename: old files read under the new name, no data rewrite") {
    val t = newTable()
    appendBatch(t, 50, bucket(0), seed = 1)
    val filesBefore = t.files().map(_.path).toSet
    val before = t.toDF(spark).select(sum(length(col("data"))))
      .head.getLong(0)

    t.renameColumn("data", "payload")
    assert(t.files().map(_.path).toSet == filesBefore) // metadata-only
    val df = t.toDF(spark)
    assert(df.columns.contains("payload") && !df.columns.contains("data"))
    assert(df.select(sum(length(col("payload")))).head.getLong(0) == before)
    assert(df.filter(col("payload").isNull).count() == 0)
  }

  test("mixed vintages: files written before AND after a rename consolidate") {
    val t = newTable()
    appendBatch(t, 40, bucket(0), seed = 2) // written as `data`, schemaId 0
    t.renameColumn("data", "payload")
    appendBatch(t, 30, bucket(1), seed = 3) // written as `payload`
    assert(t.files().map(_.schemaId).toSet == Set(0, t.currentSchemaId))
    val df = t.toDF(spark)
    assert(df.count() == 70)
    assert(df.filter(col("payload").isNull).count() == 0)
    // projection narrower than the file schema still maps per file
    assert(df.select("payload").distinct().count() > 1)
  }

  test("incremental and changelog reads map old-vintage files across a rename") {
    // changesBetween / changelogBetween read data files DIRECTLY (not
    // through the DSv2 snapshot scan) — they must still translate each
    // file's physical column names through the field ids, or a renamed
    // column silently null-fills for pre-rename files
    val t = newTable()
    val s1 = appendBatch(t, 40, bucket(0), seed = 7) // physical name `data`
    t.renameColumn("data", "payload")
    val s2 = appendBatch(t, 30, bucket(1), seed = 8) // physical `payload`
    val inc = t.changesBetween(spark, 0L, s2)
    assert(inc.count() == 70)
    assert(inc.columns.contains("payload"))
    assert(inc.filter(col("payload").isNull).count() == 0,
      "pre-rename files null-filled the renamed column in changesBetween")
    // the range crossing only the old vintage
    val incOld = t.changesBetween(spark, 0L, s1)
    assert(incOld.count() == 40)
    assert(incOld.filter(col("payload").isNull).count() == 0)
    // changelog over the same range: inserts must carry real payloads
    val log = t.changelogBetween(spark, 0L, s2)
    assert(log.filter(col("_change_type") === "insert").count() == 70)
    assert(log.filter(col("payload").isNull).count() == 0,
      "pre-rename files null-filled the renamed column in changelogBetween")
  }

  test("changelog delete/rewrite branches carry real values across a rename") {
    // the CoW exceptAll diff and the MoR delete resolution read the
    // PARENT snapshot under toId's names — a name-based projection would
    // null-fill one side (breaking carryover cancellation) and emit CDC
    // delete rows with a null renamed column
    val t = newTable()
    appendBatch(t, 40, bucket(0), seed = 11) // physical `data`
    // MoR delete of 1/4 of the rows, pre-rename
    val sDel = t.deleteWhereMoR(spark, col("message_id") % 4 === 0)
    // CoW rewrite: compaction-free file swap via deleteWhereCoW of a slice
    val sCow = t.deleteWhereCoW(spark, col("message_id") % 4 === 1)
    t.renameColumn("data", "payload")
    val log = t.changelogBetween(spark, 0L, t.currentSnapshotId)
    val dels = log.filter(col("_change_type") === "delete")
    assert(dels.count() > 0, "expected CDC delete rows")
    assert(log.filter(col("payload").isNull).count() == 0,
      "changelog emitted null payloads for pre-rename files")
    // CoW carryover cancellation survives the rename: surviving rows of
    // the rewritten files must NOT appear as spurious delete+insert pairs
    val cowRows = log.filter(col("_commit_snapshot_id") === sCow)
    val cowDels = cowRows.filter(col("_change_type") === "delete").count()
    val cowIns = cowRows.filter(col("_change_type") === "insert").count()
    assert(cowIns == 0, s"CoW delete emitted $cowIns spurious inserts")
    assert(cowDels > 0 && cowDels <= 10,
      s"CoW delete emitted $cowDels delete rows (expected only matched rows)")
    assert(sDel > 0 && sCow > sDel)
  }

  test("drop then re-add the same name: old column data stays dead") {
    val t = newTable()
    appendBatch(t, 25, bucket(0), seed = 4)
    assert(t.toDF(spark).filter(col("data").isNull).count() == 0)
    t.dropColumn("data")
    assert(!t.toDF(spark).columns.contains("data"))
    t.addColumn("data", StringType)
    // same name, FRESH field id: pre-drop parquet values must not surface
    val df = t.toDF(spark)
    assert(df.columns.contains("data"))
    assert(df.filter(col("data").isNotNull).count() == 0)
    assert(df.count() == 25)
  }

  test("time travel reads each snapshot's own column names") {
    val t = newTable()
    appendBatch(t, 20, bucket(0), seed = 5)
    val preRename = t.currentSnapshotId
    t.renameColumn("data", "payload")
    appendBatch(t, 10, bucket(1), seed = 6)
    val old = t.snapshotDF(spark, preRename)
    assert(old.columns.contains("data") && !old.columns.contains("payload"))
    assert(old.count() == 20)
    assert(old.filter(col("data").isNull).count() == 0)
    assert(t.toDF(spark).columns.contains("payload"))
  }

  test("rollback across a rename restores the old name space for writes") {
    val t = newTable()
    appendBatch(t, 15, bucket(0), seed = 7)
    val preRename = t.currentSnapshotId
    t.renameColumn("data", "payload")
    t.rollbackTo(preRename)
    assert(t.schema.fieldNames.contains("data"))
    assert(t.currentSchemaId == 0)
    appendBatch(t, 5, bucket(1), seed = 8) // writes as `data`, stamps id 0
    assert(t.toDF(spark).filter(col("data").isNull).count() == 0)
    assert(t.toDF(spark).count() == 20)
  }

  test("filters and stats pruning stay correct across a rename") {
    val t = newTable()
    appendBatch(t, 50, bucket(0), seed = 9)  // message_id 0..49
    t.renameColumn("data", "payload")
    t.renameColumn("message_id", "mid")
    appendBatch(t, 50, bucket(1), seed = 10)
    val df = spark.read.format("laketable").load(t.location)
    // predicate on a renamed column evaluates against BOTH vintages
    assert(df.filter(col("mid") < 10).count() == 20)
    // stats pruning on the renamed column: a disjoint range planned no
    // extra files vs the matching bucket (old file's stats keyed by the
    // old name translate through the field id)
    df.filter(col("mid") < 10).collect()
    val planned = dsv2.LakeScanMetrics.lastPlannedFiles
    assert(planned == 2) // both files hold mid<10 rows
    df.filter(col("mid") > 1000).collect()
    assert(dsv2.LakeScanMetrics.lastPlannedFiles == 0)
  }

  test("write racing a rename: files stamped pre-rename still resolve") {
    val t = newTable()
    // stage the write (stamps schemaId at WRITE time) ...
    val staged = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 30, bucket(0), seed = 11), t)
    // ... a rename commits before the append lands
    val t2 = LakeTable.load(t.location)
    t2.renameColumn("data", "payload")
    t.refresh()
    t.append(staged)
    val df = t.toDF(spark)
    assert(df.count() == 30)
    assert(df.filter(col("payload").isNull).count() == 0)
  }

  test("metadata JSON round-trips the schema registry") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), seed = 12)
    t.renameColumn("data", "payload")
    t.dropColumn("message_body")
    t.addColumn("score", LongType)
    val re = LakeTable.load(t.location)
    assert(re.tableMeta.schemas.map(_.id) == t.tableMeta.schemas.map(_.id))
    assert(re.currentSchemaId == t.currentSchemaId)
    assert(re.currentSchemaDef.names == t.currentSchemaDef.names)
    assert(re.currentSchemaDef.ids == t.currentSchemaDef.ids)
    // ids are never reused: the re-added era's max id strictly grows
    assert(re.tableMeta.lastFieldId == 6) // 5 base + 1 minted for `score`
    assert(re.files().forall(_.schemaId == 0)) // file written pre-evolution
  }

  test("guards: partition column, last column, pending equality deletes") {
    val t = newTable(Map(LakeFormat.PropDeleteMode ->
      LakeFormat.DeleteModeMergeOnRead))
    appendBatch(t, 20, bucket(0), seed = 13)
    intercept[UnsupportedOperationException] {
      t.renameColumn("timeperiod_loadedBy", "tp")
    }
    intercept[UnsupportedOperationException] {
      t.dropColumn("timeperiod_loadedBy")
    }
    intercept[IllegalArgumentException] { t.renameColumn("nope", "x") }
    intercept[IllegalArgumentException] { t.dropColumn("nope") }
    intercept[IllegalArgumentException] { t.renameColumn("data", "message_id") }
    // pending equality delete keyed on message_id blocks rename/drop of it
    val delPath = new org.apache.hadoop.fs.Path(t.location,
      "data/eq-delete-test.parquet")
    spark.range(3).selectExpr("id AS message_id").coalesce(1)
      .write.mode("overwrite").parquet(delPath.toString + ".dir")
    val fs = delPath.getFileSystem(LakeTable.hadoopConf)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(
      delPath.toString + ".dir")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, delPath)
    t.commitDelta(Nil, Seq(DeleteFileMeta(delPath.toUri.getPath,
      fs.getFileStatus(delPath).getLen, 3, "", "￿",
      kind = DeleteFileMeta.KindEq, eqColumns = Seq("message_id"))))
    intercept[IllegalStateException] { t.renameColumn("message_id", "mid") }
    intercept[IllegalStateException] { t.dropColumn("message_id") }
    // unrelated columns still evolve
    t.renameColumn("data", "payload")
    assert(t.schema.fieldNames.contains("payload"))
  }

  test("SQL ALTER TABLE RENAME/DROP COLUMN through the catalog") {
    lakeCatalog("lake")
    try {
      spark.sql("CREATE TABLE lake.db.evo (message_id BIGINT, data STRING, " +
        "timeperiod_loadedBy BIGINT) PARTITIONED BY " +
        s"(truncate($Width, timeperiod_loadedBy))")
      spark.sql(s"INSERT INTO lake.db.evo VALUES (1, 'a', ${bucket(0)}L), " +
        s"(2, 'b', ${bucket(0)}L)")
      spark.sql("ALTER TABLE lake.db.evo RENAME COLUMN data TO payload")
      val rows = spark.sql(
        "SELECT payload FROM lake.db.evo ORDER BY message_id")
        .collect().map(_.getString(0)).toSeq
      assert(rows == Seq("a", "b"))
      spark.sql("ALTER TABLE lake.db.evo DROP COLUMN payload")
      assert(!spark.table("lake.db.evo").columns.contains("payload"))
      assert(spark.table("lake.db.evo").count() == 2)
    } finally {
      spark.sql("DROP TABLE IF EXISTS lake.db.evo")
    }
  }

  test("TYPE WIDENING: INT->BIGINT / FLOAT->DOUBLE read across vintages; " +
      "illegal changes rejected") {
    val w = lakeCatalog("widencat")
    try {
      spark.sql("CREATE TABLE widencat.db.widen (k INT, f FLOAT, tag STRING, " +
        "timeperiod_loadedBy BIGINT) PARTITIONED BY " +
        s"(truncate($Width, timeperiod_loadedBy))")
      // narrow-vintage files (k int32, f float physically)
      spark.sql("INSERT INTO widencat.db.widen SELECT CAST(id AS INT), " +
        s"CAST(id AS FLOAT) / 2, 'n', ${bucket(0)}L FROM range(0, 100)")
      val preWiden = LakeTable.load(s"$w/db/widen").currentSnapshotId
      spark.sql("ALTER TABLE widencat.db.widen ALTER COLUMN k TYPE BIGINT")
      spark.sql("ALTER TABLE widencat.db.widen ALTER COLUMN f TYPE DOUBLE")
      // wide-vintage files land int64/double physically
      spark.sql("INSERT INTO widencat.db.widen SELECT CAST(id AS BIGINT), " +
        s"CAST(id AS DOUBLE) / 2, 'w', ${bucket(1)}L FROM range(100, 150)")
      val df = spark.table("widencat.db.widen")
      assert(df.schema("k").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(df.schema("f").dataType ==
        org.apache.spark.sql.types.DoubleType)
      // mixed vintages consolidate: both file generations decode under
      // the wide types through the SAME scan
      assert(df.count() == 150)
      assert(df.agg(sum(col("k"))).head.getLong(0) == (0L until 150).sum)
      assert(math.abs(df.agg(sum(col("f"))).head.getDouble(0)
        - (0 until 150).map(_ / 2.0).sum) < 1e-6)
      // pushed filter evaluates across both physical widths
      assert(df.filter(col("k") >= 95 && col("k") < 105).count() == 10)
      // time travel to the pre-widen snapshot sees the NARROW schema
      val tt = spark.read.format("laketable")
        .option("snapshotId", preWiden.toString)
        .load(s"$w/db/widen")
      assert(tt.schema("k").dataType ==
        org.apache.spark.sql.types.IntegerType)
      assert(tt.count() == 100)
      // narrowing and cross-family changes are rejected
      intercept[Exception] {
        spark.sql("ALTER TABLE widencat.db.widen ALTER COLUMN k TYPE INT")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE widencat.db.widen ALTER COLUMN tag TYPE BIGINT")
      }
      // MoR deletes over mixed widths: the row path widens too
      spark.sql("ALTER TABLE widencat.db.widen SET TBLPROPERTIES " +
        s"('${LakeFormat.PropDeleteMode}'='${LakeFormat.DeleteModeMergeOnRead}')")
      spark.sql("DELETE FROM widencat.db.widen WHERE k % 10 = 0")
      assert(spark.table("widencat.db.widen").count() == 135)
      assert(spark.table("widencat.db.widen").agg(sum(col("k"))).head.getLong(0)
        == (0L until 150).filter(_ % 10 != 0).sum)
    } finally {
      spark.sql("DROP TABLE IF EXISTS widencat.db.widen")
    }
  }

  test("DECIMAL WIDENING: precision growth reads across vintages (INT32 -> " +
      "INT64 -> FLBA physical); scale change / shrink / cross-family rejected") {
    lakeCatalog("deccat")
    try {
      spark.sql("CREATE TABLE deccat.db.dec (d DECIMAL(9,2), " +
        "timeperiod_loadedBy BIGINT) PARTITIONED BY " +
        s"(truncate($Width, timeperiod_loadedBy))")
      // narrow vintage: DECIMAL(9,2) stores as physical INT32
      spark.sql("INSERT INTO deccat.db.dec SELECT " +
        s"CAST(CAST(id AS DECIMAL(9,2)) / 4 AS DECIMAL(9,2)), ${bucket(0)}L " +
        "FROM range(0, 100)")
      spark.sql("ALTER TABLE deccat.db.dec ALTER COLUMN d TYPE DECIMAL(18,2)")
      // mid vintage: INT64-backed values a (9,2) could not hold
      spark.sql("INSERT INTO deccat.db.dec SELECT " +
        s"CAST(CAST(id AS DECIMAL(18,2)) * 100000000 AS DECIMAL(18,2)), ${bucket(1)}L " +
        "FROM range(1, 3)")
      spark.sql("ALTER TABLE deccat.db.dec ALTER COLUMN d TYPE DECIMAL(38,2)")
      // wide vintage: FIXED_LEN_BYTE_ARRAY-backed
      spark.sql("INSERT INTO deccat.db.dec SELECT " +
        s"CAST(CAST(id AS DECIMAL(38,2)) * 1e20 AS DECIMAL(38,2)), ${bucket(2)}L " +
        "FROM range(1, 2)")
      val df = spark.table("deccat.db.dec")
      assert(df.schema("d").dataType ==
        org.apache.spark.sql.types.DecimalType(38, 2))
      // all three physical storage classes decode under the widest type
      // in ONE scan, values intact
      assert(df.count() == 103)
      val total = df.agg(sum(col("d"))).head.getDecimal(0)
      val expected = new java.math.BigDecimal(
        (0 until 100).map(_ / 4.0).sum.toString)
        .add(new java.math.BigDecimal("300000000"))
        .add(new java.math.BigDecimal("1e20")).setScale(2)
      assert(total.compareTo(expected) == 0, s"sum $total != $expected")
      // a filter crossing vintages still answers correctly (row-group
      // predicate declines per-file where the physical decimal differs)
      assert(df.filter(col("d") >= 20).count() == 100 - 80 + 3)
      // refusals: scale change, precision shrink, cross-family
      intercept[Exception] {
        spark.sql("ALTER TABLE deccat.db.dec ALTER COLUMN d TYPE DECIMAL(38,4)")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE deccat.db.dec ALTER COLUMN d TYPE DECIMAL(18,2)")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE deccat.db.dec ALTER COLUMN d TYPE DOUBLE")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS deccat.db.dec")
    }
  }

  test("compaction migrates mixed-vintage files to the current schema") {
    val t = newTable()
    appendBatch(t, 30, bucket(0), seed = 14)
    t.renameColumn("data", "payload")
    appendBatch(t, 30, bucket(0), seed = 15)
    assert(t.files().map(_.schemaId).toSet.size == 2)
    t.compactFiles(spark, smallFileBytes = 64L << 20, minInputFiles = 2)
    // rewrite wrote CURRENT-schema files: one vintage again
    assert(t.files().map(_.schemaId).toSet == Set(t.currentSchemaId))
    val df = t.toDF(spark)
    assert(df.count() == 60)
    assert(df.filter(col("payload").isNull).count() == 0)
  }
}
