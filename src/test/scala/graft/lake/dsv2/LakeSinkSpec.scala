package graft.lake.dsv2

import graft.SparkSpec
import graft.lake._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** DSv2 write semantics: format("laketable") batch appends and the
  * streaming sink land data files through the table's commit protocol —
  * footer stats harvested, partition layout honored, epoch replays fenced
  * (reference write path A5-A10 + idempotent replay A14 as a V2 sink).
  */
class LakeSinkSpec extends SparkSpec {
  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width

  private def newTable(): LakeTable = {
    val loc = tmpDir("dsv2-sink")
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
  }

  test("batch append through format(laketable) commits one snapshot with stats") {
    val t = newTable()
    val df = LakeWriter.generateBatch(spark, 100, bucket(0), seed = 1)
      .union(LakeWriter.generateBatch(spark, 50, bucket(1), seed = 2))
    df.write.format("laketable").mode("append").save(t.location)
    val t2 = t.refresh()
    assert(t2.currentSnapshotId == 1) // exactly ONE commit for the whole job
    assert(t2.toDF(spark).count() == 150)
    // rows landed under their partition transform's directory
    val byBucket = t2.files().groupBy(_.partitionValue)
    assert(byBucket.keySet == Set(bucket(0), bucket(1)))
    assert(byBucket(bucket(0)).map(_.rowCount).sum == 100)
    assert(byBucket(bucket(1)).map(_.rowCount).sum == 50)
    t2.files().foreach { f =>
      assert(f.path.contains(s"timeperiod_loadedBy_trunc="))
      // footer stats harvested -> manifest pruning works on sink output
      val ids = f.stats("message_id")
      assert(ids.longMin.isDefined && ids.longMax.isDefined)
    }
    // the written files read back through the vectorized source with equal
    // content (string/binary/timestamp encode round-trip)
    val viaSource = spark.read.format("laketable").load(t.location)
    val expected = df.agg(sum(length(col("message_body")))).head.getLong(0)
    assert(viaSource.agg(sum(length(col("message_body")))).head.getLong(0)
      == expected)
    assert(viaSource.filter(col("timestamp").isNull).count() == 0)
  }

  test("batch append through format(laketable) applies the session's parquet.* settings") {
    val t = newTable()
    // 2,000 events in one bucket hold a few MB, far past a 64 KiB row group
    graft.SessionConf.withConf(spark, "parquet.block.size" -> (64 * 1024).toString) {
      LakeWriter.generateBatch(spark, 2000, bucket(0), seed = 3)
        .write.format("laketable").mode("append").save(t.location)
    }
    def rowGroups(path: String): Int = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), LakeTable.hadoopConf))
      try r.getRowGroups.size finally r.close()
    }
    val groups = t.refresh().files().map(f => rowGroups(f.path))
    assert(groups.nonEmpty && groups.max > 1,
      s"row groups per file $groups: the session's parquet.block.size was not applied")
  }

  test("sink write then API write interleave; pruning sees both") {
    val t = newTable()
    LakeWriter.generateBatch(spark, 30, bucket(0), seed = 3)
      .write.format("laketable").mode("append").save(t.location)
    t.refresh()
    t.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 20, bucket(1), seed = 4), t))
    val df = spark.read.format("laketable").load(t.location)
    assert(df.count() == 50)
    assert(df.filter(col("timeperiod_loadedBy") === bucket(1)).count() == 20)
  }

  test("writer rolls data files at write.target-file-size-bytes") {
    val loc = tmpDir("dsv2-sink-roll")
    LakeTable.drop(loc)
    // rows are ~1.6 KB; 20k rows ≈ 33 MB into one bucket from one task —
    // without rolling this is ONE 33 MB file
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      Map(LakeFormat.PropTargetFileSize -> (4 << 20).toString))
    LakeWriter.generateBatch(spark, 20000, bucket(0), seed = 7)
      .coalesce(1)
      .write.format("laketable").mode("append").save(loc)
    val t2 = t.refresh()
    val files = t2.files()
    assert(files.size >= 6, s"expected rolled files, got ${files.size}")
    assert(files.map(_.rowCount).sum == 20000)
    // bounded overshoot: target + RollCheckRows rows of slack
    files.foreach(f => assert(f.sizeBytes < (8 << 20).toLong, s"${f.sizeBytes}"))
    assert(t2.toDF(spark).count() == 20000)
    // every rolled file carries footer stats (manifest pruning intact)
    files.foreach(f => assert(f.stats("message_id").longMin.isDefined))
  }

  test("LIMIT plans only enough files to cover it") {
    val t = newTable()
    for (i <- 0 until 5)
      t.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 100, bucket(0), seed = 10 + i), t))
    val df = spark.read.format("laketable").load(t.location)
    assert(df.limit(150).collect().length == 150)
    assert(LakeScanMetrics.lastPlannedFiles == 2, // 100 + 100 covers 150
      s"planned ${LakeScanMetrics.lastPlannedFiles}")
    // a filter disables the cut (rows drop post-scan): all files planned
    assert(df.filter(col("message_id") >= 99).limit(3).collect().length == 3)
    assert(LakeScanMetrics.lastPlannedFiles == 5)
    // pending deletes disable the cut too (each file keeps 50 live rows —
    // a manifest-count cut would underdeliver)
    t.setProperty(LakeFormat.PropDeleteMode, LakeFormat.DeleteModeMergeOnRead)
    t.deleteWhere(spark, col("message_id") < 50)
    val df2 = spark.read.format("laketable").load(t.location)
    assert(df2.limit(200).collect().length == 200)
    assert(LakeScanMetrics.lastPlannedFiles == 5)
  }

  test("streaming sink: micro-batches commit append snapshots exactly-once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val t = newTable()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    val events = mem.toDF().select(
      col("value").as("message_id"),
      md5(col("value").cast("string")).as("data"),
      timestamp_micros(lit(bucket(0)) + col("value")).as("timestamp"),
      (lit(bucket(0)) + (col("value") % 2) * Width).as("timeperiod_loadedBy"),
      col("value").cast("string").cast("binary").as("message_body"))
    val q = events.writeStream.format("laketable")
      .option("checkpointLocation", tmpDir("dsv2-sink-ckpt"))
      .trigger(Trigger.AvailableNow())
    mem.addData(0L until 40L: _*)
    val running = q.start(t.location)
    running.awaitTermination(60000)
    val t2 = t.refresh()
    assert(t2.toDF(spark).count() == 40)
    // rows routed to two buckets by the partition transform of each ROW
    assert(t2.files().map(_.partitionValue).toSet
      == Set(bucket(0), bucket(1)))
    // epoch watermark recorded for the query
    assert(t2.tableMeta.properties.keys.exists(_.startsWith("stream.epoch.")))
  }

  test("epoch watermarks GC after TTL; active query's own fence survives") {
    val loc = tmpDir("dsv2-sink-gc")
    LakeTable.drop(loc)
    // ttl = 0: every OTHER query's watermark is stale at the next commit
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      properties = Map(LakeFormat.PropStreamEpochTtlMs -> "0"))
    def epochKeys = t.tableMeta.properties.keySet
      .filter(_.startsWith(LakeFormat.PropStreamEpochPrefix))
    val f1 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, bucket(0), seed = 41), t)
    assert(t.appendEpoch(f1, "q1", 0L) >= 0)
    assert(epochKeys == Set(s"${LakeFormat.PropStreamEpochPrefix}q1"))
    val f2 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, bucket(1), seed = 42), t)
    assert(t.appendEpoch(f2, "q2", 0L) >= 0)
    // q1's dead watermark dropped, q2's own fence written
    assert(epochKeys == Set(s"${LakeFormat.PropStreamEpochPrefix}q2"))
    // q2 replay still fenced (its key was exempt from its own GC pass)
    val f3 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, bucket(1), seed = 43), t)
    assert(t.appendEpoch(f3, "q2", 0L) == -1L)
    // default TTL keeps everything
    val t2 = LakeTable.create(tmpDir("dsv2-sink-gc2") + "-t",
      LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val g1 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, bucket(0), seed = 44), t2)
    assert(t2.appendEpoch(g1, "qa", 0L) >= 0)
    val g2 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, bucket(1), seed = 45), t2)
    assert(t2.appendEpoch(g2, "qb", 0L) >= 0)
    assert(t2.tableMeta.properties.keySet
      .count(_.startsWith(LakeFormat.PropStreamEpochPrefix)) == 2)
  }

  test("appendEpoch fences replayed epochs and leaves no duplicate rows") {
    val t = newTable()
    val files1 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 10, bucket(0), seed = 5), t)
    assert(t.appendEpoch(files1, "q1", 0L) >= 0)
    // replay of epoch 0 (crash between sink commit and checkpoint write):
    // a second set of physical files for the same data
    val files2 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 10, bucket(0), seed = 5), t)
    val snapBefore = t.currentSnapshotId
    assert(t.appendEpoch(files2, "q1", 0L) == -1L)
    assert(t.currentSnapshotId == snapBefore)
    assert(t.toDF(spark).count() == 10)
    // a later epoch still lands, and an unrelated query is not fenced
    val files3 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, bucket(1), seed = 6), t)
    assert(t.appendEpoch(files3, "q1", 1L) >= 0)
    assert(t.toDF(spark).count() == 15)
    val files4 = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 5, bucket(2), seed = 7), t)
    assert(t.appendEpoch(files4, "q2", 0L) >= 0)
    assert(t.refresh().toDF(spark).count() == 20)
  }

  test("epoch fencing holds over an object-store CAS: replay fenced on mocks3") {
    // the same replay scenario as the local-FS test above, but the table
    // lives on the overwriting-rename mock store with the registered
    // conditional-put CAS providing commit atomicity — the epoch fence's
    // exactly-once guarantee must not depend on which CAS primitive the
    // scheme resolved to (r7 verdict item #6: the streaming sink's fence
    // had only local-FS coverage)
    CommitCas.register("mocks3", ConditionalPutCas)
    try {
      val loc = "mocks3:" + tmpDir("dsv2-sink-s3")
      LakeTable.drop(loc)
      val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      val before = ConditionalPutCas.attempts.get()
      val files1 = LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10, bucket(0), seed = 61), t)
      assert(t.appendEpoch(files1, "q1", 0L) >= 0)
      // crash-window replay of epoch 0: fresh physical files, same epoch
      val files2 = LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10, bucket(0), seed = 61), t)
      val snapBefore = t.currentSnapshotId
      assert(t.appendEpoch(files2, "q1", 0L) == -1L)
      assert(t.currentSnapshotId == snapBefore)
      assert(t.toDF(spark).count() == 10)
      // later epoch lands; an unrelated query is not fenced
      val files3 = LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 5, bucket(1), seed = 62), t)
      assert(t.appendEpoch(files3, "q1", 1L) >= 0)
      val files4 = LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 5, bucket(2), seed = 63), t)
      assert(t.appendEpoch(files4, "q2", 0L) >= 0)
      assert(t.refresh().toDF(spark).count() == 20)
      // the commits really went through the conditional put, not a rename
      assert(ConditionalPutCas.attempts.get() > before)
      LakeTable.drop(loc)
    } finally CommitCas.unregister("mocks3")
  }

  test("streaming sink end-to-end on mocks3: micro-batches commit exactly-once " +
      "through the conditional-put CAS") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    CommitCas.register("mocks3", ConditionalPutCas)
    try {
      val loc = "mocks3:" + tmpDir("dsv2-sink-s3-stream")
      LakeTable.drop(loc)
      val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[Long]
      val events = mem.toDF().select(
        col("value").as("message_id"),
        md5(col("value").cast("string")).as("data"),
        timestamp_micros(lit(bucket(0)) + col("value")).as("timestamp"),
        (lit(bucket(0)) + (col("value") % 2) * Width).as("timeperiod_loadedBy"),
        col("value").cast("string").cast("binary").as("message_body"))
      // checkpoint stays on the local FS (its own rename discipline);
      // only the SINK table lives on the object store
      val q = events.writeStream.format("laketable")
        .option("checkpointLocation", tmpDir("dsv2-sink-s3-ckpt"))
        .trigger(Trigger.AvailableNow())
      mem.addData(0L until 40L: _*)
      val running = q.start(loc)
      running.awaitTermination(60000)
      val t2 = t.refresh()
      assert(t2.toDF(spark).count() == 40)
      assert(t2.files().map(_.partitionValue).toSet == Set(bucket(0), bucket(1)))
      assert(t2.tableMeta.properties.keys.exists(_.startsWith("stream.epoch.")))
      LakeTable.drop(loc)
    } finally CommitCas.unregister("mocks3")
  }

  test("mode(overwrite) replaces contents in one rewrite commit, keeps time travel") {
    val t = newTable()
    LakeWriter.generateBatch(spark, 40, bucket(0), seed = 9)
      .write.format("laketable").mode("append").save(t.location)
    val snapAfterAppend = t.refresh().currentSnapshotId
    LakeWriter.generateBatch(spark, 15, bucket(1), seed = 10)
      .write.format("laketable").mode("overwrite").save(t.location)
    val t2 = t.refresh()
    assert(t2.toDF(spark).count() == 15)
    assert(t2.files().forall(_.partitionValue == bucket(1)))
    // CoW: the pre-overwrite snapshot still reads the original 40 rows
    assert(t2.snapshotDF(spark, snapAfterAppend).count() == 40)
    assert(t2.tableMeta.snapshot(t2.currentSnapshotId).get.operation == "rewrite")
  }

  test("laketable -> transform -> laketable pipeline resumes exactly-once") {
    import org.apache.spark.sql.functions.{col, upper}
    import org.apache.spark.sql.streaming.Trigger
    val src = newTable(); val dst = newTable()
    val ckpt = tmpDir("dsv2-pipe-ckpt")
    def appendSrc(rows: Long, micros: Long, seed: Long): Unit =
      src.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, rows, micros, seed), src))
    appendSrc(50, bucket(0), 21)
    appendSrc(30, bucket(1), 22)
    def runPipe(): Unit = {
      val q = spark.readStream.format("laketable")
        .option("startSnapshotId", "0").load(src.location)
        .withColumn("data", upper(col("data"))) // the "transform" stage
        .writeStream.format("laketable")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(dst.location)
      q.awaitTermination(60000)
    }
    runPipe()
    val d1 = dst.refresh()
    assert(d1.toDF(spark).count() == 80)
    // restart from the same checkpoint after more source commits: only the
    // NEW snapshot's files flow; nothing replays into dst
    appendSrc(20, bucket(2), 23)
    runPipe()
    val d2 = dst.refresh()
    assert(d2.toDF(spark).count() == 100)
    assert(d2.toDF(spark).select("message_id", "timeperiod_loadedBy")
      .distinct().count() == 100) // no duplicate rows
    // the transform actually applied
    assert(d2.toDF(spark).filter(col("data") =!= upper(col("data"))).count() == 0)
  }

  test("write distribution: K buckets from many tasks produce K files, not tasks x K") {
    val t = newTable()
    // rows for 3 buckets spread across every input task — without the
    // required distribution each task would write its own file per bucket
    spark.range(0, 3000)
      .repartition(8) // deliberately scatter
      .selectExpr(
        "id AS message_id", "md5(cast(id AS STRING)) AS data",
        s"timestamp_micros(${bucket(0)} + id) AS timestamp",
        s"${bucket(0)}L + (id % 3) * ${Width}L AS timeperiod_loadedBy",
        "cast(md5(cast(id AS STRING)) AS BINARY) AS message_body")
      .write.format("laketable").mode("append").save(t.location)
    val t2 = t.refresh()
    assert(t2.toDF(spark).count() == 3000)
    val byBucket = t2.files().groupBy(_.partitionValue)
    assert(byBucket.size == 3)
    byBucket.foreach { case (b, fs) =>
      assert(fs.size == 1, s"bucket $b written as ${fs.size} files")
    }
  }

  test("batch append rejects NULL partition values with a clear error") {
    val t = newTable()
    val bad = LakeWriter.generateBatch(spark, 3, bucket(0), seed = 8)
      .withColumn("timeperiod_loadedBy", lit(null).cast("bigint"))
    val e = intercept[Exception] {
      bad.write.format("laketable").mode("append").save(t.location)
    }
    assert(e.getMessage != null)
    assert(t.refresh().toDF(spark).count() == 0) // nothing committed
  }
}
