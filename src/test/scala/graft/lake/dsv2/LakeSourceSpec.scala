package graft.lake.dsv2

import graft.{SessionConf, SparkSpec}
import graft.lake._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** DSv2 source semantics: format("laketable") batch reads match the API
  * read path, pushed filters prune the file list, and the micro-batch
  * stream consumes exactly the files added per commit (snapshot-id
  * offsets, reference A25).
  */
class LakeSourceSpec extends SparkSpec {
  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width

  private def newTable(loc: String = tmpDir("dsv2")): LakeTable = {
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
  }

  /** A catalog whose tables live under one warehouse directory. */
  private lazy val warehouse: String = lakeCatalog("srccat")

  private def appendBatch(t: LakeTable, rows: Long, micros: Long, seed: Long): Long =
    t.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, rows, micros, seed), t))

  test("batch read through format(laketable) equals the API read path") {
    val t = newTable()
    appendBatch(t, 100, bucket(0), 1)
    appendBatch(t, 50, bucket(1), 2)
    val viaSource = spark.read.format("laketable").load(t.location)
    assert(viaSource.schema == t.schema)
    assert(viaSource.count() == 150)
    val apiSum = t.toDF(spark).agg(sum("message_id")).head.getLong(0)
    assert(viaSource.agg(sum("message_id")).head.getLong(0) == apiSum)
    // all column types round-trip (string, binary, timestamp µs)
    val row = viaSource.orderBy("timeperiod_loadedBy", "message_id").head
    assert(row.getAs[String]("data").nonEmpty)
    assert(row.getAs[Array[Byte]]("message_body").length > 1000)
    assert(row.getAs[java.sql.Timestamp]("timestamp") != null)
  }

  test("partition filters prune input partitions before the scan") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), 1)
    appendBatch(t, 20, bucket(1), 2)
    appendBatch(t, 30, bucket(2), 3)
    val df = spark.read.format("laketable").load(t.location)
      .filter(col("timeperiod_loadedBy") >= bucket(1)
        && col("timeperiod_loadedBy") < bucket(2))
    assert(df.count() == 20)
    // physical pruning: only one of three files planned
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    val parts = df.rdd.getNumPartitions
    assert(parts == 1, s"expected 1 pruned partition, got $parts ($scans)")
  }

  test("stats filters prune files by footer min/max") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), 1) // message_id 0..9
    appendBatch(t, 40, bucket(1), 2) // message_id 0..39
    val df = spark.read.format("laketable").load(t.location)
      .filter(col("message_id") >= 20)
    assert(df.count() == 20)
    assert(df.rdd.getNumPartitions == 1) // only the 40-row file survives
  }

  test("IN, string, null, and OR predicates prune files from manifest stats") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), 1) // message_id 0..9
    appendBatch(t, 20, bucket(1), 2) // message_id 0..19
    appendBatch(t, 30, bucket(2), 3) // message_id 0..29
    def df = spark.read.format("laketable").load(t.location)
    // IN over the partition column: two of three buckets planned
    val in2 = df.filter(col("timeperiod_loadedBy").isin(bucket(0), bucket(2)))
    assert(in2.count() == 40)
    assert(in2.rdd.getNumPartitions == 2)
    // IN over a footer-stats column: ids 25,27 exist only in the 30-row file
    val in1 = df.filter(col("message_id").isin(25L, 27L))
    assert(in1.count() == 2)
    assert(in1.rdd.getNumPartitions == 1)
    // string equality above every file's max ('z' > any hex digit)
    val none = df.filter(col("data") === "zzzz")
    assert(none.rdd.getNumPartitions == 0 && none.count() == 0)
    // IS NULL on a column the footers prove never-null
    val isnull = df.filter(col("data").isNull)
    assert(isnull.rdd.getNumPartitions == 0 && isnull.count() == 0)
    // OR of two disjoint partition predicates prunes the middle bucket
    val or2 = df.filter(col("timeperiod_loadedBy") === bucket(0)
      || col("timeperiod_loadedBy") === bucket(2))
    assert(or2.count() == 40)
    assert(or2.rdd.getNumPartitions == 2)
    // prefix pushdown: md5 hex never starts with "zz"
    val pre = df.filter(col("data").startsWith("zz"))
    assert(pre.rdd.getNumPartitions == 0)
  }

  test("scan tasks bin-pack multiple files; chained reader preserves every row") {
    val t = newTable()
    // five files in ONE bucket, so they share a task whether or not the
    // scan packs per bucket
    for (i <- 0 until 5) appendBatch(t, 40, bucket(0), 10 + i)
    assert(t.files().size == 5)
    // openCost=0 + minPartitionNum=1 force all five files into ONE task —
    // the chained columnar reader must walk every file of the pack
    SessionConf.withConf(spark, "spark.sql.files.openCostInBytes" -> "0",
        "spark.sql.files.minPartitionNum" -> "1") {
      val df = spark.read.format("laketable").load(t.location)
      assert(df.rdd.getNumPartitions == 1)
      assert(df.count() == 200)
      val perBucket = df.groupBy("timeperiod_loadedBy").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perBucket == Map(bucket(0) -> 200L))
      // row-mode fallback (explode forces non-vectorizable shape downstream
      // of the scan; scan itself stays columnar — so also check a projection
      // that sums across all chained files)
      assert(df.agg(sum(length(col("data")))).head.getLong(0) == 200 * 32)

      // cross-bucket isolation: a catalog read that projects the
      // partition column reports a key-grouped partitioning (the claim a
      // storage-partitioned join uses), so files in distinct buckets never
      // co-pack, even with zero open cost
      val t2 = newTable(s"$warehouse/ns/binpack")
      for (i <- 0 until 3) appendBatch(t2, 10, bucket(i), 20 + i)
      val df2 = spark.table("srccat.ns.binpack")
      assert(df2.rdd.getNumPartitions == 3)
      assert(df2.count() == 30)
      // a path read of the same table cannot use that claim: its three
      // buckets pack into one task, with the same rows
      val byPath = spark.read.format("laketable").load(t2.location)
      assert(byPath.rdd.getNumPartitions == 1)
      assert(byPath.orderBy("message_id", "timeperiod_loadedBy").collect().toSeq ==
        df2.orderBy("message_id", "timeperiod_loadedBy").collect().toSeq)
    }
  }

  test("large files split into byte ranges; row groups neither lost nor duplicated") {
    val t = newTable()
    // tiny parquet row groups so one 5 MB file holds dozens of them
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("parquet.block.size", 64 * 1024)
    try appendBatch(t, 2000, bucket(0), 42)
    finally hconf.unset("parquet.block.size")
    assert(t.files().size == 1)
    val size = t.files().head.sizeBytes
    // force range splitting: split budget far below the single file's size
    SessionConf.withConf(spark, "spark.sql.files.maxPartitionBytes" -> (size / 4).toString,
        "spark.sql.files.openCostInBytes" -> "0") {
      val df = spark.read.format("laketable").load(t.location)
      assert(df.rdd.getNumPartitions >= 4,
        s"expected >=4 range partitions over one ${size}B file")
      // every row group read exactly once across ranges (midpoint contract)
      assert(df.select("message_id").distinct().count() == 2000)
      assert(df.agg(sum("message_id")).head.getLong(0) == 1999L * 2000 / 2)
      // timestamps decode identically through the split-based initializer
      assert(df.agg(max("timestamp")).head
        .getTimestamp(0).getTime > 0)
    }
  }

  test("row-group predicate pushdown skips non-matching row groups inside a file") {
    val t = newTable()
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt("parquet.block.size", 64 * 1024) // many small row groups
    try appendBatch(t, 2000, bucket(0), 77)
    finally hconf.unset("parquet.block.size")
    val f = t.files().head
    val slice = LakeFileSlice(f.path, f.rowCount, 0L, f.sizeBytes)
    def rowsEmitted(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val factory = new LakeReaderFactory(t.schema.toDDL, filters)
      val r = factory.createColumnarReader(LakeInputPartition(Seq(slice)))
      var n = 0L
      try while (r.next()) n += r.get().numRows() finally r.close()
      n
    }
    val all = rowsEmitted(Array.empty)
    assert(all == 2000)
    // a point predicate: the reader itself must emit only the row group(s)
    // whose footer stats admit id 100 — the rest never decode
    val pruned = rowsEmitted(Array(
      org.apache.spark.sql.sources.EqualTo("message_id", 100L)))
    assert(pruned < all / 2, s"expected row-group skipping, reader emitted $pruned of $all")
    assert(pruned >= 1)
    // end-to-end correctness through the full scan
    val df = spark.read.format("laketable").load(t.location)
      .filter(col("message_id") === 100L)
    assert(df.count() == 1)
    // a filter over a bucket-constant column with equality that misses
    val none = spark.read.format("laketable").load(t.location)
      .filter(col("message_id") === -5L)
    assert(none.count() == 0)
    // byte-range splits + predicate compose: every row group is owned by
    // exactly one range and the predicate skips within each independently
    SessionConf.withConf(spark,
        "spark.sql.files.maxPartitionBytes" -> (f.sizeBytes / 4).toString,
        "spark.sql.files.openCostInBytes" -> "0") {
      val split = spark.read.format("laketable").load(t.location)
        .filter(col("message_id") >= 500L && col("message_id") < 700L)
      assert(split.rdd.getNumPartitions >= 4)
      assert(split.count() == 200)
      assert(split.agg(org.apache.spark.sql.functions.sum("message_id"))
        .head.getLong(0) == (500L until 700L).sum)
    }
  }

  test("manifest statistics: small laketable reports true size and auto-broadcasts") {
    val t = newTable()
    appendBatch(t, 100, bucket(0), 1)
    val small = spark.read.format("laketable").load(t.location)
    // V2 relations without SupportsReportStatistics default to "huge" and
    // can never auto-broadcast; ours must report manifest truth
    val stats = small.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(100)), s"rowCount=${stats.rowCount}")
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 10L * 1024 * 1024,
      s"sizeInBytes=${stats.sizeInBytes}")
    // a genuinely-large other side: the laketable side must be the one chosen
    // for broadcast with no hint
    val big = spark.range(3000000).select((col("id") % 100).as("message_id"))
    val joined = big.join(small, "message_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(joined.count() == 3000000)
  }

  test("runtime join filters prune files at execution (dynamic file pruning)") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), 1)
    appendBatch(t, 20, bucket(1), 2)
    appendBatch(t, 30, bucket(2), 3)
    import spark.implicits._
    // dim must be a real (parquet) scan: a LocalRelation folds its filter
    // away and DPP sees no selective predicate to derive a runtime filter
    val dimPath = tmpDir("dsv2-dim") + "/dim"
    Seq((bucket(0), "a"), (bucket(1), "b"), (bucket(2), "c"))
      .toDF("bk", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val fact = spark.read.format("laketable").load(t.location)
    LakeScanMetrics.lastPlannedFiles = -1
    val joined = fact.join(dim.filter($"tag" === "b"),
      fact("timeperiod_loadedBy") === dim("bk"))
    assert(joined.count() == 20)
    // the dimension filter reached the scan as a runtime filter: only the
    // matching bucket's file was planned
    assert(LakeScanMetrics.lastPlannedFiles == 1,
      s"planned ${LakeScanMetrics.lastPlannedFiles} files, expected 1\n" +
        joined.queryExecution.executedPlan.toString)
  }

  test("footer stats harvest: string truncation bounds and null/value counts") {
    val t = newTable()
    appendBatch(t, 50, bucket(0), 7)
    val st = t.files().head.stats
    val data = st("data")
    assert(data.strMin.isDefined && data.strMax.isDefined)
    assert(data.strMin.get.length <= ColStats.TruncLen)
    assert(data.strMax.get.length <= ColStats.TruncLen)
    assert(data.nullCount.contains(0L))
    assert(data.valueCount.contains(50L))
    // the truncated bounds actually bound every value
    val vals = t.toDF(spark).select("data").collect().map(_.getString(0))
    assert(vals.forall(v => v >= data.strMin.get && v <= data.strMax.get))
    val id = st("message_id")
    assert(id.longMin.contains(0L) && id.longMax.contains(49L))
    // binary column (no UTF8 annotation): counts survive, no range
    val body = st("message_body")
    assert(body.strMin.isEmpty && body.longMin.isEmpty)
    assert(body.nullCount.contains(0L))
  }

  test("manifest-aggregate pushdown: COUNT/MIN/MAX answered without opening data files") {
    val t = newTable()
    appendBatch(t, 100, bucket(0), 1)
    appendBatch(t, 50, bucket(1), 2)
    // the hard proof of metadata-only execution: physically destroy the
    // data files — the pushed aggregate must still answer correctly
    t.files().foreach(f => assert(new java.io.File(f.path).delete()))
    val agg = spark.read.format("laketable").load(t.location)
      .agg(count(lit(1)).as("cnt"),
        min("message_id").as("mn"),
        max("timeperiod_loadedBy").as("mx"))
    val row = agg.head
    assert(row.getLong(0) == 150)
    assert(row.getLong(1) == 0)
    assert(row.getLong(2) == bucket(1))
    // and a non-pushable aggregate (avg) must NOT silently succeed
    intercept[Exception] {
      spark.read.format("laketable").load(t.location)
        .agg(avg("message_id")).collect()
    }
  }

  test("manifest-aggregate pushdown: GROUP BY the partition column is metadata-only") {
    val t = newTable()
    appendBatch(t, 100, bucket(0), 1)
    appendBatch(t, 50, bucket(1), 2)
    appendBatch(t, 25, bucket(1), 3) // second file in the same bucket
    t.files().foreach(f => assert(new java.io.File(f.path).delete()))
    // "rows per 5-minute bucket" — the reference's operational query —
    // answered with every data file physically gone
    val rows = spark.read.format("laketable").load(t.location)
      .groupBy("timeperiod_loadedBy")
      .agg(count(lit(1)).as("cnt"), max("message_id").as("mx"))
      .orderBy("timeperiod_loadedBy")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((bucket(0), 100L, 99L), (bucket(1), 75L, 49L)))
    // grouping by a NON-partition column must fall back (and thus fail on
    // the destroyed files instead of fabricating an answer)
    intercept[Exception] {
      spark.read.format("laketable").load(t.location)
        .groupBy("data").agg(count(lit(1))).collect()
    }
  }

  test("GROUP BY partition column declines pushdown when values vary inside a bucket") {
    val t = newTable()
    // in-bucket variation: 30 rows spread over 3 DISTINCT raw values that
    // share one truncate bucket — file stats show longMin != longMax, so
    // the manifest answer (one group keyed by the bucket start) would be
    // wrong and the source must fall back to the row-level path
    val varied = LakeWriter.generateBatch(spark, 30, bucket(0), 5)
      .withColumn("timeperiod_loadedBy",
        col("timeperiod_loadedBy") + (col("message_id") % 3) * 1000000L)
    t.append(LakeWriter.writeDataFiles(varied, t))
    // a second, genuinely bucket-constant file: ONE unsafe file must veto
    // the pushdown for the whole scan
    appendBatch(t, 50, bucket(1), 6)
    val rows = spark.read.format("laketable").load(t.location)
      .groupBy("timeperiod_loadedBy").agg(count(lit(1)).as("cnt"))
      .orderBy("timeperiod_loadedBy").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq(
      (bucket(0), 10L), (bucket(0) + 1000000L, 10L), (bucket(0) + 2000000L, 10L),
      (bucket(1), 50L)),
      s"in-bucket values must not collapse to the bucket start: $rows")
    // and the plan really is the row-level scan, not the manifest aggregate
    val df = spark.read.format("laketable").load(t.location)
      .groupBy("timeperiod_loadedBy").agg(count(lit(1)))
    val leaves = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!leaves.contains("manifest-aggregate"), leaves.take(500))
  }

  test("micro-batch stream: snapshot-id offsets deliver added files per commit") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), 1)
    val ckpt = tmpDir("dsv2-ckpt") + "/c"
    val name = "lakestream" + System.nanoTime()
    def runAvailable(): Unit = {
      val q = spark.readStream.format("laketable")
        .option("startSnapshotId", "0")
        .load(t.location)
        .groupBy().agg(count(lit(1)).as("n"), sum("message_id").as("s"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runAvailable()
    assert(spark.table(name).head.getLong(0) == 10)
    // two more commits land; resuming from the checkpoint consumes exactly
    // the added files (offsets = snapshot ids)
    appendBatch(t, 20, bucket(1), 2)
    appendBatch(t, 5, bucket(2), 3)
    runAvailable()
    assert(spark.table(name).head.getLong(0) == 35)
  }

  test("a catch-up trigger packs many single-bucket commits into fewer tasks") {
    val t = newTable()
    val start = t.currentSnapshotId
    val n = 8
    for (i <- 0 until n) appendBatch(t, 10 + i, bucket(i), 40 + i)
    // a stream reports no partitioning, so one trigger's tasks span buckets
    val stream = new LakeMicroBatchStream(t.location, t.schema, start)
    val tasks = stream.planInputPartitions(SnapshotOffset(start),
      SnapshotOffset(t.currentSnapshotId))
    assert(tasks.length < n, s"${tasks.length} tasks for $n buckets")
    val name = "lakecatchup" + System.nanoTime()
    val q = spark.readStream.format("laketable")
      .option("startSnapshotId", start.toString)
      .load(t.location)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir("dsv2-catchup") + "/c")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) == 1) // one trigger
    // every appended row exactly once: (bucket, id) pairs are unique
    val got = spark.table(name).select("timeperiod_loadedBy", "message_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = (0 until n).flatMap(i => (0L until 10L + i).map(bucket(i) -> _))
    assert(got.sorted == want.sorted)
  }

  test("incremental read skips rewrite snapshots (no re-delivery after compaction)") {
    val t = newTable()
    appendBatch(t, 10, bucket(0), 1)
    appendBatch(t, 20, bucket(0), 2)
    val afterAppends = t.currentSnapshotId
    // compaction rewrites both files into one NEW path — rows are the same
    assert(t.compactFiles(spark, minInputFiles = 2) > 0)
    appendBatch(t, 5, bucket(1), 3)
    // batch incremental: only the 5 genuinely-new rows appear
    assert(t.changesBetween(spark, afterAppends, t.currentSnapshotId).count() == 5)
    // streaming: a reader that started before the compaction sees 35 rows
    // total, never 65 (the rewritten 30 not re-delivered)
    val name = "lakenodup" + System.nanoTime()
    val q = spark.readStream.format("laketable")
      .option("startSnapshotId", "0").load(t.location)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmpDir("dsv2-nodup") + "/c")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table(name).head.getLong(0) == 35)
  }

  test("property: stream delivers every appended row exactly once under maintenance churn") {
    // The A25 consumer contract under the operations a live table actually
    // runs: random schedules of append / compact / expire / partition-width
    // change, with the checkpointed reader draining after every op (a
    // reader that keeps up — expiry behind the checkpoint must then never
    // lose rows, and compaction rewrites must never re-deliver). The
    // Complete-mode count/sum aggregate accumulates across AvailableNow
    // runs through the checkpoint, so the final numbers are the lifetime
    // delivery totals.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 7919)
      val t = newTable()
      val ckpt = tmpDir(s"dsv2-churn$seed") + "/c"
      val name = "lakechurn" + seed + System.nanoTime()
      def drain(): Unit = {
        val q = spark.readStream.format("laketable")
          .option("startSnapshotId", "0").load(t.location)
          .groupBy().agg(count(lit(1)).as("n"), sum("message_id").as("s"))
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Complete())
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      var appended = 0L
      var idSum = 0L
      var batchNo = 0
      val ops = 4 + rnd.nextInt(3)
      for (_ <- 0 until ops) {
        rnd.nextInt(5) match {
          case 0 | 1 => // append outweighs maintenance, as in production
            val rows = 20 + rnd.nextInt(60)
            appendBatch(t, rows, bucket(batchNo % 4), 1000L * seed + batchNo)
            val ids = t.toDF(spark).agg(count(lit(1)), sum("message_id")).head
            appended = ids.getLong(0); idSum = ids.getLong(1)
            batchNo += 1
          case 2 => t.compactFiles(spark, minInputFiles = 2)
          case 3 =>
            // expire everything except the latest two snapshots — always
            // BEHIND the drained checkpoint, the contract's requirement
            t.expireSnapshots(System.currentTimeMillis() + 3600000, retainLast = 2)
          case 4 => // partition evolution mid-stream: invisible to readers
            val w = Width * (1 + rnd.nextInt(3))
            if (w != t.spec.widthMicros) t.setPartitionWidth(w)
        }
        drain()
      }
      // a drain with no new offsets leaves the (cleared) memory sink
      // empty — close each schedule with one more append so the final
      // run re-emits the lifetime Complete-mode totals
      appendBatch(t, 10, bucket(0), 90000L + seed)
      val ids = t.toDF(spark).agg(count(lit(1)), sum("message_id")).head
      appended = ids.getLong(0); idSum = ids.getLong(1)
      drain()
      val got = spark.table(name).head
      assert(got.getLong(0) == appended,
        s"schedule $seed: delivered ${got.getLong(0)} rows, table holds $appended")
      assert(got.getLong(1) == idSum,
        s"schedule $seed: delivered id-sum ${got.getLong(1)} != table $idSum")
      LakeTable.drop(t.location)
    }
  }

  test("admission control: maxFilesPerTrigger drains a backlog in bounded batches") {
    val t = newTable()
    // 4-commit backlog, one file each, BEFORE the stream starts
    val totals = Seq(10L, 20L, 5L, 8L)
    totals.zipWithIndex.foreach { case (n, i) => appendBatch(t, n, bucket(i), i + 1) }
    var batches = Vector.empty[Long]
    val q = spark.readStream.format("laketable")
      .option("startSnapshotId", "0")
      .option("maxFilesPerTrigger", "1")
      .load(t.location)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches = batches :+ df.count()
        ()
      }
      .option("checkpointLocation", tmpDir("dsv2-admctl") + "/c")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // one snapshot (= one file) per micro-batch, nothing lost
    assert(batches.filter(_ > 0) == totals.toVector,
      s"expected one bounded batch per commit, got $batches")
  }

  test("admission control: maxBytesPerTrigger bounds catch-up by bytes") {
    val t = newTable()
    val totals = Seq(10L, 20L, 5L, 8L)
    totals.zipWithIndex.foreach { case (n, i) => appendBatch(t, n, bucket(i), i + 1) }
    // budget of one byte: every snapshot exceeds it → exactly one
    // snapshot admitted per batch (the can't-stall floor), same drain
    // shape as maxFilesPerTrigger=1
    var batches = Vector.empty[Long]
    val q = spark.readStream.format("laketable")
      .option("startSnapshotId", "0")
      .option("maxBytesPerTrigger", "1")
      .load(t.location)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches = batches :+ df.count()
        ()
      }
      .option("checkpointLocation", tmpDir("dsv2-admbytes") + "/c")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(batches.filter(_ > 0) == totals.toVector,
      s"expected one bounded batch per commit, got $batches")
    // a generous byte budget drains everything in one batch
    var batches2 = Vector.empty[Long]
    val q2 = spark.readStream.format("laketable")
      .option("startSnapshotId", "0")
      .option("maxBytesPerTrigger", (1L << 30).toString)
      .load(t.location)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches2 = batches2 :+ df.count()
        ()
      }
      .option("checkpointLocation", tmpDir("dsv2-admbytes2") + "/c")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(batches2.filter(_ > 0) == Vector(totals.sum),
      s"expected one catch-up batch, got $batches2")
  }

  test("BATCH incremental read: startSnapshotId/endSnapshotId plan only the " +
      "range's appended rows; compaction is never re-delivered") {
    val t = newTable()
    val s1 = appendBatch(t, 10, bucket(0), 81)
    val s2 = appendBatch(t, 20, bucket(1), 82)
    appendBatch(t, 30, bucket(2), 83)
    def inc(opts: (String, String)*): Long = {
      var r = spark.read.format("laketable")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(t.location).count()
    }
    // (s1, current]: the two later appends
    assert(inc("startSnapshotId" -> s1.toString) == 50)
    // (s1, s2]: exactly the middle append
    assert(inc("startSnapshotId" -> s1.toString,
      "endSnapshotId" -> s2.toString) == 20)
    // (0, current] = everything appended since create
    assert(inc("startSnapshotId" -> "0") == 60)
    // a compaction adds REWRITTEN files — an incremental reader over a
    // range containing it must not see them as new rows (minInputFiles=1:
    // each bucket holds a single file here)
    assert(t.compactFiles(spark, minInputFiles = 1) > 0)
    val afterCompact = t.currentSnapshotId
    assert(inc("startSnapshotId" -> s2.toString) == 30)
    assert(inc("startSnapshotId" -> afterCompact.toString) == 0)
    // pushed filters still prune within the incremental file set
    assert(spark.read.format("laketable")
      .option("startSnapshotId", s1.toString).load(t.location)
      .filter(col("timeperiod_loadedBy") === bucket(1)).count() == 20)
  }
}
