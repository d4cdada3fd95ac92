package graft.lake

import graft.SparkSpec

/** Scenario test mirroring the reference's run.sh process matrix (SURVEY
  * §5.5, A24): N concurrent writers publishing monikers, one bookkeeper
  * committing sweeps, retention + reaper maintenance — then assert the
  * final table equals everything published, exactly once, with no orphan
  * files after expiry.
  */
class ScenarioSpec extends SparkSpec {
  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width

  test("5 writers || bookkeeper || reaper: exact counts, no orphans") {
    val loc = tmpDir("scenario")
    LakeTable.drop(loc)
    val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)

    // 5 writer threads × 3 iterations × 200 rows, distinct buckets per writer
    val rowsPerBatch = 200
    val writers = (0 until 5).map { w =>
      new Thread(() => {
        for (iter <- 0 until 3) {
          val files = LakeWriter.writeDataFiles(
            LakeWriter.generateBatch(spark, rowsPerBatch,
              bucket(w * 3 + iter), seed = w * 100 + iter), table)
          Monikers.publish(loc, files)
        }
      })
    }
    // bookkeeper thread sweeping concurrently with the writers
    val bk = new FileBookkeeper(table)
    @volatile var writersDone = false
    val keeper = new Thread(() => {
      while (!writersDone || Monikers.listPending(loc).nonEmpty) {
        bk.sweep()
        Thread.sleep(20)
      }
    })
    keeper.start()
    writers.foreach(_.start())
    writers.foreach(_.join())
    writersDone = true
    keeper.join()

    table.refresh()
    val expected = 5L * 3 * rowsPerBatch
    assert(table.toDF(spark).count() == expected)
    // exactly-once: no duplicate (bucket, message_id) pairs
    assert(table.toDF(spark)
      .select("timeperiod_loadedBy", "message_id").distinct().count() == expected)
    assert(Monikers.listPending(loc).isEmpty)

    // retention: drop the first 5 buckets (metadata-only)
    assert(table.deleteOlderThan(bucket(5)) > 0)
    table.refresh()
    assert(table.toDF(spark).count() == expected - 5 * rowsPerBatch)

    // reaper: expire history, keep only the current snapshot → the dropped
    // buckets' files become orphans and are physically deleted
    val dataDir = new java.io.File(s"$loc/data")
    def liveFiles(): Set[String] =
      table.files().map(f => new java.io.File(f.path).getCanonicalPath).toSet
    table.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    table.refresh()
    val onDisk = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(dataDir).filter(_.getName.endsWith(".parquet"))
        .map(_.getCanonicalPath).toSet
    }
    assert(onDisk == liveFiles(), "orphan files left after expiry")
    assert(table.toDF(spark).count() == expected - 5 * rowsPerBatch)
  }

  test("writers || compactor || streaming reader: exactly-once through rewrites") {
    import org.apache.spark.sql.streaming.Trigger
    val loc = tmpDir("scenario-stream")
    LakeTable.drop(loc)
    val table = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val rowsPerBatch = 100
    // interleave appends and compactions: after this loop the live file
    // set bears little resemblance to the appended one — only the SNAPSHOT
    // LOG knows which rows are genuinely new
    for (i <- 0 until 6) {
      table.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, rowsPerBatch, bucket(i % 2),
          seed = 500 + i), table, filesPerPartition = 2))
      if (i % 2 == 1) table.compactFiles(spark, minInputFiles = 2)
    }
    val expected = 6L * rowsPerBatch
    val ckpt = tmpDir("scenario-stream-ckpt")
    val delivered =
      java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, Long, String)]())
    def drain(): Unit = {
      val q = spark.readStream.format("laketable")
        .option("startSnapshotId", "0")
        .option("maxFilesPerTrigger", "2") // bounded catch-up while rewrites land
        .load(loc)
        .select("timeperiod_loadedBy", "message_id", "data")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r =>
            delivered.add((r.getLong(0), r.getLong(1), r.getString(2))))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    drain()
    import scala.jdk.CollectionConverters._
    assert(delivered.size == expected,
      s"stream delivered ${delivered.size} rows")
    assert(delivered.asScala.toSet.size == expected,
      "duplicate rows in streamed output")
    // more appends + a final compaction; the checkpointed stream resumes
    // and delivers exactly the new rows
    table.append(LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 50, bucket(3), seed = 600), table))
    table.compactFiles(spark, minInputFiles = 2)
    drain()
    assert(delivered.size == expected + 50)
    assert(delivered.asScala.toSet.size == expected + 50)
  }
}
