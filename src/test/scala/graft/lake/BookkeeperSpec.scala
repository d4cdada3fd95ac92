package graft.lake

import graft.SparkSpec

/** Committer dataflow (A11–A20): moniker handoff, sweep loop, crash-window
  * idempotence, and queue-event parse/filter semantics.
  */
class BookkeeperSpec extends SparkSpec {

  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width // aligned by construction

  private def newTable(): LakeTable = {
    val loc = tmpDir("bk")
    LakeTable.drop(loc)
    LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
  }

  test("writers publish monikers; one sweep commits all of them in one snapshot") {
    val t = newTable()
    for (i <- 0 until 3) {
      val files = LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10, bucket(i), seed = i), t)
      Monikers.publish(t.location, files)
    }
    assert(Monikers.listPending(t.location).size == 3)
    val bk = new FileBookkeeper(t)
    val snap = bk.sweep()
    assert(snap == 1L) // one snapshot for the whole sweep (A15)
    assert(t.toDF(spark).count() == 30)
    assert(Monikers.listPending(t.location).isEmpty) // consumed
    assert(bk.totalMonikers == 3 && bk.totalFiles == 3)
  }

  test("sweep with nothing pending is a no-op") {
    val t = newTable()
    assert(new FileBookkeeper(t).sweep() == -1L)
  }

  test("crash replay: re-sweeping an already-committed moniker adds no rows") {
    val t = newTable()
    val files = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 10, bucket(0), seed = 1), t)
    Monikers.publish(t.location, files)
    new FileBookkeeper(t).sweep()
    // simulate the crash window: commit landed but moniker delete didn't
    Monikers.publish(t.location, files)
    new FileBookkeeper(t).sweep()
    assert(t.toDF(spark).count() == 10) // path-dedupe (A14 fix)
  }

  test("queue events: parse keeps only BlobCreated/FlushWithClose parquet under /data/") {
    val mk = (et: String, api: String, url: String) =>
      s"""{"eventType":"$et","data":{"api":"$api","blobUrl":"$url","contentLength":123}}"""
    val rows = Seq(
      mk("Microsoft.Storage.BlobCreated", "FlushWithClose",
        "https://acct.dfs.core.windows.net/cont/tbl/data/f1.parquet"), // keep
      mk("Microsoft.Storage.BlobCreated", "FlushWithClose",
        "file:/tmp/tbl/data/f2.parquet"), // keep, local passthrough
      mk("Microsoft.Storage.BlobDeleted", "FlushWithClose",
        "https://a/c/data/f3.parquet"), // wrong eventType
      mk("Microsoft.Storage.BlobCreated", "PutBlob",
        "https://a/c/data/f4.parquet"), // wrong api
      mk("Microsoft.Storage.BlobCreated", "FlushWithClose",
        "https://a/c/meta/f5.parquet"), // not under /data/
      mk("Microsoft.Storage.BlobCreated", "FlushWithClose",
        "https://a/c/data/f6.txt")) // wrong extension
    import spark.implicits._
    val raw = rows.map(r => java.util.Base64.getEncoder.encodeToString(r.getBytes))
      .toDF("value")
    val parsed = QueueEvents.parse(raw).orderBy("filePath").collect()
    assert(parsed.length == 2)
    // https → abfss rewrite (StorageQueueBasedBookkeeper.java:45,205-209)
    assert(parsed.map(_.getString(0)).toSet == Set(
      "abfss://cont@acct.dfs.core.windows.net/tbl/data/f1.parquet",
      "/tmp/tbl/data/f2.parquet"))
  }

  test("queue bookkeeper honors the per-commit file cap (ref: <=500/commit)") {
    val t = newTable()
    // three files, one per bucket (single-partition batches → exactly one
    // file each; multi-file repartition can collapse under hash collisions)
    val files = (0 until 3).flatMap { i =>
      LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, 10, bucket(i), seed = 11 + i), t)
    }
    assert(files.size == 3)
    val conf = new org.apache.hadoop.conf.Configuration()
    val evDir = new org.apache.hadoop.fs.Path(t.location, "_events")
    val fs = evDir.getFileSystem(conf)
    fs.mkdirs(evDir)
    files.zipWithIndex.foreach { case (f, i) =>
      val body =
        s"""{"eventType":"Microsoft.Storage.BlobCreated","data":{"api":"FlushWithClose","blobUrl":"file:${f.path}","contentLength":1}}"""
      val out = fs.create(new org.apache.hadoop.fs.Path(evDir, f"e$i%03d.json"), true)
      try out.write(java.util.Base64.getEncoder.encode(body.getBytes)) finally out.close()
    }
    // cap of 2: first sweep commits 2 files, second sweep the remaining 1
    val bk = new QueueBookkeeper(t, evDir.toString, maxFilesPerCommit = 2)
    assert(bk.sweep(spark) == 1L)
    assert(fs.listStatus(evDir).length == 1) // only consumed events acked
    assert(bk.sweep(spark) == 2L)
    assert(t.toDF(spark).count() == 30)
    assert(bk.sweep(spark) == -1L)
  }

  test("queue bookkeeper: event files discovered, committed once, acked; dupes deduped") {
    val t = newTable()
    val files = LakeWriter.writeDataFiles(
      LakeWriter.generateBatch(spark, 25, bucket(0), seed = 7), t)
    val conf = new org.apache.hadoop.conf.Configuration()
    val evDir = new org.apache.hadoop.fs.Path(t.location, "_events")
    val fs = evDir.getFileSystem(conf)
    fs.mkdirs(evDir)
    def writeEvent(name: String, path: String): Unit = {
      val body =
        s"""{"eventType":"Microsoft.Storage.BlobCreated","data":{"api":"FlushWithClose","blobUrl":"file:$path","contentLength":1}}"""
      val enc = java.util.Base64.getEncoder.encodeToString(body.getBytes)
      val out = fs.create(new org.apache.hadoop.fs.Path(evDir, name), true)
      try out.write(enc.getBytes) finally out.close()
    }
    files.zipWithIndex.foreach { case (f, i) => writeEvent(s"e$i.json", f.path) }
    writeEvent("e_dup.json", files.head.path) // at-least-once redelivery
    val bk = new QueueBookkeeper(t, evDir.toString)
    val snap = bk.sweep(spark)
    assert(snap == 1L)
    assert(t.toDF(spark).count() == 25)
    assert(fs.listStatus(evDir).isEmpty) // acked after commit
    // partition value parsed from path (A19 fix)
    assert(t.files().forall(_.partitionValue == bucket(0)))
    assert(bk.sweep(spark) == -1L)
  }
}
