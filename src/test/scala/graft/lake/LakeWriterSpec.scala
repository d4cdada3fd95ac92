package graft.lake

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import graft.{SessionConf, SparkSpec}
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** `LakeWriter.writeDataFiles`: the one data-file writer. A one-bucket
  * in-memory batch is written by one task with no exchange; other inputs
  * keep their exchange and layout; a failed write leaves no file behind.
  */
class LakeWriterSpec extends SparkSpec {

  private val Spec = LakeWriter.EventSpec
  private def bucket(i: Int): Long = (5680000L + i) * Spec.widthMicros

  private def newTable(prefix: String, root: String = ""): LakeTable =
    LakeTable.create(root + tmpDir(prefix), LakeWriter.EventSchemaDdl, Spec)

  /** An in-memory batch (a local relation) of `n` events in one bucket;
    * `nullLast` makes the partition value of its last row NULL. */
  private def localBatch(n: Int, b: Long, nullLast: Boolean = false): DataFrame = {
    val rows = (0 until n).map { i =>
      val part: java.lang.Long = if (nullLast && i == n - 1) null else b
      Row(i.toLong, s"d$i", new java.sql.Timestamp((b + i) / 1000L), part,
        Array.fill[Byte](64)(i.toByte))
    }
    spark.createDataFrame(rows.asJava, StructType.fromDDL(LakeWriter.EventSchemaDdl))
  }

  /** A planned (not in-memory) batch spanning `buckets` buckets. */
  private def multiBucket(rows: Long, buckets: Int): DataFrame =
    (0 until buckets).map(i => LakeWriter.generateBatch(spark, rows, bucket(i), seed = i))
      .reduce(_ unionByName _)

  private def parquetFiles(loc: String): Seq[java.nio.file.Path] = {
    val data = java.nio.file.Paths.get(loc, LakeFormat.DataDir)
    if (!java.nio.file.Files.exists(data)) Nil
    else {
      val s = java.nio.file.Files.walk(data)
      try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
      finally s.close()
    }
  }

  /** Jobs and shuffle bytes of what `body` runs on this thread. */
  private def watched[T](body: => T): (T, Int, Long) = {
    val group = s"lake-writer-${java.util.UUID.randomUUID()}"
    val jobs, ended, shuffleBytes = new AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "lake writer spec")
      val out = try body finally spark.sparkContext.clearJobGroup()
      // listener events are delivered asynchronously: wait for the job ends
      val deadline = System.nanoTime() + 30000000000L
      while (ended.get < jobs.get && System.nanoTime() < deadline) Thread.sleep(20)
      (out, jobs.get.toInt, shuffleBytes.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a one-bucket in-memory batch runs one job, shuffles nothing, writes one file") {
    val t = newTable("lw-one")
    val (metas, jobs, shuffled) = watched(
      LakeWriter.writeDataFiles(localBatch(500, bucket(0)), t))
    assert(metas.size == 1)
    assert(metas.head.rowCount == 500L)
    assert(metas.head.partitionValue == bucket(0))
    assert(jobs == 1, s"$jobs jobs")
    assert(shuffled == 0L, s"$shuffled shuffle bytes written")
    assert(parquetFiles(t.location).size == 1)
    t.append(metas)
    assert(spark.read.format("laketable").load(t.location).count() == 500L)
  }

  test("a one-bucket batch costs at most 4 store requests per data file") {
    LakeTable.hadoopConf.set("fs.cntmock.impl", classOf[CountingMockStore].getName)
    val t = newTable("lw-store", "cntmock:")
    val before = CountingMockStore.requests.get
    val metas = LakeWriter.writeDataFiles(localBatch(500, bucket(0)), t)
    val requests = CountingMockStore.requests.get - before
    assert(metas.size == 1)
    assert(requests <= 4L * metas.size, s"$requests store requests for ${metas.size} file")
  }

  test("an unsorted multi-bucket write keeps one file per bucket, rows and stats") {
    val t = newTable("lw-multi")
    val df = multiBucket(300, 3)
    val metas = LakeWriter.writeDataFiles(df, t)
    assert(metas.map(_.partitionValue).sorted == (0 until 3).map(bucket))
    assert(metas.forall(_.rowCount == 300L))
    // the reference: Spark's file-source write of the same rows, bucketed
    // by the same transform, with stats read back from each footer
    val ref = tmpDir("lw-multi-ref") + "/files"
    SessionConf.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      df.withColumn("__part",
          col(Spec.column) - pmod(col(Spec.column), lit(Spec.widthMicros)))
        .repartition(4, col("__part"))
        .write.partitionBy("__part").parquet(ref)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val refMetas = new java.io.File(ref).listFiles.toSeq.filter(_.isDirectory)
      .flatMap { d =>
        val pv = d.getName.stripPrefix("__part=").toLong
        d.listFiles.toSeq.filter(_.getName.endsWith(".parquet"))
          .map(f => LakeWriter.footerMeta(conf, new Path(f.getPath), pv))
      }
    def key(m: DataFileMeta) = m.copy(path = "")
    assert(metas.map(key).sortBy(_.partitionValue) ==
      refMetas.map(key).sortBy(_.partitionValue))
  }

  test("sortBy + maxRecordsPerFile: files hold at most N rows, disjoint within a bucket") {
    val t = newTable("lw-sorted")
    val n = 64L
    // a permutation of 0..499 per bucket, so the sort has work to do
    val df = multiBucket(500, 3)
      .withColumn("message_id", (col("message_id") * 7919L) % 1000L)
    val metas = LakeWriter.writeDataFiles(df, t, sortBy = Seq("message_id"),
      maxRecordsPerFile = n)
    assert(metas.forall(_.rowCount <= n), metas.map(_.rowCount))
    assert(metas.map(_.rowCount).sum == 1500L)
    metas.groupBy(_.partitionValue).foreach { case (pv, fs) =>
      val ranges = fs.map { f =>
        val s = f.stats("message_id")
        (s.longMin.get, s.longMax.get)
      }.sortBy(_._1)
      ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
        assert(hi < lo, s"bucket $pv: overlapping ranges $ranges")
      }
    }
  }

  private def assertFailsCleanly(t: LakeTable, df: DataFrame): Unit = {
    val e = intercept[Exception](LakeWriter.writeDataFiles(df, t))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toList
    assert(messages.exists(_.contains("must not be NULL")), messages)
    assert(parquetFiles(t.location).isEmpty, parquetFiles(t.location))
    assert(!new java.io.File(t.location).list().exists(_.startsWith("_tmp-write-")))
  }

  test("a task that fails mid-write leaves no file and surfaces its error") {
    // one task: 300 rows written to an open file, then the NULL
    assertFailsCleanly(newTable("lw-fail-one"),
      localBatch(301, bucket(0), nullLast = true))
    // several tasks: the NULL sits in the second input partition, beside
    // 4 buckets whose tasks are still writing when the job fails
    val many = spark.range(0L, 20000L, 1L, 2).select(
      col("id").as("message_id"),
      col("id").cast("string").as("data"),
      timestamp_micros(lit(bucket(0)) + col("id")).as("timestamp"),
      when(col("id") === 19999L, lit(null).cast("bigint"))
        .otherwise(lit(bucket(0)) + (col("id") % 4L) * Spec.widthMicros)
        .as("timeperiod_loadedBy"),
      col("id").cast("string").cast("binary").as("message_body"))
    assertFailsCleanly(newTable("lw-fail-many"), many)
  }
}

/** The `mocks3:` store under its own scheme, counting requests the way
  * the object-store benches price them: reads (open, stat), writes
  * (create, delete, rename) and listings; a listing's child stats are
  * part of that one LIST.
  */
class CountingMockStore extends MockObjectStoreFileSystem {
  private val inList = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  override def getScheme: String = "cntmock"
  override def getUri: URI = URI.create("cntmock:///")

  private def count(): Unit = CountingMockStore.requests.incrementAndGet()

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(); super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count(); super.rename(src, dst)
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (!inList.get()) count()
    super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count()
    val prev = inList.get()
    inList.set(true)
    try super.listStatus(f) finally inList.set(prev)
  }
}

object CountingMockStore {
  val requests = new AtomicLong
}
