package graft.lake

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

/** Scan planning cost on a table whose manifests overflow the 128-entry
  * manifest cache: one query plans from one manifest walk, and the walk's
  * cache misses are read concurrently without changing what it returns.
  * No data files exist — every test only plans.
  */
class ScanPlanningSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Width = 300000000L // 5 minutes in µs
  private val Manifests = 140

  /** `n` metadata-only appends (one manifest each) on the `mocks3:`
    * store, whose missing-object error is Hadoop's FileNotFoundException.
    */
  private def build(prefix: String, n: Int): String = {
    val loc = "mocks3:" + tmpDir(prefix)
    LakeTable.drop(loc)
    val t = LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec,
      properties = Map(LakeFormat.PropManifestMinMerge -> "1000"))
    for (i <- 1 to n)
      t.append(Seq(DataFileMeta(s"$loc/data/fake-$i.parquet", 100L, 10L,
        (5666666L + i) * Width)))
    loc
  }

  private lazy val loc: String = build("scan-planning", Manifests)

  private def manifests(t: LakeTable): Seq[String] = t.tableMeta.current.get.manifests

  /** Plans one filtered query through the DSv2 source, down to its input
    * partitions, and returns how many it planned.
    */
  private def planFiltered(): Int = {
    val df = spark.read.format("laketable").load(loc)
      .filter(col("message_id") > 5L)
    val scans = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    assert(scans.size == 1)
    scans.head.inputPartitions.size
  }

  test("one filtered query parses each manifest once while planning") {
    assert(manifests(LakeTable.load(loc)).size == Manifests)
    planFiltered() // compile the planning path before counting
    LakeTable.manifestCache.clear()
    val before = LakeTable.manifestParses.get()
    assert(planFiltered() > 0)
    assert(LakeTable.manifestParses.get() - before == Manifests,
      "a query must walk its snapshot's manifests once, not once per planning call")
  }

  test("concurrent manifest reads return the sequential file list, in order") {
    val t = LakeTable.load(loc)
    val fs = new Path(loc).getFileSystem(LakeTable.hadoopConf)
    val sequential = manifests(t).flatMap(m => Json.manifestFromJson(
      LakeTable.readSmall(fs, new Path(new Path(loc, LakeFormat.MetadataDir), m))))
    assert(sequential.size == Manifests)
    LakeTable.manifestCache.clear()
    assert(t.files() == sequential) // every manifest a miss
    LakeTable.manifestCache.clear()
    manifests(t).zipWithIndex.collect { case (m, i) if i % 3 == 0 => t.readManifest(m) }
    assert(t.files() == sequential) // hits and misses interleaved
  }

  test("a missing manifest fails the walk with its own FileNotFoundException") {
    val t = LakeTable.load(build("scan-planning-missing", 4))
    val lost = manifests(t)(2)
    new Path(t.location).getFileSystem(LakeTable.hadoopConf).delete(
      new Path(new Path(t.location, LakeFormat.MetadataDir), lost), false)
    LakeTable.manifestCache.clear() // four misses: read on the pool
    val e = intercept[java.io.FileNotFoundException](t.files())
    assert(e.getMessage.contains(new Path(lost).getName))
  }

  test("planning starts no thread except the manifest readers") {
    planFiltered() // the pool and any lazily started Spark service exist now
    LakeTable.manifestCache.clear()
    def live(): Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.toSet
    }
    val before = live()
    planFiltered()
    val started = (live() -- before).map(_.getName)
      .filterNot(_.startsWith(LakeTable.ManifestReaderThread))
    assert(started.isEmpty, s"planning started threads: $started")
  }
}
