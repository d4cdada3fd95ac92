package graft.lake.dsv2

import graft.SparkSpec
import graft.lake.LakeTable
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** `write.bloom.columns`: declared columns get parquet BLOOM FILTERS in
  * every written file — point lookups on unsorted high-cardinality
  * columns then skip row groups the value provably isn't in, via
  * parquet-mr's own row-group filtering (the scan already pushes a
  * FilterPredicate; blooms extend it beyond min/max ranges, which are
  * useless for uniformly-scattered ids). Blooms live in the files, not
  * the manifests: per-file cost, zero driver-metadata growth.
  */
class BloomWriteSpec extends SparkSpec {
  private lazy val warehouse: String = lakeCatalog("lakebl")

  private def bloomColumns(file: String): Set[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file), LakeTable.hadoopConf))
    try {
      val rg = r.getFooter.getBlocks.get(0)
      val dr = r.getBloomFilterDataReader(rg)
      import scala.jdk.CollectionConverters._
      rg.getColumns.asScala
        .filter(c => dr.readBloomFilter(c) != null)
        .map(_.getPath.toDotString).toSet
    } finally r.close()
  }

  test("declared columns carry blooms through DSv2 writes and compaction") {
    warehouse
    spark.sql(
      """CREATE TABLE lakebl.ns.bl (message_id BIGINT, v BIGINT, timeperiod_loadedBy BIGINT)
        |PARTITIONED BY (truncate(1000000, timeperiod_loadedBy))
        |TBLPROPERTIES ('write.bloom.columns'='message_id')""".stripMargin)
    // scattered ids: min/max stats cover the full range per file, so only
    // the bloom can disprove membership
    spark.sql(
      "INSERT INTO lakebl.ns.bl SELECT id * 7919 % 100000, id, 5 FROM range(0, 4000)")

    val loc = s"$warehouse/ns/bl"
    val t = LakeTable.load(loc)
    t.files().foreach { f =>
      assert(bloomColumns(f.path) == Set("message_id"),
        s"bloom columns of ${f.path}")
    }

    // point lookups stay correct for both present and absent keys
    assert(spark.sql(
      "SELECT count(*) FROM lakebl.ns.bl WHERE message_id = 7919").head.getLong(0) == 1)
    assert(spark.sql(
      "SELECT count(*) FROM lakebl.ns.bl WHERE message_id = 7918").head.getLong(0) == 0)

    // compaction's rewrite preserves the declared blooms
    spark.sql("INSERT INTO lakebl.ns.bl SELECT id, id, 5 FROM range(0, 10)")
    val sid = LakeTable.load(loc)
      .compactFiles(spark, smallFileBytes = 1L << 30, minInputFiles = 2)
    assert(sid > 0, "compaction expected to run")
    val t2 = LakeTable.load(loc)
    t2.files().foreach { f =>
      assert(bloomColumns(f.path) == Set("message_id"),
        s"post-compaction bloom columns of ${f.path}")
    }
    spark.sql("DROP TABLE lakebl.ns.bl")
  }

  test("tables without the property write no blooms") {
    warehouse
    spark.sql(
      """CREATE TABLE lakebl.ns.nobl (message_id BIGINT, timeperiod_loadedBy BIGINT)
        |PARTITIONED BY (truncate(1000000, timeperiod_loadedBy))""".stripMargin)
    spark.sql("INSERT INTO lakebl.ns.nobl SELECT id, 5 FROM range(0, 100)")
    val t = LakeTable.load(s"$warehouse/ns/nobl")
    t.files().foreach(f => assert(bloomColumns(f.path).isEmpty))
    spark.sql("DROP TABLE lakebl.ns.nobl")
  }
}
