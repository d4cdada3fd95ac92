package graft.lake.dsv2

import graft.{SessionConf, SparkSpec}
import graft.lake.DataFileMeta
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll

/** Scan-task packing invariants: every byte of every file is covered by
  * exactly one slice (no lost or double-read row groups downstream), the
  * whole-file rowCount is attributed to exactly one slice (the COUNT(*)
  * path), and task sizes respect the split budget for splittable files.
  */
class PackerPropertySpec extends SparkSpec {

  private val fileGen: Gen[DataFileMeta] = for {
    size <- Gen.choose(1L, 512L << 20)
    rows <- Gen.choose(1L, 1000000L)
    part <- Gen.choose(0L, 5L)
    id <- Gen.uuid
  } yield DataFileMeta(s"/f/$id.parquet", size, rows, part * 1000L)

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  private def tasks(files: Seq[DataFileMeta], keyed: Boolean): Seq[LakeInputPartition] =
    LakePartitionPacker.pack(files, keyed).map(_.asInstanceOf[LakeInputPartition]).toSeq

  /** Every byte of every file covered once, every rowCount attributed once. */
  private def covers(files: Seq[DataFileMeta], parts: Seq[LakeInputPartition]): Boolean = {
    val slices = parts.flatMap(_.files)
    val byPath = slices.groupBy(_.path)
    val coverOk = files.forall { f =>
      byPath.get(f.path).exists { ss =>
        val sorted = ss.sortBy(_.start)
        sorted.head.start == 0L &&
          sorted.last.start + sorted.last.length == f.sizeBytes &&
          sorted.sliding(2).forall {
            case Seq(a, b) => a.start + a.length == b.start
            case _ => true
          }
      }
    }
    val rowsOk =
      slices.map(_.rowCount).sum == files.map(_.rowCount).sum &&
        files.forall(f => byPath(f.path).count(_.rowCount > 0) <= 1 ||
          f.rowCount == 0)
    coverOk && rowsOk && files.map(_.path).toSet.size == byPath.size
  }

  test("pack covers every file byte exactly once and every rowCount exactly once") {
    spark // the packer reads conf from the active session
    check(forAll(Gen.listOfN(12, fileGen)) { files =>
      covers(files, tasks(files, keyed = true)) &&
        covers(files, tasks(files, keyed = false))
    })
  }

  test("keyed tasks never mix buckets; unkeyed packing plans no more tasks") {
    // a small open cost lets small files of different buckets share a task
    SessionConf.withConf(spark, "spark.sql.files.openCostInBytes" -> "1048576")(
      check(forAll(Gen.listOfN(12, fileGen)) { files =>
        val keyed = tasks(files, keyed = true)
        val bucketOf = files.map(f => f.path -> f.partitionValue).toMap
        keyed.forall(p => p.files.forall(s => bucketOf(s.path) == p.bucket)) &&
          tasks(files, keyed = false).size <= keyed.size
      }))
  }
}
