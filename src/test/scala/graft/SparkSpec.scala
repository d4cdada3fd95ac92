package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SessionConf.builder("graft-test", "4")
    .config("spark.sql.warehouse.dir", SparkSpec.warehouse)
    .getOrCreate()

  def tmpDir(prefix: String): String = SparkSpec.scratchDir(prefix)

  /** Register a `LakeCatalog` named `name` (once per JVM, with a scratch
    * warehouse); returns its warehouse. */
  def lakeCatalog(name: String): String =
    SessionConf.lakeCatalog(spark, name)(tmpDir(s"$name-wh"))
}

/** Scratch directories of the test JVM: each is deleted, with everything
  * in it, when the JVM exits (`deleteOnExit` removes only empty ones).
  */
object SparkSpec {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))))

  def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(d)
    d.toString
  }

  /** One warehouse per JVM, however many suites build the session. */
  lazy val warehouse: String = scratchDir("graft-warehouse")
}
