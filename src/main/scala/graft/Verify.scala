package graft
import graft.lake.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — extra names restrict the
    // dump to a subset (local iteration aid; the driver passes two args)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionConf.builder("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // keys in SparkEntry.oracleSql order; Jackson escapes every control
    // char, so a tab or CR in an oracle's SQL cannot break a JSON reader
    val json = Json.obj()
    SparkEntry.oracleSql.foreach { case (k, v) => json.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(json))
    spark.stop()
  }
}
