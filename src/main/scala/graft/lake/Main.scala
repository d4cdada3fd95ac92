package graft.lake

import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's process topology (A23/A24, Main.java:18-101,
  * run.sh): modes clean | create | writeandcommitfiles | writers | writers2 |
  * bookkeeper | bookkeeper2 | reaper.
  *
  * Usage: graft.lake.Main <mode> <tableLocation> [numRows numFiles numIters
  * sleepMs retentionMs markOldIntervalMs]
  */
object Main {
  private def spark(): SparkSession = graft.SessionConf
    .builder("graft-lake", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).getOrCreate()

  /** Fixed-cadence pacing: sleep interval minus work time (Main.java:11-16). */
  private def pace(sleepMs: Long, tookMs: Long): Unit = {
    val remaining = sleepMs - tookMs
    if (remaining > 0) Thread.sleep(remaining)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("help")
    val loc = if (args.length > 1) args(1) else "/tmp/graft-lake/table"
    def argL(i: Int, dflt: Long) = if (args.length > i) args(i).toLong else dflt
    val numRows = argL(2, 1000)
    val numFiles = argL(3, 1).toInt
    val numIters = argL(4, 3).toInt
    val sleepMs = argL(5, 1000)
    val retentionMs = argL(6, 600000)
    val markOldIntervalMs = argL(7, 60000)

    mode match {
      case "clean" =>
        LakeTable.drop(loc)
        println(s"dropped $loc")

      case "create" =>
        LakeTable.create(loc, LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
        println(s"created $loc")

      case "writeandcommitfiles" => // writers commit directly (contended path)
        val s = spark()
        val table = LakeTable.load(loc)
        for (_ <- 1 to numIters) {
          val t0 = System.currentTimeMillis()
          val batchMicros = System.currentTimeMillis() * 1000L
          val df = LakeWriter.generateBatch(s, numRows, batchMicros)
          val files = LakeWriter.writeDataFiles(df, table, numFiles)
          val snap = table.append(files)
          println(s"committed ${files.size} files as snapshot $snap " +
            s"in ${System.currentTimeMillis() - t0} ms")
          pace(sleepMs, System.currentTimeMillis() - t0)
        }

      case "writers" => // write + publish moniker (the two-phase path)
        val s = spark()
        val table = LakeTable.load(loc)
        for (_ <- 1 to numIters) {
          val t0 = System.currentTimeMillis()
          val batchMicros = System.currentTimeMillis() * 1000L
          val df = LakeWriter.generateBatch(s, numRows, batchMicros)
          val files = LakeWriter.writeDataFiles(df, table, numFiles)
          Monikers.publish(loc, files)
          println(s"published moniker for ${files.size} files " +
            s"in ${System.currentTimeMillis() - t0} ms")
          pace(sleepMs, System.currentTimeMillis() - t0)
        }

      case "writers2" => // write only (throughput measurement)
        val s = spark()
        val table = LakeTable.load(loc)
        for (_ <- 1 to numIters) {
          val t0 = System.currentTimeMillis()
          val batchMicros = System.currentTimeMillis() * 1000L
          val df = LakeWriter.generateBatch(s, numRows, batchMicros)
          val files = LakeWriter.writeDataFiles(df, table, numFiles)
          println(s"wrote ${files.size} files in ${System.currentTimeMillis() - t0} ms")
          pace(sleepMs, System.currentTimeMillis() - t0)
        }

      case "bookkeeper" =>
        val table = LakeTable.load(loc)
        val bk = new FileBookkeeper(table)
        var lastMarkOld = System.currentTimeMillis()
        for (_ <- 1 to numIters) {
          val t0 = System.currentTimeMillis()
          val snap = bk.sweep()
          if (snap >= 0)
            println(s"sweep committed snapshot $snap; files=${bk.totalFiles} " +
              f"avgLatencyMs=${bk.avgLatencyMs}%.1f")
          if (System.currentTimeMillis() - lastMarkOld > markOldIntervalMs) {
            val del = bk.retentionDelete(retentionMs)
            if (del >= 0) println(s"retention delete snapshot $del")
            lastMarkOld = System.currentTimeMillis()
          }
          pace(sleepMs, System.currentTimeMillis() - t0)
        }

      case "bookkeeper2" =>
        val s = spark()
        val table = LakeTable.load(loc)
        val bk = new QueueBookkeeper(table, s"$loc/_events")
        for (_ <- 1 to numIters) {
          val t0 = System.currentTimeMillis()
          val snap = bk.sweep(s)
          if (snap >= 0) println(s"queue sweep committed snapshot $snap")
          pace(sleepMs, System.currentTimeMillis() - t0)
        }

      case "compact" => // our extension: bin-pack small data files;
        // GRAFT_COMPACT_SORT=col1,col2 [+ GRAFT_COMPACT_MAX_RECORDS] turns
        // it into a clustering rewrite (disjoint stat ranges per output
        // file); GRAFT_COMPACT_ZORDER=colA,colB z-orders instead (range
        // predicates prune on EVERY listed dimension)
        val s = spark()
        val table = LakeTable.load(loc)
        def cols(k: String) = sys.env.get(k)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
        val maxRecords = sys.env.get("GRAFT_COMPACT_MAX_RECORDS")
          .map(_.toLong).getOrElse(0L)
        val snap = table.compactFiles(s, sortBy = cols("GRAFT_COMPACT_SORT"),
          maxRecordsPerFile = maxRecords,
          zorderBy = cols("GRAFT_COMPACT_ZORDER"))
        println(if (snap >= 0) s"compacted into snapshot $snap" else "nothing to compact")

      case "reaper" =>
        val table = LakeTable.load(loc)
        val reaper = new Reaper(table)
        for (_ <- 1 to numIters) {
          val t0 = System.currentTimeMillis()
          val snap = reaper.expireOnce()
          if (snap >= 0) println(s"expired snapshots -> $snap")
          pace(sleepMs, System.currentTimeMillis() - t0)
        }

      case other =>
        System.err.println(
          s"""unknown mode '$other'; modes: clean create writeandcommitfiles
             |writers writers2 bookkeeper bookkeeper2 reaper""".stripMargin)
        sys.exit(2)
    }
  }
}
