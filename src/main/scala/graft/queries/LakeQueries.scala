package graft.queries

import java.util.UUID

import graft.SessionConf.dmlCatalog
import graft.Tables.t
import graft.Trace
import graft.lake._
import graft.sources.AvroIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 Part B rows B2–B6: LakeTable snapshot/time-travel/
  * incremental scans and the sink/scan round-trips.
  *
  * B2/B3 build a scratch LakeTable from deterministic generated batches
  * (engine-side semantics — no SQL oracle; the driver rows-only checks
  * them and the ScalaTest suite asserts exact counts). B4–B6 round-trip
  * driver testdata through parquet/avro/json/csv and aggregate — those DO
  * have DuckDB oracles over the original tables.
  */
object LakeQueries {

  private val Width = 300000000L
  private def bucket(i: Int): Long = (5666666L + i) * Width

  /** Materialize a SMALL result (these are all few-row aggregates) to the
    * driver and re-wrap it as a local DataFrame. The scratch inputs these
    * queries derive from are dropped before returning, and the former
    * `out.cache().count()` pattern pinned executor blocks for the session
    * lifetime — a localized result holds no executor state at all.
    */
  private def localize(out: DataFrame): DataFrame =
    out.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.collect(): _*), out.schema)

  /** Deterministic 3-snapshot scratch table shared by B2/B3. */
  private def stagedTable(spark: SparkSession,
      sc: Scratch.Scope): (LakeTable, Seq[Long]) = {
    val table = sc.table("laketable", LakeWriter.EventSchemaDdl,
      LakeWriter.EventSpec)
    val snaps = Seq(100L, 50L, 25L).zipWithIndex.map { case (rows, i) =>
      table.append(LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(spark, rows, bucket(i), seed = i + 1), table))
    }
    (table, snaps)
  }

  // B2 — snapshot scan / time travel: row count per committed snapshot.
  // Hash-oracled: snapshot ids are sequential (creation commits id 0, so
  // the appends are 1, 2, 3) and the batch sizes are declared in
  // [[stagedTable]] (100, +50, +25) — the oracle reconstructs
  // (id, cumulative count) as constants.
  def b02_snapshot_scan(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val (table, snaps) = stagedTable(s, sc)
    import s.implicits._
    val rows = snaps.map(id => (id, table.snapshotDF(s, id).count()))
    localize(rows.toDF("snapshot_id", "cnt").orderBy("snapshot_id"))
  }

  // B3 — incremental scan: added rows between consecutive snapshots.
  // Hash-oracled like B2: the (from, to] diff counts are the declared
  // second and third batch sizes.
  def b03_incremental_scan(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val (table, snaps) = stagedTable(s, sc)
    import s.implicits._
    val pairs = snaps.sliding(2).toSeq.map {
      case Seq(a, b) => (a, b, table.changesBetween(s, a, b).count())
    }
    localize(pairs.toDF("from_id", "to_id", "added").orderBy("from_id"))
  }

  // B3b — the SAME incremental contract through the DSv2 OPTIONS surface
  // (spark.read.format("laketable").option("startSnapshotId"/
  // "endSnapshotId")): a SQL/DataFrame-only consumer gets batch CDC reads
  // with no Scala API — previously the batch path silently ignored the
  // option. Counts must equal b03's changesBetween walk exactly.
  def b03b_incremental_options(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val (table, snaps) = stagedTable(s, sc)
    import s.implicits._
    val pairs = snaps.sliding(2).toSeq.map {
      case Seq(a, b) => (a, b,
        s.read.format("laketable")
          .option("startSnapshotId", a.toString)
          .option("endSnapshotId", b.toString)
          .load(table.location).count())
    }
    localize(pairs.toDF("from_id", "to_id", "added").orderBy("from_id"))
  }

  // B4 — parquet sink round-trip: write lineitem, re-read, aggregate.
  def b04_parquet_roundtrip(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tmp = sc.dir("pq")
    t(s, dir, "lineitem").write.mode("overwrite").parquet(tmp)
    localize(s.read.parquet(tmp).agg(
      count(lit(1)).as("cnt"),
      min("l_orderkey").as("min_ok"),
      max("l_orderkey").as("max_ok")))
  }

  // B4b — DSv2 sink round-trip: deterministic generated events through
  // df.write.format("laketable") (executor-written files, one fast-append
  // commit) and back through the vectorized laketable source.
  // Hash-oracled: the seeded generator is fully declared (ids 0..n-1,
  // md5 bodies of exactly 50 × 32 = 1600 bytes), so the per-bucket rollup
  // reconstructs from range() arithmetic. LakeSinkSpec asserts the
  // commit/layout/fencing semantics.
  def b04b_lake_sink(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val loc = sc.table("laketable-sink", LakeWriter.EventSchemaDdl,
      LakeWriter.EventSpec).location
    LakeWriter.generateBatch(s, 100, bucket(0), seed = 11)
      .union(LakeWriter.generateBatch(s, 50, bucket(1), seed = 12))
      .write.format("laketable").mode("append").save(loc)
    localize(s.read.format("laketable").load(loc)
      .groupBy(col("timeperiod_loadedBy").as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum("message_id").as("sum_id"),
        sum(length(col("message_body"))).as("body_bytes"))
      .orderBy("bucket"))
  }

  // B5b — ORC sink/scan round-trip: the remaining columnar format Spark
  // ships natively (A8's format coverage: parquet b04, avro b05,
  // json/csv b06, ORC here), through Spark's native vectorized ORC
  // source/sink. The SINGLE canonical ORC entry (r13 folded the b65
  // near-twin in): full-width lineitem written and read back, then the
  // per-returnflag aggregate re-derived over the round-tripped files —
  // count + key extrema + two decimal sums, so an encode/decode loss on
  // any column class (int key, char flag, decimal measures) diverges the
  // hash. DuckDB cannot read ORC; the roundtrip is identity, so the
  // oracle replays the same aggregate over the original parquet table.
  def b05b_orc_roundtrip(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.Tables.dec4
    val tmp = sc.dir("orc")
    t(s, dir, "lineitem").write.mode("overwrite").orc(tmp)
    localize(s.read.orc(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        min("l_orderkey").as("min_ok"),
        max("l_orderkey").as("max_ok"),
        dec4(sum(col("l_quantity"))).as("sum_qty"),
        dec4(sum(col("l_extendedprice"))).as("sum_price"))
      .orderBy("l_returnflag"))
  }

  // B5 — avro sink/scan round-trip (A8): events subset through Avro
  // container files and back.
  def b05_avro_roundtrip(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tmp = sc.dir("avro")
    val src = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    AvroIO.write(src, tmp)
    localize(AvroIO.read(s, tmp, src.schema).agg(
      count(lit(1)).as("cnt"),
      sum("user_id").as("sum_uid"),
      countDistinct("event_type").as("n_types")))
  }

  // B6 — JSON + CSV scan round-trip.
  def b06_json_csv(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tmpJ = sc.dir("json"); val tmpC = sc.dir("csv")
    val src = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    src.write.mode("overwrite").json(tmpJ)
    src.write.mode("overwrite").option("header", "true").csv(tmpC)
    val j = s.read.schema(src.schema).json(tmpJ)
      .agg(count(lit(1)).as("json_cnt"), sum("user_id").as("json_sum"))
    val c = s.read.schema(src.schema).option("header", "true").csv(tmpC)
      .agg(count(lit(1)).as("csv_cnt"), sum("user_id").as("csv_sum"))
    localize(j.crossJoin(c))
  }

  // B34 — SQL MERGE INTO (SupportsRowLevelOperations, group-based CoW):
  // upsert a shifted slice of orders into a laketable seeded with the low
  // keys — matched rows double their price, unmatched insert. The final
  // table is pure-SQL reconstructable over `orders`, so this one IS
  // hash-oracled despite being an engine-side table op.
  def b34_merge_upsert(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("m")
    val src = sc.view("graft_orders_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 800")
    s.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT o_orderkey, o_totalprice, o_orderstatus
         |       FROM $src
         |       WHERE o_orderkey >= 400 AND o_orderkey < 1200) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    localize(s.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B34b — tri-clause MERGE with WHEN NOT MATCHED BY SOURCE (Spark 4
  // syntax): the full synchronize-to-source shape — matched rows update,
  // source-only rows insert, and target rows ABSENT from the source
  // either flag stale (conditional UPDATE) or delete. NMBS makes every
  // target row a candidate, so the row-level op must plan the whole
  // table (no group pruning on the ON condition) — the semantics the CoW
  // scan's no-pushdown rule exists for. Final state is pure-SQL
  // reconstructable over `orders` → hash-oracled.
  def b34b_merge_full(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("f")
    val src = sc.view("graft_orders_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 800")
    s.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT o_orderkey, o_totalprice, o_orderstatus
         |       FROM $src
         |       WHERE o_orderkey >= 400 AND o_orderkey < 1200) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice > 150000
         |  THEN UPDATE SET o_orderstatus = 'STALE'
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    localize(s.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B35 — SQL UPDATE (group-based CoW): bump one segment's balances.
  // Runtime group filtering bounds the rewrite to files holding matched
  // rows; +100.0 on DOUBLE is exact in both engines → hash-oracled.
  def b35_update(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("u")
    val src = sc.view("graft_customer_src_")
    t(s, dir, "customer").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING)
         |PARTITIONED BY (truncate(50, c_custkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT c_custkey, c_acctbal, c_mktsegment " +
      s"FROM $src")
    s.sql(s"UPDATE $tbl SET c_acctbal = c_acctbal + 100.0 " +
      "WHERE c_mktsegment = 'BUILDING'")
    localize(s.sql(
      s"SELECT c_custkey, c_acctbal, c_mktsegment FROM $tbl ORDER BY c_custkey"))
  }

  // B44 — filter overwrite (OverwriteByExpression → overwriteWhere): the
  // idempotent range backfill — "recompute keys < 500 and swap them in",
  // one atomic delete-matching+append commit. 500 is deliberately NOT
  // aligned to the 400-wide buckets, so the op exercises both whole-file
  // drops ([0,400)) and a straddling-file survivor rewrite ([400,800)).
  // Final state is pure-SQL reconstructable over `orders` → hash-oracled.
  def b44_insert_overwrite(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("o")
    val src = sc.view("graft_orders_ow_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 1000")
    s.sql("SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice, " +
        s"o_orderstatus FROM $src WHERE o_orderkey < 500")
      .writeTo(tbl).overwrite(col("o_orderkey") < 500)
    localize(s.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B45 — dynamic partition overwrite (OverwritePartitionsDynamic →
  // overwriteDynamic): SQL INSERT OVERWRITE under
  // partitionOverwriteMode=dynamic replaces EXACTLY the buckets the new
  // data lands in — metadata-only (no existing file read or rewritten;
  // the restatement shape for "recompute these hours"). The recomputed
  // slice [400,800) covers one full bucket; [0,400) and [800,1200) come
  // through physically untouched. Hash-oracled.
  def b45_dynamic_overwrite(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("d")
    val src = sc.view("graft_orders_dyn_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 1200")
    graft.SessionConf.withConf(s,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
      s.sql(s"INSERT OVERWRITE $tbl " +
        "SELECT o_orderkey, o_totalprice * 2, o_orderstatus " +
        s"FROM $src WHERE o_orderkey >= 400 AND o_orderkey < 800"))
    localize(s.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B46 — CTAS / RTAS through the V2 catalog: CREATE TABLE AS SELECT
  // resolves the truncate transform and lands the query result through the
  // DSv2 write; REPLACE TABLE AS SELECT swaps content and schema. Final
  // state is the RTAS query over `orders` → hash-oracled.
  def b46_ctas(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("c")
    val src = sc.view("graft_orders_ctas_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl
         |PARTITIONED BY (truncate(400, o_orderkey))
         |AS SELECT o_orderkey, o_totalprice, o_orderstatus
         |FROM $src WHERE o_orderkey < 600""".stripMargin)
    s.sql(
      s"""REPLACE TABLE $tbl
         |PARTITIONED BY (truncate(400, o_orderkey))
         |AS SELECT o_orderkey, o_totalprice * 0.5 AS half_price, o_orderstatus
         |FROM $src WHERE o_orderkey >= 600 AND o_orderkey < 1400""".stripMargin)
    localize(s.sql(
      s"SELECT o_orderkey, half_price, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B37 — storage-partitioned join: two laketables co-partitioned by
  // truncate(10, user_id) join WITHOUT shuffling either side — the scans
  // report KeyGroupedPartitioning(truncate_10(user_id)) and Catalyst zips
  // matching buckets task-to-task (SpjSpec asserts the zero-shuffle plan;
  // this entry proves the result is right). At 100 TB this removes the
  // dominant cost of a lake-lake join. Pure-SQL reconstructable over
  // `events` → hash-oracled.
  def b37_spj_join(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val ta = sc.catalogTable("ja")
    val tb = sc.catalogTable("jb")
    val src = sc.view("graft_events_src_")
    t(s, dir, "events").createOrReplaceTempView(src)
    Seq(ta -> 0, tb -> 1).foreach { case (tbl, parity) =>
      s.sql(
        s"""CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, value DOUBLE)
           |PARTITIONED BY (truncate(10, user_id))""".stripMargin)
      s.sql(s"INSERT INTO $tbl SELECT event_id, user_id, value " +
        s"FROM $src WHERE event_id % 2 = $parity")
    }
    graft.SessionConf.withConf(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(localize(s.sql(
      s"""SELECT a.user_id AS user_id, count(*) AS pairs,
         |  sum(a.event_id + b.event_id) AS id_sum
         |FROM $ta a JOIN $tb b ON a.user_id = b.user_id
         |GROUP BY a.user_id ORDER BY user_id""".stripMargin)))
  }

  // B38 — merge-on-read DELETE: `write.delete.mode=merge-on-read` routes
  // SQL DELETE to position-delete files (kilobytes of (file, pos) pairs)
  // instead of a copy-on-write rewrite — at 100 TB the difference between
  // a metadata-sized commit and re-copying terabytes of survivors. Data
  // files provably untouched (asserted engine-side in MergeOnReadSpec);
  // scans subtract the masks. Final content is pure-SQL reconstructable
  // over `orders` → hash-oracled.
  def b38_mor_delete(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("d")
    val src = sc.view("graft_orders_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))
         |TBLPROPERTIES ('${LakeFormat.PropDeleteMode}'='${LakeFormat.DeleteModeMergeOnRead}')""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 2000")
    // partial-file matches everywhere: no bucket is dropped whole, so a
    // CoW engine would rewrite every touched file — MoR writes positions
    s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'F' AND o_orderkey % 5 < 2")
    localize(s.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B39 — merge-on-read MERGE INTO (SupportsDelta): `write.merge.mode=
  // merge-on-read` turns the upsert into position deletes (retiring the
  // matched row versions) + appended files (the new versions) — no data
  // file is rewritten. Same shape as b34's upsert so the same pure-SQL
  // reconstruction oracles it; DeltaMergeSpec asserts engine-side that the
  // pre-merge files survive untouched. At 100 TB this is the difference
  // between a MERGE that writes ~its delta and one that re-copies every
  // touched file.
  def b39_mor_merge(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("g")
    val src = sc.view("graft_orders_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))
         |TBLPROPERTIES ('${LakeFormat.PropMergeMode}'='${LakeFormat.DeleteModeMergeOnRead}')""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 800")
    s.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT o_orderkey, o_totalprice, o_orderstatus
         |       FROM $src
         |       WHERE o_orderkey >= 400 AND o_orderkey < 1200) s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice * 2
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    localize(s.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B40 — CDC changelog read (`changelogBetween`): the full insert+delete
  // row history of a snapshot range, including merge-on-read retirements
  // resolved back to whole rows — what a downstream sync consumes instead
  // of re-diffing snapshots. Scripted ops over `orders` make the changelog
  // pure-SQL reconstructable → hash-oracled.
  def b40_changelog(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("c")
    val name = tbl.stripPrefix(s"$cat.ns.")
    val src = sc.view("graft_orders_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))
         |TBLPROPERTIES ('${LakeFormat.PropDeleteMode}'='${LakeFormat.DeleteModeMergeOnRead}')""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 1500")
    val warehouse = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val table = LakeTable.load(s"$warehouse/ns/$name")
    val s1 = table.currentSnapshotId
    s.sql(s"DELETE FROM $tbl WHERE o_orderkey < 300") // MoR: position deletes
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey >= 1500 AND o_orderkey < 2000")
    val s3 = table.refresh().currentSnapshotId
    localize(table.changelogBetween(s, s1, s3)
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "_change_type")
      .orderBy("_change_type", "o_orderkey"))
  }

  // B41 — write-audit-publish: stage a batch on a branch (main readers see
  // NOTHING — asserted here via the mid-flight count and engine-side in
  // BranchSpec), audit it via the branch read, publish atomically. The
  // emitted rows interleave the phase counts with the final content, all
  // pure-SQL reconstructable over `orders` → hash-oracled.
  def b41_wap(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import s.implicits._
    val table = sc.table("wap",
      "o_orderkey BIGINT,o_totalprice DOUBLE,o_orderstatus STRING",
      TruncateSpec("o_orderkey", 400L))
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    table.append(LakeWriter.writeDataFiles(
      orders.filter(col("o_orderkey") < 500), table))
    val stagedId = table.stageAppend(LakeWriter.writeDataFiles(
      orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1000),
      table), "audit")
    val mainDuringAudit = table.toDF(s).count() // staged rows invisible
    val auditSees = table.snapshotDF(s, stagedId).count()
    table.publishBranch("audit")
    val afterPublish = table.toDF(s).count()
    val counts = Seq(
      ("main_during_audit", mainDuringAudit),
      ("audit_sees", auditSees),
      ("after_publish", afterPublish)).toDF("phase", "cnt")
    localize(counts.orderBy("phase"))
  }

  // B42 — rename/drop schema evolution (field-id resolution, metadata-only
  // ALTERs): batch 1 lands under the original column names, the price
  // column renames, batch 2 lands under the new name — the scan resolves
  // each file's PHYSICAL names through never-reused field ids, so both
  // vintages consolidate. A DROP + re-ADD of o_orderstatus then proves old
  // data stays dead: the re-added name carries a FRESH id, so every
  // pre-drop row reads NULL while batch 3 (inserted after) keeps its
  // values. Fully reconstructable over `orders` → hash-oracled.
  def b42_schema_evolution(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("e")
    val src = sc.view("graft_orders_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 500")
    s.sql(s"ALTER TABLE $tbl RENAME COLUMN o_totalprice TO price")
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey >= 500 AND o_orderkey < 1000")
    s.sql(s"ALTER TABLE $tbl DROP COLUMN o_orderstatus")
    s.sql(s"ALTER TABLE $tbl ADD COLUMN o_orderstatus STRING")
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey >= 1000 AND o_orderkey < 1500")
    localize(s.sql(
      s"SELECT o_orderkey, price, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B57 — schema-evolution TYPE WIDENING (ALTER COLUMN ... TYPE): narrow
  // files (k int32, v float physically) and wide files (int64/double)
  // consolidate under one scan after INT→BIGINT / FLOAT→DOUBLE
  // promotions — metadata-only, Spark's parquet readers widen the narrow
  // vintage at decode; a filter crossing both vintages still prunes
  // (row-group predicates drop per-file where the physical type differs,
  // Spark re-evaluates). Hash-oracled: derivation is pure orders math.
  def b57_type_widening(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("w")
    val src = sc.view("graft_orders_wsrc_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, k INT, v FLOAT)
         |PARTITIONED BY (truncate(400, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, " +
      "CAST(o_orderkey % 1000 AS INT), CAST(o_orderkey AS FLOAT) / 32 " +
      s"FROM $src WHERE o_orderkey < 500")
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN k TYPE BIGINT")
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN v TYPE DOUBLE")
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, " +
      "CAST(o_orderkey % 1000 AS BIGINT), CAST(o_orderkey AS DOUBLE) / 32 " +
      s"FROM $src WHERE o_orderkey >= 500 AND o_orderkey < 1000")
    localize(s.sql(
      s"""SELECT o_orderkey, k, CAST(CAST(round(v, 4) AS DECIMAL(28,4)) AS DOUBLE) AS v
         |FROM $tbl WHERE k >= 100 ORDER BY o_orderkey""".stripMargin))
  }

  // B58 — DECIMAL PRECISION WIDENING (ALTER COLUMN ... TYPE DECIMAL(p',s)):
  // Iceberg's third in-place promotion. Narrow files store DECIMAL(9,2)
  // (physical INT32); after the metadata-only ALTER the wide batch lands
  // values a (9,2) could not hold (o_orderkey × 100000 needs 11 integral
  // digits, physical INT64) — one scan consolidates both vintages, and
  // the price filter crosses them (row-group predicates drop per-file
  // where the physical decimal differs; Spark re-evaluates). All values
  // are exact in both decimal and binary (quarter steps / integral), so
  // the DOUBLE projection hash-oracles.
  def b58_decimal_widening(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val tbl = sc.catalogTable("dw")
    val src = sc.view("graft_orders_dwsrc_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, price DECIMAL(9,2))
         |PARTITIONED BY (truncate(400, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, " +
      "CAST(CAST(o_orderkey AS DECIMAL(9,2)) / 4 AS DECIMAL(9,2)) " +
      s"FROM $src WHERE o_orderkey < 500")
    s.sql(s"ALTER TABLE $tbl ALTER COLUMN price TYPE DECIMAL(18,2)")
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, " +
      "CAST(CAST(o_orderkey AS DECIMAL(18,2)) * 100000 AS DECIMAL(18,2)) " +
      s"FROM $src WHERE o_orderkey >= 500 AND o_orderkey < 1000")
    localize(s.sql(
      s"""SELECT o_orderkey, CAST(price AS DOUBLE) AS price
         |FROM $tbl WHERE price >= 50 ORDER BY o_orderkey""".stripMargin))
  }

  // B36 — `$partitions` skew audit over a deliberately skewed scratch
  // table (bucket 0 fragmented into 4 files, bucket 1 one file): the
  // rollup that tells an operator where compaction/salting is needed.
  // Hash-oracled: the scratch layout is fully declared here (4 clustered
  // INSERTs × 100 rows into bucket 0, 1 × 50 into bucket 1; the DSv2 write
  // requires a clustered distribution, so each INSERT lands exactly one
  // file per bucket), so the oracle reconstructs the expected rollup from
  // the same declaration. Exact values also spec-checked in
  // LakeCatalogSpec.
  def b36_partitions_meta(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("p")
    val name = tbl.stripPrefix(s"$cat.ns.")
    s.sql(
      s"""CREATE TABLE $tbl (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    for (i <- 0 until 4)
      s.sql(s"INSERT INTO $tbl SELECT id + ${i * 100}, ${bucket(0)}L FROM range(0, 100)")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(1)}L FROM range(0, 50)")
    localize(s.sql(
      s"SELECT partition_value, file_count, row_count " +
        s"FROM $cat.ns.`$name$$partitions` ORDER BY partition_value"))
  }

  // B43 — partition-spec evolution (width change with per-file vintages):
  // batch 1 lands under 400-wide buckets, the width evolves to 2000
  // (metadata-only, CALL set_partition_width), batch 2 lands under the
  // new width; the scan consolidates both vintages and predicate pruning
  // resolves each file's bucket range under its OWN width. The final
  // content is pure-SQL reconstructable over `orders` → hash-oracled.
  def b43_partition_evolution(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("v")
    val name = tbl.stripPrefix(s"$cat.ns.")
    val src = sc.view("graft_orders_pevo_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 800")
    s.sql(s"CALL $cat.system.set_partition_width(`table` => 'ns.$name', " +
      "width_micros => 2000)")
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey >= 800 AND o_orderkey < 1600")
    // the filter crosses both vintages (narrow buckets [400,800), wide
    // bucket [0,2000)) — per-file width pruning must keep exactly the
    // files that can hold matches
    localize(s.sql(
      s"""SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl
         |WHERE o_orderkey >= 600 AND o_orderkey < 1200
         |ORDER BY o_orderkey""".stripMargin))
  }

  // D1g — INCREMENTAL dedup: dedupe a newly-arrived batch against the
  // already-committed corpus WITHOUT rescoring the corpus — the shape
  // every continuously-ingesting training pipeline runs (the full-corpus
  // passes d01_* cover are periodic; this is the per-arrival path). The
  // increment comes off the table's own incremental scan
  // (changesBetween, the A25 contract), keep-first dedups WITHIN the
  // batch, and a hash anti-join against the prior snapshot's content
  // drops cross-batch dups. The corpus side is PREFILTERED by a bloom
  // over the (small) increment's hashes — the d03_contamination_bloom
  // pattern — so at 100 TB the corpus scan feeds the join shuffle only
  // rows that might match (~1% FP over the bloom) instead of the whole
  // table; false positives die in the exact anti-join. The content
  // round-trips the laketable unchanged, so the final survivor set is
  // pure-SQL reconstructable → hash-oracled.
  def d01_dedup_incremental(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val table = sc.table("incdedup", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    // the corpus carries no natural exact dups, so the increment plants
    // both kinds deterministically (same derivation in the oracle):
    // re-keyed copies of low even docs = cross-batch dups the anti-join
    // must drop; re-keyed copies of low odd docs = within-batch dups
    // keep-first must collapse
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val increment = odds
      .union(evens.filter(col("doc_id") < 40)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .union(odds.filter(col("doc_id") < 41)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    // the increment's data FILES stage on a branch while the corpus
    // commits: written files stay invisible until their append, and the
    // table never changes schema/spec in between, so
    // `append(incF.join())` keeps the exact snapshot order
    val incF = sc.overlap(LakeWriter.writeDataFiles(increment, table))
    val s1 = table.append(LakeWriter.writeDataFiles(evens, table))
    val s2 = table.append(incF.join())
    val h = sha2(col("text").cast("binary"), 256)
    val w = Window.partitionBy("h").orderBy("doc_id")
    val inc = table.changesBetween(s, s1, s2)
      .select(col("doc_id"), h.as("h"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
    // bloom NDV from the increment's MANIFEST row counts: a free upper
    // bound on its distinct hashes (pre-dedup), so sizing costs zero
    // Spark jobs — without it the count() action executes the whole
    // within-batch dedup pipeline (window included) a second time
    val incRows = table.addedFilesBetween(s1, s2).map(_.rowCount).sum
    localize(
      incrementalDedup(s, inc, table.snapshotDF(s, s1).select(h.as("h")),
        expectedItems = Some(incRows)))
  }

  /** The dedup dataflow of [[d01_dedup_incremental]], factored for plan
    * assertion: corpus hashes prefilter through a bloom built over the
    * (small, within-batch-deduped) increment as an independent
    * scalar-subquery stage — then the exact anti-join keeps increment
    * rows with no corpus match (bloom false positives die there). The
    * bloom is SIZED FROM THE INCREMENT'S COUNT (~10 bits/item ≈ 1% FP),
    * never a fixed literal: a fixed 8k-item bloom saturates on any real
    * per-arrival batch (10⁷–10⁹ rows), FP→1, and the corpus prefilter
    * silently degrades to a pass-through — correct, but the whole 100 TB
    * benefit evaporates. The count job runs over the increment only
    * (batch-sized, the cheap side); callers that already know the count
    * pass it via `expectedItems` to skip even that.
    */
  private[graft] def incrementalDedup(s: SparkSession, inc: DataFrame,
      corpusHashes: DataFrame, expectedItems: Option[Long] = None): DataFrame = {
    graft.functions.BloomFunctions.register(s)
    val vInc = s"inc_${UUID.randomUUID().toString.replace("-", "")}"
    inc.createOrReplaceTempView(vInc)
    // clamp to the session's bloom caps: past them the filter weakens
    // (higher FP — still correct, the anti-join is exact) rather than
    // failing the query; raise the confs for bigger arrival batches
    val maxItems = s.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
      .map(_.toLong).getOrElse(4000000L)
    val maxBits = s.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    val ndv = math.min(maxItems,
      math.max(64L, expectedItems.getOrElse(inc.count())))
    val bits = math.min(maxBits, math.max(65536L, ndv * 10L))
    Trace.count("bloom_ndv", ndv)
    Trace.count("bloom_bits", bits)
    val corpus = corpusHashes
      .filter(expr(
        s"""might_contain(
           |  (SELECT bloom_filter_agg(xxhash64(h), ${ndv}L, ${bits}L) FROM $vInc),
           |  xxhash64(h))""".stripMargin))
      .distinct()
    val out = inc
      .join(corpus, Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"))
      .orderBy("doc_id")
    // the subquery resolved at analysis (DataFrame creation is eager), so
    // the scratch view can drop before execution
    s.catalog.dropTempView(vInc)
    out
  }

  // D1h — INCREMENTAL SemDeDup: the SEMANTIC near-dup gate for a newly-
  // arrived embedding batch against the committed corpus — the per-
  // arrival analog of d01_semdedup the way d01_dedup_incremental is the
  // per-arrival analog of exact dedup. The committed corpus lands in a
  // laketable (snapshot 1), the batch appends (snapshot 2), and the
  // increment comes off the table's own incremental scan (changesBetween,
  // the A25 contract). Both sides assign through the SAME two-level
  // quantizer (assignCellsHier) under the exact-twin constants (quantized
  // integer embeddings, fixed first-K committed centroids), and a new
  // vector is a duplicate iff some same-cell COMMITTED vector clears the
  // 0.43 cosine bar — a cell-keyed join whose per-key width is the
  // committed cell membership (~N/K by the K=4√N scaling), never the
  // corpus. At 100 TB the committed assignment is computed once per
  // corpus snapshot and reused across arrivals; here it recomputes
  // because the scratch table lives only for the query. Exact-twin
  // arithmetic end to end → hash-oracled (shares the assignment CTE
  // block with d01_semdedup_exact).
  def d01_semdedup_incremental(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    graft.functions.CosineSimilarity.register(s)
    val P = graft.queries.PipelineQueries
    val q = t(s, dir, "embeddings").select(col("vec_id"), expr(
      s"""transform(embedding, x ->
         |  CAST(round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale}D) AS FLOAT))"""
        .stripMargin).as("embedding"))
    val table = sc.table("incsem", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val incF = sc.overlap(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") >= 400), table))
    val s1 = table.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") < 400), table))
    val s2 = table.append(incF.join())
    val committed = table.snapshotDF(s, s1)
    // fixed centroids = the committed corpus's first K quantized
    // vectors (vec_ids 0..K-1 — the same centroid set the full-corpus
    // twin derives, so the oracle shares its assignment block verbatim)
    val cents = committed.orderBy("vec_id").limit(P.SemDeDupExactK)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val aCom = P.assignCellsHier(committed, cents)
      .select(col("cell"), col("vec_id").as("c_id"),
        col("embedding").as("ce"))
    val aInc = P.assignCellsHier(table.changesBetween(s, s1, s2), cents)
    val dups = aInc.join(aCom, "cell")
      .filter(expr("cosine_sim(embedding, ce)") > 0.43)
      .select("vec_id").distinct()
    localize(aInc
      .join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .orderBy("vec_id"))
  }

  // D1i — INCREMENTAL MinHash near-dup: the FUZZY gate for a newly-
  // arrived batch against the committed corpus — the third member of the
  // incremental family (exact: d01_dedup_incremental, semantic:
  // d01_semdedup_incremental; this is the one a refreshed web-crawl
  // actually runs). The committed corpus lands in a laketable (snapshot
  // 1), the batch appends (snapshot 2), the increment comes off the
  // table's own incremental scan (changesBetween, the A25 contract), and
  // both sides derive banded MinHash signatures through the SAME
  // md5-portable machinery as d03_minhash_exact (md5MinhashSigs +
  // explodeBands — one code path, one oracle replay). An increment doc
  // is a fuzzy dup iff ANY of its 4 band keys exists in the committed
  // band space: the committed side reduces to DISTINCT band keys and the
  // probe is a LEFT SEMI join, so per-key width is 1 — an oversized
  // boilerplate bucket (the LSH skew hazard) costs one key row, never a
  // corpus-width pair fan-out, and the increment is never re-paired with
  // the corpus or itself. At 100 TB the committed band space is computed
  // once per corpus snapshot (or maintained incrementally as batches
  // commit) and reused across arrivals; it recomputes here only because
  // the scratch table lives per-query. Planted cross-batch dups (exact
  // re-keys share all 4 bands; near-dup re-keys with 3 appended tokens
  // share the surviving bands) are derived identically in the oracle →
  // hash-oracled end to end.
  def d01_minhash_incremental(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val increment = odds
      .union(evens.filter(col("doc_id") < 40)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .union(evens.filter(col("doc_id") >= 40 && col("doc_id") < 80)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zq zr zs")).as("text")))
    val table = sc.table("incmh", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    val incF = sc.overlap(LakeWriter.writeDataFiles(increment, table))
    val s1 = table.append(LakeWriter.writeDataFiles(evens, table))
    val s2 = table.append(incF.join())
    // committed signature space: band-bucket KEYS only (DISTINCT), so
    // the semi-join's per-key width is 1 regardless of how many
    // committed docs share a band bucket
    val comBands = P.explodeBands(P.md5MinhashSigs(table.snapshotDF(s, s1)))
      .select("band", "h0", "h1").distinct()
    val inc = table.changesBetween(s, s1, s2)
    val incBands = P.explodeBands(P.md5MinhashSigs(inc))
    val dups = incBands.join(comBands, Seq("band", "h0", "h1"), "left_semi")
      .select("doc_id").distinct()
    val out = inc.select("doc_id")
      .join(dups.withColumn("is_fuzzy_dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_fuzzy_dup"), lit(false)).as("is_fuzzy_dup"))
      .orderBy("doc_id")
    // the spec pins the semi-join/distinct-keys shape, never a pairing join
    Trace.note("plan", out.queryExecution.optimizedPlan.toString)
    localize(out)
  }

  /** The incremental packer's table property: the committed stream's
    * running token total — the ENTIRE pack state. */
  private[graft] val SeqPackTotalProp = "graft.seqpack.token.total"

  // D4l — INCREMENTAL sequence packing: the packed-stream index
  // (d04_seq_pack) maintained per arrival with work ∝ increment. The
  // insight that makes it O(increment): the pack state of a
  // concatenate-and-cut stream is ONE SCALAR — the committed stream's
  // token total — so it lives as a table property, committed and rolled
  // forward with each arrival (the committed-index pattern reduced to
  // its smallest possible index). An arrival packs by reading ONLY the
  // increment (changesBetween), running the two-phase prefix sum over
  // it with the committed total as the base offset, and committing the
  // advanced total; the corpus is never rescanned — not even for one
  // aggregate. Oracle: the full-stream replay ordered corpus-first
  // reproduces the base-offset arithmetic exactly; only the increment's
  // rows are emitted. Stream order is arrival order (corpus, then the
  // increment by doc_id) — the packed positions of committed docs are
  // immutable, exactly what a training loader requires of shard indexes
  // it has already consumed.
  def d04_seqpack_incremental(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val table = sc.table("seqpackinc", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    val loc = table.location
    val oddsF = sc.overlap(LakeWriter.writeDataFiles(odds, table))
    val s1 = table.append(LakeWriter.writeDataFiles(evens, table))
    // pack state at corpus commit: one aggregate, one property commit
    val total = table.snapshotDF(s, s1)
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    table.setProperty(SeqPackTotalProp, total.toString)
    val s2 = table.append(oddsF.join())
    // arrival pack: base from a FRESH load's properties (self-contained
    // — nothing the packer uses exists outside the table), rows from
    // the incremental scan only
    val base = LakeTable.load(loc).tableMeta
      .properties(SeqPackTotalProp).toLong
    val inc = table.changesBetween(s, s1, s2)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val out = P.packStreamSpans(inc, base)
    // one relation only (the increment); a corpus rescan would add a second
    Trace.note("plan", out.queryExecution.optimizedPlan.toString)
    val localized = localize(out)
    // maintenance half: advance the committed total by the increment's
    // tokens (derivable from the spans just computed — no extra scan)
    val incTok = localized.agg(sum("tok_len")).head().getLong(0)
    table.setProperty(SeqPackTotalProp, (base + incTok).toString)
    require(LakeTable.load(loc).tableMeta
      .properties(SeqPackTotalProp).toLong == base + incTok,
      "pack state must roll forward with the arrival")
    localized
  }

  // D3f — the MinHash band space as a first-class TABLE citizen,
  // completing the committed-index family (ANN: d02_ann_indexed; fuzzy:
  // this). d01_minhash_incremental proves the per-arrival gate shape but
  // RECOMPUTES the committed band space per arrival — fine per-snapshot,
  // wasteful per-arrival. Here the band space is a laketable: (1) corpus
  // batch commits to the DATA table, (2) its DISTINCT band keys (band,
  // h0, h1 — the d03_minhash_exact md5-portable derivation, one code
  // path) commit to the INDEX table, (3) a new batch appends to data,
  // (4) the GATE derives the increment's band keys and LEFT-SEMI probes
  // the COMMITTED index read from a FRESH LakeTable.load — per-key width
  // 1, the corpus is never re-banded or re-paired, and the probe side is
  // a table scan any number of arrivals can share, (5) maintenance
  // appends ONLY the increment's novel keys (anti-join against the same
  // committed scan) in one more commit, so the next arrival's index is
  // current. At 100 TB the index table is ~4 rows per committed doc of
  // three integers — small enough to co-locate, incremental to maintain,
  // and shared across every ingesting stream. Same planted dups and
  // verdict shape as d01_minhash_incremental → the same hash oracle.
  def d03_minhash_index(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val increment = odds
      .union(evens.filter(col("doc_id") < 40)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .union(evens.filter(col("doc_id") >= 40 && col("doc_id") < 80)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zq zr zs")).as("text")))
    val data = sc.table("mhidx-data", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    // layout key = xxhash64(band,h0,h1) pmod 16 (PipelineQueries
    // .withBandKey): band keys are minima, so partitioning on h0 itself
    // piled ~70% of files into the low quarter — the uniformized re-key
    // spreads maintenance appends and compaction evenly
    val index = sc.table("mhidx-idx", P.BandIndexDdl,
      TruncateSpec("bkey", 1L))
    val locI = index.location
    val d1 = data.append(LakeWriter.writeDataFiles(evens, data))
    // the corpus band-key index build reads only the immutable d1
    // snapshot and writes the INDEX table; the increment's DATA append
    // needs only d1 — independent, so they overlap (guide §2.6)
    val i1F = sc.overlap(index.append(LakeWriter.writeDataFiles(
      P.withBandKey(P.explodeBands(P.md5MinhashSigs(data.snapshotDF(s, d1)))
        .select("band", "h0", "h1").distinct()), index)))
    val d2 = data.append(LakeWriter.writeDataFiles(increment, data))
    val i1 = i1F.join()
    val inc = data.changesBetween(s, d1, d2)
    val incBands = P.explodeBands(P.md5MinhashSigs(inc))
    // the gate serves from a FRESH load of the committed index — the
    // index table is self-contained (the d02_ann_indexed discipline)
    val comBands = LakeTable.load(locI).snapshotDF(s, i1)
    val dups = incBands.join(comBands, Seq("band", "h0", "h1"), "left_semi")
      .select("doc_id").distinct()
    val out = inc.select("doc_id")
      .join(dups.withColumn("is_fuzzy_dup", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_fuzzy_dup"), lit(false)).as("is_fuzzy_dup"))
      .orderBy("doc_id")
    Trace.note("plan", out.queryExecution.optimizedPlan.toString)
    Trace.note("index_location", locI)
    val gated = localize(out)
    // maintenance: one commit of the increment's NOVEL distinct keys —
    // probe work ∝ increment, write work ∝ novel keys
    val i2 = index.append(LakeWriter.writeDataFiles(
      P.withBandKey(incBands.select("band", "h0", "h1").distinct()
        .join(comBands.drop("bkey"), Seq("band", "h0", "h1"),
          "left_anti")), index))
    // ∝ the increment's novel keys, never the corpus band space
    Trace.count("maint_rows",
      index.addedFilesBetween(i1, i2).map(_.rowCount).sum)
    gated
  }

  // D2p-index — the POSITIONAL inverted index as a committed table: one
  // layout (term, doc_id, tf, dl, positions ARRAY<BIGINT>) that serves
  // BOTH ranked retrieval (bm25Serve reads the tf/dl projection — the
  // d02_bm25_index serve unchanged) and phrase adjacency (phraseServe
  // reads the positions projection). Positions ride the row-path reader
  // (Spark's ParquetReadSupport decodes the array; the vectorized path
  // covers scalar-only schemas). Build commits the corpus half, the
  // increment appends ONLY its own postings (df and corpus stats stay
  // derived/serve-time, so appends never rewrite), and the serve loads
  // the committed index FRESH. End state = full-corpus phrase results →
  // the same hash oracle as d02_phrase_match.
  def d02_phrase_index(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    def keyed(postings: DataFrame): DataFrame = postings
      .withColumn("thash", xxhash64(col("term")))
      .withColumn("tkey", pmod(col("thash"), lit(16L)))
      .select("tkey", "thash", "term", "doc_id", "tf", "dl", "positions")
    val index = sc.table("phrase-idx",
      "tkey BIGINT,thash BIGINT,term STRING,doc_id BIGINT,tf BIGINT," +
        "dl BIGINT,positions ARRAY<BIGINT>",
      TruncateSpec("tkey", 1L))
    val loc = index.location
    index.setProperty("write.sort-order", "thash") // compaction keeps it
    // same two-level layout as the BM25 index: thash-clustered files with
    // disjoint ranges per bucket, so the serve skips within buckets too
    def write(postings: DataFrame) = LakeWriter.writeDataFiles(
      keyed(postings), index, sortBy = Seq("thash"),
      maxRecordsPerFile = P.Bm25IndexRowsPerFile)
    // phase split (build = corpus-half postings, maint = the increment's
    // postings, serve = the adjacency probe): an unsplit drift of this
    // entry was once unattributable
    val i1 = Trace.phase("build_s")(index.append(write(P.positionalPostings(evens))))
    val i2 = Trace.phase("maint_s")(index.append(write(P.positionalPostings(odds))))
    // work ∝ the increment's postings
    Trace.count("maint_rows", index.addedFilesBetween(i1, i2).map(_.rowCount).sum)
    val idxT = LakeTable.load(loc)
    // serve-side layout pruning, same bucket-aware predicate as the
    // BM25 serve: each OR branch pins a tkey bucket and footer-skips
    // within it on that bucket's own term hashes
    val res = Trace.phase("serve_s") {
      val out = P.phraseServe(
        idxT.toDF(s).filter(P.phraseLayoutPredicate)
          .select("term", "doc_id", "positions"))
      Trace.note("plan", out.queryExecution.optimizedPlan.toString)
      Trace.note("index_location", loc)
      localize(out)
    }
    Trace.count("serve_files_planned", filesPlanned(loc))
    Trace.count("files_total", idxT.files().size.toLong)
    res
  }

  // D2pz — PHRASE adjacency under the REALISTIC Zipf vocabulary (r14
  // verdict item 3): the committed positional index is built over the
  // zipf-expanded corpus (each occurrence keeps its position, its term
  // gains the octave-rank suffix), so the probes' posting sizes span df
  // octaves (~1400 postings for a head rank-1 pair down to ~30 for an
  // octave-5/6 needle) instead of every probe hitting the ~30-word
  // corpus head. The corpus replicates ×16 with shifted doc_ids BEFORE
  // expansion (PipelineQueries.ZipfPhraseReplicas — rank draws differ
  // per replica, giving head probes a measurable match mass; exact-rank
  // pair survival is ~1/100 and the organic corpus holds only ~30
  // adjacencies per base pair). Hash-oracled end to end: DuckDB replays
  // the same replication, expansion and adjacency self-join.
  def d02_phrase_zipf(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // ×16 deterministic replication, single corpus scan (broadcast range)
    // the broadcast cross-join INHERITS the corpus scan's partitioning —
    // documents.parquet is one file at sf0.1, so the ×16 expansion
    // (4.3M md5+conv token draws) would run on ONE task until the
    // assembly shuffle (r15: build 38 s → ~4 s once parallelized);
    // zipfTokens fans out by doc_id only when the scan's partition count
    // is below the session shuffle parallelism (fanOut is a no-op on
    // already-parallel inputs — the r15 ADVICE wording fix)
    val rdocs = d
      .crossJoin(broadcast(s.range(0, P.ZipfPhraseReplicas).toDF("ri")))
      .withColumn("doc_id",
        col("doc_id") + col("ri") * lit(P.ZipfPhraseShift))
      .select("doc_id", "text")
    val index = sc.table("phrase-zipf",
      "tkey BIGINT,thash BIGINT,term STRING,doc_id BIGINT,tf BIGINT," +
        "dl BIGINT,positions ARRAY<BIGINT>",
      TruncateSpec("tkey", 1L))
    val loc = index.location
    index.setProperty("write.sort-order", "thash")
    Trace.phase("build_s")(index.append(LakeWriter.writeDataFiles(
      P.zipfPositionalPostings(rdocs)
        .withColumn("thash", xxhash64(col("term")))
        .withColumn("tkey", pmod(col("thash"), lit(16L)))
        .select("tkey", "thash", "term", "doc_id", "tf", "dl",
          "positions"),
      // 16× the sibling indexes' file sizing: the ×16-replicated corpus
      // would otherwise roll ~1,100 files at sf0.1 (4.3M posting rows /
      // 4096) — per-row work is identical, but a thousand scratch files
      // price file-open overhead, not the serve. ~70 files at sf0.1
      // still splits every bucket 4–5 ways, so the within-bucket footer
      // skip stays exercised where the prune counts are reported.
      index, sortBy = Seq("thash"),
      maxRecordsPerFile = P.Bm25IndexRowsPerFile * 16,
      // 8 thash RANGES per tkey bucket (arithmetic shift = monotone in
      // thash): the ×16 corpus's 4.2 M posting rows otherwise write
      // through ≤16 tasks — the bucket count, not the core count, was
      // the build's parallelism cap. Files stay disjoint in thash.
      splitBy = Seq(shiftright(col("thash"), 61)))))
    val idxT = LakeTable.load(loc)
    val res = Trace.phase("serve_s")(localize(P.phraseServe(
      idxT.toDF(s).filter(P.zipfPhraseLayoutPredicate)
        .select("term", "doc_id", "positions"),
      P.ZipfPhraseQueries)))
    serveFilePrune(loc, idxT, P.zipfPhraseQueryTkeys)
    res
  }

  // D1i — the SUBSTRING shingle space as a first-class TABLE citizen,
  // completing the committed-index family across all four dedup regimes
  // (exact bloom gate: d01_dedup_incremental; fuzzy: d03_minhash_index;
  // semantic: d01_semdedup_index; substring: this). d01_dedup_substring
  // is corpus-batch; per-arrival it would re-shingle the whole committed
  // corpus. Here the corpus's DISTINCT 60-bit shingle hashes are a
  // laketable (~one small per 10 corpus chars before dedup, layout-keyed
  // pmod(shash, 16)): the GATE shingles ONLY the increment, flags a span
  // duplicated if its shingle hits the committed index (copied from the
  // corpus) OR repeats within the increment itself (arrival-vs-arrival
  // copying), and merges hit positions into maximal spans; maintenance
  // appends only the increment's novel hashes, so the next arrival's
  // index is current. At 100 TB the index is the corpus's distinct
  // shingle set — large but flat (8-byte keys), and the gate's probe is
  // increment-sized.
  def d01_substring_index(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    substrIndexRun(s,
      d.filter(pmod(col("doc_id"), lit(2)) === 0),
      d.filter(pmod(col("doc_id"), lit(2)) === 1))
  }

  /** The committed-shingle-index lifecycle with caller-chosen corpus and
    * increment — the entry splits the documents table by parity; specs
    * drive tiny corpora to pin gate/maintenance/pruning invariants. */
  private[graft] def substrIndexRun(s: SparkSession, evens: DataFrame,
      odds: DataFrame): DataFrame = Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val tStart = System.nanoTime()
    val data = sc.table("substr-data", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    val index = sc.table("substr-idx", "skey BIGINT,shash BIGINT",
      TruncateSpec("skey", 1L))
    val locI = index.location
    def keyed(hashes: DataFrame): DataFrame = hashes
      .withColumn("skey", pmod(col("shash"), lit(16L)))
      .select("skey", "shash")
    val d1 = data.append(LakeWriter.writeDataFiles(evens, data))
    // corpus shingle-index build (reads the immutable d1 snapshot,
    // writes the index table) overlaps the increment's data append
    // (needs only d1) — guide §2.6, same shape as d03_minhash_index
    val i1F = sc.overlap(index.append(LakeWriter.writeDataFiles(
      keyed(P.shingleHashes(data.snapshotDF(s, d1)).select("shash")
        .distinct()), index)))
    val d2 = data.append(LakeWriter.writeDataFiles(odds, data))
    val i1 = i1F.join()
    val inc = data.changesBetween(s, d1, d2)
    val incSh = P.shingleHashes(inc)
    // gate-side LAYOUT pruning (r11 verdict item 2): the increment's
    // shingles hash into a bounded skey set (≤16 by construction) —
    // one increment-sized distinct-key aggregate derives it, and the
    // IN predicate prunes the committed index SCAN to those buckets at
    // the manifest. Any committed hash equal to an increment hash
    // shares its bucket, so the pruned scan is sufficient for BOTH the
    // gate probe and the novelty anti-join below.
    val incKeys = incSh.select(pmod(col("shash"), lit(16L)).as("skey"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted // ≤16 rows
    val idxT = LakeTable.load(locI)
    // the gate serves from a FRESH load of the committed index — the
    // shingle space is self-contained, shared by every arrival
    val comSh = idxT.snapshotDF(s, i1)
      .filter(col("skey").isin(incKeys: _*)).select("shash")
    val selfDup = incSh.groupBy("shash").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("shash")
    val dupKeys = comSh.union(selfDup).distinct()
    val hits = incSh.join(dupKeys, Seq("shash"), "left_semi")
      .select(col("doc_id"), col("p").as("st"),
        (col("p") + P.SubstrShingle).as("en"))
    val out = P.mergeSpans(hits)
    Trace.note("plan", out.queryExecution.optimizedPlan.toString)
    Trace.note("index_location", locI)
    // phase walls (r13): everything above is the ONE-TIME corpus
    // build (table commits + whole-corpus shingle index); the
    // localize below is the GATE SERVE — the increment-proportional
    // part a probe must report separately or the build dominates and
    // misreads as gate cost
    Trace.span("build_s", (System.nanoTime() - tStart) / 1e9)
    val gated = Trace.phase("gate_s")(localize(out))
    Trace.count("serve_files_planned", filesPlanned(locI))
    Trace.count("files_total", idxT.files().size.toLong)
    // maintenance: one commit of the increment's NOVEL distinct hashes
    val i2 = Trace.phase("maint_s")(index.append(LakeWriter.writeDataFiles(
      keyed(incSh.select("shash").distinct()
        .join(comSh, Seq("shash"), "left_anti")), index)))
    Trace.count("maint_rows", index.addedFilesBetween(i1, i2).map(_.rowCount).sum)
    gated
  }

  /** Files the latest scan of the table at `loc` planned, -1 if none. */
  private def filesPlanned(loc: String): Long =
    graft.lake.dsv2.LakeScanMetrics.lastPlannedByLocation.getOrElse(loc, -1).toLong

  /** The serve scan's file pruning, recorded on the caller's trace: files
    * planned, files in the probes' MATCHED tkey buckets, files in the
    * index. planned < bucket files proves the within-bucket footer skip
    * (bucket pruning alone can never go below it). */
  private def serveFilePrune(loc: String, idx: LakeTable,
      tkeys: Seq[Long]): Unit = {
    lazy val files = idx.files()
    Trace.count("serve_files_planned", filesPlanned(loc))
    Trace.count("serve_bucket_files",
      files.count(f => tkeys.contains(f.partitionValue)).toLong)
    Trace.count("files_total", files.size.toLong)
  }

  /** Corpus-stats property FAMILY on the BM25 index table: one key per
    * maintainer — "graft.bm25.stats.<maintainer>" holds that maintainer's
    * ACCUMULATED "nDocs:sumDl" contribution — and readers fold the family
    * to corpus totals. Stored as properties (not rows) so each maintenance
    * append updates stats atomically with the postings commit it
    * describes; SHARDED per maintainer so the scheme is multi-maintainer
    * safe: a maintainer's read-increment-write touches only ITS key, and
    * a commit's CAS retry re-merges that key onto the refreshed property
    * map — two concurrent maintainers interleave without either
    * overwriting the other's mass (the single absolute key lost exactly
    * that race; pinned by the CommitCasSpec two-maintainer storm). */
  private[graft] val Bm25StatsPrefix = "graft.bm25.stats."
  private[graft] def bm25StatsKey(maintainer: String): String =
    Bm25StatsPrefix + maintainer
  private[graft] def bm25FoldStats(props: Map[String, String]): (Long, Long) =
    props.iterator.collect { case (k, v) if k.startsWith(Bm25StatsPrefix) =>
      val Array(n, sd) = v.split(":").map(_.toLong)
      (n, sd)
    }.foldLeft((0L, 0L)) { case ((an, asd), (n, sd)) => (an + n, asd + sd) }

  // D2i — the BM25 inverted index as a first-class TABLE citizen,
  // extending the committed-index family (ANN: d02_ann_indexed; fuzzy:
  // d03_minhash_index; semantic: d01_semdedup_index) to lexical
  // retrieval. d02_bm25_topk proves the scoring math but rebuilds the
  // postings per query — fine per-snapshot, wasteful per-arrival. Here
  // the postings are a laketable: (1) the corpus batch's postings
  // (term, doc_id, tf, dl — df deliberately NOT stored; it is the
  // posting count of the term, recoverable at serve time from the
  // matched postings alone, so appends never rewrite existing rows)
  // commit with corpus stats (N, Σdl) as a same-commit table property,
  // (2) a new batch appends ONLY its own postings plus the updated
  // stats property, (3) the SERVE loads the committed index FRESH and
  // scores query terms against it — work ∝ the query terms' postings
  // (bm25Serve semi-joins the broadcast term list before anything
  // else). At 100 TB the index is a few posting rows per document of
  // four smalls, layout-keyed on pmod(xxhash64(term), 16) so hot terms
  // spread across files. End state = full-corpus BM25 → the same hash
  // oracle as d02_bm25_topk.
  def d02_bm25_index(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    bm25IndexRun(s,
      d.filter(pmod(col("doc_id"), lit(2)) === 0),
      d.filter(pmod(col("doc_id"), lit(2)) === 1),
      graft.queries.PipelineQueries.Bm25IndexRowsPerFile)
  }

  // D2z — BM25 ranked retrieval under a REALISTIC Zipf vocabulary: the
  // corpus's tokens are deterministically expanded to a ~30k-term
  // log-uniform vocabulary (PipelineQueries.zipfPostings — all-integer
  // octave ranks off the 60-bit md5 prefix, so the DuckDB oracle replays
  // term identity exactly), committed as the standard two-level BM25
  // index layout (tkey buckets, thash-sorted files), and served with
  // fixed probes spanning ten df octaves — head rank-1 terms through
  // octave-9 tail terms. Hash-oracled end-to-end: the oracle rebuilds
  // the same expansion and scores with the shared micro-unit BM25 CTE.
  def d02_bm25_zipf(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val index = sc.table("bm25-zipf", P.Bm25IndexDdl, TruncateSpec("tkey", 1L))
    val loc = index.location
    index.setProperty("write.sort-order", "thash")
    // the serve wall tracks separately from the build, at realistic
    // selectivity (the head-term serves measure only the worst case)
    val st = Trace.phase("build_s") {
      val r = d.agg(count(lit(1)),
        sum(size(split(col("text"), " ")).cast("long"))).collect()(0)
      index.append(LakeWriter.writeDataFiles(
        P.bm25Keyed(P.zipfPostings(d)), index, sortBy = Seq("thash"),
        maxRecordsPerFile = P.Bm25IndexRowsPerFile))
      r
    }
    val idxT = LakeTable.load(loc)
    val res = Trace.phase("serve_s")(localize(P.bm25Serve(
      idxT.toDF(s).filter(P.zipfLayoutPredicate)
        .select("term", "doc_id", "tf", "dl"),
      st.getLong(0), st.getLong(1), P.ZipfQueries)))
    serveFilePrune(loc, idxT, P.zipfQueryTkeys)
    res
  }

  /** The committed-BM25-index lifecycle with caller-chosen corpus halves
    * and file sizing — the entry splits the documents table by parity;
    * specs drive small rowsPerFile over a generated corpus to pin the
    * within-bucket footer-skip invariant on many-file buckets. */
  private[graft] def bm25IndexRun(s: SparkSession, evens: DataFrame,
      odds: DataFrame, rowsPerFile: Long): DataFrame = Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    def stats(docs: DataFrame): (Long, Long) = {
      val r = docs.agg(count(lit(1)),
        sum(size(split(col("text"), " ")).cast("long"))).collect()(0)
      (r.getLong(0), r.getLong(1)) // 1-row corpus-stats agg — bounded
    }
    def keyed(postings: DataFrame): DataFrame = P.bm25Keyed(postings)
    val index = sc.table("bm25-idx", P.Bm25IndexDdl, TruncateSpec("tkey", 1L))
    val loc = index.location
    // the clustering is DECLARED on the table, not left to caller
    // discipline: compaction with no explicit sortBy re-sorts by the
    // declared order, so maintenance can never silently widen the files'
    // thash ranges back to the whole bucket domain
    index.setProperty("write.sort-order", "thash")
    // index writes CLUSTER by thash within each tkey bucket and split at
    // rowsPerFile — files then hold DISJOINT thash ranges, which is what
    // lets the serve's thash IN predicate skip files via footer min/max
    // (r11 verdict item 2's "term-sorted file layout within buckets")
    def write(postings: DataFrame) = LakeWriter.writeDataFiles(
      keyed(postings), index, sortBy = Seq("thash"),
      maxRecordsPerFile = rowsPerFile)
    val (n1, s1) = stats(evens)
    val i1 = index.append(write(P.bm25Postings(evens)))
    index.setProperty(bm25StatsKey("build"), s"$n1:$s1")
    // increment arrives: its OWN postings append + its OWN stats shard
    // — existing postings and the build shard untouched; readers fold
    val (n2, s2) = stats(odds)
    val i2 = index.append(write(P.bm25Postings(odds)))
    index.setProperty(bm25StatsKey("maint"), s"$n2:$s2")
    // ∝ the increment's postings, never a rebuild of the corpus postings
    Trace.count("maint_rows", index.addedFilesBetween(i1, i2).map(_.rowCount).sum)
    // serve from a FRESH load of the committed index — self-contained:
    // postings rows + the folded stats shards are everything BM25 needs
    val idxT = LakeTable.load(loc)
    val (nd, sdl) = bm25FoldStats(idxT.tableMeta.properties)
    // serve-side LAYOUT pruning (r11 verdict item 2), two levels in one
    // bucket-aware predicate: the query terms are literals, so both
    // layout keys are plan-time constants — each OR branch pins a tkey
    // bucket (manifest prune) and tests ONLY that bucket's term hashes
    // against the thash-sorted files' footer ranges (within-bucket
    // skip). See layoutPredicate for why the flat two-IN form barely
    // skipped. Rows were already term-filtered downstream, so results
    // are unchanged.
    val out = P.bm25Serve(
      idxT.toDF(s).filter(P.bm25LayoutPredicate)
        .select("term", "doc_id", "tf", "dl"),
      nd, sdl)
    Trace.note("plan", out.queryExecution.optimizedPlan.toString)
    Trace.note("index_location", loc)
    val res = localize(out)
    serveFilePrune(loc, idxT, P.bm25QueryTkeys)
    res
  }

  // D2h — INDEXED hybrid retrieval (r11 verdict item 6): both arms of
  // the RRF fusion serve from COMMITTED index tables. d02_hybrid_rrf
  // proves the fusion math but rebuilds postings per query and brute-
  // forces the semantic arm (corpus × broadcast-probes); here the
  // lexical arm is the d02_bm25_index serve (bucket-pruned postings
  // scan + stats property) and the semantic arm is the d02_ann_indexed
  // serve (nprobe=8 cell fan-out over committed PQ codes) — the two
  // serve shapes already priced for a 100 TB corpus, fused rank-space.
  // Hash-exact for free: both arms' RANKS are engine-deterministic and
  // the fused score is a fixed-order two-term reciprocal sum. The
  // semantic ranks differ from d02_hybrid_rrf's exactly where
  // ADC+shortlist approximation does, so the entry carries its own
  // oracle replaying BOTH committed serves end to end.
  def d02_hybrid_indexed(s: SparkSession, dir: String): DataFrame =
    hybridIndexedRun(s, dir, zipfLex = false)

  // D2hz — the INDEXED hybrid under the REALISTIC Zipf vocabulary (r14
  // verdict item 3): identical lifecycle to d02_hybrid_indexed, but the
  // lexical arm commits zipf-expanded postings (~30k-term vocabulary)
  // and serves the octave-spanning ZipfQueries probes through the
  // bucket-aware layout predicate, so the fused serve wall tracks
  // realistic selectivity instead of the ~30-word corpus head. The
  // semantic arm and fusion are unchanged machinery. Hash-oracled end to
  // end: the oracle fuses the zipf ranked replay with the IVF+PQ chain.
  def d02_hybrid_zipf(s: SparkSession, dir: String): DataFrame =
    hybridIndexedRun(s, dir, zipfLex = true)

  private def hybridIndexedRun(s: SparkSession, dir: String,
      zipfLex: Boolean): DataFrame = Scratch.scoped(s) { sc =>
    graft.functions.CosineSimilarity.register(s)
    val P = graft.queries.PipelineQueries
    // the three zipf-vs-base knobs: postings expansion, serve-side layout
    // predicate (each probe set prunes on its own terms' hashes), probes
    val lexPostings: DataFrame => DataFrame =
      if (zipfLex) P.zipfPostings else P.bm25Postings
    val lexPredicate =
      if (zipfLex) P.zipfLayoutPredicate else P.bm25LayoutPredicate
    val queries = if (zipfLex) P.ZipfQueries else P.Bm25Queries
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val bm25 = sc.table("hyb-bm25", P.Bm25IndexDdl, TruncateSpec("tkey", 1L))
    bm25.setProperty("write.sort-order", "thash")
    val data = sc.table("hyb-ann-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("hyb-ann-idx", P.AnnIndexDdl, P.AnnIndexSpec)
    val (locB, locI) = (bm25.location, index.location)
    val tPhase0 = System.nanoTime()
    def secsSince(t: Long): Double = (System.nanoTime() - t) / 1e9
    // lexical index: the corpus postings + same-commit stats property
    // (maintenance mechanics are d02_bm25_index's concern; the hybrid
    // needs the committed END STATE both entries share). The two arm
    // BUILDS are independent — different tables, no shared state — so
    // the lexical build runs on an overlap branch while the caller
    // thread builds the semantic arm (guide §2.6: actions are only
    // sequential because driver code calls them sequentially; FIFO
    // scheduling back-fills each build's stage tails with the other's
    // tasks). Phase walls are now PER-THREAD durations: they overlap,
    // so lex_build_s + ann_build_s can exceed the entry wall.
    val lexBuild = sc.overlap {
      val st = d.agg(count(lit(1)),
        sum(size(split(col("text"), " ")).cast("long"))).collect()(0)
      bm25.append(LakeWriter.writeDataFiles(
        P.bm25Keyed(lexPostings(d)), bm25, sortBy = Seq("thash"),
        maxRecordsPerFile = P.Bm25IndexRowsPerFile))
      bm25.setProperty(bm25StatsKey("build"),
        s"${st.getLong(0)}:${st.getLong(1)}")
      secsSince(tPhase0)
    }
    val tPhase1 = System.nanoTime()
    // semantic index: the d02_ann_indexed lifecycle — committed-batch
    // frozen models, corpus encode, increment encode
    val d1 = data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") < 400), data))
    // same §2.6 overlap as d02_ann_indexed: the increment's data append
    // needs only d1, so it rides a branch under the model/encode work
    val d2F = sc.overlap(data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") >= 400), data)))
    val committed = data.snapshotDF(s, d1)
    val (ivf, pq) = P.annSeedModels(committed)
    index.setProperty(P.AnnIvfProp, P.ivfModelToString(ivf))
    index.setProperty(P.AnnPqProp, P.pqModelToString(pq))
    index.append(LakeWriter.writeDataFiles(
      P.ivfPqEncode(s, committed, ivf, pq), index))
    val d2 = d2F.join()
    val i2 = index.append(LakeWriter.writeDataFiles(
      P.ivfPqEncode(s, data.changesBetween(s, d1, d2), ivf, pq), index))
    val tAnnBuild = secsSince(tPhase1)
    val tLexBuild = lexBuild.join()
    val tPhase2 = System.nanoTime()
    // both serves from FRESH loads of the committed tables
    val bT = LakeTable.load(locB)
    val (nd, sdl) = bm25FoldStats(bT.tableMeta.properties)
    val lex = P.bm25Serve(
      bT.toDF(s).filter(lexPredicate)
        .select("term", "doc_id", "tf", "dl"), nd, sdl, queries)
      .select(col("qid"), col("doc_id"), col("rn").as("rl"))
    val iT = LakeTable.load(locI)
    val ivf2 = P.ivfModelFromString(iT.tableMeta.properties(P.AnnIvfProp))
    val pq2 = P.pqModelFromString(iT.tableMeta.properties(P.AnnPqProp))
    val sem = P.ivfPqServe(s, iT.snapshotDF(s, i2), data.snapshotDF(s, d2),
        ivf2, pq2,
        probeFilter = col("vec_id").between(1, queries.length),
        topK = P.Bm25TopK)
      .select(col("qid").cast("int").as("qid"),
        col("oid").as("doc_id"), col("rn").as("rs"))
    val out = P.rrfFuse(lex, sem)
    // both arms serve their COMMITTED index tables: no corpus read and
    // no cross join anywhere in the fused plan
    Trace.note("plan", out.queryExecution.optimizedPlan.toString)
    Trace.note("bm25_location", locB)
    Trace.note("ann_location", locI)
    val res = localize(out)
    // the phase split makes the heavy tail's biggest entry's drift
    // attributable from the artifact
    Trace.span("lex_build_s", tLexBuild)
    Trace.span("ann_build_s", tAnnBuild)
    Trace.span("fused_serve_s", secsSince(tPhase2))
    res
  }

  /** Centroid model property on the semantic cell-index table (same
    * (id, vector) text codec as [[PipelineQueries.AnnIvfProp]] — Float
    * string round-trips are bit-exact by the Java language spec). */
  private[graft] val SemCentroidsProp = "graft.semdedup.centroids"

  // D1s — the SemDeDup cell space as a first-class TABLE citizen,
  // completing the committed-index family across all three similarity
  // regimes (ANN: d02_ann_indexed; fuzzy: d03_minhash_index; semantic:
  // this). d01_semdedup_incremental proves the per-arrival gate shape
  // but RE-ASSIGNS the committed corpus's cells per arrival
  // (assignCellsHier over the full committed snapshot) — fine
  // per-snapshot, wasteful per-arrival. Here the cell space is a
  // laketable: (1) corpus batch commits to the DATA table, (2) the
  // frozen centroids (first-K quantized vectors — the exact-twin
  // constants) commit INTO the index table's properties and the corpus's
  // (cell, vec_id, embedding) assignments commit as its rows,
  // cell-partitioned so a gate join prunes to touched cells, (3) a new
  // batch appends to data, (4) the GATE assigns ONLY the increment under
  // centroids parsed back from a FRESH load of the index (self-contained
  // — the d02_ann_indexed discipline) and cell-joins the COMMITTED index
  // scan for the cosine check — per-cell width ~N/K, the corpus is never
  // re-assigned, and the probe side is a table scan every arrival
  // shares, (5) maintenance appends ONLY the increment's assignments in
  // one more commit. At 100 TB the index adds one bigint cell key per
  // committed vector (the embeddings are stored once either way) —
  // cheap to maintain, and it converts every future arrival's gate from
  // corpus-wide assignment to an increment-sized one. Same planted
  // layout and verdict shape as d01_semdedup_incremental → the same
  // hash oracle.
  def d01_semdedup_index(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    graft.functions.CosineSimilarity.register(s)
    val P = graft.queries.PipelineQueries
    val q = t(s, dir, "embeddings").select(col("vec_id"), expr(
      s"""transform(embedding, x ->
         |  CAST(round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale}D) AS FLOAT))"""
        .stripMargin).as("embedding"))
    val data = sc.table("semidx-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    // cell-partitioned (width 8 over K=100 centroid ids): the gate's
    // cell-equality join and a targeted compaction both prune to the
    // touched buckets
    val index = sc.table("semidx-idx",
      "cell BIGINT,vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("cell", 8L))
    val locI = index.location
    val d1 = data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") < 400), data))
    val committed = data.snapshotDF(s, d1)
    // frozen centroids = the committed corpus's first K quantized
    // vectors (the d01_semdedup_incremental exact-twin constants); a
    // frozen index must not peek at future arrivals
    val cents = committed.orderBy("vec_id").limit(P.SemDeDupExactK)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    index.setProperty(SemCentroidsProp, P.ivfModelToString(cents))
    // corpus assignment build (immutable d1 snapshot -> index table)
    // overlaps the increment's data append (guide §2.6, the
    // d03_minhash_index shape)
    val i1F = sc.overlap(index.append(LakeWriter.writeDataFiles(
      P.assignCellsHier(committed, cents)
        .select(col("cell"), col("vec_id"), col("embedding")), index)))
    val d2 = data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") >= 400), data))
    val i1 = i1F.join()
    val inc = data.changesBetween(s, d1, d2)
    // the gate serves from a FRESH load of the committed index:
    // centroids parsed back from its properties, cells from its scan
    val idxT = LakeTable.load(locI)
    val cents2 = P.ivfModelFromString(idxT.tableMeta.properties(SemCentroidsProp))
    val aInc = P.assignCellsHier(inc, cents2)
    val comIdx = idxT.snapshotDF(s, i1)
      .select(col("cell"), col("vec_id").as("c_id"),
        col("embedding").as("ce"))
    val dups = aInc.join(comIdx, "cell")
      .filter(expr("cosine_sim(embedding, ce)") > 0.43)
      .select("vec_id").distinct()
    val out = aInc
      .join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .orderBy("vec_id")
    Trace.note("plan", out.queryExecution.optimizedPlan.toString)
    Trace.note("index_location", locI)
    val gated = localize(out)
    // maintenance: one commit of the increment's assignments — assign
    // and write work ∝ increment
    val i2 = index.append(LakeWriter.writeDataFiles(
      aInc.select(col("cell"), col("vec_id"), col("embedding")), index))
    Trace.count("maint_rows",
      index.addedFilesBetween(i1, i2).map(_.rowCount).sum)
    gated
  }

  // D2f — the ANN index as a first-class TABLE citizen: every other d02
  // entry retrains/encodes per query; a real 10⁹-vector serving path
  // commits the index once and maintains it incrementally. Two
  // laketables: the DATA table holds vectors; the INDEX table holds one
  // row per vector = IVF cell id + 4 PQ codes (ivfPqEncode — the
  // ~64×-smaller representation the ADC scan reads instead of floats).
  // Flow: (1) corpus batch commits to data, (2) frozen models derive
  // from the COMMITTED corpus only (untrained exact-twin constants:
  // every-17th seeds under vec_id<400 — a frozen index must not peek at
  // future arrivals), (3) the encoded corpus commits to the index, (4) a
  // new batch appends to data, (5) index maintenance encodes ONLY the
  // increment off the data table's incremental scan (changesBetween,
  // A25) into one more index commit, (6) top-5 serves from the COMMITTED
  // codes (ivfPqServe) — the same two machinery halves the per-query
  // d02_ann_ivfpq path composes, so the persisted index can never
  // diverge from it. Untrained models + sequential-fold arithmetic end
  // to end → the whole dataflow hash-oracles against the ivfPqExact
  // replay with the committed-batch seed predicate.
  def d02_ann_indexed(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val data = sc.table("annidx-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("annidx-idx", P.AnnIndexDdl, P.AnnIndexSpec)
    val tPhase0 = System.nanoTime()
    def secsSince(t: Long): Double = (System.nanoTime() - t) / 1e9
    val d1 = data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") < 400), data))
    // phase split: a drift of this entry on untouched code was once
    // unattributable to any phase
    Trace.span("data_commit_s", secsSince(tPhase0))
    val tPhase1 = System.nanoTime()
    // the increment's DATA append needs only d1 — overlap it with the
    // model derivation + corpus encode on a branch (guide §2.6);
    // snapshot reads of d1 are immutable, and only the branch appends
    // to the data table, so there is no commit contention
    val d2F = sc.overlap(data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") >= 400), data)))
    val committed = data.snapshotDF(s, d1)
    val (ivf, pq) = P.annSeedModels(committed)
    // the frozen models commit WITH the index (table properties, exact
    // text codec) — the index table is self-contained: serving below
    // uses ONLY what a fresh session could load from the two tables
    index.setProperty(P.AnnIvfProp, P.ivfModelToString(ivf))
    index.setProperty(P.AnnPqProp, P.pqModelToString(pq))
    Trace.span("models_s", secsSince(tPhase1))
    val tPhase2 = System.nanoTime()
    val i1 = index.append(LakeWriter.writeDataFiles(
      P.ivfPqEncode(s, committed, ivf, pq), index))
    Trace.span("encode_commit_s", secsSince(tPhase2))
    val tPhase3 = System.nanoTime()
    val d2 = d2F.join()
    val i2 = index.append(LakeWriter.writeDataFiles(
      P.ivfPqEncode(s, data.changesBetween(s, d1, d2), ivf, pq), index))
    // encode work ∝ the increment, never the corpus
    Trace.count("increment_rows",
      index.addedFilesBetween(i1, i2).map(_.rowCount).sum)
    Trace.span("increment_s", secsSince(tPhase3))
    val tPhase4 = System.nanoTime()
    // serve from a FRESH load: committed codes + models parsed back
    // from the table's own properties (bit-exact round-trip)
    val served = LakeTable.load(index.location)
    val ivf2 = P.ivfModelFromString(served.tableMeta.properties(P.AnnIvfProp))
    val pq2 = P.pqModelFromString(served.tableMeta.properties(P.AnnPqProp))
    val out = localize(P.ivfPqServe(s, served.snapshotDF(s, i2),
      data.snapshotDF(s, d2), ivf2, pq2))
    Trace.span("serve_s", secsSince(tPhase4))
    out
  }

  // D2g — the committed ANN index under TRAINED models: d02_ann_indexed
  // freezes untrained exact-twin constants so the whole dataflow can
  // hash-oracle; the PRODUCTION posture commits k-means-trained models
  // (2 distributed Lloyd rounds each for the IVF coarse quantizer and
  // the PQ codebooks — the d02_ann_ivfpq training path) into the index
  // table's properties and serves from them. Training sees ONLY the
  // committed corpus (a frozen index must not peek at future arrivals);
  // the increment encodes under the frozen models off changesBetween,
  // exactly like the untrained twin. Distributed float means make the
  // models run-order-sensitive in the last ulp → rows-only + recall
  // floor (the d02_ann_ivfpq convention); the codec round-trip and
  // serve-equality claims are spec'd through the model texts it traces.
  def d02_ann_indexed_trained(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val data = sc.table("annidxt-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("annidxt-idx", P.AnnIndexDdl, P.AnnIndexSpec)
    val d1 = data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") < 400), data))
    // overlap the increment's data append with the Lloyd training loops
    // (guide §2.6) — training reads only the immutable d1 snapshot
    val d2F = sc.overlap(data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") >= 400), data)))
    val committed = data.snapshotDF(s, d1)
    val ivf = P.trainIvfCentroids(committed)
    // every-23rd seeds (vs the full-corpus default 31): the committed
    // 400-vector corpus must still yield the 16 codewords per subspace
    // pqCode's argmin iterates over
    val pq = P.trainPqCodebooks(committed, seedMod = 23)
    val ivfText = P.ivfModelToString(ivf)
    val pqText = P.pqModelToString(pq)
    index.setProperty(P.AnnIvfProp, ivfText)
    index.setProperty(P.AnnPqProp, pqText)
    // the spec re-serves the direct path under these exact models
    Trace.note("ivf_model", ivfText)
    Trace.note("pq_model", pqText)
    index.append(LakeWriter.writeDataFiles(
      P.ivfPqEncode(s, committed, ivf, pq), index))
    val d2 = d2F.join()
    val i2 = index.append(LakeWriter.writeDataFiles(
      P.ivfPqEncode(s, data.changesBetween(s, d1, d2), ivf, pq), index))
    // serve from a FRESH load: committed codes + models parsed back
    // from the table's own properties — self-contained, no retraining
    val served = LakeTable.load(index.location)
    val ivf2 = P.ivfModelFromString(served.tableMeta.properties(P.AnnIvfProp))
    val pq2 = P.pqModelFromString(served.tableMeta.properties(P.AnnPqProp))
    localize(P.ivfPqServe(s, served.snapshotDF(s, i2),
      data.snapshotDF(s, d2), ivf2, pq2))
  }

  /** `CALL rebuild_index` — the committed-ANN-index retraining procedure
    * (round-10 verdict item 4): centroids/codebooks freeze at corpus
    * time, so after heavy drifted appends the frozen models place new
    * vectors badly and recall decays with no way back — incremental
    * maintenance can only ever encode under the models it has. This is
    * the rewrite-op discipline applied to the model itself: retrain on
    * the CURRENT corpus, re-encode every vector, and swap codes + models
    * in ONE rewrite commit ([[LakeTable.overwriteWithProps]]) — readers
    * see the old self-consistent index or the new one, never a mix, and
    * the old index stays time-travelable until expiry.
    *
    * `trained = true` is the production path (2 Lloyd rounds, the
    * d02_ann_indexed_trained convention → run-order-sensitive in the
    * last ulp); `trained = false` freezes deterministic seed models
    * (iters = 0, every-`seedMod`-th vector) so the whole procedure can
    * hash-oracle. Cost shape: retraining is the bounded-collect Lloyd
    * loop, re-encode is one map over the corpus, the swap is one commit
    * — at 10⁸ vectors this is a scheduled maintenance job, vs the
    * per-arrival incremental encode whose work is ∝ increment (the
    * rebuild-vs-incremental bench key prices exactly that trade).
    */
  def rebuildAnnIndex(s: SparkSession, data: LakeTable, index: LakeTable,
      trained: Boolean, seedMod: Int = 29): Long = {
    val P = graft.queries.PipelineQueries
    val corpus = data.refresh().toDF(s).select(col("vec_id"), col("embedding"))
    val ivf =
      if (trained) P.trainIvfCentroids(corpus)
      else corpus.filter(pmod(col("vec_id"), lit(seedMod)) === 0)
        .orderBy("vec_id").limit(16)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    // seedMod serves both paths: the PQ seed sample must still yield 16
    // codewords on the caller's corpus (the d02_ann_indexed_trained
    // every-23rd lesson — small corpora starve the default stride)
    val pq =
      if (trained) P.trainPqCodebooks(corpus, seedMod = seedMod)
      else P.trainPqCodebooks(corpus, iters = 0, seedMod = seedMod)
    index.refresh().overwriteWithProps(
      LakeWriter.writeDataFiles(P.ivfPqEncode(s, corpus, ivf, pq), index),
      Map(P.AnnIvfProp -> P.ivfModelToString(ivf),
        P.AnnPqProp -> P.pqModelToString(pq),
        // the swap retires the maintenance debt the trigger counts
        AnnIncrementsProp -> "0"))
  }

  /** Maintenance-debt odometer on the ANN index table: incremental
    * maintenances since the models were last (re)trained. Advanced
    * atomically with each maintenance append by [[maintainAnnIndex]],
    * reset to 0 by the [[rebuildAnnIndex]] swap commit, read by the
    * [[maybeRebuildAnnIndex]] trigger. */
  private[graft] val AnnIncrementsProp = "graft.ann.increments"

  /** One incremental ANN-index maintenance: encode `inc` under the
    * COMMITTED models (parsed from the index's own properties — the
    * self-contained discipline) and land codes + the advanced debt
    * odometer in ONE commit. The odometer's read-increment-write assumes
    * one maintainer per index, like every incremental encode; a second
    * concurrent maintainer could only UNDER-count debt (a policy
    * odometer, not mass — the rebuild fires a little later and the
    * recall-floor leg backstops), unlike the BM25 stats where the same
    * race lost corpus mass and forced sharding. */
  def maintainAnnIndex(s: SparkSession, index: LakeTable,
      inc: DataFrame): Long = {
    val P = graft.queries.PipelineQueries
    val idx = index.refresh()
    val ivf = P.ivfModelFromString(idx.tableMeta.properties(P.AnnIvfProp))
    val pq = P.pqModelFromString(idx.tableMeta.properties(P.AnnPqProp))
    val debt = idx.tableMeta.properties
      .getOrElse(AnnIncrementsProp, "0").toLong
    idx.append(
      LakeWriter.writeDataFiles(P.ivfPqEncode(s, inc, ivf, pq), idx),
      Map(AnnIncrementsProp -> (debt + 1L).toString))
  }

  /** Measured recall@5 of the committed index serve against the exact
    * cosine truth over the fixed 20-probe set: the serve is the committed
    * ivfPqServe path, the truth side is one bounded corpus pass
    * (broadcast probes — the big side never shuffles), both collects are
    * 100 rows. This is the cost of a policy CHECK, paid only when the
    * caller arms the recall trigger. */
  def measureAnnRecall(s: SparkSession, data: LakeTable,
      index: LakeTable): Double = {
    graft.functions.CosineSimilarity.register(s)
    val P = graft.queries.PipelineQueries
    val served = index.refresh()
    val ivf = P.ivfModelFromString(served.tableMeta.properties(P.AnnIvfProp))
    val pq = P.pqModelFromString(served.tableMeta.properties(P.AnnPqProp))
    val vectors = data.refresh().toDF(s)
      .select(col("vec_id"), col("embedding"))
    val got = P.ivfPqServe(s, served.toDF(s), vectors, ivf, pq)
      .select("qid", "oid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probes = vectors.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))
    val truth = vectors
      .select(col("vec_id").as("oid"), col("embedding").as("oe"))
      .crossJoin(broadcast(probes))
      .filter(col("qid") =!= col("oid"))
      .withColumn("cos", expr("cosine_sim(qe, oe)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("qid", "oid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (truth.isEmpty) 1.0
    else truth.intersect(got).size.toDouble / truth.size
  }

  /** Rebuild AUTO-TRIGGER (r11 verdict item 8) — the b67 threshold-
    * compaction discipline applied to the MODEL: maintenance commits
    * accumulate on the index like delete debt, and the policy fires
    * [[rebuildAnnIndex]] when (a) the debt odometer reaches
    * `maxIncrements`, or (b) the measured recall@5 breaches the armed
    * floor (the check costs one bounded corpus pass — arm it on a
    * cadence, not per arrival). Returns whether a rebuild fired; the
    * swap commit resets the odometer. Cadence economics: one rebuild ≈
    * 14 incremental maintenances at ×10 (BENCH_probes ann_rebuild), so
    * maxIncrements in the tens keeps the amortized rebuild tax under
    * ~10% of the maintenance budget while bounding model staleness.
    */
  def maybeRebuildAnnIndex(s: SparkSession, data: LakeTable,
      index: LakeTable, maxIncrements: Int,
      recallFloor: Option[Double] = None, trained: Boolean = false,
      seedMod: Int = 29): Boolean = {
    val idx = index.refresh()
    val debt = idx.tableMeta.properties
      .getOrElse(AnnIncrementsProp, "0").toLong
    val due = debt >= maxIncrements ||
      recallFloor.exists(f => measureAnnRecall(s, data, index) < f)
    if (due) rebuildAnnIndex(s, data, index, trained, seedMod)
    due
  }

  // D2h — REBUILD the committed ANN index (exact twin, hash-green): the
  // d02_ann_indexed lifecycle — corpus commit, models frozen (every-17th
  // seed), increment encoded under the FROZEN models — then the
  // [[rebuildAnnIndex]] procedure retrains (every-29th seeds over the
  // NOW-FULL corpus), re-encodes, and swaps in one commit; serving from
  // a fresh load uses only the post-rebuild table. The oracle replays
  // just the END STATE (encode + serve under the every-29th models) —
  // the rebuild's contract is precisely that history doesn't matter:
  // a post-rebuild index is indistinguishable from one built fresh on
  // the current corpus. The TRAINED path's drift-recovery claim
  // (recall decays under a drifted increment, recovers post-rebuild)
  // is spec'd in LakeIndexSpec, rows-only by the d02 convention.
  def d02_ann_index_rebuild(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val P = graft.queries.PipelineQueries
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val data = sc.table("annrbd-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("annrbd-idx", P.AnnIndexDdl, P.AnnIndexSpec)
    val d1 = data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") < 400), data))
    val committed = data.snapshotDF(s, d1)
    val (ivf, pq) = P.annSeedModels(committed)
    index.setProperty(P.AnnIvfProp, P.ivfModelToString(ivf))
    index.setProperty(P.AnnPqProp, P.pqModelToString(pq))
    index.append(LakeWriter.writeDataFiles(
      P.ivfPqEncode(s, committed, ivf, pq), index))
    // the drift phase: the whole remaining corpus arrives and is
    // encoded under the STALE frozen models — exactly what incremental
    // maintenance does, and exactly the debt the rebuild retires
    val d2 = data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") >= 400), data))
    index.append(LakeWriter.writeDataFiles(
      P.ivfPqEncode(s, data.changesBetween(s, d1, d2), ivf, pq), index))
    // the procedure under test: retrain on the full corpus, re-encode,
    // one-commit swap
    val swapId = rebuildAnnIndex(s, data, index, trained = false)
    // serve from a FRESH load of the swapped index — codes and models
    // both come from the post-rebuild commit
    val served = LakeTable.load(index.location)
    val ivf2 = P.ivfModelFromString(served.tableMeta.properties(P.AnnIvfProp))
    val pq2 = P.pqModelFromString(served.tableMeta.properties(P.AnnPqProp))
    localize(P.ivfPqServe(s, served.snapshotDF(s, swapId),
      data.snapshotDF(s, d2), ivf2, pq2))
  }

  // B47 — `$history` lineage audit: CREATE + two appends on main, one
  // UNPUBLISHED WAP stage commit forked off the head. The history table
  // answers "which commits are visible to main readers?" from metadata:
  // the stage row is the only non-ancestor. Hash-oracled: snapshot ids
  // are sequential and every (id, parent, ancestor?, op) tuple is
  // declared by the sequence below (made_current_at is wall-clock, so
  // the driver query projects it out).
  def b47_history(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("h")
    val name = tbl.stripPrefix(s"$cat.ns.")
    s.sql(
      s"""CREATE TABLE $tbl (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(0)}L FROM range(0, 100)")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(1)}L FROM range(0, 50)")
    val warehouse = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val table = LakeTable.load(s"$warehouse/ns/$name")
    table.stageAppend(LakeWriter.writeDataFiles(
      s.range(0, 25).select(col("id").as("message_id"),
        lit(bucket(2)).as("timeperiod_loadedBy")), table), "audit")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(3)}L FROM range(0, 10)")
    localize(s.sql(
      s"""SELECT snapshot_id, parent_id, is_current_ancestor, operation
         |FROM $cat.ns.`$name$$history` ORDER BY snapshot_id""".stripMargin))
  }

  // B59 — `$snapshots` commit-log audit: one row per retained snapshot
  // with parent lineage, operation, and manifest count — what an operator
  // debugging commit cadence or manifest-merge behavior queries first.
  // Hash-oracled (the b36/b47 reconstructed-constant pattern): snapshot
  // ids are sequential, each clustered INSERT lands exactly one manifest,
  // manifests accumulate until the merge threshold (not reached here), and
  // committed_at_ms is wall-clock so the query projects it out.
  def b59_snapshots_meta(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("sn")
    val name = tbl.stripPrefix(s"$cat.ns.")
    s.sql(
      s"""CREATE TABLE $tbl (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(0)}L FROM range(0, 100)")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(1)}L FROM range(0, 50)")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(2)}L FROM range(0, 25)")
    localize(s.sql(
      s"""SELECT snapshot_id, parent_id, operation, manifest_count
         |FROM $cat.ns.`$name$$snapshots` ORDER BY snapshot_id""".stripMargin))
  }

  // B60 — `$manifests` merge-health audit before AND after
  // rewrite_manifests: phase 1 shows one single-file manifest per commit
  // (the commit-heavy shape approaching the merge threshold); phase 2
  // shows the rewrite binned them into ONE manifest carrying all files.
  // Manifest names and byte sizes are nondeterministic, so the query
  // projects the deterministic (file_count, row_count) shape per phase.
  def b60_manifests_meta(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("mf")
    val name = tbl.stripPrefix(s"$cat.ns.")
    s.sql(
      s"""CREATE TABLE $tbl (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(0)}L FROM range(0, 100)")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(1)}L FROM range(0, 50)")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(2)}L FROM range(0, 25)")
    val before = s.sql(
      s"""SELECT 1 AS phase, file_count, row_count
         |FROM $cat.ns.`$name$$manifests`""".stripMargin)
      .collect().toSeq
    val warehouse = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    LakeTable.load(s"$warehouse/ns/$name").rewriteManifests()
    val after = s.sql(
      s"""SELECT 2 AS phase, file_count, row_count
         |FROM $cat.ns.`$name$$manifests`""".stripMargin)
      .collect().toSeq
    import s.implicits._
    localize(
      (before ++ after).map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toDF("phase", "file_count", "row_count")
        .orderBy("phase", "row_count"))
  }

  // B61 — `$files` inventory audit (the per-file grain under b36's
  // $partitions rollup): with clustered DSv2 writes each INSERT lands
  // exactly one file per touched bucket, so (partition_value, row_count,
  // format, spec_id) is fully declared; paths and byte sizes are
  // per-run, so the query projects the deterministic shape.
  def b61_files_meta(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("fl")
    val name = tbl.stripPrefix(s"$cat.ns.")
    s.sql(
      s"""CREATE TABLE $tbl (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    // one INSERT spanning two buckets (one file each) + one single-bucket
    s.sql(s"INSERT INTO $tbl SELECT id, " +
      s"CASE WHEN id < 60 THEN ${bucket(0)}L ELSE ${bucket(1)}L END " +
      "FROM range(0, 100)")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(1)}L FROM range(0, 25)")
    localize(s.sql(
      s"""SELECT partition_value, row_count, format, spec_id
         |FROM $cat.ns.`$name$$files`
         |ORDER BY partition_value, row_count""".stripMargin))
  }

  // B62 — `$refs` audit: a retention-pinning TAG and an unpublished WAP
  // BRANCH, both landing with declared names and snapshot ids (commits
  // are sequential: create=0, append=1, append=2, tag=3 — createTag mints
  // a lightweight snapshot to preserve the metadata-version==snapshot-id
  // CAS invariant — stage=4) — the view an operator uses to answer "what
  // is pinned, and what is staged?".
  def b62_refs_meta(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("rf")
    val name = tbl.stripPrefix(s"$cat.ns.")
    s.sql(
      s"""CREATE TABLE $tbl (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(0)}L FROM range(0, 100)")
    s.sql(s"INSERT INTO $tbl SELECT id, ${bucket(1)}L FROM range(0, 50)")
    val warehouse = s.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val table = LakeTable.load(s"$warehouse/ns/$name")
    table.createTag("audit-2024", 1L)
    table.stageAppend(LakeWriter.writeDataFiles(
      s.range(0, 25).select(col("id").as("message_id"),
        lit(bucket(2)).as("timeperiod_loadedBy")), table), "wap-etl")
    localize(s.sql(
      s"""SELECT name, type, snapshot_id
         |FROM $cat.ns.`$name$$refs` ORDER BY name""".stripMargin))
  }

  // B63 — `$deletes` merge-on-read debt audit: a MoR DELETE leaves
  // position-delete files whose (kind, row_count, eq_columns,
  // referenced_files) are declared by the delete predicate and the
  // clustered layout (paths/bytes/seq are per-run). The view that sets
  // the compaction cadence: how many masked rows is every reader paying?
  def b63_deletes_meta(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("dl")
    val name = tbl.stripPrefix(s"$cat.ns.")
    s.sql(
      s"""CREATE TABLE $tbl (message_id BIGINT, timeperiod_loadedBy BIGINT)
         |PARTITIONED BY (truncate($Width, timeperiod_loadedBy))
         |TBLPROPERTIES ('${LakeFormat.PropDeleteMode}'=
         |  '${LakeFormat.DeleteModeMergeOnRead}')""".stripMargin)
    // two buckets, one file each; the predicate masks 10 rows in each
    s.sql(s"INSERT INTO $tbl SELECT id, " +
      s"CASE WHEN id < 50 THEN ${bucket(0)}L ELSE ${bucket(1)}L END " +
      "FROM range(0, 100)")
    s.sql(s"DELETE FROM $tbl WHERE message_id % 5 = 0")
    localize(s.sql(
      s"""SELECT kind, row_count, eq_columns, referenced_files
         |FROM $cat.ns.`$name$$deletes` ORDER BY row_count""".stripMargin))
  }

  // B64 — snapshot ROLLBACK as an end-to-end read state: batch 1 lands,
  // batch 2 lands, the table rolls back to batch 1 (ONE new "rollback"
  // snapshot — history preserved, concurrent appends conflict-and-retry
  // instead of being dropped), then batch 3 lands ON TOP of the restored
  // state. The current read must show batch 1 + batch 3 and none of the
  // rolled-past batch 2 — any batch-2 row leaking through manifests the
  // hash catches. The rolled-past snapshot stays time-travelable until
  // expiry (asserted here via its count; unit-level coverage in
  // LakeTableSpec), and rollback is not an "append" snapshot, so an
  // incremental reader crossing it never re-delivers. Fully
  // reconstructable over `orders` → hash-oracled.
  def b64_rollback(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val table = sc.table("rollback",
      "o_orderkey BIGINT,o_totalprice DOUBLE,o_orderstatus STRING",
      TruncateSpec("o_orderkey", 400L))
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val s1 = table.append(LakeWriter.writeDataFiles(
      orders.filter(col("o_orderkey") < 300), table))
    val s2 = table.append(LakeWriter.writeDataFiles(
      orders.filter(col("o_orderkey") >= 300 && col("o_orderkey") < 600), table))
    val preRollbackRows = table.snapshotDF(s, s2).count()
    table.rollbackTo(s1)
    table.append(LakeWriter.writeDataFiles(
      orders.filter(col("o_orderkey") >= 600 && col("o_orderkey") < 900), table))
    // the rolled-past head stays readable by snapshot id (pre-expiry)
    require(table.snapshotDF(s, s2).count() == preRollbackRows,
      "rolled-past snapshot must stay time-travelable until expiry")
    localize(table.toDF(s)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey"))
  }

  // B66 — position-delete COMPACTION (`CALL rewrite_position_deletes`,
  // the Iceberg maintenance op): three MoR DELETE commits fragment the
  // table's delete inventory into ≥3 pos-delete files (one parquet open
  // per affected scan each); the rewrite unions them into ONE range-
  // binned file in a metadata-only commit. The entry asserts the
  // $deletes collapse engine-side (≥3 → 1) and hashes the post-rewrite
  // read — any position lost or invented by the rewrite resurrects or
  // swallows a row the oracle's replay of the three predicates catches.
  def b66_rewrite_deletes(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("rd")
    val name = tbl.stripPrefix(s"$cat.ns.")
    val src = sc.view("graft_orders_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))
         |TBLPROPERTIES ('${LakeFormat.PropDeleteMode}'='${LakeFormat.DeleteModeMergeOnRead}')""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 2000")
    s.sql(s"DELETE FROM $tbl WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0")
    s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 11 = 3")
    s.sql(s"DELETE FROM $tbl WHERE o_totalprice < 50000 AND o_orderkey % 5 = 1")
    def posFiles(): Long = s.sql(
      s"SELECT count(*) FROM $cat.ns.`$name$$deletes` WHERE kind = 'pos'")
      .head().getLong(0)
    val before = posFiles()
    require(before >= 3, s"expected >=3 fragmented pos-delete files, got $before")
    s.sql(s"CALL $cat.system.rewrite_position_deletes(`table` => 'ns.$name')")
    val after = posFiles()
    require(after == 1, s"rewrite must collapse pos-delete files to 1, got $after")
    localize(s.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  // B67 — delete-mark-THRESHOLD compaction (the Iceberg
  // DELETE_FILE_THRESHOLD shape): a MoR DELETE leaves every touched file
  // carrying pending marks; `compact(delete_file_threshold => N)` selects
  // files by MARK COUNT (size cutoff 0 disqualifies everything by size),
  // rewrites them with the masks applied, and prunes the spent delete
  // entries — the read-amplification payback a streaming-upsert table
  // runs on its hot files. The entry asserts the debt materialized
  // engine-side ($deletes empties) and hashes the post-compact read: a
  // mark lost in the rewrite resurrects a row, one over-applied swallows.
  def b67_compact_threshold(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = dmlCatalog(s)
    val tbl = sc.catalogTable("ct")
    val name = tbl.stripPrefix(s"$cat.ns.")
    val src = sc.view("graft_orders_src_")
    t(s, dir, "orders").createOrReplaceTempView(src)
    s.sql(
      s"""CREATE TABLE $tbl (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)
         |PARTITIONED BY (truncate(400, o_orderkey))
         |TBLPROPERTIES ('${LakeFormat.PropDeleteMode}'='${LakeFormat.DeleteModeMergeOnRead}')""".stripMargin)
    s.sql(s"INSERT INTO $tbl SELECT o_orderkey, o_totalprice, o_orderstatus " +
      s"FROM $src WHERE o_orderkey < 2000")
    s.sql(s"DELETE FROM $tbl WHERE o_orderkey % 3 = 0")
    def posMarks(): Long = s.sql(
      s"SELECT coalesce(sum(row_count), 0) FROM $cat.ns.`$name$$deletes` " +
        "WHERE kind = 'pos'").head().getLong(0)
    require(posMarks() > 0, "expected pending delete marks before compaction")
    s.sql(s"CALL $cat.system.compact(`table` => 'ns.$name', " +
      "small_file_bytes => 0, delete_file_threshold => 50)")
    require(posMarks() == 0,
      "threshold compaction must materialize every bucket's delete debt")
    localize(s.sql(
      s"SELECT o_orderkey, o_totalprice, o_orderstatus FROM $tbl ORDER BY o_orderkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b64_rollback" -> b64_rollback _,
    "b66_rewrite_deletes" -> b66_rewrite_deletes _,
    "b67_compact_threshold" -> b67_compact_threshold _,
    "b59_snapshots_meta" -> b59_snapshots_meta _,
    "b60_manifests_meta" -> b60_manifests_meta _,
    "b61_files_meta" -> b61_files_meta _,
    "b62_refs_meta" -> b62_refs_meta _,
    "b63_deletes_meta" -> b63_deletes_meta _,
    "b36_partitions_meta" -> b36_partitions_meta _,
    "b43_partition_evolution" -> b43_partition_evolution _,
    "b47_history" -> b47_history _,
    "d01_dedup_incremental" -> d01_dedup_incremental _,
    "d01_semdedup_incremental" -> d01_semdedup_incremental _,
    "d01_minhash_incremental" -> d01_minhash_incremental _,
    "d04_seqpack_incremental" -> d04_seqpack_incremental _,
    "d03_minhash_index" -> d03_minhash_index _,
    "d02_bm25_index" -> d02_bm25_index _,
    "d02_bm25_zipf" -> d02_bm25_zipf _,
    "d02_hybrid_indexed" -> d02_hybrid_indexed _,
    "d02_hybrid_zipf" -> d02_hybrid_zipf _,
    "d01_substring_index" -> d01_substring_index _,
    "d02_phrase_index" -> d02_phrase_index _,
    "d02_phrase_zipf" -> d02_phrase_zipf _,
    "d01_semdedup_index" -> d01_semdedup_index _,
    "d02_ann_indexed" -> d02_ann_indexed _,
    "d02_ann_index_rebuild" -> d02_ann_index_rebuild _,
    "d02_ann_indexed_trained" -> d02_ann_indexed_trained _,
    "b02_snapshot_scan" -> b02_snapshot_scan _,
    "b03_incremental_scan" -> b03_incremental_scan _,
    "b03b_incremental_options" -> b03b_incremental_options _,
    "b04_parquet_roundtrip" -> b04_parquet_roundtrip _,
    "b05b_orc_roundtrip" -> b05b_orc_roundtrip _,
    "b04b_lake_sink" -> b04b_lake_sink _,
    "b05_avro_roundtrip" -> b05_avro_roundtrip _,
    "b06_json_csv" -> b06_json_csv _,
    "b34_merge_upsert" -> b34_merge_upsert _,
    "b34b_merge_full" -> b34b_merge_full _,
    "b35_update" -> b35_update _,
    "b44_insert_overwrite" -> b44_insert_overwrite _,
    "b45_dynamic_overwrite" -> b45_dynamic_overwrite _,
    "b46_ctas" -> b46_ctas _,
    "b37_spj_join" -> b37_spj_join _,
    "b38_mor_delete" -> b38_mor_delete _,
    "b39_mor_merge" -> b39_mor_merge _,
    "b40_changelog" -> b40_changelog _,
    "b41_wap" -> b41_wap _,
    "b42_schema_evolution" -> b42_schema_evolution _,
    "b57_type_widening" -> b57_type_widening _,
    "b58_decimal_widening" -> b58_decimal_widening _,
  )

  /** The increment-vs-committed semantic-gate replay (DuckDB): shared
    * verbatim by d01_semdedup_incremental (re-assign-per-arrival) and
    * d01_semdedup_index (committed cell-index table) — the two entries
    * gate against the same committed cell space, so one replay oracles
    * both. */
  private[graft] val semdedupIncrementalOracleSql: String =
    s"WITH ${graft.queries.PipelineQueries.SemDedupHierAssignCteSql},\n" +
      s"""inc AS (SELECT vec_id, v, cell FROM fassign WHERE vec_id >= 400),
        |com AS (SELECT vec_id, v, cell FROM fassign WHERE vec_id < 400),
        |dups AS (
        |  SELECT DISTINCT i.vec_id FROM inc i JOIN com c ON c.cell = i.cell
        |  WHERE ${graft.queries.PipelineQueries.sdxCosSql("i.v", "c.v")} > 0.43)
        |SELECT i.vec_id, i.cell, (d.vec_id IS NOT NULL) AS is_dup
        |FROM inc i LEFT JOIN dups d ON d.vec_id = i.vec_id
        |ORDER BY i.vec_id""".stripMargin

  /** The increment-vs-committed fuzzy-gate replay (DuckDB): shared
    * verbatim by d01_minhash_incremental (recompute-per-arrival) and
    * d03_minhash_index (committed band-index table) — the two entries
    * gate against the same committed band space, so one replay oracles
    * both. */
  private[graft] val minhashIncrementalOracleSql: String =
      """WITH src AS (
        |  SELECT doc_id, text, 0 AS side FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 1 FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' zq zr zs', 1 FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id >= 40 AND doc_id < 80),
        |tk AS (
        |  SELECT doc_id, side, text, string_split(text, ' ') AS t FROM src),
        |sh AS (
        |  SELECT doc_id, side,
        |    CASE WHEN len(t) < 3 THEN
        |      [CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT)]
        |    ELSE list_transform(range(1, len(t) - 1), i ->
        |      CAST(concat('0x', substring(md5(
        |        t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
        |        t[CAST(i AS INT) + 2]), 1, 15)) AS BIGINT))
        |    END AS shash
        |  FROM tk),
        |lanes AS (
        |  SELECT doc_id, side, bb.b AS lane,
        |    MIN(CAST(concat('0x', substring(md5(
        |      CAST(h AS VARCHAR) || '_' || CAST(bb.b AS VARCHAR)), 1, 15))
        |      AS BIGINT)) AS mh
        |  FROM (SELECT doc_id, side, unnest(shash) AS h FROM sh),
        |       (SELECT unnest(range(0, 8)) AS b) bb
        |  GROUP BY doc_id, side, bb.b),
        |sig AS (SELECT doc_id, side, list(mh ORDER BY lane) AS sig
        |        FROM lanes GROUP BY doc_id, side),
        |bands AS (
        |  SELECT doc_id, side, bb.b AS band,
        |    sig[CAST(bb.b * 2 + 1 AS INT)] AS h0,
        |    sig[CAST(bb.b * 2 + 2 AS INT)] AS h1
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b) bb),
        |com AS (SELECT DISTINCT band, h0, h1 FROM bands WHERE side = 0),
        |dup AS (
        |  SELECT DISTINCT i.doc_id FROM bands i
        |  JOIN com c ON c.band = i.band AND c.h0 = i.h0 AND c.h1 = i.h1
        |  WHERE i.side = 1)
        |SELECT i.doc_id, (d.doc_id IS NOT NULL) AS is_fuzzy_dup
        |FROM (SELECT DISTINCT doc_id FROM src WHERE side = 1) i
        |LEFT JOIN dup d ON d.doc_id = i.doc_id
        |ORDER BY i.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // current read after rollback = batch 1 + batch 3; any rolled-past
    // batch-2 row (300 <= k < 600) leaking through poisons the hash
    "b64_rollback" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey < 300 OR (o_orderkey >= 600 AND o_orderkey < 900)
        |ORDER BY o_orderkey""".stripMargin,
    // survivors of the three scripted MoR DELETEs, replayed as negated
    // predicates — a position lost in the rewrite resurrects a row, a
    // position invented (or mis-binned) swallows one; either flips rows
    "b66_rewrite_deletes" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey < 2000
        |  AND NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
        |  AND NOT (o_orderkey % 11 = 3)
        |  AND NOT (o_totalprice < 50000 AND o_orderkey % 5 = 1)
        |ORDER BY o_orderkey""".stripMargin,
    // post-compaction read = the DELETE's survivors; compaction must be
    // content-neutral, so any mark lost/over-applied in the threshold
    // rewrite flips rows against this replay
    "b67_compact_threshold" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey < 2000 AND NOT (o_orderkey % 3 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    // b02/b03/b04b run on scratch LakeTables whose content is fully
    // declared in the query (sequential snapshot ids, seeded batches), so
    // their oracles reconstruct the expected outputs from the same
    // declaration. bucket(i) = (5666666 + i) * 300000000.
    "b02_snapshot_scan" ->
      """SELECT CAST(id AS BIGINT) AS snapshot_id, CAST(cnt AS BIGINT) AS cnt
        |FROM (VALUES (1, 100), (2, 150), (3, 175)) AS v(id, cnt)
        |ORDER BY snapshot_id""".stripMargin,
    "b03_incremental_scan" ->
      """SELECT CAST(f AS BIGINT) AS from_id, CAST(t AS BIGINT) AS to_id,
        |  CAST(a AS BIGINT) AS added
        |FROM (VALUES (1, 2, 50), (2, 3, 25)) AS v(f, t, a)
        |ORDER BY from_id""".stripMargin,
    // identical declared counts: the options surface must agree with the
    // changesBetween API walk
    "b03b_incremental_options" ->
      """SELECT CAST(f AS BIGINT) AS from_id, CAST(t AS BIGINT) AS to_id,
        |  CAST(a AS BIGINT) AS added
        |FROM (VALUES (1, 2, 50), (2, 3, 25)) AS v(f, t, a)
        |ORDER BY from_id""".stripMargin,
    "b04b_lake_sink" ->
      """SELECT CAST(5666666 AS BIGINT) * 300000000 AS bucket,
        |  COUNT(*) AS cnt, CAST(SUM(range) AS BIGINT) AS sum_id,
        |  CAST(COUNT(*) * 1600 AS BIGINT) AS body_bytes FROM range(0, 100)
        |UNION ALL
        |SELECT CAST(5666667 AS BIGINT) * 300000000,
        |  COUNT(*), CAST(SUM(range) AS BIGINT),
        |  CAST(COUNT(*) * 1600 AS BIGINT) FROM range(0, 50)
        |ORDER BY bucket""".stripMargin,
    "b04_parquet_roundtrip" ->
      "SELECT COUNT(*) AS cnt, MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok FROM lineitem",
    // DuckDB cannot read ORC; the roundtrip is identity, so the oracle is
    // the same per-flag aggregate over the source table — a lossy ORC
    // encode/decode on any column class (int key, char flag, decimal
    // measures) diverges the hash
    "b05b_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
        | MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
        | CAST(CAST(round(SUM(l_quantity), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sum_qty,
        | CAST(CAST(round(SUM(l_extendedprice), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "b05_avro_roundtrip" ->
      """SELECT COUNT(*) AS cnt, CAST(SUM(user_id) AS BIGINT) AS sum_uid,
        | COUNT(DISTINCT event_type) AS n_types FROM events""".stripMargin,
    "b06_json_csv" ->
      """SELECT COUNT(*) AS json_cnt, CAST(SUM(user_id) AS BIGINT) AS json_sum,
        | COUNT(*) AS csv_cnt, CAST(SUM(user_id) AS BIGINT) AS csv_sum FROM events""".stripMargin,
    // the merged table reconstructed in pure SQL: source price = the same
    // row's price, so matched keys [400, 800) double, inserts are [800, 1200)
    "b34_merge_upsert" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey >= 400 AND o_orderkey < 800
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders WHERE o_orderkey < 1200 ORDER BY o_orderkey""".stripMargin,
    "d01_dedup_incremental" ->
      """WITH i AS (
        |  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 10000, sha256(text) FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 20000, sha256(text) FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id < 41),
        |k AS (
        |  SELECT doc_id, h, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |  FROM i)
        |SELECT doc_id, h FROM k
        |WHERE rn = 1 AND h NOT IN (
        |  SELECT sha256(text) FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,
    // increment (vec_id >= 400) vs committed (< 400) through the SHARED
    // two-level assignment replay (SemDedupHierAssignCteSql — same block
    // as d01_semdedup_exact, since the fixed centroids are identical):
    // a new vector is a dup iff a same-cell committed vector clears 0.43
    "d01_semdedup_incremental" -> semdedupIncrementalOracleSql,
    // the committed-index variant gates against the SAME committed cell
    // space (persisted as a table instead of re-assigned), so its verdict
    // set — and therefore its oracle — is identical by construction
    "d01_semdedup_index" -> semdedupIncrementalOracleSql,
    // increment (odds + planted re-keys) vs committed (evens) through the
    // d03_minhash_exact signature recipe with a side marker: an increment
    // doc is a fuzzy dup iff any of its 4 band keys exists on side 0
    "d01_minhash_incremental" -> minhashIncrementalOracleSql,
    // full-stream replay ordered corpus-first (evens, then odds — the
    // arrival order), emitting the increment's rows only: reproduces the
    // engine's base-offset arithmetic exactly
    "d04_seqpack_incremental" -> graft.queries.PipelineQueries
      .seqPackOracleSql("(doc_id % 2), doc_id", "doc_id % 2 = 1"),
    // the committed-index variant gates against the SAME committed band
    // space (persisted as a table instead of recomputed), so its verdict
    // set — and therefore its oracle — is identical by construction
    "d03_minhash_index" -> minhashIncrementalOracleSql,
    // the committed-index serve ends at full-corpus BM25 → same oracle
    "d02_bm25_index" -> graft.queries.PipelineQueries.bm25OracleSql,
    // the Zipf-vocabulary serve replays the integer-octave expansion
    "d02_bm25_zipf" -> graft.queries.PipelineQueries.bm25ZipfOracleSql,
    "d02_hybrid_indexed" ->
      graft.queries.PipelineQueries.hybridIndexedOracleSql,
    // the zipf-lexical fusion replays the expansion + the IVF+PQ chain
    "d02_hybrid_zipf" ->
      graft.queries.PipelineQueries.hybridZipfOracleSql,
    // the committed positional serve ends at full-corpus phrase results
    "d02_phrase_index" -> graft.queries.PipelineQueries.phraseMatchOracleSql,
    // the zipf phrase serve replays the ×16 replication + expansion +
    // positional adjacency
    "d02_phrase_zipf" ->
      graft.queries.PipelineQueries.phraseZipfOracleSql,
    // increment-vs-committed substring gate: corpus = evens' distinct
    // 60-bit shingle hashes, increment = odds; a span is duplicated if
    // its shingle hits the corpus OR repeats within the increment
    "d01_substring_index" -> {
      val L = graft.queries.PipelineQueries.SubstrShingle
      s"""WITH d AS (
         |  SELECT doc_id, text, doc_id % 2 AS side FROM documents
         |  WHERE len(text) >= $L),
         |sh AS (
         |  SELECT doc_id, side, CAST(p AS BIGINT) AS p,
         |    CAST(concat('0x', substring(md5(substr(text, p + 1, $L)), 1, 15))
         |      AS BIGINT) AS shash
         |  FROM d, unnest(range(0, CAST(len(text) - ${L - 1} AS BIGINT))) AS u(p)),
         |corpus AS (SELECT DISTINCT shash FROM sh WHERE side = 0),
         |incsh AS (SELECT doc_id, p, shash FROM sh WHERE side = 1),
         |selfdup AS (
         |  SELECT shash FROM incsh GROUP BY shash HAVING COUNT(*) >= 2),
         |dupkeys AS (
         |  SELECT shash FROM corpus UNION SELECT shash FROM selfdup),
         |hits AS (
         |  SELECT doc_id, p AS st, p + $L AS en
         |  FROM incsh JOIN dupkeys USING (shash)),
         |isl AS (
         |  SELECT doc_id, st, en,
         |    CASE WHEN st > COALESCE(MAX(en) OVER (PARTITION BY doc_id
         |      ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      -1) THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |isl2 AS (
         |  SELECT doc_id, st, en, SUM(brk) OVER (PARTITION BY doc_id
         |    ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS island
         |  FROM isl)
         |SELECT doc_id, MIN(st) AS span_start, MAX(en) AS span_end
         |FROM isl2 GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin
    },
    // the ivfPqExact replay with the frozen models' seed predicate (first
    // 16 every-17th vectors of the COMMITTED batch); the lake round-trip
    // is value-transparent, so serve-from-committed-codes replays as the
    // full computation over the same vectors
    "d02_ann_indexed" -> graft.queries.PipelineQueries
      .ivfPqExactOracleSql("vec_id % 17 = 0 AND vec_id < 400"),
    // the rebuild's contract IS this oracle: post-swap, the index is
    // indistinguishable from one built fresh on the current corpus under
    // the retrained (every-29th-seed) models — history replay unneeded
    "d02_ann_index_rebuild" -> graft.queries.PipelineQueries
      .ivfPqExactOracleSql("vec_id % 29 = 0"),
    "b34b_merge_full" ->
      """SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey >= 400 AND o_orderkey < 800
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey >= 800 AND o_orderkey < 1200
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'STALE' AS o_orderstatus
        |FROM orders WHERE o_orderkey < 400 AND o_totalprice > 150000
        |ORDER BY o_orderkey""".stripMargin,
    // sequential snapshot ids; one manifest per clustered INSERT,
    // accumulating (merge threshold not reached)
    "b59_snapshots_meta" ->
      """SELECT CAST(sid AS BIGINT) AS snapshot_id,
        |  CAST(pid AS BIGINT) AS parent_id, op AS operation,
        |  CAST(mc AS INT) AS manifest_count
        |FROM (VALUES (0, -1, 'create', 0), (1, 0, 'append', 1),
        |  (2, 1, 'append', 2), (3, 2, 'append', 3)) AS v(sid, pid, op, mc)
        |ORDER BY snapshot_id""".stripMargin,
    // per-file grain: clustered writes land one file per touched bucket,
    // so (partition_value, row_count) is declared by the INSERTs
    "b61_files_meta" ->
      """SELECT CAST(pv AS BIGINT) AS partition_value,
        |  CAST(rc AS BIGINT) AS row_count, fmt AS format,
        |  CAST(sid AS INT) AS spec_id
        |FROM (VALUES (CAST(5666666 AS BIGINT) * 300000000, 60, 'parquet', 0),
        |  (CAST(5666667 AS BIGINT) * 300000000, 25, 'parquet', 0),
        |  (CAST(5666667 AS BIGINT) * 300000000, 40, 'parquet', 0))
        |  AS v(pv, rc, fmt, sid)
        |ORDER BY partition_value, row_count""".stripMargin,
    // create=0, append=1, append=2, tag=3 (createTag mints a snapshot to
    // keep the metadata-version==snapshot-id CAS invariant), stage=4
    "b62_refs_meta" ->
      """SELECT name, type, CAST(sid AS BIGINT) AS snapshot_id
        |FROM (VALUES ('audit-2024', 'tag', 1),
        |  ('wap-etl', 'branch', 4)) AS v(name, type, sid)
        |ORDER BY name""".stripMargin,
    // one position-delete file per touched data file; the predicate masks
    // 10 rows in each of the two buckets; eq_columns empty for pos deletes
    "b63_deletes_meta" ->
      """SELECT kind, CAST(rc AS BIGINT) AS row_count, eq_columns,
        |  CAST(rf AS INT) AS referenced_files
        |FROM (VALUES ('pos', 10, '', 1), ('pos', 10, '', 1))
        |  AS v(kind, rc, eq_columns, rf)
        |ORDER BY row_count""".stripMargin,
    // phase 1: one single-file manifest per commit; phase 2:
    // rewrite_manifests binned all three files into ONE manifest
    "b60_manifests_meta" ->
      """SELECT CAST(ph AS INT) AS phase, CAST(fc AS BIGINT) AS file_count,
        |  CAST(rc AS BIGINT) AS row_count
        |FROM (VALUES (1, 1, 25), (1, 1, 50), (1, 1, 100),
        |  (2, 3, 175)) AS v(ph, fc, rc)
        |ORDER BY phase, row_count""".stripMargin,
    "b47_history" ->
      """SELECT CAST(sid AS BIGINT) AS snapshot_id,
        |  CAST(pid AS BIGINT) AS parent_id, anc AS is_current_ancestor,
        |  op AS operation
        |FROM (VALUES (0, -1, TRUE, 'create'), (1, 0, TRUE, 'append'),
        |  (2, 1, TRUE, 'append'), (3, 2, FALSE, 'stage'),
        |  (4, 2, TRUE, 'append')) AS v(sid, pid, anc, op)
        |ORDER BY snapshot_id""".stripMargin,
    "b35_update" ->
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING'
        |       THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "b38_mor_delete" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_orderkey < 2000
        |  AND NOT (o_orderstatus = 'F' AND o_orderkey % 5 < 2)
        |ORDER BY o_orderkey""".stripMargin,
    // same upsert as b34 — the oracle is mode-independent; only the write
    // mechanics (position deletes vs rewrite) differ
    "b39_mor_merge" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey >= 400 AND o_orderkey < 800
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders WHERE o_orderkey < 1200 ORDER BY o_orderkey""".stripMargin,
    "b40_changelog" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
        |  'delete' AS _change_type
        |FROM orders WHERE o_orderkey < 300
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus,
        |  'insert' AS _change_type
        |FROM orders WHERE o_orderkey >= 1500 AND o_orderkey < 2000
        |ORDER BY _change_type, o_orderkey""".stripMargin,
    // phases: main during audit = keys<500; the audit (branch read) sees
    // <1000; after publish main sees <1000
    "b41_wap" ->
      """SELECT phase, cnt FROM (
        |  SELECT 'main_during_audit' AS phase,
        |    (SELECT COUNT(*) FROM orders WHERE o_orderkey < 500) AS cnt
        |  UNION ALL SELECT 'audit_sees',
        |    (SELECT COUNT(*) FROM orders WHERE o_orderkey < 1000)
        |  UNION ALL SELECT 'after_publish',
        |    (SELECT COUNT(*) FROM orders WHERE o_orderkey < 1000))
        |ORDER BY phase""".stripMargin,
    // rename is value-preserving (price = o_totalprice); the drop+re-add
    // nulls o_orderstatus for every row inserted BEFORE the re-add
    // (keys < 1000), while batch 3 keeps its values
    "b42_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice AS price,
        |  CASE WHEN o_orderkey < 1000 THEN CAST(NULL AS VARCHAR)
        |       ELSE o_orderstatus END AS o_orderstatus
        |FROM orders WHERE o_orderkey < 1500 ORDER BY o_orderkey""".stripMargin,
    // widening is value-preserving: o_orderkey/32 is exact in FLOAT below
    // 2^19 (power-of-two divisor), so the float-written narrow vintage
    // widens to the same double the wide vintage stored directly
    "b57_type_widening" ->
      """SELECT o_orderkey, CAST(o_orderkey % 1000 AS BIGINT) AS k,
        |  CAST(CAST(round(CAST(o_orderkey AS DOUBLE) / 32, 4)
        |    AS DECIMAL(28,4)) AS DOUBLE) AS v
        |FROM orders
        |WHERE o_orderkey < 1000 AND o_orderkey % 1000 >= 100
        |ORDER BY o_orderkey""".stripMargin,
    // both vintages' decimals are exact in binary too (quarter steps /
    // integral × 100000), so the DOUBLE projection replays as plain math;
    // the price filter drops narrow keys < 200 and keeps every wide row
    "b58_decimal_widening" ->
      """SELECT o_orderkey, o_orderkey / 4.0 AS price
        |FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 500
        |UNION ALL
        |SELECT o_orderkey, o_orderkey * 100000.0
        |FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,
    // rows under the overwrite filter carry the recomputed price; the rest
    // keep the seeded values
    "b44_insert_overwrite" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey < 500 THEN o_totalprice + 1000.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin,
    // the touched bucket [400,800) is swapped for the recomputed slice;
    // untouched buckets keep the seeded rows
    "b45_dynamic_overwrite" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey >= 400 AND o_orderkey < 800
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders WHERE o_orderkey < 1200 ORDER BY o_orderkey""".stripMargin,
    // RTAS fully replaces the CTAS content: the final table is just the
    // second query's result
    "b46_ctas" ->
      """SELECT o_orderkey, o_totalprice * 0.5 AS half_price, o_orderstatus
        |FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 1400
        |ORDER BY o_orderkey""".stripMargin,
    // the width change is metadata-only, so the final content is simply
    // both inserted batches filtered to the probe range
    "b43_partition_evolution" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 1200
        |ORDER BY o_orderkey""".stripMargin,
    // the scratch layout is fully declared by the query (clustered DSv2
    // write → one file per INSERT per bucket); the oracle reconstructs the
    // rollup from that declaration. bucket(i) = (5666666 + i) * Width.
    "b36_partitions_meta" ->
      """SELECT CAST(pv AS BIGINT) AS partition_value,
        |  CAST(fc AS BIGINT) AS file_count, CAST(rc AS BIGINT) AS row_count
        |FROM (VALUES
        |  (CAST(5666666 AS BIGINT) * 300000000, 4, 4 * 100),
        |  (CAST(5666667 AS BIGINT) * 300000000, 1, 50)) AS v(pv, fc, rc)
        |ORDER BY partition_value""".stripMargin,
    "b37_spj_join" ->
      """SELECT a.user_id AS user_id, COUNT(*) AS pairs,
        |  CAST(SUM(a.event_id + b.event_id) AS BIGINT) AS id_sum
        |FROM (SELECT event_id, user_id FROM events WHERE event_id % 2 = 0) a
        |JOIN (SELECT event_id, user_id FROM events WHERE event_id % 2 = 1) b
        |  ON a.user_id = b.user_id
        |GROUP BY a.user_id ORDER BY user_id""".stripMargin,
  )
}
