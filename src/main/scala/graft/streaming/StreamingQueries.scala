package graft.streaming

import java.util.UUID

import graft.Tables.{t, us}
import graft.Trace
import graft.queries.Scratch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** SURVEY.md §2 Part C (C10–C16) — Structured Streaming surface.
  *
  * Each query replays the driver `events` table through a file-source
  * stream (deterministic: fixed input, AvailableNow trigger, memory sink)
  * and must equal the equivalent batch query — which is exactly what the
  * DuckDB oracle computes. This is the batch-equivalence test strategy of
  * SURVEY §5.4, wired straight into the correctness gate.
  */
object StreamingQueries {

  /** Materialize a completed stream's (small) result to the driver and
    * re-wrap as a local DataFrame — the replay/checkpoint scratch dirs and
    * the memory sink's view are dropped before returning, and cache()
    * would pin executor blocks for the session lifetime.
    */
  private def localize(out: DataFrame): DataFrame =
    out.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.collect(): _*), out.schema)

  /** Write `input` as parquet replay input into a scope dir; returns it. */
  private def replayDir(sc: Scratch.Scope, input: DataFrame,
      nFiles: Int): String = {
    val tmp = sc.dir("replay")
    input.repartition(nFiles).write.parquet(tmp)
    tmp
  }

  /** Run a streaming transform of the replayed events to completion and
    * return the memory-sink contents.
    */
  private def runStream(s: SparkSession, dir: String, mode: OutputMode,
      nFiles: Int = 4, input: Option[DataFrame] = None)(
      transform: DataFrame => DataFrame): DataFrame = Scratch.scoped(s) { sc =>
    val src = input.getOrElse(t(s, dir, "events"))
    val in = replayDir(sc, src, nFiles)
    val name = sc.view("m")
    val stream = s.readStream
      .schema(src.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(in)
    val q = transform(stream).writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", sc.dir("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    localize(s.table(name))
  }

  // C10 — tumbling-window aggregate (5-minute windows, epoch-aligned like
  // the reference's truncate transform).
  def c10_stream_tumbling(s: SparkSession, dir: String): DataFrame =
    runStream(s, dir, OutputMode.Complete()) { ev =>
      ev.groupBy(window(col("ts"), "5 minutes")).agg(count(lit(1)).as("n"))
    }.select(us(col("window.start")).as("w_us"), col("n"))
      .orderBy("w_us")

  // C11 — sliding-window aggregate (10-minute window, 5-minute slide).
  def c11_stream_sliding(s: SparkSession, dir: String): DataFrame =
    runStream(s, dir, OutputMode.Complete()) { ev =>
      ev.groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"))
    }.select(us(col("window.start")).as("w_us"), col("n"))
      .orderBy("w_us")

  // C12 — session windows (30-minute gap) per user.
  def c12_stream_session(s: SparkSession, dir: String): DataFrame =
    runStream(s, dir, OutputMode.Complete()) { ev =>
      ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
    }.select(col("user_id"), us(col("session_window.start")).as("session_start_us"),
        col("n"))
      .orderBy("user_id", "session_start_us")

  // C15 — stream-static join: enrich the event stream with the nation dim.
  def c15_stream_static_join(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation")
    runStream(s, dir, OutputMode.Complete()) { ev =>
      ev.join(nation, pmod(col("user_id"), lit(25)) === col("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n"))
    }.orderBy("n_name")
  }

  // C16 — arbitrary stateful op: running per-user counter via
  // flatMapGroupsWithState; emits final counts (single-pass replay).
  def c16_stream_stateful(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // single input file → one micro-batch → one emission per key
    runStream(s, dir, OutputMode.Append(), nFiles = 1) { ev =>
      ev.selectExpr("user_id").as[Long]
        .groupByKey(identity)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (uid: Long, rows: Iterator[Long], state: GroupState[Long]) =>
            val total = state.getOption.getOrElse(0L) + rows.size
            state.update(total)
            Iterator.single((uid, total))
        }.toDF("user_id", "n")
    }.orderBy("user_id")
  }

  // C13 — watermark late-data drop. Event-order-dependent semantics that
  // no batch SQL over the input tables can express, so the replay is a
  // fixed synthetic sequence (same scenario as StreamingSpec "C13"):
  // batch 0 advances the watermark to 12:00−10min; the 11:30 event arriving
  // two batches later is beyond it → dropped; 11:55 is within delay → kept.
  // Deterministic rows-only entry; exact kept/dropped set is asserted in
  // StreamingSpec.scala.
  def c13_watermark_latedrop(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val in = sc.dir("c13")
    new java.io.File(in).mkdirs()
    def ev(id: Long, ts: String) =
      s"""{"event_id":$id,"ts":"$ts"}"""
    val batches = Seq(
      Seq(ev(1, "2024-01-01 11:40:00"), ev(2, "2024-01-01 12:00:00")),
      Seq(ev(4, "2024-01-01 11:55:00")),
      Seq(ev(3, "2024-01-01 11:30:00")), // late beyond watermark → dropped
      Seq(ev(5, "2024-01-01 13:00:00")),
      Seq(ev(6, "2024-01-01 14:00:00"))) // flushes closed windows
    batches.zipWithIndex.foreach { case (rows, i) =>
      val f = new java.io.File(in, f"b$i%03d.json")
      java.nio.file.Files.write(f.toPath, rows.mkString("\n").getBytes)
      f.setLastModified(1700000000000L + i * 60000) // deterministic batch order
    }
    val name = sc.view("m")
    val stream = s.readStream
      .schema("event_id BIGINT, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .json(in)
    val q = stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes")).agg(count(lit(1)).as("n"))
      .writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append())
      .option("checkpointLocation", sc.dir("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    localize(s.table(name)
      .select(us(col("window.start")).as("w_us"), col("n"))
      .orderBy("w_us"))
  }

  // C14 — stateful dedup across micro-batches: the events table replayed
  // TWICE (every row is a cross-batch duplicate); dropDuplicates keeps the
  // first arrival per event_id, so the completed stream equals batch
  // DISTINCT — which is exactly what the DuckDB oracle computes. (No
  // watermark: the replay is finite and unordered, and state expiry would
  // make kept-vs-dropped arrival-order-dependent; production bounds state
  // with withWatermark + dropDuplicatesWithinWatermark.)
  def c14_stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    runStream(s, dir, OutputMode.Append(), nFiles = 4,
      input = Some(ev.union(ev))) { in =>
      in.dropDuplicates("event_id").select(col("event_id"))
    }.orderBy("event_id")
  }

  // C22 — bounded-state streaming dedup (the production variant the C14
  // comment names): withWatermark + dropDuplicatesWithinWatermark keeps
  // per-key state only until the watermark passes the key's event time —
  // the 100 TB posture, where C14's unbounded key set would grow forever.
  // The watermark delay is COMPUTED from the replay's actual event-time
  // span (+1 day slack) rather than hard-coded, so regenerated or
  // larger-SF testdata with a wider span cannot silently reintroduce
  // duplicates past expired state: every duplicate lands within-watermark
  // and the completed stream equals batch DISTINCT — exactly what the
  // DuckDB oracle computes (state expiry semantics beyond the span are
  // C13's territory). The span agg is a bounded min/max scan of the
  // finite replay input — a setup-time cost, not a per-row one.
  def c22_stream_dedup_watermark(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val delay = s"${spanDays(ev)} days"
    runStream(s, dir, OutputMode.Append(), nFiles = 4,
      input = Some(ev.union(ev))) { in =>
      in.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"))
    }.orderBy("event_id")
  }

  // D7 — the training-data pipeline running CONTINUOUSLY: the d06 quality
  // gate (stateless column ops, unchanged from the batch plan) followed by
  // bounded-state exact dedup (withWatermark + dropDuplicatesWithinWatermark,
  // the c22 production shape) over an ARRIVING corpus — documents replayed
  // twice across micro-batches so every row is a cross-batch duplicate the
  // state store must catch. Event time is synthesized deterministically
  // from doc_id (1 s apart from a fixed base) since documents carry no
  // timestamp; the watermark delay is computed from that span like
  // c18/c22, so regenerated or larger-SF testdata cannot expire state
  // mid-replay. Completed stream = batch gate + DISTINCT — exactly what
  // the DuckDB oracle computes.
  //
  // 100 TB posture: the gate fuses into the scan stage of each
  // micro-batch (no shuffle); the only state is the dedup store, keyed on
  // doc_id and bounded by the watermark — the per-key state Spark expires
  // as event time advances, not an ever-growing set.
  def d07_stream_pipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("ts",
      timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
    val delay = s"${spanDays(docs)} days"
    runStream(s, dir, OutputMode.Append(), nFiles = 4,
      input = Some(docs.union(docs))) { in =>
      graft.queries.PipelineQueries.gateDf(in)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("doc_id")
        .select(col("doc_id"), col("lang"), col("n_tok"))
    }.orderBy("doc_id")
  }

  // D7f — the continuous pipeline's NEAR-dup stage: gate → 60-bit md5
  // SimHash signature (the d03_simhash derivation, shared verbatim via
  // PipelineQueries.simhashSig — stateless, fuses into each micro-batch's
  // scan) → bounded-state dedup KEYED ON THE SIGNATURE
  // (dropDuplicatesWithinWatermark): documents whose distinct token sets
  // collide — exact copies, reorderings, repetition-only edits — collapse
  // to one survivor per signature even when the copies arrive in
  // DIFFERENT micro-batches, with per-key state the watermark expires.
  // This is the fuzzy stage the batch pipeline runs as connected
  // components (d06_pipeline_fuzzy); the streaming form trades the
  // cross-signature (hamming 1-3) edges for bounded state — at 100 TB the
  // state store holds one entry per live signature, not a pair graph.
  //
  // Output = the distinct gated signature set (which doc of a colliding
  // group survives is arrival-order-dependent, but the SET of signatures
  // is not — so the completed stream equals batch gate+signature+DISTINCT,
  // exactly what the DuckDB oracle computes; the kept-doc semantics are
  // covered by the StreamingSpec scenario with controlled batch placement).
  def d07_stream_fuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("ts",
      timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
    val delay = s"${spanDays(docs)} days"
    runStream(s, dir, OutputMode.Append(), nFiles = 4,
      input = Some(docs.union(docs))) { in =>
      graft.queries.PipelineQueries.gateDf(in)
        .withColumn("sig", graft.queries.PipelineQueries.simhashSig)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("sig")
        .select(col("sig"))
    }.orderBy("sig")
  }

  // D7b — the streaming pipeline LANDING IN THE TABLE FORMAT: the d07
  // dataflow (gate + bounded-state dedup over the twice-replayed
  // documents stream) writes its survivors through the NATIVE laketable
  // streaming sink — one epoch-fenced fast-append commit per micro-batch
  // — and the result is read back through the DSv2 scan. This composes
  // the reference's ingest/commit protocol (Part A) with the pipeline
  // operators (Part D) in one continuous dataflow: arriving documents →
  // quality gate → watermarked exact dedup → versioned table. Append-mode
  // dedup emits each surviving doc exactly once, so the table's end state
  // equals batch gate+DISTINCT — the same DuckDB oracle as d07.
  def d07_pipeline_lake(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val loc = sc.table("d07b", "doc_id BIGINT,lang STRING,n_tok BIGINT",
      graft.lake.TruncateSpec("doc_id", 100L)).location
    val docs = t(s, dir, "documents").withColumn("ts",
      timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
    val delay = s"${spanDays(docs)} days"
    val src = docs.union(docs)
    val in = replayDir(sc, src, 4)
    val q = graft.queries.PipelineQueries.gateDf(
        s.readStream.schema(src.schema)
          .option("maxFilesPerTrigger", "2").parquet(in))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("lang"), col("n_tok"))
      .writeStream.format("laketable")
      .option("checkpointLocation", sc.dir("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start(loc)
    q.awaitTermination()
    localize(s.read.format("laketable").load(loc)
      .select("doc_id", "lang", "n_tok").orderBy("doc_id"))
  }

  /** Whole-days watermark delay covering `ev`'s full `ts` span, +1 day
    * slack — the delay that makes a finite unordered replay deterministic
    * (no event can arrive later than the span; nothing expires early). */
  private def spanDays(ev: DataFrame): Long = {
    val r = ev.agg(unix_micros(min(col("ts"))).as("lo"),
      unix_micros(max(col("ts"))).as("hi")).head()
    val spanUs = r.getLong(1) - r.getLong(0)
    spanUs / 86400000000L + 2
  }

  // C18 — stream-stream inner join: clicks joined to the same user's views
  // within 6 hours, both sides watermarked (the delay is computed from
  // the replay's actual event-time span like c22's, so the finite replay
  // stays deterministic and equals the batch join — which is exactly what
  // the DuckDB oracle computes — even if regenerated testdata widens the
  // span). The state-store shape is the production one: user-keyed state
  // on both sides, bounded by the watermark + the time-range condition.
  def c18_stream_stream_join(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val delay = s"${spanDays(t(s, dir, "events"))} days"
    val in = replayDir(sc, t(s, dir, "events"), 4)
    val name = sc.view("m")
    def src = s.readStream
      .schema(t(s, dir, "events").schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(in)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
      .withWatermark("cts", delay)
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("vts"))
      .withWatermark("vts", delay)
    val q = clicks.join(views,
        col("user_id") === col("v_user") &&
          col("vts") >= col("cts") &&
          col("vts") <= col("cts") + expr("INTERVAL 6 HOURS"))
      .select(col("click_id"), col("view_id"))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", sc.dir("ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    localize(s.table(name).orderBy("click_id", "view_id"))
  }

  // C17 — moniker-stream ingest: the reference's core loop (writers publish
  // file-list monikers; a bookkeeper folds them into table commits,
  // FileBasedBookkeeper.java:152-180) as a Structured Streaming pipeline —
  // the pending-commits dir is the stream source and foreachBatch appends
  // into the LakeTable, idempotent under at-least-once redelivery (A14
  // path-dedupe in append). Scratch-table + generated data → rows-only;
  // exact counts asserted in StreamingSpec "C17".
  def c17_moniker_ingest(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val Width = 300000000L
    val table = sc.table("c17", LakeWriter.EventSchemaDdl, LakeWriter.EventSpec)
    val loc = table.location
    val published = (0 until 3).map { i =>
      val files = LakeWriter.writeDataFiles(
        LakeWriter.generateBatch(s, 100 + i, (5666666L + i) * Width, seed = i), table)
      Monikers.publish(loc, files)
      files
    }
    Monikers.publish(loc, published.head) // duplicate moniker (at-least-once)
    val pending = s"$loc/${LakeFormat.PendingCommitsDir}"
    val stream = s.readStream
      .schema("files ARRAY<STRUCT<path: STRING, sizeBytes: BIGINT, rowCount: BIGINT, partitionValue: BIGINT, format: STRING>>")
      .option("maxFilesPerTrigger", "2")
      .option("multiLine", "true") // monikers are pretty-printed JSON
      .json(pending)
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", sc.dir("ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // driver-side collect is metadata-bounded: ≤500 file entries per
        // moniker (queue-commit cap), never data rows
        val files = batch.selectExpr("explode(files) AS f").select("f.*")
          .collect().map { r =>
            DataFileMeta(r.getAs[String]("path"), r.getAs[Long]("sizeBytes"),
              r.getAs[Long]("rowCount"), r.getAs[Long]("partitionValue"),
              r.getAs[String]("format"))
          }
        if (files.nonEmpty) table.append(files.toSeq)
        ()
      }
      .start()
    q.awaitTermination()
    table.refresh()
    // deterministic summary: per-partition-bucket row counts (dupe deduped)
    localize(table.toDF(s).groupBy(col("timeperiod_loadedBy"))
      .agg(count(lit(1)).as("n"), countDistinct(col("message_id")).as("n_ids"))
      .orderBy("timeperiod_loadedBy"))
  }

  // C19 — streaming upsert (the CDC-apply shape): each micro-batch MERGEs
  // into a laketable keyed by user_id, keeping the LATEST event per user
  // plus a running event count. Within-batch keep-last precedes the MERGE
  // (MERGE requires unique source keys); the newer-than guard on the first
  // MATCHED clause makes the final state the global argmax per key
  // REGARDLESS of micro-batch arrival order, and the count clause fires
  // either way — so the completed stream equals the batch keep-last +
  // count, which is exactly what the DuckDB oracle computes. (This replay
  // path is at-least-once; the DSv2 append sink's epoch fencing is the
  // exactly-once variant — MERGE-per-batch trades that for upsert power.)
  def c19_stream_upsert(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val cat = graft.queries.LakeQueries.dmlCatalog(s)
    val name = s"s${UUID.randomUUID().toString.replace("-", "")}"
    val tbl = s"$cat.ns.$name"
    s.sql(
      s"""CREATE TABLE $tbl (user_id BIGINT, last_event_id BIGINT,
         |  last_ts_us BIGINT, n_events BIGINT)
         |PARTITIONED BY (truncate(1000, user_id))""".stripMargin)
    val in = replayDir(sc, t(s, dir, "events"), 4)
    val view = sc.view("c19_src_")
    val q = s.readStream
      .schema(t(s, dir, "events").schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(in)
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", sc.dir("ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy("user_id")
          .agg(count(lit(1)).as("cnt"),
            max(struct(us(col("ts")).as("tsu"), col("event_id").as("eid"))).as("m"))
          .select(col("user_id"), col("cnt"),
            col("m.tsu").as("tsu"), col("m.eid").as("eid"))
          .createOrReplaceTempView(view)
        batch.sparkSession.sql(
          s"""MERGE INTO $tbl t USING $view s ON t.user_id = s.user_id
             |WHEN MATCHED AND (s.tsu > t.last_ts_us
             |    OR (s.tsu = t.last_ts_us AND s.eid > t.last_event_id))
             |  THEN UPDATE SET last_event_id = s.eid, last_ts_us = s.tsu,
             |    n_events = t.n_events + s.cnt
             |WHEN MATCHED THEN UPDATE SET n_events = t.n_events + s.cnt
             |WHEN NOT MATCHED THEN INSERT (user_id, last_event_id, last_ts_us, n_events)
             |  VALUES (s.user_id, s.eid, s.tsu, s.cnt)""".stripMargin)
        ()
      }
      .start()
    q.awaitTermination()
    val out = localize(s.sql(
      s"SELECT user_id, last_event_id, last_ts_us, n_events FROM $tbl ORDER BY user_id"))
    s.sql(s"DROP TABLE $tbl")
    out
  }

  // C21 — transformWithState (Spark 4's arbitrary-state operator, the
  // successor to flatMapGroupsWithState): per-user ValueState carrying
  // (count, running max) across micro-batches on the RocksDB state store.
  // Each batch emits the key's RUNNING totals; both are monotone, so the
  // max-per-key over all emissions equals the batch aggregate — which is
  // exactly the DuckDB oracle. State stays executor-local (RocksDB),
  // keyed shuffle only on user_id: the 100 TB posture for billions of
  // keys is per-key state ops, never a global collection.
  def c21_stream_tws(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoder, Encoders}
    import s.implicits._
    graft.SessionConf.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val out = runStream(s, dir, OutputMode.Append(), nFiles = 4) { ev =>
        ev.selectExpr("user_id", "value").as[(Long, Double)]
          .groupByKey(_._1)
          .transformWithState(
            new StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
              @transient private var cnt: ValueState[Long] = _
              @transient private var mx: ValueState[Double] = _
              override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
                cnt = getHandle.getValueState[Long]("cnt",
                  Encoders.scalaLong, TTLConfig.NONE)
                mx = getHandle.getValueState[Double]("mx",
                  Encoders.scalaDouble, TTLConfig.NONE)
              }
              override def handleInputRows(key: Long,
                  rows: Iterator[(Long, Double)],
                  timers: TimerValues): Iterator[(Long, Long, Double)] = {
                var c = if (cnt.exists()) cnt.get() else 0L
                var m = if (mx.exists()) mx.get() else Double.MinValue
                rows.foreach { case (_, v) => c += 1; if (v > m) m = v }
                cnt.update(c)
                mx.update(m)
                Iterator.single((key, c, m))
              }
            },
            TimeMode.None(), OutputMode.Append(),
            implicitly[Encoder[(Long, Long, Double)]])
          .toDF("user_id", "n", "vmax")
      }
      localize(out.groupBy("user_id")
        .agg(max("n").as("n"), max("vmax").as("vmax"))
        .orderBy("user_id"))
    }
  }

  // C20 — NATIVE streaming CDC upsert: the laketable sink's
  // `upsertKeys` mode. Each micro-batch appends its rows plus an
  // equality-delete on their keys in ONE epoch-fenced commit — new
  // versions land and every older version of the key retires atomically,
  // with NO read-modify-write (contrast c19's foreachBatch MERGE, which
  // rewrites matched groups per batch). Two sequential replays with
  // overlapping key ranges; keys are unique within each replay, so the
  // final table is keep-last per key regardless of micro-batch splits —
  // pure-SQL reconstructable → hash-oracled.
  def c20_stream_eq_upsert(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    val loc = upsertReplays(s, dir, sc, "c20").location
    localize(s.read.format("laketable").load(loc)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey"))
  }

  /** The c20 CDC upsert: two replays of `orders` with overlapping key
    * ranges drained through the laketable sink's `upsertKeys` mode into
    * a scope table; returns the table. */
  private def upsertReplays(s: SparkSession, dir: String, sc: Scratch.Scope,
      prefix: String): graft.lake.LakeTable = {
    val table = sc.table(prefix,
      "o_orderkey BIGINT,o_totalprice DOUBLE,o_orderstatus STRING",
      graft.lake.TruncateSpec("o_orderkey", 400L))
    def drain(src: DataFrame): Unit = {
      val q = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(replayDir(sc, src, 2))
        .writeStream.format("laketable")
        .option("checkpointLocation", sc.dir("ckpt"))
        .option("upsertKeys", "o_orderkey")
        .trigger(Trigger.AvailableNow())
        .start(table.location)
      q.awaitTermination()
    }
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    drain(orders.filter(col("o_orderkey") < 1000))
    drain(orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1500)
      .withColumn("o_totalprice", col("o_totalprice") * 3)
      .withColumn("o_orderstatus", lit("U")))
    table
  }

  // B68 — EQUALITY-delete debt retirement (`CALL convert_equality_deletes`,
  // round-9 verdict item 7): the c20 streaming CDC upsert leaves one
  // eq-delete file per micro-batch — sequence-addressed key sets every
  // scan of an older file must probe, and a standing block on key-column
  // schema evolution. The conversion scans the pinned snapshot with
  // delete application OFF, finds the positions the pending keys retire
  // (file seq < delete seq — the read path's exact rule), commits them
  // as range-binned pos-delete parquets and DROPS every eq entry in one
  // snapshot. The entry asserts the debt shape engine-side ($deletes: eq
  // entries before, none after, pos marks materialized) and hashes the
  // post-convert read — a key over- or under-converted would swallow or
  // resurrect a row version and break the keep-last oracle (same SQL as
  // c20: conversion must be invisible to readers).
  def b68_convert_eq_deletes(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val table = upsertReplays(s, dir, sc, "b68")
    def byKind(kind: String): Seq[DeleteFileMeta] =
      table.refresh().deleteFilesMeta().filter(_.kind == kind)
    require(byKind(DeleteFileMeta.KindEq).nonEmpty,
      "upsert replays must leave pending equality-delete files")
    val snap = table.convertEqualityDeletes(s)
    require(snap > 0, "conversion must commit a snapshot")
    require(byKind(DeleteFileMeta.KindEq).isEmpty,
      "conversion must retire every equality-delete entry")
    require(byKind(DeleteFileMeta.KindPos).map(_.rowCount).sum > 0,
      "conversion must materialize position marks for the retired keys")
    // idempotence: nothing left to convert
    require(table.convertEqualityDeletes(s) == -1L,
      "second conversion must be a no-op")
    localize(s.read.format("laketable").load(table.location)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey"))
  }

  // D7c — the ANN index maintained CONTINUOUSLY: a streaming job reads
  // the DATA table's own incremental scan (the laketable source, A25),
  // encodes each arriving micro-batch under the frozen models
  // (ivfPqEncode — pure expressions, so the transform rides the stream),
  // and lands the codes in the INDEX table through the epoch-fenced
  // laketable sink. Two runs of the same checkpointed query: the first
  // indexes the committed corpus; a batch then appends to the data
  // table and the restarted query encodes ONLY the new snapshot's files
  // (exactly-once from the source checkpoint — a replayed or
  // re-encoded corpus would double vec_ids in the append-only index and
  // fail the hash). This is d02_ann_indexed's maintenance path run as
  // the production streaming job instead of a manual changesBetween
  // call. Oracle: the untrained-model assign+encode replay over the
  // full corpus (annIndexOracleSql).
  def d07_ann_index_stream(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val ckpt = sc.dir("ckpt")
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val data = sc.table("d07ann-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val locI = sc.table("d07ann-idx", P.AnnIndexDdl, P.AnnIndexSpec).location
    val locD = data.location
    val d1 = data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") < 400), data))
    val committed = data.snapshotDF(s, d1)
    val (ivf, pq) = P.annSeedModels(committed)
    def runMaintenance(): Unit = {
      val q = P.ivfPqEncode(s,
          s.readStream.format("laketable")
            .option("startSnapshotId", "0").load(locD), ivf, pq)
        .writeStream.format("laketable")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(locI)
      q.awaitTermination()
    }
    runMaintenance() // index the committed corpus
    data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") >= 400), data))
    runMaintenance() // restart: only the new snapshot's files flow
    localize(s.read.format("laketable").load(locI)
      .select("vec_id", "cell", "c0", "c1", "c2", "c3")
      .orderBy("vec_id"))
  }

  // D7d — the FUZZY gate run CONTINUOUSLY against the committed band
  // index: the streaming pair of d03_minhash_index, the way
  // d07_ann_index_stream pairs with d02_ann_indexed. A streaming job
  // reads the DATA table's own incremental scan (the laketable source,
  // A25), derives each micro-batch's MinHash band keys as PURE
  // expressions (md5MinhashSigs + explodeBands — no state, no window:
  // the derivation fuses into the micro-batch scan), LEFT-SEMI joins
  // them against the COMMITTED band-index table (stream-static, the
  // index is a batch scan any number of gate streams share), and lands
  // matching doc_ids in a verdict table through the epoch-fenced
  // laketable sink. Two checkpointed runs over two arrival waves: the
  // restarted query gates ONLY the new snapshot's files (exactly-once
  // from the source checkpoint — a replayed wave would double verdict
  // rows; the spec asserts per-run dup deltas). A doc with k >= 1
  // matching bands lands k rows — the verdict read is DISTINCT, so the
  // stream itself stays fully stateless: at 100 TB this is a
  // shuffle-free map-side gate per micro-batch (the index side
  // broadcast or bucket-joined), the cheapest continuous-dedup shape.
  // The two waves union to the batch entries' increment, so the same
  // hash oracle replays the verdict set.
  def d07_minhash_stream(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val ckpt = sc.dir("ckpt")
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    // wave 2 = the planted cross-batch dups (exact re-keys share all 4
    // bands; near re-keys with 3 appended tokens keep most lanes)
    val wave2 = evens.filter(col("doc_id") < 40)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .union(evens.filter(col("doc_id") >= 40 && col("doc_id") < 80)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zq zr zs")).as("text")))
    val data = sc.table("d07mh-data", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    // layout key = xxhash64(band,h0,h1) pmod 16 (P.withBandKey) — h0 is
    // a minhash minimum and skews low; the uniform re-key spreads
    // maintenance appends evenly across the 16 buckets
    val index = sc.table("d07mh-idx", P.BandIndexDdl,
      TruncateSpec("bkey", 1L))
    val locR = sc.table("d07mh-res", "doc_id BIGINT",
      TruncateSpec("doc_id", 1000000L)).location
    val (locD, locI) = (data.location, index.location)
    val d1 = data.append(LakeWriter.writeDataFiles(evens, data))
    index.append(LakeWriter.writeDataFiles(
      P.withBandKey(P.explodeBands(P.md5MinhashSigs(data.snapshotDF(s, d1)))
        .select("band", "h0", "h1").distinct()), index))
    // the static side: the committed index table, read once per
    // micro-batch planning — shared by every gate stream
    val comBands = s.read.format("laketable").load(locI)
    // distinct dup ids landed, traced before the runs and after each:
    // a replayed first wave would re-land its ids and inflate run 2's delta
    def landed = s.read.format("laketable").load(locR)
      .select("doc_id").distinct().count()
    def runGate(): Unit = {
      val q = P.explodeBands(P.md5MinhashSigs(
          s.readStream.format("laketable")
            .option("startSnapshotId", d1.toString).load(locD)))
        .join(comBands, Seq("band", "h0", "h1"), "left_semi")
        .select("doc_id")
        .writeStream.format("laketable")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(locR)
      q.awaitTermination()
      Trace.count("landed", landed)
    }
    Trace.count("landed", landed)
    data.append(LakeWriter.writeDataFiles(odds, data))
    runGate() // wave 1: the fresh odd docs
    val d3 = data.append(LakeWriter.writeDataFiles(wave2, data))
    runGate() // restart: only wave 2's files flow
    val dups = s.read.format("laketable").load(locR)
      .select("doc_id").distinct().withColumn("is_fuzzy_dup", lit(true))
    localize(data.changesBetween(s, d1, d3).select("doc_id")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_fuzzy_dup"), lit(false)).as("is_fuzzy_dup"))
      .orderBy("doc_id"))
  }

  // D7h — LIVE ANN SERVING: the full production loop in one entry —
  // frozen models committed INTO the index table's properties, a
  // checkpointed maintenance stream encodes the corpus and then ONLY the
  // appended increment (restart; exactly-once off the source
  // checkpoint), and top-5 then serves from a FRESH load of the
  // stream-maintained index: codes from its scan, models parsed back
  // from its own properties — nothing the serve path uses exists outside
  // the two tables. Completes the live story for the ANN regime the way
  // d07_minhash_live / d07_semdedup_live do for fuzzy/semantic (ANN
  // arrivals don't gate, they SERVE — so "live" here is
  // maintain-while-serving). The stream-maintained index state equals
  // the batch-encoded one (d07_ann_index_stream proves the codes
  // hash-equal), so the d02_ann_indexed exact replay oracles the serve.
  def d07_ann_serve_live(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val ckpt = sc.dir("ckpt")
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val data = sc.table("d07asl-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("d07asl-idx", P.AnnIndexDdl, P.AnnIndexSpec)
    val (locD, locI) = (data.location, index.location)
    val d1 = data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") < 400), data))
    val committed = data.snapshotDF(s, d1)
    val (ivf, pq) = P.annSeedModels(committed)
    index.setProperty(P.AnnIvfProp, P.ivfModelToString(ivf))
    index.setProperty(P.AnnPqProp, P.pqModelToString(pq))
    def runMaintenance(): Unit = {
      val q = P.ivfPqEncode(s,
          s.readStream.format("laketable")
            .option("startSnapshotId", "0").load(locD), ivf, pq)
        .writeStream.format("laketable")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(locI)
      q.awaitTermination()
    }
    runMaintenance() // encode the committed corpus
    data.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") >= 400), data))
    runMaintenance() // restart: only the increment encodes
    // serve from a fresh load: stream-maintained codes + models parsed
    // back from the index's own properties
    val served = LakeTable.load(locI)
    val ivf2 = P.ivfModelFromString(served.tableMeta.properties(P.AnnIvfProp))
    val pq2 = P.pqModelFromString(served.tableMeta.properties(P.AnnPqProp))
    localize(P.ivfPqServe(s, served.toDF(s), data.refresh().toDF(s),
      ivf2, pq2))
  }

  // D7k — the ANN analog of the arrival-ordered gates (d07_minhash_ordered
  // / d07_semdedup_ordered): ANN arrivals SERVE rather than gate, so the
  // per-arrival property is the answer from a GROWING index. Five
  // 100-vector batches commit INDIVIDUALLY; one file-capped AvailableNow
  // run (`maxFilesPerTrigger=1`) admits them as five ORDERED micro-batches,
  // each of which (1) encodes its arrivals into the committed index
  // (appendEpoch — exactly-once) under models parsed back from the index
  // table's OWN properties, then (2) serves the fixed 20-probe top-5 from
  // a FRESH load of the index — i.e. the state after arrival k. Frozen
  // full-corpus seed models make encode arrival-independent, so the
  // oracle computes assignment/codes ONCE and replays each arrival's
  // serve as a candidate-prefix restriction (`oid < arr*100`) — the exact
  // per-arrival semantics, hash-verified at every step of index growth
  // (closing the round-9 "ANN arrival-ordered analog" seed; the recall-
  // vs-brute-force floor per arrival is spec-asserted in StreamingSpec).
  def d07_ann_ordered(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    // register BEFORE the stream starts: the micro-batch session is a
    // CLONE taken at start — functions registered later don't reach it
    graft.functions.CosineSimilarity.register(s)
    val ckpt = sc.dir("ckpt")
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val data = sc.table("d07aord-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("d07aord-idx", P.AnnIndexDdl, P.AnnIndexSpec)
    val locR = sc.table("d07aord-res",
      "arr BIGINT,qid BIGINT,rn INT,oid BIGINT,cos DOUBLE",
      TruncateSpec("arr", 1L)).location
    val (locD, locI) = (data.location, index.location)
    // frozen models over the full corpus (arrival-independent encode),
    // committed WITH the index — nothing the stream uses lives outside
    // the tables
    val (ivf, pq) = P.annSeedModels(e)
    index.setProperty(P.AnnIvfProp, P.ivfModelToString(ivf))
    index.setProperty(P.AnnPqProp, P.pqModelToString(pq))
    // five arrivals, one commit each (one 100-wide bucket → one file,
    // so the file-capped stream admits exactly one arrival per batch)
    (0 until 5).foreach { k =>
      data.append(LakeWriter.writeDataFiles(
        e.filter(col("vec_id") >= k * 100 && col("vec_id") < (k + 1) * 100),
        data))
    }
    val vectors = data.toDF(s) // float source for probes + exact refine
    val q = s.readStream.format("laketable")
      .option("startSnapshotId", "0")
      .option("maxFilesPerTrigger", "1") // one arrival per micro-batch
      .load(locD)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val idx = LakeTable.load(locI)
        val ivf2 = P.ivfModelFromString(idx.tableMeta.properties(P.AnnIvfProp))
        val pq2 = P.pqModelFromString(idx.tableMeta.properties(P.AnnPqProp))
        idx.appendEpoch(LakeWriter.writeDataFiles(
          P.ivfPqEncode(s, batch, ivf2, pq2), idx), "ann-maint", epoch)
        // serve AFTER maintenance: the index as of arrival epoch+1
        val grown = LakeTable.load(locI)
        val res = LakeTable.load(locR)
        res.appendEpoch(LakeWriter.writeDataFiles(
          P.ivfPqServe(s, grown.toDF(s), vectors, ivf2, pq2)
            .select(lit(epoch + 1).as("arr"), col("qid"), col("rn"),
              col("oid"), col("cos")), res), "ann-serve", epoch)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    localize(s.read.format("laketable").load(locR)
      .orderBy("arr", "qid", "rn"))
  }

  // D7l — CONTINUOUS sequence packing: the incremental packer
  // (d04_seqpack_incremental) run as a checkpointed stream, completing
  // the family the way d07_ann_index_stream does for the ANN index. The
  // pack state — ONE scalar, the stream's running token total — lives in
  // the spans table's properties and advances ATOMICALLY with each
  // epoch-fenced append (appendEpoch extraProps): a replayed micro-batch
  // is a no-op for the files AND the scalar, so positions are
  // exactly-once by the same fence that makes the rows exactly-once.
  // Each batch packs ONLY its arrivals (two-phase prefix sum, base =
  // the committed total read from a fresh load — self-contained). Two
  // checkpointed AvailableNow runs over two arrival waves prove the
  // restart packs only wave 2. Batch boundaries never move positions
  // (each batch packs in doc_id order from the committed base), so the
  // completed stream equals the batch incremental pack — the same
  // corpus-first full-stream replay oracles both (batch-equivalence).
  def d07_seqpack_stream(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val L = graft.queries.LakeQueries
    val ckpt = sc.dir("ckpt")
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val oddMid = d.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
    val data = sc.table("d07sp-data", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    val spans = sc.table("d07sp-idx",
      "doc_id BIGINT,seq_id BIGINT,tok_start BIGINT,tok_len BIGINT,off_in_seq BIGINT",
      TruncateSpec("seq_id", 64L))
    val (locD, locI) = (data.location, spans.location)
    val s1 = data.append(LakeWriter.writeDataFiles(evens, data))
    // corpus pack state: the committed stream's token total
    val total = data.snapshotDF(s, s1)
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    spans.setProperty(L.SeqPackTotalProp, total.toString)
    def nTok = size(split(col("text"), " ")).cast("long").as("n_tok")
    // span rows landed, traced before the runs and after each: the
    // restart must pack ONLY the new wave
    def landed = s.read.format("laketable").load(locI).count()
    def runPack(): Unit = {
      val q = s.readStream.format("laketable")
        .option("startSnapshotId", s1.toString).load(locD)
        .writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val idx = LakeTable.load(locI) // fresh: committed state only
          val base = idx.tableMeta.properties(L.SeqPackTotalProp).toLong
          // three consumers (quantile cuts, the token sum, the span
          // write) read the batch once through the cache, not 3×
          val b = batch.select(col("doc_id"), nTok).persist()
          try {
            val packed = P.packStreamSpans(b, base)
            val batchTok = b.agg(sum("n_tok")).head().getLong(0)
            // spans + the advanced scalar in ONE fenced commit: a
            // replay re-lands neither
            idx.appendEpoch(LakeWriter.writeDataFiles(packed, idx),
              "seqpack", epoch, extraProps =
                Map(L.SeqPackTotalProp -> (base + batchTok).toString))
          } finally b.unpersist()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Trace.count("landed", landed)
    }
    Trace.count("landed", landed)
    data.append(LakeWriter.writeDataFiles(
      odds.filter(col("doc_id") < oddMid), data))
    runPack() // wave 1
    data.append(LakeWriter.writeDataFiles(
      odds.filter(col("doc_id") >= oddMid), data))
    runPack() // restart: only wave 2 packs
    localize(s.read.format("laketable").load(locI)
      .orderBy("doc_id", "seq_id"))
  }

  // D7m — the LIVE substring gate: the committed shingle index
  // (d01_substring_index) gated AND maintained in the same continuous
  // job, so an arrival's copied spans are detected against EARLIER
  // ARRIVALS too, not just the frozen corpus. Per micro-batch inside
  // foreachBatch: (1) shingle the batch (60-bit md5-portable hashes),
  // (2) land the positions whose shingle hits the index AS OF NOW — a
  // fresh load that includes every previous batch's maintenance — OR
  // repeats within the batch itself (the d01_substring_index selfDup
  // term: same-batch twins must flag even though the index learns their
  // hashes only after gating), (3) append the batch's NOVEL hashes;
  // both commits ride the epoch fence, so a replayed batch re-lands
  // neither. Wave 2 plants re-keys of the CORPUS (+1M — any gate
  // catches these), of WAVE 1 (+3M exact, +4M suffix-extended — their
  // shingles entered the index during run 1, so only a live gate flags
  // them), and of EACH OTHER (+5M/+6M reversed-text twins in the same
  // batch — only the within-batch term flags them). The final result
  // merges all landed hit positions into maximal per-doc spans.
  def d07_substring_live(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val L = P.SubstrShingle
    val ckpt = sc.dir("ckpt")
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= L)
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    // +5M/+6M: SAME-BATCH twins — two arrivals whose reversed-text
    // shingles exist nowhere in the corpus or wave 1 and duplicate only
    // EACH OTHER inside wave 2; only the within-batch self-dup term can
    // flag them (r11 verdict item 4 — the gate's former blind spot)
    val wave2 = evens.filter(col("doc_id") < 40)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .union(odds.filter(col("doc_id") < 40)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      .union(odds.filter(col("doc_id") >= 40 && col("doc_id") < 80)
        .select((col("doc_id") + 4000000).as("doc_id"),
          concat(col("text"), lit(" zq zr zs")).as("text")))
      .union(evens.filter(col("doc_id") >= 40 && col("doc_id") < 60)
        .select((col("doc_id") + 5000000).as("doc_id"),
          reverse(col("text")).as("text")))
      .union(evens.filter(col("doc_id") >= 40 && col("doc_id") < 60)
        .select((col("doc_id") + 6000000).as("doc_id"),
          reverse(col("text")).as("text")))
    val data = sc.table("d07ss-data", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    val index = sc.table("d07ss-idx", "skey BIGINT,shash BIGINT",
      TruncateSpec("skey", 1L))
    val locR = sc.table("d07ss-res", "doc_id BIGINT,st BIGINT,en BIGINT",
      TruncateSpec("doc_id", 1000000L)).location
    def keyed(hashes: org.apache.spark.sql.DataFrame) = hashes
      .withColumn("skey", pmod(col("shash"), lit(16L)))
      .select("skey", "shash")
    val (locD, locI) = (data.location, index.location)
    val d1 = data.append(LakeWriter.writeDataFiles(evens, data))
    index.append(LakeWriter.writeDataFiles(
      keyed(P.shingleHashes(data.snapshotDF(s, d1)).select("shash")
        .distinct()), index))
    // hit rows landed, traced before the runs and after each, and the
    // micro-batches of each run: the wave-grain oracle assumes ONE batch
    // per wave, so an admission cap must never shift batch boundaries
    def landed = s.read.format("laketable").load(locR).count()
    def runLive(): Unit = {
      val epochs = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = s.readStream.format("laketable")
        .option("startSnapshotId", d1.toString).load(locD)
        .writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          epochs.incrementAndGet()
          // committed shingle space AS OF THIS BATCH — includes every
          // earlier batch's maintenance; both appends are epoch-fenced
          val com = s.read.format("laketable").load(locI).select("shash")
          val bsh = P.shingleHashes(batch)
          // within-batch self-dup (the d01_substring_index selfDup
          // term): two arrivals in the SAME micro-batch copying each
          // other are flagged here — the committed index only learns
          // the batch's hashes AFTER gating, so membership alone
          // would pass both
          val selfDup = bsh.groupBy("shash").agg(count(lit(1)).as("n"))
            .filter(col("n") >= 2).select("shash")
          val dupKeys = com.union(selfDup).distinct()
          val res = LakeTable.load(locR)
          res.appendEpoch(LakeWriter.writeDataFiles(
            bsh.join(dupKeys, Seq("shash"), "left_semi")
              .select(col("doc_id"), col("p").as("st"),
                (col("p") + L).as("en")), res), "substr-gate", epoch)
          val idx = LakeTable.load(locI)
          idx.appendEpoch(LakeWriter.writeDataFiles(
            keyed(bsh.select("shash").distinct()
              .join(com, Seq("shash"), "left_anti")), idx),
            "substr-maint", epoch)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Trace.count("landed", landed)
      Trace.count("epochs", epochs.get())
    }
    Trace.count("landed", landed)
    data.append(LakeWriter.writeDataFiles(odds, data))
    runLive() // wave 1: gated against the corpus; its hashes join the index
    data.append(LakeWriter.writeDataFiles(wave2, data))
    runLive() // restart: wave 2 gated against corpus ∪ wave 1
    localize(P.mergeSpans(s.read.format("laketable").load(locR)
      .select("doc_id", "st", "en")))
  }

  /** Small-file-debt trigger for the live maintainer (the b67 threshold-
    * compaction discipline applied to the index): when any tkey bucket
    * accrues this many files, the maintainer runs one DEFAULT compaction
    * — which re-sorts by the table's declared write.sort-order (thash),
    * so the serve's within-bucket footer skip survives an unbounded
    * stream of per-epoch appends. High enough that the two-wave entries
    * never trip it; the spec passes a lower cap to pin the trigger. */
  private val Bm25CompactPerBucketCap = 64

  /** One epoch-fenced BM25 index-maintenance step over a micro-batch —
    * shared by d07_bm25_stream and d07_hybrid_stream's lexical arm so
    * the two maintainers cannot diverge. Fresh committed-state load;
    * stats are SHARDED per maintainer (bm25StatsKey): this step advances
    * only ITS OWN accumulated shard, so the read-increment-write stays
    * safe under concurrent maintainers — a CAS retry re-merges the shard
    * onto the refreshed property map, and no two maintainers ever write
    * the same key (readers fold the family; the two-maintainer race is
    * pinned by CommitCasSpec). Postings append thash-sorted in the SAME
    * epoch-fenced commit as the stats delta (a replayed epoch re-lands
    * neither), then the small-file-debt check runs on the committed
    * state OUTSIDE the fence — compaction moves no rows, so a replayed
    * epoch may skip it harmlessly. Returns whether it compacted. */
  private def bm25MaintainEpoch(locI: String, shard: String,
      queryId: String, batch: DataFrame, epoch: Long,
      compactPerBucketCap: Int): Boolean = {
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val L = graft.queries.LakeQueries
    val idx = LakeTable.load(locI)
    val own = L.bm25StatsKey(shard)
    val Array(n0, sd0) = idx.tableMeta.properties
      .getOrElse(own, "0:0").split(":").map(_.toLong)
    // two consumers (postings, the stats delta) read the batch once
    // through the cache, not twice
    val b = batch.select(col("doc_id"), col("text")).persist()
    try {
      val r = b.agg(count(lit(1)),
        sum(size(split(col("text"), " ")).cast("long"))).head()
      idx.appendEpoch(
        LakeWriter.writeDataFiles(P.bm25Keyed(P.bm25Postings(b)), idx,
          sortBy = Seq("thash"),
          maxRecordsPerFile = P.Bm25IndexRowsPerFile),
        queryId, epoch, extraProps =
          Map(own -> s"${n0 + r.getLong(0)}:${sd0 + r.getLong(1)}"))
      val post = LakeTable.load(locI)
      val perBucket = post.files().groupBy(_.partitionValue)
        .values.map(_.size).maxOption.getOrElse(0)
      val compact = perBucket >= compactPerBucketCap
      if (compact) post.compactFiles(b.sparkSession,
        maxRecordsPerFile = P.Bm25IndexRowsPerFile)
      compact
    } finally b.unpersist()
  }

  // D7k — the BM25 inverted index maintained BY A STREAM, completing the
  // committed-index family's continuous column (exact ✓ fuzzy ✓ semantic
  // ✓ ANN ✓ seq-pack ✓ — lexical retrieval was the gap): the corpus
  // commits to a data laketable and its postings+stats to the index
  // table (the d02_bm25_index build), then a checkpointed AvailableNow
  // stream tails the data table and, per micro-batch inside foreachBatch,
  // appends ONLY the batch's postings with the corpus stats property
  // advanced IN THE SAME epoch-fenced commit (the d07_seqpack_stream
  // state discipline — a replayed epoch re-lands neither postings nor
  // stats). df is never stored, so maintenance never rewrites existing
  // rows; a serve between any two batches sees stats consistent with
  // exactly the postings committed beside them. End state after both
  // waves = the full corpus → the same BM25 hash oracle.
  def d07_bm25_stream(s: SparkSession, dir: String): DataFrame =
    bm25StreamRun(s, dir, Bm25CompactPerBucketCap)

  /** [[d07_bm25_stream]] with the maintainer's small-file-debt cap as a
    * parameter, so a spec can trip the mid-stream compaction. */
  private[graft] def bm25StreamRun(s: SparkSession, dir: String,
      compactPerBucketCap: Int): DataFrame = Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val L = graft.queries.LakeQueries
    val ckpt = sc.dir("ckpt")
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val oddMid = d.agg(expr("percentile_approx(doc_id, 0.5)")).head().getLong(0)
    def stats(docs: DataFrame): (Long, Long) = {
      val r = docs.agg(count(lit(1)),
        sum(size(split(col("text"), " ")).cast("long"))).head()
      (r.getLong(0), r.getLong(1)) // 1-row corpus-stats agg — bounded
    }
    val data = sc.table("d07bm-data", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    val index = sc.table("d07bm-idx", P.Bm25IndexDdl, TruncateSpec("tkey", 1L))
    index.setProperty("write.sort-order", "thash") // compaction keeps it
    val (locD, locI) = (data.location, index.location)
    val s1 = data.append(LakeWriter.writeDataFiles(evens, data))
    // same thash-clustered file layout as the batch index (bm25IndexRun)
    // so the stream-maintained serve skips within buckets too
    index.append(LakeWriter.writeDataFiles(
      P.bm25Keyed(P.bm25Postings(data.snapshotDF(s, s1))), index,
      sortBy = Seq("thash"), maxRecordsPerFile = P.Bm25IndexRowsPerFile))
    val (n1, sd1) = stats(data.snapshotDF(s, s1))
    index.setProperty(L.bm25StatsKey("build"), s"$n1:$sd1")
    // posting rows landed, traced before the runs and after each: each
    // wave writes exactly its own postings, once
    def landed = s.read.format("laketable").load(locI).count()
    // summed on the stream thread, traced by this one after the runs
    val compactions = new java.util.concurrent.atomic.AtomicLong(0L)
    def runMaint(): Unit = {
      val q = s.readStream.format("laketable")
        .option("startSnapshotId", s1.toString).load(locD)
        .writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          // the shared maintainer step: sharded stats + thash-sorted
          // postings in one epoch-fenced commit, then the
          // small-file-debt check (see bm25MaintainEpoch)
          if (bm25MaintainEpoch(locI, "stream", "bm25idx", batch, epoch,
              compactPerBucketCap)) compactions.incrementAndGet()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Trace.count("landed", landed)
    }
    Trace.count("landed", landed)
    data.append(LakeWriter.writeDataFiles(
      odds.filter(col("doc_id") < oddMid), data))
    runMaint() // wave 1
    data.append(LakeWriter.writeDataFiles(
      odds.filter(col("doc_id") >= oddMid), data))
    runMaint() // restart: only wave 2's postings flow
    Trace.count("compactions", compactions.get())
    // serve from the stream-maintained committed index — self-contained
    // (stats folded across the build + stream maintainer shards; scan
    // bucket-pruned to the query terms' tkeys like the batch serve)
    val idxT = LakeTable.load(locI)
    val (nd, sdl) = L.bm25FoldStats(idxT.tableMeta.properties)
    localize(P.bm25Serve(
      idxT.toDF(s).filter(P.bm25LayoutPredicate)
        .select("term", "doc_id", "tf", "dl"),
      nd, sdl))
  }

  // D7n — CONTINUOUS hybrid retrieval: BOTH committed arms of the fused
  // serve (d02_hybrid_indexed) maintained by checkpointed streams. The
  // lexical arm is the d07_bm25_stream flow (per-epoch postings append +
  // sharded stats property in one epoch-fenced commit); the semantic arm
  // is the d07_ann_index_stream flow (frozen committed-batch models, the
  // stream encodes each micro-batch's vectors into the cell-keyed index
  // through the laketable sink). The serve then fuses the two committed
  // end states rank-space exactly like the batch entry — bucket-aware
  // layout-pruned postings scan + nprobe cell fan-out over committed PQ
  // codes — so after both streams drain the full corpus the output IS
  // d02_hybrid_indexed's, and the entry rides the same end-to-end hash
  // oracle. This closes the continuous column for retrieval the way the
  // dedup regimes were closed: a search service whose BOTH indexes trail
  // arrivals, never rebuilt, fused at query time.
  def d07_hybrid_stream(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val L = graft.queries.LakeQueries
    graft.functions.CosineSimilarity.register(s)
    val ckptB = sc.dir("d07hyb-ckptb"); val ckptA = sc.dir("d07hyb-ckpta")
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    def stats(docs: DataFrame): (Long, Long) = {
      val r = docs.agg(count(lit(1)),
        sum(size(split(col("text"), " ")).cast("long"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val dataD = sc.table("d07hyb-docs", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    val idxB = sc.table("d07hyb-bm25", P.Bm25IndexDdl, TruncateSpec("tkey", 1L))
    idxB.setProperty("write.sort-order", "thash")
    val dataE = sc.table("d07hyb-vecs", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val idxI = sc.table("d07hyb-ann", P.AnnIndexDdl, P.AnnIndexSpec)
    val (locD, locB) = (dataD.location, idxB.location)
    val (locE, locI) = (dataE.location, idxI.location)
    // ---- lexical arm: build half + stream-maintained half ----
    val s1 = dataD.append(LakeWriter.writeDataFiles(evens, dataD))
    idxB.append(LakeWriter.writeDataFiles(
      P.bm25Keyed(P.bm25Postings(dataD.snapshotDF(s, s1))), idxB,
      sortBy = Seq("thash"), maxRecordsPerFile = P.Bm25IndexRowsPerFile))
    val (n1, sd1) = stats(dataD.snapshotDF(s, s1))
    idxB.setProperty(L.bm25StatsKey("build"), s"$n1:$sd1")
    dataD.append(LakeWriter.writeDataFiles(odds, dataD))
    val qB = s.readStream.format("laketable")
      .option("startSnapshotId", s1.toString).load(locD)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        // the SAME maintainer step as d07_bm25_stream (sharded stats,
        // thash-sorted epoch-fenced append, small-file-debt check) —
        // shared so the two flows cannot diverge
        bm25MaintainEpoch(locB, "stream", "hybbm25", batch, epoch,
          Bm25CompactPerBucketCap)
        ()
      }
      .option("checkpointLocation", ckptB)
      .trigger(Trigger.AvailableNow())
      .start()
    qB.awaitTermination()
    // ---- semantic arm: frozen committed-batch models, streamed encode ----
    val d1 = dataE.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") < 400), dataE))
    val committed = dataE.snapshotDF(s, d1)
    val (ivf, pq) = P.annSeedModels(committed)
    idxI.setProperty(P.AnnIvfProp, P.ivfModelToString(ivf))
    idxI.setProperty(P.AnnPqProp, P.pqModelToString(pq))
    def runAnnMaint(): Unit = {
      val q = P.ivfPqEncode(s,
          s.readStream.format("laketable")
            .option("startSnapshotId", "0").load(locE), ivf, pq)
        .writeStream.format("laketable")
        .option("checkpointLocation", ckptA)
        .trigger(Trigger.AvailableNow())
        .start(locI)
      q.awaitTermination()
    }
    runAnnMaint() // index the committed corpus
    dataE.append(LakeWriter.writeDataFiles(
      e.filter(col("vec_id") >= 400), dataE))
    runAnnMaint() // restart: only the increment's files flow
    // ---- fused serve from FRESH loads of both committed indexes ----
    val bT = LakeTable.load(locB)
    val (nd, sdl) = L.bm25FoldStats(bT.tableMeta.properties)
    val lex = P.bm25Serve(
      bT.toDF(s).filter(P.bm25LayoutPredicate)
        .select("term", "doc_id", "tf", "dl"), nd, sdl)
      .select(col("qid"), col("doc_id"), col("rn").as("rl"))
    val iT = LakeTable.load(locI)
    val ivf2 = P.ivfModelFromString(iT.tableMeta.properties(P.AnnIvfProp))
    val pq2 = P.pqModelFromString(iT.tableMeta.properties(P.AnnPqProp))
    val sem = P.ivfPqServe(s, iT.toDF(s), dataE.toDF(s), ivf2, pq2,
        probeFilter = col("vec_id").between(1, P.Bm25Queries.length),
        topK = P.Bm25TopK)
      .select(col("qid").cast("int").as("qid"),
        col("oid").as("doc_id"), col("rn").as("rs"))
    localize(P.rrfFuse(lex, sem))
  }

  // D7e — the LIVE fuzzy gate: gate AND maintain the committed band
  // index in the same continuous job, so an arrival is deduped against
  // EARLIER ARRIVALS too, not just the frozen corpus (d07_minhash_stream
  // probes the corpus-frozen index — two near-dup arrivals in different
  // waves both pass it; this closes that window). Each micro-batch,
  // inside foreachBatch: (1) derive the batch's band keys (pure
  // expressions), (2) LEFT-SEMI gate against the index table AS OF NOW —
  // a fresh load that includes every previous batch's maintenance — and
  // land matches in the verdict table, (3) append the batch's NOVEL keys
  // (left-anti vs the same committed space, DISTINCT within batch) as
  // one index commit. Work per batch stays ∝ batch (two semi/anti joins
  // against the committed key space, per-key width 1); the corpus is
  // never re-banded. Wave 2 plants re-keys of WAVE-1 docs (+3M exact,
  // +4M near) alongside corpus re-keys (+1M) and SAME-BATCH twins
  // (+5M/+6M reversed-text pairs that duplicate only each other): the
  // frozen-index gate would pass the +3M/+4M docs, the live gate must
  // flag the exact ones, and only the within-batch self-dup term can
  // flag the twins — the oracle replays the wave-ordered band spaces
  // (side-2 arrivals probe side-0 ∪ side-1, plus per-side self-dups).
  // Two checkpointed AvailableNow runs prove the restart gates only the
  // new wave (per-run dup deltas spec-asserted).
  def d07_minhash_live(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val ckpt = sc.dir("ckpt")
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val evens = d.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odds = d.filter(pmod(col("doc_id"), lit(2)) === 1)
    // wave 2: corpus re-keys (+1M — any gate catches these) and WAVE-1
    // re-keys (+3M exact, +4M near — only a live, self-maintaining gate
    // can catch these: their bands entered the index during run 1)
    // +5M/+6M: SAME-BATCH twins — reversed-text arrivals duplicating
    // only EACH OTHER inside wave 2; the within-batch self-dup term is
    // the only gate that can flag them (r11 verdict item 4)
    val wave2 = evens.filter(col("doc_id") < 40)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      .union(odds.filter(col("doc_id") < 40)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text")))
      .union(odds.filter(col("doc_id") >= 40 && col("doc_id") < 80)
        .select((col("doc_id") + 4000000).as("doc_id"),
          concat(col("text"), lit(" zq zr zs")).as("text")))
      .union(evens.filter(col("doc_id") >= 40 && col("doc_id") < 60)
        .select((col("doc_id") + 5000000).as("doc_id"),
          reverse(col("text")).as("text")))
      .union(evens.filter(col("doc_id") >= 40 && col("doc_id") < 60)
        .select((col("doc_id") + 6000000).as("doc_id"),
          reverse(col("text")).as("text")))
    val data = sc.table("d07live-data", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    // layout key = xxhash64(band,h0,h1) pmod 16 (P.withBandKey) — h0 is
    // a minhash minimum and skews low; the uniform re-key spreads
    // maintenance appends evenly across the 16 buckets
    val index = sc.table("d07live-idx", P.BandIndexDdl,
      TruncateSpec("bkey", 1L))
    val locR = sc.table("d07live-res", "doc_id BIGINT",
      TruncateSpec("doc_id", 1000000L)).location
    val (locD, locI) = (data.location, index.location)
    val d1 = data.append(LakeWriter.writeDataFiles(evens, data))
    index.append(LakeWriter.writeDataFiles(
      P.withBandKey(P.explodeBands(P.md5MinhashSigs(data.snapshotDF(s, d1)))
        .select("band", "h0", "h1").distinct()), index))
    // distinct dup ids landed, traced before the runs and after each,
    // and each run's micro-batches (the wave-grain oracle's premise)
    def landed = s.read.format("laketable").load(locR)
      .select("doc_id").distinct().count()
    def runLive(): Unit = {
      val epochs = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = s.readStream.format("laketable")
        .option("startSnapshotId", d1.toString).load(locD)
        .writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          epochs.incrementAndGet()
          // the committed band space AS OF THIS BATCH — includes every
          // earlier batch's maintenance append. Both appends ride the
          // epoch fence (appendEpoch): a foreachBatch replay after a
          // mid-batch crash is a per-table no-op — the same
          // exactly-once guarantee the format sink gives.
          val com = s.read.format("laketable").load(locI)
          val bands = P.explodeBands(P.md5MinhashSigs(batch))
          // within-batch self-dup: a band key shared by two arrivals
          // of the SAME micro-batch flags both — the index learns the
          // batch's keys only after gating, so membership alone would
          // pass a same-batch twin pair (r11 verdict item 4)
          val selfDup = bands.groupBy("band", "h0", "h1")
            .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
            .select("band", "h0", "h1")
          val dupKeys = com.select("band", "h0", "h1").union(selfDup)
          val res = LakeTable.load(locR)
          res.appendEpoch(LakeWriter.writeDataFiles(
            bands.join(dupKeys, Seq("band", "h0", "h1"), "left_semi")
              .select("doc_id"), res), "live-gate", epoch)
          val idx = LakeTable.load(locI)
          idx.appendEpoch(LakeWriter.writeDataFiles(
            P.withBandKey(bands.select("band", "h0", "h1").distinct()
              .join(com, Seq("band", "h0", "h1"), "left_anti")), idx),
            "live-maint", epoch)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Trace.count("landed", landed)
      Trace.count("epochs", epochs.get())
    }
    Trace.count("landed", landed)
    data.append(LakeWriter.writeDataFiles(odds, data))
    runLive() // wave 1: gated against the corpus; its bands join the index
    val d3 = data.append(LakeWriter.writeDataFiles(wave2, data))
    runLive() // restart: wave 2 gated against corpus ∪ wave 1
    val dups = s.read.format("laketable").load(locR)
      .select("doc_id").distinct().withColumn("is_fuzzy_dup", lit(true))
    localize(data.changesBetween(s, d1, d3).select("doc_id")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_fuzzy_dup"), lit(false)).as("is_fuzzy_dup"))
      .orderBy("doc_id"))
  }

  // D7i — the live fuzzy gate at ARRIVAL grain, hash-oracled: eight
  // documents commit INDIVIDUALLY (one snapshot each), a single
  // AvailableNow run admits them as eight ordered micro-batches
  // (`maxFilesPerTrigger=1`), and each batch gates against exactly the
  // index its predecessors maintained — so arrival k is a dup iff it
  // shares a band with ANY arrival j < k, starting from an EMPTY index.
  // That per-arrival semantics is one self-join in SQL (band match AND
  // ord < ord — monotone index growth needs no recursion), so unlike
  // the wave entries the ORACLE models the exact arrival order,
  // closing the round-9 seed. Plants: a3 re-keys a1, a7 re-keys a6
  // (must flag), a5 near-re-keys a2 (the oracle decides per lanes);
  // a1/a2/a4/a6/a8 derive from distinct source docs.
  def d07_minhash_ordered(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    val P = graft.queries.PipelineQueries
    val ckpt = sc.dir("ckpt")
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // (arrival doc_id, source doc_id, append ' zq zr zs'?)
    val plan = Seq((101L, 0L, false), (102L, 2L, false), (103L, 0L, false),
      (104L, 4L, false), (105L, 2L, true), (106L, 6L, false),
      (107L, 6L, false), (108L, 8L, false))
    val data = sc.table("d07ord-data", "doc_id BIGINT,text STRING",
      TruncateSpec("doc_id", 1000L))
    // layout key = xxhash64(band,h0,h1) pmod 16 (P.withBandKey) — h0 is
    // a minhash minimum and skews low; the uniform re-key spreads
    // maintenance appends evenly across the 16 buckets
    val locI = sc.table("d07ord-idx", P.BandIndexDdl,
      TruncateSpec("bkey", 1L)).location
    val locR = sc.table("d07ord-res", "doc_id BIGINT",
      TruncateSpec("doc_id", 1000L)).location
    val locD = data.location
    plan.foreach { case (id, srcId, near) =>
      val text =
        if (near) concat(col("text"), lit(" zq zr zs")) else col("text")
      data.append(LakeWriter.writeDataFiles(
        d.filter(col("doc_id") === srcId)
          .select(lit(id).as("doc_id"), text.as("text")), data))
    }
    val q = s.readStream.format("laketable")
      .option("startSnapshotId", "0")
      .option("maxFilesPerTrigger", "1") // one arrival per micro-batch
      .load(locD)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val com = s.read.format("laketable").load(locI)
        val bands = P.explodeBands(P.md5MinhashSigs(batch))
        val res = LakeTable.load(locR)
        res.appendEpoch(LakeWriter.writeDataFiles(
          bands.join(com, Seq("band", "h0", "h1"), "left_semi")
            .select("doc_id"), res), "live-gate", epoch)
        val idx = LakeTable.load(locI)
        idx.appendEpoch(LakeWriter.writeDataFiles(
          P.withBandKey(bands.select("band", "h0", "h1").distinct()
            .join(com, Seq("band", "h0", "h1"), "left_anti")), idx),
          "live-maint", epoch)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dups = s.read.format("laketable").load(locR)
      .select("doc_id").distinct().withColumn("is_fuzzy_dup", lit(true))
    localize(data.refresh().toDF(s).select("doc_id")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_fuzzy_dup"), lit(false)).as("is_fuzzy_dup"))
      .orderBy("doc_id"))
  }

  // D7f — the SEMANTIC gate run CONTINUOUSLY against the committed cell
  // index, completing the streaming committed-index trio (ANN:
  // d07_ann_index_stream; fuzzy: d07_minhash_stream; semantic: this).
  // d01_semdedup_index proved the cell index as a table; here a streaming
  // job reads the DATA table's own incremental scan (laketable source,
  // A25), assigns each arriving vector's cell via assignCellsHierExpr —
  // the two-level hierarchical assignment folded into PURE stateless
  // expressions (coarse argmax over √K regions, then a region-dispatched
  // argmax over that region's routed fine centroids; no join, no groupBy,
  // so it fuses into the micro-batch scan) under centroids parsed back
  // from a FRESH load of the index table's properties (self-contained:
  // nothing the stream uses exists outside the two tables) — then
  // cell-joins the COMMITTED index snapshot (stream-static inner join;
  // per-cell width ~N/K) for the cosine check, landing matches through
  // the epoch-fenced sink. Two checkpointed runs over two arrival waves:
  // the restart gates ONLY wave 2's files (exactly-once from the source
  // checkpoint; per-run dup deltas spec-asserted). At 100 TB this is the
  // cheapest continuous semantic gate: per-arrival work ∝ increment ×
  // (√K + routed-region cosines), the corpus is never re-assigned, and
  // the committed-cell probe prunes to touched cell buckets. The waves
  // union to the batch increment and the index is frozen at the corpus
  // snapshot, so the d01_semdedup_incremental replay oracles the
  // completed stream (batch-equivalence).
  def d07_semdedup_stream(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    graft.functions.CosineSimilarity.register(s)
    val P = graft.queries.PipelineQueries
    val L = graft.queries.LakeQueries
    val ckpt = sc.dir("ckpt")
    val q = t(s, dir, "embeddings").select(col("vec_id"), expr(
      s"""transform(embedding, x ->
         |  CAST(round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale}D) AS FLOAT))"""
        .stripMargin).as("embedding"))
    val data = sc.table("d07sem-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("d07sem-idx", "cell BIGINT,vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("cell", 8L))
    val locR = sc.table("d07sem-res", "vec_id BIGINT",
      TruncateSpec("vec_id", 100L)).location
    val (locD, locI) = (data.location, index.location)
    val d1 = data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") < 400), data))
    val committed = data.snapshotDF(s, d1)
    val cents = committed.orderBy("vec_id").limit(P.SemDeDupExactK)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    index.setProperty(L.SemCentroidsProp, P.ivfModelToString(cents))
    val i1 = index.append(LakeWriter.writeDataFiles(
      P.assignCellsHier(committed, cents)
        .select(col("cell"), col("vec_id"), col("embedding")), index))
    // everything the gate stream uses reloads from the committed index:
    // centroids from its properties, cells from its corpus snapshot
    val idxT = LakeTable.load(locI)
    val cents2 = P.ivfModelFromString(idxT.tableMeta.properties(L.SemCentroidsProp))
    val comIdx = idxT.snapshotDF(s, i1)
      .select(col("cell"), col("vec_id").as("c_id"), col("embedding").as("ce"))
    // distinct dup ids landed, traced before the runs and after each: a
    // restarted gate must process ONLY the new wave
    def landed = s.read.format("laketable").load(locR)
      .select("vec_id").distinct().count()
    def runGate(): Unit = {
      val gq = P.assignCellsHierExpr(
          s.readStream.format("laketable")
            .option("startSnapshotId", d1.toString).load(locD), cents2)
        .join(comIdx, "cell")
        .filter(expr("cosine_sim(embedding, ce)") > 0.43)
        .select("vec_id")
        .writeStream.format("laketable")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start(locR)
      gq.awaitTermination()
      Trace.count("landed", landed)
    }
    Trace.count("landed", landed)
    data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") >= 400 && col("vec_id") < 450), data))
    runGate() // wave 1
    val d3 = data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") >= 450), data))
    runGate() // restart: only wave 2's files flow
    val dups = s.read.format("laketable").load(locR)
      .select("vec_id").distinct().withColumn("is_dup", lit(true))
    localize(
      P.assignCellsHierExpr(data.changesBetween(s, d1, d3), cents2)
        .select("vec_id", "cell")
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy("vec_id"))
  }

  // D7g — the LIVE semantic gate: the d07_minhash_live shape applied to
  // the committed CELL index, closing the arrivals-vs-arrivals window
  // for the semantic regime (d07_semdedup_stream probes the
  // corpus-frozen index — a wave-2 near-copy of a wave-1 arrival passes
  // it). Each micro-batch, inside foreachBatch: (1) assign the batch's
  // cells under the centroids parsed from the index table's OWN
  // properties (frozen at corpus build — the live part is the cell
  // POPULATION, never the model), (2) cosine-gate against the index AS
  // OF the batch — a fresh load including every earlier batch's
  // maintenance — and land matching vec_ids, (3) append the batch's
  // (cell, vec_id, embedding) assignments as one index commit. Work per
  // batch ∝ batch × per-cell width; the corpus is never re-assigned.
  // Wave 2 plants exact twins (+10000) of WAVE-1 vectors: their cells
  // entered the index only via run-1's maintenance, so the frozen gate
  // would pass them unless the wave-1 source was itself a corpus dup —
  // the live gate must flag every one (cosine 1 to its source). The
  // final read serves (vec_id, cell) from the MAINTAINED index table —
  // the oracle replays the wave-ordered cell spaces over the re-keyed
  // vector space.
  def d07_semdedup_live(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    graft.functions.CosineSimilarity.register(s)
    val P = graft.queries.PipelineQueries
    val L = graft.queries.LakeQueries
    val ckpt = sc.dir("ckpt")
    val q = t(s, dir, "embeddings").select(col("vec_id"), expr(
      s"""transform(embedding, x ->
         |  CAST(round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale}D) AS FLOAT))"""
        .stripMargin).as("embedding"))
    val data = sc.table("d07sml-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("d07sml-idx", "cell BIGINT,vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("cell", 8L))
    val locR = sc.table("d07sml-res", "vec_id BIGINT",
      TruncateSpec("vec_id", 100L)).location
    val (locD, locI) = (data.location, index.location)
    val d1 = data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") < 400), data))
    val committed = data.snapshotDF(s, d1)
    val cents = committed.orderBy("vec_id").limit(P.SemDeDupExactK)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    index.setProperty(L.SemCentroidsProp, P.ivfModelToString(cents))
    index.append(LakeWriter.writeDataFiles(
      P.assignCellsHier(committed, cents)
        .select(col("cell"), col("vec_id"), col("embedding")), index))
    // distinct dup ids landed, traced before the runs and after each
    def landed = s.read.format("laketable").load(locR)
      .select("vec_id").distinct().count()
    def runLive(): Unit = {
      val sq = s.readStream.format("laketable")
        .option("startSnapshotId", d1.toString).load(locD)
        .writeStream
        .foreachBatch { (batch: DataFrame, epoch: Long) =>
          val idx = LakeTable.load(locI)
          val cents2 =
            P.ivfModelFromString(idx.tableMeta.properties(L.SemCentroidsProp))
          // foreachBatch hands a plain batch DataFrame, so the BATCH
          // hier assignment (routing join + groupBy) applies directly.
          // Both appends ride the epoch fence (appendEpoch): a replayed
          // batch is a per-table no-op — the format sink's exactly-once.
          val aInc = P.assignCellsHier(batch, cents2)
          val com = s.read.format("laketable").load(locI)
            .select(col("cell"), col("embedding").as("ce"))
          // within-batch self-dup: two SAME-BATCH arrivals in the same
          // cell above the cosine bar flag each other — the index
          // learns the batch's vectors only after gating, so the
          // membership probe alone would pass a same-batch twin pair
          // (r12 verdict item 8; the d07_minhash_live selfDup shape
          // applied to the semantic regime). Per-cell bounded × batch
          // width — never corpus-wide.
          val selfDup = aInc
            .select(col("cell"), col("vec_id"), col("embedding"))
            .join(aInc.select(col("cell"), col("vec_id").as("ovid"),
              col("embedding").as("oe")), "cell")
            .filter(col("vec_id") =!= col("ovid"))
            .filter(expr("cosine_sim(embedding, oe)") > 0.43)
            .select("vec_id")
          val res = LakeTable.load(locR)
          res.appendEpoch(LakeWriter.writeDataFiles(
            aInc.join(com, "cell")
              .filter(expr("cosine_sim(embedding, ce)") > 0.43)
              .select("vec_id").union(selfDup).distinct(), res),
            "live-gate", epoch)
          idx.appendEpoch(LakeWriter.writeDataFiles(
            aInc.select(col("cell"), col("vec_id"), col("embedding")), idx),
            "live-maint", epoch)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      Trace.count("landed", landed)
    }
    Trace.count("landed", landed)
    data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") >= 400 && col("vec_id") < 450), data))
    runLive() // wave 1: gated against the corpus cells
    // wave 2: the tail of the space + exact twins of wave-1 vectors
    // (+10000 — only a live, self-maintaining gate catches these) +
    // SAME-BATCH twins (+20000 re-keys of [450,465), whose sources
    // ride the SAME wave — only the within-batch self-dup term can
    // flag the pair: neither side is in the index as of the batch).
    // All re-keys far above every original id (max vec_id 1999 at
    // sf0.1; centroid derivation and oracle ordering untouched).
    data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") >= 450).union(
        q.filter(col("vec_id") >= 400 && col("vec_id") < 420)
          .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
        .union(q.filter(col("vec_id") >= 450 && col("vec_id") < 465)
          .select((col("vec_id") + 20000).as("vec_id"), col("embedding"))),
      data))
    runLive() // restart: wave 2 gated against corpus ∪ wave 1
    val dups = s.read.format("laketable").load(locR)
      .select("vec_id").distinct().withColumn("is_dup", lit(true))
    // serve the arrivals' assignments from the MAINTAINED index table
    localize(s.read.format("laketable").load(locI)
      .filter(col("vec_id") >= 400)
      .select("vec_id", "cell")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .orderBy("vec_id"))
  }

  // D7j — the SEMANTIC analog of d07_minhash_ordered: six vector batches
  // commit individually, a file-capped AvailableNow run admits them as
  // ordered micro-batches over a corpus-initialized cell index, and each
  // batch cosine-gates against exactly the index its predecessors
  // maintained — arrival k flags iff some SAME-CELL vector with
  // cosine > 0.43 exists in the corpus or in any arrival j < k. The
  // frozen centroids make the assignment arrival-INDEPENDENT, so the
  // oracle is the hier-assignment CTE once plus a single ord-predicate
  // self-join — the exact processing order, hash-verified. Plants:
  // arrivals 3 and 5 are exact twins (+10000) of arrivals 1 and 4 —
  // their cells enter the index only via in-run maintenance.
  def d07_semdedup_ordered(s: SparkSession, dir: String): DataFrame =
      Scratch.scoped(s) { sc =>
    import graft.lake._
    graft.functions.CosineSimilarity.register(s)
    val P = graft.queries.PipelineQueries
    val L = graft.queries.LakeQueries
    val ckpt = sc.dir("ckpt")
    val q = t(s, dir, "embeddings").select(col("vec_id"), expr(
      s"""transform(embedding, x ->
         |  CAST(round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale}D) AS FLOAT))"""
        .stripMargin).as("embedding"))
    def range(lo: Long, hi: Long) =
      q.filter(col("vec_id") >= lo && col("vec_id") < hi)
    def twins(lo: Long, hi: Long) = range(lo, hi)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    // ord 1..6: fresh, fresh, twins-of-1, fresh, twins-of-4, fresh
    val arrivals = Seq(range(400, 410), range(410, 420), twins(400, 410),
      range(420, 430), twins(420, 430), range(430, 440))
    val data = sc.table("d07sord-data", "vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("vec_id", 100L))
    val index = sc.table("d07sord-idx", "cell BIGINT,vec_id BIGINT,embedding ARRAY<FLOAT>",
      TruncateSpec("cell", 8L))
    val locR = sc.table("d07sord-res", "vec_id BIGINT",
      TruncateSpec("vec_id", 100L)).location
    val (locD, locI) = (data.location, index.location)
    val d1 = data.append(LakeWriter.writeDataFiles(
      q.filter(col("vec_id") < 400), data))
    val committed = data.snapshotDF(s, d1)
    val cents = committed.orderBy("vec_id").limit(P.SemDeDupExactK)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    index.setProperty(L.SemCentroidsProp, P.ivfModelToString(cents))
    index.append(LakeWriter.writeDataFiles(
      P.assignCellsHier(committed, cents)
        .select(col("cell"), col("vec_id"), col("embedding")), index))
    arrivals.foreach(a =>
      data.append(LakeWriter.writeDataFiles(a, data)))
    val sq = s.readStream.format("laketable")
      .option("startSnapshotId", d1.toString)
      .option("maxFilesPerTrigger", "1") // one arrival per micro-batch
      .load(locD)
      .writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val idx = LakeTable.load(locI)
        val cents2 =
          P.ivfModelFromString(idx.tableMeta.properties(L.SemCentroidsProp))
        val aInc = P.assignCellsHier(batch, cents2)
        val com = s.read.format("laketable").load(locI)
          .select(col("cell"), col("embedding").as("ce"))
        val res = LakeTable.load(locR)
        res.appendEpoch(LakeWriter.writeDataFiles(
          aInc.join(com, "cell")
            .filter(expr("cosine_sim(embedding, ce)") > 0.43)
            .select("vec_id").distinct(), res), "live-gate", epoch)
        idx.appendEpoch(LakeWriter.writeDataFiles(
          aInc.select(col("cell"), col("vec_id"), col("embedding")), idx),
          "live-maint", epoch)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()
    val dups = s.read.format("laketable").load(locR)
      .select("vec_id").distinct().withColumn("is_dup", lit(true))
    localize(s.read.format("laketable").load(locI)
      .filter(col("vec_id") >= 400)
      .select("vec_id", "cell")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .orderBy("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d07_semdedup_ordered" -> d07_semdedup_ordered _,
    "d07_semdedup_live" -> d07_semdedup_live _,
    "d07_ann_serve_live" -> d07_ann_serve_live _,
    "d07_ann_ordered" -> d07_ann_ordered _,
    "d07_seqpack_stream" -> d07_seqpack_stream _,
    "d07_bm25_stream" -> d07_bm25_stream _,
    "d07_hybrid_stream" -> d07_hybrid_stream _,
    "d07_substring_live" -> d07_substring_live _,
    "d07_ann_index_stream" -> d07_ann_index_stream _,
    "d07_minhash_stream" -> d07_minhash_stream _,
    "d07_minhash_live" -> d07_minhash_live _,
    "d07_minhash_ordered" -> d07_minhash_ordered _,
    "d07_semdedup_stream" -> d07_semdedup_stream _,
    "c10_stream_tumbling" -> c10_stream_tumbling _,
    "c11_stream_sliding" -> c11_stream_sliding _,
    "c12_stream_session" -> c12_stream_session _,
    "c13_watermark_latedrop" -> c13_watermark_latedrop _,
    "c14_stream_dedup" -> c14_stream_dedup _,
    "c22_stream_dedup_watermark" -> c22_stream_dedup_watermark _,
    "c15_stream_static_join" -> c15_stream_static_join _,
    "c16_stream_stateful" -> c16_stream_stateful _,
    "c17_moniker_ingest" -> c17_moniker_ingest _,
    "c18_stream_stream_join" -> c18_stream_stream_join _,
    "c19_stream_upsert" -> c19_stream_upsert _,
    "c20_stream_eq_upsert" -> c20_stream_eq_upsert _,
    "b68_convert_eq_deletes" -> b68_convert_eq_deletes _,
    "c21_stream_tws" -> c21_stream_tws _,
    "d07_stream_pipeline" -> d07_stream_pipeline _,
    "d07_stream_fuzzy" -> d07_stream_fuzzy _,
    "d07_pipeline_lake" -> d07_pipeline_lake _,
  )

  val oracle: Map[String, String] = Map(
    "d07_ann_index_stream" -> graft.queries.PipelineQueries
      .annIndexOracleSql("vec_id % 17 = 0 AND vec_id < 400"),
    // the stream-maintained index state equals the batch-encoded one, so
    // the committed-index serve replay (d02_ann_indexed's oracle) covers
    // the serve-from-stream-maintained-codes composition too
    "d07_ann_serve_live" -> graft.queries.PipelineQueries
      .ivfPqExactOracleSql("vec_id % 17 = 0 AND vec_id < 400"),
    // per-arrival serve replay: frozen models → assignment/codes computed
    // once, each arrival's serve = candidate prefix oid < arr*100
    "d07_ann_ordered" -> graft.queries.PipelineQueries
      .ivfPqOrderedOracleSql("vec_id % 17 = 0", arrivals = 5, width = 100),
    // batch-equivalence: batch boundaries never move positions (each
    // batch packs in doc_id order from the committed base), so the
    // completed stream equals the batch incremental pack's replay
    "d07_seqpack_stream" -> graft.queries.PipelineQueries
      .seqPackOracleSql("(doc_id % 2), doc_id", "doc_id % 2 = 1"),
    // the stream-maintained postings + rolled stats end at the FULL
    // corpus, so the full-corpus BM25 replay oracles the completed
    // stream (batch-equivalence, same oracle as d02_bm25_topk/_index)
    "d07_bm25_stream" -> graft.queries.PipelineQueries.bm25OracleSql,
    // both stream-maintained arms drain to the batch entry's committed
    // end state, so the fused serve rides the same end-to-end replay
    "d07_hybrid_stream" ->
      graft.queries.PipelineQueries.hybridIndexedOracleSql,
    // wave-grain replay of the live substring gate: a wave-k shingle is
    // a hit iff it appears in the corpus, ANY earlier wave, or at least
    // TWICE within its own wave (the within-batch self-dup term) —
    // monotone index growth plus the same-batch check per wave
    "d07_substring_live" -> {
      val L = graft.queries.PipelineQueries.SubstrShingle
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents WHERE len(text) >= $L),
         |src AS (
         |  SELECT doc_id, text, 0 AS wave FROM base WHERE doc_id % 2 = 0
         |  UNION ALL
         |  SELECT doc_id, text, 1 FROM base WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, 2 FROM base
         |  WHERE doc_id % 2 = 0 AND doc_id < 40
         |  UNION ALL
         |  SELECT doc_id + 3000000, text, 2 FROM base
         |  WHERE doc_id % 2 = 1 AND doc_id < 40
         |  UNION ALL
         |  SELECT doc_id + 4000000, text || ' zq zr zs', 2 FROM base
         |  WHERE doc_id % 2 = 1 AND doc_id >= 40 AND doc_id < 80
         |  UNION ALL
         |  SELECT doc_id + 5000000, reverse(text), 2 FROM base
         |  WHERE doc_id % 2 = 0 AND doc_id >= 40 AND doc_id < 60
         |  UNION ALL
         |  SELECT doc_id + 6000000, reverse(text), 2 FROM base
         |  WHERE doc_id % 2 = 0 AND doc_id >= 40 AND doc_id < 60),
         |sh AS (
         |  SELECT doc_id, wave, CAST(p AS BIGINT) AS p,
         |    CAST(concat('0x', substring(md5(substr(text, p + 1, $L)), 1, 15))
         |      AS BIGINT) AS shash
         |  FROM src, unnest(range(0, CAST(len(text) - ${L - 1} AS BIGINT))) AS u(p)),
         |known1 AS (SELECT DISTINCT shash FROM sh WHERE wave = 0),
         |known2 AS (SELECT DISTINCT shash FROM sh WHERE wave <= 1),
         |selfw1 AS (
         |  SELECT shash FROM sh WHERE wave = 1
         |  GROUP BY shash HAVING COUNT(*) >= 2),
         |selfw2 AS (
         |  SELECT shash FROM sh WHERE wave = 2
         |  GROUP BY shash HAVING COUNT(*) >= 2),
         |hits AS (
         |  SELECT doc_id, p AS st, p + $L AS en FROM sh
         |  WHERE wave = 1 AND (shash IN (SELECT shash FROM known1)
         |    OR shash IN (SELECT shash FROM selfw1))
         |  UNION ALL
         |  SELECT doc_id, p AS st, p + $L AS en FROM sh
         |  WHERE wave = 2 AND (shash IN (SELECT shash FROM known2)
         |    OR shash IN (SELECT shash FROM selfw2))),
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
    // the two waves union to the batch increment, and the gate reads the
    // same committed band space — the batch gate's replay oracles the
    // completed stream (SURVEY §5.4 batch-equivalence)
    "d07_minhash_stream" ->
      graft.queries.LakeQueries.minhashIncrementalOracleSql,
    // arrival-grained replay: the index grows MONOTONICALLY, so "dup iff
    // any band matches any STRICTLY EARLIER arrival" is one self-join on
    // (band, h0, h1) with ord < ord — no recursion; the oracle models the
    // exact per-arrival order the file-capped stream processes
    "d07_minhash_ordered" ->
      """WITH src AS (
        |  SELECT CAST(101 AS BIGINT) AS doc_id, 1 AS ord, text
        |  FROM documents WHERE doc_id = 0
        |  UNION ALL SELECT CAST(102 AS BIGINT), 2, text
        |  FROM documents WHERE doc_id = 2
        |  UNION ALL SELECT CAST(103 AS BIGINT), 3, text
        |  FROM documents WHERE doc_id = 0
        |  UNION ALL SELECT CAST(104 AS BIGINT), 4, text
        |  FROM documents WHERE doc_id = 4
        |  UNION ALL SELECT CAST(105 AS BIGINT), 5, text || ' zq zr zs'
        |  FROM documents WHERE doc_id = 2
        |  UNION ALL SELECT CAST(106 AS BIGINT), 6, text
        |  FROM documents WHERE doc_id = 6
        |  UNION ALL SELECT CAST(107 AS BIGINT), 7, text
        |  FROM documents WHERE doc_id = 6
        |  UNION ALL SELECT CAST(108 AS BIGINT), 8, text
        |  FROM documents WHERE doc_id = 8),
        |tk AS (
        |  SELECT doc_id, ord, text, string_split(text, ' ') AS t FROM src),
        |sh AS (
        |  SELECT doc_id, ord,
        |    CASE WHEN len(t) < 3 THEN
        |      [CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT)]
        |    ELSE list_transform(range(1, len(t) - 1), i ->
        |      CAST(concat('0x', substring(md5(
        |        t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
        |        t[CAST(i AS INT) + 2]), 1, 15)) AS BIGINT))
        |    END AS shash
        |  FROM tk),
        |lanes AS (
        |  SELECT doc_id, ord, bb.b AS lane,
        |    MIN(CAST(concat('0x', substring(md5(
        |      CAST(h AS VARCHAR) || '_' || CAST(bb.b AS VARCHAR)), 1, 15))
        |      AS BIGINT)) AS mh
        |  FROM (SELECT doc_id, ord, unnest(shash) AS h FROM sh),
        |       (SELECT unnest(range(0, 8)) AS b) bb
        |  GROUP BY doc_id, ord, bb.b),
        |sig AS (SELECT doc_id, ord, list(mh ORDER BY lane) AS sig
        |        FROM lanes GROUP BY doc_id, ord),
        |bands AS (
        |  SELECT doc_id, ord, bb.b AS band,
        |    sig[CAST(bb.b * 2 + 1 AS INT)] AS h0,
        |    sig[CAST(bb.b * 2 + 2 AS INT)] AS h1
        |  FROM sig, (SELECT unnest(range(0, 4)) AS b) bb),
        |dup AS (
        |  SELECT DISTINCT i.doc_id FROM bands i
        |  JOIN bands c ON c.band = i.band AND c.h0 = i.h0 AND c.h1 = i.h1
        |    AND c.ord < i.ord)
        |SELECT s.doc_id, (d.doc_id IS NOT NULL) AS is_fuzzy_dup
        |FROM (SELECT DISTINCT doc_id FROM src) s
        |LEFT JOIN dup d ON d.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    // the LIVE gate's band space GROWS between waves: side-1 arrivals
    // probe the side-0 (corpus) bands, side-2 arrivals probe side-0 ∪
    // side-1, and a band shared by TWO arrivals of the same wave flags
    // both (the within-batch self-dup term) — the oracle replays the
    // wave-ordered spaces with the same md5 banding CTEs as the
    // frozen-gate replay
    "d07_minhash_live" ->
      """WITH src AS (
        |  SELECT doc_id, text, 0 AS side FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 2 FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 3000000, text, 2 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 4000000, text || ' zq zr zs', 2 FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id >= 40 AND doc_id < 80
        |  UNION ALL
        |  SELECT doc_id + 5000000, reverse(text), 2 FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id >= 40 AND doc_id < 60
        |  UNION ALL
        |  SELECT doc_id + 6000000, reverse(text), 2 FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id >= 40 AND doc_id < 60),
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
        |com0 AS (SELECT DISTINCT band, h0, h1 FROM bands WHERE side = 0),
        |com01 AS (SELECT DISTINCT band, h0, h1 FROM bands WHERE side <= 1),
        |selfd AS (
        |  SELECT side, band, h0, h1 FROM bands WHERE side >= 1
        |  GROUP BY side, band, h0, h1 HAVING COUNT(*) >= 2),
        |dup AS (
        |  SELECT DISTINCT i.doc_id FROM bands i
        |  JOIN com0 c ON c.band = i.band AND c.h0 = i.h0 AND c.h1 = i.h1
        |  WHERE i.side = 1
        |  UNION
        |  SELECT DISTINCT i.doc_id FROM bands i
        |  JOIN com01 c ON c.band = i.band AND c.h0 = i.h0 AND c.h1 = i.h1
        |  WHERE i.side = 2
        |  UNION
        |  SELECT DISTINCT i.doc_id FROM bands i
        |  JOIN selfd c ON c.side = i.side AND c.band = i.band
        |    AND c.h0 = i.h0 AND c.h1 = i.h1)
        |SELECT i.doc_id, (d.doc_id IS NOT NULL) AS is_fuzzy_dup
        |FROM (SELECT DISTINCT doc_id FROM src WHERE side >= 1) i
        |LEFT JOIN dup d ON d.doc_id = i.doc_id
        |ORDER BY i.doc_id""".stripMargin,
    // the two waves union to the batch increment and the gate reads the
    // corpus-frozen committed cell index — the semantic incremental
    // replay oracles the completed stream (batch-equivalence)
    "d07_semdedup_stream" ->
      graft.queries.LakeQueries.semdedupIncrementalOracleSql,
    // semantic arrival-ordered replay: frozen centroids make assignment
    // arrival-independent, so the oracle is the hier-assignment CTE once
    // plus one self-join with the ord predicate (corpus = ord 0)
    "d07_semdedup_ordered" -> {
      val P = graft.queries.PipelineQueries
      val qSelect =
        s"""SELECT vec_id, list_transform(embedding,
           |    x -> round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale})) AS v
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 10000, list_transform(embedding,
           |    x -> round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale})) AS v
           |  FROM embeddings
           |  WHERE (vec_id >= 400 AND vec_id < 410)
           |     OR (vec_id >= 420 AND vec_id < 430)""".stripMargin
      s"WITH ${P.semDedupHierAssignCteSqlFrom(qSelect)},\n" +
        s"""a AS (
           |  SELECT vec_id, v, cell,
           |    CASE WHEN vec_id < 400 THEN 0
           |      WHEN vec_id >= 400 AND vec_id < 410 THEN 1
           |      WHEN vec_id >= 410 AND vec_id < 420 THEN 2
           |      WHEN vec_id >= 10400 AND vec_id < 10410 THEN 3
           |      WHEN vec_id >= 420 AND vec_id < 430 THEN 4
           |      WHEN vec_id >= 10420 AND vec_id < 10430 THEN 5
           |      ELSE 6 END AS ord
           |  FROM fassign
           |  WHERE vec_id < 440 OR (vec_id >= 10400 AND vec_id < 10430)),
           |dups AS (
           |  SELECT DISTINCT i.vec_id FROM a i JOIN a c
           |  ON c.cell = i.cell AND c.ord < i.ord
           |  WHERE i.ord >= 1 AND ${P.sdxCosSql("i.v", "c.v")} > 0.43)
           |SELECT i.vec_id, i.cell, (d.vec_id IS NOT NULL) AS is_dup
           |FROM (SELECT vec_id, cell FROM a WHERE ord >= 1) i
           |LEFT JOIN dups d ON d.vec_id = i.vec_id
           |ORDER BY i.vec_id""".stripMargin
    },
    // the LIVE semantic gate's cell population grows between waves:
    // wave-1 arrivals probe the corpus cells, wave-2 arrivals (incl. the
    // +10000 exact twins of wave-1 vectors) probe corpus ∪ wave-1 — the
    // oracle replays the wave-ordered spaces over the re-keyed vector
    // space under the same frozen first-K centroid derivation
    "d07_semdedup_live" -> {
      val P = graft.queries.PipelineQueries
      val qSelect =
        s"""SELECT vec_id, list_transform(embedding,
           |    x -> round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale})) AS v
           |  FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 10000, list_transform(embedding,
           |    x -> round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale})) AS v
           |  FROM embeddings WHERE vec_id >= 400 AND vec_id < 420
           |  UNION ALL
           |  SELECT vec_id + 20000, list_transform(embedding,
           |    x -> round(CAST(x AS DOUBLE) * ${P.SemDeDupExactScale})) AS v
           |  FROM embeddings WHERE vec_id >= 450 AND vec_id < 465""".stripMargin
      // per-wave self-dup terms (r13): a same-cell pair INSIDE one wave
      // flags both members — the oracle replay of the engine's
      // within-batch gate term
      s"WITH ${P.semDedupHierAssignCteSqlFrom(qSelect)},\n" +
        s"""inc1 AS (SELECT vec_id, v, cell FROM fassign
           |         WHERE vec_id >= 400 AND vec_id < 450),
           |inc2 AS (SELECT vec_id, v, cell FROM fassign WHERE vec_id >= 450),
           |com0 AS (SELECT vec_id, v, cell FROM fassign WHERE vec_id < 400),
           |com01 AS (SELECT * FROM com0 UNION ALL SELECT * FROM inc1),
           |dups AS (
           |  SELECT DISTINCT i.vec_id FROM inc1 i JOIN com0 c ON c.cell = i.cell
           |  WHERE ${P.sdxCosSql("i.v", "c.v")} > 0.43
           |  UNION
           |  SELECT DISTINCT i.vec_id FROM inc1 i JOIN inc1 j ON j.cell = i.cell
           |  WHERE j.vec_id <> i.vec_id AND ${P.sdxCosSql("i.v", "j.v")} > 0.43
           |  UNION
           |  SELECT DISTINCT i.vec_id FROM inc2 i JOIN com01 c ON c.cell = i.cell
           |  WHERE ${P.sdxCosSql("i.v", "c.v")} > 0.43
           |  UNION
           |  SELECT DISTINCT i.vec_id FROM inc2 i JOIN inc2 j ON j.cell = i.cell
           |  WHERE j.vec_id <> i.vec_id AND ${P.sdxCosSql("i.v", "j.v")} > 0.43)
           |SELECT i.vec_id, i.cell, (d.vec_id IS NOT NULL) AS is_dup
           |FROM (SELECT vec_id, cell FROM fassign WHERE vec_id >= 400) i
           |LEFT JOIN dups d ON d.vec_id = i.vec_id
           |ORDER BY i.vec_id""".stripMargin
    },
    "c10_stream_tumbling" ->
      """SELECT epoch_us(ts) - epoch_us(ts) % 300000000 AS w_us, COUNT(*) AS n
        |FROM events GROUP BY w_us ORDER BY w_us""".stripMargin,
    "c11_stream_sliding" ->
      """SELECT w_us, COUNT(*) AS n FROM (
        |  SELECT epoch_us(ts) - epoch_us(ts) % 300000000 - i * 300000000 AS w_us
        |  FROM events, generate_series(0, 1) g(i))
        |GROUP BY w_us ORDER BY w_us""".stripMargin,
    "c12_stream_session" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
        |b AS (SELECT user_id, tu,
        |        CASE WHEN LAG(tu) OVER w IS NULL
        |               OR tu - LAG(tu) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tu)),
        |g AS (SELECT user_id, tu, SUM(brk) OVER
        |        (PARTITION BY user_id ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM b)
        |SELECT user_id, MIN(tu) AS session_start_us, COUNT(*) AS n
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin,
    // c13/c17 are deterministic replays over FIXED synthetic inputs, so
    // their end states are reconstructed-constant oracles (the b02/b03
    // pattern): the SQL re-declares the scenario's outcome — c13's
    // finalized window set under the 10-min watermark, c17's per-bucket
    // ingest counts with the duplicate moniker deduped — and the driver
    // hash-checks the engine against it.
    "c13_watermark_latedrop" ->
      """SELECT CAST(w AS BIGINT) AS w_us, CAST(n AS BIGINT) AS n FROM (VALUES
        |  (epoch_us(TIMESTAMP '2024-01-01 11:40:00'), 1),
        |  (epoch_us(TIMESTAMP '2024-01-01 11:55:00'), 1),
        |  (epoch_us(TIMESTAMP '2024-01-01 12:00:00'), 1),
        |  (epoch_us(TIMESTAMP '2024-01-01 13:00:00'), 1)) t(w, n)
        |ORDER BY 1""".stripMargin,
    "c17_moniker_ingest" ->
      """SELECT CAST(b AS BIGINT) AS "timeperiod_loadedBy",
        |       CAST(n AS BIGINT) AS n, CAST(n AS BIGINT) AS n_ids
        |FROM (VALUES (1699999800000000, 100),
        |             (1700000100000000, 101),
        |             (1700000400000000, 102)) t(b, n)
        |ORDER BY 1""".stripMargin,
    "c14_stream_dedup" ->
      "SELECT DISTINCT event_id FROM events ORDER BY event_id",
    "c22_stream_dedup_watermark" ->
      "SELECT DISTINCT event_id FROM events ORDER BY event_id",
    "c15_stream_static_join" ->
      """SELECT n_name, COUNT(*) AS n FROM events
        |JOIN nation ON user_id % 25 = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "c16_stream_stateful" ->
      "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id ORDER BY user_id",
    "c19_stream_upsert" ->
      """WITH r AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id, tsu AS last_ts_us,
        |       n AS n_events
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "c18_stream_stream_join" ->
      """SELECT l.event_id AS click_id, r.event_id AS view_id
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'view'
        |  AND epoch_us(r.ts) >= epoch_us(l.ts)
        |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 21600000000
        |ORDER BY click_id, view_id""".stripMargin,
    "c21_stream_tws" ->
      """SELECT user_id, COUNT(*) AS n, MAX("value") AS vmax
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // replay 1: keys < 1000 as-is; replay 2 overrides [500, 1500) with
    // price*3 / status 'U' — keep-last per key
    "c20_stream_eq_upsert" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey >= 500 THEN o_totalprice * 3
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey >= 500 THEN 'U'
        |       ELSE o_orderstatus END AS o_orderstatus
        |FROM orders WHERE o_orderkey < 1500 ORDER BY o_orderkey""".stripMargin,
    // identical keep-last state to c20 — the eq→pos conversion between
    // the upserts and the read must be invisible to the scan
    "b68_convert_eq_deletes" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey >= 500 THEN o_totalprice * 3
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey >= 500 THEN 'U'
        |       ELSE o_orderstatus END AS o_orderstatus
        |FROM orders WHERE o_orderkey < 1500 ORDER BY o_orderkey""".stripMargin,
    // gate (the shared GateCteSql block, hash-green in the d06 oracles)
    // + DISTINCT: the completed dedup stream keeps exactly one copy of
    // each gated doc
    "d07_stream_pipeline" ->
      (s"WITH ${graft.queries.PipelineQueries.GateCteSql}\n" +
        "SELECT doc_id, lang, n_tok FROM kept ORDER BY doc_id"),
    // gate + the d03_simhash signature derivation + DISTINCT: the
    // signature-keyed bounded-state dedup keeps exactly one survivor per
    // gated signature, so the completed stream's signature SET is the
    // batch one regardless of arrival order
    "d07_stream_fuzzy" ->
      (s"WITH ${graft.queries.PipelineQueries.GateCteSql},\n" +
        s"${graft.queries.PipelineQueries.simhashSigCteSql("kept")}\n" +
        "SELECT DISTINCT sig FROM sigs ORDER BY sig"),
    "d07_pipeline_lake" ->
      (s"WITH ${graft.queries.PipelineQueries.GateCteSql}\n" +
        "SELECT doc_id, lang, n_tok FROM kept ORDER BY doc_id"),
  )
}
