package perfbench

/** The per-layer metrics of a traced run, by the names BENCHMARK.json
  * gives them; BENCHMARK.json alone gives their units. Timings come from
  * the harness's spans around each layer call; counts from the listeners,
  * the counting store and the workload itself. run.py fails a run that
  * reports a name the file does not list, and reads a listed layer the
  * workload does not call as 0.
  */
object Layers {
  def collect(tracer: Tracer, listened: Map[String, Double],
      store: StoreCounters.Snap, retries: Long, out: Outcome,
      untracedOpMs: Double): Map[String, Double] = {
    val lt = tracer.layers
    def p50(l: String) = lt.get(l).map(t => Stats.p50(t.durationsMs)).getOrElse(0.0)
    def sum(l: String) = lt.get(l).map(_.totalMs).getOrElse(0.0)
    def self(l: String) = lt.get(l).map(_.selfMs).getOrElse(0.0)
    val sweeps = lt.get("bookkeeper").map(_.durationsMs).getOrElse(Nil)
    val commits = out.commits.toDouble
    val plans = out.plans.toDouble
    // the traced and the untraced measurements ran on identical set-ups
    val traced = out.e2e.getOrElse("op_ms_p50", 0.0)
    val base = untracedOpMs
    val timed = Map(
      "writer.ms_p50" -> p50("writer"), "writer.ms_sum" -> sum("writer"),
      "writer.self_ms" -> self("writer"),
      "monikers.publish_ms_p50" -> p50("monikers"),
      "monikers.self_ms" -> self("monikers"),
      "bookkeeper.sweep_ms_p50" -> p50("bookkeeper"),
      "bookkeeper.sweep_ms_tail" ->
        Stats.tail(sweeps).map(_._2).getOrElse(sweeps.maxOption.getOrElse(0.0)),
      "bookkeeper.self_ms" -> self("bookkeeper"),
      "expire.ms_p50" -> p50("expire"), "expire.self_ms" -> self("expire"),
      "retention.ms_p50" -> p50("retention"),
      "retention.self_ms" -> self("retention"),
      "compact.ms" -> sum("compact"),
      "scan.plan_ms_p50" -> p50("scan.plan"), "scan.exec_ms_p50" -> p50("scan.exec"),
      "scan.self_ms" -> (self("scan.plan") + self("scan.exec")),
      "query.ms_p50" -> p50("query"), "query.self_ms" -> self("query"),
      "stream.consumer_self_ms" -> self("stream.consumer"),
      "commit.retries" -> retries.toDouble,
      "store.read_ops" -> store.reads.toDouble,
      "store.write_ops" -> store.writes.toDouble,
      "store.list_ops" -> store.lists.toDouble,
      "store.bytes_read" -> store.bytesRead.toDouble,
      "store.bytes_written" -> store.bytesWritten.toDouble,
      "store.ops_per_commit" -> Stats.ratio(store.ops, commits),
      "store.ops_per_plan" -> Stats.ratio(store.ops, plans),
      "trace.spans" -> tracer.count.toDouble,
      "trace.cost_ms" -> tracer.costMs,
      "trace.op_ms_p50" -> traced,
      "trace.overhead_ms" -> (traced - base),
      "trace.overhead_pct" -> 100.0 * Stats.ratio(traced - base, base))
    listened ++ timed ++ out.layers
  }
}
