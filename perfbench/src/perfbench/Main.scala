package perfbench

import org.apache.spark.sql.SparkSession

/** What a run of one workload hands back. `e2e` holds the end-to-end
  * metrics every workload reports; `named` the workload's own metrics
  * (name, value, unit), printed in the report; `layers` the per-layer
  * counters the workload knows beyond the shared listeners; `commits` and
  * `plans` what the store's requests are divided by.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    e2e: Map[String, Double],
    named: Seq[(String, Double, String)],
    layers: Map[String, Double],
    conditions: Map[String, String],
    commits: Long = 0L,
    plans: Long = 0L)

/** Shared run context. Tables live on the `mocks3:` store under the
  * run's work directory; set-up runs with the store's latency off, the
  * measured window with it on.
  */
final class Env(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val workDir: String) {
  def location(tag: String): String = s"mocks3:${localDir(tag)}"
  /** A path no other set-up of the run uses. */
  def localDir(tag: String): String = s"$workDir/$tag-${Env.n.incrementAndGet()}"
  def storeLatency(on: Boolean): Unit =
    if (on) System.setProperty(graft.lake.MockStoreLatency.Prop, Main.StoreLatencyMs.toString)
    else System.clearProperty(graft.lake.MockStoreLatency.Prop)
}

object Env {
  private val n = new java.util.concurrent.atomic.AtomicInteger
}

trait Workload {
  type State
  /** Length of the untimed warm-up window, run before any timed set-up
    * so the JIT has compiled the measured paths. */
  def warmUpSeconds: Int
  /** The warm-up's set-up: by default a full one. */
  def warmUpSetup(env: Env): State = setup(env)
  /** Build inputs and tables; timed as set-up. */
  def setup(env: Env): State
  /** Release what a discarded set-up built. */
  def discard(env: Env, s: State): Unit
  /** The measured window, then the correctness checks. */
  def measure(env: Env, s: State): Outcome
}

/** Benchmark harness entry.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * runs one workload and prints a human-readable report and, as its last
  * line, a JSON object with `correct`, `attempted`, `failed` and the
  * metric `values` by name; run.py adds the units BENCHMARK.json gives them.
  *
  *   perfbench.Main --workload train --seed <n> --work <dir>
  *
  * runs every workload's warm-up once and prints nothing; the build takes
  * its class-data archive from such a run.
  */
object Main {
  val StoreLatencyMs = 2
  /** Spark's task slots. Two of the host's four vCPUs: the rest run the
    * driver-side threads (writers, committer, stream, the client), the
    * collector and the compiler, so the run does not queue for a vCPU. */
  val Cores = 2

  val workloads: Map[String, () => Workload] = Map(
    "ingest" -> (() => new Ingest),
    "scan" -> (() => new Scan),
    "text_index" -> (() => new TextIndex))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    require(name == "train" || workloads.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val workDir = opt("work")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.lake.CommitCas.register("mocks3", graft.lake.ConditionalPutCas)
    val exit =
      try if (name == "train") {
        workloads.toSeq.sortBy(_._1).foreach { case (_, wl) => warmUp(spark, wl(), seed, workDir) }
        0
      } else run(spark, workloads(name)(), name, seed, opt("seconds").toInt,
        opt("trace") == "1", workDir)
      finally spark.stop()
    sys.exit(exit)
  }

  /** The measured window of a workload, with the store's latency on. */
  private def measure(wl: Workload)(env: Env, st: wl.State): Outcome = {
    env.storeLatency(on = true)
    try wl.measure(env, st) finally env.storeLatency(on = false)
  }

  /** The untimed warm-up: its own set-up and a short window. */
  private def warmUp(spark: SparkSession, wl: Workload, seed: Long,
      workDir: String): Outcome = {
    val env = new Env(spark, seed, wl.warmUpSeconds, new Tracer(false), workDir)
    val st = wl.warmUpSetup(env)
    try measure(wl)(env, st) finally wl.discard(env, st)
  }

  /** Median time of a fixed single-thread integer loop, taken just before
    * the measured window: it moves only with the host's speed, so a metric
    * that moves on identical code can be checked against it.
    */
  private def cpuRefMs(): Double = Stats.p50((0 until 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    // xorshift never reaches 0; the test keeps the JIT from dropping the loop
    if (x == 0L) println(x)
    (System.nanoTime() - t0) / 1e6
  })

  private def run(spark: SparkSession, wl: Workload, name: String, seed: Long,
      seconds: Int, trace: Boolean, workDir: String): Int = {
    val untraced = new Env(spark, seed, seconds, new Tracer(false), workDir)
    untraced.storeLatency(on = false)

    // An untimed warm-up set-up and window come first. Then three set-ups
    // are timed and their median reported. An untraced run measures the
    // third set-up. A traced run measures the second traced and the third
    // untraced, as the baseline of the tracing overhead; what warm-up is
    // left favours the later, untraced window, so the overhead reads high
    // rather than low.
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def setup(): wl.State = {
      val t0 = System.nanoTime()
      val st = wl.setup(untraced)
      setupS += (System.nanoTime() - t0) / 1e9
      st
    }
    val warm = warmUp(spark, wl, seed, workDir)
    wl.discard(untraced, setup())
    if (!trace) wl.discard(untraced, setup())
    val state = setup()

    val env = new Env(spark, seed, seconds, new Tracer(trace), workDir)
    val sparkCounters = new SparkCounters
    val streamCounters = new StreamCounters
    if (trace) {
      spark.sparkContext.addSparkListener(sparkCounters)
      spark.streams.addListener(streamCounters)
    }
    val cpuRef = cpuRefMs()
    val store0 = StoreCounters.snap()
    val retries0 = graft.lake.LakeTable.commitRetries.get()
    val jvm0 = Jvm.snap()
    val out = try measure(wl)(env, state) finally wl.discard(env, state)
    val jvm = Jvm.snap() - jvm0
    val cpuMsPerOp = Stats.ratio(jvm.cpuNs / 1e6, out.attempted.toDouble)
    val store = StoreCounters.snap() - store0
    val retries = graft.lake.LakeTable.commitRetries.get() - retries0
    val listened = if (!trace) Map.empty[String, Double] else {
      val r = sparkCounters.reading() ++ streamCounters.reading()
      spark.sparkContext.removeSparkListener(sparkCounters)
      spark.streams.removeListener(streamCounters)
      r
    }
    val baseline = if (!trace) None else {
      val st = setup()
      try Some(measure(wl)(untraced, st)) finally wl.discard(untraced, st)
    }

    val e2e = out.e2e + ("setup_s" -> Stats.p50(setupS.toSeq))
    val problems = out.problems ++ warm.problems ++
      baseline.toSeq.flatMap(_.problems)
    val conditions = Map(
      "workload" -> name, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> s"local[$Cores]",
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "store_latency_ms" -> StoreLatencyMs.toString,
      "cpu_ref_ms" -> f"$cpuRef%.2f", "jit" -> Jvm.jitFlags,
      "window_cpu_ms_per_op" -> f"$cpuMsPerOp%.1f",
      "window_compile_ms" -> jvm.compileMs.toString,
      "setup_s_each" -> setupS.map(s => f"$s%.3f").mkString(",")) ++ out.conditions
    println("conditions " + Json.obj(conditions.toSeq.sortBy(_._1).map {
      case (k, v) => k -> Json.str(v) }))
    out.named.foreach { case (k, v, u) => println(f"metric $k%-40s $v%14.3f $u") }
    println(s"ops_attempted ${out.attempted}")
    println(s"ops_failed ${out.failed}")
    problems.foreach(p => println(s"CHECK FAILED: $p"))

    val values: Map[String, Double] = baseline match {
      case None => e2e
      case Some(b) =>
        val base = b.e2e("op_ms_p50")
        val layers = Layers.collect(env.tracer, listened, store, retries, out, base) ++
          Map("host.cpu_ref_ms" -> cpuRef, "jvm.cpu_ms_per_op" -> cpuMsPerOp,
            "jvm.compile_ms" -> jvm.compileMs.toDouble)
        println("layer self_ms " + layers.toSeq.sortBy(_._1).collect {
          case (k, v) if k.endsWith("self_ms") => f"$k=$v%.1f"
        }.mkString(" "))
        println(f"tracing overhead: op_ms_p50 untraced $base%.2f ms, " +
          f"traced ${out.e2e("op_ms_p50")}%.2f ms (${layers("trace.overhead_pct")}%+.1f%%)")
        layers
    }
    val result = Json.obj(Seq(
      "correct" -> problems.isEmpty.toString,
      "attempted" -> math.max(1L, out.attempted).toString,
      "failed" -> out.failed.toString,
      "values" -> Json.obj(values.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    println(result)
    if (problems.isEmpty) 0 else 1
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
