package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One call from the harness into a layer. `parent` is the enclosing span
  * on the same thread (0 = none).
  */
final case class Span(id: Long, parent: Long, layer: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-layer summary of the recorded spans. Self time is a span's
  * duration minus the part its child spans cover.
  */
final case class LayerTimes(durationsMs: Seq[Double],
    totalMs: Double, selfMs: Double)

/** Spans around the harness's calls into each layer. Disabled, `span`
  * only runs its body, so untraced runs carry no tracing cost. Spans stay
  * in memory and are summarised when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val costNs = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val outer = stack.get
      val id = ids.incrementAndGet()
      stack.set(id :: outer)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), layer, start, end))
        costNs.addAndGet((start - t0) + (System.nanoTime() - end))
      }
    }

  def count: Int = spans.size

  /** Time spent recording spans, in ms. */
  def costMs: Double = costNs.get() / 1e6

  def layers: Map[String, LayerTimes] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      val durs = ss.map(_.ms)
      val self = ss.map(s =>
        (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).sum
      layer -> LayerTimes(durs, durs.sum, self)
    }
  }
}

/** Summary statistics used by every workload. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private val Ladder = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of the ladder with at least ten samples
    * beyond it, as (percentile, value); None below 20 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Ladder.find(p => xs.size * (100.0 - p) / 100.0 >= 10.0)
      .map(p => (p, quantile(xs, p / 100.0)))

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}
