package graft

import scala.collection.mutable.ArrayBuffer

/** What one [[Trace.capture]] recorded: spans (seconds), counts and notes,
  * each kind in recording order. A name recorded more than once keeps
  * every value, so a per-run series is the repeated counts of one name.
  */
final case class TraceRecord(spans: Seq[(String, Double)],
    counts: Seq[(String, Long)], notes: Seq[(String, String)]) {
  private def last[V](kind: String, kv: Seq[(String, V)], name: String): V =
    kv.reverseIterator.collectFirst { case (`name`, v) => v }.getOrElse(
      throw new NoSuchElementException(s"no $kind '$name' in $this"))
  /** The last span recorded under `name`. */
  def span(name: String): Double = last("span", spans, name)
  /** The last count recorded under `name`. */
  def count(name: String): Long = last("count", counts, name)
  /** Every count recorded under `name`, in order. */
  def series(name: String): Seq[Long] = counts.collect { case (`name`, v) => v }
  /** The last note recorded under `name`. */
  def note(name: String): String = last("note", notes, name)
}

/** One scoped query trace in place of process-global side channels (the
  * shape of Iceberg's ScanReport/CommitReport): query code records what it
  * did, and only a caller that asked for it through [[capture]] gets it.
  * The recorder is thread-local, so two entries traced on two threads
  * never see each other's values. Outside a capture every call costs one
  * ThreadLocal read: the by-name values are never evaluated, so a
  * diagnostic computed only for the trace (a plan string, a file-list
  * walk) does not run in production calls.
  */
object Trace {
  private final class Recorder {
    val spans = ArrayBuffer.empty[(String, Double)]
    val counts = ArrayBuffer.empty[(String, Long)]
    val notes = ArrayBuffer.empty[(String, String)]
  }
  private val current = new ThreadLocal[Recorder]

  /** Run `body` with a fresh recorder on this thread; a nested capture gets
    * its own, and the outer one is back in place when it ends. */
  def capture[A](body: => A): (A, TraceRecord) = {
    val outer = current.get
    val r = new Recorder
    current.set(r)
    try {
      val a = body
      (a, TraceRecord(r.spans.toSeq, r.counts.toSeq, r.notes.toSeq))
    } finally current.set(outer)
  }

  /** Whether a capture is open on this thread. */
  private[graft] def active: Boolean = current.get != null

  /** Append what another thread's capture recorded to this thread's open
    * capture, if any (an overlapped branch's record, at its join). */
  private[graft] def append(rec: TraceRecord): Unit = {
    val r = current.get
    if (r != null) {
      r.spans ++= rec.spans
      r.counts ++= rec.counts
      r.notes ++= rec.notes
    }
  }

  def span(name: String, seconds: => Double): Unit = {
    val r = current.get
    if (r != null) r.spans += name -> seconds
  }

  /** Run `body`, recording its wall seconds as the span `name`. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    span(name, (System.nanoTime() - t0) / 1e9)
    a
  }

  def count(name: String, n: => Long): Unit = {
    val r = current.get
    if (r != null) r.counts += name -> n
  }

  def note(name: String, text: => String): Unit = {
    val r = current.get
    if (r != null) r.notes += name -> text
  }
}
