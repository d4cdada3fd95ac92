package graft

import org.apache.spark.sql.SparkSession

/** The one way to scope a session setting. */
object SessionConf {
  private final class Held(val value: String, val prev: Option[String]) {
    var depth = 1
  }
  private val held =
    scala.collection.mutable.HashMap.empty[(SparkSession, String), Held]

  /** Run `body` with each `key -> value` set on `s`, reentrant per session
    * and key: the OUTERMOST scope captures the old value and the last exit
    * restores it, so concurrent scopes (two writers on two driver threads)
    * can never capture each other's value as the one to restore. A nested
    * or concurrent scope asking the SAME value just joins; one asking a
    * different value for a key already scoped fails fast. One lock guards
    * the conf get/set only, never `body`.
    */
  def withConf[A](s: SparkSession, settings: (String, String)*)(body: => A): A = {
    var entered = List.empty[String]
    try {
      held.synchronized(settings.foreach { case (k, v) =>
        held.get((s, k)) match {
          case Some(h) if h.value == v => h.depth += 1
          case Some(h) => throw new IllegalStateException(
            s"$k is scoped to '${h.value}'; a concurrent scope asked '$v'")
          case None =>
            held((s, k)) = new Held(v, s.conf.getOption(k))
            s.conf.set(k, v)
        }
        entered ::= k
      })
      body
    } finally held.synchronized(entered.foreach { k =>
      val h = held((s, k))
      h.depth -= 1
      if (h.depth == 0) {
        held.remove((s, k))
        h.prev.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    })
  }
}
