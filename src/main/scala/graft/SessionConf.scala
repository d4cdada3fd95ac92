package graft

import org.apache.spark.sql.SparkSession

/** Which session settings a graft session has, and the one way to change
  * them: [[builder]] gives every session the same defaults, [[withConf]]
  * scopes a temporary setting, [[lakeCatalog]] registers a catalog.
  */
object SessionConf {
  /** The session defaults: `local[cpus]` with as many shuffle partitions,
    * UTC, no UI, and testdata read by the DSv2 parquet reader with
    * aggregate pushdown (which exists only in that reader). Pinned from
    * the start, so no plan depends on which entries ran before it.
    */
  def builder(app: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.useV1SourceList", "")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")

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

  /** Register a `LakeCatalog` named `name` on `s`, with the warehouse
    * `warehouse` makes, unless the session has a catalog by that name;
    * returns the warehouse in effect. Spark keeps a catalog it has loaded,
    * so a second registration could not take effect anyway.
    */
  def lakeCatalog(s: SparkSession, name: String)(warehouse: => String): String = {
    val key = s"spark.sql.catalog.$name"
    held.synchronized(if (s.conf.getOption(key).isEmpty) {
      s.conf.set(key, classOf[graft.lake.dsv2.LakeCatalog].getName)
      s.conf.set(s"$key.warehouse", warehouse)
    })
    s.conf.get(s"$key.warehouse")
  }

  /** The catalog of the SQL-DML entries (MERGE/UPDATE need a
    * catalog-resolvable target), registered on first use, so a session
    * not built by [[builder]] can run them too. One warehouse per
    * session, deleted with everything in it when the JVM exits.
    */
  def dmlCatalog(s: SparkSession): String = {
    val cat = "graftlake"
    lakeCatalog(s, cat) {
      val wh = new org.apache.hadoop.fs.Path(
        graft.queries.Scratch.location("dml-wh"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.mkdirs(wh) // deleteOnExit registers only a path that exists
      fs.deleteOnExit(wh)
      wh.toString
    }
    cat
  }
}
