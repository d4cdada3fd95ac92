package graft.queries

import graft.{SessionConf, SparkEntry, SparkSpec}
import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException
import org.apache.spark.sql.execution.ExplainMode

/** One session: what an entry returns and how it plans do not depend on
  * which entries ran before it in the session, and the DML entries leave
  * neither a table in their catalog nor a source view behind.
  */
class SessionSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Each entry's result rows and its formatted plan, taken before it
    * runs, with expression and plan ids stripped. */
  private def visit(names: Seq[String]): Map[String, (Seq[String], String)] =
    names.map { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .replaceAll("#\\d+", "").replaceAll("plan_id=\\d+", "")
      n -> (df.collect().map(_.toString).toSeq, plan)
    }.toMap

  test("a sample of entries gives the same results and plans in either order") {
    val sample = Seq("b01_scan", "b08_filter", "b09_join_inner",
      "b34_merge_upsert", "b35_update")
    val backward = visit(sample.reverse)
    val forward = visit(sample)
    sample.foreach { n =>
      assert(forward(n)._1 == backward(n)._1, s"$n: results differ")
      assert(forward(n)._2 == backward(n)._2, s"$n: plans differ")
    }
  }

  test("the DML entries leave no table in their catalog and no source view") {
    val cat = SessionConf.dmlCatalog(spark)
    def tables(): Set[String] =
      try spark.sql(s"SHOW TABLES IN $cat.ns").collect().map(_.getString(1)).toSet
      catch { case _: NoSuchNamespaceException => Set.empty }
    val before = tables()
    Seq("b34_merge_upsert", "b35_update", "c19_stream_upsert")
      .foreach(n => SparkEntry.queries(n)(spark, dir).collect())
    val views = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.matches("graft_.*_src.*")).map(_.name)
    assert(views.isEmpty, s"source views left: ${views.mkString(", ")}")
    assert(tables().subsetOf(before), s"tables left: ${tables() -- before}")
  }
}
