package graft.queries

import graft.Tables.{dec4, t, us}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 Part B — relational query surface.
  *
  * Each query has a DuckDB oracle (RelationalQueries.oracle) producing an
  * identical result set: same column names, total ORDER BY, doubles rounded
  * per the §2 determinism rules. The reference delegates all querying to
  * Spark over the table it maintains (reference Writer.java:141-145); this
  * is that declared surface, expressed with the DataFrame API so Catalyst
  * plans the physical execution (pushdown, broadcast, AQE).
  */
object RelationalQueries {

  // B1 — parquet scan; COUNT/MIN/MAX answered from footer metadata alone
  // (parquet aggregate pushdown — no row data read at any scale).
  def b01_scan(s: SparkSession, dir: String): DataFrame = {
    // aggregate pushdown needs the DSv2 reader (SessionConf.builder)
    t(s, dir, "lineitem").agg(
      count(lit(1)).as("cnt"),
      min("l_orderkey").as("min_ok"),
      max("l_orderkey").as("max_ok"))
  }

  // B7 — projection with computed column.
  def b07_project(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        dec4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(100)

  // B8 — conjunctive predicates: BETWEEN, IN, LIKE (all pushed to parquet).
  def b08_filter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate").between(
        lit("1994-01-01").cast("timestamp"), lit("1994-12-31").cast("timestamp"))
        && col("l_discount").isin(0.05, 0.06, 0.07)
        && col("l_returnflag").like("A%"))
      .agg(count(lit(1)).as("cnt"))

  // B9 — two-dim equi-join + agg (TPC-H Q5 shape).
  def b09_join_inner(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(dec4(sum(col("o_totalprice"))).as("total"))
      .orderBy("n_name")

  // B10 — same result, dims explicitly broadcast (plan asserted in tests).
  def b10_join_broadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(dec4(sum(col("o_totalprice"))).as("total"))
      .orderBy("n_name")

  // B11 — left outer join; COUNT(col) counts only matched rows.
  def b11_join_left(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  // B12 — anti join (customers with no orders).
  def b12_join_anti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("cnt"))

  // B12b — semi join (customers with at least one order).
  def b12_join_semi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("cnt"))

  // B13 — theta (non-equi) join, planned as nested loop over tiny inputs.
  def b13_join_theta(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region")
      .join(t(s, dir, "nation"), col("n_regionkey") > col("r_regionkey"))
      .agg(count(lit(1)).as("cnt"))

  // B14 — range join: purchase within 1h after a click by the same user.
  // Compared in epoch-µs space on both sides (events.ts is ns parquet that
  // Spark truncates to µs; DuckDB keeps ns — integer µs math makes the two
  // engines see identical values).
  def b14_range_join(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), us(col("ts")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), us(col("ts")).as("p_us"))
    clicks.join(purchases,
        col("cu") === col("pu")
          && col("p_us") > col("c_us")
          && col("p_us") <= col("c_us") + lit(3600000000L))
      .agg(count(lit(1)).as("cnt"))
  }

  // B15 — as-of join: latest click at-or-before each purchase, same user.
  def b15_asof_join(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), us(col("ts")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("pu"), us(col("ts")).as("p_us"))
    purchases.join(clicks, col("pu") === col("cu") && col("c_us") <= col("p_us"))
      .groupBy("event_id")
      .agg(max(col("c_us")).as("last_click_us"))
      .orderBy("event_id")
  }

  // B15b — the same as-of semantics via the scalable union + ordered-window
  // algorithm (operators.AsOfJoin): one shuffle, no quadratic join blowup.
  // Same oracle as b15 — the two implementations must agree exactly.
  def b15_asof_scalable(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), us(col("ts")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), us(col("ts")).as("p_us"))
    graft.operators.AsOfJoin.latestAtOrBefore(
        purchases, clicks, "user_id", "p_us", "c_us", "last_click_us")
      .filter(col("last_click_us").isNotNull)
      .select("event_id", "last_click_us")
      .orderBy("event_id")
  }

  // B16 — cross join.
  def b16_cross(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .agg(count(lit(1)).as("cnt"))

  // B17 — hash aggregate, TPC-H Q1 shape (partial+final agg, codegen'd).
  def b17_q1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dec4(sum(col("l_quantity"))).as("sum_qty"),
        dec4(sum(col("l_extendedprice"))).as("sum_base"),
        dec4(avg(col("l_extendedprice"))).as("avg_price"),
        dec4(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  // B18 — distinct aggregates (expand + two-phase agg).
  def b18_distinct_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("cd_part"),
      countDistinct(col("l_suppkey")).as("cd_supp"))

  // B19 — approximate distinct (HLL++). Spark's sketch value can't be
  // reproduced in another engine, so the HASHED output is (exact count,
  // within-tolerance boolean): the oracle recomputes the exact count and
  // expects `true` — the approximation quality itself rides the hash
  // compare. HLL++ is deterministic (hash-based, merge-commutative), so
  // the boolean can't flap across runs or partitionings.
  def b19_approx_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("exact_part"),
      approx_count_distinct(col("l_partkey")).as("approx_part"))
      .select(col("exact_part"),
        (abs(col("approx_part") - col("exact_part")).cast("double") /
          col("exact_part") <= 0.05).as("within_tol"))

  // B20 — ROLLUP with GROUPING marker.
  def b20_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  // B20b — CUBE with grouping markers (all four grouping combinations).
  def b20_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"),
        col("g_rf"), col("g_ls"))

  // B20c — explicit GROUPING SETS (arbitrary set list, not just the
  // rollup/cube lattices): (rf), (rf, ls), and the grand total.
  def b20_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
        |ORDER BY rf NULLS FIRST, ls NULLS FIRST, g_rf, g_ls""".stripMargin)
  }

  // B21 — stddev aggregate.
  def b21_stddev(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(dec4(stddev_samp(col("o_totalprice"))).as("sd"))
      .orderBy("o_orderpriority")

  // B21b — statistical aggregates: exact interpolated percentiles,
  // correlation, sample covariance (matches DuckDB quantile_cont/corr).
  def b21_stats_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        dec4(expr("percentile(l_extendedprice, 0.5)")).as("median_price"),
        dec4(expr("percentile(l_extendedprice, 0.95)")).as("p95_price"),
        dec4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
        dec4(covar_samp(col("l_discount"), col("l_tax"))).as("cov_dt"))
      .orderBy("l_returnflag")

  // B22 — ranking window: top-3 orders per customer.
  def b22_window_rank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "rn")
      .orderBy("o_custkey", "rn")
  }

  // B22b — the full ranking-function family over one window: rank /
  // dense_rank (gap semantics), ntile (bucket split), percent_rank /
  // cume_dist (relative position, dec4-rounded doubles).
  def b22_rank_fns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders").filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rk"), dense_rank().over(w).as("drk"),
        ntile(4).over(w).as("nt"),
        dec4(percent_rank().over(w)).as("prk"),
        dec4(cume_dist().over(w)).as("cd"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // B23 — analytic window: per-user delta vs previous event.
  def b23_window_lag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(us(col("ts")), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), us(col("ts")).as("ts_us"), col("event_id"),
        dec4(col("value") - lag(col("value"), 1).over(w)).as("d"))
      .orderBy("user_id", "ts_us", "event_id")
      .limit(500)
  }

  // B24 — frame-spec window: rolling 4-row sum.
  def b24_window_frame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(us(col("ts")), col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), dec4(sum(col("value")).over(w)).as("sl"))
      .orderBy("event_id")
  }

  // B25/B26 — global multi-key sort + top-K (TakeOrderedAndProject).
  def b25_sort_topk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        dec4(col("l_extendedprice")).as("price"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(1000)
      .drop("l_extendedprice")

  // B27 — union distinct.
  def b27_union(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("k"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
      .distinct()
      .orderBy("k")

  // B28 — intersect.
  def b28_intersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("k"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")

  // B28b — except.
  def b28_except(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("k"))
      .except(t(s, dir, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")

  // B28c — EXCEPT ALL (multiset difference): subtracting the DISTINCT
  // key set leaves each key with multiplicity−1 copies — the result is
  // nonempty precisely because lineitem orderkeys repeat per line, so
  // the ALL semantics (not the collapsing EXCEPT) is what's exercised.
  def b28_except_all(s: SparkSession, dir: String): DataFrame = {
    val left = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey").as("k"))
    left.exceptAll(left.distinct()).orderBy("k")
  }

  // B29 — exact deduplication on a key pair.
  def b29_dedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey")
      .dropDuplicates("l_orderkey", "l_partkey")
      .orderBy("l_orderkey", "l_partkey")
      .limit(1000)

  // B30 — scalar subquery (avg) as a broadcast 1-row cross join.
  def b30_subquery(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.crossJoin(broadcast(o.agg(avg(col("o_totalprice")).as("ap"))))
      .filter(col("o_totalprice") > col("ap"))
      .agg(count(lit(1)).as("cnt"))
  }

  // B48 — correlated LATERAL subquery: top-2 orders per customer, the
  // per-row-subquery shape (Catalyst decorrelates the LIMIT'd ordered
  // subquery into a ranked join — no per-customer re-execution).
  def b48_lateral_topk(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT c_custkey, l.o_orderkey, l.o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |WHERE c_custkey < 50
        |ORDER BY c_custkey, o_orderkey""".stripMargin)
  }

  // B49 — UNPIVOT (wide → long), the inverse of b33's PIVOT: three
  // measure columns melt into (name, val) rows.
  def b49_unpivot(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_orderkey, l_linenumber, name, val FROM (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice AS price,
        |         l_discount AS discount, l_tax AS tax
        |  FROM lineitem WHERE l_orderkey < 100)
        |UNPIVOT (val FOR name IN (price, discount, tax))
        |ORDER BY l_orderkey, l_linenumber, name""".stripMargin)
  }

  // B31 — CTE via spark.sql over temp views.
  def b31_cte(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """WITH flagged AS (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls, l_quantity
        |  FROM lineitem WHERE l_quantity > 10
        |)
        |SELECT rf, ls, COUNT(*) AS n FROM flagged GROUP BY rf, ls
        |ORDER BY rf, ls""".stripMargin)
  }

  // B32 — explode / lateral view (Generator) over embedding arrays.
  def b32_explode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        dec4(col("col").cast("double")).as("v"))
      .orderBy("vec_id", "pos")

  // B33 — pivot on event_type.
  def b33_pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select((col("user_id") % 10).as("g"), col("event_type"))
      .groupBy("g")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .na.fill(0L)
      .orderBy("g")

  // B50 — FILTER (WHERE ...) aggregate clauses: per-aggregate predicates
  // inside ONE grouped pass (Catalyst rewrites each into a conditional
  // aggregate — one scan, one shuffle, no self-join per condition, which
  // is what the naive "join k filtered aggregates" formulation costs).
  def b50_filter_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        expr("COUNT(*) FILTER (WHERE l_quantity > 25)").as("n_bulk"),
        dec4(expr("SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05)"))
          .as("disc_rev"),
        dec4(expr("AVG(l_quantity) FILTER (WHERE l_linestatus = 'F')"))
          .as("avg_f_qty"))
      .orderBy("l_returnflag")

  // B51 — LAG/LEAD/FIRST/LAST ... IGNORE NULLS: carry the most recent
  // non-null observation across a sparse column ("last purchase value
  // seen at each event") — the gap-fill shape SQL users hit right after
  // plain lag/lead. Sparse column synthesized deterministically (value
  // only on purchase events) so both engines derive identical NULLs;
  // default RANGE frame on a unique (ts_us, event_id) order keeps
  // first/last deterministic.
  def b51_ignore_nulls(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), us(col("ts")).as("ts_us"), col("event_id"),
        when(col("event_type") === "purchase", col("value")).as("pval"))
      .select(col("user_id"), col("ts_us"), col("event_id"),
        dec4(lag(col("pval"), 1, null, ignoreNulls = true).over(w)).as("last_p"),
        dec4(lead(col("pval"), 1, null, ignoreNulls = true).over(w)).as("next_p"),
        dec4(first(col("pval"), ignoreNulls = true).over(w)).as("first_p"),
        dec4(last(col("pval"), ignoreNulls = true).over(w)).as("run_p"))
      .orderBy("user_id", "ts_us", "event_id")
      .limit(500)
  }

  // B52 — WITH RECURSIVE (Spark 4.x recursive CTE): depth-limited graph
  // walk over a DERIVED edge set (each customer points at (7k+3) mod
  // 1500 — both engines compute the identical graph from the same
  // parquet, any sf ≥ 0.01 contains the full [0,1500) target range).
  // BFS from 3 seeds, first-visit depth per node. The recursion is the
  // operator under test: each step is one self-referencing UNION ALL
  // iteration Catalyst executes as an iterative union loop — bounded
  // here by depth < 20, and globally by spark.sql.cteRecursionLevelLimit.
  def b52_recursive_cte(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    s.sql(
      """WITH RECURSIVE edges AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS src,
        |         CAST((c_custkey * 7 + 3) % 1500 AS BIGINT) AS dst
        |  FROM customer),
        |reach(node, depth) AS (
        |  SELECT CAST(c_custkey AS BIGINT), 0 FROM customer WHERE c_custkey < 3
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN edges e ON e.src = r.node
        |  WHERE r.depth < 20)
        |SELECT node, CAST(MIN(depth) AS INT) AS first_depth,
        |  CAST(COUNT(*) AS BIGINT) AS visits
        |FROM reach GROUP BY node ORDER BY node""".stripMargin)
  }

  // B53 — BATCH session windows: `session_window(ts, gap)` groups each
  // user's events into variable-length sessions (next event within 30
  // min extends the session; window end = last event + gap, half-open).
  // The streaming C12 entry covers the stateful variant; this is the
  // batch analog Catalyst executes as a partition-local sort + merge —
  // one shuffle on user_id, no self-join. Oracle = the classic
  // gaps-and-islands replay (LAG + running break-sum), exact integer µs.
  def b53_session_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"), dec4(sum(col("value"))).as("sv"))
      .select(col("user_id"),
        us(col("session_window.start")).as("s_us"),
        us(col("session_window.end")).as("e_us"),
        col("n"), col("sv"))
      .orderBy("user_id", "s_us")

  // B54 — NULL-aware anti join (NOT IN with a nullable subquery): the
  // classic three-valued-logic trap. One NULL in the subquery makes
  // every `x NOT IN (...)` predicate UNKNOWN → zero rows; Spark plans
  // this as a null-aware anti join (not the plain LeftAnti EXISTS
  // rewrite). Both sides of the behavior are pinned in one result: the
  // null-free branch returns real survivors, the with-NULL branch must
  // contribute zero.
  def b54_not_in_null(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT 'no_null' AS branch, COUNT(*) AS cnt FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders
        |   WHERE o_custkey IS NOT NULL AND o_orderkey < 2000)
        |UNION ALL
        |SELECT 'with_null' AS branch, COUNT(*) AS cnt FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |          ELSE o_custkey END FROM orders WHERE o_orderkey < 2000)
        |ORDER BY branch""".stripMargin)
  }

  // B55 — INTERSECT ALL (multiset intersection), completing the B27/B28
  // set-op family: per-key multiplicity = min(left count, right count).
  def b55_intersect_all(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
      .select(col("l_suppkey").as("k"))
    val r = t(s, dir, "lineitem")
      .filter(col("l_orderkey") >= 2000 && col("l_orderkey") < 4000)
      .select(col("l_suppkey").as("k"))
    l.intersectAll(r).orderBy("k")
  }

  // B56 — RANGE-framed window (vs b24's ROWS): the frame is a VALUE
  // interval on the order key, so peers and near rows join the frame by
  // distance, not position — a different physical frame evaluator
  // (sliding bound per row) than the fixed-offset ROWS path.
  def b56_range_frame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    t(s, dir, "events")
      .select(col("user_id"), us(col("ts")).as("ts_us"), col("event_id"),
        col("value"))
      .select(col("user_id"), col("ts_us"), col("event_id"),
        count(lit(1)).over(w).as("n_hour"),
        dec4(sum(col("value")).over(w)).as("sv_hour"))
      .orderBy("user_id", "ts_us", "event_id")
      .limit(1000)
  }

  /** Spark entries for SparkEntry.queries. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "b01_scan" -> b01_scan _,
    "b07_project" -> b07_project _,
    "b08_filter" -> b08_filter _,
    "b09_join_inner" -> b09_join_inner _,
    "b10_join_broadcast" -> b10_join_broadcast _,
    "b11_join_left" -> b11_join_left _,
    "b12_join_anti" -> b12_join_anti _,
    "b12_join_semi" -> b12_join_semi _,
    "b13_join_theta" -> b13_join_theta _,
    "b14_range_join" -> b14_range_join _,
    "b15_asof_join" -> b15_asof_join _,
    "b15_asof_scalable" -> b15_asof_scalable _,
    "b16_cross" -> b16_cross _,
    "b17_q1" -> b17_q1 _,
    "b18_distinct_agg" -> b18_distinct_agg _,
    "b19_approx_distinct" -> b19_approx_distinct _,
    "b20_rollup" -> b20_rollup _,
    "b20_cube" -> b20_cube _,
    "b21_stddev" -> b21_stddev _,
    "b21_stats_agg" -> b21_stats_agg _,
    "b22_window_rank" -> b22_window_rank _,
    "b23_window_lag" -> b23_window_lag _,
    "b24_window_frame" -> b24_window_frame _,
    "b25_sort_topk" -> b25_sort_topk _,
    "b27_union" -> b27_union _,
    "b28_intersect" -> b28_intersect _,
    "b28_except" -> b28_except _,
    "b29_dedup" -> b29_dedup _,
    "b30_subquery" -> b30_subquery _,
    "b31_cte" -> b31_cte _,
    "b48_lateral_topk" -> b48_lateral_topk _,
    "b49_unpivot" -> b49_unpivot _,
    "b20_grouping_sets" -> b20_grouping_sets _,
    "b22_rank_fns" -> b22_rank_fns _,
    "b28_except_all" -> b28_except_all _,
    "b32_explode" -> b32_explode _,
    "b33_pivot" -> b33_pivot _,
    "b50_filter_agg" -> b50_filter_agg _,
    "b51_ignore_nulls" -> b51_ignore_nulls _,
    "b52_recursive_cte" -> b52_recursive_cte _,
    "b53_session_agg" -> b53_session_agg _,
    "b54_not_in_null" -> b54_not_in_null _,
    "b55_intersect_all" -> b55_intersect_all _,
    "b56_range_frame" -> b56_range_frame _,
  )

  /** DuckDB oracle SQL — column names and ordering match the Spark side. */
  val oracle: Map[String, String] = Map(
    "b01_scan" ->
      "SELECT COUNT(*) AS cnt, MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok FROM lineitem",
    "b07_project" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(CAST(round(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(28,4)) AS DOUBLE) AS net
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "b08_filter" ->
      """SELECT COUNT(*) AS cnt FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1994-12-31'
        |  AND l_discount IN (0.05, 0.06, 0.07) AND l_returnflag LIKE 'A%'""".stripMargin,
    "b09_join_inner" ->
      """SELECT n_name, CAST(CAST(round(SUM(o_totalprice), 4) AS DECIMAL(28,4)) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "b10_join_broadcast" ->
      """SELECT n_name, CAST(CAST(round(SUM(o_totalprice), 4) AS DECIMAL(28,4)) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "b11_join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "b12_join_anti" ->
      """SELECT COUNT(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "b12_join_semi" ->
      """SELECT COUNT(*) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "b13_join_theta" ->
      "SELECT COUNT(*) AS cnt FROM region r JOIN nation n ON n.n_regionkey > r.r_regionkey",
    "b14_range_join" ->
      """SELECT COUNT(*) AS cnt
        |FROM (SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.p_us > c.c_us AND p.p_us <= c.c_us + 3600000000""".stripMargin,
    "b15_asof_join" ->
      """SELECT p.event_id AS event_id, MAX(epoch_us(c.ts)) AS last_click_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id AND p.event_type = 'purchase'
        | AND c.event_type = 'click' AND epoch_us(c.ts) <= epoch_us(p.ts)
        |GROUP BY p.event_id ORDER BY event_id""".stripMargin,
    "b15_asof_scalable" ->
      """SELECT p.event_id AS event_id, MAX(epoch_us(c.ts)) AS last_click_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id AND p.event_type = 'purchase'
        | AND c.event_type = 'click' AND epoch_us(c.ts) <= epoch_us(p.ts)
        |GROUP BY p.event_id ORDER BY event_id""".stripMargin,
    "b16_cross" ->
      "SELECT COUNT(*) AS cnt FROM region CROSS JOIN nation",
    "b17_q1" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(round(SUM(l_quantity), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sum_qty,
        | CAST(CAST(round(SUM(l_extendedprice), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sum_base,
        | CAST(CAST(round(AVG(l_extendedprice), 4) AS DECIMAL(28,4)) AS DOUBLE) AS avg_price,
        | CAST(CAST(round(AVG(l_discount), 4) AS DECIMAL(28,4)) AS DOUBLE) AS avg_disc,
        | COUNT(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "b18_distinct_agg" ->
      """SELECT COUNT(DISTINCT l_partkey) AS cd_part, COUNT(DISTINCT l_suppkey) AS cd_supp
        |FROM lineitem""".stripMargin,
    "b19_approx_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS exact_part, true AS within_tol
        |FROM lineitem""".stripMargin,
    "b20_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "b20_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, g_rf, g_ls""".stripMargin,
    "b21_stddev" ->
      """SELECT o_orderpriority, CAST(CAST(round(STDDEV_SAMP(o_totalprice), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sd
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "b21_stats_agg" ->
      """SELECT l_returnflag,
        | CAST(CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DECIMAL(28,4)) AS DOUBLE) AS median_price,
        | CAST(CAST(round(quantile_cont(l_extendedprice, 0.95), 4) AS DECIMAL(28,4)) AS DOUBLE) AS p95_price,
        | CAST(CAST(round(corr(l_quantity, l_extendedprice), 4) AS DECIMAL(28,4)) AS DOUBLE) AS corr_qp,
        | CAST(CAST(round(covar_samp(l_discount, l_tax), 4) AS DECIMAL(28,4)) AS DOUBLE) AS cov_dt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "b22_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "b23_window_lag" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        | CAST(CAST(round(value - LAG(value) OVER
        |   (PARTITION BY user_id ORDER BY epoch_us(ts), event_id), 4) AS DECIMAL(28,4)) AS DOUBLE) AS d
        |FROM events ORDER BY user_id, ts_us, event_id LIMIT 500""".stripMargin,
    "b24_window_frame" ->
      """SELECT event_id,
        | CAST(CAST(round(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sl
        |FROM events ORDER BY event_id""".stripMargin,
    "b25_sort_topk" ->
      """SELECT l_orderkey, l_linenumber, CAST(CAST(round(l_extendedprice, 4) AS DECIMAL(28,4)) AS DOUBLE) AS price
        |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1000""".stripMargin,
    "b27_union" ->
      """SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier
        |ORDER BY k""".stripMargin,
    "b28_intersect" ->
      """SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey AS k FROM supplier
        |ORDER BY k""".stripMargin,
    "b28_except" ->
      """SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey AS k FROM supplier
        |ORDER BY k""".stripMargin,
    "b29_dedup" ->
      """SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |ORDER BY l_orderkey, l_partkey LIMIT 1000""".stripMargin,
    "b30_subquery" ->
      """SELECT COUNT(*) AS cnt FROM orders
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)""".stripMargin,
    "b31_cte" ->
      """WITH flagged AS (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls, l_quantity
        |  FROM lineitem WHERE l_quantity > 10)
        |SELECT rf, ls, COUNT(*) AS n FROM flagged GROUP BY rf, ls ORDER BY rf, ls""".stripMargin,
    "b20_grouping_sets" ->
      """SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
        |ORDER BY rf NULLS FIRST, ls NULLS FIRST, g_rf, g_ls""".stripMargin,
    "b22_rank_fns" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(RANK() OVER w AS INT) AS rk,
        |  CAST(DENSE_RANK() OVER w AS INT) AS drk,
        |  CAST(NTILE(4) OVER w AS INT) AS nt,
        |  CAST(CAST(round(PERCENT_RANK() OVER w, 4) AS DECIMAL(28,4)) AS DOUBLE) AS prk,
        |  CAST(CAST(round(CUME_DIST() OVER w, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cd
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "b28_except_all" ->
      """SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey < 2000
        |EXCEPT ALL
        |SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey < 2000
        |ORDER BY k""".stripMargin,
    "b48_lateral_topk" ->
      """SELECT c_custkey, l.o_orderkey, l.o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |WHERE c_custkey < 50
        |ORDER BY c_custkey, o_orderkey""".stripMargin,
    "b49_unpivot" ->
      """SELECT l_orderkey, l_linenumber, name, CAST(val AS DOUBLE) AS val FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DOUBLE) AS price,
        |    CAST(l_discount AS DOUBLE) AS discount,
        |    CAST(l_tax AS DOUBLE) AS tax
        |  FROM lineitem WHERE l_orderkey < 100)
        |UNPIVOT (val FOR name IN (price, discount, tax))
        |ORDER BY l_orderkey, l_linenumber, name""".stripMargin,
    "b32_explode" ->
      """SELECT vec_id, pos, CAST(CAST(round(CAST(v AS DOUBLE), 4) AS DECIMAL(28,4)) AS DOUBLE) AS v
        |FROM (SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
        |        unnest(embedding) AS v
        |      FROM embeddings WHERE vec_id < 10)
        |ORDER BY vec_id, pos""".stripMargin,
    "b33_pivot" ->
      """SELECT user_id % 10 AS g,
        | CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view",
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events GROUP BY g ORDER BY g""".stripMargin,
    "b50_filter_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
        |  CAST(CAST(round(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05), 4)
        |    AS DECIMAL(28,4)) AS DOUBLE) AS disc_rev,
        |  CAST(CAST(round(AVG(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4)
        |    AS DECIMAL(28,4)) AS DOUBLE) AS avg_f_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "b51_ignore_nulls" ->
      """SELECT user_id, ts_us, event_id,
        |  CAST(CAST(round(LAG(pval IGNORE NULLS) OVER w, 4) AS DECIMAL(28,4)) AS DOUBLE) AS last_p,
        |  CAST(CAST(round(LEAD(pval IGNORE NULLS) OVER w, 4) AS DECIMAL(28,4)) AS DOUBLE) AS next_p,
        |  CAST(CAST(round(FIRST_VALUE(pval IGNORE NULLS) OVER w, 4) AS DECIMAL(28,4)) AS DOUBLE) AS first_p,
        |  CAST(CAST(round(LAST_VALUE(pval IGNORE NULLS) OVER w, 4) AS DECIMAL(28,4)) AS DOUBLE) AS run_p
        |FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |        CASE WHEN event_type = 'purchase' THEN value END AS pval
        |      FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, ts_us, event_id LIMIT 500""".stripMargin,
    "b52_recursive_cte" ->
      """WITH RECURSIVE edges AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS src,
        |         CAST((c_custkey * 7 + 3) % 1500 AS BIGINT) AS dst
        |  FROM customer),
        |reach(node, depth) AS (
        |  SELECT CAST(c_custkey AS BIGINT), 0 FROM customer WHERE c_custkey < 3
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN edges e ON e.src = r.node
        |  WHERE r.depth < 20)
        |SELECT node, CAST(MIN(depth) AS INT) AS first_depth,
        |  CAST(COUNT(*) AS BIGINT) AS visits
        |FROM reach GROUP BY node ORDER BY node""".stripMargin,
    // gaps-and-islands: a session breaks where the gap to the previous
    // event is >= 30 min (Spark's session windows are half-open, so an
    // event at exactly start+gap opens a NEW session); end = last + gap
    "b53_session_agg" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |m AS (
        |  SELECT user_id, us, value,
        |    CASE WHEN LAG(us) OVER w IS NULL
        |           OR us - LAG(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |g AS (
        |  SELECT user_id, us, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(us) AS s_us, MAX(us) + 1800000000 AS e_us,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(round(SUM(value), 4) AS DECIMAL(28,4)) AS DOUBLE) AS sv
        |FROM g GROUP BY user_id, sid ORDER BY user_id, s_us""".stripMargin,
    "b54_not_in_null" ->
      """SELECT 'no_null' AS branch, COUNT(*) AS cnt FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders
        |   WHERE o_custkey IS NOT NULL AND o_orderkey < 2000)
        |UNION ALL
        |SELECT 'with_null' AS branch, COUNT(*) AS cnt FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |          ELSE o_custkey END FROM orders WHERE o_orderkey < 2000)
        |ORDER BY branch""".stripMargin,
    "b55_intersect_all" ->
      """SELECT l_suppkey AS k FROM lineitem WHERE l_orderkey < 2000
        |INTERSECT ALL
        |SELECT l_suppkey FROM lineitem
        |WHERE l_orderkey >= 2000 AND l_orderkey < 4000
        |ORDER BY k""".stripMargin,
    "b56_range_frame" ->
      """SELECT user_id, ts_us, event_id,
        |  COUNT(*) OVER w AS n_hour,
        |  CAST(CAST(round(SUM(value) OVER w, 4) AS DECIMAL(28,4)) AS DOUBLE) AS sv_hour
        |FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id LIMIT 1000""".stripMargin,
  )
}
