package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.TimeSeriesQueries
import graft.queries.TimeSeriesQueries.seriesCte

/** Driver contract — one `queries` entry (+ matching DuckDB `oracleSql`) per
  * operator of SURVEY.md §2, exercised over the driver testdata tables.
  * Column names/aliases are kept identical between the Spark plan and the
  * oracle SQL; floating aggregates are rounded on both sides; every query has
  * a deterministic total order.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.read(s, dir, name)

  /** Flagship: the full CP-refinement pipeline (relaxation branch) on the
    * smoke scale factor. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    TimeSeriesQueries.cpRefinedRelax(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // ---- S6/P1/P2: scan + projection + range predicate pushdown ----
    "q01_scan_filter_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").as("qty"))
        .where(col("l_orderkey").between(500, 1500))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- A1: global MIN/MAX aggregate (domain fixing) ----
    "q02_agg_minmax" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        min("l_quantity").as("lo"),
        max("l_quantity").as("hi"),
        count(lit(1)).as("n"))),

    // ---- A1/A3-adjacent: grouped aggregation (TPC-H Q1 shape) ----
    "q03_agg_groupby" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- A2/P5: global variance ----
    "q04_agg_variance" -> ((s, d) =>
      TimeSeriesQueries.events(s, d).agg(
        round(var_pop("value"), 4).as("variance"),
        round(avg("value"), 6).as("mean"))),

    // ---- W2/W3: top-k by sort (physical TakeOrderedAndProject) ----
    "q05_topk_orderby_limit" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)),

    // ---- W4: deterministic LIMIT (ordered prefix) ----
    "q06_limit" -> ((s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
        .limit(25)),

    // ---- U1: union ----
    "q07_union_all" -> ((s, d) => {
      val o = t(s, d, "orders")
      o.select(col("o_orderkey"), col("o_totalprice"))
        .where(col("o_totalprice") > 400000)
        .unionByName(
          o.select(col("o_orderkey"), col("o_totalprice"))
            .where(col("o_totalprice") < 1000))
        .orderBy("o_orderkey")
    }),

    // ---- J1: cross-join candidate grid ----
    "q08_crossjoin_grid" -> ((s, _) =>
      s.range(1, 51).toDF("x")
        .crossJoin(s.range(5, 15).toDF("lx"))
        .select(col("x"), col("lx"), (col("x") * col("lx")).as("cell"))
        .orderBy("x", "lx")),

    // ---- J2: range join (windows over the series), scalable
    //      explode(sequence)+equi-join formulation ----
    "q09_range_join_agg" -> ((s, d) => {
      val ser = TimeSeriesQueries.cachedSeries(s, d)
      val windows = s.range(0, 100).toDF("w")
        .select(col("w"), (col("w") * 100 + 1).as("lo"), (col("w") * 100 + 50).as("hi"))
      windows
        .withColumn("t", explode(sequence(col("lo"), col("hi"))))
        .join(ser, "t")
        .groupBy("w")
        .agg(count(lit(1)).as("n"), round(avg("y"), 6).as("win_avg"))
        .orderBy("w")
    }),

    // ---- broadcast hash join (small dim) ----
    "q10_join_broadcast" -> ((s, d) =>
      t(s, d, "nation")
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("nations"))
        .orderBy("r_name")),

    // ---- shuffle join + aggregation ----
    "q11_join_shuffle_agg" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")),

    // ---- 3-way join ----
    "q12_join_3way" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("acctbal"))
        .orderBy("r_name")),

    // ---- semi join (EXISTS) ----
    "q13_semi_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // ---- anti join (NOT EXISTS) ----
    "q14_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // ---- ranking window function (partitioned row_number) ----
    "q15_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    }),

    // ---- tumbling time-window aggregation (streaming analogue, batch) ----
    // ts is read as nanos-since-epoch Long (see TimeSeriesQueries.events);
    // hour bucket via integer division, emitted as epoch seconds.
    "q16_time_window_agg" -> ((s, d) =>
      TimeSeriesQueries.events(s, d)
        .groupBy(
          expr("ts div 3600000000000 * 3600").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .orderBy("hour_start", "event_type")),

    // ---- A3: windowed average over the candidate grid ----
    "q17_ts_window_avg" -> TimeSeriesQueries.windowAvg _,
    // ---- A4: max_amp_excess_right ----
    "q18_ts_excess_right" -> TimeSeriesQueries.excessRight _,
    // ---- A5: max_amp_excess_left ----
    "q19_ts_excess_left" -> TimeSeriesQueries.excessLeft _,
    // ---- A6: grid-global extrema ----
    "q20_ts_grid_extrema" -> TimeSeriesQueries.gridExtrema _,
    // ---- §2.6: the three refinement modes ----
    "q21_cp_unrefined" -> TimeSeriesQueries.cpUnrefined _,
    "q22_cp_refined_tighten" -> TimeSeriesQueries.cpRefinedTighten _,
    "q23_cp_refined_relax" -> TimeSeriesQueries.cpRefinedRelax _,
    // ---- P5: variability guard ----
    "q24_ts_variability" -> TimeSeriesQueries.variabilityGuard _,
  ) ++ graft.queries.LlmQueries.queries ++ graft.queries.RelationalQueries.queries

  /** DuckDB-runnable ANSI SQL oracle per query (same tables, same column
    * names, same ordering, same rounding). */
  def oracleSql: Map[String, String] = Map(
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty FROM lineitem
        |WHERE l_orderkey BETWEEN 500 AND 1500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_agg_minmax" ->
      "SELECT min(l_quantity) AS lo, max(l_quantity) AS hi, count(*) AS n FROM lineitem",

    "q03_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q04_agg_variance" ->
      "SELECT round(var_pop(value), 4) AS variance, round(avg(value), 6) AS mean FROM events",

    "q05_topk_orderby_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,

    "q06_limit" ->
      "SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 25",

    "q07_union_all" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 1000
        |ORDER BY o_orderkey""".stripMargin,

    "q08_crossjoin_grid" ->
      """SELECT x, lx, x * lx AS cell
        |FROM generate_series(1, 50) g(x) CROSS JOIN generate_series(5, 14) h(lx)
        |ORDER BY x, lx""".stripMargin,

    "q09_range_join_agg" ->
      (seriesCte + """,
        |windows AS (SELECT w, w * 100 + 1 AS lo, w * 100 + 50 AS hi
        |            FROM generate_series(0, 99) g(w))
        |SELECT w, count(*) AS n, round(avg(s.y), 6) AS win_avg
        |FROM windows JOIN series s ON s.t BETWEEN lo AND hi
        |GROUP BY w ORDER BY w""".stripMargin),

    "q10_join_broadcast" ->
      """SELECT r_name, count(*) AS nations FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q11_join_shuffle_agg" ->
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q12_join_3way" ->
      """SELECT r_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q13_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q14_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q15_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin,

    "q16_time_window_agg" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q17_ts_window_avg" ->
      (seriesCte + """,
        |grid AS (SELECT x, lx FROM generate_series(1, 1000) g(x)
        |         CROSS JOIN generate_series(10, 20) h(lx)
        |         WHERE x + lx <= (SELECT max(t) FROM series))
        |SELECT g.x, g.lx, round(avg(s.y), 6) AS win_avg
        |FROM grid g JOIN series s ON s.t BETWEEN g.x AND g.x + g.lx
        |GROUP BY g.x, g.lx ORDER BY g.x, g.lx""".stripMargin),

    // NOTE: the right/left neighborhood clamp at the series edge
    // (reference: server.py:977-981, 1007-1008) is implicit here — s.t
    // cannot exceed max(t) or precede min(t), so the unclamped join range
    // truncates to the same window.
    "q18_ts_excess_right" ->
      (seriesCte + """,
        |grid AS (SELECT x, lx FROM generate_series(1, 1000) g(x)
        |         CROSS JOIN generate_series(10, 20) h(lx)
        |         WHERE x + lx <= (SELECT max(t) FROM series))
        |SELECT g.x, g.lx,
        |  round(max(CASE WHEN s.t <= g.x + g.lx THEN s.y END)
        |      - max(CASE WHEN s.t >= g.x + g.lx THEN s.y END), 6) AS excess_right
        |FROM grid g JOIN series s ON s.t BETWEEN g.x AND g.x + g.lx + 10
        |GROUP BY g.x, g.lx ORDER BY g.x, g.lx""".stripMargin),

    "q19_ts_excess_left" ->
      (seriesCte + """,
        |grid AS (SELECT x, lx FROM generate_series(1, 1000) g(x)
        |         CROSS JOIN generate_series(10, 20) h(lx)
        |         WHERE x + lx <= (SELECT max(t) FROM series))
        |SELECT g.x, g.lx,
        |  round(max(CASE WHEN s.t >= g.x THEN s.y END)
        |      - max(CASE WHEN s.t <= g.x THEN s.y END), 6) AS excess_left
        |FROM grid g JOIN series s ON s.t BETWEEN g.x - 10 AND g.x + g.lx
        |GROUP BY g.x, g.lx ORDER BY g.x, g.lx""".stripMargin),

    "q20_ts_grid_extrema" ->
      (seriesCte + """,
        |grid AS (SELECT x, lx FROM generate_series(1, 2000) g(x)
        |         CROSS JOIN generate_series(5, 30) h(lx)
        |         WHERE x + lx <= (SELECT max(t) FROM series)),
        |vals AS (SELECT g.x, g.lx, avg(s.y) AS v
        |         FROM grid g JOIN series s ON s.t BETWEEN g.x AND g.x + g.lx
        |         GROUP BY g.x, g.lx)
        |SELECT round(min(v), 6) AS min_c0, round(max(v), 6) AS max_c0,
        |  count(*) AS grid_cells FROM vals""".stripMargin),

    "q21_cp_unrefined" ->
      (seriesCte + """,
        |grid AS (SELECT x, lx FROM generate_series(1, 2000) g(x)
        |         CROSS JOIN generate_series(5, 30) h(lx)
        |         WHERE x + lx <= (SELECT max(t) FROM series)),
        |vals AS (SELECT g.x, g.lx, avg(s.y) AS c0
        |         FROM grid g JOIN series s ON s.t BETWEEN g.x AND g.x + g.lx
        |         GROUP BY g.x, g.lx)
        |SELECT x AS time_id, lx AS offset FROM vals
        |WHERE c0 BETWEEN 80 AND 100 ORDER BY time_id, "offset"""".stripMargin),

    "q22_cp_refined_tighten" ->
      (seriesCte + """,
        |grid AS (SELECT x, lx FROM generate_series(1, 2000) g(x)
        |         CROSS JOIN generate_series(5, 30) h(lx)
        |         WHERE x + lx <= (SELECT max(t) FROM series)),
        |vals AS (SELECT g.x, g.lx, avg(s.y) AS c0
        |         FROM grid g JOIN series s ON s.t BETWEEN g.x AND g.x + g.lx
        |         GROUP BY g.x, g.lx),
        |ext AS (SELECT min(c0) AS mn, max(c0) AS mx FROM vals),
        |scored AS (SELECT x, lx, c0, (c0 BETWEEN 40 AND 60) AS sat,
        |  1 - (60 - c0) / (60.0 - 40.0) AS rk,
        |  0.5 * (CASE WHEN c0 > 60 THEN (c0 - 60) / (ext.mx - 60)
        |              WHEN c0 < 40 THEN (40 - c0) / (40 - ext.mn)
        |              ELSE 0 END)
        |  + 0.5 * (CASE WHEN c0 BETWEEN 40 AND 60 THEN 0 ELSE 1 END) AS rp
        |  FROM vals, ext)
        |SELECT time_id, "offset" FROM (
        |  SELECT x AS time_id, lx AS "offset", sat, rk, rp FROM scored
        |  ORDER BY sat DESC, CASE WHEN sat THEN -rk ELSE rp END ASC,
        |    time_id, "offset" LIMIT 20)
        |ORDER BY time_id, "offset"""".stripMargin),

    "q23_cp_refined_relax" ->
      (seriesCte + """,
        |grid AS (SELECT x, lx FROM generate_series(1, 2000) g(x)
        |         CROSS JOIN generate_series(5, 30) h(lx)
        |         WHERE x + lx <= (SELECT max(t) FROM series)),
        |vals AS (SELECT g.x, g.lx,
        |    avg(CASE WHEN s.t <= g.x + g.lx THEN s.y END) AS c0,
        |    max(CASE WHEN s.t <= g.x + g.lx THEN s.y END)
        |      - max(CASE WHEN s.t >= g.x + g.lx THEN s.y END) AS c1
        |  FROM grid g JOIN series s ON s.t BETWEEN g.x AND g.x + g.lx + 10
        |  GROUP BY g.x, g.lx),
        |ext AS (SELECT min(c0) AS mn0, max(c0) AS mx0,
        |               min(c1) AS mn1, max(c1) AS mx1 FROM vals),
        |scored AS (SELECT x, lx,
        |  (c0 BETWEEN 130 AND 140 AND c1 >= 0) AS sat,
        |  1 - 0.5 * ((140 - c0) / (140.0 - 130.0)
        |           + (ext.mx1 - c1) / (ext.mx1 - 0.0)) AS rk,
        |  0.5 * greatest(
        |    CASE WHEN c0 > 140 THEN (c0 - 140) / (ext.mx0 - 140)
        |         WHEN c0 < 130 THEN (130 - c0) / (130 - ext.mn0) ELSE 0 END,
        |    CASE WHEN c1 < 0 THEN (0 - c1) / (0 - ext.mn1) ELSE 0 END)
        |  + 0.5 * ((CASE WHEN c0 BETWEEN 130 AND 140 THEN 0 ELSE 1 END
        |          + CASE WHEN c1 >= 0 THEN 0 ELSE 1 END) / 2.0) AS rp
        |  FROM vals, ext)
        |SELECT time_id, "offset" FROM (
        |  SELECT x AS time_id, lx AS "offset", sat, rk, rp FROM scored
        |  ORDER BY sat DESC, CASE WHEN sat THEN -rk ELSE rp END ASC,
        |    time_id, "offset" LIMIT 25)
        |ORDER BY time_id, "offset"""".stripMargin),

    "q24_ts_variability" ->
      (seriesCte + """
        |SELECT ((t - 1) // 1000) AS chunk, round(var_pop(y), 4) AS variance,
        |  (var_pop(y) <= 5e-28) AS no_variability
        |FROM series GROUP BY 1 ORDER BY chunk""".stripMargin),
  ) ++ graft.queries.LlmQueries.sql ++ graft.queries.RelationalQueries.sql
}
