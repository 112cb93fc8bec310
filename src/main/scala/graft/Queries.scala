package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Coercions
import graft.operators.{Aggregates, Joins, Ops, Stats}
import graft.operators.Aggregates.AggSpec
import Ops._

/** Verify/bench query catalog: one named query per operator of SURVEY.md §2
  * (plus the scale extensions), each with a DuckDB oracle in [[oracles]].
  *
  * Conventions (driver contract):
  *  - every query takes (spark, sfDir) and reads only Tables parquet;
  *  - output is made deterministic with a total ORDER BY in BOTH engines;
  *  - double-typed aggregates are rounded to 4 decimals in BOTH engines so
  *    bit-level summation-order differences can't flip the hash;
  *  - column names match the oracle exactly (driver sorts columns by name).
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ---------------------------------------------------------------- core agg

  /** TPC-H Q1 shape — groupBy + the main numeric aggregate set
    * (reference groupBy/aggregate: src/ts/dataframe.ts:150-152,268-348).
    */
  def q01_agg_basic(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** select projection (reference dataframe.ts:95-105). */
  def q02_select(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .selectCols("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** numeric + equality filter via the CLI filter language
    * (reference filter.ts:26-123).
    */
  def q03_filter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filterExpr("l_quantity > 45 && l_returnflag == R")
      .selectCols("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** string predicate filters contains/startsWith/endsWith
    * (reference filter.ts:90-111) + `matches` as rlike (README:212-213).
    */
  def q04_filter_string(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filterExpr("p_type contains ECO || p_name startsWith red")
      .selectCols("p_partkey", "p_name", "p_type")
      .orderBy(col("p_partkey"))

  /** lexicographic sort on stringified data — the reference's untyped sort
    * semantics ("100" < "25", dataframe.ts:124-137).
    */
  def q05_sort_lex(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey").cast("string").as("okey_str"))
      .sorted("okey_str")

  /** top-k: sort + firstN fuses to TakeOrderedAndProject (reference
    * sort-then-first, dataframe.ts:124-145,212-215).
    */
  def q06_topk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("px"))
      .orderBy(col("px").desc, col("o_orderkey").asc)
      .firstN(100)

  // ---------------------------------------------------------------- joins

  /** inner equi-join (reference dataframe.ts:157-207). */
  def q07_join_inner(s: SparkSession, dir: String): DataFrame =
    Joins
      .joinRef(t(s, dir, "customer"), t(s, dir, "orders"),
        "c_custkey", "o_custkey", "inner")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("px"))
      .orderBy(col("o_orderkey"))

  /** left join + aggregate over the nullable side. */
  def q08_join_left(s: SparkSession, dir: String): DataFrame =
    Joins
      .joinRef(t(s, dir, "customer"), t(s, dir, "orders"),
        "c_custkey", "o_custkey", "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0d)), 4).as("total_px"))
      .orderBy(col("c_custkey"))

  /** right join (reference matched-set tracking, dataframe.ts:191-204). */
  def q09_join_right(s: SparkSession, dir: String): DataFrame =
    Joins
      .joinRef(t(s, dir, "orders"), t(s, dir, "customer"),
        "o_custkey", "c_custkey", "right")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))

  /** full outer join of two aggregated sides. */
  def q10_join_full(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val supp = t(s, dir, "supplier").groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    Joins.joinRef(cust, supp, "c_nationkey", "s_nationkey", "full")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nk"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nk"))
  }

  /** the reference's `{...left, ...right}` right-wins column-overlap
    * semantics (dataframe.ts:189) on a left join with partial matches.
    */
  def q11_join_rightwins(s: SparkSession, dir: String): DataFrame = {
    val left = t(s, dir, "customer").select(
      col("c_custkey"), col("c_nationkey").as("nationkey"),
      col("c_name").as("name"))
    val right = t(s, dir, "nation").filter(col("n_nationkey") < 10).select(
      col("n_nationkey").as("nationkey"), col("n_name").as("name"))
    Joins.joinRef(left, right, "nationkey", "left")
      .orderBy(col("c_custkey"))
  }

  // ------------------------------------------------------------ agg quirks

  /** the reference aggregate quirks in one query: count-includes-nulls,
    * population stddev, exact median, sorted concat
    * (dataframe.ts:297-348; determinism note in Aggregates.scaladoc).
    */
  def q12_agg_quirks(s: SparkSession, dir: String): DataFrame =
    Aggregates
      .groupByAgg(
        t(s, dir, "customer"), "c_nationkey",
        Seq(
          AggSpec("n", "c_custkey", "count"),
          AggSpec("sd_raw", "c_acctbal", "stddev"),
          AggSpec("med_raw", "c_acctbal", "median"),
          AggSpec("segs", "c_mktsegment", "concat")))
      .select(col("c_nationkey"), col("n"),
        round(col("sd_raw"), 4).as("sd"),
        round(col("med_raw"), 4).as("med"), col("segs"))
      .orderBy(col("c_nationkey"))

  /** ungrouped whole-column aggregates over loose-parsed numeric strings —
    * the Zig path (src/zig/dataframe.zig:344-464): synthesizes currency
    * strings from integer columns, then sum/mean/min/max via numberLoose.
    */
  def q13_column_agg_loose(s: SparkSession, dir: String): DataFrame = {
    val withCur = t(s, dir, "supplier").select(
      concat(lit("$"), (col("s_suppkey") % 90 + 10).cast("string"), lit(","),
        lpad((col("s_suppkey") % 1000).cast("string"), 3, "0"), lit(".25"))
        .as("cur_s"))
    import Coercions.numberLoose
    withCur.agg(
      round(sum(numberLoose(col("cur_s"))), 4).as("total"),
      round(avg(numberLoose(col("cur_s"))), 4).as("mean"),
      round(min(numberLoose(col("cur_s"))), 4).as("vmin"),
      round(max(numberLoose(col("cur_s"))), 4).as("vmax"),
      count(when(col("cur_s").isNotNull && col("cur_s") =!= "", 1)).as("n"))
  }

  // ------------------------------------------------------------- set ops

  /** distinct (Spark-free extension; reference lacks it — SURVEY §2.7). */
  def q14_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** union / intersect / except (extensions, SURVEY §2.7). */
  def q15_setops(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").as("k"))
    val sup = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
    val u = c.union(sup).distinct().select(lit("u").as("op"), col("k"))
    val i = c.intersect(sup).select(lit("i").as("op"), col("k"))
    val e = c.except(sup).select(lit("e").as("op"), col("k"))
    u.union(i).union(e).orderBy(col("op"), col("k"))
  }

  // --------------------------------------------------- order-dependent ops

  /** head (reference head.ts / preview limit). */
  def q16_head(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 4).as("px"))
      .orderBy(col("o_orderkey"))
      .firstN(10)

  /** tail under an explicit total order (reference tail.ts ring buffer). */
  def q17_tail(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .lastN(10, "o_orderkey")

  /** point row access `at(i)` (reference dataframe.ts:222-227). */
  def q18_at(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .at(41, "o_orderkey")

  /** fromLine/toLine 1-based inclusive window (reference parser.ts:170-181). */
  def q19_line_range(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"))
      .lineRange(100, 110, "o_orderkey")

  // ------------------------------------------------------------- coercions

  /** schema coercion semantics (reference row.ts:620-706): currency with
    * thousands separator, percent, accounting negative, loose booleans —
    * oracle derives expected values arithmetically (independent derivation,
    * not a reimplementation of the parser).
    */
  def q20_coercions(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey").as("lo"), col("l_linenumber").as("ln"),
      concat(lit("$"), (col("l_orderkey") % 90 + 10).cast("string"), lit(","),
        lpad((col("l_partkey") % 1000).cast("string"), 3, "0"), lit(".25"))
        .as("cur_s"),
      concat((col("l_partkey") % 200).cast("string"), lit("%")).as("pct_s"),
      concat(lit("("), (col("l_suppkey") % 50).cast("string"), lit(".5)"))
        .as("acc_s"),
      (col("l_linenumber") % 4).cast("int").as("bsel"))
    val boolS = when(col("bsel") === 0, lit("yes"))
      .when(col("bsel") === 1, lit("FALSE"))
      .when(col("bsel") === 2, lit("1"))
      .otherwise(lit("n"))
    li.select(
        col("lo"), col("ln"),
        round(Coercions.numberLoose(col("cur_s")), 4).as("cur"),
        round(Coercions.percentLoose(col("pct_s")), 4).as("pct"),
        round(Coercions.numberLoose(col("acc_s")), 4).as("acc"),
        Coercions.boolLoose(boolS).as("flag"))
      .orderBy(col("lo"), col("ln"))
  }

  // ---------------------------------------------------------------- window

  /** window functions (extension; reference has none — SURVEY §2.5):
    * row_number + running sum per partition.
    */
  def q21_window_funcs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
          .as("running"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** event-time tumbling window aggregation (Structured-Streaming-shaped;
    * batch-equivalent here so the oracle can check it).
    */
  def q22_events_window(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
      .select(col("window.start").as("hr"), col("event_type"), col("n"), col("v"))
      .orderBy(col("hr"), col("event_type"))

  /** as-of join (extension): latest order per user at event time.
    * Composed from a range-condition join + window dedup — the Spark-first
    * form; the equality key (user) carries the shuffle, AQE handles skew.
    */
  def q23_asof_join(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val joined = e.join(o,
      o("o_custkey") === e("user_id") && o("o_orderdate") <= e("ts"), "left")
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc_nulls_last, col("o_orderkey").desc_nulls_last)
    joined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("last_order"),
        col("o_orderdate").as("last_order_date"))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------------ stats

  /** per-column stats profile (reference stats.ts): one unpivot shuffle of
    * distinct (column, value) pairs, then one global aggregate.
    */
  def q24_stats_profile(s: SparkSession, dir: String): DataFrame =
    Stats.profile(t(s, dir, "orders")).orderBy(col("col_name"))

  /** exact dedup: keep first doc per identical text (hash groupBy —
    * extension for training-data pipelines).
    */
  def q25_dedup_exact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  // ---------------------------------------------------------------- catalog

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg_basic" -> q01_agg_basic _,
    "q02_select" -> q02_select _,
    "q03_filter" -> q03_filter _,
    "q04_filter_string" -> q04_filter_string _,
    "q05_sort_lex" -> q05_sort_lex _,
    "q06_topk" -> q06_topk _,
    "q07_join_inner" -> q07_join_inner _,
    "q08_join_left" -> q08_join_left _,
    "q09_join_right" -> q09_join_right _,
    "q10_join_full" -> q10_join_full _,
    "q11_join_rightwins" -> q11_join_rightwins _,
    "q12_agg_quirks" -> q12_agg_quirks _,
    "q13_column_agg_loose" -> q13_column_agg_loose _,
    "q14_distinct" -> q14_distinct _,
    "q15_setops" -> q15_setops _,
    "q16_head" -> q16_head _,
    "q17_tail" -> q17_tail _,
    "q18_at" -> q18_at _,
    "q19_line_range" -> q19_line_range _,
    "q20_coercions" -> q20_coercions _,
    "q21_window_funcs" -> q21_window_funcs _,
    "q22_events_window" -> q22_events_window _,
    "q23_asof_join" -> q23_asof_join _,
    "q24_stats_profile" -> q24_stats_profile _,
    "q25_dedup_exact" -> q25_dedup_exact _
  )

  val oracles: Map[String, String] = Map(
    "q01_agg_basic" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_select" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q04_filter_string" ->
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_type LIKE '%ECO%' OR p_name LIKE 'red%'
        |ORDER BY p_partkey""".stripMargin,
    "q05_sort_lex" ->
      """SELECT cast(o_orderkey AS VARCHAR) AS okey_str FROM orders
        |ORDER BY okey_str""".stripMargin,
    "q06_topk" ->
      """SELECT o_orderkey, round(o_totalprice, 4) AS px FROM orders
        |ORDER BY px DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q07_join_inner" ->
      """SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 4) AS px
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q08_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 4) AS total_px
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q09_join_right" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q10_join_full" ->
      """SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nk,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |  (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
        |ON c.c_nationkey = s.s_nationkey
        |ORDER BY nk""".stripMargin,
    "q11_join_rightwins" ->
      """SELECT c_custkey,
        |  CASE WHEN n_nationkey IS NOT NULL THEN n_nationkey
        |       ELSE c_nationkey END AS nationkey,
        |  CASE WHEN n_nationkey IS NOT NULL THEN n_name
        |       ELSE c_name END AS name
        |FROM customer LEFT JOIN
        |  (SELECT * FROM nation WHERE n_nationkey < 10) n
        |ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "q12_agg_quirks" ->
      """SELECT c_nationkey, count(*) AS n,
        |  round(stddev_pop(c_acctbal), 4) AS sd,
        |  round(median(c_acctbal), 4) AS med,
        |  string_agg(c_mktsegment, ', ' ORDER BY c_mktsegment) AS segs
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q13_column_agg_loose" ->
      """SELECT
        |  round(sum(v), 4) AS total, round(avg(v), 4) AS mean,
        |  round(min(v), 4) AS vmin, round(max(v), 4) AS vmax,
        |  count(*) AS n
        |FROM (SELECT (s_suppkey % 90 + 10) * 1000 + (s_suppkey % 1000) + 0.25 AS v
        |      FROM supplier)""".stripMargin,
    "q14_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q15_setops" ->
      """SELECT 'u' AS op, k FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   UNION SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'i', k FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'e', k FROM
        |  (SELECT c_nationkey AS k FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier)
        |ORDER BY op, k""".stripMargin,
    "q16_head" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS px
        |FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin,
    "q17_tail" ->
      """SELECT o_orderkey, o_orderstatus FROM
        |  (SELECT o_orderkey, o_orderstatus FROM orders
        |   ORDER BY o_orderkey DESC LIMIT 10)
        |ORDER BY o_orderkey""".stripMargin,
    "q18_at" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 1 OFFSET 41""".stripMargin,
    "q19_line_range" ->
      """SELECT o_orderkey FROM orders
        |ORDER BY o_orderkey LIMIT 11 OFFSET 99""".stripMargin,
    "q20_coercions" ->
      """SELECT l_orderkey AS lo, l_linenumber AS ln,
        |  round((l_orderkey % 90 + 10) * 1000 + (l_partkey % 1000) + 0.25, 4) AS cur,
        |  round((l_partkey % 200) / 100.0, 4) AS pct,
        |  round(-((l_suppkey % 50) + 0.5), 4) AS acc,
        |  (l_linenumber % 4) IN (0, 2) AS flag
        |FROM lineitem ORDER BY lo, ln""".stripMargin,
    "q21_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  round(sum(o_totalprice) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING), 4) AS running
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q22_events_window" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type,
        |  count(*) AS n, round(sum(value), 4) AS v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q23_asof_join" ->
      """SELECT event_id, user_id, o_orderkey AS last_order,
        |  o_orderdate AS last_order_date
        |FROM events e LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |QUALIFY row_number() OVER
        |  (PARTITION BY event_id
        |   ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC NULLS LAST) = 1
        |ORDER BY event_id""".stripMargin,
    "q24_stats_profile" ->
      """SELECT col_name, n_total, n_nulls, n_distinct FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_total,
        |    count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct FROM orders
        |  UNION ALL SELECT 'o_custkey', count(*),
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END),
        |    count(DISTINCT o_custkey) FROM orders
        |  UNION ALL SELECT 'o_orderstatus', count(*),
        |    count(CASE WHEN o_orderstatus IS NULL OR o_orderstatus = ''
        |        THEN 1 END),
        |    count(DISTINCT o_orderstatus) FROM orders
        |  UNION ALL SELECT 'o_totalprice', count(*),
        |    count(CASE WHEN o_totalprice IS NULL THEN 1 END),
        |    count(DISTINCT o_totalprice) FROM orders
        |  UNION ALL SELECT 'o_orderdate', count(*),
        |    count(CASE WHEN o_orderdate IS NULL THEN 1 END),
        |    count(DISTINCT o_orderdate) FROM orders
        |  UNION ALL SELECT 'o_orderpriority', count(*),
        |    count(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = ''
        |        THEN 1 END),
        |    count(DISTINCT o_orderpriority) FROM orders)
        |ORDER BY col_name""".stripMargin,
    "q25_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin
  )
}
