package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Joins, Similarity, Stats}

/** Second query batch: relational extensions (semi/anti, rollup, analytic
  * windows, sessions, quantiles, JSON) + remaining operator surfaces.
  */
object Queries2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** semi/anti joins (EXISTS / NOT EXISTS). */
  def q37_semi_anti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val semi = Joins.semiJoin(c, o, "c_custkey", "o_custkey")
      .agg(count(lit(1)).as("n")).select(lit("semi").as("op"), col("n"))
    val anti = Joins.antiJoin(c, o, "c_custkey", "o_custkey")
      .agg(count(lit(1)).as("n")).select(lit("anti").as("op"), col("n"))
    anti.union(semi).orderBy(col("op"))
  }

  /** rollup grouping sets (extension; Spark `rollup`). */
  def q38_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** lag/lead analytic windows. */
  def q39_lag_lead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      round(lag(col("o_totalprice"), 1).over(w), 4).as("prev_px"),
      lead(col("o_orderkey"), 1).over(w).as("next_ok"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** gap-based sessionization in batch (the SQL-expressible twin of
    * Streams.sessionize; 30-minute gap).
    */
  def q40_sessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val withBrk = t(s, dir, "events").select(
      col("user_id"), col("ts"), col("value"),
      when(lag(col("ts"), 1).over(w).isNull, 0)
        .when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
          > 1800000000L, 1)
        .otherwise(0).as("brk"))
    withBrk
      .withColumn("sid", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"),
        min(col("ts")).as("session_start"))
      .orderBy(col("user_id"), col("sid"))
  }

  /** exact interpolated quantiles per group. */
  def q41_quantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(percentile(col("value"), lit(0.25)), 4).as("p25"),
        round(percentile(col("value"), lit(0.5)), 4).as("p50"),
        round(percentile(col("value"), lit(0.75)), 4).as("p75"),
        round(avg(col("value")), 4).as("mean"))
      .orderBy(col("event_type"))

  /** JSON field extraction from the events props column. */
  def q42_json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("ksum"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** exact dedup keep-first on a real key (min line per order). */
  def q43_dedup_first(s: SparkSession, dir: String): DataFrame =
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // tie-break through the remaining columns for a deterministic pick
    Dedup.exact(t(s, dir, "lineitem"), Seq("l_orderkey"),
        "l_linenumber", "l_quantity", "l_partkey", "l_suppkey")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 4).as("qty"))
      .orderBy(col("l_orderkey"))

  /** LSH-bucketed approximate NN (the at-scale ANN path; rows-only —
    * approximate by design, recall vs q33 eyeballed in review).
    */
  def q44_ann_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // fixed query panel (see q33): `< 2500` is a no-op at the oracle SFs
    // (max base id 1999) but stops the panel — and the probe broadcast —
    // growing with the corpus at rehearsal scale
    Similarity.annTopK(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2500), emb,
        "vec_id", "embedding", k = 5, dim = 64, planes = 8)
      .select(col("query_id"), col("match_id"), round(col("cos"), 6).as("cos"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF (k-means inverted-file) approximate NN — the second ANN scale
    * path beside LSH (rows-only; KMeans isn't reproducible in DuckDB;
    * nprobe==nlist equality with brute force is asserted in IvfSpec).
    */
  def q46_ivf_topk(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // corpus-size geometry (scaledIvfGeometry — MEASURED √n rule; the
    // static nlist=8 lost recall as its cells grew: 0.82 at 200k
    // vectors vs 0.995 scaled) — train-once cache returns the paired
    // nprobe so the probe fraction stays pinned at ~1/8
    val (idx, nprobe) = Similarity.IvfIndex.trainCachedScaled(
      s"$dir:embeddings", emb, "embedding")
    // fixed query panel (see q33/q44): no-op at oracle SFs, keeps the
    // probe side broadcast-sized at rehearsal scale
    Similarity.ivfTopK(
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 2500), emb,
        "vec_id", "embedding", k = 5, nprobe = nprobe,
        index = Some(idx))
      .select(col("query_id"), col("match_id"), round(col("cos"), 6).as("cos"),
        col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** numeric min/max/mean profile (stats numeric branch). */
  def q45_stats_numeric(s: SparkSession, dir: String): DataFrame =
    Stats.numericProfile(t(s, dir, "orders"),
        Seq("o_totalprice", "o_custkey"))
      .orderBy(col("col_name"))

  /** full SQL dialect over registered views — strictly beyond the
    * reference (it has no SQL at all): TPC-H Q3 shape through
    * `spark.sql`, custom functions available via GraftSession.init.
    */
  def q47_sql_dialect(s: SparkSession, dir: String): DataFrame = {
    GraftSession.init(s)
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin)
  }

  /** NATIVE as-of join through the custom-operator stack (marker →
    * optimizer rewrite → AsOfJoinStrategy → physical exec). Same oracle
    * as the compositional q23 — the custom physical operator itself is
    * DuckDB-verified. This query FORCES the sort-merge exec (the no-
    * build-side-limit 100 TB path); q50 forces the broadcast exec — both
    * physical paths run against the same oracle every round.
    */
  def q48_asof_native(s: SparkSession, dir: String): DataFrame =
    asofNative(s, dir, "sortmerge")

  /** Broadcast-exec twin of q48 (same oracle). */
  def q50_asof_broadcast(s: SparkSession, dir: String): DataFrame =
    asofNative(s, dir, "broadcast")

  private def asofNative(s: SparkSession, dir: String, mode: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    graft.plans.AsOfJoin
      .asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        rightTieBreak = Seq(o("o_orderkey")), // max-key tiebreak
        strategy = mode) // pinned in the plan, not session conf
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("last_order"),
        col("o_orderdate").as("last_order_date"))
      .orderBy(col("event_id"))
  }

  /** LSH-gated global top-pairs (the 100 TB near-dup path; rows-only —
    * Verify asserts recall ≥ 0.9 vs the exact all-pairs top-20 plus an
    * exact rescore of every emitted score; exact-regime equality is also
    * asserted in IvfSpec; q34 remains the exact oracled twin on the raw
    * corpus).
    *
    * Round 7: the corpus gets [[QueryFixtures.plantedEmbeddings]]'
    * near-dups (the raw data's top pairs sit at cos 0.40–0.51 — the
    * measured UNGATEABLE regime, where recall came only from accidental
    * band collisions), and the geometry is
    * [[Similarity.scaledLshGeometry]]-derived: the 30× rehearsal
    * measured the fixed 7-bit default going quadratic (1.5 s → 273 s
    * at 30× rows) exactly as PLANS.md's band-width rule predicts.
    */
  def q49_top_pairs_lsh(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val v = QueryFixtures.plantedEmbeddings(base)
    val (r, b) = Similarity.scaledLshGeometry(v.count())
    Similarity.topPairsLsh(v, "vec_id", "e", n = 20, dim = 64, r, b)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Dedup clustering: LSH-gated exact-Jaccard pairs → connected
    * components → canonical selection (`keep` = cluster minimum). The
    * full "keep one per near-dup cluster" pipeline of a training-data
    * dedup pass, oracled against a DuckDB recursive-CTE transitive
    * closure.
    */
  def q51_dedup_clusters(s: SparkSession, dir: String): DataFrame =
    // r19: labels from the shared per-process NearDupGraph build (the
    // identical jaccardPairsLsh(0.5) + connectedComponents pipeline,
    // derived once per process for q51/q83/q169 — guide §2.4)
    NearDupGraph.labels05(s, dir)
      .select(col("id").as("doc_id"), col("comp").as("cluster"),
        when(col("id") === col("comp"), 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))

  /** Sequence packing: documents concatenated in id order, bin boundary
    * every 2048 tokens (the pretraining batch-packing op). Total-order
    * variant for oracle parity; the sharded twin is spec-verified.
    */
  def q52_seq_pack(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.packSequences(
        t(s, dir, "documents"), "doc_id",
        graft.functions.TextFunctions.tokenCountWs(col("text")).cast("long"), 2048)
      .orderBy(col("doc_id"))

  /** Curation funnel: labeled-language filter → quality threshold →
    * fingerprint dedup, all stage counts from ONE corpus pass.
    */
  def q53_curation_funnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("__q"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("__fp"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(col("doc_id"))))
    graft.operators.Curation.funnel(base, Seq(
        "total" -> lit(true),
        "lang_en" -> (col("lang") === "en"),
        "quality" -> (col("__q") >= 0.7),
        "dedup" -> (col("__rn") === 1)))
      .orderBy(col("stage"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q47_sql_dialect" -> q47_sql_dialect _,
    "q48_asof_native" -> q48_asof_native _,
    "q49_top_pairs_lsh" -> q49_top_pairs_lsh _,
    "q50_asof_broadcast" -> q50_asof_broadcast _,
    "q37_semi_anti" -> q37_semi_anti _,
    "q38_rollup" -> q38_rollup _,
    "q39_lag_lead" -> q39_lag_lead _,
    "q40_sessions" -> q40_sessions _,
    "q41_quantiles" -> q41_quantiles _,
    "q42_json" -> q42_json _,
    "q43_dedup_first" -> q43_dedup_first _,
    "q44_ann_topk" -> q44_ann_topk _,
    "q45_stats_numeric" -> q45_stats_numeric _,
    "q46_ivf_topk" -> q46_ivf_topk _,
    "q51_dedup_clusters" -> q51_dedup_clusters _,
    "q52_seq_pack" -> q52_seq_pack _,
    "q53_curation_funnel" -> q53_curation_funnel _
  )

  val oracles: Map[String, String] = Map(
    "q52_seq_pack" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents
        |), off AS (
        |  SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |      - n_tok AS BIGINT) AS start_off
        |  FROM tok
        |)
        |SELECT doc_id, n_tok, start_off,
        |  CAST(start_off // 2048 AS BIGINT) AS bin
        |FROM off ORDER BY doc_id""".stripMargin,
    "q53_curation_funnel" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text, length(text) AS nc,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang, fp,
        |    round(
        |      (CASE WHEN nc BETWEEN 200 AND 20000 THEN 1.0
        |            WHEN nc >= 50 THEN 0.5 ELSE 0.0 END) * 0.4 +
        |      (CASE WHEN (nc - length(regexp_replace(text,
        |        '[!-/:-@\[-`{-~]', '', 'g'))) / CAST(nc AS DOUBLE) <= 0.2
        |        THEN 1.0 ELSE 0.0 END) * 0.3 +
        |      (CASE WHEN len(list_filter(toks, t -> t IN
        |        ('the','a','an','and','of','to','in','is')))
        |        / CAST(len(toks) AS DOUBLE) >= 0.05
        |        THEN 1.0 ELSE 0.0 END) * 0.3, 4) AS q,
        |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM base
        |)
        |SELECT CAST(1 AS BIGINT) AS stage, 'total' AS name, count(*) AS n
        |FROM r
        |UNION ALL SELECT 2, 'lang_en', count(*) FROM r WHERE lang = 'en'
        |UNION ALL SELECT 3, 'quality', count(*) FROM r
        |  WHERE lang = 'en' AND q >= 0.7
        |UNION ALL SELECT 4, 'dedup', count(*) FROM r
        |  WHERE lang = 'en' AND q >= 0.7 AND rn = 1
        |ORDER BY stage""".stripMargin,
    "q51_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> array_to_string(t[i:i+2], ' '))) AS shingles
        |  FROM toks
        |), ex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sa ON sa.doc_id = id_a
        |  JOIN (SELECT doc_id, len(shingles) n FROM sh) sb ON sb.doc_id = id_b
        |  WHERE round(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) >= 0.5
        |), e AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
        |)
        |SELECT d.doc_id,
        |  least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster,
        |  CASE WHEN least(d.doc_id, coalesce(min(r.b), d.doc_id)) = d.doc_id
        |       THEN 1 ELSE 0 END::BIGINT AS keep
        |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "q50_asof_broadcast" ->
      """SELECT event_id, user_id, o_orderkey AS last_order,
        |  o_orderdate AS last_order_date
        |FROM events e LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |QUALIFY row_number() OVER
        |  (PARTITION BY event_id
        |   ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC NULLS LAST) = 1
        |ORDER BY event_id""".stripMargin,
    "q48_asof_native" ->
      """SELECT event_id, user_id, o_orderkey AS last_order,
        |  o_orderdate AS last_order_date
        |FROM events e LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |QUALIFY row_number() OVER
        |  (PARTITION BY event_id
        |   ORDER BY o_orderdate DESC NULLS LAST, o_orderkey DESC NULLS LAST) = 1
        |ORDER BY event_id""".stripMargin,
    "q47_sql_dialect" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q37_semi_anti" ->
      """SELECT 'anti' AS op, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'semi', count(*) FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY op""".stripMargin,
    "q38_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 4) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q39_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  round(lag(o_totalprice, 1) OVER w, 4) AS prev_px,
        |  lead(o_orderkey, 1) OVER w AS next_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q40_sessions" ->
      """WITH b AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 0
        |         WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1
        |         ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sids AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b
        |)
        |SELECT user_id, sid, count(*) AS n, round(sum(value), 4) AS v,
        |  min(ts) AS session_start
        |FROM sids GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,
    "q41_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 4) AS p25,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.75), 4) AS p75,
        |  round(avg(value), 4) AS mean
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q42_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS ksum,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q43_dedup_first" ->
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 4) AS qty
        |FROM lineitem
        |QUALIFY row_number() OVER
        |  (PARTITION BY l_orderkey
        |   ORDER BY l_linenumber, l_quantity, l_partkey, l_suppkey) = 1
        |ORDER BY l_orderkey""".stripMargin,
    "q45_stats_numeric" ->
      """SELECT col_name, vmin, vmax, vmean FROM (
        |  SELECT 'o_custkey' AS col_name,
        |    round(CAST(min(o_custkey) AS DOUBLE), 4) AS vmin,
        |    round(CAST(max(o_custkey) AS DOUBLE), 4) AS vmax,
        |    round(avg(o_custkey), 4) AS vmean FROM orders
        |  UNION ALL SELECT 'o_totalprice',
        |    round(CAST(min(o_totalprice) AS DOUBLE), 4),
        |    round(CAST(max(o_totalprice) AS DOUBLE), 4),
        |    round(avg(o_totalprice), 4) FROM orders)
        |ORDER BY col_name""".stripMargin
  )
}
