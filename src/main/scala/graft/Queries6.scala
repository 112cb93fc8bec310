package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Bucketing, Curation, Dedup, Similarity, Stats, Vocab}

/** Sixth query batch: corpus-distribution analytics and layout ops —
  * semantic (embedding-space) dedup, shingle containment, sliding-window
  * chunking, KL domain drift, lexical-diversity stats, per-doc token
  * entropy, partition-pruned layout, join-key skew profiling, and cohort
  * retention. All DuckDB-oracled (the float kernels follow the
  * established engine-exact rules: left-to-right double accumulation,
  * round(…, 4) boundary predicates on BOTH sides).
  */
object Queries6 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** semantic dedup over the embedding space, through the SCALE path:
    * hyperplane-banded candidate pairs with exact round(cos,4) >= 0.9
    * rescore ([[Similarity.cosinePairsLsh]] — NO CartesianProduct in
    * the plan) → connected components → keep the min-id representative
    * per cluster. The raw testdata embeddings contain no semantic near-dups
    * (max background pair cos ≈ 0.51 at every SF — measured round 6), so
    * the query PLANTS them the way q113 plants corpus versions: every
    * %10 == 0 vector gets a deterministic low-amplitude jittered copy
    * (cos ≈ 0.997 to its source, mirrored element-for-element in the
    * oracle), putting the threshold squarely in the gateable regime —
    * per-pair band-miss ~1e-7 vs the 0.51 background ceiling.
    */
  def q92_semantic_dedup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // deterministic jitter (QueryFixtures.plantedEmbeddings): e[i] +=
    // 0.005 * (((vec_id*31 + i) % 7) - 3); pure double arithmetic,
    // identical left-to-right in both engines — the oracle SQL below
    // mirrors it element-for-element
    val v = QueryFixtures.plantedEmbeddings(base)
    // 12-bit × 12-band hand geometry: the 10× rehearsal measured the
    // 7-bit default going quadratic in candidates (buckets ~n/128);
    // 2^12 band values keep buckets ≤16 through sf1 (22k vectors), and
    // 12 bands hold the planted-pair (cos ≈ 0.9967, p ≈ 0.974) miss
    // rate at ~1.5e-7. Round 8: the knee routing is CODE, not scaladoc
    // — autoLshGeometry keeps 12×12 while occupancy n/2^12 ≤ 16
    // (every oracle SF: 0.13 → 5.4 at sf1, so the oracled plan never
    // changes) and switches to scaledLshGeometry past it, carrying the
    // hand geometry's own 1.5e-7 design miss across the switch. The
    // cap is the MEASURED crossover on decorrelated rehearsal data:
    // scaled wins 13.3→11.1 s at occ 18 (sf3) and 141→48 s at occ 54
    // (sf10); hand wins 1.9 vs 5.3 s at occ 0.5 (sf0.1).
    val (r, b, _) = Similarity.autoLshGeometry(v.count(), 12, 12, 0.9967,
      1.5e-7)
    val pairs = Similarity.cosinePairsLsh(v, "vec_id", "e", 0.9, dim = 64,
      r, b)
    Dedup.connectedComponents(v.select(col("vec_id")), "vec_id",
        pairs, "id_a", "id_b")
      .select(col("id").as("vec_id"), col("comp"),
        (col("id") === col("comp")).cast("long").as("keep"))
      .orderBy(col("vec_id"))
  }

  /** shingle containment pairs: inter / min(|A|,|B|) >= 0.6 — catches a
    * short doc fully embedded in a longer one, which Jaccard dilutes.
    * Round 8: rides [[Dedup.containmentPairsPrefix]] (pigeonhole prefix
    * filter — EXACT, recall 1 by construction, so the oracle is
    * unchanged) instead of the co-shingled self-join, whose Σ df² cost
    * the 100× sweep measured at 261 s (hot cross-replica shingles);
    * the prefix probe is candidate-proportional.
    */
  def q93_containment_pairs(s: SparkSession, dir: String): DataFrame =
    // r19: served from the shared per-process ContainmentRel build —
    // the per-doc sets + class window + pigeonhole candidate + verify
    // stages are derived once per process for q93/q165 (guide §2.4);
    // only the cheap expansion + threshold filter runs here. Output
    // identical to the inline containmentPairsPrefix.
    Dedup.containmentPairsPrefixFrom(ContainmentRel.docMap(s, dir),
        ContainmentRel.repPairs(s, dir), threshold = ContainmentRel.Threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("containment"))
      .orderBy(col("id_a"), col("id_b"))

  /** sliding-window training-context chunking: 32-token windows every 24
    * tokens (8-token overlap); chunk content is pinned by md5.
    */
  def q94_doc_chunks(s: SparkSession, dir: String): DataFrame =
    Curation.chunkDocuments(t(s, dir, "documents"), "doc_id", col("text"),
        window = 32, stride = 24)
      .select(col("doc_id"), col("chunk_idx"), col("n_toks"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** per-source token-distribution KL divergence vs the whole corpus —
    * the domain-drift diagnostic of a mixture dashboard.
    */
  def q95_domain_drift(s: SparkSession, dir: String): DataFrame =
    Vocab.domainDrift(t(s, dir, "documents"), col("source"), col("text"))
      .select(col("group").as("source"), col("n_tokens"), col("kl"))
      .orderBy(col("source"))

  /** per-source lexical diversity: type/token counts, TTR, hapax rate. */
  def q96_lexical_stats(s: SparkSession, dir: String): DataFrame =
    Vocab.lexicalStats(t(s, dir, "documents"), col("source"), col("text"))
      .select(col("group").as("source"), col("n_tokens"), col("n_types"),
        col("ttr"), col("n_hapax"), col("hapax_rate"))
      .orderBy(col("source"))

  /** per-language token-entropy profile: the per-doc HOF entropy kernel
    * (no shuffle) aggregated per lang.
    */
  def q97_token_entropy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        TextFunctions.tokenEntropy(col("text")).as("h"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("h")), 4).as("avg_entropy"),
        round(min(col("h")), 4).as("min_entropy"),
        round(max(col("h")), 4).as("max_entropy"))
      .orderBy(col("lang"))

  /** partition-pruned layout round-trip: write documents partitioned by
    * lang, read back with a lang filter (directory pruning — the scan
    * never opens other langs' files), aggregate. The oracle reads the
    * ORIGINAL parquet, so any layout/read corruption breaks the hash.
    */
  def q98_partition_prune(s: SparkSession, dir: String): DataFrame = {
    // per-process + per-SF path (shutdown-cleaned): a concurrent
    // Verify/Bench pair must not overwrite each other's layout mid-read
    // (the result is lazy; the directory has to stay intact until the
    // caller executes the plan)
    val tmp = TmpDirs.perProcess("graft_part_layout", dir)
    Bucketing.writePartitioned(t(s, dir, "documents"), tmp, Seq("lang"))
    s.read.parquet(tmp).filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("source"))
  }

  /** join-key skew profile of orders.o_custkey — the salting / skew-join
    * decision input, as a one-row summary.
    */
  def q99_key_skew(s: SparkSession, dir: String): DataFrame =
    Stats.keySkew(t(s, dir, "orders"), col("o_custkey"))

  /** weekly cohort retention matrix over events: first-touch day cohorts
    * × weeks-since-cohort, distinct active users.
    */
  def q100_cohort_retention(s: SparkSession, dir: String): DataFrame =
    Curation.cohortRetention(t(s, dir, "events"), col("user_id"), col("ts"))
      .orderBy(col("cohort"), col("week_offset"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q92_semantic_dedup" -> q92_semantic_dedup _,
    "q93_containment_pairs" -> q93_containment_pairs _,
    "q94_doc_chunks" -> q94_doc_chunks _,
    "q95_domain_drift" -> q95_domain_drift _,
    "q96_lexical_stats" -> q96_lexical_stats _,
    "q97_token_entropy" -> q97_token_entropy _,
    "q98_partition_prune" -> q98_partition_prune _,
    "q99_key_skew" -> q99_key_skew _,
    "q100_cohort_retention" -> q100_cohort_retention _
  )

  val oracles: Map[String, String] = Map(
    "q92_semantic_dedup" ->
      """WITH RECURSIVE base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |), jit AS (
        |  SELECT vec_id + 10000000 AS vec_id,
        |    list(x + 0.005 * (((vec_id * 31 + i - 1) % 7) - 3)
        |      ORDER BY i) AS e
        |  FROM (SELECT vec_id, generate_subscripts(e, 1) AS i,
        |          unnest(e) AS x
        |        FROM base WHERE vec_id % 10 = 0)
        |  GROUP BY vec_id
        |), v AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM jit
        |), pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b
        |  ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.e, b.e), 4) >= 0.9
        |), e AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs
        |), reach AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a WHERE e.b <> r.a
        |), cl AS (
        |  SELECT x.vec_id,
        |    least(x.vec_id, coalesce(min(r.b), x.vec_id)) AS comp
        |  FROM v x LEFT JOIN reach r ON r.a = x.vec_id
        |  GROUP BY x.vec_id
        |)
        |SELECT vec_id, comp,
        |  CAST(CASE WHEN vec_id = comp THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM cl ORDER BY vec_id""".stripMargin,
    "q93_containment_pairs" ->
      """WITH toks AS (
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
        |)
        |SELECT id_a, id_b, i AS inter,
        |  round(i / CAST(least(sa.n, sb.n) AS DOUBLE), 4) AS containment
        |FROM inter
        |JOIN (SELECT doc_id, len(shingles) n FROM sh) sa ON sa.doc_id = id_a
        |JOIN (SELECT doc_id, len(shingles) n FROM sh) sb ON sb.doc_id = id_b
        |WHERE round(i / CAST(least(sa.n, sb.n) AS DOUBLE), 4) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    "q94_doc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents
        |), st AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, greatest(len(t), 1), 24)) AS s
        |  FROM toks
        |)
        |SELECT doc_id, CAST(s / 24 AS BIGINT) AS chunk_idx,
        |  CAST(len(t[s+1 : least(s+32, len(t))]) AS BIGINT) AS n_toks,
        |  md5(array_to_string(t[s+1 : least(s+32, len(t))], ' '))
        |    AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    "q95_domain_drift" ->
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS w
        |  FROM documents
        |), sc AS (
        |  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
        |), sn AS (
        |  SELECT source, CAST(sum(c) AS DOUBLE) AS n FROM sc GROUP BY 1
        |), tc AS (
        |  SELECT w, CAST(sum(c) AS DOUBLE) AS ct FROM sc GROUP BY 1
        |), tn AS (
        |  SELECT CAST(sum(ct) AS DOUBLE) AS nt FROM tc
        |)
        |SELECT sc.source, CAST(sn.n AS BIGINT) AS n_tokens,
        |  round(sum((sc.c / sn.n) * ln((sc.c / sn.n) / (tc.ct / tn.nt))),
        |    4) AS kl
        |FROM sc JOIN sn USING (source) JOIN tc USING (w) CROSS JOIN tn
        |GROUP BY sc.source, sn.n ORDER BY sc.source""".stripMargin,
    "q96_lexical_stats" ->
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS w
        |  FROM documents
        |), sc AS (
        |  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
        |)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  round(count(*) / CAST(sum(c) AS DOUBLE), 4) AS ttr,
        |  count(CASE WHEN c = 1 THEN 1 END) AS n_hapax,
        |  round(count(CASE WHEN c = 1 THEN 1 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS hapax_rate
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,
    "q97_token_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents
        |), dc AS (
        |  SELECT doc_id, lang, w, count(*) AS c FROM tok GROUP BY 1, 2, 3
        |), dn AS (
        |  SELECT doc_id, lang, CAST(sum(c) AS DOUBLE) AS n
        |  FROM dc GROUP BY 1, 2
        |), ent AS (
        |  SELECT dc.doc_id, dc.lang,
        |    -sum((dc.c / dn.n) * ln(dc.c / dn.n)) AS h
        |  FROM dc JOIN dn USING (doc_id, lang) GROUP BY dc.doc_id, dc.lang
        |)
        |SELECT lang, count(*) AS n_docs, round(avg(h), 4) AS avg_entropy,
        |  round(min(h), 4) AS min_entropy, round(max(h), 4) AS max_entropy
        |FROM ent GROUP BY lang ORDER BY lang""".stripMargin,
    "q98_partition_prune" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    "q99_key_skew" ->
      """WITH per AS (
        |  SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey
        |)
        |SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
        |  max(c) AS max_c, round(avg(c), 4) AS avg_c,
        |  round(max(c) / avg(c), 4) AS skew,
        |  round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_share
        |FROM per""".stripMargin,
    "q100_cohort_retention" ->
      """WITH fd AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS cohort
        |  FROM events GROUP BY user_id
        |), uw AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
        |)
        |SELECT cohort,
        |  CAST(datediff('day', cohort, d) // 7 AS BIGINT) AS week_offset,
        |  count(DISTINCT user_id) AS users
        |FROM uw JOIN fd USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
