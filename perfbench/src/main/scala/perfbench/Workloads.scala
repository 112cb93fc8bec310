package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.functions.TextFunctions
import graft.operators.{Ops, Stats}
import graft.sources.{CsvOptions, CsvReader, CsvWriter}

/** One timed operation: a call into the program's public functions whose
  * full result is drained to Spark's `noop` sink (`run`), and the same
  * call's output fingerprint, computed outside the timed region (`check`).
  * `run` returns the bytes it wrote, for the operations that write.
  */
final case class Op(name: String, layer: String, run: () => Long,
    check: () => Digest)

object Op {
  def drain(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    0L
  }

  /** An operation whose result is a frame. */
  def frame(name: String, layer: String)(f: () => DataFrame): Op =
    Op(name, layer, () => drain(f()), () => Digest.of(f()))
}

/** Paths and knobs shared by the workloads of one run. */
final case class Ctx(seed: Long, dataDir: String, inputDir: java.io.File,
    outDir: java.io.File, smoke: Boolean)

/** A benchmark workload: set-up (inputs and warm-up), an optional one-time
  * build phase, the operations of one pass, and the expected fingerprint
  * of each operation.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def build(spark: SparkSession): Seq[Op] = Nil
  def ops(spark: SparkSession): Seq[Op]
  def expected(op: String): Option[Digest]
  /** Sizes the report needs (input bytes and the like), after the run. */
  def sizes: Map[String, Long] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx, pinned: Map[String, Digest]): Workload =
    name match {
      case "csv_etl" => new CsvEtl(ctx)
      case "sql_analytics" => new Catalog(ctx, pinned, SqlQueries, Nil)
      case "llm_pipeline" => new Catalog(ctx, pinned, LlmQueries, IngestQueries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** sql_analytics: catalog query → layer metric. Two to four queries of
    * each group; the rest of the groups' queries do not fit the run budget
    * (see README.md).
    */
  val SqlQueries: Seq[(String, String)] = Seq(
    "q01_agg_basic" -> "queries.agg_s", "q14_distinct" -> "queries.agg_s",
    "q78_cube" -> "queries.agg_s",
    "q07_join_inner" -> "queries.join_s", "q10_join_full" -> "queries.join_s",
    "q108_correlated_subquery" -> "queries.join_s",
    "q21_window_funcs" -> "queries.window_s",
    "q43_dedup_first" -> "queries.window_s",
    "q104_time_weighted" -> "queries.window_s",
    "q112_clv_deciles" -> "queries.window_s",
    "q23_asof_join" -> "plans.asof_range_s",
    "q50_asof_broadcast" -> "plans.asof_range_s",
    "q61_range_join" -> "plans.asof_range_s",
    "q47_sql_dialect" -> "queries.tpch_s",
    "q145_market_share" -> "queries.tpch_s",
    "q153_supply_degree" -> "queries.tpch_s")

  /** llm_pipeline serve-pass queries → layer metric, one query per
    * operator family.
    */
  val LlmQueries: Seq[(String, String)] = Seq(
    "q31_minhash_neardup" -> "operators.minhash_s",
    "q49_top_pairs_lsh" -> "operators.lsh_s",
    "q194_tf_cosine_pairs" -> "operators.tfcos_s",
    "q170_name_collisions" -> "operators.edit_s",
    "q71_repeated_spans" -> "operators.spans_s",
    "q63_top_bigrams" -> "operators.ngram_s",
    "q197_bm25_topk" -> "operators.bm25_s",
    "q57_pii_redact" -> "operators.text_project_s")

  /** llm_pipeline store-backed ingest queries → store. Phase-1 calls build
    * the store and are reported as `<store>.build_s`; phase-2 calls serve
    * it and are reported as `<store>.serve_s`.
    */
  val IngestQueries: Seq[(String, String)] = Seq(
    "q209_ivf2_append_topk" -> "stores.ivf")
}

/** `csv_etl`: the TurboCSV surface over two seeded CSV files. */
final class CsvEtl(ctx: Ctx) extends Workload {
  import Ops._

  private val typedPath = new java.io.File(ctx.inputDir, "typed.csv").getPath
  private val quotedPath = new java.io.File(ctx.inputDir, "quoted.csv").getPath
  private val writePath = new java.io.File(ctx.outDir, "typed_out").getPath
  private var exp: CsvGen.CsvExpect = _

  private def mb(x: Double): Long = (x * 1e6).toLong

  def setup(spark: SparkSession): Unit = {
    exp = if (ctx.smoke) CsvGen.generate(ctx.inputDir, ctx.seed, mb(0.5), mb(0.25))
      else CsvGen.generate(ctx.inputDir, ctx.seed, mb(6), mb(3))
    Op.drain(CsvReader.read(spark, typedPath, CsvOptions(preview = 1000)).df)
  }

  private def plain(spark: SparkSession) = CsvReader.read(spark, typedPath)
  private def typed(spark: SparkSession) =
    CsvReader.read(spark, typedPath, CsvOptions(dynamicTyping = true)).df

  def ops(spark: SparkSession): Seq[Op] = Seq(
    Op("count_only", "sources.count_only_s",
      () => { plain(spark).df.count(); 0L },
      () => Digest(plain(spark).df.count(), 0L, 0.0)),
    Op.frame("read", "sources.read_s")(() => plain(spark).df),
    Op.frame("read_typed", "sources.read_typed_s")(() => typed(spark)),
    Op.frame("validate", "sources.validate_s")(() => plain(spark).errors),
    Op.frame("filter_sort_head", "operators.filter_sort_head_s")(() =>
      typed(spark).filterExpr(CsvGen.FilterExpr).sorted("row_id", descending = true)
        .firstN(CsvGen.HeadN)),
    Op.frame("stats_profile", "operators.stats_profile_s")(() =>
      Stats.profile(plain(spark).df)),
    Op.frame("heavy_hitters", "operators.heavy_hitters_s")(() =>
      Stats.heavyHittersShare(plain(spark).df, col("city"), CsvGen.HeavyShare)),
    Op("write", "sources.write_s",
      () => { CsvWriter.write(typed(spark), writePath); csvBytes(writePath) },
      () => {
        CsvWriter.write(typed(spark), writePath)
        Digest.of(spark.read.option("header", "true").csv(writePath),
          untyped = true)
      }),
    Op.frame("read_quoted", "sources.read_quoted_s")(() =>
      CsvReader.read(spark, quotedPath, CsvOptions(multiLine = true)).df))

  def expected(op: String): Option[Digest] = Option(exp).map { e =>
    op match {
      case "count_only" => Digest(e.rows, 0L, 0.0)
      case "read" => e.plain
      case "read_typed" | "write" => e.typed
      case "validate" => Digest.Empty
      case "filter_sort_head" => e.filterHead
      case "stats_profile" => e.profile
      case "heavy_hitters" => e.heavy
      case "read_quoted" => e.quoted
    }
  }

  override def sizes: Map[String, Long] = Map(
    "typed_bytes" -> exp.typedBytes, "quoted_bytes" -> exp.quotedBytes,
    "typed_rows" -> exp.rows, "quoted_rows" -> exp.quotedRows)

  /** Bytes of the CSV part files (not Spark's checksum and marker files). */
  private def csvBytes(p: String): Long =
    Option(new java.io.File(p).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("part-")).map(_.length).sum
}

/** `sql_analytics` and `llm_pipeline`: catalog queries over the read-only
  * parquet tables, plus (llm_pipeline) the store-backed ingest queries and
  * a projection of the text kernels.
  */
final class Catalog(ctx: Ctx, pinned: Map[String, Digest],
    queries: Seq[(String, String)], ingest: Seq[(String, String)])
    extends Workload {

  private def query(spark: SparkSession, q: String): DataFrame =
    SparkEntry.queries(q)(spark, ctx.dataDir)

  private def docFeatures(spark: SparkSession): DataFrame = {
    val t = col("text")
    Tables(spark, ctx.dataDir, "documents").select(col("doc_id"),
      TextFunctions.normalizeText(t).as("normalized"),
      TextFunctions.redactPii(t).as("redacted"),
      TextFunctions.qualityScore(t).as("quality"),
      TextFunctions.langId(t).as("lang_id"),
      TextFunctions.tokenCountBpe(t).as("tokens"),
      TextFunctions.charShingles(t, 5).as("shingles"))
  }

  /** Warm up with the first operation of a pass, which never touches a
    * store (the stores are built in phase 1).
    */
  def setup(spark: SparkSession): Unit = ops(spark).head.run(): Unit

  override def build(spark: SparkSession): Seq[Op] =
    ingest.map { case (q, store) => Op.frame(q, s"$store.build_s")(() => query(spark, q)) }

  def ops(spark: SparkSession): Seq[Op] = {
    val kernels =
      if (ingest.isEmpty) Nil
      else Seq(Op.frame("doc_features", "functions.doc_features_s")(() => docFeatures(spark)))
    kernels ++
      ingest.map { case (q, store) => Op.frame(q, s"$store.serve_s")(() => query(spark, q)) } ++
      queries.map { case (q, layer) => Op.frame(q, layer)(() => query(spark, q)) }
  }

  def expected(op: String): Option[Digest] = pinned.get(op)
}
