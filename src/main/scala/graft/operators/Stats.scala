package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-column profiling — the reference's `stats` CLI command
  * (reference: src/cli/commands/stats.ts:17-113): row count, null count
  * (null or empty string), distinct count, plus numeric min/max/mean.
  */
object Stats {

  // column names are interpolated into selectExpr strings below: quotes
  // and backticks in a (legal) column name must be escaped, not injected
  private def sqlQuote(c: String): String = c.replace("\\", "\\\\").replace("'", "\\'")
  private def btick(c: String): String = c.replace("`", "``")
  // col("it`s") PARSES the name (INVALID_ATTRIBUTE_NAME_SYNTAX) — always
  // reference profiled columns fully quoted
  private def qcol(c: String) = col(s"`${btick(c)}`")

  /** One row per column, in column order: (col_name, n_total, n_nulls,
    * n_distinct), where a null is NULL or a value whose string form is
    * "" and n_distinct counts distinct non-NULL values.
    *
    * Exact (the reference behavior, the default): the table is unpivoted
    * once into (column index, one value slot per distinct column type),
    * so each value keeps its own type and groups under Spark's equality
    * for it (-0.0 = 0.0, all NaNs equal, timestamps by instant). One
    * map-side-combined `groupBy` of those pairs is the only hash shuffle
    * (distinct pairs with their counts); one global aggregate over the
    * pairs yields every column's counts, then a constant-size `stack`
    * unpivots the 1-row result. Per-column `countDistinct`s in a single
    * `agg` would instead plan an `Expand` that copies every row once per
    * column and hashes it on a key as wide as the table.
    *
    * `approx=true` keeps all per-column aggregates in ONE aggregation
    * pass with HLL `approx_count_distinct`, for the 100 TB path where an
    * exact distinct per column would shuffle every distinct value.
    */
  def profile(df: DataFrame, approx: Boolean = false): DataFrame =
    if (approx) profileApprox(df) else profileExact(df)

  private def profileExact(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val types = df.schema.fields.map(_.dataType).distinct
    val slotOf = df.schema.fields.map(f => types.indexOf(f.dataType))
    val slots = types.indices.map(k => s"__s$k")
    val unpivoted = cols.indices.map { i =>
      struct(lit(i).as("__i") +: types.indices.map { k =>
        (if (k == slotOf(i)) qcol(cols(i)) else lit(null).cast(types(k)))
          .as(slots(k))
      }: _*)
    }
    val pairs = df.select(inline(array(unpivoted: _*)))
      .groupBy(col("__i") +: slots.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val aggs = cols.indices.flatMap { i =>
      val v = col(slots(slotOf(i)))
      val mine = col("__i") === i
      Seq(
        coalesce(sum(when(mine, col("__n"))), lit(0L)).as(s"__total$i"),
        sum(when(mine, when(v.isNull || v.cast("string") === "", col("__n"))
          .otherwise(0L))).as(s"__nulls$i"),
        count(when(mine && v.isNotNull, 1)).as(s"__distinct$i"))
    }
    stackCounts(pairs.agg(aggs.head, aggs.tail: _*), cols)
  }

  private def profileApprox(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.indices.flatMap { i =>
      val v = qcol(cols(i))
      Seq(
        count(lit(1)).as(s"__total$i"),
        sum(when(v.isNull || v.cast("string") === "", 1).otherwise(0))
          .cast("long").as(s"__nulls$i"),
        approx_count_distinct(v).cast("long").as(s"__distinct$i"))
    }
    stackCounts(df.agg(aggs.head, aggs.tail: _*), cols)
  }

  /** The 1-row `__total<i>, __nulls<i>, __distinct<i>` aggregate of
    * [[profile]] as one row per column.
    */
  private def stackCounts(onerow: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols.indices
      .map(i => s"'${sqlQuote(cols(i))}', __total$i, __nulls$i, __distinct$i")
      .mkString(", ")
    onerow.selectExpr(
      s"stack(${cols.length}, $stackArgs) as (col_name, n_total, n_nulls, n_distinct)")
  }

  /** Numeric profile of selected columns: min/max/mean/stddev_pop/median,
    * one output row per column (reference stats.ts numeric branch).
    */
  def numericProfile(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    val aggs = numericCols.flatMap { c =>
      Seq(
        min(qcol(c)).cast("double").as(s"${c}__min"),
        max(qcol(c)).cast("double").as(s"${c}__max"),
        avg(qcol(c)).as(s"${c}__mean"))
    }
    val onerow = df.agg(aggs.head, aggs.tail.toSeq: _*)
    val stackArgs = numericCols
      .map { c =>
        val q = sqlQuote(c); val b = btick(c)
        s"'$q', round(`${b}__min`, 4), round(`${b}__max`, 4), round(`${b}__mean`, 4)"
      }
      .mkString(", ")
    onerow.selectExpr(
      s"stack(${numericCols.length}, $stackArgs) as (col_name, vmin, vmax, vmean)")
  }

  /** Fixed-width histogram of a numeric column: (bin, lo, hi, n) with
    * bin = floor(value / binWidth). NULL values drop; empty bins are
    * absent (a dense axis is presentation, not data). One
    * map-side-combinable groupBy — the scan never materializes more than
    * |bins| partial states per partition.
    */
  def histogram(df: DataFrame,
      valueCol: org.apache.spark.sql.Column, binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    df.filter(valueCol.isNotNull)
      .select(floor(valueCol / binWidth).cast("long").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), (col("bin") * binWidth).as("lo"),
        ((col("bin") + 1) * binWidth).as("hi"), col("n"))
      .orderBy(col("bin"))
  }

  /** Per-group percentile band + in-band counts: the exact interpolated
    * [pLo, pHi] percentiles of `valueCol` within each group, and how many
    * of the group's rows fall inside that band — the "trim the
    * length-outlier tails per language" curation filter, measured before
    * committing to it.
    *
    * Scale: one percentile aggregation per group (sort-based exact
    * percentile — the reference semantics; swap approx_percentile at
    * 100 TB), then the tiny per-group band table broadcasts back onto
    * the corpus for a map-side-combinable counting pass. Two scans, no
    * wide shuffle of the data itself.
    */
  def quantileBand(df: DataFrame,
      groupCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, "need 0 <= pLo <= pHi <= 1")
    val q = df.groupBy(groupCol.as("group"))
      .agg(percentile(valueCol, lit(pLo)).as("lo"),
        percentile(valueCol, lit(pHi)).as("hi"))
    df.select(groupCol.as("group"), valueCol.as("__v"))
      .join(broadcast(q), "group")
      .groupBy(col("group"), col("lo"), col("hi"))
      .agg(count(when(col("__v") >= col("lo") && col("__v") <= col("hi"), 1))
          .as("n_in"),
        count(lit(1)).as("n_all"))
      .orderBy(col("group"))
  }

  /** Winsorized per-group mean: clip `valueCol` to the group's exact
    * [pLo, pHi] percentile band before averaging, alongside the raw mean
    * — the robust-location stat a curation dashboard shows next to the
    * plain average. Same two-pass shape as [[quantileBand]]: percentile
    * agg, then a broadcast band join + one combinable avg pass.
    */
  def winsorizedMean(df: DataFrame,
      groupCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, "need 0 <= pLo <= pHi <= 1")
    val q = df.groupBy(groupCol.as("group"))
      .agg(percentile(valueCol, lit(pLo)).as("lo"),
        percentile(valueCol, lit(pHi)).as("hi"))
    df.select(groupCol.as("group"), valueCol.cast("double").as("__v"))
      .join(broadcast(q), "group")
      .groupBy(col("group"))
      .agg(avg(least(greatest(col("__v"), col("lo")), col("hi"))).as("wmean"),
        avg(col("__v")).as("mean"))
      .orderBy(col("group"))
  }

  /** Join/partition-key skew profile: one summary row over the per-key
    * frequency distribution — key cardinality, max/avg key counts, the
    * skew ratio (max/avg; 1.0 = perfectly even, the decision input for
    * salting / AQE skew-join), and the heaviest key's share of all rows.
    * Two map-side-combinable aggs; the second runs on the per-key
    * relation (|keys| rows), so nothing corpus-sized is re-shuffled.
    */
  def keySkew(df: DataFrame, keyCol: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(keyCol.as("key")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("c")).cast("long").as("n_rows"),
        max(col("c")).as("max_c"),
        round(avg(col("c")), 4).as("avg_c"),
        round(max(col("c")) / avg(col("c")), 4).as("skew"),
        round(max(col("c")).cast("double") / sum(col("c")), 4)
          .as("top_share"))

  /** Referential-integrity probe for one foreign-key edge: a 1-row
    * frame `(fk, n_child, n_orphans)` — total child rows and child rows
    * whose key has no parent. ONE pass over the child: a left join to
    * the parent's DISTINCT keys, then `count` + `count(parent IS NULL)`
    * in the same aggregate (counting over the join, not a second
    * anti-join scan). The parent side reduces to its key column before
    * the join, so Catalyst broadcasts any dimension-sized parent and
    * falls back to a keyed shuffle for fact-sized ones — never a BNL.
    * NULL child keys count as orphans (they reference nothing); a
    * `WHERE k IS NOT NULL` pre-filter is the caller's choice.
    */
  def fkAudit(name: String, child: DataFrame,
      childKey: org.apache.spark.sql.Column, parent: DataFrame,
      parentKey: org.apache.spark.sql.Column): DataFrame = {
    val pk = parent.select(parentKey.as("__pk")).distinct()
    child.select(childKey.as("__ck"))
      .join(pk, col("__ck") === col("__pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        count(when(col("__pk").isNull, 1)).as("n_orphans"))
      .select(lit(name).as("fk"), col("n_child"), col("n_orphans"))
  }

  /** [[fkAudit]] for EVERY foreign-key edge of one child table in a
    * single scan: chained left joins to each parent's distinct keys
    * (each at-most-one-match, so no fan-out; dimension-sized parents
    * broadcast by Catalyst's own sizing — no forced hint, a fact-sized
    * parent degrades to a keyed shuffle, never a BNL) feeding ONE
    * combined aggregate, then an |edges|-row reshape. Audit semantics
    * per edge are identical to [[fkAudit]]; the child is scanned once
    * instead of once per edge (q158 scanned lineitem three times).
    */
  def fkAuditMulti(child: DataFrame,
      edges: Seq[(String, org.apache.spark.sql.Column, DataFrame,
        org.apache.spark.sql.Column)]): DataFrame = {
    require(edges.nonEmpty, "at least one FK edge required")
    val base = child.select(edges.zipWithIndex.map {
      case ((_, ck, _, _), i) => ck.as(s"__ck$i") }: _*)
    val joined = edges.zipWithIndex.foldLeft(base) {
      case (df, ((_, _, p, pk), i)) =>
        df.join(p.select(pk.as(s"__pk$i")).distinct(),
          col(s"__ck$i") === col(s"__pk$i"), "left")
    }
    val aggs = count(lit(1)).as("__n") +: edges.indices.map(i =>
      count(when(col(s"__pk$i").isNull, 1)).as(s"__o$i"))
    val entries = edges.zipWithIndex.map { case ((name, _, _, _), i) =>
      struct(lit(name).as("fk"), col("__n").as("n_child"),
        col(s"__o$i").as("n_orphans"))
    }
    joined.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("__e"))
      .select(col("__e.fk").as("fk"), col("__e.n_child").as("n_child"),
        col("__e.n_orphans").as("n_orphans"))
  }

  /** EXACT heavy hitters via a Count–Min gate: `(key, cnt)` for every
    * key occurring at least `minCount` times — without shuffling the
    * full key distribution.
    *
    * Shape: (1) one map-side-combined `count_min_sketch` aggregate pass
    * (the only thing reduced globally is the ~`depth × width × 8`-byte
    * sketch — ~1.1 MB at eps 2e-4, corpus-size-independent); (2) a
    * codegen [[graft.functions.SketchGate.cms_estimate]] filter admits
    * rows whose ESTIMATED count reaches the bar — Count–Min only ever
    * overestimates, so every true heavy hitter survives; (3) an exact
    * `groupBy.count` over the survivors drops the overestimates. The
    * result is bit-identical to the full `groupBy … HAVING`, but the
    * exact-count shuffle carries only keys within `eps·N` of the bar —
    * at 100 TB that is the difference between shuffling every distinct
    * token and shuffling a few thousand candidates. The input is scanned
    * twice (sketch pass + gated pass): scans are cheap and
    * column-pruned; the shuffle is the bottleneck this removes.
    *
    * `eps` bounds the overestimate (`est ≤ true + eps·N` w.p.
    * `confidence`) — size it well under `minCount / N` or the gate
    * admits everything.
    *
    * NULL keys are EXCLUDED by contract (filtered before the sketch):
    * `count_min_sketch` skips nulls and `cms_estimate(null)` is null, so
    * without the explicit filter the gate would drop a null-key group
    * incidentally. The stated semantics are SQL `WHERE key IS NOT NULL`
    * — a "heavy hitter" is a concrete key, never the absence of one.
    * (`N` in [[heavyHittersShare]] likewise counts non-null occurrences.)
    */
  def heavyHitters(df: DataFrame, keyCol: org.apache.spark.sql.Column,
      minCount: Long, eps: Double = 2e-4, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    val keyed = df.select(keyCol.as("key")).filter(col("key").isNotNull)
    val bytes = sketchBytes(keyed, eps, confidence, seed)
    gatedExactCounts(keyed, bytes, minCount)
  }

  /** [[heavyHitters]] with the bar as a SHARE of total occurrences:
    * `minCount = ceil(minShare · N)`, with `N` read off the sketch's own
    * `totalCount` — no extra count job.
    */
  def heavyHittersShare(df: DataFrame,
      keyCol: org.apache.spark.sql.Column, minShare: Double,
      eps: Double = 2e-4, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(minShare > 0 && minShare <= 1, "need 0 < minShare <= 1")
    val keyed = df.select(keyCol.as("key")).filter(col("key").isNotNull)
    val bytes = sketchBytes(keyed, eps, confidence, seed)
    val total = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(bytes).totalCount()
    gatedExactCounts(keyed, bytes, math.ceil(minShare * total).toLong)
  }

  private def sketchBytes(keyed: DataFrame, eps: Double,
      confidence: Double, seed: Int): Array[Byte] =
    keyed.agg(count_min_sketch(col("key"), lit(eps), lit(confidence),
        lit(seed)).as("__cms"))
      .head.getAs[Array[Byte]](0)

  private def gatedExactCounts(keyed: DataFrame, sketch: Array[Byte],
      minCount: Long): DataFrame =
    keyed
      .filter(graft.functions.SketchGate.cms_estimate(sketch, col("key"))
        >= minCount)
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  // ------------------------------------------------- data-quality rules

  /** Declarative row/table constraints for [[checkConstraints]] — the
    * Deequ-style rule vocabulary a pipeline's admission gate needs.
    * Row-level rules treat NULL as out of scope (SQL CHECK semantics:
    * only [[Rule.NotNull]] fails on nulls; a range/set/regex rule over
    * a null value is vacuously satisfied) — compose with NotNull when
    * nulls should also fail. [[Rule.Holds]] is the escape hatch: the
    * violation is any row where the predicate is not TRUE (null
    * predicate = violation there — the caller wrote the whole clause).
    */
  sealed trait Rule { def name: String }
  object Rule {
    case class NotNull(column: String) extends Rule {
      def name = s"not_null($column)"
    }
    case class InSet(column: String, values: Seq[String]) extends Rule {
      def name = s"in_set($column)"
    }
    case class InRange(column: String, lo: Double, hi: Double)
        extends Rule {
      def name = s"in_range($column)"
    }
    case class MatchesRe(column: String, regex: String) extends Rule {
      def name = s"matches($column)"
    }
    case class Holds(label: String,
        predicate: org.apache.spark.sql.Column) extends Rule {
      def name = label
    }
    case class Unique(columns: Seq[String]) extends Rule {
      def name = s"unique(${columns.mkString(",")})"
    }
  }

  /** One-scan data-quality panel: evaluates every [[Rule]] against `df`
    * and returns `(rule, n_rows, n_violations, violation_rate)`, one
    * row per rule, ordered by rule name.
    *
    * Scale shape: ALL rules — including [[Rule.Unique]] — reduce to a
    * single aggregate over ONE scan of `df` (row rules are conditional
    * counts; uniqueness is `count(*) − count(DISTINCT keys)`, the rows
    * beyond the first of each duplicated key; the distinct aggregate
    * rides the same scan via Spark's Expand). A [[Rule.Unique]] key with
    * a NULL component counts as a violation (count(DISTINCT) skips null
    * tuples — a null key cannot assert uniqueness); compose with
    * [[Rule.NotNull]] to report those rows separately. The result is 1 row wide
    * per rule and reshaped plan-side (explode of a literal-struct
    * array) — no collect, no per-rule pass. Referential rules are
    * [[fkAudit]] / [[fkAuditMulti]]'s job (they need the parent
    * relation); union the two panels downstream.
    */
  def checkConstraints(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule required")
    require(rules.map(_.name).distinct.size == rules.size,
      "rule names must be unique (duplicate rule in the panel)")
    def violation(r: Rule): org.apache.spark.sql.Column = r match {
      case Rule.NotNull(c) => qcol(c).isNull
      case Rule.InSet(c, vs) =>
        qcol(c).isNotNull && !qcol(c).isin(vs: _*)
      case Rule.InRange(c, lo, hi) =>
        qcol(c).isNotNull && (qcol(c) < lo || qcol(c) > hi)
      case Rule.MatchesRe(c, re) =>
        qcol(c).isNotNull && !qcol(c).rlike(re)
      case Rule.Holds(_, p) => !coalesce(p, lit(false))
      case Rule.Unique(_) =>
        throw new IllegalStateException("handled as an aggregate")
    }
    val aggs = count(lit(1)).as("__n") +: rules.zipWithIndex.map {
      case (Rule.Unique(cols), i) =>
        (count(lit(1)) - countDistinct(qcol(cols.head),
          cols.tail.map(qcol): _*)).as(s"__v$i")
      case (r, i) => count(when(violation(r), 1)).as(s"__v$i")
    }
    val entries = rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.name).as("rule"), col("__n").as("n_rows"),
        col(s"__v$i").as("n_violations"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("__e"))
      .select(col("__e.rule").as("rule"), col("__e.n_rows").as("n_rows"),
        col("__e.n_violations").as("n_violations"),
        round(col("__e.n_violations").cast("double") /
          col("__e.n_rows"), 6).as("violation_rate"))
      .orderBy(col("rule"))
  }

  // ------------------------------------------- per-group OLS regression

  /** Per-group simple linear regression `y = slope·x + intercept` with
    * the fit quality `r2`, computed from EXACT decimal sufficient sums
    * — the engine-parity shape for regression panels (double Σxy is
    * summation-order-dependent; decimal Σxy is not).
    *
    * `x` and `y` MUST be decimal columns (cast upstream — e.g.
    * `col("l_quantity").cast("decimal(18,2)")`); their product stays on
    * the exact decimal grid ((18,s)×(18,s) → (37,2s), no precision
    * adjustment in Spark OR DuckDB), so the five sufficient sums
    * n, Σx, Σy, Σxy, Σx², Σy² are order-independent exact values. The
    * closed forms are evaluated in double AFTER the exact sums, with
    * one fixed parenthesization an oracle must mirror literally:
    * `slope = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx)`,
    * `intercept = (Σy − slope·Σx) / n`,
    * `r2 = (n·Σxy − Σx·Σy)² / ((n·Σx² − Σx·Σx) · (n·Σy² − Σy·Σy))`.
    * Degenerate groups (constant x → zero denominator) yield null
    * slope/intercept/r2 rather than ±Infinity.
    *
    * One combinable aggregation — map-side partials, |groups| rows out;
    * the panel scales to any corpus the groupBy key can shuffle.
    */
  def regressionByGroup(df: DataFrame, groupCols: Seq[String],
      x: Column, y: Column): DataFrame = {
    val sums = df
      .select(groupCols.map(qcol) :+ x.as("__x") :+ y.as("__y"): _*)
      .groupBy(groupCols.map(qcol): _*)
      .agg(count(lit(1)).cast("double").as("__cn"),
        sum(col("__x")).cast("double").as("__sx"),
        sum(col("__y")).cast("double").as("__sy"),
        sum(col("__x") * col("__y")).cast("double").as("__sxy"),
        sum(col("__x") * col("__x")).cast("double").as("__sxx"),
        sum(col("__y") * col("__y")).cast("double").as("__syy"))
    val covN = col("__cn") * col("__sxy") - col("__sx") * col("__sy")
    val varX = col("__cn") * col("__sxx") - col("__sx") * col("__sx")
    val varY = col("__cn") * col("__syy") - col("__sy") * col("__sy")
    val slope = when(varX =!= 0.0, covN / varX)
    sums.select(
      groupCols.map(qcol) :+
        col("__cn").cast("long").as("n") :+
        slope.as("slope") :+
        when(varX =!= 0.0, (col("__sy") - slope * col("__sx")) /
          col("__cn")).as("intercept") :+
        when(varX =!= 0.0 && varY =!= 0.0,
          covN * covN / (varX * varY)).as("r2"): _*)
  }

  /** Weight-of-evidence / information-value table — the classic
    * predictive-power panel of a curation classifier's binned feature
    * against a binary label: per bin, exact counts, the class shares,
    * `woe = ln(pos_share/neg_share)` and its IV contribution
    * `(pos_share − neg_share)·woe`, plus the IV total as a constant
    * column. `bin` must be a bounded discrete expression (integer
    * grid / accepted values) — everything after one corpus aggregate
    * is |bins|-row.
    *
    * Cross-engine exactness: counts and share numerators are exact
    * longs; each share is ONE double division; `ln` appears only in
    * DISPLAYED values (the q127 rule — nothing orders on it). The IV
    * TOTAL is a bin-ordered left-to-right fold over the |bins| rows
    * (the q134 `list_reduce` idiom) — an unordered SUM of the double
    * contributions would be engine-divergent in accumulation order.
    * A bin with only one class has no finite woe: LOUD raise_error
    * inside the value (choose coarser bins), null-label/bin rows are
    * dropped, single-class corpora raise via the same guard.
    */
  def woeIvTable(df: DataFrame, bin: Column, label: Column): DataFrame = {
    val g = df.select(bin.as("bin"), label.cast("int").as("__y"))
      .filter(col("bin").isNotNull && col("__y").isNotNull)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__y")).cast("long").as("__np"))
      .localCheckpoint() // |bins| rows; feeds totals, rows AND the fold
    val tot = g.agg(sum(col("__np")).as("__p"),
      sum(col("n") - col("__np")).as("__q"))
    val withTot = g.crossJoin(broadcast(tot))
    val ps = col("__np").cast("double") / col("__p").cast("double")
    val qs = (col("n") - col("__np")).cast("double") / col("__q").cast("double")
    val guardBad = coalesce(col("__p"), lit(0L)) === 0 ||
      coalesce(col("__q"), lit(0L)) === 0 ||
      col("__np") === 0 || col("__np") === col("n")
    // EVERY divided value rides inside the guard: a bare `ps` column
    // would evaluate its division eagerly and ANSI-throw DIVIDE_BY_ZERO
    // on a single-class corpus before the documented raise fires
    def guarded(v: Column): Column = when(guardBad, raise_error(concat(
        lit("woeIvTable: bin "), col("bin").cast("string"),
        lit(" has a zero class side (or the corpus is single-class) — " +
          "woe is undefined; choose coarser bins"))))
      .otherwise(v)
    val woe = guarded(log(ps / qs))
    val perBin = withTot.select(col("bin"), col("n"),
        col("__np").as("n_pos"), (col("n") - col("__np")).as("n_neg"),
        guarded(ps).as("__ps"), guarded(qs).as("__qs"), woe.as("__woe"),
        guarded((ps - qs) * log(ps / qs)).as("__iv"))
      .localCheckpoint() // fires the guard; feeds rows AND the IV fold
    val ivTot = perBin
      .agg(collect_list(struct(col("bin"), col("__iv"))).as("__l"))
      .select(aggregate(
        transform(array_sort(col("__l")), _.getField("__iv")),
        lit(0.0), (acc, x) => acc + x).as("__ivTotal"))
    perBin.crossJoin(broadcast(ivTot))
      .select(col("bin"), col("n"), col("n_pos"), col("n_neg"),
        round(col("__ps"), 6).as("pos_share"),
        round(col("__qs"), 6).as("neg_share"),
        round(col("__woe"), 6).as("woe"),
        round(col("__iv"), 6).as("iv_contrib"),
        round(col("__ivTotal"), 6).as("iv_total"))
      .orderBy(col("bin"))
  }

  /** Population-stability index between two cohorts of one binned
    * value — the standard drift alarm between a reference corpus and
    * a new batch ("did the score/length/quality distribution move?").
    * Per bin: both cohorts' exact counts and shares, the PSI
    * contribution `(share_a − share_b)·ln(share_a/share_b)`, and the
    * PSI total (bin-ordered fold, [[woeIvTable]]'s exactness
    * contract). A bin empty on either side raises loudly inside the
    * value — PSI is undefined there and silently epsilon-padding it
    * hides exactly the drift the panel exists to surface.
    */
  def psiTable(dfA: DataFrame, dfB: DataFrame, bin: Column): DataFrame = {
    def side(df: DataFrame, nm: String) =
      df.select(bin.as("bin")).filter(col("bin").isNotNull)
        .groupBy(col("bin")).agg(count(lit(1)).as(nm))
    val g = side(dfA, "n_a").join(side(dfB, "n_b"), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .localCheckpoint() // |bins| rows
    val tot = g.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    val sa = col("n_a").cast("double") / col("__ta").cast("double")
    val sb = col("n_b").cast("double") / col("__tb").cast("double")
    val guardBad = col("n_a") === 0 || col("n_b") === 0 ||
      coalesce(col("__ta"), lit(0L)) === 0 ||
      coalesce(col("__tb"), lit(0L)) === 0
    def guarded(v: Column): Column = when(guardBad, raise_error(concat(
        lit("psiTable: bin "), col("bin").cast("string"),
        lit(" is empty on one side — PSI undefined; coarsen bins or " +
          "inspect the missing mass"))))
      .otherwise(v)
    val contrib = guarded((sa - sb) * log(sa / sb))
    val perBin = g.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        guarded(sa).as("__sa"), guarded(sb).as("__sb"), contrib.as("__c"))
      .localCheckpoint() // fires the guard; feeds rows AND the fold
    val psiTot = perBin
      .agg(collect_list(struct(col("bin"), col("__c"))).as("__l"))
      .select(aggregate(
        transform(array_sort(col("__l")), _.getField("__c")),
        lit(0.0), (acc, x) => acc + x).as("__psi"))
    perBin.crossJoin(broadcast(psiTot))
      .select(col("bin"), col("n_a"), col("n_b"),
        round(col("__sa"), 6).as("share_a"),
        round(col("__sb"), 6).as("share_b"),
        round(col("__c"), 6).as("psi_contrib"),
        round(col("__psi"), 6).as("psi_total"))
      .orderBy(col("bin"))
  }
}
