package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.SketchGate
import graft.operators.{Joins, Stats}

/** The round-8 sketch-gate family, spec'd to the repo's custom-Expression
  * bar: interpreted `eval` == codegen result over the full item type
  * matrix, null semantics, type-check failures, and the two equality
  * properties the operators' scale claims rest on — `heavyHitters` ==
  * plain groupBy…HAVING (exactly), `bloomPrunedSemiJoin` == semiJoin
  * (exactly) — fuzz-proved like PairsPropertySpec did for the pairs
  * family.
  */
class SketchGateSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------- type-matrix fixtures

  /** (column dataframe, spark DataType, probe values present, absent) per
    * supported item type. Values chosen to exercise sign/width edges.
    */
  private lazy val typeMatrix: Seq[(String, org.apache.spark.sql.DataFrame,
      DataType, Seq[Any], Seq[Any])] = Seq(
    ("string",
      Seq("alpha", "beta", "alpha", "Ω-utf8", "").toDF("k"),
      StringType, Seq("alpha", "beta", "Ω-utf8", ""), Seq("gamma", "ALPHA")),
    ("binary",
      Seq(Array[Byte](1, 2, 3), Array[Byte](), Array[Byte](1, 2, 3),
        Array[Byte](-1, 0, 127)).toDF("k"),
      BinaryType, Seq(Array[Byte](1, 2, 3), Array[Byte](),
        Array[Byte](-1, 0, 127)), Seq(Array[Byte](9, 9))),
    ("byte",
      Seq(1.toByte, (-128).toByte, 127.toByte, 1.toByte).toDF("k"),
      ByteType, Seq(1.toByte, (-128).toByte, 127.toByte), Seq(7.toByte)),
    ("short",
      Seq(2.toShort, Short.MinValue, Short.MaxValue).toDF("k"),
      ShortType, Seq(2.toShort, Short.MinValue, Short.MaxValue),
      Seq(99.toShort)),
    ("int",
      Seq(3, Int.MinValue, Int.MaxValue, 3).toDF("k"),
      IntegerType, Seq(3, Int.MinValue, Int.MaxValue), Seq(123456)),
    ("long",
      Seq(4L, Long.MinValue, Long.MaxValue).toDF("k"),
      LongType, Seq(4L, Long.MinValue, Long.MaxValue), Seq(987654321L)))

  private def cmsBytesOf(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    df.agg(count_min_sketch(col("k"), lit(0.001), lit(0.99), lit(42)))
      .head.getAs[Array[Byte]](0)

  /** Interpreted path: direct `eval` on the expression with literal
    * children — never touches codegen.
    */
  private def interpCms(bytes: Array[Byte], v: Any, dt: DataType): Any =
    SketchGate.CmsEstimate(Literal(bytes, BinaryType),
      Literal.create(v, dt)).eval(InternalRow.empty)

  private def interpBloom(bytes: Array[Byte], v: Any, dt: DataType): Any =
    SketchGate.BloomContains(Literal(bytes, BinaryType),
      Literal.create(v, dt)).eval(InternalRow.empty)

  test("cms_estimate: interpreted == codegen over the item type matrix, " +
      "and every estimate overestimates the true count") {
    for ((name, df, dt, present, absent) <- typeMatrix) {
      val bytes = cmsBytesOf(df)
      val trueCounts = df.groupBy("k").count().collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      // codegen: the probe runs inside whole-stage codegen in a projection
      val probes = (present ++ absent)
      val probeDf = spark.createDataFrame(
        spark.sparkContext.parallelize(probes.map(Row(_)), 2),
        StructType(Seq(StructField("k", dt, nullable = true))))
      val gen = probeDf
        .select(col("k"), SketchGate.cms_estimate(bytes, col("k")).as("est"))
        .collect().map(r => r.get(0) -> r.getLong(1))
      assert(gen.length == probes.length)
      for ((k, est) <- gen) {
        val interp = interpCms(bytes, k, dt)
        assert(interp == est,
          s"$name: interpreted $interp != codegen $est for item $k")
      }
      // overestimate property (the gate's correctness): est >= true count
      // for present keys; keyed by rendering since byte[] lacks equals
      def render(a: Any): String = a match {
        case b: Array[Byte] => b.mkString(",")
        case x => String.valueOf(x)
      }
      val genMap = gen.map { case (k, e) => render(k) -> e }.toMap
      val trueMap = trueCounts.map { case (k, c) => render(k) -> c }
      for ((k, c) <- trueMap)
        assert(genMap(k) >= c, s"$name: est ${genMap(k)} < true $c for $k")
    }
  }

  test("bloom_contains: interpreted == codegen, no false negatives, " +
      "over the item type matrix") {
    for ((name, df, dt, present, absent) <- typeMatrix) {
      // stat.bloomFilter covers string+integral builders; binary items go
      // through a direct putBinary build (stat.bloomFilter has no binary
      // overload) — the probe path under test is identical
      val bytes = dt match {
        case BinaryType =>
          val bf = BloomFilter.create(100, 0.01)
          present.foreach(b => bf.putBinary(b.asInstanceOf[Array[Byte]]))
          SketchGate.serializeBloom(bf)
        case _ => SketchGate.serializeBloom(
          df.stat.bloomFilter(col("k"), 100, 0.01))
      }
      val probes = present ++ absent
      val probeDf = spark.createDataFrame(
        spark.sparkContext.parallelize(probes.map(Row(_)), 2),
        StructType(Seq(StructField("k", dt, nullable = true))))
      val gen = probeDf
        .select(col("k"), SketchGate.bloom_contains(bytes, col("k")).as("in"))
        .collect().map(r => r.get(0) -> r.getBoolean(1))
      for ((k, got) <- gen) {
        val interp = interpBloom(bytes, k, dt)
        assert(interp == got,
          s"$name: interpreted $interp != codegen $got for item $k")
      }
      // no false negatives: every inserted item probes true
      val got = gen.take(present.length)
      assert(got.forall(_._2),
        s"$name: builder-inserted item probed false: " +
          got.filterNot(_._2).mkString(","))
    }
  }

  test("bloom_contains_bc == bloom_contains over the item type matrix " +
      "(broadcast handle carries the filter; null -> null)") {
    for ((name, df, dt, present, absent) <- typeMatrix) {
      val bytes = dt match {
        case BinaryType =>
          val bf = BloomFilter.create(100, 0.01)
          present.foreach(b => bf.putBinary(b.asInstanceOf[Array[Byte]]))
          SketchGate.serializeBloom(bf)
        case _ => SketchGate.serializeBloom(
          df.stat.bloomFilter(col("k"), 100, 0.01))
      }
      val bc = spark.sparkContext.broadcast(bytes)
      val probes = (present ++ absent) :+ null
      val probeDf = spark.createDataFrame(
        spark.sparkContext.parallelize(probes.map(Row(_)), 2),
        StructType(Seq(StructField("k", dt, nullable = true))))
      val both = probeDf.select(col("k"),
          SketchGate.bloom_contains(bytes, col("k")).as("lit"),
          SketchGate.bloom_contains_bc(bc, col("k")).as("bc"))
        .collect()
      both.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2) &&
          (r.isNullAt(1) || r.getBoolean(1) == r.getBoolean(2)),
          s"$name: literal vs broadcast diverged on ${r.get(0)}: $r")
      }
      assert(both.count(_.isNullAt(2)) == 1) // the null probe
    }
  }

  test("null item → null through BOTH paths; null never probes the sketch") {
    val bytes = cmsBytesOf(Seq("x").toDF("k"))
    val bBytes = SketchGate.serializeBloom(
      Seq("x").toDF("k").stat.bloomFilter(col("k"), 10, 0.01))
    assert(interpCms(bytes, null, StringType) == null)
    assert(interpBloom(bBytes, null, StringType) == null)
    val df = Seq(Some("x"), None).toDF("k")
    val rows = df.select(
        SketchGate.cms_estimate(bytes, col("k")).as("est"),
        SketchGate.bloom_contains(bBytes, col("k")).as("in"))
      .collect()
    assert(rows(0).getLong(0) >= 1L && rows(0).getBoolean(1))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("type checks: non-foldable or non-binary sketch and unsupported " +
      "item types are analysis errors") {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
    val bytes = cmsBytesOf(Seq("x").toDF("k"))
    val item = Literal.create("x", StringType)
    // sketch not foldable (an attribute, even binary-typed)
    val attr = AttributeReference("s", BinaryType)()
    assert(SketchGate.CmsEstimate(attr, item)
      .checkInputDataTypes().isInstanceOf[TypeCheckFailure])
    // sketch foldable but wrong type
    assert(SketchGate.BloomContains(Literal.create("notbin", StringType),
      item).checkInputDataTypes().isInstanceOf[TypeCheckFailure])
    // unsupported item type (double)
    assert(SketchGate.CmsEstimate(Literal(bytes, BinaryType),
        Literal.create(1.5d, DoubleType))
      .checkInputDataTypes().isInstanceOf[TypeCheckFailure])
    // the supported pair passes
    assert(SketchGate.CmsEstimate(Literal(bytes, BinaryType), item)
      .checkInputDataTypes().isSuccess)
  }

  // -------------------------------------------------- equality properties

  test("heavyHitters == plain groupBy…HAVING on fuzz corpora (exact set " +
      "equality), across eps regimes") {
    val rnd = new java.util.SplittableRandom(0x5e7c9L)
    for (trial <- 0 until 8) {
      val n = 500 + rnd.nextInt(2000)
      // skewed key draw: key space shrinks as the draw falls, so a few
      // keys dominate — the regime heavy hitters exist in
      val keys = (0 until n).map { _ =>
        "k" + rnd.nextInt(1 + rnd.nextInt(80))
      }
      val df = keys.toDF("k").repartition(4)
      val minCount = 2L + rnd.nextInt(20)
      // eps alternates between sharp (gate prunes) and deliberately
      // coarse (gate admits everything) — output must be identical
      val eps = if (trial % 2 == 0) 1e-3 else 0.5
      val got = Stats.heavyHitters(df, col("k"), minCount, eps = eps)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val expected = df.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= minCount)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == expected,
        s"trial $trial (eps $eps, bar $minCount): " +
          s"missed=${(expected -- got).size} extra=${(got -- expected).size}")
    }
  }

  test("heavyHittersShare bar matches ceil(share·N) of the non-null rows") {
    val df = (Seq.fill(60)("hot") ++ (1 to 40).map("c" + _)).toDF("k")
    val got = Stats.heavyHittersShare(df, col("k"), 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("hot", 60L))) // bar = ceil(0.5·100) = 50
    val none = Stats.heavyHittersShare(df, col("k"), 0.61).collect()
    assert(none.isEmpty) // bar 61 > 60
  }

  test("heavyHitters excludes null keys by contract") {
    val df = (Seq.fill(30)(Some("hot")) ++ Seq.fill(40)(None) ++
      Seq.fill(5)(Some("cold"))).toDF("k")
    // nulls outnumber the hot key; a null-key group must NOT appear
    val got = Stats.heavyHitters(df, col("k"), 10L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("hot", 30L)))
    // share: N counts the 35 non-null occurrences, not all 75 rows —
    // hot holds 30/35 > 0.8
    val share = Stats.heavyHittersShare(df, col("k"), 0.8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(share == Set(("hot", 30L)))
  }

  test("bloomPrunedSemiJoin == semiJoin on fuzz inputs (exact multiset " +
      "equality), including empty and disjoint small sides") {
    val rnd = new java.util.SplittableRandom(0xb100f1L)
    for (trial <- 0 until 6) {
      val bigN = 300 + rnd.nextInt(1500)
      val big = (0 until bigN)
        .map(i => (rnd.nextLong(500).toLong, s"payload_$i"))
        .toDF("bk", "payload")
      val small = trial match {
        case 0 => spark.emptyDataset[Long].toDF("sk") // empty small side
        case 1 => Seq(-1L, -2L).toDF("sk") // disjoint keys
        case _ => (0 until 40)
          .map(_ => rnd.nextLong(600).toLong).distinct.toDF("sk")
      }
      val got = Joins.bloomPrunedSemiJoin(big, small, "bk", "sk")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val expected = big.join(small, col("bk") === col("sk"), "left_semi")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(got.sameElements(expected),
        s"trial $trial: got ${got.length} rows, expected ${expected.length}")
    }
  }

  test("bloomPrunedSemiJoin stays exact when expectedItems grossly " +
      "underestimates (gate saturates, join still decides)") {
    val big = (0 until 1000).map(i => (i.toLong, i)).toDF("bk", "v")
    val small = (0 until 500).map(_.toLong * 2).toDF("sk")
    val got = Joins.bloomPrunedSemiJoin(big, small, "bk", "sk",
        expectedItems = Some(1L), fpp = 0.001)
      .collect().map(_.getLong(0)).sorted
    val expected = big.join(small, col("bk") === col("sk"), "left_semi")
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements(expected))
  }

  test("bloomFppWarning: warns past 10× the requested fpp, silent below") {
    assert(Joins.bloomFppWarning(0.5, 0.01, 10L).isDefined)
    assert(Joins.bloomFppWarning(0.101, 0.01, 10L).isDefined)
    assert(Joins.bloomFppWarning(0.1, 0.01, 10L).isEmpty) // boundary: not >
    assert(Joins.bloomFppWarning(0.005, 0.01, 10L).isEmpty)
    // requested so large that 10× clamps at 1.0 — realized can never
    // exceed it, no warning possible
    assert(Joins.bloomFppWarning(1.0, 0.2, 10L).isEmpty)
    val msg = Joins.bloomFppWarning(0.9, 0.01, 42L).get
    assert(msg.contains("expectedItems=42") && msg.contains("fpp"))
  }

  test("MinhashCheck: a miss whose doc id is not found counts as genuine") {
    val exact = Set((1L, 2L), (3L, 4L), (5L, 6L))
    // (3, 4) re-verified below the bar; (5, 6) has an id that was not found
    val r = MinhashCheck.Result(10L, exact, Set((1L, 2L)), 0.0, 0.0,
      Map((3L, 4L) -> 0.5))
    assert(r.divergent == Set((3L, 4L)))
    assert(r.idNotFound == Set((5L, 6L)) && r.genuine == Set((5L, 6L)))
    assert(!r.pass)
    assert(r.detail.contains("exact(j>=0.8)=3") &&
      r.detail.contains("missed_genuine_id_not_found=1"), r.detail)
  }
}
