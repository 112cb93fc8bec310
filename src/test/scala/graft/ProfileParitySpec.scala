package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextExprs
import graft.operators.Stats
import graft.sources.{CsvOptions, CsvReader}

/** Parity of the two whole-file aggregation passes of the TurboCSV
  * surface against their Column-rule formulations, kept here as oracles:
  * `Stats.profile` (unpivot shuffle) against one `countDistinct` per
  * column in a single `agg`, and the dynamicTyping class kernel against
  * `lower(v) IN (...)` and the numeric `rlike`.
  */
class ProfileParitySpec extends SparkSpec {

  private def q(c: String): Column = col(s"`${c.replace("`", "``")}`")

  /** The countDistinct-per-column profile: same rows, order and schema
    * as the reference `stats` command.
    */
  private def oracleProfile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.indices.flatMap { i =>
      val v = q(cols(i))
      Seq(
        count(lit(1)).as(s"t$i"),
        sum(when(v.isNull || v.cast("string") === "", 1).otherwise(0))
          .cast("long").as(s"n$i"),
        countDistinct(v).cast("long").as(s"d$i"))
    }
    val args = cols.indices.map { i =>
      val name = cols(i).replace("\\", "\\\\").replace("'", "\\'")
      s"'$name', t$i, n$i, d$i"
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*).selectExpr(
      s"stack(${cols.length}, $args) as (col_name, n_total, n_nulls, n_distinct)")
  }

  private def assertProfileParity(df: DataFrame): Seq[Row] = {
    val got = Stats.profile(df)
    val want = oracleProfile(df)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w)
    g
  }

  private val csv =
    "flag,score,name,note\n" +
      "true,1.5,alice,x\n" +
      "FALSE,-0.0,bob,\"\"\n" +
      "true,0.0,alice,\n" +
      ",1e3,\" \",x\n" +
      "false,,carol,y\n"

  test("profile parity: plain CSV read") {
    val p = writeTmp("plain.csv", csv)
    val rows = assertProfileParity(CsvReader.read(spark, p).df)
    assert(rows.map(_.getString(0)) == Seq("flag", "score", "name", "note"))
  }

  test("profile parity: dynamicTyping read (boolean, double, string)") {
    val p = writeTmp("typed.csv", csv)
    val df = CsvReader.read(spark, p, CsvOptions(dynamicTyping = true)).df
    assert(df.schema.map(_.dataType) ==
      Seq(BooleanType, DoubleType, StringType, StringType))
    assertProfileParity(df)
  }

  test("profile parity: sf0.001 orders (long, string, double, timestamp)") {
    val orders = Tables(spark, "/root/testdata/sf0.001", "orders")
    val types = orders.schema.map(_.dataType).toSet
    assert(Set[DataType](LongType, StringType, DoubleType).subsetOf(types))
    assert(types.exists(t => t == TimestampType || t == TimestampNTZType))
    assertProfileParity(orders)
  }

  private val edgeSchema = StructType(Seq(
    StructField("d", DoubleType), StructField("f", FloatType),
    StructField("s", StringType), StructField("ts", TimestampType),
    StructField("it`s", LongType), StructField("o'brien", StringType)))

  private def edgeFrame: DataFrame = {
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")
    val rows = Seq(
      Row(-0.0, -0.0f, null, t0, 1L, "x"),
      Row(0.0, 0.0f, "", t1, 1L, "x"),
      Row(Double.NaN, Float.NaN, " ", t2, null, ""),
      Row(java.lang.Double.longBitsToDouble(0x7ff8000000000001L),
        Float.NaN, "", null, 2L, null),
      Row(null, null, "a", t0, 2L, "y"),
      Row(1.0, 1.0f, "a", t1, 3L, "y"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), edgeSchema)
  }

  test("profile parity: signed zeros, NaNs, null vs empty vs blank, " +
    "equal timestamps, quote and backtick names") {
    val rows = assertProfileParity(edgeFrame)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    // -0.0 = 0.0 and both NaNs are one value: {0.0, NaN, 1.0}
    assert(byName("d").getLong(3) == 3L)
    // null and "" are nulls; " " is not; distinct {"", " ", "a"}
    assert(byName("s").getLong(2) == 3L && byName("s").getLong(3) == 3L)
    assert(byName("ts").getLong(3) == 2L)
  }

  test("profile parity: empty frame") {
    val rows = assertProfileParity(edgeFrame.filter(lit(false)))
    assert(rows.forall(r => r.getLong(1) == 0L && r.isNullAt(2) &&
      r.getLong(3) == 0L))
  }

  test("profile parity: one-column frame") {
    import spark.implicits._
    val rows = assertProfileParity(
      Seq("a", "b", "a", null, "").toDF("only").repartition(2))
    assert(rows == Seq(Row("only", 5L, 2L, 3L)))
  }

  // ------------------------------------------------- dynamicTyping kernel

  private val numRe = "^-?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  /** The Column rule the kernel replaces, as the same 3-bit mask. */
  private def oracleMask(v: Column): Column = {
    val present = v.isNotNull && v =!= ""
    when(present, TextExprs.CsvPresent).otherwise(0) +
      when(present && !lower(v).isin("true", "false"), TextExprs.CsvNotBool)
        .otherwise(0) +
      when(present && !v.rlike(numRe), TextExprs.CsvNotNum).otherwise(0)
  }

  private def assertKernelParity(values: Seq[String]): Unit = {
    import spark.implicits._
    val df = values.toDF("v").repartition(4)
    val bad = df
      .select(col("v"), TextExprs.csv_value_class(col("v")).as("got"),
        oracleMask(col("v")).as("want"))
      .filter(col("got") =!= col("want"))
      .limit(10).collect()
    def show(v: String) =
      Option(v).map(_.map(c => f"U+${c.toInt}%04X").mkString(" ")).orNull
    assert(bad.isEmpty, bad.map(r =>
      s"${show(r.getString(0))} got=${r.getInt(1)} want=${r.getInt(2)}")
      .mkString("; "))
  }

  test("csv_value_class: pinned cases") {
    val pinned = Seq(
      "123\n", "1\r\n", "1\u2028", "1\u2029", "1\u0085", "1\r", "1\n\n",
      "1\r\r", "1\n\r", "\n", "١٢٣", "１２",
      "falſe", "İ", "truK", "1.", ".5", "-.5", "-", ".", "-.",
      "1e", "1e+", "1e5", "1E-07", "-1.5e+3", ".5e1", "1.e2", "+1", " 1",
      "1 ", "TRUE", "True", "false", "FaLsE", "true ", " true", "truee",
      "tru", "", null, "0", "-0", "00.00", "1..2", "1e5.0", "e5", "--1")
    val codes = values(pinned)
    assert(codes("123\n") == TextExprs.CsvPresent + TextExprs.CsvNotBool)
    assert(codes("TRUE") == TextExprs.CsvPresent + TextExprs.CsvNotNum)
    assert(codes("falſe") ==
      TextExprs.CsvPresent + TextExprs.CsvNotBool + TextExprs.CsvNotNum)
    assert(codes("") == 0 && codes(null) == 0)
    // interpreted eval agrees with the generated code
    for (v <- pinned) assert(TextExprs.CsvValueClass(
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, StringType))
      .eval(null) == codes(v), String.valueOf(v))
    assertKernelParity(pinned)
  }

  private def values(vs: Seq[String]): Map[String, Int] = {
    import spark.implicits._
    vs.toDF("v").select(col("v"), TextExprs.csv_value_class(col("v")))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  test("csv_value_class: seeded random corpus") {
    val rnd = new scala.util.Random(20261017L)
    val alphabet = "0123456789.-+eEtruefalsTRUEFALS \n\r"
    def pick(s: String): Char = s(rnd.nextInt(s.length))
    val free = Seq.fill(20000) {
      Seq.fill(rnd.nextInt(8))(pick(alphabet)).mkString
    }
    // near-misses of the two grammars: a valid literal with one edit
    def digits(n: Int) = Seq.fill(n)(pick("0123456789")).mkString
    def numeric: String =
      (if (rnd.nextBoolean()) "-" else "") +
        (rnd.nextInt(3) match {
          case 0 => digits(1 + rnd.nextInt(3))
          case 1 => digits(1 + rnd.nextInt(3)) + "." + digits(rnd.nextInt(3))
          case _ => "." + digits(1 + rnd.nextInt(3))
        }) +
        (if (rnd.nextBoolean()) pick("eE").toString +
          (if (rnd.nextBoolean()) pick("+-").toString else "") +
          digits(rnd.nextInt(3))
        else "") +
        (if (rnd.nextInt(4) == 0) pick("\n\r ").toString else "")
    def boolean: String =
      (if (rnd.nextBoolean()) "true" else "false")
        .map(c => if (rnd.nextBoolean()) c.toUpper else c)
    def edit(s: String): String =
      if (s.isEmpty || rnd.nextInt(3) == 0) s
      else {
        val i = rnd.nextInt(s.length)
        rnd.nextInt(3) match {
          case 0 => s.patch(i, "", 1)
          case 1 => s.patch(i, pick(alphabet).toString, 1)
          case _ => s.patch(i, pick(alphabet).toString, 0)
        }
      }
    val shaped = Seq.fill(10000)(edit(numeric)) ++ Seq.fill(5000)(edit(boolean))
    assertKernelParity(free ++ shaped)
  }

  test("csv_value_class: every BMP codepoint in a boolean or numeric slot") {
    val cps = (0 until 0x10000).filterNot(c => c >= 0xd800 && c <= 0xdfff)
      .map(_.toChar.toString)
    assertKernelParity(cps.flatMap(c =>
      Seq(s"tru$c", s"fals$c", s"${c}rue", s"1$c", s"$c")))
  }
}
