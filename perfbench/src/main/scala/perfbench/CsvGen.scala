package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** Seeded generator of the `csv_etl` inputs, written as plain JVM code so
  * that no change to the program (its CSV writer or its test-data tools)
  * can change what the benchmark reads.
  *
  * `typed.csv` follows a 10-column schema in the column vocabulary of
  * `graft.tools.TestData` (`name:type`, types name/email/city/integer/
  * float/date/boolean/string) with a leading sequential `row_id`; 2% of
  * `notes` are empty. `quoted.csv` has a free-text `body` column in which
  * about 30% of fields hold quoted commas and doubled quotes and about 5%
  * hold embedded newlines.
  *
  * While writing, the generator computes the expected result of every
  * `csv_etl` operation (see [[CsvExpect]]), so the outputs are checked
  * against the data itself for any seed.
  */
object CsvGen {

  val TypedHeader: Seq[String] = Seq("row_id", "name", "email", "city",
    "age", "salary", "joined", "active", "score", "notes")
  val FilterExpr = "age > 5000 && city == NYC"
  val HeadN = 100
  val HeavyShare = 0.15

  private val FirstNames =
    Array("Alice", "Bob", "Charlie", "Diana", "Eve", "Frank")
  private val LastNames =
    Array("Smith", "Johnson", "Williams", "Brown", "Jones", "Davis")
  private val Cities =
    Array("NYC", "LA", "Chicago", "Houston", "Phoenix", "Philadelphia")
  private val Words = Array("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "omicron",
    "sigma", "tau", "upsilon", "omega", "quote", "comma", "field")
  private val Categories = Array("news", "forum", "review", "faq", "log")

  /** Expected results of the csv_etl operations for one generated pair. */
  final case class CsvExpect(
      typedBytes: Long, quotedBytes: Long, rows: Long, quotedRows: Long,
      plain: Digest, typed: Digest, filterHead: Digest, profile: Digest,
      heavy: Digest, quoted: Digest)

  private def cents(c: Int): String = {
    val r = c % 100
    s"${c / 100}.${if (r < 10) "0" else ""}$r"
  }

  def generate(dir: java.io.File, seed: Long, typedBytes: Long,
      quotedBytes: Long): CsvExpect = {
    dir.mkdirs()
    val t = typed(new java.io.File(dir, "typed.csv"), seed, typedBytes)
    val (qBytes, qRows, qDigest) =
      quoted(new java.io.File(dir, "quoted.csv"), seed, quotedBytes)
    t.copy(quotedBytes = qBytes, quotedRows = qRows, quoted = qDigest)
  }

  private def typed(f: java.io.File, seed: Long, target: Long): CsvExpect = {
    val rng = new java.util.SplittableRandom(seed)
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    var bytes = 0L
    def emit(s: String): Unit = {
      val b = s.getBytes(UTF_8); out.write(b); bytes += b.length
    }
    emit(TypedHeader.mkString(",") + "\n")
    var plain = Digest.Empty
    var typedD = Digest.Empty
    val head = new java.util.ArrayDeque[Seq[Any]]()
    // distinct sets for Stats.profile, keyed by each column's value domain
    val names = new java.util.BitSet; val emails = new java.util.BitSet
    val citySet = new java.util.BitSet; val ages = new java.util.BitSet
    val salaries = new java.util.BitSet; val dates = new java.util.BitSet
    val flags = new java.util.BitSet; val scores = new java.util.BitSet
    val notesSet = new java.util.BitSet
    val cityCounts = new Array[Long](Cities.length)
    var notesNull = 0L
    var n = 0L
    while (bytes < target) {
      n += 1
      val fi = rng.nextInt(FirstNames.length); val li = rng.nextInt(LastNames.length)
      val ei = rng.nextInt(FirstNames.length); val en = 1 + rng.nextInt(999)
      val ci = rng.nextInt(Cities.length)
      val age = 1 + rng.nextInt(10000)
      val sal = rng.nextInt(100001)
      val y = 1990 + rng.nextInt(35); val m = 1 + rng.nextInt(12)
      val d = 1 + rng.nextInt(28)
      val act = rng.nextBoolean()
      val sc = rng.nextInt(100001)
      val nv = if (rng.nextInt(50) == 0) -1 else 1 + rng.nextInt(1000)
      val name = s"${FirstNames(fi)} ${LastNames(li)}"
      val email = s"${FirstNames(ei).toLowerCase}$en@example.com"
      val date = f"$y%04d-$m%02d-$d%02d"
      val notes = if (nv < 0) null else s"value_$nv"
      val salS = cents(sal); val scS = cents(sc)
      emit(s"$n,$name,$email,${Cities(ci)},$age,$salS,$date,$act,$scS,${
        if (notes == null) "" else notes}\n")
      plain += Digest.values(Seq(n.toString, name, email, Cities(ci),
        age.toString, salS, date, act.toString, scS, notes))
      val typedRow = Seq(n.toDouble, name, email, Cities(ci), age.toDouble,
        salS.toDouble, date, act, scS.toDouble, notes)
      typedD += Digest.values(typedRow)
      if (age > 5000 && ci == 0) {
        head.addLast(typedRow)
        if (head.size > HeadN) head.removeFirst()
      }
      names.set(fi * 6 + li); emails.set(ei * 1000 + en); citySet.set(ci)
      ages.set(age); salaries.set(sal); dates.set((y * 13 + m) * 29 + d)
      flags.set(if (act) 1 else 0); scores.set(sc)
      if (nv < 0) notesNull += 1 else notesSet.set(nv)
      cityCounts(ci) += 1
    }
    out.close()
    var filterHead = Digest.Empty
    head.forEach(r => filterHead += Digest.values(r))
    val distinct = Seq(n, names.cardinality, emails.cardinality,
      citySet.cardinality, ages.cardinality, salaries.cardinality,
      dates.cardinality, flags.cardinality, scores.cardinality,
      notesSet.cardinality)
    val profile = TypedHeader.zip(distinct).foldLeft(Digest.Empty) {
      case (acc, (c, dc)) =>
        acc + Digest.values(Seq(c, n, if (c == "notes") notesNull else 0L,
          dc.toLong))
    }
    val minCount = math.ceil(HeavyShare * n).toLong
    val heavy = Cities.indices.filter(i => cityCounts(i) >= minCount)
      .foldLeft(Digest.Empty)((acc, i) =>
        acc + Digest.values(Seq(Cities(i), cityCounts(i))))
    CsvExpect(bytes, 0L, n, 0L, plain, typedD, filterHead, profile, heavy,
      Digest.Empty)
  }

  private def quoted(f: java.io.File, seed: Long,
      target: Long): (Long, Long, Digest) = {
    val rng = new java.util.SplittableRandom(seed * 31 + 7)
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 20)
    var bytes = 0L
    def emit(s: String): Unit = {
      val b = s.getBytes(UTF_8); out.write(b); bytes += b.length
    }
    emit("id,category,body,amount\n")
    var digest = Digest.Empty
    var n = 0L
    val sb = new java.lang.StringBuilder
    while (bytes < target) {
      n += 1
      val cat = Categories(rng.nextInt(Categories.length))
      val kind = rng.nextInt(100) // < 5: newline, < 35: comma + quotes
      sb.setLength(0)
      val words = 8 + rng.nextInt(24)
      var w = 0
      while (w < words) {
        if (w > 0) sb.append(
          if (kind < 5 && w == words / 2) "\n"
          else if (kind < 35 && w % 5 == 2) ", "
          else " ")
        val word = Words(rng.nextInt(Words.length))
        if (kind >= 5 && kind < 35 && w == 1) sb.append('"').append(word).append('"')
        else sb.append(word)
        w += 1
      }
      val body = sb.toString
      val field =
        if (kind < 35) "\"" + body.replace("\"", "\"\"") + "\"" else body
      val amount = cents(rng.nextInt(1000000))
      emit(s"$n,$cat,$field,$amount\n")
      digest += Digest.values(Seq(n.toString, cat, body, amount))
    }
    out.close()
    (bytes, n, digest)
  }
}
