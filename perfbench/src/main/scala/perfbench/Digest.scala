package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a result: row count, the wrapping sum
  * of a 64-bit hash per row, and a position-weighted sum of every
  * floating-point value.
  *
  * Floating-point values are compared as a sum within a tolerance instead
  * of being hashed: a double rounded to 4 decimals (the oracle's rounding)
  * still flips when it lies on a rounding boundary and the summation order
  * of an aggregate changes between runs. Every other value (strings,
  * integers, booleans, dates, timestamps, binary, nested arrays, structs
  * and maps) is hashed exactly.
  *
  * With `untyped`, a string that reads as a number is treated as a double
  * and `true`/`false` as a boolean. That lets a CSV read back as strings
  * be compared with the same data read with type inference.
  */
final case class Digest(rows: Long, hash: Long, dsum: Double) {

  def matches(o: Digest): Boolean =
    rows == o.rows && hash == o.hash &&
      math.abs(dsum - o.dsum) <= 1e-6 * math.max(1.0, math.abs(o.dsum))

  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash, dsum + o.dsum)

  def json: String = s"""{"rows":$rows,"hash":"${java.lang.Long.toHexString(hash)}","dsum":${Json.num(dsum)}}"""
}

object Digest {
  val Empty: Digest = Digest(0L, 0L, 0.0)

  private val NumRe = "^-?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$".r

  /** Digest of a frame's collected rows. */
  def of(df: DataFrame, untyped: Boolean = false): Digest =
    df.collect().foldLeft(Empty)((acc, r) => acc + row(r, untyped))

  /** Digest of one row given as plain values (the generators' side). */
  def values(vs: Seq[Any], untyped: Boolean = false): Digest =
    row(Row.fromSeq(vs), untyped)

  def row(r: Row, untyped: Boolean): Digest = {
    val sb = new java.lang.StringBuilder
    var dsum = 0.0
    var k = 0
    def dbl(d: Double): Unit = {
      sb.append('D')
      dsum += d * (1.0 + (k % 16) / 16.0)
    }
    def render(v: Any): Unit = {
      k += 1
      v match {
        case null => sb.append('∅')
        case d: Double => dbl(d)
        case f: Float => dbl(f.toDouble)
        case d: java.math.BigDecimal => dbl(d.doubleValue)
        case d: scala.math.BigDecimal => dbl(d.toDouble)
        case s: String if untyped && NumRe.matches(s) => dbl(s.toDouble)
        case s: String if untyped && (s == "true" || s == "false") => sb.append(s)
        case s: String => sb.append('"').append(s).append('"')
        case b: Array[Byte] => b.foreach(x => sb.append(f"$x%02x"))
        case r: Row =>
          sb.append('{'); r.toSeq.foreach { x => render(x); sb.append(',') }
          sb.append('}')
        case m: scala.collection.Map[_, _] =>
          // map entries carry no order: render each and sort the renderings
          val parts = m.toSeq.map { case (a, b) =>
            val one = row(Row(a, b), untyped)
            dsum += one.dsum
            java.lang.Long.toHexString(one.hash)
          }.sorted
          sb.append("map").append(parts.mkString("<", ",", ">"))
        case s: scala.collection.Seq[_] =>
          sb.append('['); s.foreach { x => render(x); sb.append(',') }
          sb.append(']')
        case other => sb.append(other.toString)
      }
      sb.append('\u001f')
    }
    r.toSeq.foreach(render)
    val s = sb.toString
    val h = (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x0bad).toLong & 0xffffffffL)
    Digest(1L, h, dsum)
  }

  /** Parse the form written by [[json]]. */
  def parse(rows: Long, hashHex: String, dsum: Double): Digest =
    Digest(rows, java.lang.Long.parseUnsignedLong(hashHex, 16), dsum)
}
