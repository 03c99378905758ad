package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Order-independent digest of a multiset of canonical row strings: the
  * row count and the wrapping 64-bit sum of each row's leading MD5 bytes.
  * `perfbench/mixcheck.py` computes the same digest on the DuckDB side. */
object Digest {
  def rowHash(row: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(row.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  def of(rows: IterableOnce[String]): String = {
    var n = 0L
    var sum = 0L
    rows.iterator.foreach { r => n += 1; sum += rowHash(r) }
    f"$n:${java.lang.Long.toUnsignedString(sum, 16)}"
  }

  /** Canonical text of one engine value, matching `mixcheck.canon`:
    * doubles by their IEEE bits (zero and NaN normalized), floats widened
    * to double, dates ISO, timestamps as epoch microseconds. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: Boolean => if (b) "true" else "false"
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == 0.0) "0"
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
}
