package graft.perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-independent content digest of a query answer.
  *
  * Each row becomes one canonical string (columns sorted by name, values
  * in the canonical forms below, joined by U+001F); the digest is the row
  * count plus the sum, mod 2^64, of the first 8 bytes of each row string's
  * MD5. `golden.py` implements the same canonical forms over DuckDB
  * results, so a digest taken here is comparable with one derived from the
  * oracle SQL. Doubles are compared at 10 significant digits, rounded
  * half-even from the exact binary value in both languages.
  */
final case class Digest(cols: Seq[String], rows: Long, sum: String)

object Digest {

  def canonDouble(x: Double): String =
    if (x.isNaN) "NaN"
    else if (x.isInfinite) (if (x > 0) "inf" else "-inf")
    else if (x == 0.0) "0"
    else {
      val bd = new java.math.BigDecimal(x)
        .round(new java.math.MathContext(10, java.math.RoundingMode.HALF_EVEN))
      val digits = bd.unscaledValue.abs.toString.padTo(10, '0')
      (if (x < 0) "-" else "") + digits + "e" + (bd.precision - bd.scale - 1)
    }

  private def micros(epochSecond: Long, nano: Int): Long = epochSecond * 1000000L + nano / 1000

  def canon(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case d: java.math.BigDecimal => canonDouble(d.doubleValue)
    case d: scala.math.BigDecimal => canonDouble(d.toDouble)
    case t: java.sql.Timestamp => micros(Math.floorDiv(t.getTime, 1000L), t.getNanos).toString
    case t: java.time.Instant => micros(t.getEpochSecond, t.getNano).toString
    case t: java.time.LocalDateTime =>
      micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(columns: Seq[String], rows: Array[Row]): Digest = {
    val order = columns.indices.sortBy(columns(_))
    val md5 = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("\u001f")
      sum += ByteBuffer.wrap(md5.digest(s.getBytes("UTF-8"))).getLong
    }
    Digest(order.map(columns(_)), rows.length.toLong, java.lang.Long.toUnsignedString(sum, 16))
  }
}
