package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** An order-independent result fingerprint: the row count plus the
  * wrapping 64-bit sum of one hash per row. Summing makes the hash a
  * function of the row multiset, so partition order cannot change it,
  * while a changed, lost or duplicated row does. Floating-point values
  * are rounded to [[Digits]] significant digits before hashing, which
  * absorbs summation-order jitter below that precision. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  val Digits = 6
  private val mc = new MathContext(Digits)

  def of(rows: Iterator[Row]): Fingerprint = {
    val md5 = MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      n += 1
      sum += ByteBuffer.wrap(md5.digest(canonical(r).getBytes("UTF-8"))).getLong
    }
    Fingerprint(n, f"$sum%016x")
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(mc).stripTrailingZeros.toString

  /** A stable text form of one value; nested rows, arrays and maps
    * recurse, and map entries are sorted so map order does not count. */
  def canonical(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canonical).mkString("(", "\u0001", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }
        .sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", "\u0001", "]")
    case other => other.toString
  }
}
