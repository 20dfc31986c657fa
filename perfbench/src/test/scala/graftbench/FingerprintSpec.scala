package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val rows = Seq(
    Row(1L, "alpha", 0.1 + 0.2, Seq(1.5, 2.5), Map("b" -> 2, "a" -> 1)),
    Row(2L, "beta", 1234.5678, Seq.empty[Double], Map.empty[String, Int]),
    Row(3L, null, -0.0, Seq(3.0), Map("c" -> 3)))
  private def fp(rs: Seq[Row]) = Fingerprint.of(rs.iterator)

  test("row order does not change the fingerprint") {
    assert(fp(rows) == fp(rows.reverse))
    assert(fp(rows) == fp(Seq(rows(1), rows(2), rows(0))))
  }

  test("float noise below the rounding does not change the fingerprint") {
    val noisy = rows.map { r =>
      Row(r.get(0), r.get(1), r.getDouble(2) * (1 + 1e-12),
        r.getSeq[Double](3).map(_ * (1 - 1e-12)), r.get(4))
    }
    assert(fp(noisy) == fp(rows))
    assert(fp(Seq(Row(0.3f))) == fp(Seq(Row(0.3))))
  }

  test("a changed, lost or duplicated row is flagged") {
    val changed = rows.updated(1, Row(2L, "beta", 1234.6, Seq.empty[Double],
      Map.empty[String, Int]))
    assert(fp(changed) != fp(rows))
    assert(fp(rows.updated(0, Row(1L, "alphA", 0.3, Seq(1.5, 2.5),
      Map("b" -> 2, "a" -> 1)))) != fp(rows))
    assert(fp(rows.tail) != fp(rows))
    assert(fp(rows :+ rows.head) != fp(rows))
    assert(fp(rows :+ rows.head).rows == 4)
  }

  test("map entry order and null placement are canonical") {
    assert(Fingerprint.canonical(Map("a" -> 1, "b" -> 2)) ==
      Fingerprint.canonical(Map("b" -> 2, "a" -> 1)))
    assert(fp(Seq(Row(null, "x"))) != fp(Seq(Row("x", null))))
  }
}
