package perfbench

import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val rows = (1 to 200).map(i => s"$i|2026-01-${i % 28 + 1}|${i * 100}|${i % 2 == 0}")

  test("the digest does not depend on row order") {
    val shuffled = new scala.util.Random(3).shuffle(rows)
    assert(shuffled != rows)
    assert(Digest.of(shuffled) == Digest.of(rows))
    assert(Digest.of(rows.reverse) == Digest.of(rows))
  }

  test("the digest sees a changed, dropped or duplicated row") {
    val d = Digest.of(rows)
    assert(Digest.of(rows.updated(5, "x")) != d)
    assert(Digest.of(rows.tail) != d)
    assert(Digest.of(rows :+ rows.head) != d)
  }

  test("canonical values match what mixcheck.canon writes") {
    assert(Digest.canon(1.5) == "3ff8000000000000")
    assert(Digest.canon(-0.0) == "0")
    assert(Digest.canon(Double.NaN) == "NaN")
    assert(Digest.canon(1.5f) == "3ff8000000000000")
    assert(Digest.canon(null) == "\\N")
    assert(Digest.canon(true) == "true")
    assert(Digest.canon(java.sql.Date.valueOf("2026-01-02")) == "2026-01-02")
    assert(Digest.canon(java.time.LocalDateTime.parse("1970-01-01T00:00:01.000002")) == "1000002")
    assert(Digest.of(Seq("a")) == "1:cc175b9c0f1b6a8")
  }
}
