package connbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val xs = (1 to 100).map(_.toDouble)

  test("a percentile reports its value by nearest rank and its sample count") {
    assert(Stats.percentile(xs, 50) == Stats.Pct(50, 50.0, 100))
    assert(Stats.percentile(xs, 90) == Stats.Pct(90, 90.0, 100))
    assert(Stats.percentile(xs.reverse, 75).value == 75.0)
  }

  test("a percentile needs at least ten samples beyond it") {
    assert(Stats.percentile(xs, 90).samples == 100) // rank 90 leaves 10
    val e = intercept[IllegalArgumentException](Stats.percentile(xs, 91))
    assert(e.getMessage.contains("100 samples leave 9"))
    intercept[IllegalArgumentException](Stats.percentile(xs.take(19), 50))
    assert(Stats.percentile(xs.take(20), 50).value == 10.0)
    intercept[IllegalArgumentException](Stats.percentile(xs.take(999), 99))
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 99).value == 990.0)
  }

  test("median of small repeat counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
