package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(3.0), 75) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geoMean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-9)
    assert(math.abs(Stats.geoMean(Seq(2.0, 2.0)) - 2.0) < 1e-9)
  }

  test("every run is sized for its median to have ten samples beyond it") {
    assert(Stats.samplesBeyond(40, 75) == 10)
    assert(Stats.samplesBeyond(44, 75) == 11)
    assert(Stats.samplesBeyond(Main.MinOps, 50) >= 10)
    assert(Stats.samplesBeyond(Main.MinOps, 75) < 10)
  }
}
