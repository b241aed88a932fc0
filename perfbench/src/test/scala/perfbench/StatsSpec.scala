package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("no tail up to twenty samples: no percentile above the median has ten beyond it") {
    assert(Stats.tail(ramp(10)).isEmpty)
    assert(Stats.tail(ramp(20)).isEmpty)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    // 21 samples: p52 leaves 21 - ceil(10.92) = 10 beyond, p53 leaves 9
    assert(Stats.tail(ramp(21)) == Some((52, 11.0)))
    assert(Stats.tail(ramp(100)) == Some((90, 90.0)))
    assert(Stats.tail(ramp(1000)) == Some((99, 990.0)))
    // 37 samples: p72 leaves 37 - ceil(26.64) = 10 beyond, p73 leaves 9
    assert(Stats.tail(ramp(37)) == Some((72, 27.0)))
  }

  test("the tail does not depend on sample order") {
    val xs = scala.util.Random.shuffle(ramp(100).toList)
    assert(Stats.tail(xs) == Some((90, 90.0)))
  }

  test("median of an even count averages the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }
}
