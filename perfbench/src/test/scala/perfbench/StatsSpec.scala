package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the upper percentile is the highest rung with ten samples beyond it") {
    assert(Stats.supportedPercentile(10000).contains(99.9))
    assert(Stats.supportedPercentile(9999).contains(99.0))
    assert(Stats.supportedPercentile(1000).contains(99.0))
    assert(Stats.supportedPercentile(999).contains(95.0))
    assert(Stats.supportedPercentile(200).contains(95.0))
    assert(Stats.supportedPercentile(100).contains(90.0))
    assert(Stats.supportedPercentile(20).contains(50.0))
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supports(1000, 99.0) && !Stats.supports(999, 99.0))
  }

  test("summaries carry median, upper percentile and sample count") {
    val xs = (1 to 1000).map(_.toDouble)
    val s = Stats.summarize(scala.util.Random.shuffle(xs))
    assert(s == Stats.Summary(500.5, "p99", 990.0, 1000))
    val small = Stats.summarize(Seq(3.0, 1.0, 2.0))
    assert(small == Stats.Summary(2.0, "max", 3.0, 3))
  }

  test("nearest-rank percentiles") {
    val s = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(s, 50) == 5.0)
    assert(Stats.percentile(s, 90) == 9.0)
    assert(Stats.percentile(s, 99) == 10.0)
    assert(Stats.percentile(IndexedSeq(4.0), 99.9) == 4.0)
  }
}
