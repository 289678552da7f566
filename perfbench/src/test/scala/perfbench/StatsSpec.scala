package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("tail picks the highest percentile with ten samples beyond it") {
    def samples(n: Int) = (1 to n).map(_.toDouble)
    // 19 samples: even p75 leaves only 4 beyond
    assert(Stats.tail(samples(19)).isEmpty)
    // 40 samples: p75 leaves exactly 10 beyond, p90 only 4
    val t40 = Stats.tail(samples(40)).get
    assert(t40.percentile == 0.75 && t40.samples == 40)
    assert(t40.value == Stats.quantile(samples(40), 0.75))
    // 100 samples: p90 leaves 10 beyond, p95 only 5
    assert(Stats.tail(samples(100)).get.percentile == 0.9)
    assert(Stats.tail(samples(1000)).get.percentile == 0.99)
    assert(Stats.tail(samples(10000)).get.percentile == 0.999)
  }

  test("beyond counts the samples ranked after the percentile") {
    assert(Stats.beyond(40, 0.75) == 10)
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.beyond(99, 0.9) == 9)
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0))) == 15.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0), (20.0, 25.0))) == 15.0)
    assert(Stats.unionLength(Seq((20.0, 25.0), (0.0, 10.0), (10.0, 12.0))) == 17.0)
    assert(Stats.unionLength(Seq((5.0, 5.0), (6.0, 4.0))) == 0.0)
  }

  test("driver gap is op wall minus the union of its job intervals") {
    // op [0, 100); jobs overlap each other and one sticks out past the end
    val jobs = Seq((10.0, 30.0), (20.0, 40.0), (90.0, 120.0))
    assert(Stats.uncovered(0.0, 100.0, jobs) == 100.0 - 30.0 - 10.0)
    assert(Stats.uncovered(0.0, 100.0, Nil) == 100.0)
    assert(Stats.uncovered(0.0, 100.0, Seq((-5.0, 200.0))) == 0.0)
  }
}
