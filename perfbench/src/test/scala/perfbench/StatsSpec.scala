package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    // order of the sample does not matter
    assert(Stats.percentile(xs.reverse, 90) == 90.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("median averages the two middle values of an even sample") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("a percentile needs ten samples beyond it") {
    assert(!Stats.supports(99, 90))
    assert(Stats.supports(100, 90))
    assert(Stats.supports(20, 50))
    assert(!Stats.supports(19, 50))
    assert(!Stats.supports(999, 99))
    assert(Stats.supports(1000, 99))
    assert(Stats.highestSupported(150).contains(90.0))
    assert(Stats.highestSupported(45).contains(75.0))
    assert(Stats.highestSupported(30).contains(50.0))
    assert(Stats.highestSupported(12).isEmpty)
  }

  test("union of overlapping, nested and disjoint job intervals") {
    assert(Stats.unionLength(Nil) == 0.0)
    assert(Stats.unionLength(Seq((0.0, 10.0))) == 10)
    // overlap: [0,10) ∪ [5,15) = 15
    assert(Stats.unionLength(Seq((5.0, 15.0), (0.0, 10.0))) == 15)
    // nested job inside another counts once
    assert(Stats.unionLength(Seq((0.0, 20.0), (5.0, 8.0))) == 20)
    // disjoint, touching and empty intervals
    assert(Stats.unionLength(Seq((0.0, 5.0), (5.0, 7.0), (10.0, 12.0), (3.0, 3.0))) == 9)
  }

  test("driver gap is the request time no job covers") {
    // request [0,100); jobs [10,40) and [30,60) overlap → covered 50
    assert(Stats.gap(0, 100, Seq((10.0, 40.0), (30.0, 60.0))) == 50.0)
    // a job spilling past the request is clipped to it
    assert(Stats.gap(0, 100, Seq((90.0, 130.0))) == 90.0)
    assert(Stats.gap(0, 100, Nil) == 100.0)
    // sub-ms request edges against whole-ms job stamps
    assert(math.abs(Stats.gap(0.4, 10.6, Seq((1.0, 10.0))) - 1.2) < 1e-9)
  }

  test("core utilization is executor time over wall time times cores") {
    assert(Stats.coreUtilization(executorMs = 400, wallMs = 100, cores = 4) == 1.0)
    assert(Stats.coreUtilization(100, 100, 4) == 0.25)
    assert(Stats.coreUtilization(100, 0, 4) == 0.0)
  }

  test("span reconciliation: job time plus gap equals wall time within tolerance") {
    // jobs inside the request reconcile exactly, overlapping or not
    assert(Stats.reconcileErrorMs(0, 100, Seq((10.0, 40.0), (30.0, 60.0))) == 0.0)
    assert(Stats.reconciles(0, 100, Seq((10.0, 40.0), (30.0, 60.0))))
    // 1 ms of clock skew at an edge is within the 2 ms + 2% tolerance
    assert(Stats.reconciles(10, 110, Seq((9.0, 50.0))))
    // a job attributed to the wrong request lies outside it and fails
    assert(Stats.reconcileErrorMs(0, 100, Seq((10.0, 40.0), (200.0, 260.0))) == 60.0)
    assert(!Stats.reconciles(0, 100, Seq((10.0, 40.0), (200.0, 260.0))))
    assert(Stats.toleranceMs(1000) == 22.0)
  }
}
