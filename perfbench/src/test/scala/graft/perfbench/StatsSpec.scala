package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile rule: a tail percentile needs ten samples beyond it") {
    assert(Stats.supportedPercentile(1000).contains(99.0))
    assert(Stats.supportedPercentile(999).contains(90.0))
    assert(Stats.supportedPercentile(100).contains(90.0))
    assert(Stats.supportedPercentile(99).contains(75.0))
    assert(Stats.supportedPercentile(40).contains(75.0))
    assert(Stats.supportedPercentile(39).contains(50.0))
    assert(Stats.supportedPercentile(20).contains(50.0))
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.samplesBeyond(100, 90.0) == 10)
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 90.0) == 90.0)
    assert(Stats.percentile(xs, 100.0) == 100.0)
    assert(Stats.percentile(Seq(7.0), 50.0) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("driver time is wall minus the union of overlapping job intervals") {
    assert(Stats.unionLength(Seq((10.0, 30.0), (20.0, 50.0), (70.0, 80.0))) == 50.0)
    assert(Stats.selfTime(0, 100, Seq((10.0, 30.0), (20.0, 50.0), (70.0, 80.0))) == 50.0)
    // nested and identical intervals count once
    assert(Stats.selfTime(0, 100, Seq((10.0, 60.0), (20.0, 30.0), (10.0, 60.0))) == 50.0)
    // a job reaching past the call is clipped to it
    assert(Stats.selfTime(0, 100, Seq((90.0, 120.0), (-5.0, 5.0))) == 85.0)
    assert(Stats.selfTime(0, 100, Nil) == 100.0)
  }

  test("span self time subtracts only direct children") {
    val spans = Seq(
      Span(1, 0, "op", "bench", 0, 100),
      Span(2, 1, "maintain.merge", "maintain", 10, 40),
      Span(3, 1, "scan.plan", "scan", 30, 60),
      Span(4, 2, "job 0", "maintain", 15, 20))
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 50.0)
    assert(self(2) == 25.0)
    assert(self(3) == 30.0)
    assert(self(4) == 5.0)
  }

  test("call cost sums its jobs' stages and takes driver time from the job union") {
    val spans = Seq(
      Span(1, 0, "maintain.compact", "maintain", 0, 100),
      Span(2, 1, "job 0", "maintain", 10, 40),
      Span(3, 1, "job 1", "maintain", 30, 70),
      Span(4, 2, "stage 0", "maintain", 10, 40, Map("tasks" -> 4.0, "task_ms" -> 100.0, "output_bytes" -> 5.0)),
      Span(5, 3, "stage 1", "maintain", 30, 70, Map("tasks" -> 2.0, "task_ms" -> 50.0, "spill_bytes" -> 7.0)),
      Span(6, 0, "maintain.compact", "maintain", 200, 210))
    val Seq(first, second) = Tracer.callCosts(spans, "maintain.compact")
    assert(first == CallCost(100, 40, 2, 6, 150, 0, 0, 5, 7))
    assert(second == CallCost(10, 10, 0, 0, 0, 0, 0, 0, 0))
  }

  test("failed share counts failed and wrong operations over attempted") {
    assert(Stats.failedShare(0, 10) == 0.0)
    assert(Stats.failedShare(3, 12) == 0.25)
    intercept[IllegalArgumentException](Stats.failedShare(0, 0))
    intercept[IllegalArgumentException](Stats.failedShare(5, 4))
  }
}
