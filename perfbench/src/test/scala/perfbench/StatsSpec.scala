package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = (1 to n).map(_.toDouble)

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.highestSupported(100) == Some(90))
    assert(Stats.highestSupported(99) == Some(89))
    assert(Stats.highestSupported(1000) == Some(99))
    assert(Stats.highestSupported(5000) == Some(99))
    assert(Stats.highestSupported(20) == Some(50))
    assert(Stats.highestSupported(19).isEmpty)
    assert(Stats.highestSupported(0).isEmpty)
    assert(Stats.tail(ramp(100), 90) == Some(90.0))
    assert(Stats.tail(ramp(99), 90).isEmpty)
    assert(Stats.tail(ramp(999), 99).isEmpty)
    assert(Stats.tail(ramp(1000), 99) == Some(990.0))
  }

  test("percentiles are nearest-rank; the median averages the middle pair") {
    assert(Stats.percentile(ramp(10), 50) == 5.0)
    assert(Stats.percentile(ramp(10), 91) == 10.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 1) == 1.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("self time subtracts each covered instant once") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    // overlapping children cover [10, 40); the third sticks out past the end
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60)
    // nested and duplicate children
    assert(Stats.selfTime(0, 100, Seq((0L, 50L), (10L, 20L), (0L, 50L))) == 50)
    // children wholly outside the span cover nothing
    assert(Stats.selfTime(100, 200, Seq((0L, 100L), (200L, 300L))) == 100)
    assert(Stats.selfTime(0, 100, Seq((0L, 100L))) == 0)
  }

  test("scheduler delay is the duration the task's own clocks do not explain") {
    assert(Stats.schedulerDelay(durationMs = 100, runMs = 60, deserializeMs = 10,
      resultSerMs = 5, gettingResultMs = 5) == 20)
    assert(Stats.schedulerDelay(100, 100, 0, 0, 0) == 0)
    // clocks read at different places may overshoot the duration
    assert(Stats.schedulerDelay(100, 99, 2, 0, 0) == 0)
  }
}
