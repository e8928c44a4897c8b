package perfbench

import org.apache.spark.SyntheticEvents._
import org.apache.spark.scheduler.{SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import Stats.Span

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts, independent of input order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
  }

  test("tail percentile leaves at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(xs).contains(90 -> 90.0))
    assert(xs.count(_ > 90.0) >= 10)
    // 37 samples: 27/37 = 72.9% → p72, value rank ceil(0.72*37) = 27, 10 beyond
    val ys = (1 to 37).map(_.toDouble)
    assert(Stats.tailPercentile(ys).contains(72 -> 27.0))
    assert(ys.count(_ > 27.0) == 10)
    // too few samples for any percentile above the median
    assert(Stats.tailPercentile((1 to 20).map(_.toDouble)).isEmpty)
    assert(Stats.tailPercentile(Seq(1.0)).isEmpty)
    assert(Stats.tailPercentile(Nil).isEmpty)
  }

  test("union length counts overlaps once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
  }

  test("self time is duration minus the time direct children cover") {
    val root = Span(0, None, "unit", 0, 100)
    val a = Span(1, Some(0), "a", 10, 40)
    val b = Span(2, Some(0), "b", 30, 60)     // overlaps a: 10..60 covered
    val grand = Span(3, Some(1), "a.x", 15, 35) // a grandchild: not root's
    val all = Seq(root, a, b, grand)
    assert(Stats.selfTimeNs(root, all) == 50)
    assert(Stats.selfTimeNs(a, all) == 10)
    assert(Stats.selfTimeNs(b, all) == 30)
    assert(Stats.selfTimeNs(grand, all) == 20)
  }

  test("tracer nests spans by call structure and reports self time") {
    val t = new Tracer("r")
    t.span("unit") {
      t.span("a")(Thread.sleep(20))
      Thread.sleep(10)
    }
    val Seq(unit, a) = t.spans
    assert(a.parent.contains(unit.id) && unit.parent.isEmpty)
    assert(t.selfSeconds("unit") == (unit.durNs - a.durNs) / 1e9)
    assert(t.toJsonLines.linesIterator.forall(_.contains("\"run\":\"r\"")))
  }

  test("listener sums a synthetic event stream by time window") {
    val l = new WorkListener
    l.onJobStart(jobStart(0, 1000))
    l.onStageSubmitted(SparkListenerStageSubmitted(stage(0, 2, 1000, 1100)))
    l.onTaskEnd(taskEnd(0, runMs = 40, cpuNs = 30000000L, inputBytes = 1048576))
    l.onTaskEnd(taskEnd(0, runMs = 60, cpuNs = 50000000L, shuffleWrite = 2048))
    l.onStageCompleted(SparkListenerStageCompleted(stage(0, 2, 1000, 1100)))
    l.onJobStart(jobStart(1, 1150))
    l.onStageSubmitted(SparkListenerStageSubmitted(stage(1, 1, 1150, 1300)))
    l.onTaskEnd(taskEnd(1, runMs = 100, cpuNs = 90000000L, shuffleRead = 2048, spill = 4096))
    l.onStageCompleted(SparkListenerStageCompleted(stage(1, 1, 1150, 1300)))
    l.onJobStart(jobStart(2, 5000)) // outside the window below

    val w = l.window(1000, 1400)
    assert(w.jobs == 2 && w.stages == 2 && w.tasks == 3 && w.singleTaskStages == 1)
    assert(w.runMs == 200 && w.cpuNs == 170000000L)
    assert(w.inputBytes == 1048576 && w.shuffleReadBytes == 2048 &&
      w.shuffleWriteBytes == 2048 && w.spillBytes == 4096)
    assert(w.busyMs == 250)       // 1000..1100 and 1150..1300
    assert(w.driverGapMs == 150)  // 400 ms wall, 250 ms with a stage running
    assert(l.window(1120, 1400).jobs == 1)
    assert(l.window(1120, 1400).cpuNs == 90000000L)
  }
}
