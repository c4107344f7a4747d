package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.MetricMath._

/** The benchmark's metric math on synthetic progress: which batch an
  * event belongs to, percentiles with their sample counts, and the
  * driver gap. */
class MetricMathSpec extends AnyFunSuite {

  test("an event belongs to the first batch whose end offsets cover it") {
    // end offsets are exclusive: a batch ending at 10 covers offsets 0..9
    val batches = Seq(
      Batch(completedMs = 300, endOffsets = Map(0 -> 20L, 1 -> 5L)),
      Batch(completedMs = 100, endOffsets = Map(0 -> 10L)), // partition 1 not read yet
      Batch(completedMs = 200, endOffsets = Map(0 -> 10L, 1 -> 3L)))
    val events = Seq(
      Event(0, 0, 50), Event(0, 9, 60), Event(0, 10, 70), Event(0, 19, 80),
      Event(1, 2, 90), Event(1, 3, 95), Event(1, 4, 99), Event(0, 20, 0), Event(2, 0, 0))
    assert(latencies(events, batches) == Seq(
      Some(50.0), Some(40.0), // batch at 100
      Some(230.0), Some(220.0), // batch at 300
      Some(110.0), // partition 1 first covered by the batch at 200
      Some(205.0), Some(201.0), // offsets 3 and 4: the batch at 300
      None, None)) // beyond every batch, and a partition no batch read
  }

  test("a batch that omits a partition does not uncover it") {
    val batches = Seq(Batch(100, Map(0 -> 5L, 1 -> 5L)), Batch(200, Map(0 -> 9L)))
    assert(latencies(Seq(Event(1, 4, 0), Event(1, 5, 0)), batches) == Seq(Some(100.0), None))
  }

  test("percentiles are nearest-rank and the summary states its sample counts") {
    val xs = (1 to 1000).map(_.toDouble).reverse
    assert(percentile(xs, 50) == 500.0)
    assert(percentile(xs, 99) == 990.0)
    assert(percentile(xs, 100) == 1000.0)
    assert(percentile(Seq(7.0), 99) == 7.0)
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    // an even count: nearest-rank takes the lower of the middle two
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(median(Seq(9.0, 5.0)) == 5.0)
    val s = summarize(xs)
    assert(s == Summary(p50 = 500.0, p99 = 990.0, n = 1000, beyondP99 = 10))
    assertThrows[IllegalArgumentException](percentile(Nil, 50))
  }

  test("the driver gap is wall time no stage covered, never negative") {
    assert(unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(driverGap(0, 100, Seq((10.0, 30.0), (20.0, 40.0), (90.0, 95.0))) == 65.0)
    // stages reaching outside the window, or overlapping wholly, are clipped
    assert(driverGap(10, 20, Seq((0.0, 30.0), (5.0, 25.0))) == 0.0)
    assert(driverGap(0, 10, Nil) == 10.0)
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val start = rnd.nextDouble() * 100
      val end = start + rnd.nextDouble() * 50
      val stages = Seq.fill(rnd.nextInt(8)) {
        val s = rnd.nextDouble() * 200 - 25
        (s, s + rnd.nextDouble() * 60)
      }
      val gap = driverGap(start, end, stages)
      assert(gap >= 0.0 && gap <= end - start + 1e-9)
    }
  }

  test("offsets parse from a progress offset JSON") {
    assert(ProgressLog.offsets("""{"clicks":{"0":12,"1":40,"3":7}}""") == Map(0 -> 12L, 1 -> 40L, 3 -> 7L))
    assert(ProgressLog.offsets(null) == Map.empty)
  }
}
