package perfbench

/** The arithmetic behind the reported numbers, kept free of Spark so
  * `MetricMathSpec` can check it on synthetic inputs. */
object MetricMath {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(rank, 1) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A latency summary with its sample count and how many samples lie
    * strictly above the p99 value (the guide asks for at least ten). */
  final case class Summary(p50: Double, p99: Double, n: Int, beyondP99: Int)

  def summarize(xs: Seq[Double]): Summary = {
    val p99 = percentile(xs, 99)
    Summary(percentile(xs, 50), p99, xs.size, xs.count(_ > p99))
  }

  /** One completed micro-batch: when it finished and the exclusive end
    * offset it reached on each partition. */
  final case class Batch(completedMs: Double, endOffsets: Map[Int, Long])

  /** One produced event: where it landed and when it was created. */
  final case class Event(partition: Int, offset: Long, createdMs: Double)

  /** Event-to-row latency per event: the completion time of the first
    * batch (in completion order) whose end offset on the event's
    * partition covers the event, minus the event's creation time. `None`
    * for an event no batch covers. End offsets only grow from batch to
    * batch, so a binary search over each partition's sequence finds it. */
  def latencies(events: Seq[Event], batches: Seq[Batch]): Seq[Option[Double]] = {
    val ordered = batches.sortBy(_.completedMs).toIndexedSeq
    val partitions = events.map(_.partition).distinct
    val ends: Map[Int, IndexedSeq[Long]] = partitions.map { p =>
      // running max keeps the sequence monotone even if a batch omits p
      p -> ordered.scanLeft(-1L)((acc, b) => math.max(acc, b.endOffsets.getOrElse(p, -1L))).tail
    }.toMap
    events.map { e =>
      val seq = ends(e.partition)
      var lo = 0
      var hi = seq.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (seq(mid) > e.offset) hi = mid else lo = mid + 1
      }
      if (lo < seq.size) Some(ordered(lo).completedMs - e.createdMs) else None
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Wall time of [start, end) during which no stage ran: the wall time
    * minus the union of the stage intervals clipped to the window. Never
    * negative, because the clipped union cannot exceed the window. */
  def driverGap(start: Double, end: Double, stages: Seq[(Double, Double)]): Double = {
    val clipped = stages.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    math.max(0.0, (end - start) - unionLength(clipped))
  }
}
