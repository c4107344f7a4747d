package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in milliseconds, with sub-millisecond digits. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Spans kept in memory and written with the artifact when the run ends.
  * A disabled recorder keeps nothing, so untraced runs pay one branch. */
final class Spans(enabled: Boolean) {
  final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int)
  private val done = mutable.ArrayBuffer[Span]()
  private var nextId = 1

  private def reserve(): Int = synchronized { val id = nextId; nextId += 1; id }

  def add(name: String, startMs: Double, endMs: Double, parent: Int = 0): Int =
    if (!enabled) 0 else {
      val id = reserve()
      synchronized { done += Span(id, name, startMs, endMs, parent) }
      id
    }

  /** Time `f` as a span; `f` receives the span's id to parent children. */
  def around[A](name: String, parent: Int = 0)(f: Int => A): A =
    if (!enabled) f(0) else {
      val id = reserve()
      val start = Clock.nowMs
      try f(id) finally synchronized { done += Span(id, name, start, Clock.nowMs, parent) }
    }

  def toJson(originMs: Double): Seq[Map[String, Any]] = synchronized {
    done.sortBy(_.id).map(s => Map("id" -> s.id, "name" -> s.name,
      "start_ms" -> (s.startMs - originMs), "end_ms" -> (s.endMs - originMs),
      "parent" -> s.parent)).toSeq
  }
}

/** Every streaming progress event, plus the order queries started in. */
final class ProgressLog extends StreamingQueryListener {
  val started = new ConcurrentLinkedQueue[java.util.UUID]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val failures = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    started.add(e.id); ()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failures.add(s"query ${e.id}: $x"))

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.id == id).toSeq
}

object ProgressLog {
  private val PartitionEnd = """"(\d+)"\s*:\s*(\d+)""".r

  /** Per-partition offsets of a single-topic offset JSON
    * `{"topic":{"0":12,"1":40}}`. */
  def offsets(json: String): Map[Int, Long] =
    if (json == null) Map.empty
    else PartitionEnd.findAllMatchIn(json).map(m => m.group(1).toInt -> m.group(2).toLong).toMap

  def completedMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      duration(p, "triggerExecution")

  def duration(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  def batch(p: StreamingQueryProgress): MetricMath.Batch =
    MetricMath.Batch(completedMs(p), offsets(p.sources.headOption.map(_.endOffset).orNull))

  /** Micro-batches that read data (Spark also runs no-data batches to
    * advance watermarks). */
  def dataBatches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)
}

/** Completed stages and started jobs, from Spark's listener bus. */
final class StageLog extends SparkListener {
  final case class Stage(startMs: Double, endMs: Double, tasks: Int, cpuS: Double,
                         gcS: Double, shuffleBytes: Long)
  val stages = new ConcurrentLinkedQueue[Stage]()
  /** Job id → (start, end) in epoch ms; end is NaN while running. */
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, (e.time.toDouble, Double.NaN)); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.computeIfPresent(e.jobId, (_, v) => (v._1, e.time.toDouble)); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    for (s <- si.submissionTime; c <- si.completionTime)
      stages.add(Stage(s.toDouble, c.toDouble, si.numTasks,
        if (m == null) 0.0 else m.executorCpuTime / 1e9,
        if (m == null) 0.0 else m.jvmGCTime / 1e3,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
    ()
  }

  def within(startMs: Double, endMs: Double): Seq[Stage] =
    stages.asScala.filter(s => s.startMs >= startMs - 1 && s.startMs < endMs).toSeq
  def jobsWithin(startMs: Double, endMs: Double): Seq[(Double, Double)] =
    jobs.values.asScala.filter(j => j._1 >= startMs - 1 && j._1 < endMs).toSeq
}

object ThreadCpu {
  /** Name prefixes of the threads that belong to the benchmark rather than
    * the engine: the Kafka broker, the ClickHouse fixture (its HTTP
    * dispatcher and workers), the generator, the CPU sampler and the main
    * thread, which sets the workload up and waits on it. */
  val Harness: Seq[String] = Seq("mini-kafka", "mini-ch-", "HTTP-Dispatcher", "perfbench-")
}

/** CPU time per thread, sampled so threads that exit mid-run still count;
  * grouped by thread name. */
final class ThreadCpu extends AutoCloseable {
  private val mx = ManagementFactory.getThreadMXBean
  private val seen = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  @volatile private var running = true
  private val sampler = new Thread(() => {
    while (running) { sample(); Thread.sleep(100) }
  }, "perfbench-cpu-sampler")
  sampler.setDaemon(true)
  sampler.start()

  def sample(): Unit = {
    val ids = mx.getAllThreadIds
    mx.getThreadInfo(ids).foreach { info =>
      if (info != null) {
        val ns = mx.getThreadCpuTime(info.getThreadId)
        if (ns > 0) seen.merge(info.getThreadId, (info.getThreadName, ns),
          (a, b) => if (b._2 > a._2) b else a)
      }
    }
  }

  /** CPU seconds of threads whose name starts with any of `prefixes`,
    * as of the latest sample. */
  def seconds(prefixes: String*): Double =
    seen.values.asScala.filter(t => prefixes.exists(t._1.startsWith)).map(_._2).sum / 1e9

  override def close(): Unit = { running = false; sampler.join(1000); sample() }
}

/** Process and host readings from /proc and the JVM. */
object Host {
  /** Jiffies summed over all CPUs: stolen by the hypervisor, busy (user,
    * nice, system, irq, softirq), and all of them including idle. */
  final case class Jiffies(steal: Long, busy: Long, total: Long)

  def jiffies(): Jiffies =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
        Jiffies(xs(7), xs(0) + xs(1) + xs(2) + xs(5) + xs(6), xs.take(8).sum)
      } finally f.close()
    } catch { case _: Exception => Jiffies(0L, 0L, 0L) }

  /** Share of all CPU time the hypervisor stole, in percent. */
  def stealPct(before: Jiffies, after: Jiffies): Double = {
    val total = after.total - before.total
    if (total <= 0) 0.0 else 100.0 * (after.steal - before.steal) / total
  }

  /** Share of the time CPUs were meant to be running work that the
    * hypervisor stole: steal / (busy + steal). Wall time scaled by
    * (1 - share) leaves out the time the program waited for a stolen CPU.
    * Thread CPU time needs no such scaling: the guest does not count
    * stolen time as the thread's. */
  def stolenShare(before: Jiffies, after: Jiffies): Double = {
    val steal = after.steal - before.steal
    val meant = after.busy - before.busy + steal
    if (meant <= 0) 0.0 else steal.toDouble / meant
  }

  /** Process CPU time over a window (see [[processCpuS]]), less the CPU
    * of the threads whose names start with `exclude`, from `threads`. */
  final class CpuWindow(threads: ThreadCpu, exclude: Seq[String]) {
    private def excluded(): Double = { threads.sample(); threads.seconds(exclude: _*) }
    private val cpu0 = processCpuS() - excluded()
    def ms(): Double = (processCpuS() - excluded() - cpu0) * 1e3
  }

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally f.close()
    } catch { case _: Exception => 0.0 }

  /** Heap in use after a full collection: what the program keeps live. */
  def liveHeapMb(): Double = {
    // a second collection takes what the first one's cleaners released
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** CPU time of the whole process (engine, fixtures, generator, GC)
    * except the JIT compiler threads: how much compiling a run still does
    * depends on how warm that JVM happens to be, not on the program. */
  def processCpuS(): Double = {
    val mx = ManagementFactory.getThreadMXBean
    val jit = mx.getThreadInfo(mx.getAllThreadIds).filter(t => t != null &&
      t.getThreadName.contains("CompilerThread")).map(t => math.max(mx.getThreadCpuTime(t.getThreadId), 0L)).sum
    (ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime - jit) / 1e9
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3
}
