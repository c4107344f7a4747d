package perfbench

import java.util.UUID

import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.pipeline.{PipelineService, ReferenceConfig}
import graft.sink.MiniClickHouseServer
import graft.sources.kafka.MiniKafkaBroker.{Cluster, PartitionLog}

/** A loopback Kafka cluster and a ClickHouse fixture, with one pipeline
  * started from config on them the way users start one: `create`, then
  * `startFromConfig`, with the `graft-kafka` reader injected through the
  * service's source seam. */
final class Rig(ctx: Ctx, val topic: String, val table: String,
                columns: Seq[(String, String)], retainRows: Boolean) extends AutoCloseable {
  val kafka = new Cluster()
  kafka.addBroker()
  val address: String = kafka.brokerList.head.address
  val ch = new MiniClickHouseServer(retainRows = retainRows)
  ch.start()
  ch.createTable("default", table, columns)
  val dlqRoot: String = ctx.freshDir("dlq")
  private val svc = new PipelineService(ctx.spark, dlqRoot = Some(dlqRoot),
    checkpointRoot = Some(ctx.freshDir("ckpt")),
    sourceReader = (s, kc) => s.readStream.format("graft-kafka")
      .option("brokers", address).option("topic", kc.topic).load())
  private var pipelineId: String = _
  /** The pipeline's sink query and its validation-DLQ companion. */
  var main: UUID = _
  var side: UUID = _

  def partitions: Seq[Int] = (0 until Main.Cores)
  def log(p: Int): PartitionLog = kafka.addPartition(topic, p)
  def logEnds: Map[Int, Long] = partitions.map(p => p -> log(p).logEnd).toMap

  /** Run `f` holding every partition's lock. The broker reads a log's
    * end under the same lock, so a trigger sees all of what `f` appends
    * or none of it, never a batch split across two triggers. */
  def atomically[A](f: => A): A = {
    def hold(ps: List[Int]): A = ps match {
      case Nil => f
      case p :: rest => log(p).synchronized(hold(rest))
    }
    hold(partitions.toList)
  }

  /** Register and start the pipeline; returns (create_s, start_s). */
  def start(id: String, configJson: String): (Double, Double) = {
    pipelineId = id
    val before = ctx.progress.started.size
    val t0 = Clock.nowMs
    svc.create(ReferenceConfig.fromJson(configJson)).left.foreach(e =>
      throw new IllegalStateException(s"pipeline create failed: $e"))
    val t1 = Clock.nowMs
    svc.startFromConfig(id).left.foreach(e =>
      throw new IllegalStateException(s"pipeline start failed: $e"))
    val t2 = Clock.nowMs
    // listener events arrive in start order: the sink query starts first
    Wait.until(30000, "pipeline queries to report started") {
      ctx.progress.started.size >= before + 2
    }
    val ids = ctx.progress.started.toArray(Array.empty[UUID]).drop(before)
    main = ids(0)
    side = ids(1)
    ((t1 - t0) / 1e3, (t2 - t1) / 1e3)
  }

  def mainProgress: Seq[StreamingQueryProgress] = ctx.progress.of(main)
  def sideProgress: Seq[StreamingQueryProgress] = ctx.progress.of(side)

  private def reached(ps: Seq[StreamingQueryProgress], ends: Map[Int, Long]): Boolean =
    ps.lastOption.exists { p =>
      val got = ProgressLog.batch(p).endOffsets
      ends.forall { case (part, end) => got.getOrElse(part, 0L) >= end }
    }

  /** Wait until both queries have committed batches up to `ends`. */
  def awaitCaughtUp(ends: Map[Int, Long], timeoutMs: Long, what: String): Unit =
    Wait.until(timeoutMs, what) {
      failIfDead()
      reached(mainProgress, ends) && reached(sideProgress, ends)
    }

  /** When both queries had committed everything below `ends`: the
    * completion time of the last batch that took either query there. */
  def caughtUpAtMs(ends: Map[Int, Long]): Double = {
    val last = ends.collect { case (p, e) if e > 0 => MetricMath.Event(p, e - 1, 0) }.toSeq
    Seq(mainProgress, sideProgress).map { ps =>
      MetricMath.latencies(last, ps.map(ProgressLog.batch)).map(_.getOrElse(Double.NaN)).max
    }.max
  }

  def failIfDead(): Unit =
    if (!ctx.progress.failures.isEmpty)
      throw new IllegalStateException(s"pipeline query died: ${ctx.progress.failures.peek()}")

  /** Dead-lettered rows by component ("ingestor" / "sink"). */
  def dlqCounts(): Map[String, Long] = {
    val dir = new java.io.File(s"$dlqRoot/$pipelineId")
    if (!dir.exists) Map.empty
    else ctx.spark.read.parquet(dir.getAbsolutePath).groupBy("component").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private var closed = false
  override def close(): Unit = if (!closed) {
    closed = true
    try if (pipelineId != null) { svc.terminate(pipelineId); () } catch { case _: Exception => () }
    kafka.stop()
    ch.stop()
  }
}

object Wait {
  /** Poll `ok` every 2 ms until it holds, or fail naming `what`. */
  def until(timeoutMs: Long, what: String)(ok: => Boolean): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!ok) {
      if (System.nanoTime() > deadline)
        throw new java.util.concurrent.TimeoutException(s"timed out after $timeoutMs ms waiting for $what")
      Thread.sleep(2)
    }
  }
}

/** Summaries of a query's progress events, shared by the pipeline
  * workloads' per-layer metrics. */
object StreamStats {
  private def p(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else MetricMath.percentile(xs, q)

  def mainQuery(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ProgressLog.dataBatches(ps)
    def d(k: String) = data.map(ProgressLog.duration(_, k))
    val lags = data.flatMap(_.sources.headOption).map { s =>
      val latest = ProgressLog.offsets(s.latestOffset)
      val end = ProgressLog.offsets(s.endOffset)
      latest.map { case (part, o) => math.max(0L, o - end.getOrElse(part, o)) }.sum.toDouble
    }
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.trigger_ms_p50" -> p(d("triggerExecution"), 50),
      "streaming.trigger_ms_p99" -> p(d("triggerExecution"), 99),
      "streaming.add_batch_ms_p50" -> p(d("addBatch"), 50),
      "streaming.query_planning_ms_p50" -> p(d("queryPlanning"), 50),
      "streaming.wal_commit_ms_p50" -> p(d("walCommit"), 50),
      "streaming.commit_offsets_ms_p50" -> p(d("commitOffsets"), 50),
      "sources.kafka.latest_offset_ms_p50" -> p(d("latestOffset"), 50),
      "sources.kafka.lag_events_max" -> (if (lags.isEmpty) 0.0 else lags.max))
  }

  def sideQuery(ps: Seq[StreamingQueryProgress]): Map[String, Double] = Map(
    "streaming.dlq_side.batches" -> ps.size.toDouble,
    "streaming.dlq_side.trigger_ms_p50" ->
      p(ProgressLog.dataBatches(ps).map(ProgressLog.duration(_, "triggerExecution")), 50))

  /** Children of a micro-batch span, from its `durationMs` breakdown. */
  val phases = Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")

  def batchSpans(spans: Spans, name: String, ps: Seq[StreamingQueryProgress], parent: Int): Unit =
    ps.foreach { pr =>
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
      val id = spans.add(s"$name.batch ${pr.batchId}", start, ProgressLog.completedMs(pr), parent)
      var at = start
      phases.foreach { k =>
        val ms = ProgressLog.duration(pr, k)
        if (ms > 0) { spans.add(s"$name.$k", at, at + ms, id); at += ms }
      }
    }
}
