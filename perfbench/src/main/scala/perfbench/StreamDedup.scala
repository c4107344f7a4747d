package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.sources.kafka.Records

/** `stream_dedup`: the reference's canonical pipeline shape,
  * filter → dedup (1 h window on arrival time) → transform → sink, fed
  * open loop. A steady phase offers a fixed rate below capacity; one
  * burst backlog follows. Every record carries its creation time, and
  * latency is measured from when each event was due. */
object StreamDedup {
  /** Events per second offered in the steady phase. Fixed: never adapted
    * per run, so runs and commits compare at the same load. */
  val Rate = 1000.0
  /** Steady-rate seconds before measuring, so JIT and caches settle. */
  val WarmUpS = 4.0
  val BurstEvents = 60000
  /** Events present before start, so set-up ends with a batch done. */
  val FirstEvents = 200
  val Table = "clicks"
  val Topic = "clicks"

  private val columns = Seq("id" -> "String", "user" -> "String",
    "kind" -> "LowCardinality(String)", "cents" -> "Int64", "region" -> "FixedString(2)")

  private def config(id: String, address: String, url: String): String = {
    val fields = Events.clickFields.map { case (n, t) => s"""{"name":"$n","type":"$t"}""" }
    s"""{"pipeline_id":"$id",
       | "source":{"kind":"kafka","brokers":["$address"],
       |  "topics":[{"name":"$Topic","consumer_group":"perfbench-$id",
       |   "schema_fields":[${fields.mkString(",")}],
       |   "deduplication":{"enabled":true,"id_field":"id","time_window":"1h"}}]},
       | "filter":{"expression":"status != 'failed'"},
       | "transform":{"rules":[
       |  {"expression":"id","output_name":"id","output_type":"string"},
       |  {"expression":"user","output_name":"user","output_type":"string"},
       |  {"expression":"upper(kind)","output_name":"kind","output_type":"string"},
       |  {"expression":"toInt(amount * 100)","output_name":"cents","output_type":"int64"},
       |  {"expression":"region","output_name":"region","output_type":"string"}]},
       | "sink":{"url":"$url","database":"default","table":"$Table","max_delay_seconds":0,
       |  "table_mapping":[
       |   {"field_name":"id","column_name":"id","column_type":"String"},
       |   {"field_name":"user","column_name":"user","column_type":"String"},
       |   {"field_name":"kind","column_name":"kind","column_type":"LowCardinality(String)"},
       |   {"field_name":"cents","column_name":"cents","column_type":"Int64"},
       |   {"field_name":"region","column_name":"region","column_type":"String"}]}}""".stripMargin
  }

  /** Append events to one partition as one record batch whose records all
    * carry `createdMs`; returns the first offset. Only the generator
    * appends, so the log end read here is where the batch lands. The
    * caller may already hold the partition's lock (see `appendAll`). */
  private def append(rig: Rig, p: Int, cs: Seq[Events.Click], createdMs: Long): Long = {
    val log = rig.log(p)
    log.synchronized {
      val base = log.logEnd
      val recs = cs.zipWithIndex.map { case (c, i) =>
        Records.Record(base + i, createdMs, c.id.getBytes(UTF_8), c.payload.getBytes(UTF_8)) }
      rig.kafka.appendRaw(rig.topic, p, base, base + cs.size - 1, Records.encodeBatch(base, recs))
      base
    }
  }

  /** Append to every partition at once: the source sees all of it or none. */
  private def appendAll(rig: Rig, cs: Seq[Events.Click], createdMs: Long): Seq[MetricMath.Event] =
    rig.atomically {
      cs.groupBy(_.partition).toSeq.flatMap { case (p, group) =>
        val base = append(rig, p, group, createdMs)
        group.indices.map(i => MetricMath.Event(p, base + i, createdMs.toDouble))
      }
    }

  /** Fixtures up, pipeline created and started, first batch committed. */
  private def setUp(ctx: Ctx, first: Seq[Events.Click], rep: Int): (Rig, Seq[Double]) =
    ctx.spans.around(s"setup.pipeline $rep") { _ =>
      val t0 = Clock.nowMs
      val rig = new Rig(ctx, Topic, Table, columns, retainRows = true)
      try {
        rig.partitions.foreach(p => rig.kafka.addPartition(Topic, p))
        appendAll(rig, first, System.currentTimeMillis())
        val (createS, startS) = ctx.spans.around("pipeline.create+start") { _ =>
          rig.start(s"dedup-$rep", config(s"dedup-$rep", rig.address, rig.ch.endpoint))
        }
        val t1 = Clock.nowMs
        ctx.spans.around("pipeline.first_batch") { _ =>
          rig.awaitCaughtUp(rig.logEnds, 60000, "the first batch")
        }
        val t2 = Clock.nowMs
        (rig, Seq((t2 - t0) / 1e3, createS, startS, (t2 - t1) / 1e3))
      } catch { case e: Throwable => rig.close(); throw e }
    }

  final case class Sent(event: MetricMath.Event, dueMs: Double, lateMs: Double)

  /** Offer `cs` open loop at `Rate`, starting at `t0`, from a thread of
    * its own; each event is stamped with the time it was due. */
  private def generate(ctx: Ctx, rig: Rig, cs: Seq[Events.Click], t0: Double): Seq[Sent] = {
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    val gen = new Thread(() => {
      var i = 0
      while (i < cs.size) {
        val due = t0 + i * 1000.0 / Rate
        val wait = due - Clock.nowMs
        if (wait > 0) LockSupport.parkNanos((wait * 1e6).toLong)
        // everything due by now goes out, each event at its own due time
        var j = i
        while (j < cs.size && t0 + j * 1000.0 / Rate <= Clock.nowMs) j += 1
        (i until math.max(j, i + 1)).foreach { k =>
          val d = t0 + k * 1000.0 / Rate
          val off = append(rig, cs(k).partition, Seq(cs(k)), d.toLong)
          sent.add(Sent(MetricMath.Event(cs(k).partition, off, d), d, Clock.nowMs - d))
        }
        i = math.max(j, i + 1)
      }
      // the thread's CPU, read while it is still alive
      ctx.threads.sample()
    }, "perfbench-gen")
    gen.start()
    gen.join()
    sent.asScala.toSeq
  }

  def run(ctx: Ctx): Outcome = {
    var rig: Rig = null
    try {
      val o = drive(ctx, r => rig = r)
      // the plan, the generator's log and the checked rows are out of reach
      // now; drop the broker's records (as retention would: every one is
      // committed) and the fixture's table, so what stays live is the engine
      val withHarnessMb = Host.liveHeapMb()
      rig.partitions.foreach(p => rig.kafka.truncateTo(Topic, p, rig.log(p).logEnd))
      rig.ch.dropTable("default", Table)
      val liveHeap = Host.liveHeapMb()
      o.copy(liveHeapMb = liveHeap, details = o.details ++ ListMap(
        "live_heap_with_harness_mb" -> withHarnessMb, "harness_heap_mb" -> (withHarnessMb - liveHeap)))
    } finally if (rig != null) rig.close()
  }

  /** Set up, run both phases and check the outputs; hands the rig to
    * `onRig` as soon as it exists, so the caller can close it. The returned
    * outcome holds no per-event data and has no live heap yet. */
  private def drive(ctx: Ctx, onRig: Rig => Unit): Outcome = {
    val seed = ctx.args.seed
    val steadyS = ctx.args.seconds.toDouble
    val warmN = (WarmUpS * Rate).toInt
    val steadyN = (steadyS * Rate).toInt
    // one poison event, in the first batch: every run takes the sink's
    // row-isolation path once, outside the measured phases (a replay of
    // a steady-phase batch would set p99 by where it happened to land)
    val poisonAt = Set(FirstEvents / 2)
    val plan = Events.clicks(seed, FirstEvents + warmN + steadyN + BurstEvents, Main.Cores, poisonAt)
    val expected = Events.expected(plan)
    val (first, rest0) = plan.splitAt(FirstEvents)
    val (flow, burst) = rest0.splitAt(warmN + steadyN)

    // one set-up per run, the process's first: the cold start a user pays
    val (rig, setup) = setUp(ctx, first, 0)
    onRig(rig)
    ctx.setupDone()
    locally {
      val t0 = Clock.nowMs
      val cpu = new Host.CpuWindow(ctx.threads, ThreadCpu.Harness)
      val sent = ctx.spans.around("phase.steady") { _ => generate(ctx, rig, flow, t0) }
      val steady = sent.filter(_.dueMs >= t0 + WarmUpS * 1000)
      rig.awaitCaughtUp(rig.logEnds, 60000, "the steady phase to be committed")

      val tB = Clock.nowMs
      ctx.spans.around("phase.burst") { _ =>
        appendAll(rig, burst, tB.toLong)
        rig.awaitCaughtUp(rig.logEnds, 120000, "the burst to be committed")
      }
      val cpuMs = cpu.ms()
      val batches = rig.mainProgress.map(ProgressLog.batch)
      val steadyLat = MetricMath.latencies(steady.map(_.event), batches)
      // caught up once both queries have committed the whole burst
      val catchupS = (rig.caughtUpAtMs(rig.logEnds) - tB) / 1e3

      // ---- outputs against the generator's expectations
      val main = rig.mainProgress
      val rows = rig.ch.rows("default", Table).map(r => String.valueOf(r("id")))
      val dlq = rig.dlqCounts()
      val dedupDropped = main.flatMap(_.stateOperators.headOption)
        .map(s => Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
      val consumed = main.map(_.numInputRows).sum
      val ingestorDlq = dlq.getOrElse("ingestor", 0L)
      val sinkDlq = dlq.getOrElse("sink", 0L)
      val filteredSeen = consumed - ingestorDlq - dedupDropped - rows.size - sinkDlq
      val ids = rows.toSet
      val lat = steadyLat.flatten
      val summary = MetricMath.summarize(lat)
      val named = ListMap(
        "latency_p50_ms" -> ((summary.p50, "ms")),
        "latency_p99_ms" -> ((summary.p99, "ms")),
        "catchup_eps" -> ((BurstEvents / catchupS, "events/s")))

      val perLayer =
        if (!ctx.trace) Map.empty[String, Double]
        else {
          val state = ProgressLog.dataBatches(main).flatMap(_.stateOperators.headOption)
          val last = main.flatMap(_.stateOperators.headOption).lastOption
          StreamStats.batchSpans(ctx.spans, "pipeline", main, 0)
          StreamStats.batchSpans(ctx.spans, "dlq_side", rig.sideProgress, 0)
          StreamStats.mainQuery(main) ++ StreamStats.sideQuery(rig.sideProgress) ++ Map(
            "sources.ingest.invalid_rows" -> ingestorDlq.toDouble,
            "sink.posts" -> rig.ch.insertAttempts.toDouble,
            "sink.rows_per_post" -> rows.size.toDouble / math.max(rig.ch.insertAttempts, 1),
            "sink.dlq_rows.ingestor" -> ingestorDlq.toDouble,
            "sink.dlq_rows.sink" -> sinkDlq.toDouble,
            "sink.retries" -> (main.size - main.map(_.batchId).distinct.size).toDouble,
            "state.dedup.rows_total" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
            "state.dedup.memory_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
            "state.dedup.commit_ms_p50" ->
              (if (state.isEmpty) 0.0 else MetricMath.median(state.map(_.commitTimeMs.toDouble))),
            "state.dedup.rows_dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark).sum.toDouble,
            "pipeline.create_s" -> setup(1),
            "pipeline.start_s" -> setup(2),
            "pipeline.first_batch_s" -> setup(3),
            "gen.late_ms_p99" -> MetricMath.percentile(sent.map(_.lateMs), 99))
        }
      Outcome(
        throughput = BurstEvents / catchupS,
        latencyP50Ms = summary.p50,
        latencyP99Ms = summary.p99,
        liveHeapMb = Double.NaN,
        cpuMsPerItem = cpuMs / (flow.size + burst.size),
        pipelineSetupS = setup.head,
        named = named,
        perLayer = perLayer,
        attempted = plan.size,
        mismatches = Seq(
          "events consumed vs produced" -> math.abs(consumed - plan.size),
          "rows inserted vs expected" -> math.abs(rows.size - expected.inserted),
          "rows inserted twice" -> (rows.size - ids.size).toLong,
          "expected ids missing from the table" -> (expected.insertedIds -- ids).size.toLong,
          "filtered vs expected" -> math.abs(filteredSeen - expected.filtered),
          "deduplicated vs expected" -> math.abs(dedupDropped - expected.deduped),
          "ingestor DLQ rows vs expected" -> math.abs(ingestorDlq - expected.malformed),
          "sink DLQ rows vs expected" -> math.abs(sinkDlq - expected.sinkDlq),
          "steady events no batch covered" -> steadyLat.count(_.isEmpty).toLong),
        details = ListMap(
          "rate_eps" -> Rate, "steady_s" -> steadyS, "burst_events" -> BurstEvents,
          "latency_samples" -> summary.n, "latency_samples_beyond_p99" -> summary.beyondP99,
          "catchup_s" -> catchupS,
          "expected" -> ListMap("total" -> expected.total, "malformed" -> expected.malformed,
            "filtered" -> expected.filtered, "deduped" -> expected.deduped,
            "sink_dlq" -> expected.sinkDlq, "inserted" -> expected.inserted),
          "observed" -> ListMap("consumed" -> consumed, "ingestor_dlq" -> ingestorDlq,
            "filtered" -> filteredSeen, "deduped" -> dedupDropped, "sink_dlq" -> sinkDlq,
            "inserted" -> rows.size),
          "state_custom_metrics" -> main.flatMap(_.stateOperators.headOption).lastOption
            .map(_.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap)
            .getOrElse(Map.empty),
          "gen_late_ms_p99" -> MetricMath.percentile(sent.map(_.lateMs), 99)))
    }
  }
}
