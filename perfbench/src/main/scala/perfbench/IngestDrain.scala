package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.sink.{ClickHouseSink, SinkMapper}
import graft.sources.JsonIngest
import graft.types.EngineSchema

/** `ingest_drain`: the reference's published topology. An ingest-only
  * pipeline (35-field validation, the 12-column mapping, nothing else)
  * started from config drains a preloaded topic of BASELINE-shaped
  * telemetry events into the ClickHouse fixture. Closed loop: a drain
  * ends when the fixture has accepted exactly the events it was given. */
object IngestDrain {
  /** Events per drain, spread evenly over the partitions. */
  val DrainEvents = 30000L
  /** Events the first trigger takes, so set-up ends with a batch done. */
  val WarmEvents = 400L
  /** Drains run before the measured ones, while JIT and codegen settle; a
    * drain's rate keeps climbing for the first several. Counts of drains,
    * not seconds, fix where on that climb the measured drains sit: by time,
    * a fast host measured later drains than a slow one, and at a lower CPU
    * cost per event. */
  val WarmUpDrains = 4
  /** A measured drain's rate on a 4-vCPU VM: `--seconds` of measuring is
    * that many events, in whole drains. */
  val ReferenceEps = 20000.0
  val Table = "telemetry"

  private def config(id: String, address: String, url: String): String = {
    val fields = Events.telemetryFields.map { case (n, t) => s"""{"name":"$n","type":"$t"}""" }
    val mapping = Events.telemetryMapping.map { case (f, c, t) =>
      s"""{"field_name":"$f","column_name":"$c","column_type":"$t"}""" }
    s"""{"pipeline_id":"$id",
       | "source":{"kind":"kafka","brokers":["$address"],
       |  "topics":[{"name":"telemetry","consumer_group":"perfbench-$id",
       |   "schema_fields":[${fields.mkString(",")}]}]},
       | "sink":{"url":"$url","database":"default","table":"$Table","max_delay_seconds":0,
       |  "table_mapping":[${mapping.mkString(",")}]}}""".stripMargin
  }

  private def columns = Events.telemetryMapping.map { case (_, c, t) => c -> t }

  final case class Drain(seconds: Double, latenciesMs: Seq[Double], uncovered: Int) {
    def eps: Double = DrainEvents / seconds
  }

  /** A rig whose pipeline has finished its first batch; returns it with
    * (setup_s, create_s, start_s, first_batch_s). */
  private def setUp(ctx: Ctx, seed: Long, rep: Int, parent: Int): (Rig, Seq[Double]) =
    ctx.spans.around(s"setup.pipeline $rep", parent) { _ =>
      val t0 = Clock.nowMs
      val rig = new Rig(ctx, "telemetry", Table, columns, retainRows = false)
      try {
        val per = WarmEvents / rig.partitions.size
        rig.partitions.foreach { p =>
          rig.kafka.addSyntheticPartition(rig.topic, p, per, 1000, o => (s"k$p-$o", Events.telemetry(seed, p, o)))
        }
        val cfg = config(s"drain-$rep", rig.address, rig.ch.endpoint)
        val (createS, startS) = ctx.spans.around("pipeline.create+start") { _ => rig.start(s"drain-$rep", cfg) }
        val t1 = Clock.nowMs
        ctx.spans.around("pipeline.first_batch") { _ =>
          rig.awaitCaughtUp(rig.logEnds, 60000, "the first batch")
          Wait.until(30000, "the first batch's rows") { rig.ch.acceptedCount("default", Table) == WarmEvents }
        }
        val t2 = Clock.nowMs
        (rig, Seq((t2 - t0) / 1e3, createS, startS, (t2 - t1) / 1e3))
      } catch { case e: Throwable => rig.close(); throw e }
    }

  /** Make `DrainEvents` more events visible at once and time the pipeline
    * until it has committed all of them. */
  private def drain(ctx: Ctx, rig: Rig, seed: Long, k: Int, parent: Int): Drain =
    ctx.spans.around(s"drain $k", parent) { _ =>
      val per = DrainEvents / rig.partitions.size
      val before = rig.ch.acceptedCount("default", Table)
      val starts = rig.logEnds
      val t0 = Clock.nowMs
      rig.atomically {
        rig.partitions.foreach { p =>
          rig.log(p).synthetic = Some((starts(p) + per, 1000,
            (o: Long) => (s"k$p-$o", Events.telemetry(seed, p, o))))
        }
      }
      Wait.until(120000, s"drain $k to be accepted") {
        rig.failIfDead()
        rig.ch.acceptedCount("default", Table) >= before + DrainEvents
      }
      // the drain ends when the pipeline has committed it: the sink query
      // and its validation-DLQ companion, which reads the same records and
      // competes for the same cores in whichever order they were submitted
      rig.awaitCaughtUp(rig.logEnds, 120000, s"drain $k to be committed")
      val t1 = rig.caughtUpAtMs(rig.logEnds)
      // every event of this drain was created at t0; sample one in 50
      val events = for (p <- rig.partitions; o <- starts(p) until starts(p) + per by 50)
        yield MetricMath.Event(p, o, t0)
      val lat = MetricMath.latencies(events, rig.mainProgress.map(ProgressLog.batch))
      Drain((t1 - t0) / 1e3, lat.flatten, lat.count(_.isEmpty))
    }

  def run(ctx: Ctx): Outcome = {
    val seed = ctx.args.seed
    // one set-up per run, the process's first: the cold start a user pays
    val (rig, setup) = setUp(ctx, seed, 0, 0)
    ctx.setupDone()
    val perLayer = scala.collection.mutable.Map[String, Double]()
    try {
      val drains = ArrayBuffer[Drain]()
      while (drains.size < WarmUpDrains) drains += drain(ctx, rig, seed, drains.size, 0)
      val measuredDrains = math.max(3, math.round(ctx.args.seconds * ReferenceEps / DrainEvents).toInt)
      val cpu = new Host.CpuWindow(ctx.threads, ThreadCpu.Harness)
      while (drains.size < WarmUpDrains + measuredDrains) drains += drain(ctx, rig, seed, drains.size, 0)
      val cpuMs = cpu.ms()
      val liveHeap = Host.liveHeapMb()
      val expected = WarmEvents + drains.size * DrainEvents
      val accepted = rig.ch.acceptedCount("default", Table)
      val dlqRows = rig.dlqCounts().values.sum
      val posts = rig.ch.insertAttempts
      val main = rig.mainProgress
      val side = rig.sideProgress
      // the warm-up drains are kept in the artifact but not in the rate
      val measured = drains.drop(WarmUpDrains).toSeq
      val lat = measured.flatMap(_.latenciesMs)
      // the sustained rate over the measured window
      val named = ListMap("drain_eps" -> ((measured.size * DrainEvents / measured.map(_.seconds).sum, "events/s")))
      if (ctx.trace) {
        perLayer ++= prefixes(ctx, rig, seed)
        perLayer ++= StreamStats.mainQuery(main) ++ StreamStats.sideQuery(side)
        perLayer ++= Map(
          "sink.posts" -> posts.toDouble,
          "sink.rows_per_post" -> accepted.toDouble / math.max(posts, 1),
          "sink.dlq_rows.ingestor" -> dlqRows.toDouble,
          "pipeline.create_s" -> setup(1),
          "pipeline.start_s" -> setup(2),
          "pipeline.first_batch_s" -> setup(3))
        StreamStats.batchSpans(ctx.spans, "pipeline", main, 0)
        StreamStats.batchSpans(ctx.spans, "dlq_side", side, 0)
      }
      rig.close()
      if (ctx.trace) perLayer("scaling.drain_eps_1core") = oneCore(ctx, seed)
      Outcome(
        throughput = named("drain_eps")._1,
        latencyP50Ms = MetricMath.percentile(lat, 50),
        latencyP99Ms = MetricMath.percentile(lat, 99),
        liveHeapMb = liveHeap,
        cpuMsPerItem = cpuMs / (measuredDrains * DrainEvents),
        pipelineSetupS = setup.head,
        named = named,
        perLayer = perLayer.toMap,
        attempted = expected,
        mismatches = Seq(
          "rows accepted vs events produced" -> math.abs(accepted - expected),
          "rows dead-lettered (expected none)" -> dlqRows,
          "drained events no batch covered" -> drains.map(_.uncovered.toLong).sum),
        details = ListMap(
          "drain_events" -> DrainEvents, "drains" -> drains.size, "warm_up_drains" -> WarmUpDrains,
          "drain_eps_all" -> drains.map(_.eps).toSeq,
          "latency_samples" -> lat.size,
          "rows_expected" -> expected, "rows_accepted" -> accepted))
    } finally rig.close()
  }

  /** Prefix passes over a fresh `DrainEvents` topic, each a batch read of
    * the whole topic that stops after one more layer: read → noop,
    * + JsonIngest → noop, + SinkMapper → noop, + ClickHouseSink INSERT. */
  private def prefixes(ctx: Ctx, rig: Rig, seed: Long): Map[String, Double] = {
    val spark = ctx.spark
    val topic = "prefix"
    val per = DrainEvents / rig.partitions.size
    rig.partitions.foreach { p =>
      rig.kafka.addSyntheticPartition(topic, p, per, 1000, o => (s"k$p-$o", Events.telemetry(seed + 7, p, o)))
    }
    rig.ch.createTable("default", "prefix", columns)
    val sink = ClickHouseSink.Config(url = rig.ch.endpoint, database = "default", table = "prefix",
      mappings = Events.telemetryMapping.map { case (f, c, t) => SinkMapper.ColumnMapping(f, c, t) })
    def raw: DataFrame = spark.read.format("graft-kafka").option("brokers", rig.address)
      .option("topic", topic).option("startingOffsets", "earliest").load()
      .selectExpr("cast(value as string) as value")
    def valid: DataFrame = JsonIngest.ingest(raw, "value", EngineSchema.structFor(Events.telemetryFields))._1
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(f: => Unit): Double =
      ctx.spans.around(s"prefix.$name") { _ => val t0 = Clock.nowMs; f; (Clock.nowMs - t0) / 1e3 }
    noop(raw) // warm the read path once
    val read = timed("read")(noop(raw))
    val parse = timed("parse")(noop(valid))
    val map = timed("map")(noop(SinkMapper(sink.mappings)(valid)))
    val full = timed("insert")(ClickHouseSink.writeBatch(sink)(valid))
    require(rig.ch.acceptedCount("default", "prefix") == DrainEvents,
      s"prefix insert accepted ${rig.ch.acceptedCount("default", "prefix")} of $DrainEvents")
    Map(
      "sources.kafka.read_eps" -> DrainEvents / read,
      "sources.ingest.parse_eps" -> DrainEvents / parse,
      "sink.map_eps" -> DrainEvents / map,
      "sink.insert_s" -> math.max(0.0, full - map))
  }

  /** The same drain on a single core: the single-threaded baseline. The
    * session is rebuilt at `local[1]` and left that way (it runs last). */
  private def oneCore(ctx: Ctx, seed: Long): Double =
    ctx.spans.around("scaling.local[1]") { id =>
      ctx.session(1)
      val (rig, _) = setUp(ctx, seed + 99, 99, id)
      try {
        drain(ctx, rig, seed + 99, 0, id)
        drain(ctx, rig, seed + 99, 1, id).eps
      } finally rig.close()
    }
}
