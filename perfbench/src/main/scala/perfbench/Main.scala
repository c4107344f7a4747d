package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** What a workload hands back: its end-to-end numbers under the names in
  * BENCHMARK.json (the live heap is read after a full collection at the
  * end of the measured phase, before teardown; `pipelineSetupS` is the
  * run's one pipeline set-up, 0 for the sweep), the same numbers under the
  * names users know them by (printed as text), the per-layer numbers it
  * measured, and the outcome of its output checks. */
final case class Outcome(
  throughput: Double,
  latencyP50Ms: Double,
  latencyP99Ms: Double,
  liveHeapMb: Double,
  cpuMsPerItem: Double,
  pipelineSetupS: Double,
  named: ListMap[String, (Double, String)],
  perLayer: Map[String, Double],
  attempted: Long,
  mismatches: Seq[(String, Long)],
  details: ListMap[String, Any])

/** Shared state of one benchmark process. */
final class Ctx(val args: Main.Args, val spans: Spans, val progress: ProgressLog,
                val stages: StageLog, val threads: ThreadCpu) {
  @volatile var spark: SparkSession = _
  val workDir: String = new java.io.File(args.work).getAbsolutePath
  private var dirs = 0
  /** A fresh directory under the run's work directory. */
  def freshDir(tag: String): String = synchronized {
    dirs += 1
    val d = new java.io.File(workDir, s"$tag-$dirs")
    d.mkdirs()
    d.getAbsolutePath
  }
  def trace: Boolean = args.trace

  /** /proc/stat when the process started measuring, and when the workload
    * finished setting up: `setup_s` discounts the time stolen between. */
  val startJiffies: Host.Jiffies = Host.jiffies()
  @volatile var setupJiffies: Option[Host.Jiffies] = None
  def setupDone(): Unit = setupJiffies = Some(Host.jiffies())

  /** Build (or rebuild) the session on `cores` local cores, with the
    * benchmark's listeners attached. */
  def session(cores: Int): SparkSession = {
    if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.streams.addListener(progress)
    if (trace) s.sparkContext.addSparkListener(stages)
    spark = s
    s
  }
}

/** One benchmark process: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <artifact.json> --work <dir> --data <sf dir>
  * --hashes <file> [--queries sample|all] [--record <file>]`.
  * Prints each end-to-end metric as text, then one line
  * `PERFBENCH_RESULT {...}` that `run.py` turns into the result line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: String, work: String, data: String, hashes: String,
                        queries: String, record: Option[String], startMs: Double)

  val Cores = 4

  /** The end-to-end metrics of the result line, with their units. The
    * wall-clock throughput and latencies are printed and recorded too, but
    * not gated: on a shared 4-vCPU host their run-to-run spread is wider
    * than any usable regression bound (README.md has the figures). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cpu_ms_per_item" -> "ms", "live_heap_mb" -> "MB")

  /** Every per-layer metric with its unit. A metric reads 0 on a workload
    * that does not exercise its layer (README.md says which apply where). */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.kafka.read_eps" -> "events/s",
    "sources.kafka.latest_offset_ms_p50" -> "ms",
    "sources.kafka.lag_events_max" -> "count",
    "sources.ingest.parse_eps" -> "events/s",
    "sources.ingest.invalid_rows" -> "count",
    "sink.map_eps" -> "events/s",
    "sink.insert_s" -> "s",
    "sink.posts" -> "count",
    "sink.rows_per_post" -> "count",
    "sink.dlq_rows.ingestor" -> "count",
    "sink.dlq_rows.sink" -> "count",
    "sink.retries" -> "count",
    "streaming.batches" -> "count",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.trigger_ms_p99" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.query_planning_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms",
    "streaming.dlq_side.trigger_ms_p50" -> "ms",
    "streaming.dlq_side.batches" -> "count",
    "state.dedup.rows_total" -> "count",
    "state.dedup.memory_bytes" -> "bytes",
    "state.dedup.commit_ms_p50" -> "ms",
    "state.dedup.rows_dropped_by_watermark" -> "count",
    "pipeline.create_s" -> "s",
    "pipeline.start_s" -> "s",
    "pipeline.first_batch_s" -> "s",
    "sweep.jobs" -> "count",
    "sweep.stages" -> "count",
    "sweep.tasks" -> "count",
    "sweep.task_cpu_s" -> "s",
    "sweep.gc_s" -> "s",
    "sweep.shuffle_bytes" -> "bytes",
    "sweep.driver_gap_s" -> "s",
    "sweep.stream_queries_s" -> "s",
    "sweep.count_moved_queries" -> "count",
    "engine.task_cpu_s" -> "s",
    "fixture.kafka_cpu_s" -> "s",
    "fixture.ch_cpu_s" -> "s",
    "gen.cpu_s" -> "s",
    "gen.late_ms_p99" -> "ms",
    "jvm.gc_s" -> "s",
    "host.steal_pct" -> "%",
    "jvm.peak_rss_mb" -> "MB",
    "scaling.drain_eps_1core" -> "events/s")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("out"), need("work"), need("data"), need("hashes"), m.getOrElse("queries", "sample"),
      m.get("record"), ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
  }

  def main(argv: Array[String]): Unit = {
    // on the pipeline workloads this thread only feeds the fixtures and
    // waits on them, so `cpu_ms_per_item` counts it with the harness
    Thread.currentThread().setName("perfbench-main")
    val args = parse(argv)
    val spans = new Spans(args.trace)
    val ctx = new Ctx(args, spans, new ProgressLog, new StageLog, new ThreadCpu)
    val detail = ListMap.newBuilder[String, Any]
    detail += "workload" -> args.workload
    detail += "seed" -> args.seed
    detail += "seconds" -> args.seconds
    detail += "trace" -> args.trace
    val exit =
      try {
        val sessionReadyS = spans.around("setup.session") { _ =>
          val s = ctx.session(Cores)
          // the first job pays one-off scheduler start-up: part of set-up
          s.range(1).write.format("noop").mode("overwrite").save()
          (Clock.nowMs - args.startMs) / 1e3
        }
        val sessionJiffies = Host.jiffies()
        val runStart = Clock.nowMs
        val gc0 = Host.gcSeconds()
        val o = args.workload match {
          case "ingest_drain" => IngestDrain.run(ctx)
          case "stream_dedup" => StreamDedup.run(ctx)
          case "query_sweep" => QuerySweep.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        val runEnd = Clock.nowMs
        ctx.threads.close()
        val setupRawS = sessionReadyS + o.pipelineSetupS
        val setupStolen = Host.stolenShare(ctx.startJiffies, ctx.setupJiffies.getOrElse(sessionJiffies))
        val setupS = setupRawS * (1 - setupStolen)
        val endToEnd = ListMap(
          "setup_s" -> setupS, "cpu_ms_per_item" -> o.cpuMsPerItem, "live_heap_mb" -> o.liveHeapMb,
          "throughput" -> o.throughput, "latency_p50_ms" -> o.latencyP50Ms,
          "latency_p99_ms" -> o.latencyP99Ms)
        val common = Map(
          "engine.task_cpu_s" -> ctx.stages.within(runStart, runEnd).map(_.cpuS).sum,
          "fixture.kafka_cpu_s" -> ctx.threads.seconds("mini-kafka"),
          "fixture.ch_cpu_s" -> ctx.threads.seconds("mini-ch-", "HTTP-Dispatcher"),
          "gen.cpu_s" -> ctx.threads.seconds("perfbench-gen"),
          "jvm.gc_s" -> (Host.gcSeconds() - gc0),
          "host.steal_pct" -> Host.stealPct(ctx.startJiffies, Host.jiffies()),
          "jvm.peak_rss_mb" -> Host.peakRssMb())
        val layers = PerLayer.map { case (k, _) =>
          k -> o.perLayer.getOrElse(k, common.getOrElse(k, 0.0)) }
        val failed = o.mismatches.map(_._2).sum
        val metrics =
          if (args.trace) ListMap(layers.map { case (k, v) => k -> Map("value" -> v, "unit" -> PerLayer.toMap.apply(k)) }: _*)
          else ListMap(EndToEnd.map { case (k, u) => k -> Map("value" -> endToEnd(k), "unit" -> u) }: _*)
        val result = ListMap("correct" -> (failed == 0), "attempted" -> o.attempted,
          "failed" -> failed, "metrics" -> metrics)
        // the end-to-end numbers under the names the workload's users know
        val units = (EndToEnd ++ Seq("throughput" -> "items/s", "latency_p50_ms" -> "ms",
          "latency_p99_ms" -> "ms")).toMap
        (o.named ++ endToEnd.map { case (k, v) => k -> ((v, units(k))) } ++ ListMap(
          "error_rate" -> ((failed.toDouble / math.max(o.attempted, 1L), "ratio")),
          "peak_rss_mb" -> ((Host.peakRssMb(), "MB")))).foreach { case (k, (v, u)) =>
          println(f"$k%-16s $v%.4f $u")
        }
        detail += "setup_session_s" -> sessionReadyS
        detail += "host_steal_pct" -> Host.stealPct(ctx.startJiffies, Host.jiffies())
        detail += "setup_raw_s" -> setupRawS
        detail += "setup_stolen_share" -> setupStolen
        detail += "process_cpu_s" -> Host.processCpuS()
        detail += "setup_pipeline_s" -> o.pipelineSetupS
        detail += "end_to_end" -> endToEnd
        detail += "named" -> o.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
        detail += "error_rate" -> failed.toDouble / math.max(o.attempted, 1L)
        detail += "mismatches" -> o.mismatches.filter(_._2 != 0).map { case (k, v) => Map("check" -> k, "off_by" -> v) }
        detail += "per_layer" -> ListMap(layers: _*)
        detail ++= o.details
        detail += "result" -> result
        println("PERFBENCH_RESULT " + Json.render(result))
        0
      } catch {
        case t: Throwable =>
          detail += "error" -> errorHead(t)
          System.err.println(s"perfbench: ${args.workload} failed: ${errorHead(t)}")
          t.printStackTrace()
          2
      }
    detail += "query_failures" -> ctx.progress.failures.toArray.toSeq
    detail += "spans" -> spans.toJson(args.startMs)
    try {
      val f = new java.io.File(args.out)
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, Json.render(detail.result()))
    } catch { case e: Exception => System.err.println(s"perfbench: artifact not written: $e") }
    try if (ctx.spark != null) ctx.spark.stop() catch { case _: Throwable => () }
    System.out.flush()
    // fixture and Spark threads are daemon threads, but be explicit
    Runtime.getRuntime.halt(exit)
  }

  /** Exception class, message and the first frames, causes included. */
  def errorHead(t: Throwable): String = {
    val b = new StringBuilder
    var c = t
    var depth = 0
    while (c != null && depth < 4) {
      if (depth > 0) b ++= " | caused by: "
      b ++= s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(400)}"
      c.getStackTrace.take(3).foreach(f => b ++= s" @ $f")
      c = c.getCause
      depth += 1
    }
    b.toString
  }
}
