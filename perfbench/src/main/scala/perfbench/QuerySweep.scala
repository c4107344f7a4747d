package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** `query_sweep`: `SparkEntry.queries` at sf0.01 in one fresh session.
  * Each query runs twice: once untimed, its result hashed and checked
  * against the hashes recorded from the seed code (where the DuckDB oracle
  * passes every query at sf0.01), then once timed, fully materialized with
  * `write.format("noop")` (a `count()` lets Catalyst skip work that only
  * feeds projected columns). The inputs are the fixed sf0.01 tables, so
  * the seed does not apply. */
object QuerySweep {

  /** The queries one run times, the same on every run and commit, drawn
    * from a timed `--queries all` sweep of the seed code: the registry split
    * into operator families, each family given queries in proportion to
    * its share of the sweep's time (at least one), each pick the median of
    * an equal slice of its family ranked by time; the join family holds
    * the three TPC-H joins. README.md has the families and the sample's
    * share of the sweep. `--queries all` sweeps every entry. */
  val Sample: Seq[String] = Seq(
    // aggregate
    "q_heavy_hitters", "q_winnow_pairs",
    // ClickHouse fixture
    "q_ch_topn",
    // join
    "q_tpch_q18", "q_tpch_q3", "q_tpch_q5",
    // row-wise: scan, project, UDFs
    "q_winnow_fingerprint", "q_url_ops", "q_image_resize", "q_text_quality", "q_bm25",
    // streaming
    "q_asof_join", "q_hll_stream",
    // window
    "q_cumulative_distinct")

  final case class Timed(name: String, wallS: Double, stream: Boolean, countS: Option[Double],
                         hash: Option[String], error: Option[String], startMs: Double, endMs: Double)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = new java.io.File(ctx.args.data).getAbsolutePath
    val all = SparkEntry.queries
    val names = ctx.args.queries match {
      case "sample" => Sample
      case "all" => all.keys.toSeq.sorted
      case other => throw new IllegalArgumentException(s"--queries takes sample or all, not $other")
    }
    val recorded = Hashes.load(ctx.args.hashes)
    // pass 1, untimed: each query's result is hashed for the check, and the
    // session warms up (JIT, codegen) the way it does in a long-lived driver
    val hashes = ctx.spans.around("sweep.check pass") { _ =>
      names.map { name =>
        name -> (try Right(Hashes.of(all(name)(spark, dir)))
        catch { case t: Throwable => Left(Main.errorHead(t)) })
      }.toMap
    }
    // pass 2, timed: each query fully materialized with noop; the CPU is
    // the whole process's, since a fixture-backed query's fixture is part
    // of that query
    val cpu = new Host.CpuWindow(ctx.threads, Nil)
    val timed0 = names.map { name =>
      val streams0 = ctx.progress.started.size
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      val t0 = Clock.nowMs
      val err =
        try { noop(all(name)(spark, dir)); hashes(name).left.toOption }
        catch { case t: Throwable => Some(Main.errorHead(t)) }
      val t1 = Clock.nowMs
      Timed(name, (t1 - t0) / 1e3, ctx.progress.started.size > streams0, None,
        hashes(name).toOption, err, t0, t1)
    }
    val cpuMs = cpu.ms()
    val liveHeap = Host.liveHeapMb()
    // traced only, pass 3: the same queries timed with count(), to show
    // which ones count() lets Catalyst cut short
    val timed =
      if (!ctx.trace) timed0
      else timed0.map { t =>
        if (t.error.isDefined) t
        else try {
          val c0 = Clock.nowMs
          all(t.name)(spark, dir).count()
          t.copy(countS = Some((Clock.nowMs - c0) / 1e3))
        } catch { case _: Throwable => t }
      }
    ctx.args.record.foreach(path => Hashes.save(path, timed.flatMap(t => t.hash.map(t.name -> _))))

    val sweepS = timed.map(_.wallS).sum
    val wallsMs = timed.map(_.wallS * 1e3)
    val named = ListMap("sweep_s" -> ((sweepS, "s")), "queries" -> ((timed.size.toDouble, "count")))
    val mismatches = timed.flatMap { t =>
      if (t.error.isDefined) Some(s"${t.name} failed" -> 1L)
      else if (t.hash.isEmpty) Some(s"${t.name} result not hashable" -> 1L)
      else if (!recorded.contains(t.name)) Some(s"${t.name} has no recorded hash" -> 1L)
      else if (recorded(t.name) != t.hash.get) Some(s"${t.name} hash mismatch" -> 1L)
      else None
    }

    val (perLayer, perQuery) =
      if (!ctx.trace) (Map.empty[String, Double], Seq.empty[Map[String, Any]])
      else layers(ctx, timed)
    Outcome(
      throughput = timed.size / sweepS,
      latencyP50Ms = MetricMath.percentile(wallsMs, 50),
      latencyP99Ms = MetricMath.percentile(wallsMs, 99),
      liveHeapMb = liveHeap,
      cpuMsPerItem = cpuMs / timed.size,
      pipelineSetupS = 0.0,
      named = named,
      perLayer = perLayer,
      attempted = timed.size,
      mismatches = mismatches,
      details = ListMap(
        "queries" -> timed.map(t => ListMap("name" -> t.name, "wall_s" -> t.wallS,
          "stream" -> t.stream, "count_s" -> t.countS, "hash" -> t.hash, "error" -> t.error)),
        "per_query" -> perQuery))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Per-query jobs, stages, task CPU, GC, shuffle and driver gap from
    * the stage listener, plus the count()-beside-noop comparison. */
  private def layers(ctx: Ctx, timed: Seq[Timed]): (Map[String, Double], Seq[Map[String, Any]]) = {
    Thread.sleep(500) // let the listener bus deliver the last stages
    val rows = timed.map { t =>
      val stages = ctx.stages.within(t.startMs, t.endMs)
      val jobs = ctx.stages.jobsWithin(t.startMs, t.endMs)
      val gap = MetricMath.driverGap(t.startMs, t.endMs, stages.map(s => (s.startMs, s.endMs))) / 1e3
      val qSpan = ctx.spans.add(s"sweep ${t.name}", t.startMs, t.endMs)
      jobs.foreach { case (s, e) => ctx.spans.add("job", s, if (e.isNaN) t.endMs else e, qSpan) }
      stages.foreach(s => ctx.spans.add("stage", s.startMs, s.endMs, qSpan))
      val moved = t.countS.exists(c => math.abs(c - t.wallS) > math.max(0.05, 0.2 * t.wallS))
      (t, stages, jobs.size, gap, moved)
    }
    val stages = rows.flatMap(_._2)
    val perLayer = Map(
      "sweep.jobs" -> rows.map(_._3).sum.toDouble,
      "sweep.stages" -> stages.size.toDouble,
      "sweep.tasks" -> stages.map(_.tasks).sum.toDouble,
      "sweep.task_cpu_s" -> stages.map(_.cpuS).sum,
      "sweep.gc_s" -> stages.map(_.gcS).sum,
      "sweep.shuffle_bytes" -> stages.map(_.shuffleBytes).sum.toDouble,
      "sweep.driver_gap_s" -> rows.map(_._4).sum,
      "sweep.stream_queries_s" -> timed.filter(_.stream).map(_.wallS).sum,
      "sweep.count_moved_queries" -> rows.count(_._5).toDouble)
    val perQuery = rows.map { case (t, st, jobs, gap, moved) =>
      ListMap[String, Any]("name" -> t.name, "wall_s" -> t.wallS, "count_s" -> t.countS,
        "count_moved" -> moved, "jobs" -> jobs, "stages" -> st.size,
        "tasks" -> st.map(_.tasks).sum, "task_cpu_s" -> st.map(_.cpuS).sum,
        "gc_s" -> st.map(_.gcS).sum, "shuffle_bytes" -> st.map(_.shuffleBytes).sum,
        "driver_gap_s" -> gap)
    }
    (perLayer, perQuery)
  }
}

/** Order-insensitive result hashes: columns sorted by name, each row
  * rendered with doubles rounded to 9 significant digits, rows sorted. */
object Hashes {
  def of(df: DataFrame): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => order.map(i => render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def render(v: Any): String = v match {
    case null => "<null>"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  /** `name<TAB>hash` lines. */
  def load(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
      .map(_.split('\t')).collect { case Array(n, h) => n -> h }.toMap
  }

  def save(path: String, hashes: Seq[(String, String)]): Unit =
    java.nio.file.Files.writeString(new java.io.File(path).toPath,
      hashes.sortBy(_._1).map { case (n, h) => s"$n\t$h\n" }.mkString)
}
