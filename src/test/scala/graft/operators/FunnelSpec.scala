package graft.operators

import graft.SparkSpec
import graft.pipeline.PipelineService
import org.apache.spark.sql.functions._

import scala.util.Random

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private val steps = Seq("a", "b", "c")

  /** In-memory model: chained strict-greater first-touch minima. */
  private def model(events: Seq[(Long, Long, String)]): Map[Long, (Int, Seq[Option[Long]])] =
    events.groupBy(_._1).flatMap { case (k, evs) =>
      val byStep = steps.map(s => evs.filter(_._3 == s).map(_._2).sorted)
      val touches = byStep.foldLeft(Seq.empty[Option[Long]]) { (acc, ts) =>
        acc :+ (acc.lastOption match {
          case None => ts.headOption // step 1: plain min
          case Some(Some(prev)) => ts.find(_ > prev)
          case Some(None) => None
        })
      }
      touches.head.map { _ =>
        val reached = touches.takeWhile(_.isDefined).size
        k -> (reached, touches)
      }
    }

  test("matches the chained-min model on randomized event sets") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val events = (0 until 4000).map { _ =>
        (rnd.nextLong(60), rnd.nextLong(1000),
          Seq("a", "b", "c", "noise")(rnd.nextInt(4)))
      }
      val df = events.toDF("k", "ts", "step")
      val got = Funnel.firstTouch(df, "k", "ts", "step", steps)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getInt(1), (0 until 3).map(i =>
            if (r.isNullAt(i + 2)) None else Some(r.getLong(i + 2)))))
        .toMap
      assert(got == model(events), s"seed $seed")
    }
  }

  test("strictly-after semantics: same-instant next step does not count") {
    val df = Seq(
      (1L, 10L, "a"), (1L, 10L, "b"), (1L, 11L, "b"), (1L, 11L, "c"),
      (2L, 5L, "b"), (2L, 6L, "c"), // no step-1 → no row
      (3L, 7L, "a")
    ).toDF("k", "ts", "step")
    val got = Funnel.firstTouch(df, "k", "ts", "step", steps)
      .orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val r1 = got(0)
    assert(r1.getInt(1) == 2 && r1.getLong(2) == 10L && r1.getLong(3) == 11L
      && r1.isNullAt(4)) // c at ts=11 not strictly after b at ts=11
    assert(got(1).getInt(1) == 1)
  }

  test("streaming form equals the batch operator on the same events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new Random(41)
    // millisecond-domain events, matching the streaming operator's precision
    val events = (0 until 3000).map { _ =>
      (rnd.nextLong(40), 1700000000000L + rnd.nextLong(1000000L),
        Seq("a", "b", "c", "noise")(rnd.nextInt(4)))
    }
    val batch = Funnel.firstTouch(
      events.toDF("k", "tsm", "step"), "k", "tsm", "step", steps)
      .collect().map(_.toSeq).toSet
    val ms = MemoryStream[(Long, Long, String)]
    ms.addData(events)
    ms.addData((-1L, 1700000000000L + 30000000L, "a")) // watermark sentinel
    val stream = ms.toDF.toDF("k", "tsm", "step")
      .select(col("k"), org.apache.spark.sql.functions.timestamp_millis(col("tsm")).as("ts"),
        col("step"))
    val out = Funnel.firstTouchStreaming(stream, "k", "ts", "step", steps,
      gapMs = 3600000L, watermarkDelay = "0 seconds")
    val qn = s"funnelspec_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", s"${sys.props("java.io.tmpdir")}/$qn")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(qn).filter(col("k") =!= -1L)
      .collect().map(_.toSeq).toSet
    assert(got == batch)
  }

  test("streaming funnel runs under the RocksDB state store (production provider)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    PipelineService.withStateStore(spark) {
      val ms = MemoryStream[(Long, Long, String)]
      ms.addData((1L, 1000L, "a"), (1L, 2000L, "b"), (1L, 3000L, "c"),
        (2L, 1000L, "b")) // no step-1 → no row for key 2
      ms.addData((-1L, 100000000L, "a")) // watermark sentinel
      val stream = ms.toDF.toDF("k", "tsm", "step")
        .select(col("k"),
          org.apache.spark.sql.functions.timestamp_millis(col("tsm")).as("ts"),
          col("step"))
      val out = Funnel.firstTouchStreaming(stream, "k", "ts", "step", steps,
        gapMs = 60000L, watermarkDelay = "0 seconds")
      val qn = s"funnel_rocks_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", s"${sys.props("java.io.tmpdir")}/$qn")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(qn).filter(col("k") =!= -1L)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(got == Seq((1L, 3)))
    }
  }

  test("buffered funnel state survives a restart from checkpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // memory sink refuses checkpoint recovery; parquet supports it
    val base = java.nio.file.Files.createTempDirectory("graft_funnel_ckpt").toString
    val (checkpoint, outDir) = (s"$base/ckpt", s"$base/out")
    val ms = MemoryStream[(Long, Long, String)]
    val stream = ms.toDF.toDF("k", "tsm", "step")
      .select(col("k"),
        org.apache.spark.sql.functions.timestamp_millis(col("tsm")).as("ts"),
        col("step"))
    val out = Funnel.firstTouchStreaming(stream, "k", "ts", "step", steps,
      gapMs = 60000L, watermarkDelay = "0 seconds")
    def startQuery() = out.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", checkpoint)
      .outputMode("append").start()

    // run 1: buffer steps a and b for key 1, then stop before any timeout
    val q1 = startQuery()
    ms.addData((1L, 1000L, "a"), (1L, 2000L, "b"))
    q1.processAllAvailable()
    q1.stop()

    // run 2: step c arrives AFTER the restart, then the watermark passes —
    // the emitted funnel must include the pre-restart a and b buffers
    val q2 = startQuery()
    ms.addData((1L, 3000L, "c"))
    ms.addData((-1L, 100000000L, "a"))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(outDir).filter(col("k") =!= -1L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, 3, 1000L, 2000L, 3000L)),
      s"pre-restart buffer lost: ${got.toList}")
  }

  test("result is partition-invariant") {
    val rnd = new Random(99)
    val events = (0 until 2000).map { _ =>
      (rnd.nextLong(20), rnd.nextLong(300), Seq("a", "b", "c")(rnd.nextInt(3)))
    }
    def run(parts: Int) =
      Funnel.firstTouch(events.toDF("k", "ts", "step").repartition(parts),
        "k", "ts", "step", steps)
        .collect().map(_.toSeq).toSet
    assert(run(1) == run(7))
  }
}
