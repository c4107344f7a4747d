package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.PipelineService

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("windowed batch dedup matches an in-memory since-last-kept model on random streams") {
    // fuzz the one-pass partition scan against a trivially-correct model:
    // random keys, clustered timestamps (forces in/out-of-window mixes),
    // several window sizes, fixed seeds
    for (seed <- Seq(1, 7, 23); windowNs <- Seq(1L, 50L, 500L)) {
      val rnd = new scala.util.Random(seed)
      val events = (0 until 400).map { i =>
        (i.toLong, s"k${rnd.nextInt(12)}", 1700000000000L + rnd.nextInt(1000).toLong)
      }
      // model: per key in (ts, id) order, keep iff first or ts-lastKept>w
      val kept = scala.collection.mutable.Set[Long]()
      events.groupBy(_._2).foreach { case (_, evs) =>
        var first = true
        var last = 0L
        evs.sortBy(e => (e._3, e._1)).foreach { e =>
          if (first || e._3 - last > windowNs) {
            kept += e._1; last = e._3; first = false
          }
        }
      }
      val df = events.toDF("id", "key", "ts_ns")
      val got = DedupOp.windowedBatch(Seq("key"), "ts_ns", windowNs, "id")(df)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == kept.toSet, s"seed=$seed window=$windowNs")
    }
  }

  test("exact dedup keeps one deterministic row per key") {
    val df = Seq(
      ("k1", 10L, 1L), ("k1", 5L, 2L), ("k2", 7L, 3L), ("k1", 5L, 4L)
    ).toDF("k", "ts_ns", "id")
    val out = DedupOp.exact(Seq("k"), Seq(col("ts_ns"), col("id")))(df)
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      Seq(("k1", 2L), ("k2", 3L))) // k1: min ts=5, tie → min id=2
  }

  test("windowed dedup is since-last-KEPT, not since-last-seen") {
    // key a, window 10: ts 0 kept, 5 dropped, 8 dropped, 12 KEPT
    // (12-0 > 10; if TTL refreshed on dropped 8, 12 would be dropped)
    val df = Seq(
      ("a", 0L, 1L), ("a", 5L, 2L), ("a", 8L, 3L), ("a", 12L, 4L),
      ("b", 100L, 5L), ("b", 111L, 6L)
    ).toDF("k", "ts_ns", "id")
    val out = DedupOp.windowedBatch(Seq("k"), "ts_ns", 10L, "id")(df)
      .orderBy("id").collect().map(_.getLong(2)).toSeq
    assert(out == Seq(1L, 4L, 5L, 6L))
  }

  test("windowed dedup matches the oracle semantics on real data") {
    val ev = graft.Tables.events(spark, sf)
    val out = DedupOp.windowedBatch(Seq("user_id"), "ts_ns", 3600L * 1000000000L, "event_id")(ev)
    // every kept pair per user is > window apart
    val bad = out.selectExpr("user_id", "ts_ns")
      .withColumn("prev", lag("ts_ns", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts_ns")))
      .filter(col("prev").isNotNull && col("ts_ns") - col("prev") <= 3600L * 1000000000L)
    assert(bad.count() == 0)
    assert(out.count() > 0 && out.count() < ev.count())
  }

  test("exact streaming dedup restarts the TTL from the last KEPT record") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val q = DedupOp.windowedStreamingExact(Seq("k"), "ts", 600000L)( // 10 min
        mem.toDF.toDF("k", "ts", "id"))
      .writeStream.format("memory").queryName("dedup_exact_out")
      .outputMode("append").start()
    // kept@10:00; dup@10:05 dropped; dup@10:08 dropped (does NOT refresh);
    // 10:12 KEPT (12 min since last KEPT — dropDuplicatesWithinWatermark
    // would still drop it, since-first-seen)
    mem.addData(
      ("a", t("2025-01-01 10:00:00"), 1L),
      ("a", t("2025-01-01 10:05:00"), 2L),
      ("a", t("2025-01-01 10:08:00"), 3L),
      ("a", t("2025-01-01 10:12:00"), 4L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_exact_out").collect().map(_.getLong(2)).sorted.toSeq
    assert(got == Seq(1L, 4L))
  }

  test("exact streaming dedup runs under the RocksDB state store (production provider)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    PipelineService.withStateStore(spark) {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
      val q = DedupOp.windowedStreamingExact(Seq("k"), "ts", 600000L)(
          mem.toDF.toDF("k", "ts", "id"))
        .writeStream.format("memory").queryName("dedup_rocksdb_out")
        .outputMode("append").start()
      mem.addData(
        ("a", t("2025-01-01 10:00:00"), 1L),
        ("a", t("2025-01-01 10:05:00"), 2L),
        ("a", t("2025-01-01 10:12:00"), 3L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("dedup_rocksdb_out").collect().map(_.getLong(2)).sorted.toSeq
      assert(got == Seq(1L, 3L))
    }
  }

  test("streaming windowed dedup drops in-window duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val df = mem.toDF.toDF("k", "ts", "id")
    val q = DedupOp.windowedStreaming(Seq("k"), "ts", "1 hour")(df)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      ("a", t("2025-01-01 10:00:00"), 1L),
      ("a", t("2025-01-01 10:30:00"), 2L), // dup within 1h
      ("b", t("2025-01-01 10:00:00"), 3L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").collect().map(_.getLong(2)).sorted.toSeq
    assert(got == Seq(1L, 3L))
  }
}
