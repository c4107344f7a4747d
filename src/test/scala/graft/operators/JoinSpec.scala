package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.PipelineService
import AsOfJoin.Projection

class JoinSpec extends SparkSpec {
  import spark.implicits._

  private def lefts = Seq(
    // (id, key, ts)
    (1L, "u1", 100L), (2L, "u1", 250L), (3L, "u2", 100L), (4L, "u3", 500L)
  ).toDF("id", "k", "ts_ns")
  private def rights = Seq(
    (10L, "u1", 50L), (11L, "u1", 90L),   // u1: latest at 90 wins for left@100
    (12L, "u1", 240L),                    // u1: latest for left@250
    (13L, "u2", 300L)                     // u2: AFTER left@100 → no match
  ).toDF("id", "k", "ts_ns")

  private val lOut = Seq(Projection("id", "lid"), Projection("k", "k"), Projection("ts_ns", "lts"))
  private val rOut = Seq(Projection("id", "rid"), Projection("ts_ns", "rts"))

  test("sortMerge picks the latest in-window right, inner semantics") {
    val out = AsOfJoin.sortMerge(lefts, rights, "k", "k", "ts_ns", "ts_ns",
      1000L, lOut, rOut).orderBy("lid").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(3))).toSeq ==
      Seq((1L, 11L), (2L, 12L))) // left 3: right too late; left 4: no right
  }

  test("window bound excludes stale rights") {
    val out = AsOfJoin.sortMerge(lefts, rights, "k", "k", "ts_ns", "ts_ns",
      5L, lOut, rOut).collect() // tiny window: only left@250 vs right@240? gap=10 > 5 → none
    assert(out.isEmpty)
  }

  test("same-instant right is visible to left (inclusive bound)") {
    val l = Seq((1L, "u1", 100L)).toDF("id", "k", "ts_ns")
    val r = Seq((9L, "u1", 100L)).toDF("id", "k", "ts_ns")
    val out = AsOfJoin.sortMerge(l, r, "k", "k", "ts_ns", "ts_ns", 10L, lOut, rOut).collect()
    assert(out.length == 1 && out.head.getLong(3) == 9L)
  }

  test("sortMerge resolves dotted keys and projections against nested structs") {
    val l = Seq((1L, "u1", 100L)).toDF("id", "uid", "ts_ns")
    val r = Seq((9L, "u1", "Ada", 90L)).toDF("rid", "rid_key", "rname", "ts_ns")
      .select(col("rid"),
        struct(col("rid_key").as("id"), col("rname").as("name")).as("user"),
        col("ts_ns"))
    val out = AsOfJoin.sortMerge(l, r, "uid", "user.id", "ts_ns", "ts_ns", 1000L,
      Seq(Projection("id", "lid")),
      Seq(Projection("rid", "rid"), Projection("user.name", "user.name"))).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 9L)
    assert(out.head.getString(2) == "Ada") // literal dotted output column
  }

  test("sortMerge equals viaWindow on real data") {
    val ev = graft.Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
    val views = ev.filter(col("event_type") === "view")
    val w = 86400L * 1000000000L
    val lo = Seq(Projection("event_id", "pid"), Projection("user_id", "uid"),
      Projection("ts_ns", "pts"))
    val ro = Seq(Projection("event_id", "vid"))
    val a = AsOfJoin.sortMerge(purchases, views, "user_id", "user_id",
      "ts_ns", "ts_ns", w, lo, ro)
    val b = AsOfJoin.viaWindow(purchases, views, "user_id", "user_id",
      "ts_ns", "ts_ns", w, "event_id", lo, ro)
    assert(a.count() > 0)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("streaming temporal join: latest-right-wins, buffer drain, TTL expiry") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)

    val leftMem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val rightMem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val left = leftMem.toDF.toDF("id", "k", "ts")
    val right = rightMem.toDF.toDF("id", "k", "ts")

    val cfg = TemporalJoin.Config(
      leftKey = "k", rightKey = "k", leftTs = "ts", rightTs = "ts",
      leftTtlMs = 60000L, rightTtlMs = 60000L,
      leftOut = Seq(Projection("id", "lid"), Projection("k", "k")),
      rightOut = Seq(Projection("id", "rid")))

    val q = TemporalJoin(left, right, cfg)
      .writeStream.format("memory").queryName("tj_out")
      .outputMode("append").start()

    // batch 1: right r1@10:00:00 for u1; left l1@10:00:10 → immediate hit
    //          left l2@10:00:20 for u2 → buffered (no right yet)
    rightMem.addData((100L, "u1", t("2025-01-01 10:00:00")))
    leftMem.addData((1L, "u1", t("2025-01-01 10:00:10")),
      (2L, "u2", t("2025-01-01 10:00:20")))
    q.processAllAvailable()
    // batch 2: right r2@10:00:30 for u2 → drains buffered l2
    //          right r3@10:00:40 for u1 overwrites r1; left l3@10:00:50 → r3
    rightMem.addData((200L, "u2", t("2025-01-01 10:00:30")),
      (300L, "u1", t("2025-01-01 10:00:40")))
    q.processAllAvailable()
    leftMem.addData((3L, "u1", t("2025-01-01 10:00:50")))
    q.processAllAvailable()
    // batch 3: left l4 for u3 at 10:05 — no right ever → no output;
    //          left l5 for u1 at 10:05 — r3 is 4min10s old > 60s TTL → miss
    leftMem.addData((4L, "u3", t("2025-01-01 10:05:00")),
      (5L, "u1", t("2025-01-01 10:05:00")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("tj_out").collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(got == Seq((1L, 100L), (2L, 200L), (3L, 300L)))
  }

  test("streaming temporal join runs under the RocksDB state store (production provider)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    PipelineService.withStateStore(spark) {
      val leftMem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val rightMem = MemoryStream[(Long, String, java.sql.Timestamp)]
      val cfg = TemporalJoin.Config(
        leftKey = "k", rightKey = "k", leftTs = "ts", rightTs = "ts",
        leftTtlMs = 60000L, rightTtlMs = 60000L,
        leftOut = Seq(Projection("id", "lid"), Projection("k", "k")),
        rightOut = Seq(Projection("id", "rid")))
      val q = TemporalJoin(leftMem.toDF.toDF("id", "k", "ts"),
          rightMem.toDF.toDF("id", "k", "ts"), cfg)
        .writeStream.format("memory").queryName("tj_rocksdb_out")
        .outputMode("append").start()
      // immediate hit, then a buffered left drained by a later right —
      // exercises both kryo state writes and reads under RocksDB
      rightMem.addData((100L, "u1", t("2025-01-01 10:00:00")))
      leftMem.addData((1L, "u1", t("2025-01-01 10:00:10")),
        (2L, "u2", t("2025-01-01 10:00:20")))
      q.processAllAvailable()
      rightMem.addData((200L, "u2", t("2025-01-01 10:00:30")))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tj_rocksdb_out").collect()
        .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      assert(got == Seq((1L, 100L), (2L, 200L)))
    }
  }

  test("temporal join state survives a restart from checkpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // memory sink refuses checkpoint recovery; parquet supports it
    val base = java.nio.file.Files.createTempDirectory("graft_tj_ckpt").toString
    val (checkpoint, outDir) = (s"$base/ckpt", s"$base/out")
    val leftMem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val rightMem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val cfg = TemporalJoin.Config(
      leftKey = "k", rightKey = "k", leftTs = "ts", rightTs = "ts",
      leftTtlMs = 600000L, rightTtlMs = 600000L,
      leftOut = Seq(Projection("id", "lid"), Projection("k", "k")),
      rightOut = Seq(Projection("id", "rid")))
    val joined = TemporalJoin(leftMem.toDF.toDF("id", "k", "ts"),
      rightMem.toDF.toDF("id", "k", "ts"), cfg)
    def startQuery() = joined.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", checkpoint)
      .outputMode("append").start()

    // run 1: buffer a left for u1 (no right yet), then stop
    val q1 = startQuery()
    leftMem.addData((1L, "u1", t("2025-01-01 10:00:00")))
    q1.processAllAvailable()
    q1.stop()

    // run 2: the right arrives AFTER the restart — the buffered left must
    // drain from recovered state, not from anything in this run's input
    val q2 = startQuery()
    rightMem.addData((100L, "u1", t("2025-01-01 10:00:30")))
    q2.processAllAvailable()
    q2.stop()

    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out == Seq((1L, 100L)), s"buffered left did not drain after restart: ${out.toList}")
  }

  test("one-sided left flood: buffer stays bounded to the TTL horizon, output unchanged") {
    import TemporalJoin.{Ev, JState, step}
    val ttl = 1000L
    // 10k lefts at 1ms spacing, no rights, watermark trailing 100ms behind:
    // only lefts inside [wm - ttl, ∞) may survive each step
    var st = JState(Nil, None)
    var emitted = 0
    (0 until 100).foreach { batch =>
      val evs = (0 until 100).map(i => Ev(batch * 100L + i, 1, Array[Any](batch * 100L + i)))
      val wm = batch * 100L + 99 - 100
      val (out, st2) = step(evs, st, wm, ttl, ttl)
      emitted += out.size
      st = st2
      assert(st.leftBuffer.size <= ttl + 101,
        s"buffer grew past the TTL horizon: ${st.leftBuffer.size}")
      st.leftBuffer.foreach { case (lts, _) => assert(wm - lts <= ttl) }
    }
    assert(emitted == 0)
    assert(st.leftBuffer.size <= ttl + 101)

    // pruning is output-neutral: a right arriving inside the TTL still
    // drains exactly the in-TTL lefts, in order
    val (out, _) = step(Seq(Ev(10000L, 0, Array[Any](999L))), st, 9900L, ttl, ttl)
    val drained = out.map(_._1(0).asInstanceOf[Long])
    assert(drained.nonEmpty)
    assert(drained == drained.sorted, "drain must preserve event order")
    drained.foreach(lts => assert(10000L - lts <= ttl))

    // and a left older than wm - ttl is gone even though a fresh right
    // would otherwise have matched nothing-expired state
    val stale = step(Seq(Ev(0L, 1, Array[Any](0L))), JState(Nil, None), 5000L, ttl, ttl)._2
    assert(stale.leftBuffer.isEmpty, "stale left must be pruned at step end")
  }
}
