package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.data.Bpe
import graft.pipeline.PipelineService

/** TimeSeries (gap fill, SCD2), Graph (triangles), and Bpe (merge
  * learning) — semantics pinned against hand-computable fixtures and
  * in-memory reference scans. */
class TimeSeriesGraphSpec extends SparkSpec {
  import spark.implicits._

  test("gapFill: per-key grid spans only the key's own bounds, gaps carry forward") {
    val obs = Seq(("a", 1L, 10L), ("a", 4L, 40L), ("b", 7L, 70L))
      .toDF("k", "bucket", "v")
    val out = TimeSeries.gapFill(obs, "k", "bucket", "v")
      .orderBy("k", "bucket")
      .select("k", "bucket", "v", "filled_v", "is_gap")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3), r.getBoolean(4)))
    assert(out.toSeq === Seq(
      ("a", 1L, Some(10L), 10L, false),
      ("a", 2L, None, 10L, true),
      ("a", 3L, None, 10L, true),
      ("a", 4L, Some(40L), 40L, false),
      // key b is a single bucket: no grid inflation past its own span
      ("b", 7L, Some(70L), 70L, false)))
  }

  test("scd2: runs collapse, intervals chain, ties broken by the order column") {
    val ev = Seq(
      // user 1: A A B A — runs A[10,30) B[30,40) A[40,null)
      (1L, 1L, 10L, "A"), (1L, 2L, 20L, "A"), (1L, 3L, 30L, "B"), (1L, 4L, 40L, "A"),
      // user 2: equal timestamps — event_id orders the run boundary
      (2L, 10L, 100L, "X"), (2L, 11L, 100L, "Y"))
      .toDF("user_id", "event_id", "ts", "attr")
    val out = TimeSeries.scd2(ev, "user_id", Seq("ts", "event_id"), Seq("attr"))
      .select("user_id", "version", "attr", "valid_from", "valid_to")
      .orderBy("user_id", "version")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    assert(out.toSeq === Seq(
      (1L, 1L, "A", 10L, Some(30L)),
      (1L, 2L, "B", 30L, Some(40L)),
      (1L, 3L, "A", 40L, None),
      (2L, 1L, "X", 100L, Some(100L)),
      (2L, 2L, "Y", 100L, None)))
  }

  test("triangleCounts: oriented two-join equals brute-force enumeration") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant edge
    // and a disconnected edge (no triangles), duplicate + reversed +
    // self-loop inputs to exercise canonicalization.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 3L), (4L, 5L), (8L, 9L))
      .toDF("a", "b")
    val got = Graph.triangleCounts(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts on random graph equals in-memory brute force") {
    val rnd = new scala.util.Random(7)
    val es = (0 until 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val got = Graph.triangleCounts(es.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val und = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val brute = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size; k <- j + 1 until nodes.size
      (u, v, w) = (nodes(i), nodes(j), nodes(k))
      if und((u, v)) && und((v, w)) && und((u, w))
    } { brute(u) += 1; brute(v) += 1; brute(w) += 1 }
    assert(got === brute.toMap)
  }

  test("intervalJoin: bucketed join equals brute-force overlap, each pair once") {
    val rnd = new scala.util.Random(11)
    val iv = (0L until 200L).map { i =>
      val s = rnd.nextInt(300).toLong
      (i % 3, i, s, s + rnd.nextInt(40).toLong) // key, id, s, e
    }
    val df = iv.toDF("key", "id", "s", "e")
    for (width <- Seq(1L, 7L, 50L, 1000L)) { // incl. degenerate widths
      val got = IntervalJoin.overlapJoin(df, df, bucketWidth = width)
        .filter(col("a_id") < col("b_id"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      val brute = for {
        a <- iv; b <- iv
        if a._1 == b._1 && a._2 < b._2 && a._3 <= b._4 && b._3 <= a._4
      } yield (a._2, b._2, math.min(a._4, b._4) - math.max(a._3, b._3) + 1)
      assert(got.sorted.toSeq === brute.sorted.toSeq, s"width=$width")
    }
  }

  test("intervalJoin: one pathologically hot (key,bucket) group stays exact") {
    // skew-guard precondition (see the IntervalJoin.overlapJoin comment):
    // a single key whose intervals all overlap inside one bucket window is
    // the worst case the pinned exchange cannot split at runtime — the
    // group must still compute EXACTLY (one row per pair, correct overlap),
    // only slower. 120 mutually-overlapping intervals → 7140 pairs from
    // one group, plus a cold key to prove the hot group doesn't bleed.
    val hot = (0L until 120L).map(i => (1L, i, 10L + (i % 5), 40L + (i % 7)))
    val cold = Seq((2L, 1000L, 0L, 5L), (2L, 1001L, 3L, 9L), (2L, 1002L, 50L, 60L))
    val df = (hot ++ cold).toDF("key", "id", "s", "e")
    val got = IntervalJoin.overlapJoin(df, df, bucketWidth = 1000L)
      .filter(col("a_id") < col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val all = hot ++ cold
    val brute = for {
      a <- all; b <- all
      if a._1 == b._1 && a._2 < b._2 && a._3 <= b._4 && b._3 <= a._4
    } yield (a._1, a._2, b._2, math.min(a._4, b._4) - math.max(a._3, b._3) + 1)
    assert(got.length === 7140 + 1)
    assert(got.sorted.toSeq === brute.sorted.toSeq)
  }

  test("bpe: greedy fold merges left-to-right without re-consuming output") {
    // dict {aaaa:2, aab:1}: pair (a,a) count = 2*3 + 1 = 7 wins.
    // aaaa -> [aa, aa] (greedy non-overlap), aab -> [aa, b].
    val dict = Seq(("aaaa", 2L), ("aab", 1L)).toDF("word", "n")
    val (merges, syms) = Bpe.learnMerges(dict, "word", "n", nMerges = 1)
    assert(merges.map(m => (m.step, m.leftSym, m.rightSym, m.pairCount)) ===
      Seq((1, "a", "a", 7L)))
    val after = syms.select("word", "sym").as[(String, Seq[String])]
      .collect().toMap
    assert(after("aaaa") === Seq("aa", "aa"))
    assert(after("aab") === Seq("aa", "b"))
    // vocab after merge 1: {aa, b} ∪ nothing else
    assert(merges.head.nSymbolsAfter === 2L)
  }

  test("bpe: ties break lexicographically and merged symbols can chain") {
    // "abab": pairs (a,b)x2, (b,a)x1 — (a,b) wins on count; next round
    // pair (ab,ab) merges the merged symbol.
    val dict = Seq(("abab", 1L)).toDF("word", "n")
    val (merges, syms) = Bpe.learnMerges(dict, "word", "n", nMerges = 2)
    assert(merges.map(m => (m.leftSym, m.rightSym)) ===
      Seq(("a", "b"), ("ab", "ab")))
    val fin = syms.select("sym").as[Seq[String]].collect().head
    assert(fin === Seq("abab"))
  }

  test("ewmaInt replays the sequential recurrence per key, any partitioning") {
    val rnd = new scala.util.Random(13)
    val rows = for (k <- 0L until 7L; i <- 0 until 40)
      yield (k, i.toLong * 10 + k, rnd.nextInt(2001).toLong - 1000)
    val df = rows.toDF("k", "ts", "v")
    val want = rows.groupBy(_._1).flatMap { case (_, seq) =>
      val sorted = seq.sortBy(_._2)
      var s = 0L
      sorted.zipWithIndex.map { case ((k, ts, v), i) =>
        s = if (i == 0) v else s + (v - s) / 16
        (k, ts, v, s)
      }
    }.toSeq.sorted
    for (parts <- Seq(1, 5)) {
      val got = TimeSeries.ewmaInt(df.repartition(parts), "k", "ts", "v", k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
      assert(got === want, s"parts=$parts")
    }
  }

  test("ewmaInt k=0 tracks the input exactly") {
    val df = Seq((1L, 1L, 5L), (1L, 2L, 99L), (1L, 3L, -7L)).toDF("k", "ts", "v")
    val got = TimeSeries.ewmaInt(df, "k", "ts", "v", k = 0)
      .orderBy("ts").collect().map(_.getLong(3))
    assert(got.toSeq === Seq(5L, 99L, -7L))
  }

  test("kCore equals an in-memory peel on a random graph") {
    val rnd = new scala.util.Random(61)
    val edges = (0 until 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val k = 8
    // in-memory peel to fixpoint
    var cur = edges.toSet
    var done = false
    while (!done) {
      val deg = cur.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = cur.filter { case (a, b) => keep(a) && keep(b) }
      done = next == cur
      cur = next
    }
    val wantDeg = cur.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = wantDeg.toSeq.sorted
    val got = Graph.kCore(edges.toDF("a", "b"), "a", "b", k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == want)
  }

  test("kCore with k above the max degree returns an empty core") {
    val got = Graph.kCore(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b", 5)
    assert(got.count() == 0)
  }

  test("kCore delta-peel cascades: chain into a clique peels one layer per round") {
    // path 10-11-12-13 hanging off a 4-clique {0,1,2,3} at node 0: at k=2
    // the path peels from the tail one NODE per round (10's removal drops
    // 11 below k, then 12, then 13 — wait, tail-first: 13 has deg 1), so
    // the maintained-degree decrement path is exercised across 4 cascaded
    // rounds before the clique survives intact with in-core degree 3.
    val clique = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val path = Seq((0L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val got = Graph.kCore((clique ++ path).toDF("a", "b"), "a", "b", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L)))
  }

  test("ewmaIntStreaming finalizes to the batch operator under scrambled arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(29)
    // (key, tus, value) — event time in micros, scrambled arrival order
    val rows = rnd.shuffle(for (k <- 1L to 5L; i <- 0 until 30) yield
      (k, 1000000L * (i * 7 + rnd.nextInt(5)) + k, rnd.nextInt(2001).toLong - 1000))
      // ewma order is ambiguous on (key, tus) ties — keep the domain unique
      .distinctBy(r => (r._1, r._2))
    val batch = TimeSeries.ewmaInt(rows.toDF("k", "tus", "v"), "k", "tus", "v", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    val ms = MemoryStream[(Long, Long, Long)]
    ms.addData(rows)
    val maxTus = rows.map(_._2).max
    ms.addData((-1L, maxTus + 10L * 86400000000L, 0L)) // watermark sentinel
    val df = ms.toDF.toDF("k", "tus", "v")
      .select(col("k"), timestamp_micros(col("tus")).as("ts"), col("tus"), col("v"))
    val out = TimeSeries.ewmaIntStreaming(df, "k", "ts", "tus", "v", k = 4,
      gapMs = 1000L, watermarkDelay = "0 seconds")
    val qn = s"ewma_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table(qn).filter(col("k") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got === batch)
  }
  test("cusumInt matches hand-computed statistic and an in-memory replay") {
    // drift 5; key 1: [3,10,2,9] -> [0,5,2,6]; key 2: [7] -> [2]
    val df = Seq((1L, 1L, 3L), (1L, 2L, 10L), (1L, 3L, 2L), (1L, 4L, 9L),
      (2L, 1L, 7L)).toDF("k", "t", "v")
    val out = TimeSeries.cusumInt(df, "k", "t", "v", drift = 5L)
      .orderBy("k", "t").collect().map(_.getLong(3))
    assert(out.toSeq == Seq(0L, 5L, 2L, 6L, 2L))

    // randomized parity vs a sequential in-memory replay, any partitioning
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map(i =>
      (rnd.nextInt(7).toLong, i.toLong, rnd.nextInt(2000).toLong - 400L))
    val drift = 300L
    val model = rows.groupBy(_._1).flatMap { case (k, rs) =>
      var s = 0L
      rs.sortBy(_._2).map { case (_, t, v) =>
        s = math.max(0L, s + v - drift); (k, t, s) }
    }.toSeq.sorted
    for (parts <- Seq(1, 13)) {
      val got = TimeSeries.cusumInt(
          rows.toDF("k", "t", "v").repartition(parts), "k", "t", "v", drift)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .toSeq.sorted
      assert(got == model, s"parts=$parts")
    }
  }

  test("labelPropagation: two triangles over a bridge settle into two communities") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4; 3 sync min-label rounds
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
    // deterministic under repartitioning and edge direction/duplication
    val noisy = edges.union(Seq((2L, 1L), (4L, 3L)).toDF("a", "b")).repartition(9)
    val got2 = Graph.labelPropagation(noisy, "a", "b", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 == got)
  }
  test("holtInt matches hand-computed level/trend and an in-memory replay") {
    // a=c=1 (both /2); x=[10,20,30] -> (s,b,f): (10,0,10),(15,2,17),(23,5,28)
    val df = Seq((1L, 1L, 10L), (1L, 2L, 20L), (1L, 3L, 30L)).toDF("k", "t", "v")
    val out = TimeSeries.holtInt(df, "k", "t", "v", a = 1, c = 1)
      .orderBy("t").collect()
      .map(r => (r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq((10L, 0L, 10L), (15L, 2L, 17L), (23L, 5L, 28L)))

    val rnd = new scala.util.Random(23)
    val rows = (0 until 300).map(i =>
      (rnd.nextInt(5).toLong, i.toLong, rnd.nextInt(3000).toLong - 500L))
    val model = rows.groupBy(_._1).flatMap { case (k, rs) =>
      var s = 0L; var b = 0L; var first = true
      rs.sortBy(_._2).map { case (_, t, x) =>
        if (first) { s = x; b = 0L; first = false }
        else {
          val base = s + b
          val sN = base + (x - base) / 8
          b = b + (sN - base) / 16
          s = sN
        }
        (k, t, s, b, s + b)
      }
    }.toSeq.sorted
    for (parts <- Seq(1, 11)) {
      val got = TimeSeries.holtInt(
          rows.toDF("k", "t", "v").repartition(parts), "k", "t", "v", 3, 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4),
          r.getLong(5)))
        .toSeq.sorted
      assert(got == model, s"parts=$parts")
    }
  }
  test("cusumIntStreaming finalizes to the batch recurrence under scrambled arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val rows = rnd.shuffle((0 until 200).map(i =>
      ((i % 4).toLong, 1000000L + i.toLong * 1000L, rnd.nextInt(900).toLong)))
    val batch = TimeSeries.cusumInt(rows.toDF("k", "tus", "v"), "k", "tus", "v",
        drift = 400L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .toSeq.sorted
    val ms = MemoryStream[(Long, Long, Long)]
    ms.addData(rows)
    val maxTus = rows.map(_._2).max
    ms.addData((-1L, maxTus + 10L * 86400000000L, 0L)) // watermark sentinel
    val df = ms.toDF.toDF("k", "tus", "v")
      .select(col("k"), timestamp_micros(col("tus")).as("ts"), col("tus"), col("v"))
    val out = TimeSeries.cusumIntStreaming(df, "k", "ts", "tus", "v",
      drift = 400L, gapMs = 1000L, watermarkDelay = "0 seconds")
    val qn = s"cusum_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.table(qn).filter(col("k") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .toSeq.sorted
    assert(got === batch)
  }
  test("streaming CUSUM buffer survives a RocksDB-backed restart from checkpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_cusum_ckpt").toString
    val (checkpoint, outDir) = (s"$base/ckpt", s"$base/out")
    PipelineService.withStateStore(spark) {
      val ms = MemoryStream[(Long, Long, Long)]
      val df = ms.toDF.toDF("k", "tus", "v")
        .select(col("k"), timestamp_micros(col("tus")).as("ts"),
          col("tus"), col("v"))
      val out = TimeSeries.cusumIntStreaming(df, "k", "ts", "tus", "v",
        drift = 10L, gapMs = 60000L, watermarkDelay = "0 seconds")
      def startQuery() = out.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", checkpoint)
        .outputMode("append").start()
      // run 1: two samples buffered, stop before any timeout fires
      val q1 = startQuery()
      ms.addData((1L, 1000000L, 25L), (1L, 2000000L, 5L))
      q1.processAllAvailable(); q1.stop()
      // run 2: a third sample lands after the restart, then the watermark
      // passes — the replay must include the pre-restart buffer:
      // s = max(0,25-10)=15; 15+5-10=10; 10+30-10=30
      val q2 = startQuery()
      ms.addData((1L, 3000000L, 30L))
      ms.addData((-1L, 10L * 86400000000L, 0L))
      q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(outDir).filter(col("k") =!= -1L)
        .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq.sorted
      assert(got == Seq((1000000L, 15L), (2000000L, 10L), (3000000L, 30L)),
        s"pre-restart buffer lost or wrong replay: $got")
    }
  }
}
