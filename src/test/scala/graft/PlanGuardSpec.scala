package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.ExplainMode

/** Plan-regression guard: no driver query may silently acquire an
  * unbounded nested-loop join or cartesian product — the two plan shapes
  * that turn a working sf0.1 query into a non-terminating 100 TB one.
  *
  * A `BroadcastNestedLoopJoin` is legitimate ONLY when the build side is a
  * 1-row global aggregate (the `crossJoin(broadcast(bounds))` pattern for
  * attaching a scalar like min/max/total to every row). Those queries are
  * whitelisted BY NAME below with that justification; any new query — or
  * any regression of an existing one — that plans a BNLJ or
  * CartesianProduct fails this suite and must either fix the plan or
  * argue its way onto the list.
  */
class PlanGuardSpec extends SparkSpec {

  /** Queries whose plan carries a BNLJ over a BOUNDED broadcast side —
    * each entry names the bound. This list is exact: a query not on it
    * that plans a BNLJ fails the suite. */
  private val boundedBnlj = Set(
    // 1-row global-aggregate scalar attach (crossJoin(broadcast(agg))):
    "q_key_skew", // global n/max/median/top-share scalars
    "q_lift", // basket-count scalar
    "q_quantile_sketch", // 1-row sketch-contract columns
    "q_bloom_prune", // 1-row exact-truth guarantee scaffolding
    "q_heavy_hitters_approx", // 1-row exact-truth guarantee scaffolding
    "q_histogram", // global (min, max) bucket bounds
    "q_negative_sample", // corpus-size scalar
    "q_rolling_dau", // global max(day) bound
    "q_dau_mau", // global max(day) bound
    "q_seasonality_index", // 1-row global totals attach
    "q_temperature_sample", // (Σn, Σsqrt-milli) 1-row totals attach
    "q_equidepth_histogram", // 1-row global n + 1-row 9-edge array attach
    "q_power_iteration", // 1-row 64-long direction-vector attach (per iteration)
    "q_recency_sample", // 1-row global max-day attach
    // algorithm-constant broadcast side:
    "q_semantic_dedup", // k-centroid frame (SemDeDup Lloyd assignment)
    "q_fuzzy_join" // PassJoin short-string brute subset (len < k + maxDist)
  )

  /** Streaming-harness queries execute a stream when built — covered by
    * their own specs and oracle rows; the batch plan here is the memory
    * sink's table scan, so there is nothing to audit. */
  private def isStreamHarness(name: String) = name.endsWith("_stream")

  test("no unbounded BroadcastNestedLoopJoin or CartesianProduct in any batch plan") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !isStreamHarness(name)) {
      val df = fn(spark, sf)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val hasBnlj = plan.contains("BroadcastNestedLoopJoin")
      val hasCartesian = plan.contains("CartesianProduct")
      if (hasCartesian) offenders += s"$name: CartesianProduct"
      if (hasBnlj && !boundedBnlj(name)) offenders += s"$name: BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty,
      s"scale-killer join shapes found:\n  ${offenders.mkString("\n  ")}")
  }

  /** File names of the `src/main` Scala sources whose text matches `regex`. */
  private def mainFilesMatching(regex: String): Seq[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator()
      .asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => regex.r.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.getFileName.toString).toSeq

  /** One session builder: every main builds its session through
    * [[LocalSession]], so the service runs configured like the benches. */
  test("SparkSession.builder appears in src/main only in LocalSession.scala") {
    assert(mainFilesMatching("""SparkSession\.builder""") == Seq("LocalSession.scala"))
  }

  /** One state-store choice: every pipeline query starts on the provider
    * [[graft.pipeline.PipelineService.withStateStore]] picks, so the
    * service and the benches run the same store. */
  test("RocksDBStateStoreProvider appears in src/main only in PipelineService.scala") {
    assert(mainFilesMatching("RocksDBStateStoreProvider") == Seq("PipelineService.scala"))
  }

  /** One Kafka reader: config starts read through `graft-kafka`, the
    * reader the specs and the bench run; the stock connector does not
    * ship in this build, so a `format("kafka")` read could not load. */
  test("format(\"kafka\") appears in no src/main file") {
    assert(mainFilesMatching("""format\("kafka"\)""").isEmpty)
  }

  /** One INSERT loop: every ClickHouse write slabs and POSTs through
    * [[graft.sink.InsertLoop]], so outside the files that define them the
    * Native block builder and the HTTP POST are called only there. */
  test("new BlockBuilder( and ClickHouseHttp.post( appear in src/main only in InsertLoop.scala") {
    def users(call: String, definedIn: String): Seq[String] =
      mainFilesMatching(call).filterNot(_ == definedIn)
    assert(users("""new\s+[\w.]*BlockBuilder\(""", "NativeEncoder.scala") == Seq("InsertLoop.scala"))
    assert(users("""ClickHouseHttp\.post\(""", "ClickHouseHttp.scala") == Seq("InsertLoop.scala"))
  }
}
