package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.kafka.MiniKafkaBroker.Cluster

/** Replays the reference's full-pipeline BDD feature
  * (glassflow-api/tests/features/pipeline/pipeline.feature) with the REAL
  * front door end-to-end: raw JSON events on [[Cluster]] → read over TCP
  * by the service's own Kafka reader (the config's `brokers` names the
  * fixture; the frame is the genuine binary Kafka shape) → config-driven
  * start parses against the declared topic schema (the ingestor leg) →
  * dedup / join per config → sink seam. This exercises the raw-frame path
  * a real cluster takes, which the MemoryStream seams bypass. */
class PipelineFeatureSpec extends SparkSpec {

  private def brokers(c: Cluster): String = c.brokerList.head.address

  private def memorySink(outName: String) =
    (df: DataFrame, _: graft.sink.ClickHouseSink.Config, _: String, _: DataFrame => Unit) =>
      df.writeStream.format("memory").queryName(outName).outputMode("append")

  /** Suites share one SparkSession and can run concurrently — only drain
    * queries THIS scenario started (tracked by runId), never a sibling
    * suite's streams. */
  private val before = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Boolean]()

  private def markExisting(): Unit =
    spark.streams.active.foreach(q => before.put(q.runId, true))

  private def drainAll(): Unit =
    spark.streams.active.filterNot(q => before.containsKey(q.runId))
      .foreach(q => try q.processAllAvailable() catch { case _: Exception => () })

  private def baseCfg(id: String, dedup: Boolean, c: Cluster): String = {
    val dd = if (dedup)
      ""","deduplication": {"enabled": true, "id_field": "id", "time_window": "1h"}"""
    else ""
    s"""{"pipeline_id": "$id",
       |  "source": {"kind": "kafka", "brokers": ["${brokers(c)}"],
       |    "topics": [{"name": "t", "consumer_group": "cg",
       |      "schema_fields": [{"name": "id", "type": "string"},
       |                        {"name": "name", "type": "string"}]$dd}]},
       |  "sink": {"url": "jdbc:ch://ch:8123", "table": "out",
       |    "table_mapping": [
       |      {"field_name": "id", "column_name": "id", "column_type": "String"},
       |      {"field_name": "name", "column_name": "name", "column_type": "String"}]}}
       |""".stripMargin
  }

  private def runPipeline(id: String, cfgJson: String,
                          outName: String, dlqRoot: Option[String] = None)
                         (assertions: PipelineService => Unit): Unit = {
    markExisting()
    val svc = new PipelineService(spark,
      dlqRoot = dlqRoot,
      checkpointRoot = Some(Files.createTempDirectory("graft_pf_ckpt").toString),
      sinkAttach = memorySink(outName))
    try {
      assert(svc.create(ReferenceConfig.fromJson(cfgJson)).isRight)
      assert(svc.startFromConfig(id).isRight,
        svc.startFromConfig(id).swap.getOrElse(""))
      drainAll()
      assertions(svc)
    } finally {
      try svc.terminate(id) catch { case _: Exception => () }
    }
  }

  private def collectOut(outName: String, cols: String*): Set[Seq[String]] =
    spark.table(outName).select(cols.head, cols.tail: _*).collect()
      .map(r => cols.indices.map(r.getString)).toSet

  test("pipeline.feature: Kafka to ClickHouse pipeline with deduplication only") {
    val c = new Cluster(); c.addBroker(); c.addPartition("t", 0)
    c.append("t", 0, Seq(
      "1" -> """{"id": "123", "name": "John Doe"}""",
      "2" -> """{"id": "456", "name": "Jane Smith"}""",
      "3" -> """{"id": "789", "name": "Bob Johnson"}""",
      "4" -> """{"id": "789", "name": "Ulm Petterson"}"""))
    try runPipeline("pf-dedup", baseCfg("pf-dedup", dedup = true, c), "pf_dedup_out") { _ =>
      assert(collectOut("pf_dedup_out", "id", "name") == Set(
        Seq("123", "John Doe"), Seq("456", "Jane Smith"), Seq("789", "Bob Johnson")))
    } finally c.stop()
  }

  test("pipeline.feature: Kafka to ClickHouse pipeline without deduplication or join") {
    val c = new Cluster(); c.addBroker(); c.addPartition("t", 0)
    c.append("t", 0, Seq(
      "1" -> """{"id": "123", "name": "Sir Paul"}""",
      "2" -> """{"id": "456", "name": "Judy Smith"}""",
      "3" -> """{"id": "789", "name": "Bob Bishop"}""",
      "4" -> """{"id": "789", "name": "Uliana Gromova"}"""))
    try runPipeline("pf-plain", baseCfg("pf-plain", dedup = false, c), "pf_plain_out") { _ =>
      assert(spark.table("pf_plain_out").count() == 4)
      assert(collectOut("pf_plain_out", "id", "name").size == 4)
    } finally c.stop()
  }

  test("pipeline.feature: Kafka topic with 3 partitions (cross-partition dedup)") {
    val c = new Cluster(); c.addBroker()
    (0 until 3).foreach(p => c.addPartition("t", p))
    c.append("t", 0, Seq("1" -> """{"id": "123", "name":"Max Wilson"}"""))
    c.append("t", 1, Seq("2" -> """{"id": "456", "name":"Pete Roller"}"""))
    c.append("t", 2, Seq("3" -> """{"id": "789", "name":"Fedor Smolov"}"""))
    c.append("t", 0, Seq("4" -> """{"id": "789", "name":"Fedor Smolov"}"""))
    try runPipeline("pf-parts", baseCfg("pf-parts", dedup = true, c), "pf_parts_out") { _ =>
      assert(collectOut("pf_parts_out", "id", "name") == Set(
        Seq("123", "Max Wilson"), Seq("456", "Pete Roller"), Seq("789", "Fedor Smolov")))
    } finally c.stop()
  }

  test("pipeline.feature: dotted field names (ECS-style flat keys)") {
    val c = new Cluster(); c.addBroker(); c.addPartition("t", 0)
    val cfg =
      s"""{"pipeline_id": "pf-dotted",
        |  "source": {"kind": "kafka", "brokers": ["${brokers(c)}"],
        |    "topics": [{"name": "t", "consumer_group": "cg",
        |      "schema_fields": [{"name": "id", "type": "string"},
        |                        {"name": "user.name", "type": "string"}]}]},
        |  "sink": {"url": "jdbc:ch://ch:8123", "table": "out",
        |    "table_mapping": [
        |      {"field_name": "id", "column_name": "id", "column_type": "String"},
        |      {"field_name": "user.name", "column_name": "user_name", "column_type": "String"}]}}
        |""".stripMargin
    c.append("t", 0, Seq(
      "1" -> """{"id": "1", "user.name": "Ada"}""",
      "2" -> """{"id": "2", "user.name": "Grace"}"""))
    try runPipeline("pf-dotted", cfg, "pf_dotted_out") { _ =>
      val rows = spark.table("pf_dotted_out")
        .selectExpr("id", "`user.name`").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set("1" -> "Ada", "2" -> "Grace"))
    } finally c.stop()
  }

  test("pipeline.feature: invalid event routes to the validation DLQ, valid ones flow") {
    val dlqRoot = Files.createTempDirectory("graft_pf_dlq").toString
    val c = new Cluster(); c.addBroker(); c.addPartition("t", 0)
    c.append("t", 0, Seq(
      "1" -> """{"id": "123", "name": "Alice"}""",
      "2" -> """not json at all""",
      "3" -> """{"id": "456", "name": "Bob"}"""))
    try runPipeline("pf-dlq", baseCfg("pf-dlq", dedup = false, c), "pf_dlq_out",
      dlqRoot = Some(dlqRoot)) { _ =>
      assert(collectOut("pf_dlq_out", "id", "name") == Set(
        Seq("123", "Alice"), Seq("456", "Bob")))
      // the validation-DLQ companion stream wrote the bad payload
      val deadline = System.currentTimeMillis() + 30000
      def dlqDf() = try Some(spark.read.parquet(s"$dlqRoot/pf-dlq"))
        catch { case _: Exception => None }
      while (dlqDf().forall(_.count() == 0) && System.currentTimeMillis() < deadline) {
        drainAll(); Thread.sleep(200)
      }
      val dlq = dlqDf().getOrElse(fail("validation DLQ never materialized"))
      assert(dlq.count() == 1)
      val row = dlq.collect().head
      assert(row.getAs[String]("component") == "ingestor")
      assert(row.getAs[String]("original_message").contains("not json at all"))
    } finally c.stop()
  }

  test("pipeline.feature: stop → new events (incl. bad) → resume rebuilds main AND validation DLQ") {
    val dlqRoot = Files.createTempDirectory("graft_pf_dlq2").toString
    val c = new Cluster(); c.addBroker(); c.addPartition("t", 0)
    c.append("t", 0, Seq("1" -> """{"id": "1", "name": "Ada"}"""))
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    markExisting()
    val svc = new PipelineService(spark,
      dlqRoot = Some(dlqRoot),
      checkpointRoot = Some(Files.createTempDirectory("graft_pf_ckpt2").toString),
      sinkAttach = (df, _, checkpoint, _) => df.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("id", "name").collect()
            .foreach(r => rows.add((r.getString(0), r.getString(1))))
        })
    try {
      assert(svc.create(ReferenceConfig.fromJson(baseCfg("pf-resume", dedup = false, c))).isRight)
      assert(svc.startFromConfig("pf-resume").isRight)
      drainAll()
      assert(rows.size == 1)
      assert(svc.stop("pf-resume").isRight)
      // events land while the pipeline is DOWN — one of them invalid
      c.append("t", 0, Seq(
        "2" -> """{"id": "2", "name": "Grace"}""",
        "3" -> """broken {"""))
      assert(svc.resume("pf-resume").isRight)
      drainAll()
      import scala.jdk.CollectionConverters._
      assert(rows.asScala.toSet == Set("1" -> "Ada", "2" -> "Grace"),
        "checkpointed resume delivers exactly the new valid row, no dups")
      val deadline = System.currentTimeMillis() + 30000
      def dlqCount() = try spark.read.parquet(s"$dlqRoot/pf-resume").count()
        catch { case _: Exception => 0L }
      while (dlqCount() == 0 && System.currentTimeMillis() < deadline) {
        drainAll(); Thread.sleep(200)
      }
      assert(dlqCount() == 1, "the rebuilt validation-DLQ stream caught the bad row")
    } finally {
      try svc.terminate("pf-resume") catch { case _: Exception => () }
      c.stop()
    }
  }

  test("pipeline.feature: Kafka to ClickHouse pipeline with join only (config start, raw frames)") {
    val c = new Cluster(); c.addBroker()
    c.addPartition("left_stream", 0); c.addPartition("right_stream", 0)
    val cfg =
      s"""{"pipeline_id": "pf-join",
        |  "source": {"kind": "kafka", "brokers": ["${brokers(c)}"],
        |    "topics": [
        |      {"name": "left_stream", "consumer_group": "cg",
        |        "schema_fields": [{"name": "id", "type": "string"},
        |                          {"name": "name", "type": "string"}]},
        |      {"name": "right_stream", "consumer_group": "cg",
        |        "schema_fields": [{"name": "id", "type": "string"},
        |                          {"name": "email", "type": "string"}]}]},
        |  "join": {"enabled": true, "sources": [
        |      {"source_id": "left_stream", "join_key": "id", "time_window": "1h",
        |       "orientation": "left", "time_field": "timestamp"},
        |      {"source_id": "right_stream", "join_key": "id", "time_window": "1h",
        |       "orientation": "right", "time_field": "timestamp"}],
        |    "projections": [
        |      {"source_id": "left_stream", "field": "id", "output_name": "id"},
        |      {"source_id": "left_stream", "field": "name", "output_name": "name"},
        |      {"source_id": "right_stream", "field": "email", "output_name": "email"}]},
        |  "sink": {"url": "jdbc:ch://ch:8123", "table": "out",
        |    "table_mapping": [
        |      {"field_name": "id", "column_name": "id", "column_type": "String"},
        |      {"field_name": "name", "column_name": "name", "column_type": "String"},
        |      {"field_name": "email", "column_name": "email", "column_type": "String"}]}}
        |""".stripMargin
    // lefts first (buffer), rights 1s later (drain) — inside the windows
    c.append("left_stream", 0, Seq(
      "1" -> """{"id": "1", "name": "Alice"}""",
      "2" -> """{"id": "2", "name": "Bob"}""",
      "3" -> """{"id": "3", "name": "Charlie"}"""), timestampMs = 1700000000000L)
    c.append("right_stream", 0, Seq(
      "a" -> """{"id": "2", "email": "bob@mailbox.com"}""",
      "b" -> """{"id": "1", "email": "alice@gmail.com"}"""), timestampMs = 1700000001000L)
    try runPipeline("pf-join", cfg, "pf_join_out") { _ =>
      drainAll() // join emits on the right-side batch
      assert(collectOut("pf_join_out", "id", "name", "email") == Set(
        Seq("2", "Bob", "bob@mailbox.com"),
        Seq("1", "Alice", "alice@gmail.com")))
    } finally c.stop()
  }
}
