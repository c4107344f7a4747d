package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import graft.sink.MiniClickHouseServer
import graft.sources.kafka.MiniKafkaBroker.Cluster

/** The reference's WHOLE topology on real sockets in one scenario
  * (glassflow-api/tests/features/pipeline/pipeline.feature "Kafka to
  * ClickHouse pipeline with deduplication"): raw JSON events on a live
  * Kafka broker fixture → read over TCP by the service's own Kafka reader →
  * schema validate (ingestor leg, corrupt rows → DLQ) → windowed dedup →
  * ClickHouse HTTP INSERT over TCP against [[MiniClickHouseServer]]
  * (which validates values against declared column types and answers
  * real CH error codes) — with a service kill + config-only restart from
  * the checkpoint in the middle, asserting exactly-once delivery and
  * per-row poison DLQ envelopes from BOTH legs. */
class PipelineWireSpec extends SparkSpec {

  private val before = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Boolean]()
  private def markExisting(): Unit =
    spark.streams.active.foreach(q => before.put(q.runId, true))
  private def drainNew(): Unit =
    spark.streams.active.filterNot(q => before.containsKey(q.runId))
      .foreach(q => try q.processAllAvailable() catch { case _: Exception => () })

  test("pipeline.feature: Kafka → dedup → ClickHouse over both wire legs, with kill/restart and poison DLQ") {
    val id = "kafka-to-clickhouse-pipeline-b00001"
    val kafka = new Cluster(); kafka.addBroker()
    val ch = new MiniClickHouseServer(); ch.start()
    try {
      kafka.addPartition("test_topic", 0)
      // name is FixedString(12) so a too-long value is rejected by the
      // SERVER (the sink-poison leg); every feature value fits
      ch.createTable("default", "events_test",
        Seq("id" -> "String", "name" -> "FixedString(12)"))

      // the feature's four events + an ingest-poison and a sink-poison row
      kafka.append("test_topic", 0, Seq(
        "1" -> """{"id": "123", "name": "John Doe"}""",
        "2" -> """{"id": "456", "name": "Jane Smith"}""",
        "3" -> """{"id": "789", "name": "Bob Johnson"}""",
        "4" -> """{"id": "789", "name": "Ulm Petterson"}""", // dup id → dropped
        "5" -> """this is not json {""",                      // ingestor DLQ
        "6" -> """{"id": "999", "name": "Maximillian Longbottom III"}""")) // server 131 → sink DLQ

      val cfgJson =
        s"""{"pipeline_id": "$id",
           |  "source": {"kind": "kafka", "brokers": ["${kafka.brokerList.head.address}"],
           |    "topics": [{"name": "test_topic", "consumer_group": "gf-cg-b00001",
           |      "schema_fields": [{"name": "id", "type": "string"},
           |                        {"name": "name", "type": "string"}],
           |      "deduplication": {"enabled": true, "id_field": "id",
           |                        "time_window": "1h"}}]},
           |  "sink": {"url": "${ch.endpoint}", "database": "default",
           |    "table": "events_test", "max_delay_seconds": 0,
           |    "table_mapping": [
           |      {"field_name": "id", "column_name": "id", "column_type": "String"},
           |      {"field_name": "name", "column_name": "name", "column_type": "String"}]}}
           |""".stripMargin

      val dlqRoot = Files.createTempDirectory("graft_pw_dlq").toString
      val ckptRoot = Files.createTempDirectory("graft_pw_ckpt").toString
      // no source reader injected: the service reads Kafka as ApiMain's does
      def newService() = new PipelineService(spark,
        dlqRoot = Some(dlqRoot), checkpointRoot = Some(ckptRoot))

      markExisting()
      val svc1 = newService()
      assert(svc1.create(ReferenceConfig.fromJson(cfgJson)).isRight)
      val started_svc1 = svc1.startFromConfig(id)
      assert(started_svc1.isRight, started_svc1.swap.getOrElse(""))
      drainNew()

      // feature assertion: dedup kept the FIRST row per id; the server
      // rejected the overflowing name; the corrupt frame never reached CH.
      // Sorted sequences, not sets: a replayed duplicate row must fail.
      def tableRows() = ch.rows("default", "events_test")
        .map(r => (r("id").toString, r("name").toString)).sorted
      assert(tableRows() == Seq(("123", "John Doe"), ("456", "Jane Smith"),
        ("789", "Bob Johnson")).sorted)

      // both legs dead-lettered their poison rows with their own evidence
      val dlq = spark.read.parquet(s"$dlqRoot/$id")
      val byComponent = dlq.collect()
        .map(r => r.getAs[String]("component") -> r.getAs[String]("error")).toSeq
      assert(byComponent.exists(_._1 == "ingestor"), s"ingest poison missing: $byComponent")
      assert(byComponent.exists { case (c, e) => c == "sink" && e.contains("Code: 131") },
        s"sink poison missing: $byComponent")
      assert(dlq.filter("component = 'sink'").count() == 1,
        "exactly the one poison row dead-letters from the sink")

      // ---- kill mid-stream, append more traffic, restart from config ----
      assert(svc1.stop(id).isRight)
      kafka.append("test_topic", 0, Seq(
        "7" -> """{"id": "123", "name": "John Doe"}""",  // dup across restart
        "8" -> """{"id": "007", "name": "James Bond"}"""))

      markExisting()
      val svc2 = newService() // a fresh driver: registry is empty, checkpoint is not
      assert(svc2.create(ReferenceConfig.fromJson(cfgJson)).isRight)
      val started_svc2 = svc2.startFromConfig(id)
      assert(started_svc2.isRight, started_svc2.swap.getOrElse(""))
      drainNew()
      try {
        // exactly-once: the restart resumed from committed offsets (rows
        // 1-6 never replayed into CH) and the restored dedup state dropped
        // the duplicate id 123 — only 007 is new
        assert(tableRows() == Seq(("123", "John Doe"), ("456", "Jane Smith"),
          ("789", "Bob Johnson"), ("007", "James Bond")).sorted)
        // the config's consumer group reached the broker: completed batches
        // commit their end offsets to it (best-effort, so wait for one)
        val committed = () => kafka.groupOffsets.getOrDefault(("gf-cg-b00001", "test_topic", 0), -1L)
        val deadline = System.currentTimeMillis() + 30000
        while (committed() <= 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(committed() > 0, s"no committed offset for gf-cg-b00001: ${kafka.groupOffsets}")
      } finally { svc2.terminate(id); () }
    } finally { kafka.stop(); ch.stop() }
  }

  test("a join config whose mapping names a column the table lacks fails at start, before any query starts") {
    val id = "join-typo-b00003"
    val kafka = new Cluster(); kafka.addBroker()
    val ch = new MiniClickHouseServer(); ch.start()
    try {
      kafka.addPartition("orders", 0)
      kafka.addPartition("users", 0)
      ch.createTable("default", "joined", Seq("id" -> "String", "email" -> "String"))
      val cfgJson =
        s"""{"pipeline_id": "$id",
           |  "source": {"kind": "kafka", "brokers": ["${kafka.brokerList.head.address}"],
           |    "topics": [
           |      {"name": "orders", "schema_fields": [{"name": "id", "type": "string"}]},
           |      {"name": "users", "schema_fields": [{"name": "id", "type": "string"},
           |                                          {"name": "email", "type": "string"}]}]},
           |  "join": {"enabled": true, "sources": [
           |      {"source_id": "orders", "join_key": "id", "time_window": "1h", "orientation": "left"},
           |      {"source_id": "users", "join_key": "id", "time_window": "1h", "orientation": "right"}],
           |    "projections": [
           |      {"source_id": "orders", "field": "id", "output_name": "id"},
           |      {"source_id": "users", "field": "email", "output_name": "email"}]},
           |  "sink": {"url": "${ch.endpoint}", "database": "default", "table": "joined",
           |    "table_mapping": [
           |      {"field_name": "id", "column_name": "id", "column_type": "String"},
           |      {"field_name": "email", "column_name": "emial", "column_type": "String"}]}}
           |""".stripMargin
      val svc = new PipelineService(spark,
        dlqRoot = Some(Files.createTempDirectory("graft_pw_jt_dlq").toString),
        checkpointRoot = Some(Files.createTempDirectory("graft_pw_jt_ckpt").toString))
      assert(svc.create(ReferenceConfig.fromJson(cfgJson)).isRight)
      val active = spark.streams.active.map(_.id).toSet
      val started = svc.startFromConfig(id)
      assert(started.swap.exists(_.startsWith("sink schema validation: ")), started)
      assert(started.swap.exists(_.contains("emial")), started)
      assert(spark.streams.active.map(_.id).toSet.subsetOf(active),
        "no query of the pipeline may start")
    } finally { kafka.stop(); ch.stop() }
  }

  test("pipeline over the NATIVE TCP sink leg: dedup + poison DLQ land identically") {
    // same feature topology, but the sink speaks ClickHouse's :9000 native
    // protocol (tcp:// scheme → streamed block INSERTs) against the TCP
    // fixture sharing the HTTP fixture's brain — the transport changes,
    // the validation outcomes must not
    val id = "kafka-to-clickhouse-tcp-b00002"
    val kafka = new Cluster(); kafka.addBroker()
    val ch = new MiniClickHouseServer(); ch.start()
    val tcp = new graft.sink.MiniClickHouseTcpServer(ch); tcp.start()
    try {
      kafka.addPartition("tcp_topic", 0)
      ch.createTable("default", "events_tcp",
        Seq("id" -> "String", "name" -> "FixedString(12)"))
      kafka.append("tcp_topic", 0, Seq(
        "1" -> """{"id": "123", "name": "John Doe"}""",
        "2" -> """{"id": "123", "name": "Jane Smith"}""", // dup id → dropped
        "3" -> """{"id": "456", "name": "Bob Johnson"}""",
        "4" -> """{"id": "999", "name": "Maximillian Longbottom III"}""")) // 131 → DLQ

      val cfgJson =
        s"""{"pipeline_id": "$id",
           |  "source": {"kind": "kafka", "brokers": ["${kafka.brokerList.head.address}"],
           |    "topics": [{"name": "tcp_topic", "consumer_group": "gf-cg-b00002",
           |      "schema_fields": [{"name": "id", "type": "string"},
           |                        {"name": "name", "type": "string"}],
           |      "deduplication": {"enabled": true, "id_field": "id",
           |                        "time_window": "1h"}}]},
           |  "sink": {"url": "${tcp.endpoint}", "database": "default",
           |    "table": "events_tcp", "max_delay_seconds": 0,
           |    "table_mapping": [
           |      {"field_name": "id", "column_name": "id", "column_type": "String"},
           |      {"field_name": "name", "column_name": "name", "column_type": "String"}]}}
           |""".stripMargin

      val dlqRoot = Files.createTempDirectory("graft_pw_tcp_dlq").toString
      val ckptRoot = Files.createTempDirectory("graft_pw_tcp_ckpt").toString
      val svc = new PipelineService(spark,
        dlqRoot = Some(dlqRoot), checkpointRoot = Some(ckptRoot))
      markExisting()
      assert(svc.create(ReferenceConfig.fromJson(cfgJson)).isRight)
      val started = svc.startFromConfig(id)
      assert(started.isRight, started.swap.getOrElse(""))
      drainNew()
      try {
        assert(ch.rows("default", "events_tcp")
          .map(r => (r("id").toString, r("name").toString)).sorted ==
          Seq(("123", "John Doe"), ("456", "Bob Johnson")))
        val dlq = spark.read.parquet(s"$dlqRoot/$id")
        val sinkDlq = dlq.filter("component = 'sink'").collect()
        assert(sinkDlq.length == 1)
        assert(sinkDlq.head.getAs[String]("error").contains("Code: 131"))
        // the INSERTs really crossed the native TCP wire
        assert(tcp.receivedQueries.size() > 0)
      } finally { svc.terminate(id); () }
    } finally { kafka.stop(); tcp.stop(); ch.stop() }
  }

  test("observability demo topology: OTLP receiver socket → flatten → ClickHouse HTTP") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val id = "otlp-logs-to-ch"
    val spool = Files.createTempDirectory("graft_pw_spool").toString
    val receiver = new graft.sources.OtlpReceiver(spark, spool)
    val port = receiver.start()
    val ch = new MiniClickHouseServer(); ch.start()
    try {
      // real OTLP/HTTP export over the socket — the collector's JSON shape
      val resp = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/logs"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"resourceLogs": [{
              |  "resource": {"attributes": [
              |    {"key": "service.name", "value": {"stringValue": "api"}}]},
              |  "scopeLogs": [{"scope": {"name": "applog"},
              |    "logRecords": [
              |      {"timeUnixNano": "1735725600000000000", "severityNumber": 9,
              |       "severityText": "INFO", "body": {"stringValue": "started"}},
              |      {"timeUnixNano": "1735725601000000000", "severityNumber": 17,
              |       "severityText": "ERROR", "body": {"stringValue": "boom"}}
              |    ]}]}]}""".stripMargin)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)

      ch.createTable("default", "otel_logs", Seq(
        "severity_text" -> "LowCardinality(String)",
        "body" -> "String", "severity_number" -> "Int64"))
      val cfgJson =
        s"""{"pipeline_id": "$id",
           |  "source": {"kind": "otlp", "topics": [{"name": "logs"}]},
           |  "sink": {"url": "${ch.endpoint}", "database": "default",
           |    "table": "otel_logs", "max_delay_seconds": 0,
           |    "table_mapping": [
           |      {"field_name": "severity_text", "column_name": "severity_text",
           |       "column_type": "LowCardinality(String)"},
           |      {"field_name": "body", "column_name": "body", "column_type": "String"},
           |      {"field_name": "severity_number", "column_name": "severity_number",
           |       "column_type": "Int64"}]}}
           |""".stripMargin
      markExisting()
      val svc = new PipelineService(spark,
        checkpointRoot = Some(Files.createTempDirectory("graft_pw_ckpt2").toString),
        otlpSpoolRoot = Some(spool))
      assert(svc.create(ReferenceConfig.fromJson(cfgJson)).isRight)
      val started_svc = svc.startFromConfig(id)
      assert(started_svc.isRight, started_svc.swap.getOrElse(""))
      drainNew()
      try {
        // a multiset: a row inserted twice must fail the check
        val rows = ch.rows("default", "otel_logs")
          .map(r => (r("severity_text"), r("body"), r("severity_number")))
          .groupMapReduce(identity)(_ => 1)(_ + _)
        assert(rows == Map(("INFO", "started", BigInt(9)) -> 1,
          ("ERROR", "boom", BigInt(17)) -> 1))
      } finally { svc.terminate(id); () }
    } finally { receiver.stop(); ch.stop() }
  }
}
