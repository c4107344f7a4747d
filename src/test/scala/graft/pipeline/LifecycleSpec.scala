package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Skew
import graft.sink.ClickHouseSink

class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def simpleCfg(id: String) = PipelineConfig(
    pipelineId = id,
    source = SourceConfig(topics = Seq(TopicConfig("t"))),
    transform = Some(TransformConfig(Seq(
      TransformRule("upper(k)", "k", "string")))))

  /** [[simpleCfg]] with the Kafka brokers and the sink URL a config start
    * needs (a jdbc: URL, so no DESCRIBE TABLE runs). */
  private def startableCfg(id: String) = simpleCfg(id).copy(
    source = SourceConfig(brokers = Some(Seq("broker:9092")), topics = Seq(TopicConfig("t"))),
    sink = Some(SinkConfig(table = "out", url = Some("jdbc:ch://ch:8123"))))

  /** A service whose live connectors are replaced through its seams:
    * every topic reads `source`, and the sink is a fresh memory sink per
    * start, after `onAttach` sees the sink config. The config → connector
    * translation is the real one. */
  private def seamedService(source: => DataFrame, ckpt: String,
                            dlqRoot: Option[String] = None,
                            onAttach: ClickHouseSink.Config => Unit = _ => ()) =
    new PipelineService(spark, dlqRoot = dlqRoot, checkpointRoot = Some(ckpt),
      sourceReader = (_, _) => source,
      sinkAttach = (df, cc, _, _) => {
        onAttach(cc)
        df.writeStream.format("memory").queryName(s"lc_${System.nanoTime()}")
          .outputMode("append")
      })

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def activeIds: Set[java.util.UUID] = spark.streams.active.map(_.id).toSet

  test("pipeline lifecycle: create → start → stop → resume → terminate → delete") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val svc = seamedService(mem.toDF.toDF("k"), tempDir("graft_lc_ckpt"))
    assert(svc.create(startableCfg("p1")).isRight)
    assert(svc.create(startableCfg("p1")).isLeft) // duplicate id
    assert(svc.get("p1").map(_._2).contains(PipelineService.Created))

    assert(svc.startFromConfig("p1").isRight)
    assert(svc.get("p1").map(_._2).contains(PipelineService.Running))
    assert(svc.startFromConfig("p1").isLeft) // double-start rejected
    assert(svc.resume("p1").isLeft) // so is a resume of a running pipeline
    assert(svc.delete("p1").isLeft) // can't delete running

    assert(svc.stop("p1").isRight)
    assert(svc.get("p1").map(_._2).contains(PipelineService.Stopped))
    assert(svc.resume("p1").isRight)
    assert(svc.get("p1").map(_._2).contains(PipelineService.Running))
    assert(svc.terminate("p1").isRight)
    assert(svc.get("p1").map(_._2).contains(PipelineService.Terminated))
    assert(svc.delete("p1").isRight)
    assert(svc.get("p1").isEmpty)
  }

  test("edit while stopped, then resume: the resumed pipeline runs the edited config") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val tables = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val svc = seamedService(mem.toDF.toDF("k"), tempDir("graft_lc_edit"),
      onAttach = cc => tables.add(cc.table))
    val cfg = startableCfg("ed1")
    assert(svc.create(cfg).isRight)
    assert(svc.startFromConfig("ed1").isRight)
    assert(svc.stop("ed1").isRight)
    assert(svc.edit("ed1", cfg.copy(sink = cfg.sink.map(_.copy(table = "out_v2")))).isRight)
    try {
      assert(svc.resume("ed1").isRight)
      assert(tables.asScala.toSeq == Seq("out", "out_v2"))
    } finally { svc.terminate("ed1"); () }
  }

  /** Raw Kafka frames (`value` bytes, record `timestamp`) for a topic that
    * declares `fields`, so a config start parses them and sends corrupt
    * ones to the validation DLQ. */
  private def rawTopic(name: String, fields: String*) =
    TopicConfig(name, schemaFields = fields.map(FieldDef(_, "string")))

  private def rawFrame(mem: MemoryStream[(String, java.sql.Timestamp)]): DataFrame =
    mem.toDF.select(col("_1").cast("binary").as("value"), col("_2").as("timestamp"))

  test("a validation-DLQ query that fails to start stops the sink query and records Failed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val ckpt = tempDir("graft_lc_dlqfail")
    val svc = seamedService(rawFrame(mem), ckpt, dlqRoot = Some(tempDir("graft_lc_dlqfail_dlq")))
    val cfg = startableCfg("df1").copy(
      source = SourceConfig(brokers = Some(Seq("broker:9092")), topics = Seq(rawTopic("t", "k"))))
    assert(svc.create(cfg).isRight)
    // a regular file where the side query's checkpoint directory belongs
    Files.write(java.nio.file.Paths.get(ckpt, "df1_validation_dlq"), "x".getBytes)
    val before = activeIds
    val started = svc.startFromConfig("df1")
    assert(started.isLeft, "the side query cannot start over a file")
    assert(svc.get("df1").map(_._2).contains(PipelineService.Failed))
    assert(activeIds.subsetOf(before), "no query of the pipeline may be left running")
  }

  test("two concurrent starts of one pipeline: one runs, the other is told it already runs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val prefix = s"lc_race_${System.nanoTime()}"
    // a slow source read holds each start between its status check and its
    // registry update, where two unserialized starts would both get through
    val svc = new PipelineService(spark, checkpointRoot = Some(tempDir("graft_lc_race")),
      sourceReader = (_, _) => { Thread.sleep(300); mem.toDF.toDF("k") },
      sinkAttach = (df, _, _, _) => df.writeStream.format("memory")
        .queryName(s"${prefix}_${System.nanoTime()}").outputMode("append"))
    assert(svc.create(startableCfg("rc1")).isRight)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, Unit]]()
    val threads = Seq.fill(2)(new Thread(() => {
      gate.await(); outcomes.add(svc.startFromConfig("rc1")); ()
    }))
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(60000))
    try {
      val got = outcomes.asScala.toSeq
      assert(got.count(_.isRight) == 1, got)
      assert(got.count(_.swap.exists(_ == "pipeline rc1 already running")) == 1, got)
      assert(svc.get("rc1").map(_._2).contains(PipelineService.Running))
    } finally { svc.stop("rc1"); () }
    assert(!spark.streams.active.exists(q => Option(q.name).exists(_.startsWith(prefix))),
      "stop reaches every query the two starts made")
  }

  test("health reads inactive, with the failure, when only the validation-DLQ query dies") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val dlqRoot = tempDir("graft_lc_health_dlq")
    val svc = seamedService(rawFrame(mem), tempDir("graft_lc_health"), dlqRoot = Some(dlqRoot))
    val cfg = startableCfg("hl1").copy(
      source = SourceConfig(brokers = Some(Seq("broker:9092")), topics = Seq(rawTopic("t", "k"))))
    assert(svc.create(cfg).isRight)
    // a regular file where the pipeline's DLQ directory belongs: the side
    // query dies on its first dead letter; the memory sink never writes there
    Files.write(java.nio.file.Paths.get(dlqRoot, "hl1"), "x".getBytes)
    val before = activeIds
    assert(svc.startFromConfig("hl1").isRight)
    try {
      def health() = svc.health("hl1").getOrElse(fail("no health for hl1"))
      assert(health()("query_active") == true)
      assert(!health().contains("query_error"))
      val t0 = new java.sql.Timestamp(1735725600000L)
      mem.addData(("""{"k": "a"}""", t0), ("not json {", t0))
      val queries = spark.streams.active.filterNot(q => before(q.id)).toSeq
      assert(queries.size == 2)
      queries.foreach(q => try q.processAllAvailable() catch { case _: Exception => () })
      val deadline = System.currentTimeMillis() + 30000
      while (health()("query_active") == true && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val h = health()
      assert(h("query_active") == false, h)
      assert(h.get("query_error").exists(_.toString.nonEmpty), h)
      assert(h("status") == "Running")
      assert(queries.count(_.isActive) == 1, "the sink query still runs")
    } finally { svc.terminate("hl1"); () }
  }

  test("join config start: two queries, sink first, both rebuilt on stop → resume") {
    implicit val sqlCtx = spark.sqlContext
    val frames = Map(
      "left_t" -> MemoryStream[(String, java.sql.Timestamp)],
      "right_t" -> MemoryStream[(String, java.sql.Timestamp)])
    val outName = s"lc_join_${System.nanoTime()}"
    val dlqRoot = tempDir("graft_lc_join_dlq")
    val svc = new PipelineService(spark, dlqRoot = Some(dlqRoot),
      checkpointRoot = Some(tempDir("graft_lc_join_ckpt")),
      sourceReader = (_, kc) => rawFrame(frames(kc.topic)),
      sinkAttach = (df, _, _, _) =>
        df.writeStream.format("memory").queryName(outName).outputMode("append"))
    val cfg = PipelineConfig(
      pipelineId = "jn1",
      source = SourceConfig(brokers = Some(Seq("broker:9092")),
        topics = Seq(rawTopic("left_t", "id", "name"), rawTopic("right_t", "id", "email"))),
      join = Some(JoinConfig(sources = Seq(
        JoinSource("left_t", "id", "1h", "left", Some("timestamp")),
        JoinSource("right_t", "id", "1h", "right", Some("timestamp"))),
        projections = Seq(JoinProjection("left_t", "name", "name"),
          JoinProjection("right_t", "email", "email")))),
      sink = Some(SinkConfig(table = "out", url = Some("jdbc:ch://ch:8123"))))
    // listener events arrive in start order
    val startedNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit =
        startedNames.add(Option(e.name).getOrElse(""))
      def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def t(s: Int) = new java.sql.Timestamp(1735725600000L + s * 1000L)
    def pipelineQueries(before: Set[java.util.UUID]) =
      spark.streams.active.filterNot(q => before(q.id)).toSeq
    def awaitStarted(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (startedNames.size < n && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(startedNames.size == n, startedNames)
    }
    spark.streams.addListener(listener)
    try {
      assert(svc.create(cfg).isRight)
      val before = activeIds
      val started = svc.startFromConfig("jn1")
      assert(started.isRight, started.swap.getOrElse(""))
      awaitStarted(2)
      assert(startedNames.asScala.toSeq.map(_ == outName) == Seq(true, false), "sink query first")
      val queries = pipelineQueries(before)
      assert(queries.size == 2)
      frames("left_t").addData(("""{"id": "1", "name": "Ada"}""", t(0)), ("not json {", t(0)))
      queries.foreach(_.processAllAvailable())
      frames("right_t").addData(("""{"id": "1", "email": "ada@x"}""", t(1)))
      queries.foreach(_.processAllAvailable())
      assert(spark.table(outName).collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("Ada", "ada@x")))
      assert(spark.read.parquet(s"$dlqRoot/jn1").select("component").collect()
        .map(_.getString(0)).toSeq == Seq("ingestor"))

      assert(svc.stop("jn1").isRight)
      assert(pipelineQueries(before).isEmpty)
      assert(svc.resume("jn1").isRight)
      awaitStarted(4)
      assert(startedNames.asScala.toSeq.drop(2).map(_ == outName) == Seq(true, false),
        "the resumed sink query starts first too")
      assert(pipelineQueries(before).size == 2)
    } finally {
      spark.streams.removeListener(listener)
      try svc.terminate("jn1") catch { case _: Exception => () }
    }
  }

  test("config-driven start over HTTP: create → start → stop → resume, MemoryStream seam") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val outName = s"cfgstart_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    // the seams replace only the live connectors; the config→connector
    // translation (brokers/topic/sink mapping extraction) is the real path
    val svc = new PipelineService(spark,
      dlqRoot = Some(Files.createTempDirectory("graft_dlq_cs").toString),
      checkpointRoot = Some(ckpt),
      sourceReader = (_, kc) => {
        assert(kc.brokers == Seq("broker:9092") && kc.topic == "t"
          && kc.consumerGroup == "cg1")
        mem.toDF.toDF("k", "status")
      },
      sinkAttach = (df, cc, checkpoint, _) => {
        assert(cc.url == "jdbc:ch://ch:8123" && cc.table == "out"
          && cc.mappings.map(_.column) == Seq("k_up"))
        assert(checkpoint.startsWith(ckpt))
        df.writeStream.format("memory").queryName(outName).outputMode("append")
      })
    val server = new graft.api.ApiServer(spark, svc)
    val port = server.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String = ""): (Int, String) = {
      val resp = client.send(java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def outCount: Long =
      try spark.table(outName).count() catch { case _: Exception => 0L }
    def awaitCount(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (outCount < n && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(outCount >= n, s"expected $n rows in $outName, got $outCount")
    }
    try {
      val cfgJson =
        """{"pipeline_id": "cs1",
          |  "source": {"kind": "kafka", "brokers": ["broker:9092"],
          |    "topics": [{"name": "t", "consumer_group": "cg1"}]},
          |  "filter": {"expression": "status != 'failed'"},
          |  "transform": {"rules": [
          |    {"expression": "upper(k)", "output_name": "k_up", "output_type": "string"}]},
          |  "sink": {"url": "jdbc:ch://ch:8123", "table": "out",
          |    "table_mapping": [{"field_name": "k_up", "column_name": "k_up",
          |                       "column_type": "String"}]}}""".stripMargin
      assert(post("/api/v1/pipeline", cfgJson)._1 == 201)
      assert(post("/api/v1/pipeline/cs1/start")._1 == 200)
      assert(svc.get("cs1").map(_._2).contains(PipelineService.Running))
      mem.addData(("a", "ok"), ("b", "failed"))
      awaitCount(1) // the failed row is filtered; 'A' flows through
      assert(post("/api/v1/pipeline/cs1/start")._1 == 400) // double start
      assert(post("/api/v1/pipeline/cs1/stop")._1 == 200)
      assert(post("/api/v1/pipeline/cs1/resume")._1 == 200)
      mem.addData(("c", "ok"))
      awaitCount(2)
      val vals = spark.table(outName).collect().map(_.getString(0)).toSet
      assert(vals.subsetOf(Set("A", "C")) && vals.contains("C"))
      assert(post("/api/v1/pipeline/cs1/terminate")._1 == 200)
    } finally {
      try svc.terminate("cs1") catch { case _: Exception => () }
      server.stop()
    }
  }

  test("otlp-source pipeline: receiver spool → config start → filtered sink, end to end") {
    val spool = Files.createTempDirectory("graft_otlp_spool").toString
    val receiver = new graft.sources.OtlpReceiver(spark, spool)
    val rPort = receiver.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def postLogs(body: String, sev: String, ts: Long): Unit = {
      val payload =
        s"""{"resourceLogs": [{"resource": {"attributes": []},
           |  "scopeLogs": [{"scope": {"name": "app"},
           |    "logRecords": [{"timeUnixNano": "$ts",
           |      "severityText": "$sev", "body": {"stringValue": "$body"}}]}]}]}""".stripMargin
      val resp = client.send(java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"http://127.0.0.1:$rPort/v1/logs"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(payload)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200, resp.body())
    }
    val outName = s"otlpcs_${System.nanoTime()}"
    val svc = new PipelineService(spark,
      checkpointRoot = Some(Files.createTempDirectory("graft_otlp_ck").toString),
      otlpSpoolRoot = Some(spool),
      sinkAttach = (df, _, _, _) =>
        df.writeStream.format("memory").queryName(outName).outputMode("append"))
    try {
      postLogs("first event", "INFO", 1735725600000000000L)
      val cfg = PipelineConfig(
        pipelineId = "otlp1",
        source = SourceConfig(kind = Some("otlp"),
          topics = Seq(TopicConfig("logs"))),
        filter = Some(FilterConfig("severity_text != 'DEBUG'")),
        transform = Some(TransformConfig(Seq(
          TransformRule("upper(body)", "body_u", "string")))),
        sink = Some(SinkConfig(table = "out", url = Some("jdbc:ch://x"),
          tableMapping = Seq(SinkMapping(None, "body_u", "body_u", "String")))))
      assert(svc.create(cfg).isRight)
      assert(svc.startFromConfig("otlp1").isRight)
      def outRows: Set[String] =
        try spark.table(outName).collect().map(_.getString(0)).toSet
        catch { case _: Exception => Set.empty }
      def await(n: Int): Unit = {
        val deadline = System.currentTimeMillis() + 30000
        while (outRows.size < n && System.currentTimeMillis() < deadline) Thread.sleep(150)
        assert(outRows.size >= n, s"expected $n rows, got $outRows")
      }
      await(1)
      // live receiver traffic keeps flowing into the running pipeline;
      // DEBUG records are filtered out by the configured expression
      postLogs("second event", "WARN", 1735725601000000000L)
      postLogs("noise", "DEBUG", 1735725602000000000L)
      postLogs("third event", "ERROR", 1735725603000000000L)
      await(3)
      assert(outRows == Set("FIRST EVENT", "SECOND EVENT", "THIRD EVENT"))
    } finally {
      try svc.terminate("otlp1") catch { case _: Exception => () }
      receiver.stop()
    }
  }

  test("startFromConfig reports exactly what the config is missing") {
    val svc = new PipelineService(spark)
    def mk(id: String, cfg: PipelineConfig): String = {
      svc.create(cfg); svc.startFromConfig(id).swap.getOrElse("")
    }
    val base = simpleCfg("sc1")
    assert(mk("sc1", base).contains("sink: not configured"))
    val withSink = simpleCfg("sc2").copy(sink = Some(SinkConfig(table = "t")))
    assert(mk("sc2", withSink).contains("sink: url required"))
    val urlOk = simpleCfg("sc3").copy(sink = Some(SinkConfig(table = "t", url = Some("jdbc:ch://x"))))
    assert(mk("sc3", urlOk).contains("brokers required"))
    val otlpNoSpool = urlOk.copy(pipelineId = "sc4",
      source = SourceConfig(kind = Some("otlp"), topics = Seq(TopicConfig("logs"))))
    assert(mk("sc4", otlpNoSpool).contains("otlp spool root not configured"))
    val badKind = urlOk.copy(pipelineId = "sc5",
      source = SourceConfig(kind = Some("pulsar"), topics = Seq(TopicConfig("t"))))
    assert(mk("sc5", badKind).contains("got pulsar"))
    assert(svc.startFromConfig("ghost").swap.exists(_.contains("no such pipeline")))
  }

  test("create rejects invalid configs") {
    val svc = new PipelineService(spark)
    val bad = simpleCfg("p2").copy(join = Some(JoinConfig(enabled = true,
      sources = Seq(JoinSource("a", "k", "1h", "left")))))
    assert(svc.create(bad).swap.exists(_.contains("exactly 2 sources")))
  }

  test("dlq state / consume-ack / purge, confined to the configured root") {
    val root = Files.createTempDirectory("graft_dlq").toString
    val svc = new PipelineService(spark, dlqRoot = Some(root))
    val failed = Seq(("r1", 1L), ("r2", 2L)).toDF("id", "n")
    graft.sink.Dlq.writeParquet(s"$root/dlq")(
      graft.sink.Dlq.envelope("sink", "Code: 53")(failed))
    assert(svc.dlqState("dlq") == Right((2L, 0L)))
    assert(svc.dlqState(s"$root/dlq") == Right((2L, 0L))) // absolute, inside root
    // at-least-once: un-acked messages re-deliver on the next consume
    val first = svc.dlqConsume("dlq", 1).toOption.get
    assert(first.length == 1 && svc.dlqConsume("dlq", 1).toOption.get == first)
    assert(svc.dlqAck("dlq", 1) == Right(1L))
    val second = svc.dlqConsume("dlq", 10).toOption.get
    assert(second.length == 1 && second != first)
    assert(svc.dlqState("dlq") == Right((2L, 1L)))
    // traversal and out-of-root paths are rejected, not deleted
    assert(svc.dlqPurge("../outside").isLeft)
    assert(svc.dlqPurge("/tmp").isLeft)
    assert(svc.dlqPurge("dlq/../../escaped").isLeft)
    assert(svc.dlqPurge("dlq").isRight)
    assert(svc.dlqState("dlq") == Right((0L, 0L)))
    // no root configured → every DLQ op refused
    assert(new PipelineService(spark).dlqState("dlq").isLeft)
  }

  test("legacy seq-less dlq is stamped once on first read, then pages by seq") {
    val root = Files.createTempDirectory("graft_dlq_legacy").toString
    val svc = new PipelineService(spark, dlqRoot = Some(root))
    // an externally-written queue: envelope columns, no seq
    Seq("a", "b", "c", "d", "e")
      .map(m => ("src", "err", s"""{"m":"$m"}"""))
      .toDF("component", "error", "original_message")
      .write.parquet(s"$root/dlq")
    // pre-existing ack cursor keeps its row-offset meaning through migration
    assert(svc.dlqConsume("dlq", 2).toOption.get.map(_.contains("\"a\"")) == Seq(true, false))
    assert(svc.dlqAck("dlq", 2) == Right(2L))
    // the first read stamped the queue: seq now contiguous, side file advanced
    val seqs = spark.read.parquet(s"$root/dlq").select("seq")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == (1L to 5L), "one-time stamp must assign contiguous seq")
    assert(graft.sink.Dlq.readSeq(s"$root/dlq") == 6L)
    val page2 = svc.dlqConsume("dlq", 2).toOption.get
    assert(page2.exists(_.contains("\"c\"")) && page2.exists(_.contains("\"d\"")))
    // later appends continue the sequence where the migration left it
    graft.sink.Dlq.writeParquet(s"$root/dlq")(
      graft.sink.Dlq.envelope("sink", "late")(Seq(("z", 1L)).toDF("id", "n")))
    val after = spark.read.parquet(s"$root/dlq").select("seq")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after == (1L to 6L), "post-migration append must extend, not restart, seq")
  }

  test("dlq paging: monotonic seq across multi-file appends, no re-sort, symlink escape blocked") {
    val root = Files.createTempDirectory("graft_dlq_seq").toString
    val svc = new PipelineService(spark, dlqRoot = Some(root))
    // three separate appends → three parquet file sets in one DLQ dir
    (1 to 3).foreach { b =>
      graft.sink.Dlq.writeParquet(s"$root/dlq")(
        graft.sink.Dlq.envelope("sink", s"Code: 53 b$b")(
          Seq((s"a$b", b.toLong), (s"b$b", b.toLong)).toDF("id", "n")))
    }
    // seq is contiguous 1..6 across appends
    val seqs = spark.read.parquet(s"$root/dlq").select("seq")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs == (1L to 6L))
    // pages walk the queue in append order without re-delivering acked rows
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    var got = svc.dlqConsume("dlq", 2).toOption.get
    while (got.nonEmpty) {
      all ++= got
      svc.dlqAck("dlq", got.length)
      got = svc.dlqConsume("dlq", 2).toOption.get
    }
    assert(all.size == 6 && all.distinct.size == 6)
    // append order preserved across batches, column order within a batch
    val ids = all.map(m => """"id":"(\w+)"""".r.findFirstMatchIn(m).get.group(1))
    assert(ids == Seq("a1", "b1", "a2", "b2", "a3", "b3"))
    assert(svc.dlqState("dlq") == Right((6L, 6L)))
    // a symlink inside the root pointing outside must not resolve
    val outside = Files.createTempDirectory("graft_dlq_outside")
    Files.write(outside.resolve("keep.txt"), "x".getBytes)
    val link = java.nio.file.Paths.get(root, "sneaky")
    try {
      Files.createSymbolicLink(link, outside)
      assert(svc.dlqPurge("sneaky").isLeft, "symlinked purge must be refused")
      assert(Files.exists(outside.resolve("keep.txt")), "purge must not follow the link")
    } finally {
      Files.deleteIfExists(link)
      Files.deleteIfExists(outside.resolve("keep.txt"))
      Files.deleteIfExists(outside)
    }
  }

  test("an empty dlq write appends nothing and leaves the seq file unchanged") {
    val root = Files.createTempDirectory("graft_dlq_empty").toString
    val empty = graft.sink.Dlq.envelope("ingestor", "bad")(
      Seq(("r", 1L)).toDF("id", "n").filter(col("n") < 0))
    graft.sink.Dlq.writeParquet(s"$root/fresh")(empty)
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/fresh")))
    graft.sink.Dlq.writeParquet(s"$root/dlq")(
      graft.sink.Dlq.envelope("ingestor", "bad")(Seq(("r", 1L)).toDF("id", "n")))
    def snapshot(): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(s"$root/dlq")).iterator().asScala.toSeq
        .map(f => (f.getFileName.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis))
        .sorted
    }
    val before = snapshot()
    val seqFile = java.nio.file.Paths.get(s"$root/dlq/.graft_dlq_seq")
    val seqBefore = new String(Files.readAllBytes(seqFile), "UTF-8")
    Thread.sleep(50) // a rewrite would show in the modification times
    graft.sink.Dlq.writeParquet(s"$root/dlq")(empty)
    assert(snapshot() == before)
    assert(new String(Files.readAllBytes(seqFile), "UTF-8") == seqBefore && seqBefore == "2")
  }

  test("durable store: registry survives a service restart") {
    val dir = Files.createTempDirectory("graft_store").toString
    val svc1 = new PipelineService(spark, storeDir = Some(dir))
    assert(svc1.create(simpleCfg("dp1")).isRight)
    assert(svc1.create(simpleCfg("dp2")).isRight)
    assert(svc1.patchMeta("dp1", Some("Renamed"), None).isRight)
    assert(svc1.delete("dp2").isRight)
    // ids become store filenames: traversal-shaped ids are rejected up front
    assert(svc1.create(simpleCfg("../evil")).isLeft)

    // patched resources persist in a sidecar and survive the restart too
    assert(svc1.patchResources("dp1",
      Map("sink" -> PipelineService.Resources(replicas = 4))).isRight)

    // a fresh service over the same store sees dp1 (renamed), not dp2
    val svc2 = new PipelineService(spark, storeDir = Some(dir))
    assert(svc2.list().map(_._1) == Seq("dp1"))
    assert(svc2.get("dp1").exists(_._1.name.contains("Renamed")))
    assert(svc2.get("dp1").map(_._2).contains(PipelineService.Stopped))
    assert(svc2.resources("dp1").exists(_("sink").replicas == 4))
  }

  test("encrypted store: secrets never on disk in plaintext; wrong key loads nothing") {
    val dir = Files.createTempDirectory("graft_enc_store").toString
    val key = Array.tabulate[Byte](32)(_.toByte)
    val cfg = simpleCfg("ep1").copy(sink = Some(SinkConfig(
      table = "out", password = Some("hunter2-secret"))))
    val svc1 = new PipelineService(spark, storeDir = Some(dir), secretsKey = Some(key))
    assert(svc1.create(cfg).isRight)
    val onDisk = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "ep1.json"))
    assert(!new String(onDisk, "ISO-8859-1").contains("hunter2-secret"))

    // same key round-trips; wrong key skips the entry instead of crashing
    val svc2 = new PipelineService(spark, storeDir = Some(dir), secretsKey = Some(key))
    assert(svc2.get("ep1").exists(_._1.sink.exists(_.password.contains("hunter2-secret"))))
    val wrongKey = Array.fill[Byte](32)(9)
    assert(new PipelineService(spark, storeDir = Some(dir),
      secretsKey = Some(wrongKey)).list().isEmpty)

    // aead primitives: tamper detection + key-size check
    val s = new Secrets(key)
    val ct = s.encrypt("abc".getBytes("UTF-8"))
    ct(ct.length - 1) = (ct(ct.length - 1) ^ 1).toByte
    assertThrows[Exception](s.decrypt(ct))
    assertThrows[IllegalArgumentException](new Secrets(Array.fill[Byte](16)(0)))
  }

  test("streaming dedup state survives a restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // the memory sink refuses checkpoint recovery; a file sink supports it
    val base = Files.createTempDirectory("graft_ckpt").toString
    val (checkpoint, outDir) = (s"$base/ckpt", s"$base/out")
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val dedup = graft.operators.DedupOp.windowedStreaming(Seq("k"), "ts", "1 hour")(
      mem.toDF.toDF("k", "ts"))
    def startQuery() = dedup.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", checkpoint)
      .outputMode("append").start()

    val q1 = startQuery()
    mem.addData(("a", t("2025-01-01 10:00:00")), ("b", t("2025-01-01 10:00:00")))
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() == 2)

    // restart from the same checkpoint: the duplicate "a" within the window
    // must be dropped by RESTORED state, not re-emitted
    val q2 = startQuery()
    mem.addData(("a", t("2025-01-01 10:20:00")), ("c", t("2025-01-01 10:20:00")))
    q2.processAllAvailable()
    q2.stop()
    val all = spark.read.parquet(outDir).collect().map(_.getString(0)).toSeq
    assert(all.count(_ == "a") == 1 && all.contains("c"),
      s"restored state should drop duplicate 'a', got $all")
  }

  test("salted aggregation equals direct aggregation") {
    val df = graft.Tables.events(spark, sf)
    val direct = df.groupBy("user_id")
      .agg(sum("value").as("sum_v"), count(lit(1)).as("cnt"))
    val salted = Skew.saltedSumCount(df, Seq("user_id"), "value")
    // compare after rounding sums (double addition order differs by design)
    val d = direct.withColumn("sum_v", round(col("sum_v"), 4)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val s = salted.withColumn("sum_v", round(col("sum_v"), 4)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(s == d)
  }
}
