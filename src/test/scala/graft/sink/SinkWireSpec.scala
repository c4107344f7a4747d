package graft.sink

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec
import graft.sink.SinkMapper.ColumnMapping

/** Replays the reference's sink BDD feature
  * (glassflow-api/tests/features/sink/sink.feature, 13 scenarios) over
  * REAL sockets: the production [[ClickHouseHttp]] leg POSTs
  * `INSERT INTO … FORMAT JSONEachRow` to [[MiniClickHouseServer]], which
  * PARSES the insert, validates every value against the declared
  * ClickHouse column type (DateTime, UUID, Float32, LowCardinality,
  * Nullable, Map(LowCardinality(String),String), FixedString), and
  * answers with genuine ClickHouse error codes — so the whole
  * mapper → HTTP → classify → retry/DLQ chain runs exactly as it would
  * against a real server on :8123. Table schemas, event tables and
  * expected row counts are the feature file's own. */
class SinkWireSpec extends SparkSpec {
  import spark.implicits._

  private def withServer(user: String = "default", pass: String = "")
                        (f: MiniClickHouseServer => Unit): Unit = {
    val ch = new MiniClickHouseServer(user, pass)
    ch.start()
    try f(ch) finally ch.stop()
  }

  private def cfg(ch: MiniClickHouseServer, table: String,
                  mappings: Seq[ColumnMapping],
                  user: String = "default", pass: String = "",
                  maxRetries: Int = 10): ClickHouseSink.Config =
    ClickHouseSink.Config(url = ch.endpoint, database = "default",
      table = table, username = user, password = pass,
      mappings = mappings, maxRetries = maxRetries)

  /** Spark's micro-batch retry loop (same as SinkFeatureSpec). */
  private def engineLoop(handler: (DataFrame, Long) => Unit, batch: DataFrame,
                         batchId: Long = 7L, maxLoops: Int = 50): Int = {
    var attempts = 0
    var done = false
    while (!done && attempts < maxLoops) {
      attempts += 1
      try { handler(batch, batchId); done = true }
      catch { case _: Throwable => () }
    }
    assert(done, s"handler still rethrowing after $maxLoops attempts")
    attempts
  }

  private def dlqQueue() = new ConcurrentLinkedQueue[Row]

  // The feature's five-column events table + mapping (scenario 1).
  private val eventsSchema = Seq(
    "event_id" -> "String", "name" -> "String", "email" -> "String",
    "timestamp" -> "DateTime", "action" -> "String")
  private val eventsMapping = Seq(
    ColumnMapping("event_id", "event_id", "UUID"),
    ColumnMapping("name", "name", "String"),
    ColumnMapping("email", "email", "String"),
    ColumnMapping("timestamp", "timestamp", "DateTime"),
    ColumnMapping("action", "action", "String"))

  private def featureEvents(n: Int): DataFrame = Seq(
    ("0a21ad20-8a70-4be2-8d29-533eb963d554", "Jessica Jones",
      "msmith@example.com", "2025-02-21T07:45:48.823069", "login"),
    ("72dea57a-ee36-4909-8b36-5be24b19804c", "Jessica Jones",
      "msmith@example.com", "2025-02-28T02:39:51.886367", "logout"))
    .take(n).toDF("event_id", "name", "email", "timestamp", "action")

  test("sink.feature: Successfully import events from NATS to Clickhouse") {
    withServer() { ch =>
      ch.createTable("default", "events_test", eventsSchema)
      val dlq = dlqQueue()
      val handler = ClickHouseSink.foreachBatchHandler(
        cfg(ch, "events_test", eventsMapping), d => d.collect().foreach(dlq.add))
      handler(featureEvents(2), 0L)
      assert(ch.rowCount("default", "events_test") == 2)
      assert(dlq.isEmpty)
      val r = ch.rows("default", "events_test")
        .find(_("event_id") == "0a21ad20-8a70-4be2-8d29-533eb963d554").get
      assert(r("name") == "Jessica Jones")
      assert(r("action") == "login")
      // DateTime column: stored as epoch micros, truncated to seconds
      val expect = java.time.Instant.parse("2025-02-21T07:45:48Z")
        .getEpochSecond * 1000000L
      assert(r("timestamp") == expect)
    }
  }

  test("sink.feature: Events synced after batch fulfillment (stop, restart, no dupes)") {
    // the feature publishes 1 event, stops the sink, restarts, publishes 1
    // more, and expects 2 rows — a checkpointed stop/resume with no
    // duplicates, driven here through a real streaming attach
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    withServer() { ch =>
      ch.createTable("default", "events_test", eventsSchema)
      val c = cfg(ch, "events_test", eventsMapping)
        .copy(maxDelaySeconds = 0, idempotencyColumn = Some("event_id"))
      val ckpt = java.nio.file.Files.createTempDirectory("ch_wire_ckpt").toString
      val mem = MemoryStream[(String, String, String, String, String)]
      def start() = ClickHouseSink.attach(
        mem.toDF.toDF("event_id", "name", "email", "timestamp", "action"),
        c, ckpt, _ => ()).start()
      mem.addData(("0a21ad20-8a70-4be2-8d29-533eb963d554", "Jessica Jones",
        "msmith@example.com", "2025-02-21T07:45:48.823069", "login"))
      val q1 = start()
      q1.processAllAvailable(); q1.stop()
      assert(ch.rowCount("default", "events_test") == 1)
      mem.addData(("72dea57a-ee36-4909-8b36-5be24b19804c", "Jessica Jones",
        "msmith@example.com", "2025-02-28T02:39:51.886367", "logout"))
      val q2 = start()
      q2.processAllAvailable(); q2.stop()
      assert(ch.rowCount("default", "events_test") == 2,
        "restart from checkpoint must deliver the new event exactly once")
    }
  }

  test("sink.feature: Exports events after JOIN component") {
    withServer() { ch =>
      ch.createTable("default", "events_test",
        Seq("id" -> "String", "name" -> "String", "email" -> "String"))
      // the joined frame the JOIN component emits: left.id/left.name with
      // right.email, dotted source fields resolved by the mapper
      val joined = Seq(("1", "Alice", "alice@mailbox.com"),
        ("2", "Bob", "bob@gmail.com"))
        .toDF("left_stream.id", "left_stream.name", "right_stream.email")
      val m = Seq(
        ColumnMapping("left_stream.id", "id", "String"),
        ColumnMapping("left_stream.name", "name", "String"),
        ColumnMapping("right_stream.email", "email", "String"))
      val dlq = dlqQueue()
      ClickHouseSink.foreachBatchHandler(cfg(ch, "events_test", m),
        d => d.collect().foreach(dlq.add))(joined, 0L)
      assert(ch.rowCount("default", "events_test") == 2)
      assert(ch.rows("default", "events_test").map(_("email")).toSet ==
        Set("alice@mailbox.com", "bob@gmail.com"))
      assert(dlq.isEmpty)
    }
  }

  private val idNameMapping = Seq(
    ColumnMapping("id", "id", "String"),
    ColumnMapping("name", "name", "String"))

  test("sink.feature: import by max delay time — partial batch flushes on the trigger") {
    // 4 events against max_batch_size 100: nothing fills the batch, the
    // time trigger (maxDelaySeconds → ProcessingTime) flushes anyway
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    withServer() { ch =>
      ch.createTable("default", "events_test",
        Seq("id" -> "String", "name" -> "String"))
      val c = cfg(ch, "events_test", idNameMapping)
        .copy(maxBatchSize = 100, maxDelaySeconds = 0)
      val ckpt = java.nio.file.Files.createTempDirectory("ch_wire_delay").toString
      val mem = MemoryStream[(String, String)]
      mem.addData(("1", "Alice"), ("2", "Bob"), ("3", "Charlie"), ("4", "David"))
      val q = ClickHouseSink.attach(mem.toDF.toDF("id", "name"), c, ckpt, _ => ()).start()
      q.processAllAvailable(); q.stop()
      assert(ch.rowCount("default", "events_test") == 4)
    }
  }

  test("sink.feature: import by max delay time #2 — 9 events over batch size 5") {
    withServer() { ch =>
      ch.createTable("default", "events_test",
        Seq("id" -> "String", "name" -> "String"))
      // max_batch_size 5 → the 9 rows go over the wire in 5+4 POSTs
      val c = cfg(ch, "events_test", idNameMapping).copy(maxBatchSize = 5)
      val names = Seq("Alice", "Bob", "Charlie", "David", "Eve", "Frank",
        "Grace", "Heidi", "Ivan")
      val df = names.zipWithIndex.map { case (n, i) => ((i + 1).toString, n) }
        .toDF("id", "name").coalesce(1)
      ClickHouseSink.foreachBatchHandler(cfg(ch, "events_test", idNameMapping)
        .copy(maxBatchSize = 5), _ => ())(df, 0L)
      assert(ch.rowCount("default", "events_test") == 9)
      assert(ch.receivedQueries.size == 2, "9 rows at max_batch_size 5 → two slabs")
    }
  }

  test("sink.feature: Start and graceful sink stop for already existing events in stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    withServer() { ch =>
      ch.createTable("default", "events_test",
        Seq("id" -> "String", "name" -> "String"))
      val ckpt = java.nio.file.Files.createTempDirectory("ch_wire_pre").toString
      val mem = MemoryStream[(String, String)]
      // events exist in the stream BEFORE the sink starts
      mem.addData(("1", "Alice"), ("2", "Bob"))
      val q = ClickHouseSink.attach(mem.toDF.toDF("id", "name"),
        cfg(ch, "events_test", idNameMapping).copy(maxDelaySeconds = 0),
        ckpt, _ => ()).start()
      q.processAllAvailable()
      q.stop() // graceful: all in-flight batches committed
      assert(ch.rowCount("default", "events_test") == 2)
    }
  }

  test("sink.feature: Import events with UUID") {
    withServer() { ch =>
      ch.createTable("default", "events_test",
        Seq("id" -> "UUID", "name" -> "String"))
      val m = Seq(ColumnMapping("id", "id", "UUID"),
        ColumnMapping("name", "name", "String"))
      val df = Seq(("0a21ad20-8a70-4be2-8d29-533eb963d554", "Alice"),
        ("72dea57a-ee36-4909-8b36-5be24b19804c", "Bob")).toDF("id", "name")
      ClickHouseSink.foreachBatchHandler(cfg(ch, "events_test", m), _ => ())(df, 0L)
      assert(ch.rowCount("default", "events_test") == 2)
      assert(ch.rows("default", "events_test").map(_("id")).toSet ==
        Set("0a21ad20-8a70-4be2-8d29-533eb963d554",
          "72dea57a-ee36-4909-8b36-5be24b19804c"))
    }
  }

  test("sink.feature: Import events with float32") {
    withServer() { ch =>
      ch.createTable("default", "events_test",
        Seq("id" -> "Int32", "amount" -> "Float32"))
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("amount", "amount", "Float32"))
      val df = Seq((150, 3284.85), (2067868, 2.5)).toDF("id", "amount")
      ClickHouseSink.foreachBatchHandler(cfg(ch, "events_test", m), _ => ())(df, 0L)
      assert(ch.rowCount("default", "events_test") == 2)
      val amounts = ch.rows("default", "events_test")
        .map(_("amount").asInstanceOf[Double]).sorted
      assert(math.abs(amounts.head - 2.5) < 1e-3 &&
        math.abs(amounts(1) - 3284.85) < 1e-1)
    }
  }

  test("sink.feature: Import events with low cardinality string") {
    withServer() { ch =>
      ch.createTable("default", "events_test",
        Seq("id" -> "Int32", "type" -> "LowCardinality(String)"))
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("type", "type", "LowCardinality(String)"))
      val df = Seq((150, "red"), (2067868, "blue")).toDF("id", "type")
      ClickHouseSink.foreachBatchHandler(cfg(ch, "events_test", m), _ => ())(df, 0L)
      assert(ch.rowCount("default", "events_test") == 2)
      assert(ch.rows("default", "events_test").map(_("type")).toSet ==
        Set("red", "blue"))
    }
  }

  test("sink.feature: Import events with Nullable string — absent field stores NULL") {
    withServer() { ch =>
      ch.createTable("default", "events_test",
        Seq("id" -> "Int32", "type" -> "Nullable(String)"))
      // schema version 2 carries ONLY id; the `type` mapping's source field
      // is absent from the batch → the mapper inserts NULL, the server
      // stores NULL in the Nullable column
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("type", "type", "Nullable(String)"))
      val df = Seq(Tuple1(150), Tuple1(2067868)).toDF("id")
      ClickHouseSink.foreachBatchHandler(cfg(ch, "events_test", m), _ => ())(df, 0L)
      assert(ch.rowCount("default", "events_test") == 2)
      assert(ch.rows("default", "events_test").forall(_("type") == null))
    }
  }

  test("sink.feature: Import events with Map columns including empty and null maps") {
    withServer() { ch =>
      ch.createTable("default", "events_test", Seq(
        "id" -> "String",
        "resource" -> "Map(LowCardinality(String), String)",
        "scope_attributes" -> "Map(String, String)",
        "attributes" -> "Map(String, String)"))
      val m = Seq(
        ColumnMapping("id", "id", "String"),
        ColumnMapping("resource", "resource", "Map(LowCardinality(String), String)"),
        ColumnMapping("scope_attributes", "scope_attributes", "Map(String, String)"),
        ColumnMapping("attributes", "attributes", "Map(String, String)"))
      // the feature's 5 events: populated / empty {} / null / missing / mixed
      val df = Seq(
        ("1", Map("service.name" -> "telemetrygen"), Map("scope.key" -> "scope.value"), Map.empty[String, String]),
        ("2", Map.empty[String, String], Map.empty[String, String], Map.empty[String, String]),
        ("3", null, null, null),
        ("4", null, null, null), // <missing> — indistinguishable from null in a frame
        ("5", Map("service.name" -> "myservice"), null, null))
        .toDF("id", "resource", "scope_attributes", "attributes")
      val dlq = dlqQueue()
      ClickHouseSink.foreachBatchHandler(cfg(ch, "events_test", m),
        d => d.collect().foreach(dlq.add))(df, 0L)
      assert(ch.rowCount("default", "events_test") == 5)
      assert(dlq.isEmpty)
      val byId = ch.rows("default", "events_test").map(r => r("id") -> r).toMap
      assert(byId("1")("resource") == Map("service.name" -> "telemetrygen"))
      // Maps cannot be NULL in ClickHouse: null/missing store the default {}
      assert(byId("3")("resource") == Map.empty[String, Any])
      assert(byId("5")("scope_attributes") == Map.empty[String, Any])
    }
  }

  test("sink.feature: Import events with fixed string — overflow dead-letters ONLY the poison row") {
    withServer() { ch =>
      // table column is FixedString(5); the mapping (per the feature)
      // declares plain String, so only the SERVER can reject the overflow
      ch.createTable("default", "events_test",
        Seq("id" -> "Int32", "type" -> "FixedString(5)"))
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("type", "type", "String"))
      val df = Seq((150, "red"), (160, "blue"), (170, "black"), (180, "yellow"))
        .toDF("id", "type")
      val dlq = dlqQueue()
      ClickHouseSink.foreachBatchHandler(cfg(ch, "events_test", m),
        d => d.collect().foreach(dlq.add))(df, 0L)
      // the feature's own assertion: 4 published, 3 land ("yellow" > 5 bytes)
      assert(ch.rowCount("default", "events_test") == 3)
      assert(ch.rows("default", "events_test").map(_("type")).toSet ==
        Set("red", "blue", "black"))
      assert(dlq.size == 1, "exactly the poison row dead-letters")
      val env = dlq.asScala.head
      assert(env.getAs[String]("component") == "sink")
      assert(env.getAs[String]("error").contains("Code: 131"))
      assert(env.getAs[String]("original_message").contains("yellow"))
    }
  }

  // ------------------------------------------------------- wire-leg contracts

  test("wrong password: server 516 via X-ClickHouse-Exception-Code → whole batch DLQs, zero retries") {
    withServer(pass = "secret") { ch =>
      ch.createTable("default", "t", Seq("id" -> "String"))
      val dlq = dlqQueue()
      val handler = ClickHouseSink.foreachBatchHandler(
        cfg(ch, "t", Seq(ColumnMapping("id", "id", "String")), pass = "WRONG"),
        d => d.collect().foreach(dlq.add))
      handler(Seq("a", "b").toDF("id"), 0L) // must not throw
      assert(ch.rowCount("default", "t") == 0)
      assert(dlq.size == 2)
      assert(dlq.asScala.head.getAs[String]("error").contains("Code: 516"))
      assert(ch.insertAttempts == 0, "auth rejects before the insert executes")
    }
  }

  test("retryable server fault (241 MEMORY_LIMIT) retries the batch and lands exactly once") {
    withServer() { ch =>
      ch.createTable("default", "t", Seq("id" -> "String"))
      ch.failNext(241, "Memory limit (total) exceeded", times = 2)
      val dlq = dlqQueue()
      val handler = ClickHouseSink.foreachBatchHandler(
        cfg(ch, "t", Seq(ColumnMapping("id", "id", "String"))),
        d => d.collect().foreach(dlq.add))
      val attempts = engineLoop(handler, Seq("a", "b", "c").toDF("id").coalesce(1))
      assert(attempts == 3, "two genuine 241 responses retried, third landed")
      assert(ch.rowCount("default", "t") == 3)
      assert(dlq.isEmpty)
    }
  }

  test("durable retry budget: genuine 241s exhaust MaxDeliver across a handler REBUILD") {
    withServer() { ch =>
      ch.createTable("default", "t", Seq("id" -> "String"))
      // more consecutive genuine server faults than the budget allows
      ch.failNext(241, "Memory limit (total) exceeded", times = 20)
      val dlq = dlqQueue()
      val budgetDir = java.nio.file.Files.createTempDirectory("ch_budget").toString
      def mkHandler() = ClickHouseSink.foreachBatchHandler(
        cfg(ch, "t", Seq(ColumnMapping("id", "id", "String")), maxRetries = 10),
        d => d.collect().foreach(dlq.add), budgetDir = Some(budgetDir))
      val batch = Seq("a", "b").toDF("id").coalesce(1)
      // 4 attempts under the first handler instance…
      val h1 = mkHandler()
      (1 to 4).foreach(_ => intercept[Throwable](h1(batch, 7L)))
      // …then the driver restarts (new handler, same checkpoint budget dir):
      // the count must RESUME at 5, not reset — NATS tracks delivery count
      // server-side, so the reference's budget survives restarts too
      val h2 = mkHandler()
      var loops = 0
      var done = false
      while (!done && loops < 20) {
        loops += 1
        try { h2(batch, 7L); done = true } catch { case _: Throwable => () }
      }
      assert(done)
      assert(loops == 6, s"6 remaining attempts after the rebuild, used $loops")
      assert(dlq.size == 2, "budget exhausted → the batch dead-letters, stream continues")
      assert(dlq.asScala.head.getAs[String]("error").contains("retry budget exhausted"))
      assert(ch.rowCount("default", "t") == 0)
    }
  }

  test("unknown table: server 60 → whole batch DLQs (no row-wise attempt)") {
    withServer() { ch =>
      val dlq = dlqQueue()
      val handler = ClickHouseSink.foreachBatchHandler(
        cfg(ch, "missing_table", Seq(ColumnMapping("id", "id", "String"))),
        d => d.collect().foreach(dlq.add))
      handler(Seq("a").toDF("id"), 0L)
      assert(dlq.size == 1)
      assert(dlq.asScala.head.getAs[String]("error").contains("Code: 60"))
      assert(ch.insertAttempts == 1,
        "a table-level permanent fault must not trigger per-row isolation")
    }
  }

  test("per-insert settings (async_insert) pass through as URL params") {
    withServer() { ch =>
      ch.createTable("default", "t", Seq("id" -> "String"))
      val c = cfg(ch, "t", Seq(ColumnMapping("id", "id", "String")))
        .copy(httpSettings = Map("async_insert" -> "1", "wait_for_async_insert" -> "0"))
      ClickHouseSink.writeBatch(c)(Seq("a").toDF("id"))
      val (query, params) = ch.receivedQueries.asScala.head
      assert(query.startsWith("INSERT INTO `default`.`t`"))
      assert(params.get("async_insert").contains("1"))
      assert(params.get("wait_for_async_insert").contains("0"))
      assert(params.get("date_time_input_format").contains("best_effort"))
    }
  }

  test("versioned transform: each schema version INSERTs its own column set over the wire") {
    withServer() { ch =>
      ch.createTable("default", "t",
        Seq("id" -> "String", "v2_extra" -> "Nullable(String)"))
      val v1 = Seq(ColumnMapping("id", "id", "String"))
      val v2 = Seq(ColumnMapping("id", "id", "String"),
        ColumnMapping("extra", "v2_extra", "Nullable(String)"))
      val c = cfg(ch, "t", v1).copy(versionColumn = Some("ver"),
        versionMappings = Map("1" -> v1, "2" -> v2))
      val df = Seq(("a", "1", "x"), ("b", "2", "y")).toDF("id", "ver", "extra")
      ClickHouseSink.writeBatch(c)(df)
      assert(ch.rowCount("default", "t") == 2)
      val queries = ch.receivedQueries.asScala.map(_._1).toSeq
      assert(queries.exists(q => q.contains("(`id`)")), "v1 insert: id only")
      assert(queries.exists(q => q.contains("`v2_extra`")), "v2 insert: extra column")
      val byId = ch.rows("default", "t").map(r => r("id") -> r).toMap
      assert(byId("b")("v2_extra") == "y")
    }
  }

  test("Native: full type matrix round-trips over the HTTP wire byte-for-byte") {
    withServer() { ch =>
      ch.createTable("default", "rb", Seq(
        "s" -> "String", "fs" -> "FixedString(6)", "b" -> "Bool",
        "i8" -> "Int8", "i16" -> "Int16", "i32" -> "Int32", "i64" -> "Int64",
        "u8" -> "UInt8", "u16" -> "UInt16", "u32" -> "UInt32", "u64" -> "UInt64",
        "f32" -> "Float32", "f64" -> "Float64",
        "e" -> "Enum8('red' = 1, 'blue' = 2)", "uid" -> "UUID",
        "dt" -> "DateTime", "dt64" -> "DateTime64(3)",
        "lc" -> "LowCardinality(String)", "ns" -> "Nullable(String)",
        "m" -> "Map(String, String)", "arr" -> "Array(Int32)"))
      val m = Seq(
        ColumnMapping("s", "s", "String"), ColumnMapping("fs", "fs", "FixedString(6)"),
        ColumnMapping("b", "b", "Bool"),
        ColumnMapping("i8", "i8", "Int8"), ColumnMapping("i16", "i16", "Int16"),
        ColumnMapping("i32", "i32", "Int32"), ColumnMapping("i64", "i64", "Int64"),
        ColumnMapping("u8", "u8", "UInt8"), ColumnMapping("u16", "u16", "UInt16"),
        ColumnMapping("u32", "u32", "UInt32"), ColumnMapping("u64", "u64", "UInt64"),
        ColumnMapping("f32", "f32", "Float32"), ColumnMapping("f64", "f64", "Float64"),
        ColumnMapping("e", "e", "Enum8('red' = 1, 'blue' = 2)"),
        ColumnMapping("uid", "uid", "UUID"),
        ColumnMapping("dt", "dt", "DateTime"), ColumnMapping("dt64", "dt64", "DateTime64(3)"),
        ColumnMapping("lc", "lc", "LowCardinality(String)"),
        ColumnMapping("ns", "ns", "Nullable(String)"),
        ColumnMapping("m", "m", "Map(String, String)"),
        ColumnMapping("arr", "arr", "Array(Int32)"))
      // typed numeric inputs: the mapper's ConvertValue matrix is strict
      // (string → Int is NOT an allowed pairing, matching the reference)
      val df = Seq((
        "héllo", "abc", true,
        Map("k1" -> "v1", "k2" -> "v2"), Seq(1, 2, 3),
        "blue", "0A21AD20-8A70-4BE2-8D29-533EB963D554",
        "2025-02-21T07:45:48", "2025-02-21T07:45:48.123",
        "low", null.asInstanceOf[String]))
        .toDF("s", "fs", "b", "m", "arr", "e", "uid", "dt", "dt64", "lc", "ns")
        .selectExpr("s", "fs", "b",
          "cast(7 as tinyint) as i8", "cast(-300 as smallint) as i16",
          "cast(100000 as int) as i32", "cast(9000000000 as bigint) as i64",
          "cast(200 as smallint) as u8", "cast(60000 as int) as u16",
          "cast(4000000000 as bigint) as u32",
          "cast('18446744073709551615' as decimal(20,0)) as u64",
          "cast(1.5 as float) as f32", "cast(2.25 as double) as f64",
          "e", "uid", "dt", "dt64", "lc", "ns", "m", "arr")
      val c = cfg(ch, "rb", m).copy(httpFormat = "Native")
      ClickHouseSink.writeBatch(c)(df)
      assert(ch.rowCount("default", "rb") == 1)
      val r = ch.rows("default", "rb").head
      assert(r("s") == "héllo")
      assert(r("fs") == "abc") // NUL padding stripped by the decoder
      assert(r("b") == true)
      assert(r("i8") == BigInt(7) && r("i16") == BigInt(-300) &&
        r("i32") == BigInt(100000) && r("i64") == BigInt(9000000000L))
      assert(r("u8") == BigInt(200) && r("u16") == BigInt(60000) &&
        r("u32") == BigInt(4000000000L))
      assert(r("u64") == BigInt("18446744073709551615"), "full u64 range survives")
      assert(r("f32") == 1.5 && r("f64") == 2.25)
      assert(r("e") == "blue")
      assert(r("uid") == "0a21ad20-8a70-4be2-8d29-533eb963d554")
      val dtExpect = java.time.Instant.parse("2025-02-21T07:45:48Z")
        .getEpochSecond * 1000000L
      assert(r("dt") == dtExpect)
      assert(r("dt64") == dtExpect + 123000L)
      assert(r("lc") == "low")
      assert(r("ns") == null)
      assert(r("m") == Map("k1" -> "v1", "k2" -> "v2"))
      assert(r("arr") == Vector(BigInt(1), BigInt(2), BigInt(3)))
      // the INSERT really went over the wire as Native
      assert(ch.receivedQueries.asScala.exists(_._1.endsWith("FORMAT Native")))
    }
  }

  test("gzip'd INSERT bodies decompress server-side; poison isolation still works compressed") {
    withServer() { ch =>
      ch.createTable("default", "gz",
        Seq("id" -> "Int32", "type" -> "FixedString(5)"))
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("type", "type", "String"))
      val df = Seq((1, "red"), (2, "waytoolong"), (3, "blue")).toDF("id", "type")
      val dlq = dlqQueue()
      ClickHouseSink.foreachBatchHandler(
        cfg(ch, "gz", m).copy(httpCompress = true),
        d => d.collect().foreach(dlq.add))(df.coalesce(1), 0L)
      assert(ch.rowCount("default", "gz") == 2)
      assert(dlq.size == 1)
      assert(dlq.asScala.head.getAs[String]("error").contains("Code: 131"))
    }
  }

  test("DESCRIBE TABLE introspection + mapping validation against the live schema") {
    withServer() { ch =>
      ch.createTable("default", "events_test", Seq(
        "id" -> "String", "type" -> "FixedString(5)",
        "ts" -> "DateTime64(3, 'UTC')", "tags" -> "Map(String, String)"))
      val base = ClickHouseHttp.Config(ch.endpoint, "default", "events_test")
      // the introspection query the reference UI issues — declared
      // spellings echo back verbatim
      assert(ClickHouseHttp.describeTable(base) == Seq(
        "id" -> "String", "type" -> "FixedString(5)",
        "ts" -> "DateTime64(3, 'UTC')", "tags" -> "Map(String, String)"))
      // a valid mapping: String may feed FixedString (width is
      // server-enforced); wrappers are encoding detail
      val good = cfg(ch, "events_test", Seq(
        ColumnMapping("id", "id", "String"),
        ColumnMapping("type", "type", "String"),
        ColumnMapping("ts", "ts", "DateTime64(3, 'UTC')"),
        ColumnMapping("tags", "tags", "Map(String, String)")))
      assert(ClickHouseSink.validateAgainstTable(good).isRight)
      // a typo'd destination column is caught BEFORE any batch runs
      val typo = cfg(ch, "events_test",
        Seq(ColumnMapping("id", "idd", "String")))
      assert(ClickHouseSink.validateAgainstTable(typo).swap.exists(_.contains("idd")))
      // a structural type clash is reported
      val clash = cfg(ch, "events_test",
        Seq(ColumnMapping("ts", "ts", "Int64")))
      assert(ClickHouseSink.validateAgainstTable(clash).swap
        .exists(e => e.contains("Int64") && e.contains("DateTime64")))
      // describing a missing table raises the real CH code
      val e = intercept[ClickHouseHttp.CHServerException] {
        ClickHouseHttp.describeTable(base.copy(table = "nope"))
      }
      assert(e.code == 60)
    }
  }

  test("dotted DESTINATION column names stay verbatim on the wire (both formats)") {
    withServer() { ch =>
      // OTel-style flat keys with dots are legal ClickHouse column names
      ch.createTable("default", "dotted",
        Seq("attributes.region" -> "String", "k8s.pod.name" -> "String"))
      val m = Seq(
        ColumnMapping("region", "attributes.region", "String"),
        ColumnMapping("pod", "k8s.pod.name", "String"))
      val df = Seq(("us-east-1", "api-1"), ("eu-west-1", "api-2"))
        .toDF("region", "pod")
      for (fmt <- Seq("JSONEachRow", "Native")) {
        ClickHouseSink.writeBatch(cfg(ch, "dotted", m)
          .copy(httpFormat = fmt))(df)
      }
      assert(ch.rowCount("default", "dotted") == 4)
      assert(ch.rows("default", "dotted").map(_("attributes.region")).toSet ==
        Set("us-east-1", "eu-west-1"))
      assert(ch.receivedQueries.asScala.forall(_._1.contains("`attributes.region`")))
      // the isolation path resolves dotted names too
      val failed = ClickHouseHttp.writeIsolating(
        ClickHouseSink.httpConfig(cfg(ch, "dotted", m)))(
        graft.sink.SinkMapper(m)(df)).collect().toSeq
      assert(failed.isEmpty)
      assert(ch.rowCount("default", "dotted") == 6)
    }
  }

  test("ping: SELECT 1 succeeds with good credentials, raises 516 on bad") {
    withServer(pass = "s3cret") { ch =>
      ClickHouseHttp.ping(ClickHouseHttp.Config(ch.endpoint, "default", "t",
        password = "s3cret"))
      val e = intercept[ClickHouseHttp.CHServerException] {
        ClickHouseHttp.ping(ClickHouseHttp.Config(ch.endpoint, "default", "t",
          password = "nope"))
      }
      assert(e.code == 516)
      assert(ErrorClassifier.classify(e) == ErrorClassifier.Permanent)
    }
  }

  test("Decimal(p,s) and Date/Date32 round-trip identically over both wire formats") {
    withServer() { ch =>
      val schema = Seq("id" -> "Int32", "price" -> "Decimal(10, 2)",
        "d" -> "Date", "d32" -> "Date32")
      ch.createTable("default", "dec_json", schema)
      ch.createTable("default", "dec_nat", schema)
      val m = schema.map { case (n, t) => ColumnMapping(n, n, t) }
      val df = Seq(
        (1, BigDecimal("19.99"), java.sql.Date.valueOf("2025-06-01"),
          java.sql.Date.valueOf("1955-11-05")),
        (2, BigDecimal("-12345678.01"), java.sql.Date.valueOf("1970-01-01"),
          java.sql.Date.valueOf("2299-12-31")),
        (3, BigDecimal("0.5"), java.sql.Date.valueOf("2149-06-06"),
          java.sql.Date.valueOf("1900-01-01"))
      ).toDF("id", "price", "d", "d32")
      ClickHouseSink.writeBatch(cfg(ch, "dec_json", m))(df)
      ClickHouseSink.writeBatch(cfg(ch, "dec_nat", m)
        .copy(httpFormat = "Native"))(df)
      def byId(t: String) =
        ch.rows("default", t).map(r => r("id") -> r).toMap
      val (j, r) = (byId("dec_json"), byId("dec_nat"))
      assert(j.size == 3 && r.size == 3)
      // the two wire encodings share no code; canonical equality across
      // them is the same cross-format oracle RowBinaryPropertySpec uses
      for (id <- j.keys) assert(j(id) == r(id), s"row $id differs: ${j(id)} vs ${r(id)}")
      assert(j(BigInt(1))("price") == BigDecimal("19.99"))
      assert(j(BigInt(2))("d32") ==
        java.time.LocalDate.of(2299, 12, 31).toEpochDay)
      assert(j(BigInt(3))("d") ==
        java.time.LocalDate.of(2149, 6, 6).toEpochDay)
    }
  }

  test("Decimal overflow and out-of-range Date are row-data faults: isolated per row, not per batch") {
    withServer() { ch =>
      // JSONEachRow leg: the SERVER rejects (407 / 321), row-wise replay
      // dead-letters just the poison rows
      ch.createTable("default", "dec_of", Seq("id" -> "Int32", "v" -> "Decimal(6, 2)"))
      val hc = ClickHouseHttp.Config(ch.endpoint, "default", "dec_of")
      val df = Seq((1, "12.34"), (2, "123456789.99"), (3, "-0.01"))
        .toDF("id", "v").coalesce(1)
      val failed = ClickHouseHttp.writeIsolating(hc)(df).collect().toSeq
      assert(ch.rowCount("default", "dec_of") == 2)
      assert(failed.size == 1 && failed.head._2.contains("Code: 407"))

      // Native leg: the ENCODER rejects client-side in the same Code: NNN
      // shape, so poison isolation works without a server round-trip
      ch.createTable("default", "date_of", Seq("id" -> "Int32", "d" -> "Date"))
      val hcNat = ClickHouseHttp.Config(ch.endpoint, "default", "date_of",
        format = "Native",
        columnTypes = Map("id" -> "Int32", "d" -> "Date"))
      val df2 = Seq((1, java.sql.Date.valueOf("2025-01-01")),
        (2, java.sql.Date.valueOf("1955-11-05")), // pre-1970: u16 Date can't hold it
        (3, java.sql.Date.valueOf("1970-01-01"))).toDF("id", "d").coalesce(1)
      val failed2 = ClickHouseHttp.writeIsolating(hcNat)(df2).collect().toSeq
      assert(ch.rowCount("default", "date_of") == 2)
      assert(failed2.size == 1 && failed2.head._2.contains("Code: 321"))
      assert(failed2.head._1.contains("1955-11-05"))
    }
  }

  test("enum type with escaped quote / '=' in a label survives DESCRIBE, validation and both wire formats") {
    withServer() { ch =>
      val enumType = """Enum8('won\'t' = 1, 'a=b' = 2)"""
      ch.createTable("default", "sev", Seq("id" -> "Int32", "e" -> enumType))
      val base = ClickHouseHttp.Config(ch.endpoint, "default", "sev")
      // a regex-based DESCRIBE parse splits on the escaped quote and drops
      // the column; the JSON parse must return it verbatim
      assert(ClickHouseHttp.describeTable(base) ==
        Seq("id" -> "Int32", "e" -> enumType))
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("e", "e", enumType))
      assert(ClickHouseSink.validateAgainstTable(cfg(ch, "sev", m)).isRight,
        "escaped-quote enum column must validate against the live schema")
      val df = Seq((1, "won't"), (2, "a=b")).toDF("id", "e")
      for (fmt <- Seq("JSONEachRow", "Native"))
        ClickHouseSink.writeBatch(cfg(ch, "sev", m).copy(httpFormat = fmt))(df)
      assert(ch.rowCount("default", "sev") == 4)
      assert(ch.rows("default", "sev").map(_("e")).toSet == Set("won't", "a=b"))
    }
  }

  test("Map(String, Int64) column: stringified map values re-encode as typed Int64 on the Native wire") {
    withServer() { ch =>
      val schema = Seq("id" -> "Int32", "counts" -> "Map(String, Int64)")
      ch.createTable("default", "m_json", schema)
      ch.createTable("default", "m_nat", schema)
      val m = schema.map { case (n, t) => ColumnMapping(n, n, t) }
      // the mapper coerces map VALUES to strings (reference types.go:238-276);
      // the Native encoder must re-parse them to the declared wire type —
      // encoding the string raw would corrupt the column framing
      val df = Seq((1, Map("a" -> 42L, "b" -> -7L)), (2, Map("z" -> 0L)))
        .toDF("id", "counts")
      ClickHouseSink.writeBatch(cfg(ch, "m_json", m))(df)
      ClickHouseSink.writeBatch(cfg(ch, "m_nat", m).copy(httpFormat = "Native"))(df)
      val j = ch.rows("default", "m_json").map(r => r("id") -> r("counts")).toMap
      val r = ch.rows("default", "m_nat").map(r => r("id") -> r("counts")).toMap
      assert(j == r, s"formats disagree: $j vs $r")
      assert(j(BigInt(1)) == Map("a" -> BigInt(42), "b" -> BigInt(-7)))
    }
  }

  test("insert_deduplicate=1: an identical retried block lands exactly once; off, it duplicates") {
    withServer() { ch =>
      ch.createTable("default", "idem", Seq("id" -> "Int32"))
      val df = Seq(1, 2, 3).toDF("id").coalesce(1)
      val m = Seq(ColumnMapping("id", "id", "Int32"))
      // setting ON: the same micro-batch re-POSTed (Spark's at-least-once
      // replay after a handler crash) is content-hash-deduped server-side
      val on = cfg(ch, "idem", m)
        .copy(httpSettings = Map("insert_deduplicate" -> "1"))
      ClickHouseSink.writeBatch(on)(df)
      ClickHouseSink.writeBatch(on)(df) // identical bytes: the retry
      assert(ch.rowCount("default", "idem") == 3,
        "retried identical block must be deduplicated")
      // setting OFF (default): the same bytes land twice
      ch.createTable("default", "dup", Seq("id" -> "Int32"))
      val off = cfg(ch, "dup", m)
      ClickHouseSink.writeBatch(off)(df)
      ClickHouseSink.writeBatch(off)(df)
      assert(ch.rowCount("default", "dup") == 6,
        "without insert_deduplicate duplicates are stored")
      // a DIFFERENT block with the setting on still lands
      ClickHouseSink.writeBatch(on)(Seq(9).toDF("id").coalesce(1))
      assert(ch.rowCount("default", "idem") == 4)
    }
  }

  test("pre-epoch fractional timestamps agree across wire formats (floor, not truncate-toward-zero)") {
    withServer() { ch =>
      val schema = Seq("id" -> "Int32", "ts" -> "DateTime64(3)")
      ch.createTable("default", "pre_json", schema)
      ch.createTable("default", "pre_nat", schema)
      val m = schema.map { case (n, t) => ColumnMapping(n, n, t) }
      def ts(sec: Long, nanos: Int) =
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec, nanos.toLong))
      val df = Seq(
        (1, ts(-1, 500000000)),  // 1969-12-31T23:59:59.500 → -500 ms exactly
        (2, ts(-2, 999500000)),  // -1.0005 s: sub-ms digits must FLOOR → -1001 ms
        (3, ts(1, 250000000))    // post-epoch control
      ).toDF("id", "ts")
      ClickHouseSink.writeBatch(cfg(ch, "pre_json", m))(df)
      ClickHouseSink.writeBatch(cfg(ch, "pre_nat", m)
        .copy(httpFormat = "Native"))(df)
      val j = ch.rows("default", "pre_json").map(r => r("id") -> r("ts")).toMap
      val r = ch.rows("default", "pre_nat").map(r => r("id") -> r("ts")).toMap
      assert(j == r, s"formats disagree: $j vs $r")
      assert(j(BigInt(1)) == -500000L, "−0.5 s must encode as −0.5 s, not +0.5 s")
      assert(j(BigInt(2)) == -1001000L, "sub-precision pre-epoch digits floor")
      assert(j(BigInt(3)) == 1250000L)
    }
  }

  test("DateTime (u32) out-of-range values dead-letter instead of silently wrapping") {
    withServer() { ch =>
      ch.createTable("default", "dtr", Seq("id" -> "Int32", "t" -> "DateTime"))
      val hc = ClickHouseHttp.Config(ch.endpoint, "default", "dtr",
        format = "Native",
        columnTypes = Map("id" -> "Int32", "t" -> "DateTime"))
      val df = Seq(
        (1, java.sql.Timestamp.valueOf("2025-06-01 10:00:00")),
        (2, java.sql.Timestamp.valueOf("1955-11-05 06:00:00")), // pre-epoch
        (3, java.sql.Timestamp.valueOf("2200-01-01 00:00:00"))  // past u32
      ).toDF("id", "t").coalesce(1)
      val failed = ClickHouseHttp.writeIsolating(hc)(df).collect().toSeq
      assert(ch.rowCount("default", "dtr") == 1)
      assert(failed.size == 2)
      assert(failed.forall(_._2.contains("Code: 321")))
    }
  }

  test("Native: client-side poison row rolls out of the block; the rest land") {
    withServer() { ch =>
      ch.createTable("default", "nat1",
        Seq("id" -> "Int32", "code" -> "FixedString(3)", "tags" -> "Array(Int64)"))
      val hc = ClickHouseHttp.Config(ch.endpoint, "default", "nat1",
        format = "Native",
        columnTypes = Map("id" -> "Int32", "code" -> "FixedString(3)",
          "tags" -> "Array(Int64)"))
      // row 2 overflows FixedString AFTER its array column already buffered
      // elements — the rollback must be atomic across ALL column writers or
      // the block corrupts (offsets out of sync with flattened values)
      val df = Seq((1, "ok", Seq(10L, 20L)), (2, "toolong", Seq(99L)),
        (3, "ko", Seq.empty[Long])).toDF("id", "code", "tags").coalesce(1)
      val failed = ClickHouseHttp.writeIsolating(hc)(df).collect().toSeq
      assert(ch.rowCount("default", "nat1") == 2)
      assert(failed.size == 1 && failed.head._2.contains("Code: 131"))
      val stored = ch.rows("default", "nat1").map(r => r("id") -> r("tags")).toMap
      assert(stored(BigInt(1)) == Vector(BigInt(10), BigInt(20)))
      assert(stored(BigInt(3)) == Vector())
    }
  }

  test("Native: server row-data fault replays the block row-wise; a second fault dead-letters one row") {
    withServer() { ch =>
      ch.createTable("default", "nat2", Seq("id" -> "Int32"))
      val hc = ClickHouseHttp.Config(ch.endpoint, "default", "nat2",
        format = "Native", columnTypes = Map("id" -> "Int32"))
      val df = Seq(1, 2, 3).toDF("id").coalesce(1)
      // fault 1 rejects the 3-row block (row-data class → replay);
      // fault 2 rejects the first replayed single-row block → DLQ for it
      ch.failNext(321, "Value is out of range of data type")
      ch.failNext(321, "Value is out of range of data type")
      val failed = ClickHouseHttp.writeIsolating(hc)(df).collect().toSeq
      assert(ch.rowCount("default", "nat2") == 2)
      assert(failed.size == 1 && failed.head._2.contains("Code: 321"))
    }
  }

  test("Native through the batch handler: LowCardinality columns go over the wire as their inner type") {
    withServer() { ch =>
      ch.createTable("default", "nat3", Seq(
        "id" -> "Int32", "level" -> "LowCardinality(String)",
        "attrs" -> "Map(String, Int64)"))
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("level", "level", "LowCardinality(String)"),
        ColumnMapping("attrs", "attrs", "Map(String, Int64)"))
      val df = Seq((1, "INFO", Map("a" -> 1L)), (2, "WARN", Map("b" -> -2L)))
        .toDF("id", "level", "attrs")
      val dlq = dlqQueue()
      ClickHouseSink.foreachBatchHandler(
        cfg(ch, "nat3", m).copy(httpFormat = "Native"),
        d => d.collect().foreach(dlq.add))(df, 0L)
      assert(dlq.isEmpty)
      assert(ch.rowCount("default", "nat3") == 2)
      assert(ch.rows("default", "nat3").map(_("level")).toSet == Set("INFO", "WARN"))
      assert(ch.rows("default", "nat3").map(_("attrs")).toSet ==
        Set(Map("a" -> BigInt(1)), Map("b" -> BigInt(-2))))
    }
  }

  test("poison-MAJORITY batch dead-letters executor-side: no driver materialization of row contents") {
    withServer() { ch =>
      ch.createTable("default", "pm",
        Seq("id" -> "Int32", "code" -> "FixedString(3)"))
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("code", "code", "String"))
      // EVERY row overflows FixedString(3) — the incident shape (a mapping
      // edit poisons the whole batch) where the failure set equals the
      // batch and a driver-side collect would OOM at 100M rows
      import org.apache.spark.sql.functions.{col, concat, lit}
      val df = spark.range(5000).select(col("id").cast("int").as("id"),
        concat(lit("bad-"), col("id")).as("code")).repartition(4)
      var dlqRows = -1L
      var dlqDriverMaterialized = true
      val handler = ClickHouseSink.foreachBatchHandler(cfg(ch, "pm", m), d => {
        // a driver-collected failure set reaches the DLQ as a LocalRelation
        // (rows parallelized FROM the driver); the executor-side path keeps
        // the mapPartitions insert chain in the plan — assert on the plan
        dlqDriverMaterialized = d.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
        }.nonEmpty
        dlqRows = d.count()
      })
      handler(df, 0L)
      assert(ch.rowCount("default", "pm") == 0)
      assert(dlqRows == 5000)
      assert(!dlqDriverMaterialized,
        "DLQ frame must stay distributed — failure rows may not funnel through the driver")
    }
  }

  test("poison-minority batch still isolates per row through the executor-side DLQ path") {
    withServer() { ch =>
      ch.createTable("default", "pmin",
        Seq("id" -> "Int32", "code" -> "FixedString(3)"))
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("code", "code", "String"))
      val df = Seq((1, "ok"), (2, "toolong"), (3, "ko"), (4, "abc"))
        .toDF("id", "code").coalesce(1)
      val dlq = dlqQueue()
      ClickHouseSink.foreachBatchHandler(cfg(ch, "pmin", m),
        d => d.collect().foreach(dlq.add))(df, 0L)
      assert(ch.rowCount("default", "pmin") == 3)
      assert(dlq.size == 1)
      assert(dlq.asScala.head.getAs[String]("error").contains("Code: 131"))
      assert(dlq.asScala.head.getAs[String]("original_message").contains("toolong"))
    }
  }

  test("Tuple / Nested / IPv4 / IPv6 columns round-trip over all three wire formats") {
    withServer() { ch =>
      val schema = Seq("id" -> "Int32", "tup" -> "Tuple(a String, n Int32)",
        "tags" -> "Nested(k String, v Int32)", "ip4" -> "IPv4", "ip6" -> "IPv6")
      val m = Seq(ColumnMapping("id", "id", "Int32"),
        ColumnMapping("tup", "tup", "Tuple(a String, n Int32)"),
        ColumnMapping("tags", "tags", "Nested(k String, v Int32)"),
        ColumnMapping("ip4", "ip4", "IPv4"), ColumnMapping("ip6", "ip6", "IPv6"))
      val df = Seq(
        (1, ("x", 7), Seq(("k1", 10), ("k2", 20)),
          "1.2.3.4", "2001:0db8:0000:0000:0000:0000:0000:0001"),
        (2, ("y", -5), Seq.empty[(String, Int)], "255.0.0.1", "::1"))
        .toDF("id", "tup", "tags", "ip4", "ip6")
      val tcp = new MiniClickHouseTcpServer(ch)
      tcp.start()
      try Seq("JSONEachRow", "Native", "tcp").foreach { fmt =>
        val table = s"tn_${fmt.toLowerCase}"
        ch.createTable("default", table, schema)
        val c =
          if (fmt == "tcp") cfg(ch, table, m).copy(url = tcp.endpoint)
          else cfg(ch, table, m).copy(httpFormat = fmt)
        if (fmt != "tcp") assert(ClickHouseSink.validateAgainstTable(c).isRight)
        ClickHouseSink.writeBatch(c)(df)
        assert(ch.rowCount("default", table) == 2, s"format $fmt")
        val rows = ch.rows("default", table).map(r => r("id") -> r).toMap
        val r1 = rows(BigInt(1)); val r2 = rows(BigInt(2))
        assert(r1("tup") == Map("a" -> "x", "n" -> BigInt(7)), s"format $fmt")
        assert(r1("tags") == Vector(Map("k" -> "k1", "v" -> BigInt(10)),
          Map("k" -> "k2", "v" -> BigInt(20))), s"format $fmt")
        // canonical text: dotted quad / RFC 5952 regardless of input spelling
        assert(r1("ip4") == "1.2.3.4" && r1("ip6") == "2001:db8::1", s"format $fmt")
        assert(r2("tup") == Map("a" -> "y", "n" -> BigInt(-5)), s"format $fmt")
        assert(r2("tags") == Vector.empty, s"format $fmt")
        assert(r2("ip4") == "255.0.0.1" && r2("ip6") == "::1", s"format $fmt")
      } finally tcp.stop()
    }
  }

  test("unnamed Tuple on the JSONEachRow leg fails start-time validation, binary legs pass") {
    withServer() { ch =>
      ch.createTable("default", "ut", Seq("p" -> "Tuple(String, Int32)"))
      val m = Seq(ColumnMapping("p", "p", "Tuple(String, Int32)"))
      // JSON leg: Spark writes a struct as an OBJECT keyed _1/_2 — no
      // server setting maps that back to positions, so config-time reject
      val json = cfg(ch, "ut", m) // default format = JSONEachRow
      val err = ClickHouseSink.validateAgainstTable(json)
      assert(err.isLeft && err.swap.exists(_.contains("unnamed Tuple")))
      // the positional binary formats handle it fine
      val c = cfg(ch, "ut", m).copy(httpFormat = "Native")
      assert(ClickHouseSink.validateAgainstTable(c).isRight)
      ClickHouseSink.writeBatch(c)(Seq(Tuple1(("z", 3))).toDF("p"))
      assert(ch.rowCount("default", "ut") == 1)
      assert(ch.rows("default", "ut").head("p") == Vector("z", BigInt(3)))
    }
  }

  test("malformed IP literal dead-letters alone with the server's 441 on both binary legs") {
    withServer() { ch =>
      val tcp = new MiniClickHouseTcpServer(ch)
      tcp.start()
      val types = Map("id" -> "Int32", "addr" -> "IPv6")
      try Seq("http", "tcp").foreach { fmt =>
        val table = s"ip_$fmt"
        ch.createTable("default", table, Seq("id" -> "Int32", "addr" -> "IPv6"))
        val isolating =
          if (fmt == "http") ClickHouseHttp.writeIsolating(ClickHouseHttp.Config(ch.endpoint,
            "default", table, format = "Native", columnTypes = types)) _
          else ClickHouseNativeTcp.writeIsolating(ClickHouseNativeTcp.parseEndpoint(tcp.endpoint,
            cfg(ch, table, Nil)).copy(columnTypes = types)) _
        // no mapper in front: the bad literal reaches the ENCODER raw —
        // client-side parse rejects that row alone, the rest land
        val df = Seq((1, "::1"), (2, "not-an-ip"), (3, "1.2.3.4"))
          .toDF("id", "addr").coalesce(1)
        val failed = isolating(df).collect().toSeq
        assert(ch.rowCount("default", table) == 2, s"format $fmt")
        // a plain v4 literal maps into ::ffff: form, as the server parses it
        assert(ch.rows("default", table).map(_("addr")).toSet ==
          Set("::1", "::ffff:1.2.3.4"), s"format $fmt")
        assert(failed.size == 1 && failed.head._2.contains("Code: 441"), s"format $fmt")
        assert(failed.head._1.contains("not-an-ip"), s"format $fmt")
      } finally tcp.stop()
    }
  }

  test("a one-shot connection fault mid-INSERT retries in place: job completes, rows land exactly once") {
    withServer() { ch =>
      ch.createTable("default", "ev_cl", Seq("id" -> "Int64", "s" -> "String"))
      val chPort = ch.endpoint.split(':').last.toInt
      // one-shot KILLING PROXY between the sink and the fixture: the first
      // connection is aborted with an RST after the client starts writing
      // (a pure transport fault — the fixture never sees the body, so a
      // commit cannot have happened); every later connection pipes through
      val proxy = new java.net.ServerSocket(0, 8,
        java.net.InetAddress.getLoopbackAddress)
      val killed = new java.util.concurrent.atomic.AtomicInteger(0)
      @volatile var first = true
      def pipe(a: java.io.InputStream, b: java.io.OutputStream): Thread = {
        val t = new Thread(() => {
          try {
            val buf = new Array[Byte](8192)
            var n = a.read(buf)
            while (n >= 0) { b.write(buf, 0, n); b.flush(); n = a.read(buf) }
          } catch { case _: Exception => () }
        })
        t.setDaemon(true); t.start(); t
      }
      val acceptor = new Thread(() => {
        while (!proxy.isClosed) {
          try {
            val s = proxy.accept()
            if (first) {
              first = false
              val t = new Thread(() => {
                try {
                  s.getInputStream.read(new Array[Byte](256)) // let the POST start
                  s.setSoLinger(true, 0) // RST, not FIN: a hard reset
                  s.close()
                  killed.incrementAndGet()
                } catch { case _: Exception => () }
              })
              t.setDaemon(true); t.start()
            } else {
              val up = new java.net.Socket("127.0.0.1", chPort)
              pipe(s.getInputStream, up.getOutputStream)
              pipe(up.getInputStream, s.getOutputStream)
            }
          } catch { case _: Exception => () } // closed during cleanup
        }
      })
      acceptor.setDaemon(true); acceptor.start()
      try {
        val c = ClickHouseSink.Config(
          url = s"http://127.0.0.1:${proxy.getLocalPort}", database = "default",
          table = "ev_cl", mappings = Seq(ColumnMapping("id", "id", "Int64"),
            ColumnMapping("s", "s", "String")),
          // the RST can land after the client's (buffered) write completed,
          // which the phase-aware retry treats as could-have-committed —
          // the dedup opt-in licenses the in-place resend, and the fixture's
          // block dedup keeps it exactly-once either way
          httpSettings = Map("insert_deduplicate" -> "1"))
        // must complete WITHOUT the engine-level retry loop: the bounded
        // in-place retry inside post() absorbs the transport fault
        ClickHouseSink.writeBatch(c)(
          (1L to 50L).map(i => (i, s"v$i")).toDF("id", "s").coalesce(1))
        assert(killed.get == 1, "the proxy never killed a connection — test is vacuous")
        assert(ch.rowCount("default", "ev_cl") == 50, "rows must land exactly once")
        assert(ch.rows("default", "ev_cl").map(_("id")).toSet.size == 50)
      } finally proxy.close()
    }
  }

  /** One-shot RESPONSE-phase killer proxy: the first connection's request
    * is piped to the fixture UNTOUCHED (the INSERT fully commits), but the
    * moment the fixture starts answering, the client socket is hard-reset
    * — the "server may have committed" fault class the phase-aware retry
    * must not blindly resend. Later connections pipe through cleanly.
    * Returns (proxy socket, kill counter). */
  private def responsePhaseKillerProxy(
      chPort: Int): (java.net.ServerSocket, java.util.concurrent.atomic.AtomicInteger) = {
    val proxy = new java.net.ServerSocket(0, 8,
      java.net.InetAddress.getLoopbackAddress)
    val killed = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var first = true
    def pipe(a: java.io.InputStream, b: java.io.OutputStream): Unit = {
      val t = new Thread(() => {
        try {
          val buf = new Array[Byte](8192)
          var n = a.read(buf)
          while (n >= 0) { b.write(buf, 0, n); b.flush(); n = a.read(buf) }
        } catch { case _: Exception => () }
      })
      t.setDaemon(true); t.start()
    }
    val acceptor = new Thread(() => {
      while (!proxy.isClosed) {
        try {
          val s = proxy.accept()
          val up = new java.net.Socket("127.0.0.1", chPort)
          if (first) {
            first = false
            pipe(s.getInputStream, up.getOutputStream) // request flows intact
            val t = new Thread(() => {
              try {
                // first response byte = the fixture has finished the INSERT
                up.getInputStream.read()
                // counted before the reset: the client can see the RST and
                // reach its assertions before this thread runs again
                killed.incrementAndGet()
                s.setSoLinger(true, 0) // RST, not FIN
                s.close(); up.close()
              } catch { case _: Exception => () }
            })
            t.setDaemon(true); t.start()
          } else {
            pipe(s.getInputStream, up.getOutputStream)
            pipe(up.getInputStream, s.getOutputStream)
          }
        } catch { case _: Exception => () } // closed during cleanup
      }
    })
    acceptor.setDaemon(true); acceptor.start()
    (proxy, killed)
  }

  test("a response-phase fault after the body was sent RETHROWS by default — no blind resend that could duplicate committed rows") {
    withServer() { ch =>
      ch.createTable("default", "ev_rp", Seq("id" -> "Int64", "s" -> "String"))
      val chPort = ch.endpoint.split(':').last.toInt
      val (proxy, killed) = responsePhaseKillerProxy(chPort)
      try {
        val c = ClickHouseHttp.Config(
          endpoint = s"http://127.0.0.1:${proxy.getLocalPort}",
          database = "default", table = "ev_rp")
        val body = (1 to 3).map(i => s"""{"id":$i,"s":"v$i"}""").mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val q = ClickHouseHttp.insertQuery(c, Seq("id", "s"))
        val thrown = intercept[Exception] { ClickHouseHttp.post(c, q, body) }
        assert(ClickHouseHttp.isConnectionLevel(thrown),
          s"expected the transport fault to surface, got $thrown")
        assert(killed.get == 1, "the proxy never killed a response — vacuous")
        // the fault rethrew INSTEAD of resending: the committed rows are
        // there exactly once, and the caller (who owns idempotency) decides
        assert(ch.rowCount("default", "ev_rp") == 3,
          "the first attempt's committed rows must not be duplicated")
      } finally proxy.close()
    }
  }

  test("a response-phase fault WITH insert_deduplicate=1 retries and the identical resend is absorbed exactly-once") {
    withServer() { ch =>
      ch.createTable("default", "ev_rd", Seq("id" -> "Int64", "s" -> "String"))
      val chPort = ch.endpoint.split(':').last.toInt
      val (proxy, killed) = responsePhaseKillerProxy(chPort)
      try {
        val c = ClickHouseHttp.Config(
          endpoint = s"http://127.0.0.1:${proxy.getLocalPort}",
          database = "default", table = "ev_rd",
          settings = Map("insert_deduplicate" -> "1"))
        val body = (1 to 3).map(i => s"""{"id":$i,"s":"v$i"}""").mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val q = ClickHouseHttp.insertQuery(c, Seq("id", "s"))
        ClickHouseHttp.post(c, q, body) // must complete via the in-place retry
        assert(killed.get == 1, "the proxy never killed a response — vacuous")
        assert(ch.rowCount("default", "ev_rd") == 3,
          "block dedup must absorb the resend: rows exactly once")
      } finally proxy.close()
    }
  }

  test("Array(LowCardinality(String)) INSERT rides the dictionary form through the whole sink path") {
    withServer() { ch =>
      ch.createTable("default", "ev_lcarr",
        Seq("id" -> "Int64", "tags" -> "Array(LowCardinality(String))"))
      val df = (1L to 300L).map(i =>
        (i, (0 until (i % 4).toInt).map(j => s"tag${(i + j) % 6}")))
        .toDF("id", "tags")
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "ev_lcarr",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("tags", "tags", "Array(LowCardinality(String))")),
        httpFormat = "Native"))(df)
      assert(ch.rowCount("default", "ev_lcarr") == 300)
      val row7 = ch.rows("default", "ev_lcarr").find(_("id") == 7L).get
      assert(row7("tags") == Vector("tag1", "tag2", "tag3"))
      val row4 = ch.rows("default", "ev_lcarr").find(_("id") == 4L).get
      assert(row4("tags") == Vector.empty)
    }
  }

  test("dedupAbsorbsResend: only an explicit insert_deduplicate opt-in licenses a could-have-committed resend") {
    def c(s: Map[String, String]) = ClickHouseHttp.Config(
      endpoint = "http://x:8123", database = "d", table = "t", settings = s)
    assert(ClickHouseHttp.dedupAbsorbsResend(c(Map("insert_deduplicate" -> "1"))))
    assert(ClickHouseHttp.dedupAbsorbsResend(c(Map("insert_deduplicate" -> "true"))))
    assert(!ClickHouseHttp.dedupAbsorbsResend(c(Map("insert_deduplicate" -> "0"))))
    assert(!ClickHouseHttp.dedupAbsorbsResend(c(Map.empty)))
  }

  test("writeBody flips bodySent after flush, BEFORE close() — a dead-connection close() is could-have-committed") {
    // close() detecting the dead connection is the r15 advisory's hole:
    // by then the full Content-Length body may sit in the server's
    // socket buffer, so the fault must be classified post-body (resend
    // only under insert_deduplicate), never as an unconditional retry
    val sent = new java.util.concurrent.atomic.AtomicBoolean(false)
    val closeFault = new java.io.ByteArrayOutputStream() {
      override def close(): Unit = throw new java.net.SocketException("Connection reset")
    }
    intercept[java.net.SocketException] {
      ClickHouseHttp.writeBody(closeFault, Array[Byte](1, 2, 3), sent)
    }
    assert(sent.get, "a close()-phase fault must be classified post-body")
    // a fault DURING write stays pre-body: the server can't have the
    // declared Content-Length, so the unconditional in-place retry is safe
    val writeFault = new java.io.OutputStream {
      override def write(b: Int): Unit = throw new java.net.SocketException("reset")
    }
    val sent2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[java.net.SocketException] {
      ClickHouseHttp.writeBody(writeFault, Array[Byte](1), sent2)
    }
    assert(!sent2.get, "a write-phase fault must stay pre-body")
  }

  test("isConnectionLevel: transport faults retry, parsed server errors never do") {
    import ClickHouseHttp.isConnectionLevel
    assert(isConnectionLevel(new java.net.ConnectException("Connection refused")))
    assert(isConnectionLevel(new java.net.SocketException("Connection reset")))
    assert(isConnectionLevel(new java.net.SocketTimeoutException("connect timed out")))
    assert(isConnectionLevel(new java.io.EOFException()))
    assert(isConnectionLevel(new java.io.IOException("unexpected end of stream on ...")))
    assert(!isConnectionLevel(ClickHouseHttp.CHServerException(241, "Memory limit exceeded")))
    assert(!isConnectionLevel(new IllegalArgumentException("bad value")))
    assert(!isConnectionLevel(new java.io.IOException("some other io problem")))
  }
}
