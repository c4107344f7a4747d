package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sink.{ClickHouseSink, SinkMapper}
import graft.sources.JsonIngest

/** The raw-Kafka config start parses each event once per query: the
  * valid-row frame once (all declared fields), the validation-DLQ frame
  * once (only the fields that can fail). Both must split a payload exactly
  * as the single-`from_json` formula below does. */
class IngestParseSpec extends SparkSpec {
  import spark.implicits._

  private val topic = TopicConfig("t", schemaFields = Seq(
    FieldDef("s", "string"), FieldDef("i", "int"), FieldDef("f", "float"),
    FieldDef("b", "bool"), FieldDef("a", "array"), FieldDef("m", "map"),
    FieldDef("k.pod", "string")))

  /** perfbench's `ingest_drain` config: the 35-field telemetry topic and
    * its 12-column mapping, nothing else. */
  private val telemetry: PipelineConfig = PipelineConfig("telemetry",
    SourceConfig(kind = Some("kafka"), brokers = Some(Seq("broker:9092")),
      topics = Seq(TopicConfig("telemetry",
        schemaFields = graft.IngestBench.fields.map { case (n, t) => FieldDef(n, t) }))),
    sink = Some(SinkConfig(table = "telemetry", url = Some("jdbc:ch://ch:8123/default"),
      tableMapping = graft.IngestBench.mappings.map(m =>
        SinkMapping(fieldName = m.sourceField, columnName = m.column, columnType = m.chType)))))

  private def framed(json: String): Array[Byte] =
    Array[Byte](0, 0, 0, 0, 7) ++ json.getBytes("UTF-8")

  private val corpus: Seq[Array[Byte]] = (Seq(
    // valid, complete and partial
    """{"s":"x","i":1,"f":1.5,"b":true,"a":["p","q"],"m":{"k":"v"},"k.pod":"pod"}""",
    """{"i":2}""", """{"s":"only string"}""", """{"i":3} trailing""",
    // malformed and truncated
    "not json", """{"s":"x"""", """{"s":"x","i":1""", """{"i":""", "}", """{"s":"a",}""",
    """{"s":'single'}""", "   ",
    // lenient-JSON forms the strict options reject: single quotes and bare
    // NaN/Infinity in string and non-string fields, plus the accepted gap
    // of trailing data after the first value
    """{'s':"key"}""", """{"i":'1'}""", """{"i":1,"zzz":'q'}""", """{"f":NaN}""",
    """{"f":Infinity}""", """{"f":-Infinity}""", """{"f":"Infinity"}""", """{"s":NaN}""",
    """{"s":Infinity}""", """{"zzz":NaN,"i":1}""", """{"i":1}{"i":2}""",
    // top-level arrays and scalars, empty, JSON null
    "[1,2]", """[{"s":"x","i":1}]""", "[]", "42", "\"str\"", "true", "null", "",
    // a type mismatch on each non-string type
    """{"i":"x"}""", """{"i":1.5}""", """{"i":99999999999999999999}""", """{"i":{"x":1}}""",
    """{"i":[1]}""", """{"f":"abc"}""", """{"f":"NaN"}""", """{"f":true}""",
    """{"b":"yes"}""", """{"b":1}""", """{"a":"notarray"}""", """{"a":{"x":1}}""",
    """{"a":[1,{"y":2}]}""", """{"m":[1]}""", """{"m":"str"}""", """{"m":{"k":1}}""",
    """{"i":1,"i":"dup"}""", """{"s":"ok","i":"12"}""",
    // string fields holding objects, arrays, numbers, booleans
    """{"s":{"x":1}}""", """{"s":[1,2]}""", """{"s":12.5}""", """{"s":true}""",
    """{"k.pod":{"a":[1]}}""", """{"s":{"bad":"\q"}}""",
    // explicit nulls, empty and unknown-key objects
    """{"s":null}""", """{"i":null,"f":null}""",
    """{"s":null,"i":null,"f":null,"b":null,"a":null,"m":null,"k.pod":null}""",
    "{}", """{"zzz":1}""", """{"other":{"s":1}}""", """{"zzz":null}""",
    // dotted and root-segment keys
    """{"k.pod":"p1"}""", """{"k":{"pod":"p2"}}""", """{"k":null}""", """{"k.pod":5}""",
    """{"k.other":1}""",
    // invalid escapes and raw control characters
    """{"s":"a\q"}""", """{"i":1,"x":"\q"}""", "{\"s\":\"\\u00zz\"}", "{\"s\":\"\\u0041\"}",
    "{\"s\":\"a\tb\"}", "{\"s\":\"a\u0001b\"}", "{\"zzz\":\"a\u0001b\",\"i\":1}",
    "{\"i\":1,\"s\":\"a\u0000b\"}"
  ).map(_.getBytes("UTF-8")) ++ Seq(
    // Schema-Registry-framed values, a frame too short to be one, bad UTF-8
    framed("""{"s":"framed","i":9}"""), framed("""{"i":"framed-bad"}"""),
    framed("not json framed"), Array[Byte](0, 0, 0),
    "{\"s\":\"".getBytes("UTF-8") ++ Array(0xff.toByte) ++ "\"}".getBytes("UTF-8"),
    "{\"zzz\":\"".getBytes("UTF-8") ++ Array(0xc3.toByte) ++ "\",\"i\":4}".getBytes("UTF-8")))

  /** The corpus as a Kafka-shaped frame read back from parquet, so the
    * optimizer sees a real scan (a LocalRelation would be folded away).
    * `offset` is the row's position; the last row is a tombstone. */
  private lazy val raw: DataFrame = {
    val dir = Files.createTempDirectory("graft_ingest_parse").resolve("raw").toString
    val rows = corpus.map(Option(_)) :+ None
    rows.zipWithIndex.map { case (v, o) =>
      (v.orNull, new java.sql.Timestamp(1700000000000L + o), 0, o.toLong)
    }.toDF("value", "timestamp", "partition", "offset").write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** A config that reads nothing after ingest but the frame itself: no
    * sink mapping and no transform, so every declared field is parsed. */
  private def bare(t: TopicConfig*): PipelineConfig =
    PipelineConfig("p", SourceConfig(topics = t))

  private def configStart: (DataFrame, DataFrame) = {
    val root = Files.createTempDirectory("graft_ingest_parse_dlq").toString
    val (good, bad) = new PipelineService(spark, dlqRoot = Some(root))
      .parseIfRaw(raw, topic, bare(topic))
    (good, bad.get)
  }

  /** The parses in `df`'s optimized plan; a streaming frame is only
    * optimized per micro-batch, so its analyzed plan. */
  private def parses(df: DataFrame): Seq[JsonToStructs] = {
    val plan = if (df.isStreaming) df.queryExecution.analyzed else df.queryExecution.optimizedPlan
    plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
  }

  /** Computes `.constraints` of a frame's optimized plan, as a
    * `foreachBatch` sink does for every micro-batch, within `seconds`: a
    * `Filter` on the corrupt test under the projection of 35 parsed fields
    * doubled this set once per field and never finished. */
  private def constraintsWithin(df: DataFrame, seconds: Int): Unit = {
    val plan = df.queryExecution.optimizedPlan
    val task = new java.util.concurrent.FutureTask[Int](() => plan.constraints.size)
    val worker = new Thread(task, "constraints")
    worker.setDaemon(true)
    worker.start()
    try { task.get(seconds.toLong, java.util.concurrent.TimeUnit.SECONDS); () }
    catch {
      case _: java.util.concurrent.TimeoutException =>
        worker.interrupt()
        fail(s"constraint propagation ran past ${seconds}s on\n${plan.treeString}")
    }
  }

  test("config-start frames parse each payload once per query; the DLQ frame skips string fields") {
    val (good, bad) = configStart
    val mapped = SinkMapper(Seq(
      SinkMapper.ColumnMapping("s", "s", "String"),
      SinkMapper.ColumnMapping("i", "i", "Int64"),
      SinkMapper.ColumnMapping("k.pod", "pod", "String")))(good)
    assert(parses(mapped).size == 1, mapped.queryExecution.optimizedPlan.treeString)
    val side = parses(bad)
    assert(side.size == 1, bad.queryExecution.optimizedPlan.treeString)
    val parsed = side.head.schema.asInstanceOf[StructType].fields
      .filterNot(_.name == "__corrupt_rec")
    assert(parsed.map(_.name).toSeq == Seq("i", "f", "b", "a", "m"))
    assert(!parsed.exists(_.dataType == StringType))
  }

  test("config-start frames over the 35-field telemetry schema plan their micro-batches promptly") {
    val wide = TopicConfig("wide", schemaFields =
      graft.IngestBench.fields.map { case (n, t) => FieldDef(n, t) })
    val root = Files.createTempDirectory("graft_ingest_parse_wide").toString
    val svc = new PipelineService(spark, dlqRoot = Some(root))
    for (cfg <- Seq(bare(wide), telemetry)) {
      val (good, bad) = svc.parseIfRaw(raw, wide, cfg)
      constraintsWithin(good, 60)
      constraintsWithin(SinkMapper(graft.IngestBench.mappings)(good), 60)
      constraintsWithin(bad.get, 60)
    }
  }

  /** The single-`from_json` split the config start used before each frame
    * parsed in its own `Generate`: the oracle for both frames. */
  private def referenceParse(df: DataFrame, jsonCol: String, schema: StructType,
                             keep: Seq[String]): DataFrame = {
    val corruptField = "__corrupt_rec"
    val parseSchema = StructType(schema.fields :+ StructField(corruptField, StringType))
    val parsed = df.withColumn("__parsed",
      from_json(col(jsonCol), parseSchema, Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> corruptField,
        "allowSingleQuotes" -> "false", "allowNonNumericNumbers" -> "false")))
    val allNull = schema.fieldNames
      .map(f => col("__parsed").getField(f).isNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    val declaredKeys = schema.fieldNames.flatMap(f => Seq(f, f.split('.').head)).distinct.toSeq
    val anyDeclaredKey = arrays_overlap(
      json_object_keys(col(jsonCol)), array(declaredKeys.map(lit): _*))
    parsed
      .withColumn("__corrupt", col(jsonCol).isNotNull && (
        col("__parsed").isNull ||
          col("__parsed").getField(corruptField).isNotNull ||
          (allNull && !coalesce(anyDeclaredKey, lit(false)))))
      .withColumn("__raw", col(jsonCol))
      .select(schema.fieldNames.map(f => col("__parsed").getField(f).as(f)) ++
        keep.map(col) :+ col("__raw") :+ col("__corrupt"): _*)
  }

  test("every payload lands in exactly one of main-valid and DLQ-corrupt, as the reference split does") {
    val (good, bad) = configStart
    val (payload, _) = JsonIngest.stripSchemaRegistryPrefix(col("value"))
    val schema = graft.types.EngineSchema.structFor(topic.schemaFields.map(f => f.name -> f.`type`))
    val ref = referenceParse(raw.withColumn("__payload", payload), "__payload", schema,
      Seq("timestamp", "partition", "offset"))
    def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getAs[Long]("offset"))

    val payloads = raw.select(col("offset"), payload.as("p")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(payloads.values.toSeq.distinct.size == payloads.size, "payloads must be distinct")
    val validOffsets = good.select("offset").collect().map(_.getLong(0)).toSeq
    val corruptRaw = bad.collect().map(r => Option(r.getString(0))).toSeq
    val corruptOffsets = corruptRaw.map(p => payloads.collectFirst { case (o, `p`) => o }.get)
    assert(validOffsets.distinct.size == validOffsets.size)
    assert(corruptOffsets.distinct.size == corruptOffsets.size)
    assert(validOffsets.intersect(corruptOffsets).isEmpty)
    assert((validOffsets ++ corruptOffsets).sorted == payloads.keys.toSeq.sorted)

    assert(good.columns.toSeq == ref.drop("__corrupt", "__raw").columns.toSeq)
    assert(sorted(good) == sorted(ref.filter(!col("__corrupt")).drop("__corrupt", "__raw")))
    assert(corruptRaw.sortBy(_.toString) ==
      ref.filter(col("__corrupt")).collect().map(r => Option(r.getAs[String]("__raw")))
        .toSeq.sortBy(_.toString))

    // the corpus exercises both outcomes on the cases the reasoning rests on
    def validity(json: String): Boolean =
      validOffsets.contains(payloads.collectFirst { case (o, Some(`json`)) => o }.get)
    assert(validity("""{"s":{"x":1}}""") && validity("""{"k":{"pod":"p2"}}""") &&
      validity("""{"s":null}""") && validity("""{"s":"framed","i":9}"""))
    assert(!validity("""{"i":"x"}""") && !validity("{}") && !validity("not json") &&
      !validity("""{"s":"a\q"}"""))
    assert(!validity("""{"s":'single'}""") && !validity("""{"f":NaN}""") &&
      !validity("""{"s":NaN}""") && !validity("""{"zzz":NaN,"i":1}"""))
    // Spark's parser stops after the first JSON value: trailing data passes
    assert(validity("""{"i":1}{"i":2}""") && validity("""{"i":3} trailing"""))
  }

  test("JsonIngest.ingest keeps lineage on both sides of the split") {
    val (payload, _) = JsonIngest.stripSchemaRegistryPrefix(col("value"))
    val schema = StructType(Seq(StructField("s", StringType), StructField("i", LongType)))
    val (good, dlq) = JsonIngest.ingest(raw.withColumn("p", payload), "p", schema,
      keep = Seq("offset"))
    val g = good.select("offset").collect().map(_.getLong(0)).toSet
    val d = dlq.select("offset").collect().map(_.getLong(0)).toSet
    assert(g.intersect(d).isEmpty && (g ++ d).size == corpus.size + 1)
    assert(dlq.columns.toSeq == Seq("__raw", "offset"))
  }

  test("a config start parses the non-string and the mapped fields: 16 of the telemetry schema's 35") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Array[Byte], java.sql.Timestamp, Int, Long)]
    var handed: DataFrame = null
    val svc = new PipelineService(spark,
      checkpointRoot = Some(Files.createTempDirectory("graft_ingest_guard").toString),
      sourceReader = (_, _) => mem.toDF().toDF("value", "timestamp", "partition", "offset"),
      sinkAttach = (df, _, _, _) => { handed = df; df.writeStream.format("noop") })
    assert(svc.create(telemetry).isRight)
    val started = svc.startFromConfig(telemetry.pipelineId)
    try assert(started.isRight, started) finally { svc.terminate(telemetry.pipelineId); () }
    val parse = parses(handed)
    assert(parse.size == 1, handed.queryExecution.analyzed.treeString)
    val schema = graft.types.EngineSchema.structFor(graft.IngestBench.fields)
    val mapped = graft.IngestBench.mappings.map(_.sourceField).toSet
    val expected = schema.fields.filter(f => f.dataType != StringType || mapped(f.name))
    assert(expected.length == 16)
    assert(parse.head.schema.asInstanceOf[StructType].fields.toSeq ==
      expected.toSeq :+ StructField("__corrupt_rec", StringType))
    // the frame carries what the pipeline reads, plus the lineage columns
    assert(handed.columns.toSeq ==
      schema.fieldNames.filter(mapped).toSeq ++ Seq("partition", "offset"))
  }

  /** JSON for one event of `fields`: `value(field, i)` or a default per
    * declared type, with the `overrides` (field → raw JSON value) spliced
    * in. */
  private def event(fields: Seq[FieldDef], i: Int, value: PartialFunction[(String, Int), String],
                    overrides: (String, String)*): String = {
    val o = overrides.toMap
    fields.map { f =>
      val v = o.getOrElse(f.name, value.applyOrElse((f.name, i), (_: (String, Int)) =>
        f.`type` match {
          case "string" => s""""${f.name}-${i % 5}""""
          case "int" => (i * 7 % 11).toString
          case "float" => s"${i % 6}.25"
          case "bool" => (i % 2 == 0).toString
          case "array" => s"""["a$i","b"]"""
          case "map" => s"""{"region":"r${i % 3}","pod":"p$i"}"""
        }))
      s""""${f.name}":$v"""
    }.mkString("{", ",", "}")
  }

  /** Poison-laced payloads for a topic: valid events, then every way one
    * event can go wrong — a type mismatch or a bare `NaN` in each field
    * that is not a string (mapped or not), single quotes or `NaN` in each
    * string field, and the payloads that are never an event. */
  private def corpusFor(fields: Seq[FieldDef], value: PartialFunction[(String, Int), String]): Seq[String] = {
    val valid = (0 until 12).map(event(fields, _, value))
    val perField = fields.zipWithIndex.flatMap { case (f, k) =>
      val i = 20 + k
      f.`type` match {
        case "string" => Seq(event(fields, i, value, f.name -> "'single'"),
          event(fields, i, value, f.name -> "NaN"), event(fields, i, value, f.name -> """{"x":[1]}"""),
          event(fields, i, value, f.name -> "null"), s"""{"${f.name}":"alone"}""")
        case "map" => Seq(event(fields, i, value, f.name -> "[1]"),
          event(fields, i, value, f.name -> """{"k":{"deep":1}}"""))
        case _ => Seq(event(fields, i, value, f.name -> "\"mismatch\""),
          event(fields, i, value, f.name -> "NaN"), event(fields, i, value, f.name -> "{}"))
      }
    }
    valid ++ perField ++ Seq("not json", "{}", """{"zzz":1}""", "[1,2]", "null",
      event(fields, 3, value).dropRight(1), event(fields, 4, value) + " trailing",
      valid.head) // an exact duplicate
  }

  /** The rows `cfg`'s sink would insert (mapped) and its ingestor-DLQ
    * payloads, for `payloads` per topic through the streaming compile, with
    * the valid frames parsed as `parseCfg` reads them. */
  private def runConfig(cfg: PipelineConfig, parseCfg: PipelineConfig,
                        payloads: Map[String, Seq[String]]): (Seq[String], Seq[String], Seq[StructType]) = {
    implicit val sqlCtx = spark.sqlContext
    val svc = new PipelineService(spark,
      dlqRoot = Some(Files.createTempDirectory("graft_ingest_eq_dlq").toString))
    val mems = cfg.source.topics.map(t =>
      t.name -> MemoryStream[(Array[Byte], java.sql.Timestamp, Int, Long)](1)).toMap
    val frames = cfg.source.topics.map { t =>
      val raw = mems(t.name).toDF().toDF("value", "timestamp", "partition", "offset")
      t.name -> svc.parseIfRaw(raw, t, parseCfg)
    }.toMap
    val compiled =
      if (cfg.join.exists(_.enabled)) PipelineCompiler.streamingJoin(cfg, frames.map { case (n, f) => n -> f._1 })
      else PipelineCompiler.streaming(cfg, frames.values.head._1)
    val sink = ClickHouseSink.Config(url = "http://unused", database = "default", table = "t",
      mappings = cfg.sink.get.tableMapping.map(m =>
        SinkMapper.ColumnMapping(m.fieldName, m.columnName, m.columnType)))
    val inserted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val dlq = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def ckpt() = Files.createTempDirectory("graft_ingest_eq_ckpt").toString
    val q = compiled.writeStream.option("checkpointLocation", ckpt())
      .foreachBatch { (b: DataFrame, _: Long) =>
        ClickHouseSink.writeBatchWith(sink, m => m.toJSON.collect().foreach(inserted.add))(b)
      }.start()
    val dq = frames.values.flatMap(_._2).reduce(_.unionByName(_)).writeStream
      .option("checkpointLocation", ckpt())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => dlq.add(r.getString(0)))
      }.start()
    try {
      // topics in config order, each event 10 ms after the one before
      var t = 1735689600000L
      cfg.source.topics.foreach { tc =>
        mems(tc.name).addData(payloads(tc.name).zipWithIndex.map { case (p, o) =>
          t += 10
          (p.getBytes("UTF-8"), new java.sql.Timestamp(t), 0, o.toLong)
        })
        q.processAllAvailable(); dq.processAllAvailable()
      }
    } finally { q.stop(); dq.stop() }
    import scala.jdk.CollectionConverters._
    (inserted.asScala.toSeq.sorted, dlq.asScala.toSeq.sorted,
      frames.values.map(f => parses(f._1).head.schema.asInstanceOf[StructType]).toSeq)
  }

  test("pruned and full-parse config starts insert the same rows and dead-letter the same payloads") {
    val fields = Seq(FieldDef("id", "string"), FieldDef("level", "string"),
      FieldDef("k.pod", "string"), FieldDef("k", "map"), FieldDef("meta", "map"),
      FieldDef("n", "int"), FieldDef("score", "float"), FieldDef("ok", "bool"),
      FieldDef("tags", "array"), FieldDef("note", "string"), FieldDef("extra", "string"))
    val events = TopicConfig("events", schemaFields = fields)
    def mapping(ms: (String, String, String)*) = Some(SinkConfig(table = "t",
      url = Some("jdbc:ch://ch:8123/default"),
      tableMapping = ms.map { case (f, c, t) => SinkMapping(fieldName = f, columnName = c, columnType = t) }))
    val byId: PartialFunction[(String, Int), String] = {
      case ("id", i) => s""""id-${i % 8}""""
      case ("level", i) => if (i % 4 == 0) "\"DEBUG\"" else "\"INFO\""
    }
    val plain = Map("events" -> corpusFor(fields, byId))

    val orders = TopicConfig("orders", schemaFields = Seq(FieldDef("order_id", "string"),
      FieldDef("user", "string"), FieldDef("amt", "float"), FieldDef("qty", "int"),
      FieldDef("note", "string"), FieldDef("flags", "array")))
    val users = TopicConfig("users", schemaFields = Seq(FieldDef("uid", "string"),
      FieldDef("email", "string"), FieldDef("age", "int"), FieldDef("bio", "string"),
      FieldDef("prefs", "map")))
    val joined = Map(
      "orders" -> corpusFor(orders.schemaFields, {
        case ("order_id", i) => s""""o$i""""
        case ("user", i) => s""""u${i % 4}""""
      }),
      "users" -> corpusFor(users.schemaFields, { case ("uid", i) => s""""u$i"""" }))

    val configs = Seq(
      // literal-dotted (`k.pod` beside a declared `k`) and root-segment
      // (`meta.region` inside the `meta` map) names
      PipelineConfig("mapping", SourceConfig(topics = Seq(events)), sink = mapping(
        ("id", "id", "String"), ("k.pod", "pod", "String"), ("meta.region", "region", "String"),
        ("n", "n", "Int64"))) -> plain,
      PipelineConfig("filter", SourceConfig(topics = Seq(events)),
        filter = Some(FilterConfig("level != 'DEBUG' && n > 2")),
        sink = mapping(("id", "id", "String"), ("note", "note", "String"))) -> plain,
      PipelineConfig("dedup", SourceConfig(topics = Seq(events.copy(
        deduplication = Some(DedupConfig(idField = "id", timeWindow = "1h"))))),
        transform = Some(TransformConfig(Seq(
          TransformRule("id", "id", "string"), TransformRule("upper(level)", "lvl", "string"),
          TransformRule("n * 2", "n2", "int64")))),
        sink = mapping(("id", "id", "String"), ("lvl", "lvl", "String"), ("n2", "n2", "Int64"))) -> plain,
      PipelineConfig("join", SourceConfig(topics = Seq(orders, users)),
        join = Some(JoinConfig(sources = Seq(
          JoinSource("orders", "user", "1h", "left", Some("timestamp")),
          JoinSource("users", "uid", "1h", "right", Some("timestamp"))),
          projections = Seq(JoinProjection("orders", "order_id", "order_id"),
            JoinProjection("orders", "amt", "amt"), JoinProjection("users", "email", "email")))),
        sink = mapping(("order_id", "order_id", "String"), ("amt", "amt", "Float64"),
          ("email", "email", "String"))) -> joined)

    for ((cfg, payloads) <- configs) {
      val (prunedRows, prunedDlq, prunedParse) = runConfig(cfg, cfg, payloads)
      val (fullRows, fullDlq, fullParse) = runConfig(cfg, bare(cfg.source.topics: _*), payloads)
      withClue(cfg.pipelineId) {
        assert(prunedRows.nonEmpty && prunedDlq.nonEmpty)
        assert(prunedRows == fullRows)
        assert(prunedDlq == fullDlq)
        // the full run parses every declared field, the pruned run fewer
        assert(fullParse.map(_.length).sum ==
          cfg.source.topics.map(_.schemaFields.size + 1).sum)
        assert(prunedParse.map(_.length).sum < fullParse.map(_.length).sum)
        // an unread field that is not a string is still validated
        assert(prunedDlq.exists(_.contains("NaN")) && prunedDlq.exists(_.contains("mismatch")))
      }
    }
  }
}
