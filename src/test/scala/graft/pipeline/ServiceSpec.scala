package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.operators.{TransformOp, VersionedTransform}

class ServiceSpec extends SparkSpec {
  import spark.implicits._

  test("evaluateTransform runs rules against a sample document") {
    val out = ExpressionService.evaluateTransform(spark,
      Seq(TransformOp.Rule("upper(name)", "name_u", "string"),
        TransformOp.Rule("n * 2", "n2", "int64")),
      """{"name":"ada","n":21}""")
    assert(out == Right("""{"name_u":"ADA","n2":42}"""))
  }

  test("evaluateTransform surfaces compile errors") {
    val out = ExpressionService.evaluateTransform(spark,
      Seq(TransformOp.Rule("nope(name)", "x", "string")), """{"name":"a"}""")
    assert(out.isLeft && out.swap.exists(_.contains("unknown function")))
  }

  test("evaluateFilter and validateFilter") {
    assert(ExpressionService.evaluateFilter(spark,
      "status != 'failed' && n > 1", """{"status":"ok","n":5}""") == Right(true))
    assert(ExpressionService.evaluateFilter(spark,
      "status == 'failed'", """{"status":"ok","n":5}""") == Right(false))
    val schema = StructType(Seq(StructField("status", StringType)))
    assert(ExpressionService.validateFilter("status != 'x'", schema).isRight)
    assert(ExpressionService.validateFilter("ghost > 1", schema).isLeft)
  }

  test("matches patterns are held to the reference's RE2 dialect") {
    val schema = StructType(Seq(StructField("status", StringType)))
    def validate(expr: String) = ExpressionService.validateFilter(expr, schema)
    // RE2-safe patterns validate
    assert(validate("""status matches '^ok[0-9]+$'""").isRight)
    assert(validate("""status matches 'a{2,3}(?:x|y)*\\d+'""").isRight)
    assert(validate("""status matches '(?P<name>ab)c'""").isRight)
    // Java-only constructs are rejected at validation time, naming the construct
    val look = validate("""status matches 'ok(?=done)'""")
    assert(look.isLeft && look.swap.exists(_.contains("lookahead")))
    assert(validate("""status matches '(?<=a)b'""").swap.exists(_.contains("lookbehind")))
    assert(validate("""status matches '(a)\\1'""").swap.exists(_.contains("backreference")))
    assert(validate("""status matches 'a*+b'""").swap.exists(_.contains("possessive")))
    assert(validate("""status matches '(?>ab)c'""").swap.exists(_.contains("atomic")))
    assert(validate("""status matches '(?<name>ab)'""").swap.exists(_.contains("named group")))
    // escaped / in-class spellings of the same characters stay legal
    assert(validate("""status matches 'a\\*\\+b'""").isRight)
    assert(validate("""status matches '[+*?]'""").isRight)
  }

  test("versioned transform routes rows by schema version") {
    val df = Seq(
      ("v1", "Click", 10L), ("v2", "View", 20L), ("v9", "Drop", 30L)
    ).toDF("ver", "etype", "n")
    val rules = Map(
      "v1" -> Seq(TransformOp.Rule("upper(etype)", "label", "string"),
        TransformOp.Rule("n", "n", "int64")),
      "v2" -> Seq(TransformOp.Rule("lower(etype)", "label", "string"),
        TransformOp.Rule("n * 100", "n", "int64")))
    val out = VersionedTransform("ver", rules)(df).orderBy("n").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("v1", "CLICK", 10L), ("v2", "view", 2000L))) // v9 dropped
    val withPass = VersionedTransform("ver", rules, passthrough = true)(df)
    assert(withPass.count() == 3)
    assert(withPass.filter(col("ver") === "v9").head.isNullAt(1))
  }

  test("raw-frame parse: lineage columns never shadow a declared field of the same name") {
    val svc = new PipelineService(spark)
    // a kafka-shaped raw frame whose DECLARED schema also has "timestamp" —
    // common in telemetry; a duplicate column would die later as
    // AMBIGUOUS_REFERENCE in dedup/filter resolution
    val raw = Seq(
      ("""{"id":"a","timestamp":"2025-01-01"}""", java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), 0, 0L))
      .toDF("value", "timestamp", "partition", "offset")
      .select(col("value").cast("binary"), col("timestamp"), col("partition"), col("offset"))
    val topic = TopicConfig("t", schemaFields = Seq(
      FieldDef("id", "string"), FieldDef("timestamp", "string")))
    val (parsed, _) = svc.parseIfRaw(raw, topic, PipelineConfig("p", SourceConfig(topics = Seq(topic))))
    assert(parsed.columns.count(_ == "timestamp") == 1,
      s"duplicate columns: ${parsed.columns.mkString(",")}")
    // the DECLARED field wins: its value is the parsed JSON one
    assert(parsed.select("timestamp").collect().head.getString(0) == "2025-01-01")
    // lineage columns without a collision still pass through
    assert(parsed.columns.contains("partition") && parsed.columns.contains("offset"))
  }

  test("streaming pipeline compile: filter + windowed dedup + transform") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val cfg = PipelineConfig(
      pipelineId = "stream-e2e",
      source = SourceConfig(topics = Seq(TopicConfig("ev",
        deduplication = Some(DedupConfig(enabled = true, idField = "k",
          timeWindow = "1h", timeField = Some("ts")))))),
      filter = Some(FilterConfig("status != 'failed'")),
      transform = Some(TransformConfig(Seq(
        TransformRule("upper(k)", "k", "string"),
        TransformRule("n * 2", "n2", "int64")))))
    val mem = MemoryStream[(String, String, java.sql.Timestamp, Long)]
    val src = mem.toDF.toDF("k", "status", "ts", "n")
    val q = PipelineCompiler.streaming(cfg, src)
      .writeStream.format("memory").queryName("pipe_stream")
      .outputMode("append").start()
    mem.addData(
      ("a", "ok", t("2025-01-01 10:00:00"), 1L),
      ("a", "ok", t("2025-01-01 10:10:00"), 2L),   // dup within 1h → dropped
      ("b", "failed", t("2025-01-01 10:00:00"), 3L), // filtered
      ("c", "ok", t("2025-01-01 10:00:00"), 4L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("pipe_stream").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq(("A", 2L), ("C", 8L)))
  }
}
