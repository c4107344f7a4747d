package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("schema registry wire-format prefix is stripped, schema id extracted") {
    val framed = Array[Byte](0, 0, 0, 1, 42) ++ """{"a":1}""".getBytes("UTF-8")
    val unframed = """{"a":2}""".getBytes("UTF-8")
    val df = Seq(Tuple1(framed), Tuple1(unframed)).toDF("value")
    val (payload, schemaId) = JsonIngest.stripSchemaRegistryPrefix(col("value"))
    val out = df.select(payload.as("p"), schemaId.as("id")).collect()
    assert(out(0).getString(0) == """{"a":1}""")
    assert(out(0).getLong(1) == 298L) // 0x0000012A = 298
    assert(out(1).getString(0) == """{"a":2}""")
    assert(out(1).isNullAt(1))
  }

  test("json ingest splits corrupt rows to DLQ") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("n", LongType)))
    val df = Seq(
      """{"id":"a","n":1}""",
      """not json at all""",
      """{"unrelated":true}""",
      """{"id":null,"n":null}""",
      """{"id":"d","n":"NaN-ish"}"""
    ).toDF("value")
    val (good, dlq) = JsonIngest.ingest(df, "value", schema)
    // declared-fields-present-but-null is valid (explicit null ≠ absent);
    // malformed, no-declared-fields, and type-mismatch rows dead-letter
    assert(good.collect().map(_.getString(0)).toSeq.sortBy(String.valueOf(_)) ==
      Seq(null, "a").sortBy(String.valueOf(_)))
    val dlqRows = dlq.collect().map(_.getString(0)).toSeq
    assert(dlqRows.length == 3 && dlqRows.contains("not json at all")
      && dlqRows.contains("""{"unrelated":true}""")
      && dlqRows.contains("""{"id":"d","n":"NaN-ish"}"""))
  }

  test("json ingest corrupt split works mid-stream (foreachBatch over MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val mem = MemoryStream[String]
    val goodRows = new java.util.concurrent.atomic.AtomicLong
    val dlqRows = new java.util.concurrent.atomic.AtomicLong
    val q = mem.toDF().withColumnRenamed("value", "payload")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val (good, dlq) = JsonIngest.ingest(batch, "payload", schema)
        goodRows.addAndGet(good.count())
        dlqRows.addAndGet(dlq.count())
        ()
      }.start()
    try {
      mem.addData("""{"id":1,"v":"a"}""", """not json at all""", """{"id":"x","v":2}""")
      q.processAllAvailable()
      mem.addData("""{"id":2,"v":"b"}""")
      q.processAllAvailable()
    } finally q.stop()
    assert(goodRows.get() == 2, "two clean records pass")
    assert(dlqRows.get() == 2, "corrupt json and type-broken record dead-letter")
  }

  test("schema registry: json-schema parse flattens nested objects to dotted names") {
    val schema =
      """{"type": "object", "properties": {
        |  "id": {"type": "string"},
        |  "count": {"type": "integer"},
        |  "score": {"type": ["number", "null"]},
        |  "tags": {"type": "array"},
        |  "kubernetes": {"type": "object", "properties": {
        |    "pod": {"type": "object", "properties": {"name": {"type": "string"}}},
        |    "namespace": {"type": "string"}}},
        |  "untyped": {}
        |}}""".stripMargin
    val fields = SchemaRegistry.parseJsonSchema(schema).toOption.get.toMap
    assert(fields == Map(
      "id" -> "string", "count" -> "integer", "score" -> "number",
      "tags" -> "array", "kubernetes.pod.name" -> "string",
      "kubernetes.namespace" -> "string"))
    assert(SchemaRegistry.parseJsonSchema("""{"type": "string"}""").isLeft)
    assert(SchemaRegistry.parseJsonSchema("""{"type": "object"}""").isLeft)
  }

  test("schema registry: fetch-by-id + backward-compat accept flow") {
    def registryBody(schema: String) =
      s"""{"schemaType": "JSON", "schema": ${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(schema)}}"""
    val v1 = """{"type":"object","properties":{"id":{"type":"string"},"n":{"type":"integer"}}}"""
    val compatible = """{"type":"object","properties":{"id":{"type":"string"},"n":{"type":"int64"},"extra":{"type":"string"}}}"""
    val incompatible = """{"type":"object","properties":{"id":{"type":"integer"},"n":{"type":"integer"}}}"""
    val responses = Map(
      "/schemas/ids/2" -> registryBody(compatible),
      "/schemas/ids/3" -> registryBody(incompatible),
      "/schemas/ids/4" -> """{"schema": "{}"}""") // no schemaType → AVRO → rejected
    val http: SchemaRegistry.Http = url =>
      responses.collectFirst { case (suffix, body) if url.endsWith(suffix) => body }
        .toRight(s"schema not found: $url")
    val client = SchemaRegistry.client(SchemaRegistry.Config("http://sr:8081"), http)

    val store = new SchemaRegistry.VersionStore(client)
    store.register(1L, Seq("id" -> "string", "n" -> "integer"))
    assert(store.accept(1L).isRight)                 // known: cached
    val accepted = store.accept(2L)                  // new, compatible: accepted
    assert(accepted.toOption.get.toMap.apply("extra") == "string")
    assert(store.knownVersions == Set(1L, 2L))
    // int64 normalizes to the same engine type as integer → 2 is now latest;
    // 3 changes id's type → rejected
    assert(store.accept(3L).swap.exists(_.contains("not backward compatible")))
    assert(store.accept(4L).swap.exists(_.contains("expected JSON")))
    assert(store.accept(99L).swap.exists(_.contains("not found")))
    assert(store.knownVersions == Set(1L, 2L))
  }

  test("schema pruning keeps mapped fields and dotted-name roots") {
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", LongType),
      StructField("k.pod.name", StringType), StructField("unused", StringType),
      StructField("user", StructType(Seq(StructField("id", StringType))))))
    // a dotted name reads its literal column, else its root segment
    val read = graft.pipeline.PipelineCompiler.fieldsRead(schema, Nil,
      Seq("a", "k.pod.name", "user.id"))
    assert(read == Set("a", "k.pod.name", "user"))
    // the valid frame returns only what is read; the unread non-string
    // field `b` is still validated
    val (good, bad) = JsonIngest.ingest(Seq(
      """{"a":"x","b":1,"k.pod.name":"p","unused":"u","user":{"id":"7"}}""",
      """{"a":"y","b":"not a long"}""").toDF("v"), "v", schema, read = Some(read))
    assert(good.columns.toSeq == Seq("a", "k.pod.name", "user"))
    assert(good.collect().map(_.toSeq).toSeq == Seq(Seq("x", "p", org.apache.spark.sql.Row("7"))))
    assert(bad.collect().map(_.getString(0)).toSeq == Seq("""{"a":"y","b":"not a long"}"""))
  }
}
