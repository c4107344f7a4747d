package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSpec
import graft.pipeline.PipelineService

class ApiServerSpec extends SparkSpec {

  private lazy val dlqRoot = java.nio.file.Files.createTempDirectory("api_dlq").toString
  /** The one topic frame every config start on [[service]] reads. */
  private lazy val source = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    MemoryStream[String]
  }
  // the live connectors are replaced through the service's seams: Kafka by
  // `source`, ClickHouse by a fresh memory sink per start
  private lazy val service = new PipelineService(spark, dlqRoot = Some(dlqRoot),
    sourceReader = (_, _) => source.toDF.toDF("k"),
    sinkAttach = (df, _, _, _) => df.writeStream.format("memory")
      .queryName(s"rsm_${System.nanoTime()}").outputMode("append"))
  private lazy val server = new ApiServer(spark, service)
  private lazy val port = server.start()
  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build())
  private def post(path: String, body: String): (Int, String) = send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
  private def delete(path: String): (Int, String) = send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).DELETE().build())
  private def send(r: HttpRequest): (Int, String) = {
    val resp = client.send(r, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private val cfgJson =
    """{"pipeline_id": "api-p1",
      |  "source": {"topics": [{"name": "t",
      |    "schema_fields": [{"name": "status", "type": "string"}]}]},
      |  "filter": {"expression": "status != 'failed'"}}""".stripMargin

  test("healthz") {
    assert(get("/healthz") == (200, """{"status":"ok"}"""))
    assert(get("/api/v1/healthz") == (200, """{"status":"ok"}"""))
  }

  test("pipeline create / get / list / terminate / delete round-trip") {
    val (c1, b1) = post("/api/v1/pipeline", cfgJson)
    assert(c1 == 201 && b1.contains("api-p1"))
    assert(post("/api/v1/pipeline", cfgJson)._1 == 400) // duplicate

    val (c2, b2) = get("/api/v1/pipeline/api-p1")
    assert(c2 == 200 && b2.contains("\"status\":\"Created\"")
      && b2.contains("status != 'failed'"))

    val (c3, b3) = get("/api/v1/pipeline")
    assert(c3 == 200 && b3.contains("api-p1"))

    assert(post("/api/v1/pipeline/api-p1/terminate", "")._1 == 200)
    assert(delete("/api/v1/pipeline/api-p1")._1 == 200)
    assert(get("/api/v1/pipeline/api-p1")._1 == 404)
  }

  private def patch(path: String, body: String): (Int, String) = send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method("PATCH", HttpRequest.BodyPublishers.ofString(body)).build())

  test("platform, v2 healthz, openapi routes") {
    val (c, b) = get("/api/v1/platform")
    assert(c == 200 && b.contains("\"platform\":\"spark\"") && b.contains("spark_version"))
    assert(b.contains("\"orchestrator\":\"local\""), "reference clients read this key")
    assert(get("/api/v2/healthz")._2.contains("\"version\":\"v2\""))
    val (cd, bd) = get("/api/v1/openapi.json")
    assert(cd == 200 && bd.contains("/api/v1/pipeline/{id}/resume"))
  }

  test("edit, metadata patch, health, resources round-trip") {
    val cfg =
      """{"pipeline_id": "api-p2",
        |  "source": {"topics": [{"name": "t"}]},
        |  "filter": {"expression": "x > 1"}}""".stripMargin
    assert(post("/api/v1/pipeline", cfg)._1 == 201)

    // edit replaces the config of a non-running pipeline
    val edited =
      """{"pipeline_id": "api-p2",
        |  "source": {"topics": [{"name": "t2"}]}}""".stripMargin
    assert(post("/api/v1/pipeline/api-p2/edit", edited)._1 == 200)
    assert(get("/api/v1/pipeline/api-p2")._2.contains("\"t2\""))
    // pipeline_id may not change on edit
    assert(post("/api/v1/pipeline/api-p2/edit",
      edited.replace("api-p2", "other"))._1 == 400)

    // name/metadata patch
    assert(patch("/api/v1/pipeline/api-p2/metadata",
      """{"name": "Renamed", "metadata": {"team": "core"}}""")._1 == 200)
    val got = get("/api/v1/pipeline/api-p2")._2
    assert(got.contains("\"Renamed\"") && got.contains("\"team\":\"core\""))

    // health: registered but never started
    val (hc, hb) = get("/api/v1/pipeline/api-p2/health")
    assert(hc == 200 && hb.contains("\"status\":\"Created\""))

    // resources: defaults, then a validated merge-patch
    val (rc, rb) = get("/api/v1/pipeline/api-p2/resources")
    assert(rc == 200 && rb.contains("\"sink\"") && rb.contains("\"cpu_request\":\"1\""))
    val (pc, pb) = patch("/api/v1/pipeline/api-p2/resources",
      """{"sink": {"cpu_request": "2", "memory_request": "2Gi", "replicas": 4}}""")
    assert(pc == 200 && pb.contains("\"replicas\":4"))
    assert(patch("/api/v1/pipeline/api-p2/resources",
      """{"sink": {"replicas": 0}}""")._1 == 400)
    assert(patch("/api/v1/pipeline/api-p2/resources",
      """{"ghost": {"replicas": 1}}""")._1 == 400)
    val (vc, vb) = get("/api/v1/pipeline/api-p2/resources/validation")
    assert(vc == 200 && vb.contains("\"valid\":true"))

    // resume before any start is a clean error
    assert(post("/api/v1/pipeline/api-p2/resume", "")._1 == 400)
    assert(delete("/api/v1/pipeline/api-p2")._1 == 200)
  }

  test("migrate-preview is a pure v2 -> v3 transform") {
    val v2 =
      """{"pipeline_id": "mp1",
        |  "source": {"topics": [{"name": "orders",
        |    "schema_fields": [{"name": "id", "type": "string"}],
        |    "deduplication": {"enabled": true, "id_field": "id", "time_window": "1h"}}]},
        |  "filter": {"expression": "id != ''"},
        |  "transform": {"rules": [
        |    {"expression": "upper(id)", "output_name": "id_u", "output_type": "string"}]},
        |  "sink": {"table": "out", "table_mapping": [
        |    {"field_name": "id_u", "column_name": "id", "column_type": "String"}]}}""".stripMargin
    val (c, b) = post("/api/v1/pipeline/migrate-preview", v2)
    assert(c == 200)
    assert(b.contains("\"version\":\"v3\""))
    assert(b.contains("\"type\":\"dedup\"") && b.contains("\"type\":\"filter\"")
      && b.contains("\"type\":\"stateless\""))
    assert(b.contains("\"source_id\":\"orders\""))
    assert(b.contains("\"column_type\":\"String\""))
    // nothing was created
    assert(get("/api/v1/pipeline/mp1")._1 == 404)
  }

  test("resume restarts a stopped pipeline over http") {
    val cfg =
      """{"pipeline_id": "api-p3",
        |  "source": {"brokers": ["broker:9092"], "topics": [{"name": "t"}]},
        |  "sink": {"url": "jdbc:ch://ch:8123", "table": "out"}}""".stripMargin
    assert(post("/api/v1/pipeline", cfg)._1 == 201)
    assert(post("/api/v1/pipeline/api-p3/start", "")._1 == 200)
    assert(get("/api/v1/pipeline/api-p3/health")._2.contains("\"status\":\"Running\""))
    assert(post("/api/v1/pipeline/api-p3/stop", "")._1 == 200)
    assert(post("/api/v1/pipeline/api-p3/resume", "")._1 == 200)
    val h = get("/api/v1/pipeline/api-p3/health")._2
    assert(h.contains("\"status\":\"Running\"") && h.contains("\"query_active\":true"))
    assert(post("/api/v1/pipeline/api-p3/terminate", "")._1 == 200)
    assert(delete("/api/v1/pipeline/api-p3")._1 == 200)
  }

  test("malformed create body is a clean 400") {
    val (code, body) = post("/api/v1/pipeline", "this is not json {")
    assert(code == 400 && body.contains("error"))
  }

  test("filter validation endpoint") {
    val good = post("/api/v1/filter/validate",
      """{"expression": "status != 'x' && n > 1",
        |  "schema_fields": [{"name":"status","type":"string"},{"name":"n","type":"int64"}]}""".stripMargin)
    assert(good == (200, """{"valid":true}"""))
    val bad = post("/api/v1/filter/validate",
      """{"expression": "ghost > 1",
        |  "schema_fields": [{"name":"status","type":"string"}]}""".stripMargin)
    assert(bad._1 == 400 && bad._2.contains("unknown field"))
  }

  test("transform evaluation endpoint runs the real engine on a sample") {
    val (code, body) = post("/api/v1/transform/expression/evaluate",
      """{"rules": [
        |   {"expression": "upper(name)", "output_name": "name_u", "output_type": "string"},
        |   {"expression": "n * 2", "output_name": "n2", "output_type": "int64"}],
        | "sample": {"name": "ada", "n": 21}}""".stripMargin)
    assert(code == 200 && body == """{"name_u":"ADA","n2":42}""")
  }

  test("dlq endpoints over http, confined to the configured root") {
    import spark.implicits._
    graft.sink.Dlq.writeParquet(s"$dlqRoot/d")(
      graft.sink.Dlq.envelope("sink", "Code: 53")(Seq(("x", 1)).toDF("id", "n")))
    val (c1, b1) = get("/api/v1/dlq/state?path=d")
    assert(c1 == 200 && b1 == """{"rows":1,"acked":0,"pending":1}""")
    // consume-then-ack advances the durable cursor
    assert(get("/api/v1/dlq/consume?path=d&limit=10")._2.contains("""{\"id\":\"x\""""))
    assert(post("/api/v1/dlq/ack?path=d&count=1", "")._2 == """{"acked":1}""")
    assert(get("/api/v1/dlq/state?path=d")._2 == """{"rows":1,"acked":1,"pending":0}""")
    // out-of-root paths are refused, never touched
    assert(post("/api/v1/dlq/purge?path=/tmp", "")._1 == 400)
    assert(post("/api/v1/dlq/purge?path=d/../../etc", "")._1 == 400)
    assert(post("/api/v1/dlq/purge?path=d", "")._1 == 200)
    assert(get("/api/v1/dlq/state?path=d")._2 == """{"rows":0,"acked":0,"pending":0}""")
  }

  test("per-pipeline dlq routes resolve the queue server-side from the id") {
    import spark.implicits._
    val cfg =
      """{"pipeline_id": "api-dlq1",
        |  "source": {"topics": [{"name": "t"}]}}""".stripMargin
    assert(post("/api/v1/pipeline", cfg)._1 == 201)
    graft.sink.Dlq.writeParquet(s"$dlqRoot/api-dlq1")(
      graft.sink.Dlq.envelope("sink", "Code: 53")(Seq(("y", 2)).toDF("id", "n")))

    val (c1, b1) = get("/api/v1/pipeline/api-dlq1/dlq/state")
    assert(c1 == 200 &&
      b1 == """{"pipeline_id":"api-dlq1","rows":1,"acked":0,"pending":1}""")
    assert(get("/api/v1/pipeline/api-dlq1/dlq/consume?limit=5")._2.contains("""{\"id\":\"y\""""))
    assert(post("/api/v1/pipeline/api-dlq1/dlq/ack?count=1", "")._2 == """{"acked":1}""")
    assert(get("/api/v1/pipeline/api-dlq1/dlq/state")._2.contains("\"pending\":0"))
    assert(post("/api/v1/pipeline/api-dlq1/dlq/purge", "")._1 == 200)
    // unknown pipeline → 404, and no path parameter exists to abuse
    assert(get("/api/v1/pipeline/ghost/dlq/state")._1 == 404)
    assert(post("/api/v1/pipeline/ghost/dlq/purge", "")._1 == 404)
    assert(delete("/api/v1/pipeline/api-dlq1")._1 == 200)
  }

  test("otlp-config internal route reports dedup-driven routing") {
    val cfg =
      """{"pipeline_id": "api-otlp1",
        |  "source": {"kind": "otlp", "topics": [{"name": "t",
        |    "deduplication": {"enabled": true, "id_field": "trace_id"}}]}}""".stripMargin
    assert(post("/api/v1/pipeline", cfg)._1 == 201)
    val (c, b) = get("/internal/pipelines/api-otlp1/otlp-config")
    assert(c == 200)
    assert(b.contains("\"pipeline_id\":\"api-otlp1\""))
    assert(b.contains("\"source_type\":\"otlp\""))
    assert(b.contains("\"type\":\"field\""))
    assert(b.contains("\"name\":\"trace_id\""))
    assert(b.contains("-otlp-out"))
    // no dedup → random routing over sink replicas
    val cfg2 =
      """{"pipeline_id": "api-otlp2",
        |  "source": {"topics": [{"name": "t"}]}}""".stripMargin
    assert(post("/api/v1/pipeline", cfg2)._1 == 201)
    val b2 = get("/internal/pipelines/api-otlp2/otlp-config")._2
    assert(b2.contains("\"type\":\"random\"") && b2.contains("\"source_type\":\"kafka\""))
    assert(get("/internal/pipelines/ghost/otlp-config")._1 == 404)
    assert(delete("/api/v1/pipeline/api-otlp1")._1 == 200)
    assert(delete("/api/v1/pipeline/api-otlp2")._1 == 200)
  }

  test("create accepts the reference's actual demo pipeline file over the wire") {
    val demo = java.nio.file.Paths.get(
      "/root/reference/demos/fraud-detection/glassflow/fraud_detection_pipeline.json")
    assume(java.nio.file.Files.exists(demo))
    val body = new String(java.nio.file.Files.readAllBytes(demo), "UTF-8")
    val (c, b) = post("/api/v1/pipeline", body)
    assert(c == 201, b)
    assert(b.contains("fraud-detection-logins-tested"))
    val (gc, gb) = get("/api/v1/pipeline/fraud-detection-logins-tested")
    assert(gc == 200 && gb.contains("status != 'failed'"))
    assert(delete("/api/v1/pipeline/fraud-detection-logins-tested")._1 == 200)
  }
}
