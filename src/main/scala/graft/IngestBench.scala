package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.PipelineCompiler
import graft.sink.SinkMapper
import graft.sink.SinkMapper.ColumnMapping
import graft.sources.JsonIngest
import graft.types.EngineSchema

/** Ingest-only throughput benchmark matching BASELINE.md's workload shape:
  * ~1.5 KB flat telemetry-log JSON (~35 fields, dotted k8s keys, RFC3339
  * timestamps) through the full ingest pipeline — JSON parse + schema
  * validation → typed ClickHouse column mapping → sink (noop write, since
  * no broker/ClickHouse exists in this environment; the reference's number
  * includes Kafka+NATS+CH IO, ours measures the engine compute path at the
  * same event shape).
  *
  * Events are synthesized with codegen'd string expressions (no driver-side
  * generation, no IO), so the measurement is dominated by parse+map — the
  * part the engine owns.
  */
object IngestBench {

  /** Declared source schema: the benchmark event's fields (telemetry-log
    * shape per BASELINE.md / reference performance doc). */
  val fields: Seq[(String, String)] = Seq(
    "event_id" -> "string", "@version" -> "int", "port" -> "int",
    "timestamp" -> "string", "received_at" -> "string", "host" -> "string",
    "level" -> "string", "logger_name" -> "string", "thread_name" -> "string",
    "message" -> "string", "status" -> "string", "duration_ms" -> "float",
    "client_ip" -> "string", "method" -> "string", "path" -> "string",
    "user_agent" -> "string", "kubernetes.pod.name" -> "string",
    "kubernetes.namespace" -> "string", "kubernetes.node" -> "string",
    "container.image.name" -> "string", "container.id" -> "string",
    "service" -> "string", "env" -> "string", "region" -> "string",
    "zone" -> "string", "team" -> "string", "build" -> "string",
    "commit" -> "string", "trace_id" -> "string", "span_id" -> "string",
    "sampled" -> "bool", "retries" -> "int", "bytes_in" -> "int",
    "bytes_out" -> "int", "tags" -> "array")

  val mappings: Seq[ColumnMapping] = Seq(
    ColumnMapping("event_id", "event_id", "String"),
    ColumnMapping("timestamp", "ts", "DateTime"),
    ColumnMapping("host", "host", "LowCardinality(String)"),
    ColumnMapping("level", "level", "LowCardinality(String)"),
    ColumnMapping("message", "message", "String"),
    ColumnMapping("status", "status", "LowCardinality(String)"),
    ColumnMapping("duration_ms", "duration_ms", "Float64"),
    ColumnMapping("kubernetes.pod.name", "pod", "String"),
    ColumnMapping("container.image.name", "image", "String"),
    ColumnMapping("retries", "retries", "Int32"),
    ColumnMapping("bytes_in", "bytes_in", "Int64"),
    ColumnMapping("bytes_out", "bytes_out", "Int64"))

  /** ~1.5 KB event JSON with per-row variation, built from any `id` long
    * column (batch range or a streaming rate source). */
  def jsonFor(ids: DataFrame): DataFrame = {
    val pad = "x" * 700 // static filler to reach the ~1.5 KB baseline shape
    ids.select(concat(
      lit("""{"event_id":"ev-"""), col("id"),
      lit("""","@version":1,"port":"""), (col("id") % 65535),
      lit(""","timestamp":"2025-06-01T10:"""),
      lpad(expr("id div 60 % 60").cast("string"), 2, "0"), lit(":"),
      lpad((col("id") % 60).cast("string"), 2, "0"),
      lit("""Z","received_at":"2025-06-01T10:00:00Z","host":"node-"""), col("id") % 100,
      lit("""","level":"INFO","logger_name":"api.server","thread_name":"worker-"""), col("id") % 8,
      lit("""","message":"request processed '"""), lit(pad),
      lit("""'","status":"ok","duration_ms":"""), round((col("id") % 1000) / 7.0, 3),
      lit(""","client_ip":"10.0."""), col("id") % 256, lit("."), expr("id div 256 % 256"),
      lit("""","method":"GET","path":"/api/v1/items/"""), col("id") % 10000,
      lit("""","user_agent":"Mozilla/5.0 (X11; Linux x86_64) Chrome/120.0",""" +
        """"kubernetes.pod.name":"api-"""), col("id") % 50,
      lit("""","kubernetes.namespace":"prod","kubernetes.node":"n"""), col("id") % 30,
      lit("""","container.image.name":"registry/api:1.2.3","container.id":"c"""), col("id"),
      lit("""","service":"api","env":"prod","region":"us-east-1","zone":"a",""" +
        """"team":"core","build":"2025.06.01","commit":"abc123","trace_id":"t"""), col("id"),
      lit("""","span_id":"s"""), col("id"),
      lit("""","sampled":true,"retries":0,"bytes_in":"""), col("id") % 4096,
      lit(""","bytes_out":"""), col("id") % 16384,
      lit(""","tags":["prod","api"]}""")
    ).as("value"))
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = LocalSession()

    /** Run the ingest pipeline over `events` synthetic events; returns
      * events/sec. Both scopes validate every declared field; they differ
      * in the string fields parsed:
      *   - pruneToMapped=true: the parse holds every non-string field plus
      *     the mapped string fields (`JsonIngest.ingest`'s `read`), the
      *     parse a config-started pipeline runs;
      *   - pruneToMapped=false: all 35 declared fields are parsed, the
      *     reference's gjson-validate-everything shape and the
      *     apples-to-apples BASELINE.md number. */
    def run(events: Long, pruneToMapped: Boolean = true): Double = {
      val schema = EngineSchema.structFor(fields)
      val read =
        if (pruneToMapped) Some(PipelineCompiler.fieldsRead(schema, Nil, mappings.map(_.sourceField)))
        else None
      val t0 = System.nanoTime()
      val raw = jsonFor(spark.range(events).toDF("id"))
      val (valid, _) = JsonIngest.ingest(raw, "value", schema, read = read)
      SinkMapper(mappings)(valid)
        .write.format("noop").mode("overwrite").save()
      events / ((System.nanoTime() - t0) / 1e9)
    }

    // Warm BOTH parse paths before measuring either — the JSON parse path
    // needs substantial JIT warm-up (~500k events), and measuring one scope
    // while only the other is warm skews the comparison. Measurements then
    // alternate pruned/full twice, best-of-two per scope, so continuing JIT
    // drift over the run can't systematically favor whichever went last.
    val warm = math.min(n, 500000L)
    run(warm); run(warm, pruneToMapped = false)
    val rates = (0 until 2).map { _ =>
      System.gc()
      val p = run(n)
      System.gc()
      val f = run(n, pruneToMapped = false)
      (p, f)
    }
    val pruned = rates.map(_._1).max
    val full = rates.map(_._2).max
    // Headline = full-parse rate: all 35 declared fields parsed per record,
    // matching the reference's gjson-validate-everything semantics — the
    // apples-to-apples BASELINE.md number.
    println(f"""{"metric":"ingest_throughput","value":$full%.0f,"unit":"events_per_sec","n":$n,""" +
      f""""pruned_schema_events_per_sec":$pruned%.0f,""" +
      """"note":"value=all 35 declared fields type-validated per record (reference validation semantics); pruned_schema=parse of the non-string and mapped fields, same validation"}""")
    spark.stop()
  }
}
