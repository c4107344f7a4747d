package perfbench

/** Seeded inputs. The engine only ever sees the generated records. */
object Events {

  /** splitmix64: a stateless hash, so any event can be regenerated from
    * (seed, partition, offset) on the broker side. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def idx(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt

  // ---------------------------------------------------------- telemetry

  /** The BASELINE telemetry shape: 35 fields, ~1.5 KB of JSON. */
  val telemetryFields: Seq[(String, String)] = Seq(
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

  /** The 12-column mapping: (field, column, ClickHouse type). */
  val telemetryMapping: Seq[(String, String, String)] = Seq(
    ("event_id", "event_id", "String"), ("timestamp", "ts", "DateTime"),
    ("host", "host", "LowCardinality(String)"), ("level", "level", "LowCardinality(String)"),
    ("message", "message", "String"), ("status", "status", "LowCardinality(String)"),
    ("duration_ms", "duration_ms", "Float64"), ("kubernetes.pod.name", "pod", "String"),
    ("container.image.name", "image", "String"), ("retries", "retries", "Int32"),
    ("bytes_in", "bytes_in", "Int64"), ("bytes_out", "bytes_out", "Int64"))

  private val levels = Array("INFO", "INFO", "INFO", "WARN", "ERROR", "DEBUG")
  private val methods = Array("GET", "GET", "POST", "PUT", "DELETE")
  private val statuses = Array("ok", "ok", "ok", "error", "timeout")
  private val pad = "x" * 690

  /** One telemetry event, a pure function of (seed, partition, offset). */
  def telemetry(seed: Long, partition: Int, offset: Long): String = {
    val h = mix(seed * 31 + partition * 1000003L + offset)
    val h2 = mix(h)
    val sec = idx(h, 86400)
    val sb = new java.lang.StringBuilder(1600)
    sb.append("{\"event_id\":\"ev-").append(partition).append('-').append(offset)
      .append("\",\"@version\":1,\"port\":").append(idx(h2, 65535))
      .append(",\"timestamp\":\"2025-06-01T")
    def two(n: Int): Unit = { if (n < 10) sb.append('0'); sb.append(n); () }
    two(sec / 3600); sb.append(':'); two(sec / 60 % 60); sb.append(':'); two(sec % 60)
    sb.append("Z\",\"received_at\":\"2025-06-01T00:00:00Z\",\"host\":\"node-").append(idx(h, 100))
      .append("\",\"level\":\"").append(levels(idx(h2 >>> 8, levels.length)))
      .append("\",\"logger_name\":\"api.server\",\"thread_name\":\"worker-").append(idx(h >>> 12, 8))
      .append("\",\"message\":\"request processed '").append(pad).append(idx(h2, 1000000))
      .append("'\",\"status\":\"").append(statuses(idx(h >>> 20, statuses.length)))
      .append("\",\"duration_ms\":").append(idx(h2 >>> 16, 100000) / 100.0)
      .append(",\"client_ip\":\"10.0.").append(idx(h >>> 24, 256)).append('.').append(idx(h2 >>> 24, 256))
      .append("\",\"method\":\"").append(methods(idx(h >>> 28, methods.length)))
      .append("\",\"path\":\"/api/v1/items/").append(idx(h >>> 32, 10000))
      .append("\",\"user_agent\":\"Mozilla/5.0 (X11; Linux x86_64) Chrome/120.0\",\"kubernetes.pod.name\":\"api-")
      .append(idx(h >>> 36, 50))
      .append("\",\"kubernetes.namespace\":\"prod\",\"kubernetes.node\":\"n").append(idx(h >>> 40, 30))
      .append("\",\"container.image.name\":\"registry/api:1.2.").append(idx(h2 >>> 40, 4))
      .append("\",\"container.id\":\"c").append(partition).append('-').append(offset)
      .append("\",\"service\":\"api\",\"env\":\"prod\",\"region\":\"us-east-1\",\"zone\":\"a\",")
      .append("\"team\":\"core\",\"build\":\"2025.06.01\",\"commit\":\"abc123\",\"trace_id\":\"t")
      .append(java.lang.Long.toHexString(h)).append("\",\"span_id\":\"s").append(java.lang.Long.toHexString(h2))
      .append("\",\"sampled\":").append((h & 1) == 0).append(",\"retries\":").append(idx(h2 >>> 44, 4))
      .append(",\"bytes_in\":").append(idx(h >>> 44, 4096)).append(",\"bytes_out\":").append(idx(h2 >>> 48, 16384))
      .append(",\"tags\":[\"prod\",\"api\"]}")
    sb.toString
  }

  // ------------------------------------------------------ stream_dedup

  val clickFields: Seq[(String, String)] = Seq(
    "id" -> "string", "user" -> "string", "kind" -> "string", "status" -> "string",
    "amount" -> "float", "region" -> "string", "note" -> "string")

  /** Regions fit the table's FixedString(2) column; the poison value does
    * not, so the server rejects its row and the sink dead-letters it. */
  val regions = Array("eu", "us", "ap")
  val poisonRegion = "europe-west"
  private val kinds = Array("click", "view", "buy")

  final case class Click(id: String, partition: Int, payload: String,
                         malformed: Boolean, filtered: Boolean, poison: Boolean)

  /** What the pipeline must do with a planned stream, computed from the
    * plan alone: filter → first-seen dedup by id → sink. */
  final case class Expected(total: Long, malformed: Long, filtered: Long, deduped: Long,
                            sinkDlq: Long, inserted: Long, insertedIds: Set[String])

  /** Shares of the planned stream, fixed for every seed. */
  val MalformedShare = 0.01
  val DuplicateShare = 0.15
  val FilteredShare = 0.10

  /** `n` events from `seed`. A duplicate is an exact copy of an earlier
    * valid event, as a producer retry sends it. The events at `poisonAt`
    * are new, pass the filter and carry the region the table rejects:
    * each sends its batch down the sink's row-isolation path, so their
    * number and place are fixed rather than drawn. */
  def clicks(seed: Long, n: Int, partitions: Int, poisonAt: Set[Int]): IndexedSeq[Click] = {
    val rnd = new scala.util.Random(seed)
    val out = new scala.collection.mutable.ArrayBuffer[Click](n)
    val valid = new scala.collection.mutable.ArrayBuffer[Click]()
    val notePad = "n" * 120
    (0 until n).foreach { i =>
      val r = rnd.nextDouble()
      val c =
        if (r < MalformedShare && !poisonAt(i))
          Click(s"m$i", rnd.nextInt(partitions), s"""{"id": "m$i", "user": not json {""",
            malformed = true, filtered = false, poison = false)
        else if (r < MalformedShare + DuplicateShare && valid.nonEmpty && !poisonAt(i))
          valid(rnd.nextInt(valid.size))
        else {
          val id = s"c$seed-$i"
          val poison = poisonAt(i)
          val failed = rnd.nextDouble() < FilteredShare && !poison
          val region = if (poison) poisonRegion else regions(rnd.nextInt(regions.length))
          val kind = kinds(rnd.nextInt(kinds.length))
          val payload = s"""{"id":"$id","user":"u-${rnd.nextInt(5000)}","kind":"$kind",""" +
            s""""status":"${if (failed) "failed" else "ok"}","amount":${rnd.nextInt(100000) / 100.0},""" +
            s""""region":"$region","note":"$notePad${rnd.nextInt(1000000)}"}"""
          val v = Click(id, idx(mix(id.hashCode.toLong), partitions), payload,
            malformed = false, filtered = failed, poison = poison)
          valid += v
          v
        }
      out += c
    }
    out.toIndexedSeq
  }

  def expected(plan: Seq[Click]): Expected = {
    val malformed = plan.count(_.malformed)
    val passing = plan.filter(c => !c.malformed && !c.filtered)
    val kept = passing.groupBy(_.id).map(_._2.head)
    val sinkDlq = kept.count(_.poison)
    Expected(plan.size, malformed, plan.count(c => !c.malformed && c.filtered),
      passing.size - kept.size, sinkDlq, kept.size - sinkDlq,
      kept.filterNot(_.poison).map(_.id).toSet)
  }
}
