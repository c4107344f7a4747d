package graft.sink

import java.io.IOException
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}

/** ClickHouse HTTP-interface INSERT leg — the sink's wire protocol
  * (the reference reaches ClickHouse through clickhouse-go's native
  * protocol, internal/client/clickhouse.go; the HTTP interface is the
  * public, documented equivalent: POST `INSERT INTO db.table (cols)
  * FORMAT JSONEachRow` with the query and per-insert settings in URL
  * parameters, credentials in `X-ClickHouse-User`/`X-ClickHouse-Key`
  * headers, and server faults surfaced as an `X-ClickHouse-Exception-Code`
  * header plus a `Code: NNN. DB::Exception: ...` body that
  * [[ErrorClassifier]] consumes unchanged).
  *
  * Scale shape: the INSERT fans out PER SPARK PARTITION — every executor
  * task POSTs its own rows directly (chunked at [[Config.maxRowsPerPost]]
  * to bound both task memory and server-side block size), so ingest
  * bandwidth scales with the cluster and no row ever funnels through the
  * driver. A task failure rethrows the server's own error code, which
  * reaches [[ClickHouseSink.foreachBatchHandler]] wrapped in Spark's task
  * exception — exactly the chain the classifier's cause-walk handles.
  *
  * Two INSERT formats, one loop: [[Config.format]] picks the JSONEachRow
  * or the Native encoder, and [[InsertLoop]] slabs, POSTs and (isolating)
  * replays them exactly as it does for the native TCP leg.
  */
object ClickHouseHttp {

  /** A ClickHouse server fault, message formatted exactly as the server
    * formats it so [[ErrorClassifier.classify]] needs no special case.
    * `serverMessage` is the server's own text, without that prefix. */
  final case class CHServerException(code: Int, serverMessage: String)
    extends RuntimeException(s"Code: $code. DB::Exception: $serverMessage")

  /** A server error line without its `Code: N. DB::Exception: ` prefix (or
    * the bare `DB::Exception: ` the native protocol sends), so a
    * [[CHServerException]] carries it exactly once. */
  private[sink] def serverText(line: String): String =
    line.replaceFirst("^(Code:\\s*\\d+\\.\\s*)?DB::Exception:\\s*", "")

  final case class Config(
    endpoint: String,                          // http://host:8123
    database: String,
    table: String,
    username: String = "default",
    password: String = "",
    /** Per-insert settings passed as URL params (async_insert,
      * wait_for_async_insert, insert_deduplicate, ...). */
    settings: Map[String, String] = Map.empty,
    format: String = "JSONEachRow",            // or Native
    /** column → ClickHouse type, required for Native encoding
      * (JSONEachRow is self-describing; Native blocks are typed). */
    columnTypes: Map[String, String] = Map.empty,
    /** gzip the INSERT body (`Content-Encoding: gzip`, which the server
      * decompresses natively) — JSONEachRow compresses ~10×, so at scale
      * the CPU spent is bought back in network many times over. */
    compress: Boolean = false,
    maxRowsPerPost: Int = 100000,
    /** Byte budget per POST — flushes at whichever of rows/bytes trips
      * first, so wide rows cannot balloon task memory (100k × 1.5 KB rows
      * is already 150 MB; a row-count bound alone does not bound memory). */
    maxBytesPerPost: Long = 32L << 20,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 120000) extends Serializable

  /** Backquote-quote an identifier (reference quote.go — its sink quotes
    * every database/table/column identifier in the INSERT). */
  def quoteId(id: String): String =
    "`" + id.replace("\\", "\\\\").replace("`", "\\`") + "`"

  def insertQuery(c: Config, columns: Seq[String]): String =
    s"INSERT INTO ${quoteId(c.database)}.${quoteId(c.table)} " +
      s"(${columns.map(quoteId).mkString(", ")}) FORMAT ${c.format}"

  /** Settings every insert carries: Spark's JSON encoder emits ISO-8601
    * timestamps, which ClickHouse only parses under best_effort. */
  private val baseSettings = Map("date_time_input_format" -> "best_effort")

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length / 4 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    try gz.write(b) finally gz.close()
    out.toByteArray
  }

  /** POST one slab of `format`-encoded rows. Server-side faults are NOT
    * retried here — that retry policy belongs to the batch handler, which
    * knows the budget. CONNECTION-level faults (refused/reset/timeout/
    * premature EOF) get ONE bounded in-place retry first: a Spark task
    * under local[*] runs with maxFailures=1, so without it a single
    * transient socket hiccup aborts the whole job. The retry is
    * PHASE-AWARE: it is unconditional only while the fault provably
    * precedes body completion (connect refused, no route, timeout during
    * connect, reset/EOF during the request write — the body has a declared
    * Content-Length, so a server that never received all of it discards
    * the INSERT). A fault AFTER the body was fully written (a read timeout
    * or reset while awaiting/reading the response) leaves the server state
    * unknown — it may already have committed — so the resend runs only
    * when the insert carries `insert_deduplicate=1`, which absorbs an
    * exact duplicate block on Replicated engines (and on non-replicated
    * MergeTree only when `non_replicated_deduplication_window` > 0 — its
    * default 0 makes the setting inert there, which is exactly why the
    * setting's PRESENCE is the opt-in signal: a user who sets it has a
    * table where block dedup is live). Without it the response-phase
    * fault rethrows and the at-least-once engine loop owns the decision. */
  def post(c: Config, query: String, body0: Array[Byte]): Unit = {
    val bodySent = new java.util.concurrent.atomic.AtomicBoolean(false)
    try postOnce(c, query, body0, bodySent)
    catch {
      case e: Exception if isConnectionLevel(e) &&
          (!bodySent.get || dedupAbsorbsResend(c)) =>
        Thread.sleep(100) // let the hiccup pass; bounded, once
        postOnce(c, query, body0,
          new java.util.concurrent.atomic.AtomicBoolean(false))
    }
  }

  /** True when this insert's settings make an exact-duplicate resend a
    * no-op on the server (ClickHouse block-hash dedup, keyed on the insert
    * body + target — the resend reuses the identical byte slab). */
  private[sink] def dedupAbsorbsResend(c: Config): Boolean =
    c.settings.get("insert_deduplicate")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** A transport fault below the HTTP/CH protocol layer — the class of
    * error a retry can address without re-interpreting server state. A
    * parsed server error ([[CHServerException]]) is never connection-level. */
  private[sink] def isConnectionLevel(e: Throwable): Boolean = e match {
    case _: CHServerException => false
    case _: java.net.ConnectException | _: java.net.NoRouteToHostException |
         _: java.net.SocketTimeoutException | _: java.net.SocketException |
         _: java.io.EOFException => true
    case e: IOException =>
      val m = Option(e.getMessage).getOrElse("")
      m.contains("Connection reset") || m.contains("unexpected end of stream") ||
        m.contains("Premature EOF") || m.contains("Error writing to server")
    case _ => false
  }

  /** Write the full request body and flip `bodySent` the moment
    * write+flush succeed — BEFORE close(): close() can itself surface a
    * dead connection, and at that point the full Content-Length body may
    * already sit in the server's socket buffer, i.e. the insert could
    * have committed. Treating a close() fault as pre-body would resend
    * unconditionally and reopen the duplicate-insert hole the
    * phase-aware retry closes. */
  private[sink] def writeBody(os: java.io.OutputStream, body: Array[Byte],
      bodySent: java.util.concurrent.atomic.AtomicBoolean): Unit =
    try { os.write(body); os.flush(); bodySent.set(true) } finally os.close()

  /** One POST attempt. Flips `bodySent` the moment the request body is
    * fully written and flushed to the connection — from that point a
    * fault no longer proves the server didn't commit (see [[post]]). */
  private def postOnce(c: Config, query: String, body0: Array[Byte],
                       bodySent: java.util.concurrent.atomic.AtomicBoolean): Unit = {
    val params = baseSettings ++ c.settings + ("query" -> query)
    val qs = params.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString("&")
    val url = URI.create(c.endpoint.stripSuffix("/") + "/?" + qs).toURL
    val body = if (c.compress) gzip(body0) else body0
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(c.connectTimeoutMs)
      conn.setReadTimeout(c.readTimeoutMs)
      conn.setRequestProperty("X-ClickHouse-User", c.username)
      if (c.password.nonEmpty) conn.setRequestProperty("X-ClickHouse-Key", c.password)
      conn.setRequestProperty("Content-Type", "application/octet-stream")
      if (c.compress) conn.setRequestProperty("Content-Encoding", "gzip")
      conn.setDoOutput(true)
      conn.setFixedLengthStreamingMode(body.length.toLong)
      writeBody(conn.getOutputStream, body, bodySent)
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val respBody =
        if (stream == null) ""
        else try new String(stream.readAllBytes(), UTF_8) finally stream.close()
      if (status != 200) {
        val code = Option(conn.getHeaderField("X-ClickHouse-Exception-Code"))
          .flatMap(_.trim.toIntOption)
          .orElse("Code:\\s*(\\d+)".r.findFirstMatchIn(respBody).map(_.group(1).toInt))
        code match {
          case Some(n) =>
            val msg = serverText(respBody.linesIterator.nextOption().getOrElse(""))
            throw CHServerException(n, if (msg.nonEmpty) msg else s"HTTP $status")
          case None =>
            throw new IOException(
              s"ClickHouse HTTP insert failed with status $status: " +
                respBody.linesIterator.nextOption().getOrElse(""))
        }
      }
    } finally conn.disconnect()
  }

  /** One failed row of an isolating write: (the row as JSON, why it was
    * dead-lettered). Every leg builds its failure set with this one
    * explicit encoder, so no batch derives one by reflection. */
  val FailurePair: Encoder[(String, String)] = Encoders.tuple(Encoders.STRING, Encoders.STRING)

  /** The encoder [[Config.format]] names, over this leg's slab bounds. */
  private def slabs(c: Config, df: DataFrame, isolate: Boolean): RDD[InsertLoop.Slab] =
    c.format match {
      case "JSONEachRow" => InsertLoop.jsonSlabs(df, c.maxRowsPerPost, c.maxBytesPerPost)
      case "Native" =>
        InsertLoop.nativeSlabs(df, c.columnTypes, c.maxRowsPerPost, c.maxBytesPerPost, isolate)
      case other =>
        throw new IllegalArgumentException(s"unsupported INSERT format $other (JSONEachRow or Native)")
    }

  /** The DataFrame write leg: the frame is already in sink shape (mapped
    * columns, target names). Each partition POSTs its own slabs; any fault
    * rethrows ([[InsertLoop.write]]). */
  def write(c: Config)(df: DataFrame): Unit =
    InsertLoop.write(slabs(c, df, isolate = false), insertQuery(c, df.columns.toSeq), () => new InsertLoop.Http(c))

  /** Insert with poison-row isolation ([[InsertLoop.isolating]]): rows the
    * server or the encoder rejects come back as (jsonRow, error), and every
    * other row lands.
    *
    * Returns the failed rows as a DISTRIBUTED Dataset — never a driver
    * collection: the failure-set size is bounded only by the batch (a
    * mapping edit can poison EVERY row), and the reference dead-letters
    * worker-side for the same reason
    * (internal/processor/dlq_processor.go:35-69). LAZY: the INSERTs execute
    * when the returned Dataset is acted on — act on it exactly once, or
    * persist it first. [[ClickHouseSink.writeBatchHttp]] does persist +
    * count + distributed DLQ write, returning only counts to the driver. */
  def writeIsolating(c: Config)(df: DataFrame): Dataset[(String, String)] =
    df.sparkSession.createDataset(InsertLoop.isolating(slabs(c, df, isolate = true),
      insertQuery(c, df.columns.toSeq), () => new InsertLoop.Http(c)))(FailurePair)

  /** Introspect the target table's schema — `DESCRIBE TABLE db.t FORMAT
    * JSONEachRow` (the query the reference's UI issues,
    * ui/src/app/ui-api/clickhouse/clickhouse-utils.ts:170). Returns
    * (column, declared CH type) pairs; used by the control plane to
    * validate a sink mapping against the REAL table before starting. */
  def describeTable(c: Config): Seq[(String, String)] = {
    val q = s"DESCRIBE TABLE ${quoteId(c.database)}.${quoteId(c.table)} FORMAT JSONEachRow"
    val body = get(c, q)
    // a REAL JSON parse, not a regex: a column type containing an escaped
    // quote (Enum8('a\'b' = 1) is legal CH) splits a regex match and
    // silently drops the column, turning start-time validation into a
    // false "column does not exist"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val it = mapper.readerFor(classOf[com.fasterxml.jackson.databind.JsonNode])
      .readValues[com.fasterxml.jackson.databind.JsonNode](body)
    try {
      val out = Seq.newBuilder[(String, String)]
      while (it.hasNext) {
        val n = it.next()
        if (n.hasNonNull("name") && n.hasNonNull("type"))
          out += (n.get("name").asText() -> n.get("type").asText())
      }
      out.result()
    } finally it.close()
  }

  /** POST a read-only query and return the response body. */
  private def get(c: Config, query: String): String = {
    val url = URI.create(c.endpoint.stripSuffix("/") + "/?query=" + enc(query)).toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(c.connectTimeoutMs)
      conn.setReadTimeout(c.readTimeoutMs)
      conn.setRequestProperty("X-ClickHouse-User", c.username)
      if (c.password.nonEmpty) conn.setRequestProperty("X-ClickHouse-Key", c.password)
      conn.setDoOutput(true)
      conn.getOutputStream.close()
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (stream == null) ""
        else try new String(stream.readAllBytes(), UTF_8) finally stream.close()
      if (status != 200) {
        val code = Option(conn.getHeaderField("X-ClickHouse-Exception-Code"))
          .flatMap(_.trim.toIntOption).getOrElse(1000)
        throw CHServerException(code,
          serverText(body.linesIterator.nextOption().getOrElse(s"HTTP $status")))
      }
      body
    } finally conn.disconnect()
  }

  /** Server liveness + auth probe (`SELECT 1`): the control plane checks
    * the connection before activating a pipeline. */
  def ping(c: Config): Unit = { get(c, "SELECT 1"); () }

  /** POST a read query and return the response body as a LIVE stream —
    * the scan leg decodes `FORMAT Native` blocks off it one at a time, so
    * a partition covering gigabytes of table never materializes its
    * response (peak memory = one block). The request advertises
    * `Accept-Encoding: gzip` and carries `enable_http_compression=1`, the
    * public pair that makes the server gzip the response; a gzipped body
    * is transparently inflated here (still streaming — GZIPInputStream is
    * a filter). Closing the returned stream releases the connection; a
    * non-200 answer throws before anything is returned ([[CHServerException]]
    * when the server sent a code). */
  def queryStream(c: Config, query: String): java.io.InputStream = {
    // the QUERY travels as the POST body, not a URL parameter: a runtime
    // filter can compile into an IN list over thousands of join keys, and
    // URLs have practical length ceilings that a request body does not
    // (the server reads the query from the body up to max_query_size) —
    // settings stay URL params as on every other request
    // server-side gzip is the DEFAULT (the response body is the heavy
    // half of a scan) but user settings WIN: settings.enable_http_compression=0
    // must actually opt out of the server's compression CPU — and then
    // the request must not advertise Accept-Encoding either, or the
    // server may compress anyway
    val params = Map("enable_http_compression" -> "1") ++ c.settings
    val gzipOn = params.get("enable_http_compression").exists(v => v == "1" || v == "true")
    val qs = params.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString("&")
    val url = URI.create(c.endpoint.stripSuffix("/") + "/?" + qs).toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    var ok = false
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(c.connectTimeoutMs)
      conn.setReadTimeout(c.readTimeoutMs)
      conn.setRequestProperty("X-ClickHouse-User", c.username)
      if (c.password.nonEmpty) conn.setRequestProperty("X-ClickHouse-Key", c.password)
      if (gzipOn) conn.setRequestProperty("Accept-Encoding", "gzip")
      conn.setDoOutput(true)
      val qb = query.getBytes(UTF_8)
      conn.setFixedLengthStreamingMode(qb.length.toLong)
      val os = conn.getOutputStream
      try { os.write(qb); os.flush() } finally os.close()
      val status = conn.getResponseCode
      if (status != 200) {
        val es = conn.getErrorStream
        val text = if (es == null) ""
          else try new String(es.readAllBytes(), UTF_8) finally es.close()
        val code = Option(conn.getHeaderField("X-ClickHouse-Exception-Code"))
          .flatMap(_.trim.toIntOption).getOrElse(1000)
        throw CHServerException(code,
          serverText(text.linesIterator.nextOption().getOrElse(s"HTTP $status")))
      }
      val raw = conn.getInputStream
      val body =
        if (Option(conn.getHeaderField("Content-Encoding")).exists(_.contains("gzip")))
          new java.util.zip.GZIPInputStream(raw, 1 << 16)
        else raw
      ok = true
      // closing must also release the underlying connection
      new java.io.FilterInputStream(body) {
        override def close(): Unit =
          try super.close() finally conn.disconnect()
      }
    } finally if (!ok) conn.disconnect()
  }

}
