package graft.sink

import java.io.IOException
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}

import graft.types.{CHType, RowBinaryEncoder}

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
  * JSONEachRow slabs are built from Spark's internal rows: each task
  * appends the UTF-8 bytes of `to_json(struct(..))` and a '\n' straight to
  * its slab and records where each row ends. A slab the server rejects
  * replays row by row from those byte ranges, and a row's text is decoded
  * only when the server rejects it on its own.
  */
object ClickHouseHttp {

  /** A ClickHouse server fault, message formatted exactly as the server
    * formats it so [[ErrorClassifier.classify]] needs no special case. */
  final case class CHServerException(code: Int, serverMessage: String)
    extends RuntimeException(s"Code: $code. DB::Exception: $serverMessage")

  final case class Config(
    endpoint: String,                          // http://host:8123
    database: String,
    table: String,
    username: String = "default",
    password: String = "",
    /** Per-insert settings passed as URL params (async_insert,
      * wait_for_async_insert, insert_deduplicate, ...). */
    settings: Map[String, String] = Map.empty,
    format: String = "JSONEachRow",            // or RowBinary, or Native
    /** column → ClickHouse type, required for RowBinary/Native encoding
      * (JSONEachRow is self-describing; the binary formats are typed). */
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
            // strip the server's own "Code: N. DB::Exception:" prefix so the
            // rethrown message carries it exactly once
            val msg = respBody.linesIterator.nextOption().getOrElse("")
              .replaceFirst("^Code:\\s*\\d+\\.\\s*DB::Exception:\\s*", "")
            throw CHServerException(n, if (msg.nonEmpty) msg else s"HTTP $status")
          case None =>
            throw new IOException(
              s"ClickHouse HTTP insert failed with status $status: " +
                respBody.linesIterator.nextOption().getOrElse(""))
        }
      }
    } finally conn.disconnect()
  }

  /** Spark's default JSON timestamp format is millisecond-precision (SSS)
    * — a DateTime64(6) column would silently lose its microseconds on the
    * JSONEachRow leg (caught by RowBinaryPropertySpec's cross-format
    * comparison). Emit full micros; best_effort parses them fine. */
  private val jsonOpts: java.util.Map[String, String] =
    java.util.Map.of("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** Columns by VERBATIM name: destination columns are user config and may
    * contain dots (legal CH identifiers, quoted everywhere else via
    * quoteId) — a bare col(name) would resolve "a.b" as a nested field. */
  private def verbatimCols(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    df.columns.toSeq.map(n => df.col(s"`${n.replace("`", "``")}`"))

  private def jsonCol(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{struct, to_json}
    to_json(struct(verbatimCols(df): _*), jsonOpts)
  }

  /** One failed row of an isolating write: (the row as JSON, why it was
    * dead-lettered). Every leg builds its failure set with this one
    * explicit encoder, so no batch derives one by reflection. */
  val FailurePair: Encoder[(String, String)] = Encoders.tuple(Encoders.STRING, Encoders.STRING)

  /** One task's INSERT slab: encoded rows back to back, plus where each row
    * ends, so a rejected slab replays row by row from its own bytes. A row
    * is written to `out` and closed with [[endRow]], which says when the
    * slab is full: at maxRowsPerPost rows or maxBytesPerPost bytes,
    * whichever trips first. */
  private final class Slab(conf: Config, query: String) {
    private object body extends java.io.ByteArrayOutputStream(1 << 20) {
      def bytes: Array[Byte] = buf
    }
    private var ends = new Array[Int](1024)
    private var rows = 0
    val out: java.io.OutputStream = body

    def endRow(): Boolean = {
      if (rows == ends.length) ends = java.util.Arrays.copyOf(ends, rows * 2)
      ends(rows) = body.size
      rows += 1
      rows >= conf.maxRowsPerPost || body.size >= conf.maxBytesPerPost
    }

    private def start(i: Int): Int = if (i == 0) 0 else ends(i - 1)

    /** Row `i` of a JSONEachRow slab, decoded, without its '\n'. */
    def text(i: Int): String = new String(body.bytes, start(i), ends(i) - start(i) - 1, UTF_8)

    /** POST the slab and empty it. With `rejected`, a slab the server turns
      * down with a ROW-DATA fault (see [[ErrorClassifier.rowDataFaultCodes]])
      * is re-posted row by row, and each row the server turns down again
      * goes to `rejected(row index, error)`. Any other fault rethrows, so
      * the batch handler's classify/retry policy governs it —
      * dead-lettering good rows on a dropped table or rotated credential
      * would be unrecoverable. */
    def flush(rejected: Option[(Int, String) => Unit]): Unit = if (rows > 0) {
      try post(conf, query, body.toByteArray)
      catch {
        case CHServerException(code, _)
            if rejected.isDefined && ErrorClassifier.isRowDataFault(code) =>
          for (i <- 0 until rows) {
            try post(conf, query, java.util.Arrays.copyOfRange(body.bytes, start(i), ends(i)))
            catch {
              case CHServerException(code, msg) if ErrorClassifier.isRowDataFault(code) =>
                rejected.get(i, s"Code: $code. DB::Exception: $msg")
            }
          }
      }
      body.reset()
      rows = 0
    }
  }

  /** The DataFrame write leg: the frame is already in sink shape (mapped
    * columns, target names) — encode per the configured format and POST
    * per partition, slabbed at maxRowsPerPost rows / maxBytesPerPost
    * bytes, whichever trips first. */
  def write(c: Config)(df: DataFrame): Unit = c.format match {
    case "Native" => writeNativeBlocks(c)(df)
    case "RowBinary" => writeRowBinarySlabs(c)(df)
    // the slabs are POSTed as each partition is computed
    case _ => jsonSlabs(c, df, isolate = false).foreachPartition(_ => ())
  }

  /** Insert with poison-row isolation — the reference's append-error path
    * (internal/sink/clickhouse.go:536-718: a row the server rejects is
    * dead-lettered ALONE; the rest of the batch replays and lands).
    *
    * Each executor task slabs its own rows as [[write]] does; when a slab
    * is rejected with a ROW-DATA fault (parse/convert/range — see
    * [[ErrorClassifier.rowDataFaultCodes]]), the task replays THAT slab
    * row-by-row: poison rows come back as (jsonRow, serverError) for the
    * caller to dead-letter, every other row lands. Isolation is strictly
    * task-local, so slabs that already landed — in this task or any
    * other — are never re-posted and can't duplicate. Non-data faults
    * (table/auth/overload) rethrow so the batch handler's classify/retry
    * policy governs them; a retryable fault mid-replay likewise rethrows
    * (at-least-once, the reference's NACK-redeliver semantics — pair with
    * insert_deduplicate/idempotency for exactly-once).
    *
    * Returns the failed rows as a DISTRIBUTED Dataset[(jsonRow, serverError)]
    * — never a driver collection: the failure-set size is bounded only by
    * the batch (a mapping edit can poison EVERY row), and the reference
    * dead-letters worker-side for the same reason
    * (internal/processor/dlq_processor.go:35-69). LAZY: the INSERTs execute
    * when the returned Dataset is acted on — act on it exactly once, or
    * persist it first, or slabs will re-POST (at-least-once).
    * [[ClickHouseSink.writeBatchHttp]] does persist + count + distributed
    * DLQ write, returning only counts to the driver. */
  def writeIsolating(c: Config)(df: DataFrame): Dataset[(String, String)] = c.format match {
    case "Native" => writeIsolatingNative(c)(df)
    case "RowBinary" => writeIsolatingRowBinary(c)(df)
    case _ => df.sparkSession.createDataset(jsonSlabs(c, df, isolate = true))(FailurePair)
  }

  /** The JSONEachRow legs, plain and isolating. Each task walks the
    * internal rows of `to_json(struct(..))` and appends each row's UTF-8
    * bytes and a '\n' to its slab: no String, no per-row array and no
    * Dataset encoder between the JSON encoder and the POST body. A row's
    * text is decoded only when the server rejects it (`isolate`); without
    * `isolate` a rejected slab rethrows. Null fields are OMITTED, and
    * ClickHouse fills omitted fields with column defaults
    * (input_format_defaults_for_omitted_fields, on by default) — the same
    * absent→NULL/default contract the reference mapper implements. Runs
    * when the returned RDD is computed; yields the failed rows. */
  private def jsonSlabs(c: Config, df: DataFrame, isolate: Boolean): RDD[(String, String)] = {
    val query = insertQuery(c, df.columns.toSeq)
    val conf = c
    df.select(jsonCol(df)).queryExecution.toRdd.mapPartitions { it =>
      val slab = new Slab(conf, query)
      val failed = ArrayBuffer[(String, String)]()
      val rejected =
        if (isolate) Some((i: Int, err: String) => { failed += ((slab.text(i), err)); () })
        else None
      while (it.hasNext) {
        it.next().getUTF8String(0).writeTo(slab.out)
        slab.out.write('\n')
        if (slab.endRow()) slab.flush(rejected)
      }
      slab.flush(rejected)
      failed.iterator
    }
  }

  /** RowBinary: column-order binary via [[RowBinaryEncoder]], driven by
    * [[Config.columnTypes]] — roughly half the wire bytes and no
    * server-side text parsing. */
  private def rowBytes(c: Config, df: DataFrame): Dataset[Array[Byte]] = {
    val types = df.columns.toSeq.map(n => CHType.parse(c.columnTypes.getOrElse(n, "String")))
    df.map(row => RowBinaryEncoder.encode(row, types))(Encoders.BINARY)
  }

  private def writeRowBinarySlabs(c: Config)(df: DataFrame): Unit = {
    val query = insertQuery(c, df.columns.toSeq)
    val conf = c
    rowBytes(c, df).foreachPartition { (it: Iterator[Array[Byte]]) =>
      val slab = new Slab(conf, query)
      it.foreach { b =>
        slab.out.write(b)
        if (slab.endRow()) slab.flush(None)
      }
      slab.flush(None)
    }
  }

  private def writeIsolatingRowBinary(c: Config)(df: DataFrame): Dataset[(String, String)] = {
    val query = insertQuery(c, df.columns.toSeq)
    val conf = c
    rowBytesWithRepr(c, df).mapPartitions { it =>
      val slab = new Slab(conf, query)
      val reprs = ArrayBuffer[String]()
      val failed = ArrayBuffer[(String, String)]()
      val rejected = Some((i: Int, err: String) => { failed += ((reprs(i), err)); () })
      def flush(): Unit = { slab.flush(rejected); reprs.clear() }
      it.foreach {
        // client-side encode failure (FixedString overflow, unknown enum
        // value): that row is poison by construction — dead-letter it
        // alone, the rest of the slab proceeds
        case (repr, null, err) => failed += ((repr, err))
        case (repr, bytes, _) =>
          slab.out.write(bytes)
          reprs += repr
          if (slab.endRow()) flush()
      }
      flush()
      failed.iterator
    }(FailurePair)
  }

  /** Native-format write leg: COLUMNAR blocks per partition — one type
    * dispatch per column per block instead of per value, the layout the
    * server stores without per-row reassembly (see
    * [[graft.types.NativeEncoder]]). Slab bounds are the same
    * rows/bytes-whichever-trips-first as the row-oriented leg. A
    * client-side encode fault rethrows (this path has no isolation —
    * use [[writeIsolating]] for that). */
  private def writeNativeBlocks(c: Config)(df: DataFrame): Unit = {
    val names = df.columns.toSeq
    val types = names.map(n => CHType.parse(c.columnTypes.getOrElse(n, "String")))
    val query = insertQuery(c, names)
    val conf = c
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      var b = new graft.types.NativeEncoder.BlockBuilder(names, types)
      def flush(): Unit = if (b.rowCount > 0) {
        post(conf, query, b.build())
        b = new graft.types.NativeEncoder.BlockBuilder(names, types)
      }
      it.foreach { row =>
        b.tryAppend(row).foreach(err => throw new IllegalArgumentException(err))
        if (b.rowCount >= conf.maxRowsPerPost || b.byteSize >= conf.maxBytesPerPost)
          flush()
      }
      flush()
    }
  }

  /** Poison-row isolation on the Native leg: a client-side value fault
    * rolls just that row out of the block (BlockBuilder.tryAppend is
    * row-atomic across columns); a server row-data fault replays the
    * block's rows as single-row blocks, exactly the row-oriented legs'
    * replay shape. Distributed + lazy like [[writeIsolating]]. */
  private def writeIsolatingNative(c: Config)(df: DataFrame): Dataset[(String, String)] = {
    val names = df.columns.toSeq
    val types = names.map(n => CHType.parse(c.columnTypes.getOrElse(n, "String")))
    val query = insertQuery(c, names)
    val conf = c
    import org.apache.spark.sql.functions.struct
    df.select(jsonCol(df).as("__j"), struct(verbatimCols(df): _*).as("__r"))
      .mapPartitions { it =>
        val failed = scala.collection.mutable.ArrayBuffer[(String, String)]()
        var builder = new graft.types.NativeEncoder.BlockBuilder(names, types)
        val chunk = scala.collection.mutable.ArrayBuffer[(String, org.apache.spark.sql.Row)]()
        def replayRowwise(): Unit = chunk.foreach { case (repr, r) =>
          try post(conf, query,
            graft.types.NativeEncoder.encodeSingleRow(names, types, r))
          catch {
            case CHServerException(code, msg) if ErrorClassifier.isRowDataFault(code) =>
              failed += ((repr, s"Code: $code. DB::Exception: $msg"))
          }
        }
        def flush(): Unit = {
          if (builder.rowCount > 0) {
            try post(conf, query, builder.build())
            catch {
              case CHServerException(code, _) if ErrorClassifier.isRowDataFault(code) =>
                replayRowwise()
            }
          }
          builder = new graft.types.NativeEncoder.BlockBuilder(names, types)
          chunk.clear()
        }
        it.foreach { row =>
          val repr = row.getString(0)
          val r = row.getStruct(1)
          builder.tryAppend(r) match {
            case Some(err) => failed += ((repr, err))
            case None =>
              chunk += ((repr, r))
              if (builder.rowCount >= conf.maxRowsPerPost ||
                builder.byteSize >= conf.maxBytesPerPost) flush()
          }
        }
        flush()
        failed.iterator
      }(FailurePair)
  }

  /** RowBinary isolation-path encoding: (jsonRepr, bytesOrNull,
    * encodeErrOrNull) per row. The JSON repr rides along so a dead-lettered row's
    * original_message is always readable — binary rows included — and so a
    * row the ENCODER rejects still reaches the DLQ with its content. */
  private def rowBytesWithRepr(c: Config, df: DataFrame): Dataset[(String, Array[Byte], String)] = {
    import org.apache.spark.sql.functions.struct
    val types = df.columns.toSeq.map(n => CHType.parse(c.columnTypes.getOrElse(n, "String")))
    df.select(jsonCol(df).as("__j"), struct(verbatimCols(df): _*).as("__r"))
      .map { row =>
        val j = row.getString(0)
        try (j, RowBinaryEncoder.encode(row.getStruct(1), types), null: String)
        catch { case e: Exception =>
          (j, null: Array[Byte], Option(e.getMessage).getOrElse(e.toString))
        }
      }(Encoders.tuple(Encoders.STRING, Encoders.BINARY, Encoders.STRING))
  }

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
          body.linesIterator.nextOption().getOrElse(s"HTTP $status")
            .replaceFirst("^Code:\\s*\\d+\\.\\s*DB::Exception:\\s*", ""))
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
          text.linesIterator.nextOption().getOrElse(s"HTTP $status")
            .replaceFirst("^Code:\\s*\\d+\\.\\s*DB::Exception:\\s*", ""))
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
