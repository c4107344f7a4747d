package graft.sink

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.types.CHType

/** ClickHouse stand-in (testkit, like [[graft.sources.kafka.MiniKafkaBroker]]:
  * lives in main so the wire bench can reach it) speaking the PUBLIC HTTP
  * interface the
  * production [[ClickHouseHttp]] leg targets: POST with `query=INSERT INTO
  * db.table (cols) FORMAT JSONEachRow` in the URL params, body = data,
  * credentials in X-ClickHouse-User/-Key, failures as HTTP error +
  * `X-ClickHouse-Exception-Code` header + `Code: N. DB::Exception: ...`
  * body — the same contract a real server exposes on :8123.
  *
  * Unlike a mock, this fixture PARSES the INSERT it receives and VALIDATES
  * every value against the declared ClickHouse column type (via the repo's
  * own [[CHType]] domain: DateTime64(p,tz), LowCardinality, Map,
  * Array(Map), Enum8/16, UUID, FixedString, Nullable), returning the real
  * ClickHouse error code for each fault class — so [[ErrorClassifier]] is
  * exercised by genuine wire responses, the same method MiniKafkaBroker
  * uses for the source side. An INSERT is atomic: any bad value rejects
  * the whole POST and stores nothing (one POST ≪ max_insert_block_size).
  */
final class MiniClickHouseServer(user: String = "default", password: String = "",
                                 retainRows: Boolean = true) {
  import MiniClickHouseServer.CHFault

  final case class Column(name: String, chType: CHType)
  final class Table(val columns: Seq[Column]) {
    val rows = mutable.ArrayBuffer[Map[String, Any]]()
    /** Total accepted rows — survives `retainRows = false` (the bench
      * validates and discards; storing 2M+ parsed rows would measure the
      * fixture's heap, not the engine). */
    @volatile var accepted: Long = 0L
    /** Content hashes of recently accepted blocks, for insert_deduplicate
      * (real CH replicated tables keep the last
      * replicated_deduplication_window=100 block hashes). Insertion order
      * kept so eviction drops the OLDEST. */
    val recentBlockHashes = mutable.LinkedHashSet[String]()
  }

  private val tables = mutable.Map[String, Table]()
  /** Every received (query, url-params) pair — settings-passthrough asserts. */
  val receivedQueries = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, String])]()
  /** SELECT responses the server gzip-compressed (clients asked via
    * Accept-Encoding + enable_http_compression=1) — lets specs assert the
    * compressed path was genuinely exercised. */
  val compressedSelects = new java.util.concurrent.atomic.AtomicInteger(0)
  /** DESCRIBE TABLE requests served (its handler answers before the query
    * log) — lets specs assert planning memoization: ≤1 per planned query. */
  val describeCount = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Injected faults: each queued (code, message) fails one INSERT. */
  private val injected = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
  @volatile var insertAttempts: Int = 0

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // daemon threads: HttpServer.stop does NOT shut down a supplied
    // executor, and non-daemon workers would pin a bench JVM open forever
    pool = java.util.concurrent.Executors.newFixedThreadPool(32, r => {
      val t = new Thread(r, "mini-ch-worker"); t.setDaemon(true); t
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) { pool.shutdownNow(); () }
  }

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** The type STRINGS each table was created with (DESCRIBE echoes the
    * declared spelling, not a normalized form). */
  private val rawTypes = mutable.Map[String, Map[String, String]]()

  def createTable(db: String, name: String, cols: Seq[(String, String)]): Unit =
    tables.synchronized {
      tables(s"$db.$name") = new Table(cols.map { case (n, t) => Column(n, CHType.parse(t)) })
      rawTypes(s"$db.$name") = cols.toMap
    }

  def dropTable(db: String, name: String): Unit =
    tables.synchronized { tables.remove(s"$db.$name") }

  def rowCount(db: String, name: String): Int =
    tables.synchronized { tables(s"$db.$name").rows.size }

  def acceptedCount(db: String, name: String): Long =
    tables.synchronized { tables(s"$db.$name").accepted }

  def rows(db: String, name: String): Seq[Map[String, Any]] =
    tables.synchronized { tables(s"$db.$name").rows.toSeq }

  def failNext(code: Int, message: String, times: Int = 1): Unit =
    (1 to times).foreach(_ => injected.add((code, message)))

  /** [[failNext]]'s READ-path sibling: fail the next SELECT (count probes,
    * scans) with a real CH error, on whichever transport it arrives. */
  private val injectedSelect =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
  def failNextSelect(code: Int, message: String, times: Int = 1): Unit =
    (1 to times).foreach(_ => injectedSelect.add((code, message)))

  // ---------------------------------------------------------------- handler

  private def handle(ex: HttpExchange): Unit =
    try {
      val params = parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      // the real server decompresses a gzip'd request body natively;
      // stream the decompressor directly — no double-buffering
      val body =
        if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .exists(_.equalsIgnoreCase("gzip")))
          new java.util.zip.GZIPInputStream(ex.getRequestBody).readAllBytes()
        else ex.getRequestBody.readAllBytes()
      // the real server reads the WHOLE body as the query text for read
      // queries (a pushed string literal or runtime-IN key may contain
      // '\n'); only an INSERT carries inline data after its statement
      // line, so only there is the body split at the first newline
      val query = params.getOrElse("query", {
        val bodyText = new String(body, UTF_8)
        if ("""(?is)^\s*INSERT\s""".r.findFirstIn(bodyText).isDefined)
          bodyText.linesIterator.nextOption().getOrElse("")
        else bodyText
      })

      // auth: X-ClickHouse-User / X-ClickHouse-Key (the headers the real
      // server documents; missing user falls back to "default")
      val gotUser = Option(ex.getRequestHeaders.getFirst("X-ClickHouse-User")).getOrElse("default")
      val gotPass = Option(ex.getRequestHeaders.getFirst("X-ClickHouse-Key")).getOrElse("")
      if (gotUser != user || gotPass != password) {
        fail(ex, 403, 516, s"$gotUser: Authentication failed: password is incorrect, or there is no user with such name")
        return
      }

      if (query.trim.equalsIgnoreCase("SELECT 1")) { ok(ex, "1\n"); return }

      // DESCRIBE TABLE db.t FORMAT JSONEachRow — the introspection query
      // the reference UI issues (clickhouse-utils.ts:170)
      val desc = """(?is)DESCRIBE\s+TABLE\s+(\S+?)\.(\S+?)(\s+FORMAT\s+JSONEachRow)?\s*$""".r
      desc.findFirstMatchIn(query.trim) match {
        case Some(m) =>
          describeCount.incrementAndGet()
          val key = s"${unq(m.group(1))}.${unq(m.group(2))}"
          tables.synchronized { tables.get(key) } match {
            case None => fail(ex, 404, 60, s"Table $key does not exist")
            case Some(t) =>
              val raw = tables.synchronized { rawTypes.getOrElse(key, Map.empty) }
              // real JSON encoding: a declared type can contain quotes and
              // backslashes (Enum8('a\'b' = 1)) which must be JSON-escaped
              ok(ex, t.columns.map { c =>
                val node = mapper.createObjectNode()
                node.put("name", c.name)
                node.put("type", raw.getOrElse(c.name, "String"))
                node.put("default_type", "")
                node.put("default_expression", "")
                mapper.writeValueAsString(node)
              }.mkString("", "\n", "\n"))
          }
          return
        case None => ()
      }

      receivedQueries.add((query, params - "query"))

      // SELECT cols FROM db.t [WHERE expr] [GROUP BY] [ORDER BY] [LIMIT n]
      // FORMAT Native — the read-source leg. Evaluation lives in
      // evalSelect (shared with the TCP transport); this arm owns the
      // HTTP framing: block split by max_block_size + optional gzip.
      if (query.trim.toUpperCase.startsWith("SELECT") &&
          query.contains("FORMAT Native")) {
        try {
          evalSelect(query.trim.replaceAll("(?is)\\s+FORMAT\\s+Native\\s*$", ""),
            params) match {
            case None =>
              fail(ex, 400, 62, s"Syntax error: unsupported SELECT shape: ${query.take(60)}")
            case Some((colTypes, sliced)) =>
              // the real server frames results into max_block_size-row
              // blocks (default 65409); honoring the setting means a
              // large result is genuinely MULTI-block on the wire, so
              // the client's streaming block-at-a-time decode is what
              // gets exercised, not a single-block special case
              val blockRows = params.get("max_block_size")
                .flatMap(_.toIntOption).filter(_ > 0).getOrElse(65409)
              // the real server ships LC columns dictionary-encoded by
              // default; low_cardinality_allow_in_native_format=0 converts
              // them to ordinary (inner type declared, plain column sent)
              val lcNative = !params.get("low_cardinality_allow_in_native_format")
                .exists(v => v == "0" || v.equalsIgnoreCase("false"))
              val body0: Array[Byte] =
                if (sliced.size <= blockRows)
                  MiniChSelect.encodeNative(colTypes, sliced, lcNative)
                else {
                  val out = new java.io.ByteArrayOutputStream(1 << 14)
                  sliced.grouped(blockRows).foreach { g =>
                    val b = MiniChSelect.encodeNative(colTypes, g, lcNative)
                    out.write(b, 0, b.length)
                  }
                  out.toByteArray
                }
              // response compression: the documented pair — client sends
              // Accept-Encoding: gzip AND enable_http_compression=1
              val wantGzip = body0.nonEmpty &&
                params.get("enable_http_compression").exists(v => v == "1" || v == "true") &&
                Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
                  .exists(_.toLowerCase.contains("gzip"))
              val body = if (!wantGzip) body0 else {
                compressedSelects.incrementAndGet()
                val bos = new java.io.ByteArrayOutputStream(body0.length / 4 + 64)
                val gz = new java.util.zip.GZIPOutputStream(bos)
                try gz.write(body0) finally gz.close()
                bos.toByteArray
              }
              ex.getResponseHeaders.add("Content-Type", "application/octet-stream")
              if (wantGzip) ex.getResponseHeaders.add("Content-Encoding", "gzip")
              ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length.toLong)
              if (body.nonEmpty) {
                val os = ex.getResponseBody; os.write(body); os.close()
              }
          }
        } catch {
          case CHFault(code, msg) => fail(ex, if (code == 60) 404 else 500, code, msg)
        }
        return
      }

      val ins = """(?is)INSERT\s+INTO\s+(\S+?)\.(\S+?)\s*\(([^)]*)\)\s*FORMAT\s+(\w+)""".r
      ins.findFirstMatchIn(query) match {
        case None =>
          fail(ex, 400, 62, s"Syntax error: failed at position 1: ${query.take(60)}")
        case Some(m) =>
          insertAttempts += 1
          Option(injected.poll()) match {
            case Some((code, msg)) => fail(ex, 500, code, msg)
            case None =>
              val db = unq(m.group(1)); val tbl = unq(m.group(2))
              val cols = m.group(3).split(",").map(s => unq(s.trim)).toSeq
              val fmt = m.group(4)
              tables.synchronized { tables.get(s"$db.$tbl") } match {
                case None =>
                  fail(ex, 404, 60, s"Table $db.$tbl does not exist")
                case Some(table) =>
                  val unknown = cols.filterNot(c => table.columns.exists(_.name == c))
                  if (unknown.nonEmpty) {
                    fail(ex, 404, 16, s"No such column ${unknown.head} in table $db.$tbl")
                  } else if (fmt != "JSONEachRow" && fmt != "Native") {
                    fail(ex, 400, 73, s"Unknown format $fmt")
                  } else {
                    try {
                      // insert_deduplicate semantics (real CH replicated
                      // tables): an identical block re-POSTed with the
                      // setting on is silently SKIPPED — the retry path's
                      // exactly-once contract. The hash registers only
                      // AFTER successful validation+store (a rejected
                      // insert stored nothing, so its retry must land).
                      val dedupOn = params.get("insert_deduplicate")
                        .exists(x => x == "1" || x == "true")
                      val blockHash = if (dedupOn) contentHash(query, body) else ""
                      val duplicate = dedupOn && tables.synchronized {
                        table.recentBlockHashes.contains(blockHash)
                      }
                      if (duplicate) {
                        ex.getResponseHeaders.add("X-ClickHouse-Summary",
                          """{"written_rows":"0"}""")
                        ok(ex, "")
                      } else {
                        val parsed =
                          if (fmt == "JSONEachRow") parseJsonEachRow(table, cols, body)
                          else parseNative(table, cols, body)
                        tables.synchronized {
                          table.accepted += parsed.count
                          if (retainRows) table.rows ++= parsed.rows
                          if (dedupOn) {
                            table.recentBlockHashes += blockHash
                            while (table.recentBlockHashes.size > 100)
                              table.recentBlockHashes.remove(table.recentBlockHashes.head)
                          }
                        }
                        ex.getResponseHeaders.add("X-ClickHouse-Summary",
                          s"""{"written_rows":"${parsed.count}"}""")
                        ok(ex, "")
                      }
                    } catch {
                      case CHFault(code, msg) => fail(ex, 500, code, msg)
                    }
                  }
              }
          }
      }
    } catch {
      case t: Throwable => fail(ex, 500, 1000, s"internal: ${t.getMessage}")
    } finally ex.close()

  // ------------------------------------------------- native-TCP fixture seam

  /** Seam for [[MiniClickHouseTcpServer]]: validate credentials (the TCP
    * handshake's auth check — same account as the HTTP headers'). */
  private[sink] def checkAuth(u: String, p: String): Boolean =
    u == user && p == password

  /** Seam shared by BOTH transports (HTTP handler above, TCP server):
    * parse + evaluate one SELECT (sans FORMAT clause) over the stored
    * canonical rows — WHERE with SQL three-valued NULL logic, aggregates
    * with real-server plain/-OrNull/CAST typing, ORDER BY, LIMIT.
    * Returns None when the text doesn't match the supported grammar
    * (caller answers a syntax fault); throws CHFault on unknown tables/
    * columns or unsupported constructs — refusal over subtly-wrong. */
  private[sink] def evalSelect(query: String, settings: Map[String, String])
      : Option[(Seq[(String, String)], Seq[Map[String, Any]])] = {
    Option(injectedSelect.poll()).foreach { case (c, m) => throw CHFault(c, m) }
    val sel = ("""(?is)^SELECT\s+(.+?)\s+FROM\s+(\S+?)\.([^\s.]+?)""" +
      """(?:\s+WHERE\s+(.+?))?(?:\s+GROUP\s+BY\s+(.+?))?""" +
      """(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+LIMIT\s+(\d+))?\s*$""").r
    sel.findFirstMatchIn(query.trim).map { m =>
      val db = unq(m.group(2)); val tbl = unq(m.group(3))
      val key = s"$db.$tbl"
      val t = tables.synchronized { tables.get(key) }
        .getOrElse(throw CHFault(60, s"Table $key does not exist"))
      val raw = tables.synchronized { rawTypes.getOrElse(key, Map.empty) }
      val items = MiniChSelect.parseSelectList(m.group(1))
      val where = Option(m.group(4)).map(MiniChSelect.parseWhere)
      val groupBy = Option(m.group(5)).toSeq
        .flatMap(_.split(",").map(s => unq(s.trim)))
      val orderBy = Option(m.group(6)).toSeq
        .flatMap(s => MiniChSelect.parseOrderBy(s))
      val limit = Option(m.group(7)).map(_.toInt)
      items.collect { case MiniChSelect.ColItem(c) => c }
        .filterNot(c => t.columns.exists(_.name == c)) match {
        case missing if missing.nonEmpty =>
          throw CHFault(47, s"Unknown identifier ${missing.head}")
        case _ => ()
      }
      val all = tables.synchronized { t.rows.toVector }
      val kept = where match {
        case None => all
        case Some(e) => all.filter(r => MiniChSelect.eval(e, r).contains(true))
      }
      val hasAgg = items.exists(_.isInstanceOf[MiniChSelect.AggItem])
      val (colTypes, result) =
        if (hasAgg) {
          // the global rewrite this setting triggers on a real server
          // (EVERY aggregate → -OrNull, retyping count() to
          // Nullable(UInt64)) is not emulated — refuse loudly rather
          // than answer with subtly different column types; clients
          // want per-function -OrNull combinators
          if (settings.get("aggregate_functions_null_for_empty")
                .exists(x => x == "1" || x == "true"))
            throw CHFault(48, "fixture does not emulate the global aggregate_functions_null_for_empty rewrite; use explicit -OrNull combinators")
          MiniChSelect.aggregate(items, groupBy, kept,
            raw ++ t.columns.map(c => c.name ->
              raw.getOrElse(c.name, "String")).toMap)
        } else {
          if (groupBy.nonEmpty)
            throw CHFault(215, "GROUP BY without aggregates not supported by fixture")
          val cols = items.collect { case MiniChSelect.ColItem(c) => c }
          (cols.map(c => c -> raw.getOrElse(c, "String")), kept)
        }
      val ordered =
        if (orderBy.isEmpty) result
        else MiniChSelect.orderRows(result, orderBy)
      (colTypes, limit.fold(ordered)(ordered.take))
    }
  }

  /** Seam: the column (name, declared-type-text) list the TCP server's
    * structure block declares for an INSERT, or None if no such table. */
  private[sink] def columnsOf(db: String, tbl: String): Option[Seq[(String, String)]] =
    tables.synchronized {
      tables.get(s"$db.$tbl").map { t =>
        val raw = rawTypes.getOrElse(s"$db.$tbl", Map.empty)
        t.columns.map(c => c.name -> raw.getOrElse(c.name, "String"))
      }
    }

  /** Seam: decode + validate + store one Native BLOCK payload (the bare
    * block, no packet framing / block info — identical bytes to one HTTP
    * `FORMAT Native` block) against `db.tbl`. Column-list and table checks
    * included. Returns rows accepted; throws [[MiniClickHouseServer.CHFault]]
    * with the real server code on any fault, so both fixtures answer
    * identically for the same bad data. */
  private[sink] def insertNativeBlock(db: String, tbl: String, cols: Seq[String],
                                      body: Array[Byte]): Long = {
    val table = tables.synchronized { tables.get(s"$db.$tbl") }
      .getOrElse(throw CHFault(60, s"Table $db.$tbl does not exist"))
    cols.filterNot(c => table.columns.exists(_.name == c)) match {
      case missing if missing.nonEmpty =>
        throw CHFault(16, s"No such column ${missing.head} in table $db.$tbl")
      case _ => ()
    }
    val parsed = parseNative(table, cols, body)
    tables.synchronized {
      table.accepted += parsed.count
      if (retainRows) table.rows ++= parsed.rows
    }
    parsed.count
  }

  /** Seam: consume one injected fault (shared failNext queue — a fault
    * queued on the fixture fails whichever leg's next INSERT arrives
    * first; specs use one leg at a time). */
  private[sink] def pollInjectedFault(): Option[(Int, String)] = Option(injected.poll())

  private[sink] def noteInsertAttempt(): Unit = insertAttempts += 1

  // ------------------------------------------------------------ JSONEachRow

  private def parseJsonEachRow(table: Table, cols: Seq[String], body: Array[Byte]): RowSlab = {
    // stream the node sequence straight off the bytes: JSONEachRow is a
    // concatenation of objects, no line materialization needed
    val it =
      try mapper.readerFor(classOf[com.fasterxml.jackson.databind.JsonNode])
        .readValues[com.fasterxml.jackson.databind.JsonNode](body)
      catch { case _: Exception => throw CHFault(27, "Cannot parse input") }
    val colSet = cols.toSet
    val declared = table.columns.filter(c => colSet(c.name))
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    var n = 0L
    try {
      while (it.hasNext) {
        val node =
          try it.next()
          catch { case _: Exception => throw CHFault(27, "Cannot parse input") }
        val fields = node.fieldNames()
        // fields present in the row but absent from the INSERT column list:
        // the real server rejects them unless input_format_skip_unknown_fields
        while (fields.hasNext) {
          val f = fields.next()
          if (!colSet(f))
            throw CHFault(117, s"Unknown field found while parsing JSONEachRow format: $f")
        }
        // retainRows=false (bench mode): validate every value but skip the
        // per-row Map materialization — the server must not measure its own
        // allocations
        if (retainRows)
          out += declared.map { c =>
            val v = if (node.has(c.name)) jsonValue(node.get(c.name)) else Absent
            c.name -> validate(c.name, c.chType, v)
          }.toMap
        else declared.foreach { c =>
          val v = if (node.has(c.name)) jsonValue(node.get(c.name)) else Absent
          validate(c.name, c.chType, v); ()
        }
        n += 1
      }
    } finally it.close()
    RowSlab(out.toSeq, n)
  }

  private final case class RowSlab(rows: Seq[Map[String, Any]], count: Long)

  private object Absent
  private def jsonValue(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isNull) null
    else if (n.isTextual) n.asText()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) BigDecimal(n.bigIntegerValue())
    else if (n.isNumber) BigDecimal(n.decimalValue())
    else if (n.isObject)
      n.fields().asScala.map(e => e.getKey -> jsonValue(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(jsonValue).toVector
    else n.toString

  // ------------------------------------------------------------- validation

  private val uuidRe =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$".r

  /** Validate + canonicalize one value against a declared CH column type,
    * throwing the REAL ClickHouse error code for each fault class.
    * Absent fields and JSON nulls take the column default
    * (input_format_defaults_for_omitted_fields / input_format_null_as_
    * default, both on by default in a real server) — except Nullable,
    * which stores NULL. */
  private def validate(col: String, t: CHType, v: Any): Any = {
    import CHType._
    t match {
      case CHNullable(inner) =>
        if (v == null || v == Absent) null else validate(col, inner, v)
      case CHLowCardinality(inner) => validate(col, inner, v)
      case _ if v == null || v == Absent => defaultFor(t)
      case CHString => v match {
        case s: String => s
        case b: Boolean => b.toString
        case d: BigDecimal => d.bigDecimal.toPlainString // numbers-as-strings (default on)
        case _ => throw CHFault(6, s"Cannot parse String from non-scalar for column $col")
      }
      case CHFixedString(n) => v match {
        case s: String =>
          if (s.getBytes(UTF_8).length > n)
            throw CHFault(131, s"Too large value for FixedString($n) in column $col")
          s
        case _ => throw CHFault(6, s"Cannot parse FixedString($n) for column $col")
      }
      case CHBool => v match {
        case b: Boolean => b
        case d: BigDecimal if d == 0 || d == 1 => d == 1
        case "true" | "1" => true
        case "false" | "0" => false
        case other => throw CHFault(467, s"Cannot parse bool from '$other' for column $col")
      }
      case CHInt(bits) => intValue(col, v, minOf(bits), maxOf(bits))
      case CHUInt(bits) => intValue(col, v, BigDecimal(0), umaxOf(bits))
      case CHDecimal(p, s) =>
        val d = v match {
          case d: BigDecimal => d
          case str: String =>
            try BigDecimal(str)
            catch { case _: Exception => throw CHFault(72, s"Cannot parse decimal from '$str' for column $col") }
          case other => throw CHFault(72, s"Cannot parse decimal from '$other' for column $col")
        }
        // canonical form = scaled to s (the wire stores the unscaled int);
        // digit overflow is the real server's DECIMAL_OVERFLOW
        val scaled = d.setScale(s, BigDecimal.RoundingMode.HALF_UP)
        if (scaled.abs >= BigDecimal(BigInt(10).pow(p - s)))
          throw CHFault(407, s"Decimal value $d overflows Decimal($p, $s) for column $col")
        scaled
      case CHDate => epochDay(col, v, 0L, 65535L, "Date")
      case CHDate32 => epochDay(col, v,
        java.time.LocalDate.of(1900, 1, 1).toEpochDay,
        java.time.LocalDate.of(2299, 12, 31).toEpochDay, "Date32")
      case CHFloat32 | CHFloat64 => v match {
        case d: BigDecimal => d.toDouble
        case s: String =>
          try BigDecimal(s).toDouble
          catch { case _: Exception => throw CHFault(72, s"Cannot parse number from '$s' for column $col") }
        case other => throw CHFault(72, s"Cannot parse number from '$other' for column $col")
      }
      case CHEnum(_, values) => v match {
        case s: String if values.contains(s) => s
        case d: BigDecimal if values.exists(_._2 == d.toInt) =>
          values.find(_._2 == d.toInt).get._1
        case other => throw CHFault(691, s"Unknown element '$other' for enum column $col")
      }
      case CHUUID => v match {
        case s: String if uuidRe.matches(s) => s.toLowerCase
        case other => throw CHFault(376, s"Cannot parse uuid '$other' for column $col")
      }
      case CHDateTime(_) => parseDateTime(col, v, 0)
      case CHDateTime64(p, _) => parseDateTime(col, v, p)
      case CHMap(_, vt) => v match {
        case m: Map[_, _] => m.map { case (k, mv) =>
          String.valueOf(k) -> validate(s"$col value", vt, mv)
        }
        case other => throw CHFault(117, s"Cannot parse Map from '$other' for column $col")
      }
      case CHArray(inner) => v match {
        case xs: Vector[_] => xs.map(e => validate(s"$col element", inner, e))
        case other => throw CHFault(130, s"Cannot read array from '$other' for column $col")
      }
      case CHIPv4 => v match {
        // string literal, or the raw UInt32 (both accepted by the server)
        case s: String => graft.types.IpCodec.canonicalV4(s).getOrElse(
          throw CHFault(441, s"Invalid IPv4 value '$s' for column $col"))
        case d: BigDecimal if d.isWhole && d >= 0 && d <= BigDecimal(4294967295L) =>
          graft.types.IpCodec.formatV4(d.toLongExact)
        case other => throw CHFault(441, s"Invalid IPv4 value '$other' for column $col")
      }
      case CHIPv6 => v match {
        case s: String => graft.types.IpCodec.canonicalV6(s).getOrElse(
          throw CHFault(441, s"Invalid IPv6 value '$s' for column $col"))
        case other => throw CHFault(441, s"Invalid IPv6 value '$other' for column $col")
      }
      case t @ CHTuple(elems) => v match {
        // named tuples arrive as JSON objects (input_format_json_named_
        // tuples_as_objects, default on); positional arrays work for both
        case m: Map[_, _] if t.isNamed =>
          val in = m.asInstanceOf[Map[String, Any]]
          val extra = in.keySet -- t.elementNames.toSet
          if (extra.nonEmpty)
            throw CHFault(117, s"Unknown tuple element(s) ${extra.mkString(",")} for column $col")
          t.elementNames.zip(elems).map { case (n, (_, et)) =>
            n -> validate(s"$col.$n", et, in.getOrElse(n, Absent))
          }.toMap
        case xs: Vector[_] =>
          if (xs.length != elems.length)
            throw CHFault(53, s"Tuple arity ${xs.length} != ${elems.length} for column $col")
          val vals = xs.zip(elems).zipWithIndex.map { case ((e, (_, et)), i) =>
            validate(s"$col.${i + 1}", et, e)
          }
          if (t.isNamed) t.elementNames.zip(vals).toMap else vals
        case other => throw CHFault(53, s"Cannot parse Tuple from '$other' for column $col")
      }
    }
  }

  private def intValue(col: String, v: Any, lo: BigDecimal, hi: BigDecimal): Any = {
    val d = v match {
      case d: BigDecimal => d
      case s: String =>
        try BigDecimal(s)
        catch { case _: Exception => throw CHFault(72, s"Cannot parse number from '$s' for column $col") }
      case b: Boolean => BigDecimal(if (b) 1 else 0)
      case other => throw CHFault(72, s"Cannot parse number from '$other' for column $col")
    }
    if (!d.isWhole) throw CHFault(72, s"Cannot parse integer from '$d' for column $col")
    if (d < lo || d > hi)
      throw CHFault(321, s"Value $d is out of range of data type for column $col")
    d.toBigInt
  }

  /** Date/Date32 canonical form: epoch day (Long), parsed from ISO date
    * strings or day-ordinal numbers, range-checked to the type's domain. */
  private def epochDay(col: String, v: Any, lo: Long, hi: Long, tn: String): Long = {
    val day: Long = v match {
      case d: BigDecimal if d.isWhole => d.toLong
      case s: String =>
        try java.time.LocalDate.parse(s.trim).toEpochDay
        catch { case _: Exception =>
          throw CHFault(38, s"Cannot parse date '$s' for column $col") }
      case other => throw CHFault(38, s"Cannot parse date '$other' for column $col")
    }
    if (day < lo || day > hi)
      throw CHFault(321, s"Value $day is out of range of type $tn for column $col")
    day
  }

  private def minOf(bits: Int) = BigDecimal(BigInt(-1) << (bits - 1))
  private def maxOf(bits: Int) = BigDecimal((BigInt(1) << (bits - 1)) - 1)
  private def umaxOf(bits: Int) = BigDecimal((BigInt(1) << bits) - 1)

  /** best_effort datetime parse: ISO-8601 (T or space separator, optional
    * fraction/offset — what Spark's JSON encoder and the feature files
    * emit) or epoch seconds. Returns epoch micros truncated to precision. */
  private def parseDateTime(col: String, v: Any, precision: Int): Long = {
    val micros: Long = v match {
      case d: BigDecimal => (d * 1000000L).toLong
      case s: String =>
        val t = s.trim.replace(' ', 'T')
        val inst =
          try {
            if (t.contains("+") || t.endsWith("Z") || t.lastIndexOf('-') > 9)
              java.time.OffsetDateTime.parse(t).toInstant
            else LocalDateTime.parse(t, DateTimeFormatter.ISO_LOCAL_DATE_TIME)
              .toInstant(ZoneOffset.UTC)
          } catch {
            case _: Exception =>
              throw CHFault(41, s"Cannot parse datetime '$s' for column $col")
          }
        inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      case other => throw CHFault(41, s"Cannot parse datetime '$other' for column $col")
    }
    val unit = math.pow(10, (6 - math.min(precision, 6)).toDouble).toLong
    // floorDiv: sub-precision digits on a PRE-EPOCH value must round down
    // (toward -inf), matching the RowBinary tick encoding — truncation
    // toward zero would store the two wire formats a tick apart
    Math.floorDiv(micros, unit) * unit
  }

  private def defaultFor(t: CHType): Any = {
    import CHType._
    t match {
      case CHString | CHFixedString(_) => ""
      case CHBool => false
      case CHInt(_) | CHUInt(_) => BigInt(0)
      case CHFloat32 | CHFloat64 => 0.0
      case CHDecimal(_, s) => BigDecimal(0).setScale(s)
      case CHDate | CHDate32 => 0L
      case CHEnum(_, values) => values.minByOption(_._2).map(_._1).getOrElse("")
      case CHUUID => "00000000-0000-0000-0000-000000000000"
      case CHDateTime(_) | CHDateTime64(_, _) => 0L
      case CHMap(_, _) => Map.empty[String, Any]
      case CHArray(_) => Vector.empty
      case CHIPv4 => "0.0.0.0"
      case CHIPv6 => "::"
      case t @ CHTuple(elems) =>
        val defaults = elems.map(e => defaultFor(e._2))
        if (t.isNamed) t.elementNames.zip(defaults).toMap else defaults.toVector
      case CHLowCardinality(i) => defaultFor(i)
      case CHNullable(_) => null
    }
  }

  // ------------------------------------------------------- binary values

  /** One SCALAR value in the RowBinary per-value layout (varint-length
    * strings, little-endian fixed-width numerics, uint32/int64 datetimes,
    * UUID as two little-endian u64 halves) — the layout of a scalar Native
    * column, which [[parseNative]] decodes through here. Composite
    * columns (LowCardinality, Nullable, Array, Map, Tuple) are walked by
    * [[readNativeColumn]] and never reach this. */
  private def readBinary(in: RowBinaryReader, t: CHType, col: String): Any = {
    import CHType._
    t match {
      case CHString => in.str()
      case CHFixedString(n) =>
        val s = new String(in.take(n), UTF_8)
        s.replaceAll("\u0000+$", "") // server pads with NULs
      case CHBool => in.u8() != 0
      case CHInt(8) => BigInt(in.u8().toByte)
      case CHInt(16) => BigInt(in.i16())
      case CHInt(32) => BigInt(in.i32())
      case CHInt(64) => BigInt(in.i64())
      case CHUInt(8) => BigInt(in.u8())
      case CHUInt(16) => BigInt(in.i16() & 0xffff)
      case CHUInt(32) => BigInt(in.i32() & 0xffffffffL)
      case CHUInt(64) => BigInt(java.lang.Long.toUnsignedString(in.i64()))
      case CHFloat32 => java.lang.Float.intBitsToFloat(in.i32()).toDouble
      case CHFloat64 => java.lang.Double.longBitsToDouble(in.i64())
      case CHDecimal(p, s) =>
        // scaled little-endian two's-complement int of the width the
        // precision implies — canonical form matches the JSON leg's
        val width = if (p <= 9) 4 else if (p <= 18) 8 else 16
        val le = in.take(width)
        val be = le.reverse
        BigDecimal(BigInt(new java.math.BigInteger(be)), s)
      case CHDate => (in.i16() & 0xffff).toLong
      case CHDate32 => in.i32().toLong
      case CHEnum(bits, values) =>
        val id = if (bits == 8) in.u8().toByte.toInt else in.i16()
        values.find(_._2 == id).map(_._1)
          .getOrElse(throw CHFault(691, s"Unknown enum id $id for column $col"))
      case CHUUID =>
        // RowBinary UUID: two little-endian u64 halves (hi, lo)
        val hi = in.i64(); val lo = in.i64()
        new java.util.UUID(hi, lo).toString
      case CHDateTime(_) => (in.i32() & 0xffffffffL) * 1000000L
      case CHDateTime64(p, _) =>
        val ticks = in.i64()
        val unit = math.pow(10, (6 - math.min(p, 6)).toDouble).toLong
        if (p <= 6) ticks * unit
        else ticks / math.pow(10, (p - 6).toDouble).toLong
      case CHIPv4 => graft.types.IpCodec.formatV4(in.i32() & 0xffffffffL)
      case CHIPv6 => graft.types.IpCodec.formatV6(in.take(16))
    }
  }

  // ----------------------------------------------------------------- Native

  /** Native-format decode: columnar blocks (`varint n_cols, varint n_rows`,
    * then per column name, declared type text, column-major data). Per-value
    * scalar layouts equal RowBinary's, so [[readBinary]] is reused; the
    * structural differences — Nullable's grouped mask, Array/Map u64
    * offsets — are decoded here. Column types declared by the BLOCK are
    * validated against the table like the real server's converting-actions
    * step: equal modulo LowCardinality wrappers (a block sends LC columns
    * as their inner type), plus non-nullable into Nullable. */
  private def parseNative(table: Table, cols: Seq[String], body: Array[Byte]): RowSlab = {
    val in = new RowBinaryReader(body)
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    var total = 0L
    try {
      while (in.hasMore) { // a POST may carry several blocks
        val ncols = in.varint().toInt
        val nrows = in.varint().toInt
        val colData = (0 until ncols).map { _ =>
          val name = in.str()
          val typeStr = in.str()
          val declared =
            try CHType.parse(typeStr)
            catch { case _: Exception =>
              throw CHFault(50, s"Unknown data type in Native block: $typeStr") }
          if (!cols.contains(name))
            throw CHFault(117, s"Column $name in Native block is not in the INSERT column list")
          val tcol = table.columns.find(_.name == name).getOrElse(
            throw CHFault(16, s"No such column $name in table"))
          if (!nativeCompatible(declared, tcol.chType))
            throw CHFault(53, s"Type mismatch for column $name: block declares $typeStr")
          // converting insert (String block → FixedString(w) table): the
          // real server converts per value and rejects overlong ones
          val fsWidth = fixedStringWidthOf(declared, tcol.chType)
          def widthCheck(vals: IndexedSeq[Any]): IndexedSeq[Any] = {
            fsWidth.foreach { w =>
              vals.foreach {
                case s: String if s.getBytes(UTF_8).length > w =>
                  throw CHFault(131,
                    s"Too large value for FixedString($w) in column $name")
                case _ => ()
              }
            }
            vals
          }
          // retainRows=false (the bench fixture): validating walk without
          // materializing values — skips ONLY checks that cannot fail
          // (every bit pattern is a legal Int64/Float64/DateTime tick;
          // ClickHouse String is raw bytes, not UTF-8-checked on insert).
          // Enum-id membership, framing/offset structure and truncation
          // (CANNOT_READ_ALL_DATA) are still enforced value-by-value, so
          // the fixture rejects exactly what the full decode rejects. The
          // converting-insert width check CAN fail, so it always decodes.
          // LC keys-serialization versions are state PREFIXES: one u64
          // per dictionary-form LC in the declared tree, before ANY bulk
          // data (array offsets included) — so Array(LowCardinality(T))
          // reads version, offsets, then the flattened dictionary body
          if (nrows > 0) readLcVersions(in, declared, name)
          if (retainRows || fsWidth.isDefined)
            name -> widthCheck(readNativeColumn(in, declared, nrows, name))
          else {
            validateNativeColumn(in, declared, nrows, name)
            name -> (null: IndexedSeq[Any])
          }
        }
        if (retainRows)
          (0 until nrows).foreach { r =>
            out += colData.map { case (n, vs) => n -> vs(r) }.toMap
          }
        total += nrows
      }
    } catch {
      case _: IndexOutOfBoundsException =>
        throw CHFault(33, s"Cannot read all data: truncated Native block after $total rows")
    }
    RowSlab(out.toSeq, total)
  }

  /** Block column type vs table column type: equal modulo LowCardinality;
    * a non-nullable block column may feed a Nullable table column, and a
    * String block column may feed a FixedString(n) table column — the
    * real server inserts converting actions for all three (values are
    * width-checked per row in [[parseNative]], answering 131 for an
    * overlong value exactly like a direct FixedString insert). */
  private def nativeCompatible(block: CHType, tbl: CHType): Boolean = {
    import CHType._
    def stripLC(t: CHType): CHType = t match {
      case CHLowCardinality(i) => stripLC(i)
      case CHNullable(i) => CHNullable(stripLC(i))
      case CHArray(i) => CHArray(stripLC(i))
      case CHMap(k, v) => CHMap(stripLC(k), stripLC(v))
      case CHTuple(elems) => CHTuple(elems.map { case (n, t) => (n, stripLC(t)) })
      case x => x
    }
    val (b, t) = (stripLC(block), stripLC(tbl))
    b == t ||
      (t match { case CHNullable(i) => b == i; case _ => false }) ||
      ((b, t) match { case (CHString, CHFixedString(_)) => true; case _ => false })
  }

  /** The FixedString width the table imposes on a String block column
    * (the converting-insert case), or None when no width check applies. */
  private def fixedStringWidthOf(block: CHType, tbl: CHType): Option[Int] = {
    import CHType._
    def strip(t: CHType): CHType = t match {
      case CHLowCardinality(i) => strip(i)
      case CHNullable(i) => strip(i)
      case x => x
    }
    (strip(block), strip(tbl)) match {
      case (CHString, CHFixedString(w)) => Some(w)
      case _ => None
    }
  }

  /** Consume the u64 keys-serialization version of every dictionary-form
    * LC in the column's declared type, prefix order — written before any
    * bulk data (the fixture-side mirror of ClickHouse's substream state
    * prefixes; independently implemented from NativeDecoder's walker). */
  private def readLcVersions(in: RowBinaryReader, t: CHType, col: String): Unit = {
    import CHType._
    t match {
      case CHLowCardinality(_) =>
        val version = in.i64()
        if (version != 1L)
          throw CHFault(50,
            s"LC keys-serialization version $version unsupported in column $col")
      case CHNullable(i) => readLcVersions(in, i, col)
      case CHArray(i) => readLcVersions(in, i, col)
      case CHMap(k, v) => readLcVersions(in, k, col); readLcVersions(in, v, col)
      case CHTuple(elems) => elems.foreach(e => readLcVersions(in, e._2, col))
      case _ => ()
    }
  }

  /** Decode one LC dictionary body (flags, dict, keys — the version
    * prefix is consumed by [[readLcVersions]] before the enclosing
    * column's bulk) for an INSERT block column the client chose to ship
    * dictionary-encoded — a deliberately SECOND implementation of the
    * additional-keys layout, separate from the production NativeDecoder,
    * so the client's encoder is never validated by its own decoder.
    * Returns the per-row values. */
  private def readLcDictColumn(in: RowBinaryReader, inner: CHType, n: Int,
                               col: String, retain: Boolean = true): IndexedSeq[Any] = {
    import CHType._
    val (base, nullable) = inner match {
      case CHNullable(i) => (i, true)
      case o => (o, false)
    }
    val flags = in.i64()
    if ((flags & 512L) == 0L || (flags & 256L) != 0L)
      throw CHFault(50, f"LC flags 0x$flags%x unsupported in column $col " +
        "(additional keys without a global dictionary required)")
    val dictSize = in.i64().toInt
    if (dictSize <= 0 || dictSize > (1 << 26))
      throw CHFault(50, s"implausible LC dictionary size $dictSize in column $col")
    // the dict itself is small either way; validate-only mode still walks
    // it value-by-value but skips materializing the n-row output
    val dict =
      if (retain) readNativeColumn(in, base, dictSize, col)
      else { validateNativeColumn(in, base, dictSize, col); null }
    val cnt = in.i64().toInt
    if (cnt != n)
      throw CHFault(50, s"LC keys count $cnt != block rows $n in column $col")
    val width = (flags & 0xffL).toInt
    def key(): Int = {
      val k = width match {
        case 0 => in.u8()
        case 1 => in.i16() & 0xffff
        case 2 => in.i32()
        case 3 => in.i64().toInt
        case w => throw CHFault(50, s"LC key width code $w unsupported in column $col")
      }
      if (k < 0 || k >= dictSize)
        throw CHFault(117,
          s"LC key $k outside dictionary of $dictSize entries in column $col")
      k
    }
    if (retain)
      (0 until n).map { _ =>
        val k = key()
        if (nullable && k == 0) null else dict(k)
      }
    else {
      var i = 0
      while (i < n) { key(); i += 1 }
      null
    }
  }

  private def readNativeColumn(in: RowBinaryReader, t: CHType, n: Int,
                               col: String): IndexedSeq[Any] = {
    import CHType._
    t match {
      // a block column DECLARED LowCardinality carries the dictionary
      // serialization (the plain fallback declares the inner type, so it
      // never reaches this arm); 0 rows = 0 bytes, prefix included
      case CHLowCardinality(inner) =>
        if (n == 0) IndexedSeq.empty else readLcDictColumn(in, inner, n, col)
      case CHNullable(inner) =>
        val mask = (0 until n).map(_ => in.u8() == 1)
        val vals = readNativeColumn(in, inner, n, col)
        (0 until n).map(i => if (mask(i)) null else vals(i))
      case CHArray(inner) =>
        val offs = (0 until n).map(_ => in.i64())
        val flat = readNativeColumn(in, inner,
          if (n == 0) 0 else offs.last.toInt, col)
        var prev = 0
        offs.map { o =>
          val s = flat.slice(prev, o.toInt).toVector; prev = o.toInt; s
        }
      case CHMap(kt, vt) =>
        val offs = (0 until n).map(_ => in.i64())
        val totalElems = if (n == 0) 0 else offs.last.toInt
        // keys recurse by their DECLARED type: plain String reads as
        // before, but a client that dictionary-encoded the key column
        // (block declares Map(LowCardinality(String), ...)) decodes
        // through the LC arm rather than misframing on raw strings
        val keys = readNativeColumn(in, kt, totalElems, col).map(String.valueOf)
        val vals = readNativeColumn(in, vt, totalElems, col)
        var prev = 0
        offs.map { o =>
          val m = (prev until o.toInt).map(i => keys(i) -> vals(i)).toMap
          prev = o.toInt; m
        }
      case t @ CHTuple(elems) =>
        // Native tuple column = element columns back to back
        val byElem = elems.map(e => readNativeColumn(in, e._2, n, col))
        (0 until n).map { r =>
          val vals = byElem.map(_(r)).toVector
          if (t.isNamed) t.elementNames.zip(vals).toMap else vals
        }
      case scalar => (0 until n).map(_ => readBinary(in, scalar, col))
    }
  }

  /** Validating walk over one Native column WITHOUT materializing values
    * (retainRows=false, i.e. the throughput fixtures). Every check that can
    * actually fail in [[readNativeColumn]]/[[readBinary]] is kept — enum-id
    * membership (fault 691), offset/length framing, and truncation (the
    * reader's bound check → fault 33) — while infallible decodes (any 8
    * bytes are a legal Int64/Float64; ClickHouse String is raw bytes) are
    * skipped by width. Unknown shapes fall back to the full decode. */
  private def validateNativeColumn(in: RowBinaryReader, t: CHType, n: Int,
                                   col: String): Unit = {
    import CHType._
    t match {
      // dictionary-form LC: every structural check (version, flags, dict
      // size, keys count, per-key dictionary bounds) still fires; only the
      // value materialization is skipped — the full decode path does both
      case CHLowCardinality(inner) =>
        if (n > 0) { readLcDictColumn(in, inner, n, col, retain = false); () }
      case CHNullable(inner) =>
        in.skip(n.toLong) // grouped null mask; null slots still carry defaults
        validateNativeColumn(in, inner, n, col)
      case CHArray(inner) =>
        var last = 0L
        var i = 0
        while (i < n) { last = in.i64(); i += 1 }
        validateNativeColumn(in, inner, if (n == 0) 0 else last.toInt, col)
      case CHMap(kt, vt) =>
        var last = 0L
        var i = 0
        while (i < n) { last = in.i64(); i += 1 }
        val total = if (n == 0) 0 else last.toInt
        validateNativeColumn(in, kt, total, col) // String OR its LC dict form
        validateNativeColumn(in, vt, total, col)
      case CHTuple(elems) => elems.foreach(e => validateNativeColumn(in, e._2, n, col))
      case CHEnum(bits, values) =>
        var i = 0
        while (i < n) {
          val id = if (bits == 8) in.u8().toByte.toInt else in.i16()
          if (!values.exists(_._2 == id))
            throw CHFault(691, s"Unknown enum id $id for column $col")
          i += 1
        }
      case CHString =>
        var i = 0
        while (i < n) { in.skip(in.varint()); i += 1 }
      case CHFixedString(w) => in.skip(n.toLong * w)
      case CHBool | CHInt(8) | CHUInt(8) => in.skip(n.toLong)
      case CHInt(16) | CHUInt(16) | CHDate => in.skip(2L * n)
      case CHInt(32) | CHUInt(32) | CHFloat32 | CHDateTime(_) | CHDate32 | CHIPv4 =>
        in.skip(4L * n)
      case CHInt(64) | CHUInt(64) | CHFloat64 | CHDateTime64(_, _) => in.skip(8L * n)
      case CHDecimal(p, _) =>
        in.skip(n.toLong * (if (p <= 9) 4 else if (p <= 18) 8 else 16))
      case CHUUID | CHIPv6 => in.skip(16L * n)
      case other => // future shapes: full decode rather than a wrong skip
        var i = 0
        while (i < n) { readBinary(in, other, col); i += 1 }
    }
  }

  private final class RowBinaryReader(buf: Array[Byte]) {
    private var pos = 0
    def hasMore: Boolean = pos < buf.length
    def u8(): Int = { val v = buf(pos) & 0xff; pos += 1; v }
    def i16(): Int = (u8() | (u8() << 8)).toShort.toInt
    def i32(): Int = u8() | (u8() << 8) | (u8() << 16) | (u8() << 24)
    def i64(): Long = (i32() & 0xffffffffL) | (i32().toLong << 32)
    def varint(): Long = {
      var v = 0L; var shift = 0; var b = 0
      do { b = u8(); v |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      v
    }
    def take(n: Int): Array[Byte] = {
      // bound-check: copyOfRange pads past the end with zeros, which would
      // let a truncated tail silently decode as NUL bytes instead of
      // raising the CANNOT_READ_ALL_DATA fault
      if (n < 0 || pos + n > buf.length) throw new IndexOutOfBoundsException()
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; a
    }
    def skip(n: Long): Unit = {
      if (n < 0 || pos + n > buf.length) throw new IndexOutOfBoundsException()
      pos += n.toInt
    }
    def str(): String = new String(take(varint().toInt), UTF_8)
  }

  // ---------------------------------------------------------------- plumbing

  private def contentHash(query: String, body: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(query.getBytes(UTF_8))
    md.update(0.toByte)
    md.update(body)
    md.digest().map("%02x".format(_)).mkString
  }

  private def parseParams(raw: String): Map[String, String] =
    raw.split("&").filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case Array(k) => Some(dec(k) -> "")
        case _ => None
      }
    }.toMap

  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private def unq(id: String): String = {
    val t = id.trim
    if (t.length >= 2 && t.head == '`' && t.last == '`')
      t.substring(1, t.length - 1).replace("\\`", "`").replace("\\\\", "\\")
    else t
  }

  private def ok(ex: HttpExchange, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(200, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) { val os = ex.getResponseBody; os.write(b); os.close() }
  }

  private def fail(ex: HttpExchange, http: Int, code: Int, msg: String): Unit = {
    val body = s"Code: $code. DB::Exception: $msg".getBytes(UTF_8)
    ex.getResponseHeaders.add("X-ClickHouse-Exception-Code", code.toString)
    ex.sendResponseHeaders(http, body.length.toLong)
    val os = ex.getResponseBody; os.write(body); os.close()
  }
}

object MiniClickHouseServer {
  /** One validation/decode fault with its real ClickHouse error code —
    * raised by the shared validators and surfaced by BOTH fixtures (HTTP
    * status + X-ClickHouse-Exception-Code there, Exception packet on the
    * native-TCP wire). */
  private[sink] final case class CHFault(code: Int, msg: String) extends RuntimeException(msg)
}
