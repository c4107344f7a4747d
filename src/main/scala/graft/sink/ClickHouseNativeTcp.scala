package graft.sink

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}

/** ClickHouse NATIVE TCP protocol client (the :9000 wire) — the transport
  * the reference actually uses through clickhouse-go
  * (internal/client/clickhouse.go dials the native port; its batches are
  * native columnar blocks, internal/batch/clickhouse/batch.go). This is a
  * from-scratch implementation of the PUBLIC protocol as documented at
  * clickhouse.com/docs/en/native-protocol (handshake, client info, packet
  * framing) — the reference links a driver and carries no wire code to
  * copy, exactly like the Kafka wire layer vs franz-go.
  *
  * Why a TCP leg when the HTTP leg already speaks FORMAT Native: one
  * INSERT query can STREAM many blocks over a single connection — no
  * per-slab HTTP request setup, no URL re-auth, no response parse between
  * slabs. At 100 TB the sink's INSERT count is millions of slabs; making
  * each slab a framed packet on a kept-open socket instead of an HTTP
  * round-trip removes a per-slab RTT + header cost. Block payloads are
  * byte-identical to the HTTP Native leg: both run [[InsertLoop]] with its
  * Native encoder, and only the transport differs, so slabbing, row-wise
  * replay and dead-letter errors match the HTTP leg's.
  *
  * Protocol revision: both ends speak 54449 and negotiate
  * min(client, server), which pins the exact optional-field set below
  * (client info with initial-query start time, settings as strings,
  * interserver secret, no custom-serialization flags, no addendum). Every
  * `if (rev >= N)` mirrors a public DBMS_MIN_REVISION_* gate so the field
  * layout is checkable against the documented protocol.
  */
object ClickHouseNativeTcp {

  /** Implemented protocol revision (see class doc for the field set). */
  val Revision = 54449L

  /** Oldest server revision this client will talk to. The Query packet's
    * settings section is serialized as STRINGS, a layout only valid from
    * DBMS_MIN_REVISION_WITH_SETTINGS_SERIALIZED_AS_STRINGS (54429); below
    * it the packet would be misframed mid-session, so the handshake
    * refuses outright — loud beats subtly wrong. (Servers this old are
    * pre-20.x; the reference's driver floor is far above it.) */
  val MinRevision = 54429L

  // client packet codes
  private val CHello = 0L
  private val CQuery = 1L
  private val CData = 2L
  private val CPing = 4L
  // server packet codes
  private val SHello = 0L
  private val SData = 1L
  private val SException = 2L
  private val SProgress = 3L
  private val SPong = 4L
  private val SEndOfStream = 5L
  private val SProfileInfo = 6L
  private val SLog = 10L
  private val STableColumns = 11L

  final case class Config(
      host: String,
      port: Int,
      database: String = "default",
      table: String = "",
      username: String = "default",
      password: String = "",
      /** Per-query settings, sent in the Query packet's settings section. */
      settings: Map[String, String] = Map.empty,
      /** TLS for the secure native port (:9440, `tcps://` scheme) — the
        * same config surface as the Kafka leg (base64-PEM root CA, mTLS
        * cert/key, skip-verify). */
      tls: Option[graft.sources.kafka.WireClient.TlsConfig] = None,
      /** Compress the data stream both ways (the documented native
        * compression: CityHash128-checksummed frames). Opt-in until the
        * checksum implementation has been validated against a real server
        * (see [[CityHash102]]'s validation note); at scale it is the
        * 3-5× wire-bandwidth lever. */
      compress: Boolean = false,
      /** Frame codec for the blocks THIS client writes: 0x82 LZ4 (the
        * default everywhere) or 0x90 ZSTD. The server always answers in
        * its OWN configured codec (`network_compression_method`) — the
        * frame reader accepts both regardless of this setting. */
      compressMethod: Int = ChCompression.MethodLz4,
      /** Declared CH type per destination column (drives the encoder). */
      columnTypes: Map[String, String] = Map.empty,
      /** Rows per Native block (one framed Data packet each). */
      maxRowsPerBlock: Int = 100000,
      maxBytesPerBlock: Long = 64L * 1024 * 1024,
      connectTimeoutMs: Int = 10000,
      readTimeoutMs: Int = 120000)

  /** Parse `tcp://host:port` / `tcps://host:port` (the schemes
    * [[ClickHouseSink]] routes here; tcps is the server's secure native
    * port, 9440 by default). */
  def parseEndpoint(url: String, c: ClickHouseSink.Config): Config = {
    val secure = url.startsWith("tcps://")
    val hp = url.stripPrefix("tcps://").stripPrefix("tcp://").stripSuffix("/")
    val (host, port) = hp.lastIndexOf(':') match {
      case -1 => (hp, if (secure) 9440 else 9000)
      case i => (hp.substring(0, i), hp.substring(i + 1).toInt)
    }
    Config(host, port, database = c.database, table = c.table,
      username = c.username, password = c.password, settings = c.httpSettings,
      compress = c.tcpCompress,
      compressMethod =
        if (c.tcpCompressMethod.equalsIgnoreCase("zstd")) ChCompression.MethodZstd
        else ChCompression.MethodLz4,
      tls = if (secure) Some(graft.sources.kafka.WireClient.TlsConfig(
        rootCaPemB64 = c.tlsRootCaPemB64, skipVerify = c.tlsSkipVerify))
      else None,
      columnTypes = (c.mappings ++ c.versionMappings.values.flatten)
        .map(m => m.column -> m.chType).toMap,
      maxRowsPerBlock = math.min(c.maxBatchSize, 1000000L).toInt)
  }

  // ------------------------------------------------------------- connection

  /** One authenticated native-protocol connection. NOT thread-safe — each
    * Spark task opens its own (the per-partition parallelism model the
    * HTTP leg uses, one socket per task instead of one POST per slab). */
  final class Conn(c: Config) extends AutoCloseable {
    private val socket: Socket = {
      val plain = new Socket()
      plain.setTcpNoDelay(true)
      plain.connect(new InetSocketAddress(c.host, c.port), c.connectTimeoutMs)
      plain.setSoTimeout(c.readTimeoutMs)
      c.tls match {
        case None => plain
        case Some(cfg) =>
          // TLS over the connected socket (SNI + hostname verification
          // unless skip-verify); handshake up front so an untrusted
          // certificate fails HERE with an SSL exception, not mid-INSERT
          val s = cfg.sslContext.getSocketFactory
            .createSocket(plain, c.host, c.port, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          val params = s.getSSLParameters
          if (!cfg.skipVerify) params.setEndpointIdentificationAlgorithm("HTTPS")
          s.setSSLParameters(params)
          s.startHandshake()
          s
      }
    }
    private val out = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
    private val in = new BufferedInputStream(socket.getInputStream, 1 << 16)

    /** Negotiated revision = min(ours, server's); set by the handshake. */
    var rev: Long = Revision
    var serverName: String = ""

    // ---- handshake (ClientHello → ServerHello | Exception)
    locally {
      wVarint(out, CHello)
      wStr(out, "graft-spark")
      wVarint(out, 1L) // version major
      wVarint(out, 0L) // version minor
      wVarint(out, Revision)
      wStr(out, c.database)
      wStr(out, c.username)
      wStr(out, c.password)
      out.flush()
      rVarint(in) match {
        case SHello =>
          serverName = rStr(in)
          rVarint(in); rVarint(in) // server version major/minor
          rev = math.min(Revision, rVarint(in))
          if (rev >= 54058) rStr(in) // server timezone
          if (rev >= 54372) rStr(in) // display name
          if (rev >= 54401) rVarint(in) // version patch
        case SException => throw readException(in)
        case other =>
          throw new java.io.IOException(s"unexpected packet $other in handshake")
      }
      // every packet this client writes assumes the post-54429 layout
      // (settings as strings); an older server would read a misframed
      // Query, so refuse the session while the stream is still clean
      if (rev < MinRevision)
        throw new java.io.IOException(
          s"server $serverName speaks protocol revision $rev, below the " +
            s"supported minimum $MinRevision (settings-as-strings layout)")
    }

    def ping(): Unit = {
      wVarint(out, CPing); out.flush()
      var code = rVarint(in)
      while (code == SProgress) { skipProgress(in, rev); code = rVarint(in) }
      if (code != SPong) throw new java.io.IOException(s"expected Pong, got $code")
    }

    /** Run one INSERT: send the Query packet, wait for the server's
      * table-structure Data block, stream `blocks` (each a raw
      * [[NativeEncoder]] block payload), then the empty terminal block,
      * then wait for EndOfStream. A server Exception at ANY point throws
      * [[ClickHouseHttp.CHServerException]] (same classifier path as the
      * HTTP leg); the connection is then dead — callers reconnect. */
    def insert(query: String, blocks: Iterator[Array[Byte]]): Unit = {
      sendQuery(query)
      awaitStructure()
      blocks.foreach { b =>
        sendBlock(b)
        // drain any informational packets the server emits DURING the
        // stream (Progress; Log under send_logs_level): a long INSERT
        // that never reads while it writes lets both TCP buffers fill —
        // server blocked on its write, client blocked on its own =
        // deadlock. available()-guarded so this never blocks the send
        // path; a mid-stream Exception surfaces here instead of after
        // megabytes of doomed blocks.
        drainInbound()
      }
      sendBlock(EmptyBlock) // end-of-data marker
      out.flush()
      awaitEndOfStream()
    }

    /** Run one SELECT and decode the server's Data blocks off the socket
      * as the iterator advances — the TCP sibling of the HTTP leg's
      * streaming scan (one block in memory, no response buffer, and no
      * per-partition HTTP request setup). With `expect` given, each
      * block's names and declared types are verified structurally
      * ([[graft.types.NativeDecoder]]'s misframing guard); with None the
      * blocks decode by their declared types (metadata queries). The
      * iterator must be consumed (or the connection closed) before the
      * connection is reused; informational packets (Progress, Log,
      * ProfileInfo, Totals/Extremes-free scans only) are skipped inline,
      * a server Exception at any point throws. */
    def select(query: String,
               expect: Option[Seq[(String, graft.types.CHType)]])
        : Iterator[(Seq[(String, graft.types.CHType)], Iterator[org.apache.spark.sql.catalyst.InternalRow])] = {
      sendQuery(query)
      new Iterator[(Seq[(String, graft.types.CHType)], Iterator[org.apache.spark.sql.catalyst.InternalRow])] {
        private var eos = false
        private var nextBlock: Option[(Seq[(String, graft.types.CHType)], Iterator[org.apache.spark.sql.catalyst.InternalRow])] = None
        private def advance(): Unit =
          while (nextBlock.isEmpty && !eos) {
            rVarint(in) match {
              case SData =>
                if (rev >= 50264) rStr(in) // external table name
                val (cols, rows) = readBlockBody { bin =>
                  readBlockInfo(bin, rev)
                  graft.types.NativeDecoder.decodeOneBlock(bin, expect)
                }
                // 0-row header/terminal blocks carry structure, not data
                if (rows.hasNext || cols.nonEmpty) nextBlock = Some((cols, rows))
              case SProgress => skipProgress(in, rev)
              case SProfileInfo => skipProfileInfo(in)
              case SLog => skipServerBlockPlain()
              case STableColumns => rStr(in); rStr(in)
              case SEndOfStream => eos = true
              case SException => throw readException(in)
              case other =>
                throw new java.io.IOException(s"unexpected packet $other in SELECT response")
            }
          }
        def hasNext: Boolean = { advance(); nextBlock.isDefined }
        def next(): (Seq[(String, graft.types.CHType)], Iterator[org.apache.spark.sql.catalyst.InternalRow]) = {
          advance()
          val b = nextBlock.get
          nextBlock = None
          b
        }
      }
    }

    /** `DESCRIBE TABLE db.t` over the native protocol: (column, declared
      * type text) pairs — the TCP sibling of
      * [[ClickHouseHttp.describeTable]], so a tcp:// read source needs no
      * HTTP side-channel for planning. */
    def describe(db: String, table: String): Seq[(String, String)] = {
      val q = s"DESCRIBE TABLE ${quoteId(db)}.${quoteId(table)}"
      val out = Seq.newBuilder[(String, String)]
      select(q, None).foreach { case (cols, rows) =>
        val byName = cols.map(_._1).zipWithIndex.toMap
        val ni = byName.getOrElse("name",
          throw new java.io.IOException("DESCRIBE block lacks a 'name' column"))
        val ti = byName.getOrElse("type",
          throw new java.io.IOException("DESCRIBE block lacks a 'type' column"))
        rows.foreach { r =>
          out += (r.getUTF8String(ni).toString -> r.getUTF8String(ti).toString)
        }
      }
      out.result()
    }

    /** Consume server packets already buffered/available without blocking. */
    private def drainInbound(): Unit =
      while (in.available() > 0) {
        rVarint(in) match {
          case SProgress => skipProgress(in, rev)
          case SLog => skipServerBlockPlain()
          case SData => skipServerBlock()
          case SProfileInfo => skipProfileInfo(in)
          case STableColumns => rStr(in); rStr(in)
          case SException => throw readException(in)
          case other =>
            throw new java.io.IOException(s"unexpected packet $other mid-INSERT")
        }
      }

    private def sendQuery(q: String): Unit = {
      wVarint(out, CQuery)
      wStr(out, "") // query id (server assigns)
      // ---- client info block (rev >= 54032)
      out.write(1) // query kind: initial query
      wStr(out, "") // initial user
      wStr(out, "") // initial query id
      wStr(out, "0.0.0.0:0") // initial address
      if (rev >= 54449) wI64(out, 0L) // initial query start time (micros)
      out.write(1) // interface: TCP
      wStr(out, "graft") // os user
      wStr(out, "localhost") // client hostname
      wStr(out, "graft-spark") // client name
      wVarint(out, 1L); wVarint(out, 0L) // client version major/minor
      wVarint(out, Revision)
      if (rev >= 54060) wStr(out, "") // quota key
      if (rev >= 54448) wVarint(out, 0L) // distributed depth
      if (rev >= 54401) wVarint(out, 0L) // client version patch
      if (rev >= 54442) out.write(0) // no OpenTelemetry context
      // ---- settings, serialized as strings (rev >= 54429), "" terminates
      c.settings.foreach { case (k, v) =>
        wStr(out, k); wVarint(out, 0L); wStr(out, v)
      }
      wStr(out, "")
      if (rev >= 54441) wStr(out, "") // interserver secret
      wVarint(out, 2L) // stage: complete
      // compression covers the DATA stream both directions from here on:
      // every block body (ours and the server's) rides CityHash128-
      // checksummed LZ4 frames; packet codes, names and non-block packets
      // stay plain
      wVarint(out, if (c.compress) 1L else 0L)
      wStr(out, q)
      // external-tables data, terminated by an empty block — sent after
      // EVERY query (the sequence clickhouse-go/ch-go follow); the server
      // reads it before answering, so omitting it desynchronizes a real
      // server's INSERT structure reply
      sendBlock(EmptyBlock)
      out.flush()
    }

    /** The server answers an INSERT with a zero-row Data block describing
      * the destination structure; informational packets may precede it. */
    private def awaitStructure(): Unit = {
      var done = false
      while (!done) {
        rVarint(in) match {
          case SData => skipServerBlock(); done = true
          case SProgress => skipProgress(in, rev)
          case SLog => skipServerBlockPlain()
          case STableColumns => rStr(in); rStr(in)
          case SException => throw readException(in)
          case other => throw new java.io.IOException(s"unexpected packet $other awaiting structure")
        }
      }
    }

    private def awaitEndOfStream(): Unit = {
      var done = false
      while (!done) {
        rVarint(in) match {
          case SEndOfStream => done = true
          case SProgress => skipProgress(in, rev)
          case SProfileInfo => skipProfileInfo(in)
          case SLog => skipServerBlockPlain()
          case SData => skipServerBlock()
          case SException => throw readException(in)
          case other => throw new java.io.IOException(s"unexpected packet $other awaiting EndOfStream")
        }
      }
    }

    private def sendBlock(payload: Array[Byte]): Unit = {
      wVarint(out, CData)
      if (rev >= 50264) wStr(out, "") // external/temporary table name
      if (c.compress) {
        // block info + block bytes travel INSIDE the frames; the packet
        // code and table name stay plain (the documented split)
        val raw = new java.io.ByteArrayOutputStream(payload.length + 16)
        writeBlockInfo(raw, rev)
        raw.write(payload, 0, payload.length)
        ChCompression.compressAs(raw.toByteArray, out, c.compressMethod)
      } else {
        writeBlockInfo(out, rev)
        out.write(payload, 0, payload.length)
      }
    }

    /** Read one server BLOCK body (info + columns) — off the raw socket,
      * or through a per-block decompressing frame reader that must be
      * consumed EXACTLY (leftover decompressed bytes would desync the
      * plain-layer packet walk, so they are a loud error). */
    private def readBlockBody[A](f: InputStream => A): A =
      if (!c.compress) f(in)
      else {
        val fi = new ChCompression.FrameInput(in)
        val a = f(fi)
        if (fi.buffered > 0)
          throw new java.io.IOException(
            s"compressed frame spans block boundary (${fi.buffered} leftover bytes)")
        a
      }

    /** Skip one server DATA-family block (INSERT structure blocks,
      * Totals/Extremes), external-name + compression aware. */
    private def skipServerBlock(): Unit = {
      if (rev >= 50264) rStr(in) // external table name
      readBlockBody { bin => skipDataBlockBody(bin, rev) }
    }

    /** Skip one server block that ALWAYS rides the plain stream: Log
      * packets (send_logs_level) are written uncompressed by the server
      * even when block compression is negotiated — only Data / Totals /
      * Extremes travel on the compressed channel (the split clickhouse-go
      * encodes as `compressible=false` for ServerLog). Reading a plain Log
      * block through the frame reader would misparse its Native bytes as a
      * frame header and kill the session. */
    private def skipServerBlockPlain(): Unit = {
      if (rev >= 50264) rStr(in) // external table name
      skipDataBlockBody(in, rev)
    }

    def close(): Unit = {
      try out.flush() catch { case _: Exception => () }
      socket.close()
    }
  }

  /** ncols=0, nrows=0 — the documented end-of-data marker. */
  private val EmptyBlock: Array[Byte] = Array[Byte](0, 0)

  /** Block info framing (rev >= 51903): field 1 = is_overflows (u8),
    * field 2 = bucket_num (i32), 0 terminates. */
  private[sink] def writeBlockInfo(out: OutputStream, rev: Long): Unit =
    if (rev >= 51903) {
      wVarint(out, 1L); out.write(0)
      wVarint(out, 2L); wI32(out, -1)
      wVarint(out, 0L)
    }

  private[sink] def readBlockInfo(in: InputStream, rev: Long): Unit =
    if (rev >= 51903) {
      var field = rVarint(in)
      while (field != 0) {
        field match {
          case 1 => rByte(in)
          case 2 => rI32(in)
          case other => throw new java.io.IOException(s"unknown block-info field $other")
        }
        field = rVarint(in)
      }
    }

  // ------------------------------------------------------------ DataFrame legs

  /** Strict write: each partition opens one connection and streams its
    * blocks through a SINGLE INSERT query — the per-slab round-trips the
    * HTTP leg pays collapse into framed packets on one socket. */
  def write(c: Config)(df: DataFrame): Unit =
    InsertLoop.write(slabs(c, df, isolate = false), insertQuery(c, df.columns.toSeq), () => new InsertLoop.Tcp(c))

  /** Write with poison-row isolation ([[InsertLoop.isolating]], the loop
    * [[ClickHouseHttp.writeIsolating]] runs): each block goes through its
    * OWN INSERT, a rejected block replays row by row as single-row blocks
    * on a fresh connection, and poison rows come back as (jsonRow, error)
    * in a DISTRIBUTED dataset — nothing funnels through the driver. */
  def writeIsolating(c: Config)(df: DataFrame): Dataset[(String, String)] =
    df.sparkSession.createDataset(InsertLoop.isolating(slabs(c, df, isolate = true),
      insertQuery(c, df.columns.toSeq), () => new InsertLoop.Tcp(c)))(ClickHouseHttp.FailurePair)

  private def slabs(c: Config, df: DataFrame, isolate: Boolean): RDD[InsertLoop.Slab] =
    InsertLoop.nativeSlabs(df, c.columnTypes, c.maxRowsPerBlock, c.maxBytesPerBlock, isolate)

  private def quoteId(s: String) = s"`${s.replace("`", "``")}`"

  def insertQuery(c: Config, cols: Seq[String]): String =
    s"INSERT INTO ${quoteId(c.database)}.${quoteId(c.table)} " +
      s"(${cols.map(quoteId).mkString(", ")}) FORMAT Native"

  /** Health probe: handshake + Ping/Pong. */
  def ping(c: Config): Unit = {
    val conn = new Conn(c)
    try conn.ping() finally conn.close()
  }

  // -------------------------------------------------------- wire primitives

  /** A server Exception packet as [[ClickHouseHttp.CHServerException]]:
    * the first code, and the server's own text — its `DB::Exception: `
    * prefix stripped as [[ClickHouseHttp.post]] strips it — with nested
    * causes joined. */
  private[sink] def readException(in: InputStream): ClickHouseHttp.CHServerException = {
    val code = rI32(in)
    val texts = Seq.newBuilder[String]
    var nested = true
    while (nested) {
      rStr(in) // exception class name
      texts += ClickHouseHttp.serverText(rStr(in))
      rStr(in) // stack trace
      nested = rByte(in) == 1
      if (nested) rI32(in) // the cause's own code
    }
    ClickHouseHttp.CHServerException(code, texts.result().mkString("; caused by: "))
  }

  private def skipProgress(in: InputStream, rev: Long): Unit = {
    rVarint(in); rVarint(in) // rows, bytes
    if (rev >= 51554) rVarint(in) // total rows to read
    if (rev >= 54420) { rVarint(in); rVarint(in) } // written rows/bytes
  }

  private def skipProfileInfo(in: InputStream): Unit = {
    rVarint(in); rVarint(in); rVarint(in) // rows, blocks, bytes
    rByte(in) // applied limit
    rVarint(in) // rows before limit
    rByte(in) // calculated rows before limit
  }

  /** Skip a server Data block BODY (info + columns; the external-name
    * string is the caller's, read plain before any decompression). The
    * INSERT path's structure block is zero-row, but Log packets
    * (send_logs_level) and Totals blocks CARRY rows — a Native block is
    * not length-prefixed, so skipping means structurally walking each
    * column's data by its declared type (offsets followed, fixed widths
    * multiplied, strings length-hopped). An undecodable declared type
    * still fails loudly — mis-framing must never be silently absorbed. */
  private def skipDataBlockBody(in: InputStream, rev: Long): Unit = {
    readBlockInfo(in, rev)
    val ncols = rVarint(in)
    val nrows = rVarint(in).toInt
    (0L until ncols).foreach { _ =>
      rStr(in) // column name
      val typeText = rStr(in)
      val t =
        try graft.types.CHType.parse(typeText)
        catch {
          case e: Exception => throw new java.io.IOException(
            s"cannot skip server block column of type $typeText: ${e.getMessage}")
        }
      skipColumnData(in, t, nrows)
    }
  }

  /** Advance past one column's Native data (structural walk by type). */
  private def skipColumnData(in: InputStream, t: graft.types.CHType, n: Int): Unit = {
    import graft.types.CHType._
    t match {
      // dictionary-encoded LC (version, flags, dict, keys) — the layout a
      // server sends for LC-declared columns; 0 rows = 0 bytes
      case CHLowCardinality(inner) =>
        if (n > 0) {
          val version = rI64(in)
          if (version != 1L)
            throw new java.io.IOException(s"cannot skip LC version $version")
          val flags = rI64(in)
          val keyBytes = (flags & 0xffL).toInt match {
            case 0 => 1; case 1 => 2; case 2 => 4; case 3 => 8
            case w => throw new java.io.IOException(s"cannot skip LC key width $w")
          }
          val base = inner match { case CHNullable(i) => i; case o => o }
          val dictSize = rI64(in)
          skipColumnData(in, base, dictSize.toInt)
          rI64(in) // keys count
          skipBytes(in, n.toLong * keyBytes)
        }
      case CHNullable(inner) =>
        skipBytes(in, n.toLong) // grouped null mask
        skipColumnData(in, inner, n)
      case CHArray(inner) =>
        var last = 0L
        (0 until n).foreach(_ => last = rI64(in))
        skipColumnData(in, inner, if (n == 0) 0 else last.toInt)
      case CHMap(_, vt) =>
        var last = 0L
        (0 until n).foreach(_ => last = rI64(in))
        val total = if (n == 0) 0 else last.toInt
        (0 until total).foreach(_ => skipBytes(in, rVarint(in))) // keys
        skipColumnData(in, vt, total)
      case CHTuple(elems) => elems.foreach(e => skipColumnData(in, e._2, n))
      case CHString => (0 until n).foreach(_ => skipBytes(in, rVarint(in)))
      case CHFixedString(w) => skipBytes(in, n.toLong * w)
      case CHBool | CHInt(8) | CHUInt(8) | CHEnum(8, _) => skipBytes(in, n.toLong)
      case CHInt(16) | CHUInt(16) | CHEnum(16, _) | CHDate => skipBytes(in, 2L * n)
      case CHInt(32) | CHUInt(32) | CHFloat32 | CHDateTime(_) | CHDate32 | CHIPv4 =>
        skipBytes(in, 4L * n)
      case CHInt(_) | CHUInt(_) | CHFloat64 | CHDateTime64(_, _) => skipBytes(in, 8L * n)
      case CHDecimal(p, _) =>
        skipBytes(in, n.toLong * (if (p <= 9) 4 else if (p <= 18) 8 else 16))
      case CHUUID | CHIPv6 => skipBytes(in, 16L * n)
    }
  }

  private def skipBytes(in: InputStream, n0: Long): Unit = {
    var n = n0
    val tmp = new Array[Byte](math.min(math.max(n, 1L), 1L << 16).toInt)
    while (n > 0) {
      val k = in.read(tmp, 0, math.min(n, tmp.length.toLong).toInt)
      if (k < 0) throw new java.io.EOFException("connection closed mid-block")
      n -= k
    }
  }

  private[sink] def wVarint(out: OutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private[sink] def wStr(out: OutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    wVarint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private[sink] def wI32(out: OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  private[sink] def wI64(out: OutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private[sink] def rByte(in: InputStream): Int = {
    val b = in.read()
    if (b < 0) throw new java.io.EOFException("connection closed")
    b
  }

  private[sink] def rVarint(in: InputStream): Long = {
    var v = 0L; var shift = 0
    var b = rByte(in)
    while ((b & 0x80) != 0) {
      v |= (b & 0x7fL) << shift; shift += 7; b = rByte(in)
    }
    v | (b.toLong << shift)
  }

  private[sink] def rStr(in: InputStream): String = {
    val n = rVarint(in).toInt
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(b, off, n - off)
      if (k < 0) throw new java.io.EOFException("connection closed")
      off += k
    }
    new String(b, UTF_8)
  }

  private[sink] def rI32(in: InputStream): Int =
    rByte(in) | (rByte(in) << 8) | (rByte(in) << 16) | (rByte(in) << 24)

  private[sink] def rI64(in: InputStream): Long =
    (rI32(in) & 0xffffffffL) | (rI32(in).toLong << 32)
}
