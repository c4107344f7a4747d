package graft.sink

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{struct, to_json}

import graft.sink.ClickHouseHttp.CHServerException
import graft.types.{CHType, NativeEncoder}

/** The one INSERT loop every ClickHouse sink leg runs, in three parts:
  *
  *  - an ENCODER turns each partition's rows into [[Slab]]s — JSONEachRow
  *    ([[jsonSlabs]]) or Native blocks ([[nativeSlabs]]);
  *  - a [[Transport]] sends slab bodies under one INSERT query — HTTP
  *    POSTs ([[Http]]) or one streamed native-protocol INSERT ([[Tcp]]);
  *  - a POLICY: [[write]] hands a partition's slabs to one insert call and
  *    rethrows any fault; [[isolating]] inserts one slab at a time and
  *    replays a slab the server rejects with a row-data fault row by row,
  *    dead-lettering only the rows the server turns down again.
  *
  * Encoders and transports combine freely; [[ClickHouseHttp]],
  * [[ClickHouseNativeTcp]] and the `graft-clickhouse` DataSource write only
  * pick which. Every leg therefore slabs, replays and words its
  * dead-letter errors the same way. */
private[graft] object InsertLoop {

  /** One INSERT body holding `rows` encoded rows, plus the rows the encoder
    * itself turned down while building it, as (JSON text, error). Row `i`
    * re-encodes on its own ([[row]]) and shows as JSON ([[text]]) for the
    * row-wise replay. */
  abstract class Slab(val body: Array[Byte], val rows: Int, val rejected: Seq[(String, String)]) {
    def row(i: Int): Array[Byte]
    def text(i: Int): String
  }

  /** Sends INSERT bodies under one query. A server fault throws
    * [[ClickHouseHttp.CHServerException]]. */
  trait Transport {
    def insert(query: String, bodies: Iterator[Array[Byte]]): Unit
    def close(): Unit = ()
  }

  /** One POST per body ([[ClickHouseHttp.post]]). */
  final class Http(c: ClickHouseHttp.Config) extends Transport {
    def insert(query: String, bodies: Iterator[Array[Byte]]): Unit =
      bodies.foreach(ClickHouseHttp.post(c, query, _))
  }

  /** All bodies of one call stream through one native-protocol INSERT on a
    * kept-open connection. The connection opens at the first non-empty
    * call, and a fault leaves it dead, so the next call reconnects. */
  final class Tcp(c: ClickHouseNativeTcp.Config) extends Transport {
    private var conn: ClickHouseNativeTcp.Conn = null
    def insert(query: String, bodies: Iterator[Array[Byte]]): Unit = if (bodies.hasNext) {
      if (conn == null) conn = new ClickHouseNativeTcp.Conn(c)
      try conn.insert(query, bodies)
      catch { case e: Throwable => close(); throw e }
    }
    override def close(): Unit = if (conn != null) {
      try conn.close() catch { case _: Exception => () }
      conn = null
    }
  }

  // ------------------------------------------------------------- encoders

  /** Spark's default JSON timestamp format is millisecond-precision (SSS)
    * — a DateTime64(6) column would silently lose its microseconds on the
    * JSONEachRow leg. Emit full micros; best_effort parses them fine. */
  private val jsonOpts: java.util.Map[String, String] =
    java.util.Map.of("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** Columns by VERBATIM name: destination columns are user config and may
    * contain dots (legal CH identifiers) — a bare col(name) would resolve
    * "a.b" as a nested field. */
  private def verbatimCols(df: DataFrame): Seq[Column] =
    df.columns.toSeq.map(n => df.col(s"`${n.replace("`", "``")}`"))

  private def jsonCol(df: DataFrame): Column = to_json(struct(verbatimCols(df): _*), jsonOpts)

  /** Cuts one partition into slabs: `append` adds a row to the open slab
    * and says whether it is now full; `seal` closes the open slab and
    * empties it, or gives null when it holds nothing. A slab is read
    * before the next one is cut. */
  private def cut[A](it: Iterator[A])(append: A => Boolean)(seal: () => Slab): Iterator[Slab] =
    new Iterator[Slab] {
      private var open: Slab = null
      def hasNext: Boolean = {
        if (open == null) {
          var full = false
          while (!full && it.hasNext) full = append(it.next())
          open = seal()
        }
        open != null
      }
      def next(): Slab = { hasNext; val s = open; open = null; s }
    }

  /** JSONEachRow slabs: each task appends the UTF-8 bytes of
    * `to_json(struct(..))` and a '\n' straight from Spark's internal rows
    * and records where each row ends — no String, no per-row array and no
    * Dataset encoder between the JSON encoder and the body. A row's text is
    * decoded only when the server rejects it on its own. Null fields are
    * OMITTED, and ClickHouse fills omitted fields with column defaults
    * (input_format_defaults_for_omitted_fields, on by default) — the
    * reference mapper's absent→NULL/default contract. A slab closes at
    * `maxRows` rows or `maxBytes` bytes, whichever trips first. */
  def jsonSlabs(df: DataFrame, maxRows: Int, maxBytes: Long): RDD[Slab] =
    df.select(jsonCol(df)).queryExecution.toRdd.mapPartitions { it =>
      val buf = new java.io.ByteArrayOutputStream(1 << 20)
      var ends = new Array[Int](1024)
      var n = 0
      cut(it) { row =>
        row.getUTF8String(0).writeTo(buf)
        buf.write('\n')
        if (n == ends.length) ends = java.util.Arrays.copyOf(ends, n * 2)
        ends(n) = buf.size
        n += 1
        n >= maxRows || buf.size >= maxBytes
      } { () =>
        if (n == 0) null
        else {
          val bytes = buf.toByteArray
          val e = java.util.Arrays.copyOf(ends, n)
          val slab = new Slab(bytes, n, Nil) {
            private def start(i: Int) = if (i == 0) 0 else e(i - 1)
            def row(i: Int): Array[Byte] = java.util.Arrays.copyOfRange(bytes, start(i), e(i))
            def text(i: Int): String = new String(bytes, start(i), e(i) - start(i) - 1, UTF_8)
          }
          buf.reset()
          n = 0
          slab
        }
      }
    }

  /** Native slabs: COLUMNAR blocks through [[NativeEncoder.BlockBuilder]],
    * typed by `columnTypes` (String when absent) — one type dispatch per
    * column per block, the layout the server stores without per-row
    * reassembly. A value the builder rejects (FixedString or Decimal
    * overflow, unknown enum, bad IP literal) rolls just that row out of
    * the block: with `isolate` it joins the slab's rejects with its JSON
    * text, without it throws. A row replays as a single-row block.
    * Without `isolate` no JSON is computed and no row is kept. */
  def nativeSlabs(df: DataFrame, columnTypes: Map[String, String], maxRows: Int,
                  maxBytes: Long, isolate: Boolean): RDD[Slab] = {
    val names = df.columns.toSeq
    val types = names.map(n => CHType.parse(columnTypes.getOrElse(n, "String")))
    val rows: RDD[(String, Row)] =
      if (isolate) df.select(jsonCol(df), struct(verbatimCols(df): _*)).rdd
        .map(r => (r.getString(0), r.getStruct(1)))
      else df.rdd.map(r => (null: String, r))
    rows.mapPartitions { it =>
      var b = new NativeEncoder.BlockBuilder(names, types)
      val kept = ArrayBuffer[(String, Row)]()
      val rejected = ArrayBuffer[(String, String)]()
      cut(it) { case (json, row) =>
        b.tryAppend(row) match {
          case Some(err) if isolate => rejected += ((json, err)); false
          case Some(err) => throw new IllegalArgumentException(err)
          case None =>
            if (isolate) kept += ((json, row))
            b.rowCount >= maxRows || b.byteSize >= maxBytes
        }
      } { () =>
        if (b.rowCount == 0 && rejected.isEmpty) null
        else {
          val rowsOf = kept.toVector
          val slab = new Slab(if (b.rowCount == 0) Array.emptyByteArray else b.build(),
              b.rowCount, rejected.toList) {
            def row(i: Int): Array[Byte] = NativeEncoder.encodeSingleRow(names, types, rowsOf(i)._2)
            def text(i: Int): String = rowsOf(i)._1
          }
          b = new NativeEncoder.BlockBuilder(names, types)
          kept.clear()
          rejected.clear()
          slab
        }
      }
    }
  }

  // --------------------------------------------------------------- policy

  /** Strict write: each partition's slabs go through ONE insert call (one
    * streamed INSERT on TCP, one POST per slab on HTTP), and any fault —
    * client-side or server-side — rethrows, so the batch handler's
    * classify/retry policy governs it. Runs now. */
  def write(slabs: RDD[Slab], query: String, transport: () => Transport): Unit =
    slabs.foreachPartition { it =>
      val t = transport()
      try t.insert(query, it.map(_.body)) finally t.close()
    }

  /** Isolating write — the reference's append-error path
    * (internal/sink/clickhouse.go:536-718: a row the server rejects is
    * dead-lettered ALONE; the rest of the batch lands). Each slab is its
    * own INSERT (in real ClickHouse the blocks of one streamed INSERT
    * commit independently, so the slab must be the failure unit). A slab
    * rejected with a ROW-DATA fault ([[ErrorClassifier.rowDataFaultCodes]])
    * replays row by row, and each row the server rejects again comes back
    * as (JSON text, `Code: N. DB::Exception: msg`), beside the rows the
    * encoder rejected. Isolation is task-local, so slabs that already
    * landed are never re-sent. Any other fault rethrows — dead-lettering
    * good rows on a dropped table or rotated credential would be
    * unrecoverable — as does a retryable fault mid-replay (at-least-once,
    * the reference's NACK-redeliver semantics).
    *
    * LAZY: the INSERTs run when the returned RDD is computed — compute it
    * exactly once, or persist it first, or slabs will re-send. */
  def isolating(slabs: RDD[Slab], query: String, transport: () => Transport): RDD[(String, String)] =
    slabs.mapPartitions { it =>
      val t = transport()
      val failed = ArrayBuffer[(String, String)]()
      /** The row-data fault the server turned `body` down with, if any. */
      def rowDataFault(body: Array[Byte]): Option[String] =
        try { t.insert(query, Iterator.single(body)); None }
        catch {
          case CHServerException(code, msg) if ErrorClassifier.isRowDataFault(code) =>
            Some(s"Code: $code. DB::Exception: $msg")
        }
      try it.foreach { s =>
        failed ++= s.rejected
        if (s.rows > 0 && rowDataFault(s.body).isDefined)
          for (i <- 0 until s.rows; err <- rowDataFault(s.row(i))) failed += ((s.text(i), err))
      } finally t.close()
      failed.iterator
    }
}
