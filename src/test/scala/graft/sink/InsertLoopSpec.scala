package graft.sink

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sink.SinkMapper.ColumnMapping
import graft.types.{CHType, NativeEncoder}

/** Every ClickHouse sink leg — HTTP JSONEachRow, HTTP Native, native TCP —
  * runs one INSERT loop, so each must fail, isolate and word a poison row
  * the same way; and the Native bodies the loop cuts must be exactly the
  * blocks a plain [[NativeEncoder.BlockBuilder]] walk of each partition
  * builds. */
class InsertLoopSpec extends SparkSpec {
  import spark.implicits._

  /** (leg, config) for the three legs against one fixture pair. */
  private def withLegs(table: String)
                      (f: (MiniClickHouseServer, Seq[(String, ClickHouseSink.Config)]) => Unit): Unit = {
    val ch = new MiniClickHouseServer()
    ch.start()
    val tcp = new MiniClickHouseTcpServer(ch)
    tcp.start()
    try {
      val base = ClickHouseSink.Config(url = ch.endpoint, database = "default",
        table = table, mappings = mappings)
      f(ch, Seq(
        "HTTP JSONEachRow" -> base,
        "HTTP Native" -> base.copy(httpFormat = "Native"),
        "TCP Native" -> base.copy(url = tcp.endpoint)))
    } finally { tcp.stop(); ch.stop() }
  }

  private val mappings = Seq(ColumnMapping("id", "id", "Int64"),
    ColumnMapping("code", "code", "String"))
  private val poison = 5L
  /** Nine rows over two partitions; row 5 overflows the FixedString(3)
    * column, which only the server checks (the mapping says String). */
  private def frame: DataFrame = (1L to 9L)
    .map(i => (i, if (i == poison) "toolong" else f"c$i%d")).toDF("id", "code").coalesce(2)

  test("every leg: strict rethrows a row-data fault; isolating lands each good row once and dead-letters only the poison row") {
    withLegs("t") { (ch, legs) =>
      for ((leg, c) <- legs) withClue(leg) {
        ch.dropTable("default", "t")
        ch.createTable("default", "t", Seq("id" -> "Int64", "code" -> "FixedString(3)"))
        val e = intercept[Exception](ClickHouseSink.writeBatch(c)(frame))
        assert(ErrorClassifier.codeOf(e).exists(ErrorClassifier.isRowDataFault), e.getMessage)

        ch.dropTable("default", "t")
        ch.createTable("default", "t", Seq("id" -> "Int64", "code" -> "FixedString(3)"))
        var dead: Seq[(String, String)] = Nil
        val n = ClickHouseSink.writeBatchHttp(c, d =>
          dead = d.select("component", "original_message").as[(String, String)].collect().toSeq)(frame)
        assert(n == 1)
        assert(ch.rows("default", "t").map(_("id").toString.toLong).sorted ==
          (1L to 9L).filterNot(_ == poison))
        assert(dead == Seq("sink" -> s"""{"id":$poison,"code":"toolong"}"""))
      }
    }
  }

  test("the same poison row dead-letters with one identical error on every leg, Code: once") {
    withLegs("t") { (ch, legs) =>
      val errors = legs.map { case (leg, c) =>
        ch.dropTable("default", "t")
        ch.createTable("default", "t", Seq("id" -> "Int64", "code" -> "FixedString(3)"))
        var errs: Seq[String] = Nil
        ClickHouseSink.writeBatchHttp(c, d => errs = d.select("error").as[String].collect().toSeq)(frame)
        assert(errs.size == 1, leg)
        leg -> errs.head
      }
      assert(errors.map(_._2).distinct.size == 1, errors.mkString("\n"))
      val err = errors.head._2
      assert("Code: ".r.findAllIn(err).size == 1, err)
      assert(err.startsWith("Code: 131. DB::Exception: ") && !err.contains("DB::Exception: DB::"), err)
    }
  }

  test("a whole-batch TCP fault carries the server's Code: prefix exactly once") {
    withLegs("missing") { (_, legs) =>
      val c = ClickHouseNativeTcp.parseEndpoint(legs.last._2.url, legs.last._2)
      val conn = new ClickHouseNativeTcp.Conn(c)
      val msg = try intercept[ClickHouseHttp.CHServerException](
          conn.insert(ClickHouseNativeTcp.insertQuery(c, Seq("id")), Iterator.empty)).getMessage
        finally conn.close()
      assert(msg.startsWith("Code: 60. DB::Exception: "), msg)
      assert("Code: ".r.findAllIn(msg).size == 1 && !msg.contains("DB::Exception: DB::"), msg)
    }
  }

  test("Native HTTP bodies are the BlockBuilder blocks of each partition at every bound") {
    val bodies = new ConcurrentLinkedQueue[Array[Byte]]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      bodies.add(ex.getRequestBody.readAllBytes())
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    try {
      val df = (1 to 23).map(i => (i.toLong, s"s$i" * (i % 4), Seq.fill(i % 3)(i), i % 5 == 0))
        .toDF("id", "s", "arr", "b").coalesce(3)
      val types = Map("id" -> "Int64", "s" -> "LowCardinality(String)",
        "arr" -> "Array(Int32)", "b" -> "Bool")
      val names = df.columns.toSeq
      val chTypes = names.map(n => CHType.parse(types(n)))
      for ((maxRows, maxBytes) <- Seq((1, 32L << 20), (4, 32L << 20), (1000, 40L), (100000, 32L << 20))) {
        val expected = df.rdd.glom().collect().toSeq.flatMap { rows =>
          val blocks = Seq.newBuilder[String]
          var b = new NativeEncoder.BlockBuilder(names, chTypes)
          rows.foreach { r =>
            assert(b.tryAppend(r).isEmpty)
            if (b.rowCount >= maxRows || b.byteSize >= maxBytes) {
              blocks += new String(b.build(), ISO_8859_1)
              b = new NativeEncoder.BlockBuilder(names, chTypes)
            }
          }
          if (b.rowCount > 0) blocks += new String(b.build(), ISO_8859_1)
          blocks.result()
        }.sorted
        val c = ClickHouseHttp.Config(s"http://127.0.0.1:${server.getAddress.getPort}", "default", "t",
          format = "Native", columnTypes = types, maxRowsPerPost = maxRows, maxBytesPerPost = maxBytes)
        def captured(): Seq[String] = {
          val out = bodies.asScala.toSeq.map(new String(_, ISO_8859_1)).sorted
          bodies.clear()
          out
        }
        withClue(s"maxRows=$maxRows maxBytes=$maxBytes") {
          ClickHouseHttp.write(c)(df)
          assert(captured() == expected)
          assert(ClickHouseHttp.writeIsolating(c)(df).collect().isEmpty)
          assert(captured() == expected)
        }
      }
    } finally server.stop(0)
  }
}
