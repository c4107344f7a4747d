package graft.sink

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{struct, to_json}

import graft.SparkSpec
import graft.sink.SinkMapper.ColumnMapping

/** JSONEachRow INSERT bodies are slabbed straight from Spark's internal
  * rows: the bytes on the wire must be exactly the `to_json(..) + "\n"`
  * slabs a String-per-row encoder builds, at every slab bound, and a
  * rejected slab must replay row by row from its own byte ranges. */
class JsonSlabSpec extends SparkSpec {
  import spark.implicits._

  /** An HTTP endpoint that records every POST body and answers 200. */
  private def withCapture(f: (String, ConcurrentLinkedQueue[Array[Byte]]) => Unit): Unit = {
    val bodies = new ConcurrentLinkedQueue[Array[Byte]]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      bodies.add(ex.getRequestBody.readAllBytes())
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", bodies) finally server.stop(0)
  }

  private val frame: DataFrame = Seq(
    (1L, "plain", 1.5, java.sql.Timestamp.valueOf("2025-01-02 03:04:05.123456"), Seq("a", "b"),
      Map("k" -> "v"), "x"),
    (2L, "é 中文 🚀", -0.0, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999"), Seq.empty[String],
      Map.empty[String, String], "y"),
    (3L, "quote\" back\\slash\nnewline\ttab\u0001ctl", 1e300, null, null, null, null),
    (4L, null, Double.NaN, java.sql.Timestamp.valueOf("2200-01-01 00:00:00"), Seq("ü"),
      Map("ключ" -> "значение"), "z"),
    (5L, "x" * 300, 42.0, java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), Seq("long"),
      Map("a" -> "b"), "w"),
    (6L, "", Double.PositiveInfinity, java.sql.Timestamp.valueOf("2025-06-01 00:00:00.5"),
      Seq(null, "n"), Map("n" -> null), "v"),
    (7L, "seven", 7.0, null, Seq("s"), Map("s" -> "7"), "u")
  ).toDF("id", "s", "d", "t", "arr", "m", "a.b")

  /** The bodies a String-per-row encoder slabs `df` into: per partition,
    * `to_json(..) + "\n"` rows cut at `maxRows` rows or `maxBytes` bytes,
    * whichever trips first. */
  private def expectedBodies(df: DataFrame, maxRows: Int, maxBytes: Long): Seq[String] = {
    val json = to_json(struct(df.columns.map(n => df.col(s"`$n`")).toIndexedSeq: _*),
      Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
    df.select(json).as[String].rdd.glom().collect().toSeq.flatMap { rows =>
      val slabs = Seq.newBuilder[String]
      val buf = new java.io.ByteArrayOutputStream()
      var n = 0
      rows.foreach { r =>
        buf.write((r + "\n").getBytes(UTF_8))
        n += 1
        if (n >= maxRows || buf.size >= maxBytes) {
          slabs += new String(buf.toByteArray, ISO_8859_1); buf.reset(); n = 0
        }
      }
      if (n > 0) slabs += new String(buf.toByteArray, ISO_8859_1)
      slabs.result()
    }
  }

  test("JSONEachRow bodies are byte-identical to to_json + newline slabs at every bound") {
    val df = frame.coalesce(3)
    val bounds = Seq((1, 32L << 20), (3, 32L << 20), (1000, 1L), (1000, 150L), (2, 400L),
      (100000, 32L << 20))
    for ((maxRows, maxBytes) <- bounds) withCapture { (endpoint, bodies) =>
      val c = ClickHouseHttp.Config(endpoint, "default", "t",
        maxRowsPerPost = maxRows, maxBytesPerPost = maxBytes)
      val expected = expectedBodies(df, maxRows, maxBytes).sorted
      assert(expected.size > 1 || maxRows == 100000)
      ClickHouseHttp.write(c)(df)
      val plain = bodies.asScala.toSeq.map(new String(_, ISO_8859_1)).sorted
      bodies.clear()
      assert(ClickHouseHttp.writeIsolating(c)(df).collect().isEmpty)
      val isolating = bodies.asScala.toSeq.map(new String(_, ISO_8859_1)).sorted
      withClue(s"maxRows=$maxRows maxBytes=$maxBytes") {
        assert(plain == expected)
        assert(isolating == expected)
      }
    }
  }

  test("a poison row mid-slab dead-letters alone with its JSON text; every good row lands once") {
    val ch = new MiniClickHouseServer()
    ch.start()
    try {
      ch.createTable("default", "slab", Seq("id" -> "Int64", "code" -> "FixedString(2)",
        "note" -> "String"))
      val poison = Set(4L, 9L)
      val df = (1L to 12L).map { i =>
        (i, if (poison(i)) s"toolong-$i" else f"$i%02d", s"note $i é")
      }.toDF("id", "code", "note").coalesce(2)
      val c = ClickHouseSink.Config(url = ch.endpoint, database = "default", table = "slab",
        mappings = Seq(ColumnMapping("id", "id", "Int64"), ColumnMapping("code", "code", "String"),
          ColumnMapping("note", "note", "String")))
      var dead: Seq[(String, String, String)] = Nil
      val n = ClickHouseSink.writeBatchHttp(c, d => dead = d.select("component", "error",
        "original_message").as[(String, String, String)].collect().toSeq)(df)
      assert(n == poison.size)
      val ids = ch.rows("default", "slab").map(r => r("id").toString.toLong).sorted
      assert(ids == (1L to 12L).filterNot(poison))
      assert(dead.map(_._3).sorted ==
        poison.toSeq.sorted.map(i => s"""{"id":$i,"code":"toolong-$i","note":"note $i é"}"""))
      assert(dead.forall { case (component, error, _) =>
        component == "sink" && error.contains("Code: 131") })
    } finally ch.stop()
  }
}
