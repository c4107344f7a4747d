package graft.sink

import scala.util.Random

import graft.SparkSpec
import graft.sink.SinkMapper.ColumnMapping

/** Cross-format wire property: the SAME randomized rows inserted over the
  * ClickHouse HTTP leg once as Native and once as JSONEachRow must store
  * IDENTICALLY. The two encodings share no code — Native is
  * [[graft.types.NativeEncoder]] over the RowBinary value layouts of
  * [[graft.types.RowBinaryEncoder]] (hand-rolled binary), and JSONEachRow
  * is Spark's JSON writer + the fixture's Jackson parse — so agreement
  * across 200 seeded-random rows per run is strong evidence both are
  * right (an encoder bug and a matching decoder bug in BOTH formats at
  * once is the only false-pass). The suite keeps the name of the RowBinary
  * INSERT format it first compared; that format is retired. */
class RowBinaryPropertySpec extends SparkSpec {
  import spark.implicits._

  private val schema = Seq(
    "id" -> "Int64", "s" -> "String", "fs" -> "FixedString(8)",
    "b" -> "Bool", "i32" -> "Int32", "u16" -> "UInt16",
    "f32" -> "Float32", "f64" -> "Float64",
    "e" -> "Enum8('alpha' = 1, 'beta' = 2, 'gamma' = 3)",
    "uid" -> "UUID", "dt" -> "DateTime", "dt64" -> "DateTime64(6)",
    "lc" -> "LowCardinality(String)", "ns" -> "Nullable(String)",
    "m" -> "Map(String, String)", "arr" -> "Array(Int64)",
    "dec" -> "Decimal(12, 3)", "day" -> "Date", "day32" -> "Date32",
    "tup" -> "Tuple(a String, n Int32)", "ip4" -> "IPv4", "ip6" -> "IPv6")

  private val mappings = schema.map { case (n, t) => ColumnMapping(n, n, t) }

  private def randomRows(r: Random, n: Int) = (0 until n).map { i =>
    def str(max: Int) = {
      val len = r.nextInt(max)
      // printable unicode incl. multi-byte; no trailing NUL ambiguity
      (0 until len).map(_ => r.nextInt(3) match {
        case 0 => ('a' + r.nextInt(26)).toChar
        case 1 => ('α' + r.nextInt(24)).toChar
        case _ => "日本語テスト©π".charAt(r.nextInt(8))
      }).mkString
    }
    def ascii(maxBytes: Int) =
      (0 until r.nextInt(maxBytes + 1)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    (
      i.toLong,
      str(40),
      ascii(8),
      r.nextBoolean(),
      r.nextInt(),
      r.nextInt(65536),
      // Float32: exactly-representable grid so the JSON text round-trip
      // and the bit-level binary round-trip agree to the last digit
      (r.nextInt(4001) - 2000).toFloat / 4.0f,
      r.nextDouble() * 1e9 - 5e8,
      Seq("alpha", "beta", "gamma")(r.nextInt(3)),
      new java.util.UUID(r.nextLong(), r.nextLong()).toString,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        math.abs(r.nextLong()) % 4102444800L)), // 1970..2100
      { val t = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          math.abs(r.nextLong()) % 4102444800L))
        t.setNanos(r.nextInt(1000000) * 1000); t }, // micros precision
      Seq("red", "green", "blue")(r.nextInt(3)),
      if (r.nextBoolean()) null else str(10),
      (0 until r.nextInt(4)).map(k => s"k$k" -> str(6)).toMap,
      (0 until r.nextInt(5)).map(_ => r.nextLong()): Seq[Long],
      // Decimal(12,3): 9 integral digits max, already at the target scale
      // so neither leg rounds
      BigDecimal(r.nextLong() % 1000000000000L, 3),
      // Date: u16 day domain; Date32: [1900-01-01, 2299-12-31]
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.nextInt(65536).toLong)),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        -25567L + r.nextInt(146097))),
      (str(12), r.nextInt()), // Tuple(a String, n Int32): positional struct
      s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}",
      // sprinkle zero groups so '::' compression paths get exercised; the
      // canonical store form is RFC 5952 regardless of the input spelling
      (0 until 8).map(_ => if (r.nextInt(3) == 0) "0"
        else Integer.toHexString(r.nextInt(65536))).mkString(":")
    )
  }

  test("200 seeded-random rows store identically over JSONEachRow and Native") {
    val ch = new MiniClickHouseServer()
    ch.start()
    try {
      ch.createTable("default", "t_json", schema)
      ch.createTable("default", "t_native", schema)
      val seed = 20260815L // deterministic: failures must reproduce
      val rows = randomRows(new Random(seed), 200)
      val df = rows.toDF("id", "s", "fs", "b", "i32", "u16", "f32", "f64",
        "e", "uid", "dt", "dt64", "lc", "ns", "m", "arr", "dec", "day", "day32",
        "tup", "ip4", "ip6")
      def c(table: String, fmt: String) = ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = table,
        mappings = mappings, httpFormat = fmt)
      ClickHouseSink.writeBatch(c("t_json", "JSONEachRow"))(df)
      ClickHouseSink.writeBatch(c("t_native", "Native"))(df)
      assert(ch.rowCount("default", "t_json") == 200)
      assert(ch.rowCount("default", "t_native") == 200)
      val js = ch.rows("default", "t_json").map(r => r("id") -> r).toMap
      val nt = ch.rows("default", "t_native").map(r => r("id") -> r).toMap
      assert(nt.keySet == js.keySet)
      nt.foreach { case (id, ntRow) =>
        val jsRow = js(id)
        schema.map(_._1).foreach { col =>
          (ntRow(col), jsRow(col)) match {
            case (a: Double, b: Double) =>
              assert(math.abs(a - b) <= math.max(1e-9, math.abs(b) * 1e-6),
                s"row $id col $col: Native=$a JSON=$b")
            case (a, b) =>
              assert(a == b, s"row $id col $col: Native=$a JSON=$b")
          }
        }
      }
    } finally ch.stop()
  }

  test("retainRows=false: validating walk accepts and rejects exactly like the full decode") {
    // The throughput fixtures run with retainRows=false, where the server
    // walks blocks with width-skips instead of materializing values. The
    // walk must accept the identical byte streams the full decode accepts
    // (same 200-row / 22-type corpus, both formats) and still raise
    // the decode path's only two fallible faults: unknown enum id (691)
    // and truncation (33).
    val ch = new MiniClickHouseServer(retainRows = false)
    ch.start()
    try {
      ch.createTable("default", "t_json", schema)
      ch.createTable("default", "t_native", schema)
      val rows = randomRows(new Random(20260815L), 200)
      val df = rows.toDF("id", "s", "fs", "b", "i32", "u16", "f32", "f64",
        "e", "uid", "dt", "dt64", "lc", "ns", "m", "arr", "dec", "day", "day32",
        "tup", "ip4", "ip6")
      def c(table: String, fmt: String) = ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = table,
        mappings = mappings, httpFormat = fmt)
      ClickHouseSink.writeBatch(c("t_json", "JSONEachRow"))(df)
      ClickHouseSink.writeBatch(c("t_native", "Native"))(df)
      Seq("t_json", "t_native").foreach { t =>
        assert(ch.acceptedCount("default", t) == 200, t)
        assert(ch.rowCount("default", t) == 0, s"$t must not materialize rows")
      }

      /** A one-column, one-row Native block: `name`, `chType`, then `data`. */
      def block(name: String, chType: String, data: Array[Byte]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        ClickHouseNativeTcp.wVarint(out, 1); ClickHouseNativeTcp.wVarint(out, 1)
        ClickHouseNativeTcp.wStr(out, name); ClickHouseNativeTcp.wStr(out, chType)
        out.write(data)
        out.toByteArray
      }
      val hc = ClickHouseHttp.Config(endpoint = ch.endpoint,
        database = "default", table = "neg", format = "Native")
      ch.createTable("default", "neg", Seq("e" -> "Enum8('a' = 1)"))
      // enum id 99, not in the type's value set
      val badEnum = intercept[ClickHouseHttp.CHServerException] {
        ClickHouseHttp.post(hc, "INSERT INTO `default`.`neg` (`e`) FORMAT Native",
          block("e", "Enum8('a' = 1)", Array[Byte](99)))
      }
      assert(badEnum.code == 691)
      // 1 row of Int64 declared, only 3 bytes carried
      ch.createTable("default", "neg2", Seq("e2" -> "Int64"))
      val cut = intercept[ClickHouseHttp.CHServerException] {
        ClickHouseHttp.post(hc, "INSERT INTO `default`.`neg2` (`e2`) FORMAT Native",
          block("e2", "Int64", Array[Byte](1, 2, 3)))
      }
      assert(cut.code == 33)
    } finally ch.stop()
  }
}
