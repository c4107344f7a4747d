package graft.sink

import org.scalatest.funsuite.AnyFunSuite

import graft.types.{CHType, NativeDecoder}

/** The decoder's block-header type guard: a server whose declared column
  * type disagrees with what the reader expects must fail LOUDLY before a
  * single value byte is consumed — a silent misframe would corrupt every
  * remaining column (the countOrNull hazard: a global
  * aggregate_functions_null_for_empty rewrite turns count()'s UInt64 into
  * Nullable(UInt64), whose leading null-mask bytes would otherwise be
  * decoded as count values). Wire-irrelevant spellings — LowCardinality
  * wrappers, timezone parameters, tuple element names — must NOT trip
  * the guard. */
class NativeDecodeGuardSpec extends AnyFunSuite {

  private def block(cols: Seq[(String, String)], rows: Seq[Map[String, Any]]): Array[Byte] =
    MiniChSelect.encodeNative(cols, rows)

  private def decodeAll(body: Array[Byte], expect: Seq[(String, CHType)]) =
    NativeDecoder.decode(body, expect).toVector

  test("declared-vs-expected type mismatch fails loudly, not garbage") {
    // the exact countOrNull shape: wire says Nullable(UInt64), reader
    // expects plain Int64 — one extra mask byte per row would shift the
    // whole decode
    val body = block(Seq("n" -> "Nullable(UInt64)"), Seq(Map("n" -> BigInt(7))))
    val err = intercept[IllegalArgumentException] {
      decodeAll(body, Seq("n" -> CHType.parse("Int64")))
    }
    assert(err.getMessage.contains("declares type 'Nullable(UInt64)'"), err.getMessage)
    assert(err.getMessage.contains("Int64"), err.getMessage)
  }

  test("narrower integer declared than expected fails (width misframe)") {
    val body = block(Seq("v" -> "Int32"), Seq(Map("v" -> BigInt(1))))
    val err = intercept[IllegalArgumentException] {
      decodeAll(body, Seq("v" -> CHType.parse("Int64")))
    }
    assert(err.getMessage.contains("declares type 'Int32'"), err.getMessage)
  }

  test("unparseable declared type fails with the type text in the message") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(1); out.write(1) // 1 col, 1 row (varints < 128)
    def str(s: String): Unit = { out.write(s.length); out.write(s.getBytes("UTF-8")) }
    str("c"); str("AggregateFunction(sum, UInt64)")
    out.write(Array.fill[Byte](8)(0), 0, 8)
    val err = intercept[IllegalArgumentException] {
      decodeAll(out.toByteArray, Seq("c" -> CHType.parse("Int64")))
    }
    assert(err.getMessage.contains("AggregateFunction"), err.getMessage)
  }

  test("wire-irrelevant spellings pass: LC wrapper, timezone, tuple names") {
    // server declares the plain inner type; reader expects the LC raw text
    val lc = block(Seq("t" -> "String"), Seq(Map("t" -> "x")))
    assert(decodeAll(lc, Seq("t" -> CHType.parse("LowCardinality(String)")))
      .head.getUTF8String(0).toString == "x")
    // timezone parameter differs
    val dt = block(Seq("d" -> "DateTime('UTC')"), Seq(Map("d" -> 1700000000000000L)))
    assert(decodeAll(dt, Seq("d" -> CHType.parse("DateTime")))
      .head.getLong(0) == 1700000000000000L)
    // tuple element names differ (elements are positional on the wire)
    val tup = block(Seq("p" -> "Tuple(a String, b Int32)"),
      Seq(Map("p" -> Map("a" -> "x", "b" -> BigInt(5)))))
    val row = decodeAll(tup, Seq("p" -> CHType.parse("Tuple(x String, y Int32)"))).head
    assert(row.getStruct(0, 2).getUTF8String(0).toString == "x")
    assert(row.getStruct(0, 2).getInt(1) == 5)
  }

  test("LowCardinality decodes the real dictionary serialization (u8 and u16 keys)") {
    // 10k rows over 3 distinct values: one dictionary + u8 keys
    val vals = (0 until 10000).map(i => Map[String, Any]("t" -> s"kind${i % 3}"))
    val dictBlock = MiniChSelect.encodeNative(
      Seq("t" -> "LowCardinality(String)"), vals, lcNative = true)
    val decoded = decodeAll(dictBlock, Seq("t" -> CHType.parse("LowCardinality(String)")))
    assert(decoded.size == 10000)
    assert(decoded.zipWithIndex.forall { case (r, i) =>
      r.getUTF8String(0).toString == s"kind${i % 3}" })
    // the POINT of LC: the dictionary form ships far smaller than the
    // plain full column for a repetitive column
    val plainBlock = MiniChSelect.encodeNative(
      Seq("t" -> "LowCardinality(String)"), vals, lcNative = false)
    assert(dictBlock.length * 3 < plainBlock.length,
      s"dict ${dictBlock.length}B should be well under plain ${plainBlock.length}B")
    // >255 distinct values widen the keys to u16
    val wide = (0 until 600).map(i => Map[String, Any]("t" -> s"v$i"))
    val wideBlock = MiniChSelect.encodeNative(
      Seq("t" -> "LowCardinality(String)"), wide, lcNative = true)
    val wideRows = decodeAll(wideBlock, Seq("t" -> CHType.parse("LowCardinality(String)")))
    assert(wideRows.zipWithIndex.forall { case (r, i) =>
      r.getUTF8String(0).toString == s"v$i" })
  }

  test("LowCardinality(Nullable(String)): index 0 is the NULL slot, empty string stays distinct") {
    val vals = Seq[Map[String, Any]](
      Map("t" -> "a"), Map("t" -> null), Map("t" -> ""), Map("t" -> "a"),
      Map("t" -> null))
    val body = MiniChSelect.encodeNative(
      Seq("t" -> "LowCardinality(Nullable(String))"), vals, lcNative = true)
    val rows = decodeAll(body,
      Seq("t" -> CHType.parse("LowCardinality(Nullable(String))")))
    assert(rows(0).getUTF8String(0).toString == "a")
    assert(rows(1).isNullAt(0))
    assert(rows(2).getUTF8String(0).toString == "", "real empty string must NOT decode as NULL")
    assert(rows(3).getUTF8String(0).toString == "a")
    assert(rows(4).isNullAt(0))
  }

  test("a server CONVERTING LC to ordinary (setting=0) declares the inner type and decodes plain") {
    val vals = Seq(Map[String, Any]("t" -> "x"), Map[String, Any]("t" -> "y"))
    val body = MiniChSelect.encodeNative(
      Seq("t" -> "LowCardinality(String)"), vals, lcNative = false)
    // header must declare the CONVERTED type, like a real server
    assert(new String(body, "UTF-8").contains("String") &&
      !new String(body, "UTF-8").contains("LowCardinality"))
    val rows = decodeAll(body, Seq("t" -> CHType.parse("LowCardinality(String)")))
    assert(rows.map(_.getUTF8String(0).toString) == Vector("x", "y"))
  }

  test("corrupt LC metadata fails loudly: bad version, keys-count mismatch, out-of-range key") {
    def craft(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(1); out.write(1) // 1 col, 1 row
      def str(s: String): Unit = { out.write(s.length); out.write(s.getBytes("UTF-8")) }
      str("t"); str("LowCardinality(String)")
      f(out)
      out.toByteArray
    }
    def i64(out: java.io.ByteArrayOutputStream, v: Long): Unit =
      (0 until 8).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    val badVersion = craft { out => i64(out, 7L); i64(out, 512L) }
    assert(intercept[IllegalArgumentException] {
      decodeAll(badVersion, Seq("t" -> CHType.parse("LowCardinality(String)")))
    }.getMessage.contains("version"))
    val badCount = craft { out =>
      i64(out, 1L); i64(out, 512L); i64(out, 1L)
      out.write(1); out.write('x'.toInt) // dict: one entry "x"
      i64(out, 5L) // keys count != 1 row
    }
    assert(intercept[IllegalArgumentException] {
      decodeAll(badCount, Seq("t" -> CHType.parse("LowCardinality(String)")))
    }.getMessage.contains("keys count"))
    val badKey = craft { out =>
      i64(out, 1L); i64(out, 512L); i64(out, 1L)
      out.write(1); out.write('x'.toInt) // dict of 1
      i64(out, 1L)
      out.write(9) // key 9 outside dict of 1
    }
    assert(intercept[IllegalArgumentException] {
      decodeAll(badKey, Seq("t" -> CHType.parse("LowCardinality(String)")))
    }.getMessage.contains("outside dictionary"))
  }

  test("decode is STREAMING: rows flow before the response is drained, one block buffered") {
    val cols = Seq("id" -> "Int64")
    val rows1 = (1 to 50).map(i => Map[String, Any]("id" -> BigInt(i)))
    val rows2 = (51 to 100).map(i => Map[String, Any]("id" -> BigInt(i)))
    val b1 = block(cols, rows1)
    val body = b1 ++ block(cols, rows2)
    var consumed = 0
    val in = new java.io.FilterInputStream(new java.io.ByteArrayInputStream(body)) {
      override def read(): Int = { val v = super.read(); if (v >= 0) consumed += 1; v }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val k = super.read(b, off, len); if (k > 0) consumed += k; k
      }
    }
    val it = NativeDecoder.decode(in, Seq("id" -> CHType.parse("Int64")))
    assert(it.next().getLong(0) == 1L)
    assert(consumed < body.length,
      s"decode materialized the whole response up front ($consumed of ${body.length})")
    assert(consumed <= b1.length,
      s"decode pulled past the first block before its rows were asked for ($consumed > ${b1.length})")
    assert(it.map(_.getLong(0)).toVector == (2L to 100L).toVector)
  }

  test("a truncated stream fails loudly mid-iteration, never zero-pads") {
    val cols = Seq("id" -> "Int64")
    val full = block(cols, (1 to 10).map(i => Map[String, Any]("id" -> BigInt(i))))
    val cut = full.take(full.length - 4)
    val it = NativeDecoder.decode(new java.io.ByteArrayInputStream(cut),
      Seq("id" -> CHType.parse("Int64")))
    intercept[IndexOutOfBoundsException] { it.toVector }
  }

  test("genuinely different structure under a same-width spelling fails (Date32 vs IPv4)") {
    val body = block(Seq("v" -> "IPv4"), Seq(Map("v" -> "1.2.3.4")))
    val err = intercept[IllegalArgumentException] {
      decodeAll(body, Seq("v" -> CHType.parse("Date32")))
    }
    assert(err.getMessage.contains("refusing to decode"), err.getMessage)
  }

  // ------------------------------------------------ LC dictionary ENCODE

  import graft.types.NativeEncoder
  import org.apache.spark.sql.Row

  private def lcBlock(chType: String, vals: Seq[Any]): Array[Byte] = {
    val b = new NativeEncoder.BlockBuilder(Seq("t"), Seq(CHType.parse(chType)))
    vals.foreach(v => b.tryAppend(Row(v)).foreach(e => fail(s"append rejected: $e")))
    b.build()
  }

  test("LC ENCODE: dictionary form round-trips through the production decoder AND the fixture") {
    // 10k rows over 3 distinct values: the encoder must pick dictionary
    // form (one dict + u8 keys) and BOTH decoders must agree on values
    val vals = (0 until 10000).map(i => s"kind${i % 3}")
    val body = lcBlock("LowCardinality(String)", vals)
    // header declares LC (dictionary form chosen)
    assert(new String(body, "UTF-8").contains("LowCardinality(String)"))
    // production decoder
    val rows = decodeAll(body, Seq("t" -> CHType.parse("LowCardinality(String)")))
    assert(rows.size == 10000)
    assert(rows.zipWithIndex.forall { case (r, i) =>
      r.getUTF8String(0).toString == s"kind${i % 3}" })
    // fixture decoder — the independent second implementation — via a
    // real INSERT into the brain
    val brain = new MiniClickHouseServer()
    brain.createTable("default", "lc_enc", Seq("t" -> "LowCardinality(String)"))
    brain.insertNativeBlock("default", "lc_enc", Seq("t"), body)
    val stored = brain.rows("default", "lc_enc")
    assert(stored.size == 10000)
    assert(stored.zipWithIndex.forall { case (m, i) => m("t") == s"kind${i % 3}" })
    // wire-bytes assert: the dictionary form is far under the plain form
    val plain = lcBlock("String", vals)
    assert(body.length * 5 < plain.length,
      s"dict ${body.length}B should be well under plain ${plain.length}B")
  }

  test("LC ENCODE: an all-distinct column falls back to the plain inner form") {
    val vals = (0 until 2000).map(i => s"unique-value-$i-${"x" * 20}")
    val body = lcBlock("LowCardinality(String)", vals)
    val header = new String(body.take(64), "UTF-8")
    assert(!header.contains("LowCardinality"),
      s"all-distinct column must declare the inner type, got: $header")
    // and it still decodes (server-converts path, like pre-r14 blocks)
    val rows = decodeAll(body, Seq("t" -> CHType.parse("LowCardinality(String)")))
    assert(rows.zipWithIndex.forall { case (r, i) =>
      r.getUTF8String(0).toString == vals(i) })
  }

  test("LC ENCODE: Nullable inner — index 0 is the NULL slot, empty string stays its own entry") {
    // enough rows that the size heuristic picks dictionary form (a
    // 6-row block correctly stays plain — dict overhead wouldn't pay)
    val cycle = Seq("alpha", null, "", "alpha", null, "beta")
    val vals = Seq.tabulate(600)(i => cycle(i % 6))
    val body = lcBlock("LowCardinality(Nullable(String))", vals)
    assert(new String(body, "UTF-8").contains("LowCardinality(Nullable(String))"))
    val rows = decodeAll(body,
      Seq("t" -> CHType.parse("LowCardinality(Nullable(String))")))
    assert(rows(0).getUTF8String(0).toString == "alpha")
    assert(rows(1).isNullAt(0))
    assert(rows(2).getUTF8String(0).toString == "",
      "a real empty string must NOT decode as NULL")
    assert(rows(3).getUTF8String(0).toString == "alpha")
    assert(rows(4).isNullAt(0))
    assert(rows(5).getUTF8String(0).toString == "beta")
    assert(rows.size == 600)
    // the fixture agrees
    val brain = new MiniClickHouseServer()
    brain.createTable("default", "lc_n", Seq("t" -> "LowCardinality(Nullable(String))"))
    brain.insertNativeBlock("default", "lc_n", Seq("t"), body)
    assert(brain.rows("default", "lc_n").take(6).map(_("t")) ==
      Seq("alpha", null, "", "alpha", null, "beta"))
    // and the tiny-block case stays plain yet value-identical
    val small = lcBlock("LowCardinality(Nullable(String))", cycle)
    assert(!new String(small, "UTF-8").contains("LowCardinality"))
    val smallRows = decodeAll(small,
      Seq("t" -> CHType.parse("LowCardinality(Nullable(String))")))
    assert(smallRows(1).isNullAt(0) && smallRows(2).getUTF8String(0).toString == "")
  }

  test("LC ENCODE: >255 distinct but repetitive values widen the keys to u16 and round-trip") {
    val vals = (0 until 4000).map(i => s"v${i % 600}")
    val body = lcBlock("LowCardinality(String)", vals)
    assert(new String(body, "UTF-8").contains("LowCardinality(String)"))
    val rows = decodeAll(body, Seq("t" -> CHType.parse("LowCardinality(String)")))
    assert(rows.zipWithIndex.forall { case (r, i) =>
      r.getUTF8String(0).toString == s"v${i % 600}" })
  }

  test("LC ENCODE nested: Array(LowCardinality(String)) — version precedes offsets, round-trips BOTH decoders") {
    // ~4000 ragged arrays over a 6-tag vocabulary (incl. empty arrays):
    // the canonical tags column, where the dictionary pays per block
    val vals: Seq[Seq[String]] = (0 until 4000).map(i =>
      (0 until (4 + i % 5)).map(j => s"tag${(i + j) % 6}") ++
        (if (i % 13 == 0) Nil else Nil))
    val empties = Set(17, 1800) // two explicit empty arrays
    val vals2 = vals.zipWithIndex.map { case (v, i) =>
      if (empties(i)) Seq.empty[String] else v }
    val t = CHType.parse("Array(LowCardinality(String))")
    val b = new NativeEncoder.BlockBuilder(Seq("t"), Seq(t))
    vals2.foreach(v => assert(b.tryAppend(Row(v)).isEmpty))
    val body = b.build()
    assert(new String(body, "UTF-8").contains("Array(LowCardinality(String))"))
    // BYTE LAYOUT: the u64 keys-serialization version sits immediately
    // after the column header, BEFORE the first array offset (ClickHouse
    // writes substream state prefixes before any bulk data)
    val headerLen = 1 /*ncols*/ + 2 /*nrows=4000 varint*/ +
      (1 + 1) /*name "t"*/ + (1 + "Array(LowCardinality(String))".length)
    assert(body.slice(headerLen, headerLen + 8).toSeq ==
      Seq[Byte](1, 0, 0, 0, 0, 0, 0, 0), "u64 version=1 must lead the column")
    // production decoder
    val rows = decodeAll(body, Seq("t" -> t))
    assert(rows.size == 4000)
    (0 until 4000 by 97).foreach { i =>
      val arr = rows(i).getArray(0)
      val got = (0 until arr.numElements()).map(j => arr.getUTF8String(j).toString)
      assert(got == vals2(i), s"row $i")
    }
    assert(rows(17).getArray(0).numElements() == 0)
    // fixture decoder — the independent second implementation — via a
    // real INSERT into the brain
    val brain = new MiniClickHouseServer()
    brain.createTable("default", "lc_arr",
      Seq("t" -> "Array(LowCardinality(String))"))
    brain.insertNativeBlock("default", "lc_arr", Seq("t"), body)
    val stored = brain.rows("default", "lc_arr")
    assert(stored.size == 4000)
    (0 until 4000 by 97).foreach(i =>
      assert(stored(i)("t") == vals2(i).toVector, s"fixture row $i"))
    // wire-bytes: the dictionary form beats shipping every tag string
    val pb = new NativeEncoder.BlockBuilder(Seq("t"),
      Seq(CHType.parse("Array(String)")))
    vals2.foreach(v => pb.tryAppend(Row(v)))
    assert(body.length * 2 < pb.build().length,
      s"dict ${body.length}B vs plain ${pb.build().length}B")
    // and the fixture's SELECT-side encoder (a THIRD implementation)
    // produces the same prefix-order layout the production decoder reads
    val selBody = block(Seq("t" -> "Array(LowCardinality(String))"),
      vals2.take(60).map(v => Map[String, Any]("t" -> v)))
    val selRows = decodeAll(selBody, Seq("t" -> t))
    (0 until 60).foreach { i =>
      val arr = selRows(i).getArray(0)
      val got = (0 until arr.numElements()).map(j => arr.getUTF8String(j).toString)
      assert(got == vals2(i), s"select-side row $i")
    }
  }

  test("LC ENCODE nested: Array(LowCardinality(Nullable(String))) keeps the NULL slot and empty string distinct") {
    val cycle = Seq(Seq("a", null, ""), Seq.empty[String], Seq("b", "a"))
    val vals = Seq.tabulate(900)(i => cycle(i % 3))
    val t = CHType.parse("Array(LowCardinality(Nullable(String)))")
    val b = new NativeEncoder.BlockBuilder(Seq("t"), Seq(t))
    vals.foreach(v => assert(b.tryAppend(Row(v)).isEmpty))
    val body = b.build()
    assert(new String(body, "UTF-8")
      .contains("Array(LowCardinality(Nullable(String)))"))
    val rows = decodeAll(body, Seq("t" -> t))
    val a0 = rows(0).getArray(0)
    assert(a0.numElements() == 3)
    assert(a0.getUTF8String(0).toString == "a")
    assert(a0.isNullAt(1), "NULL inside the array must survive")
    assert(a0.getUTF8String(2).toString == "",
      "a real empty string must NOT decode as NULL")
    assert(rows(1).getArray(0).numElements() == 0)
    val brain = new MiniClickHouseServer()
    brain.createTable("default", "lc_arrn",
      Seq("t" -> "Array(LowCardinality(Nullable(String)))"))
    brain.insertNativeBlock("default", "lc_arrn", Seq("t"), body)
    assert(brain.rows("default", "lc_arrn").head("t") == Vector("a", null, ""))
  }

  test("LC ENCODE nested: all-distinct array elements fall back to Array(String) plain form") {
    val vals = (0 until 400).map(i => Seq(s"unique-$i-${"x" * 20}"))
    val b = new NativeEncoder.BlockBuilder(Seq("t"),
      Seq(CHType.parse("Array(LowCardinality(String))")))
    vals.foreach(v => assert(b.tryAppend(Row(v)).isEmpty))
    val body = b.build()
    val header = new String(body.take(64), "UTF-8")
    assert(!header.contains("LowCardinality"),
      s"all-distinct elements must declare Array(String), got: $header")
    // decodes under the LC expectation (wireShape strips the wrapper)
    val rows = decodeAll(body,
      Seq("t" -> CHType.parse("Array(LowCardinality(String))")))
    assert(rows.zipWithIndex.forall { case (r, i) =>
      r.getArray(0).getUTF8String(0).toString == vals(i).head })
  }

  test("LC ENCODE nested: Tuple(..., Array(LowCardinality), ...) — prefix hoisted, header re-declares, BOTH decoders agree") {
    // the round-15 advisory's live malformed-block path: writerFor(CHArray)
    // dictionary-encodes the element, so TupleWriter MUST compose the
    // declared type and delegate the prefix — otherwise the block ships
    // dict bulk under an LC-stripped header with no version word
    val t = CHType.parse("Tuple(a String, b Array(LowCardinality(String)))")
    val vals = (0 until 600).map(i =>
      (s"name${i % 5}", (0 until (2 + i % 3)).map(j => s"tag${(i + j) % 6}")))
    val b = new NativeEncoder.BlockBuilder(Seq("p"), Seq(t))
    vals.foreach { case (n, tags) => assert(b.tryAppend(Row(Row(n, tags))).isEmpty) }
    val body = b.build()
    val declared = "Tuple(a String, b Array(LowCardinality(String)))"
    assert(new String(body, "UTF-8").contains(declared),
      "header must re-declare the LC element the writer dictionary-encoded")
    // BYTE LAYOUT: the whole substream prefix tree precedes ANY bulk —
    // the u64 version of element b leads the column, BEFORE element a's
    // string data
    val headerLen = 1 /*ncols*/ + 2 /*nrows=600 varint*/ +
      (1 + 1) /*name "p"*/ + (1 + declared.length)
    assert(body.slice(headerLen, headerLen + 8).toSeq ==
      Seq[Byte](1, 0, 0, 0, 0, 0, 0, 0),
      "u64 version=1 must precede element-0 bulk (substream prefix order)")
    // production decoder
    val rows = decodeAll(body, Seq("p" -> t))
    assert(rows.size == 600)
    (0 until 600 by 41).foreach { i =>
      val st = rows(i).getStruct(0, 2)
      assert(st.getUTF8String(0).toString == vals(i)._1, s"row $i name")
      val arr = st.getArray(1)
      assert((0 until arr.numElements()).map(j => arr.getUTF8String(j).toString)
        == vals(i)._2, s"row $i tags")
    }
    // fixture decoder — the independent second implementation
    val brain = new MiniClickHouseServer()
    brain.createTable("default", "lc_tup",
      Seq("p" -> "Tuple(a String, b Array(LowCardinality(String)))"))
    brain.insertNativeBlock("default", "lc_tup", Seq("p"), body)
    val stored = brain.rows("default", "lc_tup")
    assert(stored.size == 600)
    assert(stored(0)("p") ==
      Map("a" -> vals(0)._1, "b" -> vals(0)._2.toVector))
    assert(stored(599)("p") ==
      Map("a" -> vals(599)._1, "b" -> vals(599)._2.toVector))
    // all-distinct element: the tuple declares the plain wire type again
    val pb = new NativeEncoder.BlockBuilder(Seq("p"), Seq(t))
    (0 until 300).foreach(i =>
      assert(pb.tryAppend(Row(Row(s"n$i", Seq(s"unique-$i-${"x" * 24}")))).isEmpty))
    assert(!new String(pb.build(), "UTF-8").contains("LowCardinality"),
      "all-distinct tuple element must fall back to the plain declaration")
  }

  test("LC ENCODE nested: Map values AND Map keys dictionary-encode, round-trip BOTH decoders") {
    // Map(String, LowCardinality(String)): repetitive VALUES dict-encode
    val vt = CHType.parse("Map(String, LowCardinality(String))")
    val vvals = (0 until 3000).map(i =>
      Map(s"k${i % 7}" -> s"val${i % 3}", "lang" -> s"l${i % 4}"))
    val vb = new NativeEncoder.BlockBuilder(Seq("m"), Seq(vt))
    vvals.foreach(m => assert(vb.tryAppend(Row(m)).isEmpty))
    val vbody = vb.build()
    assert(new String(vbody, "UTF-8").contains("Map(String, LowCardinality(String))"))
    val vrows = decodeAll(vbody, Seq("m" -> vt))
    assert(vrows.size == 3000)
    (0 until 3000 by 251).foreach { i =>
      val md = vrows(i).getMap(0)
      val got = (0 until md.numElements()).map(j =>
        md.keyArray.getUTF8String(j).toString ->
          md.valueArray.getUTF8String(j).toString).toMap
      assert(got == vvals(i), s"row $i")
    }
    val vBrain = new MiniClickHouseServer()
    vBrain.createTable("default", "lc_mv",
      Seq("m" -> "Map(String, LowCardinality(String))"))
    vBrain.insertNativeBlock("default", "lc_mv", Seq("m"), vbody)
    assert(vBrain.rows("default", "lc_mv").head("m") == vvals.head)
    // Map(LowCardinality(String), String): repetitive KEYS dict-encode —
    // exercises the fixture's declared-type key recursion (a hard-coded
    // plain-String key read would misframe here)
    val kt = CHType.parse("Map(LowCardinality(String), String)")
    val kvals = (0 until 3000).map(i => Map(s"key${i % 5}" -> s"payload-$i"))
    val kb = new NativeEncoder.BlockBuilder(Seq("m"), Seq(kt))
    kvals.foreach(m => assert(kb.tryAppend(Row(m)).isEmpty))
    val kbody = kb.build()
    assert(new String(kbody, "UTF-8").contains("Map(LowCardinality(String), String)"))
    val krows = decodeAll(kbody, Seq("m" -> kt))
    (0 until 3000 by 379).foreach { i =>
      val md = krows(i).getMap(0)
      assert(md.keyArray.getUTF8String(0).toString == s"key${i % 5}", s"row $i")
      assert(md.valueArray.getUTF8String(0).toString == s"payload-$i", s"row $i")
    }
    val kBrain = new MiniClickHouseServer()
    kBrain.createTable("default", "lc_mk",
      Seq("m" -> "Map(LowCardinality(String), String)"))
    kBrain.insertNativeBlock("default", "lc_mk", Seq("m"), kbody)
    assert(kBrain.rows("default", "lc_mk")(7)("m") == kvals(7))
  }

  test("LC ENCODE: a poison row rolls back its dictionary entry, not just its key") {
    val t = CHType.parse("LowCardinality(FixedString(2))")
    val b = new NativeEncoder.BlockBuilder(Seq("t"), Seq(t))
    assert(b.tryAppend(Row("aa")).isEmpty)
    // overlong FixedString value: the row must reject and leave NO trace
    assert(b.tryAppend(Row("zzz")).isDefined)
    assert(b.tryAppend(Row("bb")).isEmpty)
    assert(b.tryAppend(Row("aa")).isEmpty)
    assert(b.rowCount == 3)
    val rows = decodeAll(b.build(),
      Seq("t" -> CHType.parse("LowCardinality(FixedString(2))")))
    assert(rows.map(_.getUTF8String(0).toString) == Vector("aa", "bb", "aa"))
  }
}
