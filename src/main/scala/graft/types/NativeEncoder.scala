package graft.types

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** ClickHouse Native-format block encoder — the COLUMNAR public INSERT
  * format (`FORMAT Native` over the HTTP interface): one block is
  * `varint n_cols, varint n_rows`, then per column its name, its type
  * text and the column's values laid out column-major. The reference
  * reaches the same layout through clickhouse-go's native TCP batches
  * (internal/client/clickhouse.go, internal/batch/clickhouse/batch.go);
  * Native-over-HTTP is the documented equivalent that needs no protocol
  * handshake.
  *
  * Why beyond RowBinary: column-major means one type dispatch per COLUMN
  * per block instead of per value, contiguous same-width runs, and the
  * server ingests the block without per-row reassembly — the next step in
  * wire efficiency after RowBinary halved JSONEachRow's bytes.
  *
  * Per-VALUE byte layouts for scalars are identical to RowBinary (shared
  * via [[RowBinaryEncoder.writeValue]]); the structural differences are
  * Native's: Nullable = null-mask bytes for all rows FIRST then inner
  * values, Array = u64 cumulative offsets then flattened inner column,
  * Map = u64 offsets then the key column then the value column.
  * Top-level LowCardinality columns AND Array(LowCardinality) elements
  * DICTIONARY-encode when that is measurably smaller on the wire (see
  * [[LowCardinalityWriter]]; for arrays the u64 version prefix precedes
  * the offsets, ClickHouse's substream-prefix order) and otherwise fall
  * back to the inner-type form the server converts on insert; LC under
  * Map/Tuple sends as inner.
  *
  * Poison-row support: [[BlockBuilder.tryAppend]] appends one row across
  * all column writers atomically — every writer marks its buffer
  * positions first and rolls back on a value fault — so a client-side
  * reject (FixedString overflow, Decimal overflow, enum miss) skips just
  * that row and the block stays well-formed. */
object NativeEncoder {

  /** Growable byte buffer whose write position can be rolled back — the
    * primitive the per-row atomicity needs (ByteArrayOutputStream can only
    * reset to zero). */
  private final class Buf extends java.io.ByteArrayOutputStream(1 << 10) {
    def position: Int = count
    def truncate(n: Int): Unit = { count = n }
    /** Zero-copy view of the backing array (valid up to [[position]]). */
    def backing: Array[Byte] = buf
  }

  private sealed trait ColWriter {
    def append(v: Any): Unit
    /** Snapshot positions (row boundary). */
    def mark(): Unit
    /** Restore the snapshot — drops everything the row appended. */
    def rollback(): Unit
    def byteSize: Long
    /** Serialization PREFIX, written before ANY of the column's bulk data
      * (offsets included) — ClickHouse writes state prefixes for the whole
      * substream tree first, so a dictionary-form LC nested inside an
      * Array puts its u64 keys-serialization version BEFORE the array
      * offsets. No-op for everything but LC. */
    def writePrefix(out: java.io.OutputStream): Unit = ()
    def writeTo(out: java.io.OutputStream): Unit
    /** Block-header type text when this writer's chosen encoding differs
      * from the static [[wireType]] default (LC dictionary form). */
    def declaredType: Option[String] = None
  }

  /** All scalar CH types share RowBinary's per-value layout; contiguous
    * values ARE the Native column. */
  private final class ScalarWriter(t: CHType) extends ColWriter {
    private val buf = new Buf
    private var m = 0
    def append(v: Any): Unit = RowBinaryEncoder.writeValue(buf, t, v)
    def mark(): Unit = m = buf.position
    def rollback(): Unit = buf.truncate(m)
    def byteSize: Long = buf.position.toLong
    def writeTo(out: java.io.OutputStream): Unit = buf.writeTo(out)
  }

  private final class NullableWriter(inner: ColWriter) extends ColWriter {
    private val mask = new Buf
    private var m = 0
    def append(v: Any): Unit =
      // null slots still carry a default inner value (the column must stay
      // rectangular); the server reads the mask first
      if (v == null) { mask.write(1); inner.append(null) }
      else { mask.write(0); inner.append(v) }
    def mark(): Unit = { m = mask.position; inner.mark() }
    def rollback(): Unit = { mask.truncate(m); inner.rollback() }
    def byteSize: Long = mask.position + inner.byteSize
    // Nullable(LowCardinality) is illegal in ClickHouse so these never
    // fire today, but every wrapper writer composes prefix + declared
    // type so no future nesting can ship dictionary bulk under a header
    // that doesn't declare it
    override def writePrefix(out: java.io.OutputStream): Unit = inner.writePrefix(out)
    override def declaredType: Option[String] =
      inner.declaredType.map(t => s"Nullable($t)")
    def writeTo(out: java.io.OutputStream): Unit = {
      mask.writeTo(out); inner.writeTo(out)
    }
  }

  private final class ArrayWriter(inner: ColWriter) extends ColWriter {
    private val offsets = new Buf
    private var count = 0L
    private var mOff = 0
    private var mCount = 0L
    def append(v: Any): Unit = {
      val xs = if (v == null) Seq.empty[Any]
        else v.asInstanceOf[scala.collection.Seq[Any]]
      xs.foreach(inner.append)
      count += xs.size
      u64(offsets, count)
    }
    def mark(): Unit = { mOff = offsets.position; mCount = count; inner.mark() }
    def rollback(): Unit = { offsets.truncate(mOff); count = mCount; inner.rollback() }
    def byteSize: Long = offsets.position + inner.byteSize
    override def writePrefix(out: java.io.OutputStream): Unit = inner.writePrefix(out)
    def writeTo(out: java.io.OutputStream): Unit = {
      offsets.writeTo(out); inner.writeTo(out)
    }
    override def declaredType: Option[String] =
      inner.declaredType.map(t => s"Array($t)")
  }

  /** Map(K, V) is Array(Tuple(K, V)) on the wire: offsets, then the key
    * column, then the value column. Values arrive stringified (the sink
    * mapper's coerce-to-String contract) and re-parse to the declared wire
    * type, like RowBinary's map leg. */
  private final class MapWriter(kt: CHType, vt: CHType, keys: ColWriter, vals: ColWriter)
      extends ColWriter {
    private val offsets = new Buf
    private var count = 0L
    private var mOff = 0
    private var mCount = 0L
    def append(v: Any): Unit = {
      val m = if (v == null) Map.empty[Any, Any]
        else v.asInstanceOf[scala.collection.Map[Any, Any]]
      m.foreach { case (k, mv) =>
        keys.append(String.valueOf(k))
        vals.append(if (mv == null) null
          else RowBinaryEncoder.reparse(vt, String.valueOf(mv)))
      }
      count += m.size
      u64(offsets, count)
    }
    def mark(): Unit = { mOff = offsets.position; mCount = count; keys.mark(); vals.mark() }
    def rollback(): Unit = {
      offsets.truncate(mOff); count = mCount; keys.rollback(); vals.rollback()
    }
    def byteSize: Long = offsets.position + keys.byteSize + vals.byteSize
    /** Substream prefix order for Map (= Array(Tuple(K, V)) on the wire):
      * key column prefix, then value column prefix, both BEFORE the
      * offsets — mirroring ClickHouse's SerializationMap, which delegates
      * state prefixes to the nested tuple's elements in order. */
    override def writePrefix(out: java.io.OutputStream): Unit = {
      keys.writePrefix(out); vals.writePrefix(out)
    }
    override def declaredType: Option[String] =
      if (keys.declaredType.isDefined || vals.declaredType.isDefined)
        Some(s"Map(${keys.declaredType.getOrElse(wireType(kt))}, " +
          s"${vals.declaredType.getOrElse(wireType(vt))})")
      else None
    def writeTo(out: java.io.OutputStream): Unit = {
      offsets.writeTo(out); keys.writeTo(out); vals.writeTo(out)
    }
  }

  /** Native tuple column = the element columns laid out back to back
    * (positional; no per-row count). Rows arrive as Spark struct Rows. */
  private final class TupleWriter(elemTypes: Seq[(Option[String], CHType)],
                                  elems: Seq[ColWriter]) extends ColWriter {
    def append(v: Any): Unit = v match {
      case null => elems.foreach(_.append(null))
      case r: Row =>
        if (r.length != elems.length)
          throw new IllegalArgumentException(
            s"Code: 53. DB::Exception: Tuple arity ${r.length} != ${elems.length}")
        var i = 0
        while (i < elems.length) {
          elems(i).append(if (r.isNullAt(i)) null else r.get(i)); i += 1
        }
      case other => throw new IllegalArgumentException(
        s"Code: 53. DB::Exception: Cannot convert ${other.getClass.getSimpleName} to Tuple")
    }
    def mark(): Unit = elems.foreach(_.mark())
    def rollback(): Unit = elems.foreach(_.rollback())
    def byteSize: Long = elems.foldLeft(0L)(_ + _.byteSize)
    /** Element prefixes in declaration order, all BEFORE any element's
      * bulk — ClickHouse's SerializationTuple writes the whole substream
      * state-prefix tree first, so a dict-form LC inside element k puts
      * its u64 version ahead of element 0's data. */
    override def writePrefix(out: java.io.OutputStream): Unit =
      elems.foreach(_.writePrefix(out))
    /** When ANY element chose dictionary form the whole Tuple re-declares
      * with that element's LowCardinality spelling (others keep the
      * static wire type) — the header must describe exactly the bytes
      * that follow. */
    override def declaredType: Option[String] =
      if (elems.exists(_.declaredType.isDefined)) {
        val parts = elemTypes.zip(elems).map { case ((name, t), w) =>
          val text = w.declaredType.getOrElse(wireType(t))
          name match {
            case None => text
            case Some(n) =>
              val id = if (n.matches("""[\p{L}_][\p{L}\p{N}_]*""")) n
                else s"`${n.replace("`", "``")}`"
              s"$id $text"
          }
        }
        Some(parts.mkString("Tuple(", ", ", ")"))
      } else None
    def writeTo(out: java.io.OutputStream): Unit = elems.foreach(_.writeTo(out))
  }

  /** Dictionary-encoding writer for a LowCardinality column at ANY
    * position in the type tree (top level, Array element, Map key/value,
    * Tuple element — the wrappers compose prefix and declared type) —
    * the write side of the additional-keys serialization
    * [[NativeDecoder]] reads (reference behavior: clickhouse-go ships LC
    * batch columns dictionary-encoded; internal/batch/clickhouse/batch.go
    * feeds the driver's LC column type). Values enter the dictionary at
    * FIRST SIGHT, so a value fault still throws inside tryAppend and the
    * poison row rolls back cleanly (keys, new dict entries and their
    * bytes all truncate).
    *
    * At build time the writer emits WHICHEVER form is smaller on the
    * wire, measured exactly from what it accumulated: the dictionary
    * form (u64 version=1, u64 flags = key-width | HasAdditionalKeys,
    * u64 dict size, dict column in the inner type with index 0 the
    * default/NULL slot, u64 keys count, narrow keys; declared
    * LowCardinality) or the plain inner form (per-row values, server
    * converts on insert — the pre-r14 behavior). A genuinely
    * low-cardinality column therefore ships one small dictionary plus
    * u8/u16 keys — at 100 TB the difference between shipping every
    * string of an `event_type` column and shipping it once per block —
    * while a mistyped all-distinct column falls back to plain and never
    * pays dictionary + key overhead. */
  private final class LowCardinalityWriter(inner: CHType) extends ColWriter {
    private val (base, nullable) = inner match {
      case CHType.CHNullable(i) => (i, true)
      case o => (o, false)
    }
    private val dictBuf = new Buf
    /** End offset in dictBuf of each dictionary entry (slot 0 included). */
    private val entryEnds = new scala.collection.mutable.ArrayBuffer[Int]()
    private val idxOf = new java.util.HashMap[Any, Integer]()
    private val keys = new scala.collection.mutable.ArrayBuffer[Int]()
    /** What the plain (non-dictionary) inner form's VALUE bytes would
      * total — tracked exactly so the build-time choice is measured, not
      * guessed. */
    private var plainValueBytes = 0L
    locally {
      // slot 0: the inner type's default value — the NULL slot when the
      // inner is Nullable, an ordinary placeholder otherwise (keys from
      // this writer only reference it for null/default rows)
      RowBinaryEncoder.writeValue(dictBuf, base, null)
      entryEnds += dictBuf.position
    }
    private var mKeys = 0
    private var mEntries = 1
    private var mDictBuf = 0
    def append(v: Any): Unit = {
      val k =
        if (v == null) 0
        else {
          val existing = idxOf.get(v)
          if (existing != null) existing.intValue()
          else {
            // encode BEFORE registering: a value fault leaves no entry
            RowBinaryEncoder.writeValue(dictBuf, base, v)
            val id = entryEnds.size
            entryEnds += dictBuf.position
            idxOf.put(v, id)
            id
          }
        }
      keys += k
      plainValueBytes += entryBytes(k)
    }
    private def entryBytes(k: Int): Long =
      (entryEnds(k) - (if (k == 0) 0 else entryEnds(k - 1))).toLong
    def mark(): Unit = {
      mKeys = keys.size; mEntries = entryEnds.size; mDictBuf = dictBuf.position
    }
    def rollback(): Unit = {
      (mKeys until keys.size).foreach(i => plainValueBytes -= entryBytes(keys(i)))
      keys.remove(mKeys, keys.size - mKeys)
      if (entryEnds.size > mEntries) {
        val it = idxOf.entrySet().iterator()
        while (it.hasNext) if (it.next().getValue >= mEntries) it.remove()
        entryEnds.remove(mEntries, entryEnds.size - mEntries)
      }
      dictBuf.truncate(mDictBuf)
    }
    private def widthCode: Int =
      if (entryEnds.size <= 0xff) 0 else if (entryEnds.size <= 0xffff) 1 else 2
    /** Dictionary-form wire bytes: 4 u64 header/count words + dict + keys. */
    private def dictFormBytes: Long =
      32L + dictBuf.position + keys.size.toLong * (1 << widthCode)
    private def plainFormBytes: Long =
      (if (nullable) keys.size.toLong else 0L) + plainValueBytes
    private def useDict: Boolean = dictFormBytes < plainFormBytes
    def byteSize: Long = if (useDict) dictFormBytes else plainFormBytes
    override def declaredType: Option[String] =
      if (useDict) Some(s"LowCardinality(${wireType(inner)})") else None
    /** The u64 keys-serialization version — a state PREFIX in ClickHouse's
      * substream model, so when this writer serves as an Array element the
      * version precedes the array offsets (see [[ColWriter.writePrefix]]).
      * Written only in dictionary form: the plain fallback declares the
      * inner type and a reader expects no LC framing at all. A writer
      * with zero values stays plain by construction (plainFormBytes 0 <
      * dict overhead), so no empty-dictionary framing ever ships. */
    override def writePrefix(out: java.io.OutputStream): Unit =
      if (keys.nonEmpty && useDict) u64o(out, 1L)
    def writeTo(out: java.io.OutputStream): Unit = {
      if (keys.isEmpty) return // 0-row blocks carry NO LC bytes, prefix included
      if (useDict) {
        val w = widthCode
        u64o(out, 512L | w.toLong) // HasAdditionalKeys | key width code
        u64o(out, entryEnds.size.toLong)
        out.write(dictBuf.backing, 0, dictBuf.position)
        u64o(out, keys.size.toLong)
        keys.foreach { k =>
          var i = 0
          while (i < (1 << w)) { out.write((k >>> (8 * i)) & 0xff); i += 1 }
        }
      } else {
        // plain inner form: expand each key back to its entry's bytes
        // (declared as the inner type; the server converts on insert)
        if (nullable) keys.foreach(k => out.write(if (k == 0) 1 else 0))
        keys.foreach { k =>
          val start = if (k == 0) 0 else entryEnds(k - 1)
          out.write(dictBuf.backing, start, entryEnds(k) - start)
        }
      }
    }
  }

  /** Column writer for any position in the type tree. LowCardinality
    * dictionary-encodes EVERYWHERE it appears — top level, Array element
    * (one dict + narrow keys over the FLATTENED values; an
    * Array(LowCardinality(String)) tags column is the canonical 100 TB
    * case, the tag vocabulary ships once per block instead of once per
    * array element), and under Map/Tuple — because every wrapper writer
    * (Nullable/Array/Map/Tuple) composes both [[ColWriter.writePrefix]]
    * (u64 keys-serialization versions hoisted before ANY bulk, offsets
    * included, per ClickHouse's substream state-prefix order) and
    * [[ColWriter.declaredType]] (the header re-spells the LC wrapper for
    * exactly the elements that chose dictionary form). Each LC writer
    * still falls back to the plain inner form when the dictionary would
    * not pay, per-writer and measured. */
  private def writerFor(t: CHType): ColWriter = t match {
    case CHType.CHLowCardinality(inner) => new LowCardinalityWriter(inner)
    case CHType.CHNullable(inner) => new NullableWriter(writerFor(inner))
    case CHType.CHArray(inner) => new ArrayWriter(writerFor(inner))
    case CHType.CHMap(k, v) => new MapWriter(k, v, writerFor(k), writerFor(v))
    case CHType.CHTuple(elems) =>
      new TupleWriter(elems, elems.map(e => writerFor(e._2)))
    case scalar => new ScalarWriter(scalar)
  }

  /** The type text the block header declares for a column: LowCardinality
    * unwraps (sent as the inner type; the server converts on insert). */
  def wireType(t: CHType): String = t match {
    case CHType.CHLowCardinality(inner) => wireType(inner)
    case CHType.CHNullable(inner) => s"Nullable(${wireType(inner)})"
    case CHType.CHArray(inner) => s"Array(${wireType(inner)})"
    case CHType.CHMap(k, v) => s"Map(${wireType(k)}, ${wireType(v)})"
    case CHType.CHTuple(elems) =>
      CHType.render(CHType.CHTuple(elems.map { case (n, t) =>
        // re-render after unwrapping any inner LowCardinality
        (n, CHType.parse(wireType(t)))
      }))
    case other => CHType.render(other)
  }

  /** Incremental one-block builder: append rows until [[rowCount]] /
    * [[byteSize]] trips the caller's slab bound, then [[build]] and POST. */
  final class BlockBuilder(names: Seq[String], types: Seq[CHType]) {
    private val writers = types.map(writerFor).toArray
    private var rows = 0
    def rowCount: Int = rows
    def byteSize: Long = writers.foldLeft(0L)(_ + _.byteSize)
    /** Append one row atomically across all columns; a value fault rolls
      * the whole row back and returns the error (poison row). */
    def tryAppend(row: Row): Option[String] = {
      var i = 0
      while (i < writers.length) { writers(i).mark(); i += 1 }
      try {
        i = 0
        while (i < writers.length) {
          writers(i).append(if (row.isNullAt(i)) null else row.get(i))
          i += 1
        }
        rows += 1
        None
      } catch {
        case e: Exception =>
          var j = 0
          while (j < writers.length) { writers(j).rollback(); j += 1 }
          Some(Option(e.getMessage).getOrElse(e.toString))
      }
    }
    def build(): Array[Byte] = {
      val out = new Buf
      varint(out, names.length.toLong)
      varint(out, rows.toLong)
      var i = 0
      while (i < names.length) {
        str(out, names(i))
        // an LC writer that chose dictionary form declares LowCardinality
        // (composited through Array wrappers); every other column declares
        // the static wire type
        str(out, writers(i).declaredType.getOrElse(wireType(types(i))))
        writers(i).writePrefix(out) // LC keys-serialization versions
        writers(i).writeTo(out)
        i += 1
      }
      out.toByteArray
    }
  }

  /** Encode one row as a single-row block — the unit the poison-isolation
    * replay POSTs. */
  def encodeSingleRow(names: Seq[String], types: Seq[CHType], row: Row): Array[Byte] = {
    val b = new BlockBuilder(names, types)
    b.tryAppend(row).foreach(err => throw new IllegalArgumentException(err))
    b.build()
  }

  private def str(out: Buf, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    varint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private def varint(out: Buf, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def u64(out: Buf, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private def u64o(out: java.io.OutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }
}
