package graft.types

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** ClickHouse per-VALUE binary layouts (the public RowBinary value
  * encoding: varint-length strings, little-endian fixed-width numerics,
  * uint32 DateTime / int64 DateTime64 ticks, UUID as two little-endian
  * u64 halves, varint-counted Array/Map, Nullable flag byte). The sink no
  * longer inserts RowBinary rows; [[NativeEncoder]] writes its scalar
  * columns and its LowCardinality dictionaries through [[writeValue]] and
  * re-parses stringified Map values through [[reparse]].
  *
  * Values come from [[graft.sink.SinkMapper]] output, so each column's
  * Spark type is exactly `CHType.sparkType`; a null in a non-Nullable
  * column encodes the ClickHouse column default (the server's
  * input_format_null_as_default contract, mirrored client-side). */
object RowBinaryEncoder {

  private[types] def writeValue(out: ByteArrayOutputStream, t: CHType, v: Any): Unit = {
    import CHType._
    t match {
      case CHNullable(inner) =>
        if (v == null) out.write(1)
        else { out.write(0); writeValue(out, inner, v) }
      case CHLowCardinality(inner) => writeValue(out, inner, v)
      case CHString =>
        str(out, if (v == null) "" else String.valueOf(v))
      case CHFixedString(n) =>
        val b = (if (v == null) "" else String.valueOf(v)).getBytes(UTF_8)
        if (b.length > n)
          throw new IllegalArgumentException(
            s"Code: 131. DB::Exception: String too long for type FixedString($n)")
        out.write(b, 0, b.length)
        var pad = n - b.length
        while (pad > 0) { out.write(0); pad -= 1 }
      case CHBool => out.write(if (v == java.lang.Boolean.TRUE) 1 else 0)
      case CHInt(8) => out.write(if (v == null) 0 else v.asInstanceOf[Byte].toInt)
      case CHInt(16) => le(out, if (v == null) 0L else v.asInstanceOf[Short].toLong, 2)
      case CHInt(32) => le(out, if (v == null) 0L else v.asInstanceOf[Int].toLong, 4)
      case CHInt(_) => le(out, if (v == null) 0L else v.asInstanceOf[Long], 8)
      case CHUInt(8) => out.write(if (v == null) 0 else v.asInstanceOf[Short].toInt & 0xff)
      case CHUInt(16) => le(out, if (v == null) 0L else v.asInstanceOf[Int].toLong, 2)
      case CHUInt(32) => le(out, if (v == null) 0L else v.asInstanceOf[Long], 4)
      case CHUInt(_) =>
        val big = if (v == null) java.math.BigInteger.ZERO
          else v.asInstanceOf[java.math.BigDecimal].toBigInteger
        le(out, big.longValue, 8) // low 64 bits: full u64 range round-trips
      case CHFloat32 =>
        le(out, java.lang.Float.floatToIntBits(
          if (v == null) 0f else v.asInstanceOf[Float]).toLong, 4)
      case CHFloat64 =>
        le(out, java.lang.Double.doubleToLongBits(
          if (v == null) 0d else v.asInstanceOf[Double]), 8)
      case CHDecimal(p, s) =>
        // scaled little-endian integer: Decimal32/64/128 by precision
        val bd = if (v == null) java.math.BigDecimal.ZERO
          else v.asInstanceOf[java.math.BigDecimal]
        val unscaled = bd.setScale(s, java.math.RoundingMode.HALF_UP).unscaledValue()
        if (unscaled.abs.compareTo(java.math.BigInteger.TEN.pow(p)) >= 0)
          throw new IllegalArgumentException(
            s"Code: 407. DB::Exception: Decimal value $bd overflows Decimal($p, $s)")
        leBig(out, unscaled, if (p <= 9) 4 else if (p <= 18) 8 else 16)
      case CHDate =>
        val days = epochDays(v)
        if (days < 0L || days > 65535L)
          throw new IllegalArgumentException(
            s"Code: 321. DB::Exception: Date value (epoch day $days) is out of range of type Date")
        le(out, days, 2)
      case CHDate32 =>
        val days = epochDays(v)
        if (days < CHCast.date32LoDays || days > CHCast.date32HiDays)
          throw new IllegalArgumentException(
            s"Code: 321. DB::Exception: Date value (epoch day $days) is out of range of type Date32")
        le(out, days, 4)
      case CHEnum(bits, values) =>
        val s = if (v == null) values.minByOption(_._2).map(_._1).getOrElse("") else String.valueOf(v)
        val id = values.getOrElse(s,
          throw new IllegalArgumentException(
            s"Code: 691. DB::Exception: Unknown element '$s' for enum"))
        if (bits == 8) out.write(id) else le(out, id.toLong, 2)
      case CHUUID =>
        val u =
          if (v == null) new java.util.UUID(0L, 0L)
          else java.util.UUID.fromString(String.valueOf(v))
        le(out, u.getMostSignificantBits, 8)
        le(out, u.getLeastSignificantBits, 8)
      case CHDateTime(_) =>
        val sec = v match {
          case null => 0L
          // floorDiv: getTime is negative pre-epoch while getNanos is the
          // positive fraction — truncation would round the wrong way
          case ts: java.sql.Timestamp => Math.floorDiv(ts.getTime, 1000L)
          case i: java.time.Instant => i.getEpochSecond
        }
        // DateTime is u32 seconds [1970, 2106]: out-of-range must THROW in
        // the server's own format (like FixedString overflow / unknown
        // enum) so poison isolation dead-letters the row — `& 0xffffffff`
        // would silently store an arbitrary wrong datetime
        if (sec < 0L || sec > 0xffffffffL)
          throw new IllegalArgumentException(
            s"Code: 321. DB::Exception: Value $sec is out of range of type DateTime")
        le(out, sec, 4)
      case CHDateTime64(p, _) =>
        val micros = v match {
          case null => 0L
          case ts: java.sql.Timestamp =>
            // floorDiv (see DateTime): -500 ms must encode as -1 s + 500k µs
            Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
          case i: java.time.Instant =>
            i.getEpochSecond * 1000000L + i.getNano / 1000L
        }
        // floorDiv again: negative micros truncated toward zero would
        // round a pre-epoch tick a full unit high
        val ticks =
          if (p <= 6) Math.floorDiv(micros, math.pow(10, (6 - p).toDouble).toLong)
          else micros * math.pow(10, (p - 6).toDouble).toLong
        le(out, ticks, 8)
      case CHIPv4 =>
        val ip = if (v == null) 0L
          else IpCodec.parseV4(String.valueOf(v)).getOrElse(
            throw new IllegalArgumentException(
              s"Code: 441. DB::Exception: Invalid IPv4 value '$v'"))
        le(out, ip, 4)
      case CHIPv6 =>
        val b = if (v == null) new Array[Byte](16)
          else {
            val s = String.valueOf(v)
            // the server's IPv6 parse accepts a plain IPv4 literal as its
            // ::ffff: mapped form
            IpCodec.parseV6(s)
              .orElse(IpCodec.parseV4(s).map(IpCodec.mapV4))
              .getOrElse(throw new IllegalArgumentException(
                s"Code: 441. DB::Exception: Invalid IPv6 value '$v'"))
          }
        out.write(b, 0, b.length)
      case t @ CHTuple(elems) =>
        // positional element values back to back — no count on the wire;
        // a null tuple writes each element's default (non-Nullable column
        // contract, same as the scalar branches)
        v match {
          case null => elems.foreach { case (_, et) => writeValue(out, et, null) }
          case r: Row =>
            if (r.length != elems.length)
              throw new IllegalArgumentException(
                s"Code: 53. DB::Exception: Tuple arity ${r.length} != ${elems.length}")
            var i = 0
            while (i < elems.length) {
              writeValue(out, elems(i)._2, if (r.isNullAt(i)) null else r.get(i))
              i += 1
            }
          case other => throw new IllegalArgumentException(
            s"Code: 53. DB::Exception: Cannot convert ${other.getClass.getSimpleName} to ${CHType.render(t)}")
        }
      case CHMap(_, vt) =>
        val m = if (v == null) Map.empty[Any, Any]
          else v.asInstanceOf[scala.collection.Map[Any, Any]]
        varint(out, m.size.toLong)
        m.foreach { case (k, mv) =>
          str(out, String.valueOf(k))
          // Map values arrive STRINGIFIED (the sink mapper's coerce-to-
          // String contract, CHType.CHMap.sparkType = Map(String,String));
          // re-parse to the declared wire type — encoding the string raw
          // against a numeric declared type would corrupt the row framing
          writeValue(out, vt, if (mv == null) null else reparse(vt, String.valueOf(mv)))
        }
      case CHArray(inner) =>
        val xs = if (v == null) Seq.empty[Any] else v.asInstanceOf[scala.collection.Seq[Any]]
        varint(out, xs.size.toLong)
        xs.foreach(e => writeValue(out, inner, e))
    }
  }

  /** Parse a stringified Map VALUE back to the JVM shape [[writeValue]]
    * expects for its declared wire type. Failures throw in the server's
    * Code: NNN format so poison isolation dead-letters the row instead of
    * shipping a corrupt frame. */
  private[types] def reparse(t: CHType, s: String): Any = {
    import CHType._
    def fail(what: String) = throw new IllegalArgumentException(
      s"Code: 72. DB::Exception: Cannot parse $what from '$s' for Map value")
    def num[A](f: String => A, what: String): A =
      try f(s.trim) catch { case _: NumberFormatException => fail(what) }
    t match {
      case CHString | CHFixedString(_) | CHEnum(_, _) | CHUUID => s
      case CHLowCardinality(inner) => reparse(inner, s)
      case CHNullable(inner) => reparse(inner, s)
      case CHBool => s.trim match {
        case "true" | "1" => java.lang.Boolean.TRUE
        case "false" | "0" => java.lang.Boolean.FALSE
        case _ => fail("Bool")
      }
      case CHInt(8) => num(_.toByte, "Int8")
      case CHInt(16) => num(_.toShort, "Int16")
      case CHInt(32) => num(_.toInt, "Int32")
      case CHInt(_) => num(_.toLong, "Int64")
      case CHUInt(8) => num(_.toShort, "UInt8")
      case CHUInt(16) => num(_.toInt, "UInt16")
      case CHUInt(32) => num(_.toLong, "UInt32")
      case CHUInt(_) => try new java.math.BigDecimal(s.trim)
        catch { case _: NumberFormatException => fail("UInt64") }
      case CHFloat32 => num(_.toFloat, "Float32")
      case CHFloat64 => num(_.toDouble, "Float64")
      case CHDecimal(_, _) =>
        try new java.math.BigDecimal(s.trim)
        catch { case _: NumberFormatException => fail("Decimal") }
      case CHDate | CHDate32 =>
        try java.time.LocalDate.parse(s.trim)
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDate.ofEpochDay(s.trim.toLong)
            catch { case _: NumberFormatException => fail("Date") }
        }
      case CHDateTime(_) | CHDateTime64(_, _) =>
        val t0 = s.trim
        try java.time.Instant.parse(t0)
        catch {
          case _: java.time.format.DateTimeParseException =>
            // Spark's cast(Timestamp -> String) form: '2025-06-01 10:00:00[.ffffff]'
            try java.time.LocalDateTime.parse(t0.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC)
            catch {
              case _: java.time.format.DateTimeParseException =>
                // epoch-seconds form
                try java.time.Instant.ofEpochSecond(t0.toLong)
                catch { case _: NumberFormatException => fail("DateTime") }
            }
        }
      case CHIPv4 | CHIPv6 => s // writeValue parses + validates the literal
      case CHMap(_, _) | CHArray(_) | CHTuple(_) =>
        // stringify JSON-encodes nested complex values; a Map whose value
        // type is itself complex cannot round-trip through the string
        // contract — declare Map(String, String) or use JSONEachRow
        throw new IllegalArgumentException(
          "Code: 6. DB::Exception: Map values of complex type are " +
            "not supported by the String-coercion mapping contract")
    }
  }

  private def str(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    varint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def le(out: ByteArrayOutputStream, v: Long, bytes: Int): Unit = {
    var i = 0
    while (i < bytes) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Little-endian two's-complement of arbitrary width (Decimal128 needs
    * 16 bytes — beyond Long). Sign-extends to `bytes`. */
  private def leBig(out: ByteArrayOutputStream, big: java.math.BigInteger,
                    bytes: Int): Unit = {
    val be = big.toByteArray // big-endian two's complement, minimal length
    val sign = if (big.signum() < 0) 0xff else 0x00
    var i = 0
    while (i < bytes) {
      val idx = be.length - 1 - i
      out.write(if (idx >= 0) be(idx) & 0xff else sign)
      i += 1
    }
  }

  private def epochDays(v: Any): Long = v match {
    case null => 0L
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
  }
}
