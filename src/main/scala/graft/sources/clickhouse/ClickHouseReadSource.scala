package graft.sources.clickhouse

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.{ClickHouseHttp, InsertLoop}
import graft.types.{CHType, NativeDecoder}

/** ClickHouse READ-side source (`spark.read.format("graft-clickhouse")`) —
  * beyond the reference (which only writes to ClickHouse), because a user
  * pointing this engine at an existing CH deployment reads those tables
  * back for joins, enrichment and audits. DataSource V2 so the two scan
  * levers that matter at 100 TB are REAL, not post-scan:
  *
  *  - **Column pruning** ([[SupportsPushDownRequiredColumns]]): the SELECT
  *    list sent to the server is exactly Spark's required schema — a
  *    2-column projection over a 300-column table ships 2 columns.
  *  - **Filter pushdown** ([[SupportsPushDownFilters]]): comparison /
  *    IN / NULL / LIKE-shaped predicates compile into the query's WHERE
  *    clause and run where the data lives (the server's primary-key index
  *    and data-skipping indexes see them); what can't compile stays in
  *    Spark — `pushFilters` returns it, so semantics never weaken.
  *  - **Partitioned reads**: Spark's public JDBC option quartet
  *    (`partitionColumn`/`lowerBound`/`upperBound`/`numPartitions`)
  *    generates stride ranges, one independent `SELECT` per Spark
  *    partition, so a large table scan fans out across executors instead
  *    of serializing through one connection. Stride semantics mirror
  *    Spark's JDBC source: the first range is unbounded below (plus
  *    IS NULL), the last unbounded above.
  *
  * The response arrives as `FORMAT Native` columnar blocks decoded by
  * [[NativeDecoder]] straight to InternalRow — same wire format as the
  * sink's INSERT leg (one encoder + one decoder, shared layouts), so a
  * write/read round-trip is value-stable by construction. The schema
  * comes from `DESCRIBE TABLE` at planning time via `CHType.sparkType` —
  * the identical mapping the sink validates against.
  */
final class ClickHouseReadSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-clickhouse"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ClickHouseReadSource.sparkSchema(
      ClickHouseReadSource.describe(options.asScala.toMap,
        ClickHouseReadSource.conf(options.asScala.toMap)))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ChTable(properties.asScala.toMap, schema)
}

object ClickHouseReadSource {

  private[clickhouse] def conf(opts: Map[String, String]): ClickHouseHttp.Config = {
    val o = opts.map { case (k, v) => k.toLowerCase -> v }
    ClickHouseHttp.Config(
      endpoint = o.getOrElse("url",
        throw new IllegalArgumentException("graft-clickhouse requires option 'url'")),
      database = o.getOrElse("database", "default"),
      table = o.getOrElse("table",
        throw new IllegalArgumentException("graft-clickhouse requires option 'table'")),
      username = o.getOrElse("user", "default"),
      password = o.getOrElse("password", ""),
      // LowCardinality columns arrive DICTIONARY-encoded (the server's
      // default and the reason LC exists: one small dictionary per block
      // plus u8/u16 keys instead of every string) — the decoder owns the
      // documented LC serialization, so no conversion setting is pinned;
      // a user may still force plain columns via
      // settings.low_cardinality_allow_in_native_format=0
      settings = opts.collect {
        case (k, v) if k.toLowerCase.startsWith("settings.") =>
          k.substring("settings.".length) -> v
      })
  }

  /** Runtime-filter IN lists longer than this stay Spark-side. */
  private[clickhouse] val RuntimeInCap = 10000

  private[clickhouse] def numPartitionsOf(opts: Map[String, String]): Int =
    opts.collectFirst { case (k, v) if k.equalsIgnoreCase("numpartitions") => v.toInt }
      .getOrElse(1)

  private[clickhouse] def isTcp(endpoint: String): Boolean =
    endpoint.startsWith("tcp://") || endpoint.startsWith("tcps://")

  /** Native-TCP sibling of the HTTP config — used when `url` is a
    * tcp:// / tcps:// endpoint, so BOTH planning (DESCRIBE) and the scan
    * itself ride the native protocol with no HTTP side-channel. TLS trust
    * comes from the read options (`tls.root_ca` base64-PEM /
    * `tls.skip_verify`), the same surface as the sink and Kafka legs. */
  private[clickhouse] def tcpConf(opts: Map[String, String],
                                  c: ClickHouseHttp.Config): graft.sink.ClickHouseNativeTcp.Config = {
    val o = opts.map { case (k, v) => k.toLowerCase -> v }
    val secure = c.endpoint.startsWith("tcps://")
    val hp = c.endpoint.stripPrefix("tcps://").stripPrefix("tcp://").stripSuffix("/")
    val (host, port) = hp.lastIndexOf(':') match {
      case -1 => (hp, if (secure) 9440 else 9000)
      case i => (hp.substring(0, i), hp.substring(i + 1).toInt)
    }
    graft.sink.ClickHouseNativeTcp.Config(host, port, database = c.database,
      table = c.table, username = c.username, password = c.password,
      settings = c.settings,
      // option compress=lz4|zstd: frame the data stream both ways (the
      // 3-5× wire-bandwidth lever on big scans; opt-in, see CityHash102
      // note). The value picks the CLIENT-written codec; the server
      // always answers in its own configured codec and the reader
      // accepts both.
      compress = o.get("compress").exists(v =>
        v.equalsIgnoreCase("lz4") || v.equalsIgnoreCase("zstd") ||
          v == "1" || v == "true"),
      compressMethod =
        if (o.get("compress").exists(_.equalsIgnoreCase("zstd")))
          graft.sink.ChCompression.MethodZstd
        else graft.sink.ChCompression.MethodLz4,
      tls = if (secure) Some(graft.sources.kafka.WireClient.TlsConfig(
        rootCaPemB64 = o.get("tls.root_ca"),
        skipVerify = o.get("tls.skip_verify").exists(v => v == "true" || v == "1")))
      else None)
  }

  private[clickhouse] def describe(opts: Map[String, String],
                                   c: ClickHouseHttp.Config): Seq[(String, String)] =
    if (isTcp(c.endpoint)) {
      val conn = new graft.sink.ClickHouseNativeTcp.Conn(tcpConf(opts, c))
      try conn.describe(c.database, c.table) finally conn.close()
    } else ClickHouseHttp.describeTable(c)

  /** Metadata key carrying each inferred field's DECLARED ClickHouse type
    * text. Planning stages (aggregate compile, partition planning) read it
    * back instead of re-DESCRIBE-ing, so one planned-and-executed query
    * costs exactly ONE DESCRIBE round trip — against a loaded production
    * server a redundant metadata query per plan stage is pure waste. */
  private[clickhouse] val ChTypeKey = "graft.ch.type"

  private[clickhouse] def sparkSchema(cols: Seq[(String, String)]): StructType =
    StructType(cols.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, CHType.parse(t).sparkType,
        nullable = true,
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putString(ChTypeKey, t).build())
    })

  /** The declared (column, CH type text) pairs recovered from an inferred
    * schema's metadata — Some only when EVERY field carries one. A
    * user-supplied schema doesn't; callers then fall back to one memoized
    * DESCRIBE. */
  private[clickhouse] def chTypesOf(schema: StructType): Option[Seq[(String, String)]] = {
    val all = schema.fields.toSeq.map(f =>
      if (f.metadata.contains(ChTypeKey)) Some(f.name -> f.metadata.getString(ChTypeKey))
      else None)
    if (all.forall(_.isDefined)) Some(all.flatten) else None
  }

  // ------------------------------------------------ filter → CH SQL compile

  /** Compile one Spark source filter to a ClickHouse WHERE fragment, or
    * None when it can't be expressed (it then stays a Spark-side filter —
    * pushdown may only ever REDUCE the rows shipped, never change the
    * result). Only plain top-level columns compile; literals are limited
    * to types whose SQL text form is unambiguous without casts. */
  private[clickhouse] def compile(f: Filter): Option[String] = f match {
    // float/double EQUALITY never compiles: the server promotes a Float32
    // column to Float64 before comparing with the (Float64) literal, so a
    // row Spark's float-to-float compare keeps can be DROPPED server-side
    // (0.1f != 0.1d) — and a pushed filter is REMOVED from Spark's plan,
    // so it must be exact, not merely narrowing. Range comparisons push
    // with literals at full double precision (Float32→Float64 promotion
    // is monotone and exact) — but NaN ORDERING differs: Spark sorts NaN
    // above every value (NaN > lit is TRUE), IEEE compares it false, so a
    // pushed floaty `>`/`>=` compiles with an `OR isNaN(col)` arm to keep
    // exactly the rows Spark keeps; `<`/`<=` drop NaN rows on both sides
    // and push plain. TEMPORAL equality compiles as a closed-open range
    // (see temporalEq) — the same epoch rendering the range ops use, so
    // it index-prunes server-side with zero re-interpretation hazard.
    case EqualTo(a, v) if !floaty(v) && !temporal(v) => binary(a, "=", v)
    case EqualTo(a, v) if temporal(v) => temporalEq(a, v)
    case EqualNullSafe(a, null) => Some(s"${qid(a)} IS NULL")
    case EqualNullSafe(a, v) if !floaty(v) && !temporal(v) => binary(a, "=", v)
    case EqualNullSafe(a, v) if temporal(v) => temporalEq(a, v)
    case GreaterThan(a, v) if floaty(v) => nanKeeping(a, ">", v)
    case GreaterThan(a, v) => binary(a, ">", v)
    case GreaterThanOrEqual(a, v) if floaty(v) => nanKeeping(a, ">=", v)
    case GreaterThanOrEqual(a, v) => binary(a, ">=", v)
    case LessThan(a, v) => binary(a, "<", v)
    case LessThanOrEqual(a, v) => binary(a, "<=", v)
    case In(a, vs) if vs.nonEmpty && !vs.exists(floaty) && !vs.exists(temporal) =>
      val lits = vs.toSeq.map(lit)
      if (plain(a) && lits.forall(_.isDefined))
        Some(s"${qid(a)} IN (${lits.flatten.mkString(", ")})")
      else None
    // temporal IN: each member compiles like temporal equality (timestamps
    // as a closed-open micro range, dates as plain equality), OR-joined.
    // Bounded at 100 members — a timestamp expands to a range PAIR, so an
    // unbounded runtime-filter IN would balloon the WHERE text; past the
    // cap the predicate stays Spark-side (pushdown may only ever reduce
    // rows, never change results)
    case In(a, vs) if vs.nonEmpty && vs.length <= 100 && !vs.exists(floaty) &&
        vs.exists(temporal) && plain(a) =>
      val parts = vs.toSeq.map(temporalEq(a, _))
      if (parts.forall(_.isDefined)) Some(parts.flatten.mkString("(", " OR ", ")"))
      else None
    case IsNull(a) if plain(a) => Some(s"${qid(a)} IS NULL")
    case IsNotNull(a) if plain(a) => Some(s"${qid(a)} IS NOT NULL")
    case And(l, r) => for { a <- compile(l); b <- compile(r) } yield s"($a AND $b)"
    case Or(l, r) => for { a <- compile(l); b <- compile(r) } yield s"($a OR $b)"
    case Not(c) => compile(c).map(s => s"(NOT $s)")
    case StringStartsWith(a, v) if plain(a) =>
      Some(s"${qid(a)} LIKE '${likeEscape(v)}%'")
    case StringEndsWith(a, v) if plain(a) =>
      Some(s"${qid(a)} LIKE '%${likeEscape(v)}'")
    case StringContains(a, v) if plain(a) =>
      Some(s"${qid(a)} LIKE '%${likeEscape(v)}%'")
    case _ => None
  }

  /** NARROWING envelope for predicates the exact compiler refuses: a
    * clause keeping a SUPERSET of the predicate's rows, ANDed into the
    * server WHERE while the exact filter STAYS Spark-side (pushFilters
    * still returns it to Spark, so results never change). Today: a
    * temporal IN past the 100-member cap — or one whose member literals
    * partly leave the representable window — ships
    * `col >= min(vs) AND col <= max(vs)` so the server's primary-key
    * index pruning survives the cap (a 500-member timestamp IN over an
    * events table is typically a thin slice of the time extent). Either
    * side drops independently when its literal leaves the DateTime64/
    * Date32 window — a one-sided envelope still prunes; both out → no
    * envelope. NULL members can never match an IN, so they are ignored
    * before taking min/max. */
  private[sources] def compileEnvelope(f: Filter): Option[String] = f match {
    case In(a, vs0) if plain(a) =>
      val vs = vs0.filter(_ != null).toSeq
      if (vs.isEmpty || !vs.forall(temporal)) None
      else {
        import org.apache.spark.sql.catalyst.util.DateTimeUtils
        val days = vs.collect {
          case d: java.sql.Date => DateTimeUtils.fromJavaDate(d).toLong
          case d: java.time.LocalDate => d.toEpochDay
        }
        val micros = vs.collect {
          case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
          case i: java.time.Instant => DateTimeUtils.instantToMicros(i)
        }
        if (days.length == vs.length)
          envelopeClause(a, dateLit(days.min), dateLit(days.max))
        else if (micros.length == vs.length)
          envelopeClause(a, tsLit(micros.min), tsLit(micros.max))
        else None
      }
    case _ => None
  }

  private def envelopeClause(a: String, lo: Option[String],
                             hi: Option[String]): Option[String] =
    (lo, hi) match {
      case (Some(l), Some(h)) => Some(s"(${qid(a)} >= $l AND ${qid(a)} <= $h)")
      case (Some(l), None) => Some(s"${qid(a)} >= $l")
      case (None, Some(h)) => Some(s"${qid(a)} <= $h")
      case _ => None
    }

  private def floaty(v: Any): Boolean = v match {
    case _: Float | _: Double => true
    case _ => false
  }

  private def temporal(v: Any): Boolean = v match {
    case _: java.sql.Timestamp | _: java.time.Instant |
         _: java.sql.Date | _: java.time.LocalDate => true
    case _ => false
  }

  private def binary(a: String, op: String, v: Any): Option[String] =
    if (!plain(a)) None else lit(v).map(l => s"${qid(a)} $op $l")

  /** Spark orders NaN ABOVE every float while IEEE comparison answers
    * false against everything — a plain pushed `f > lit` would therefore
    * silently drop NaN rows Spark keeps (and pushed filters are removed
    * from Spark's plan, so nothing re-checks). The compiled form keeps
    * them explicitly; NULL propagates identically through the OR (NULL
    * OR NULL = NULL = dropped, both sides). */
  private def nanKeeping(a: String, op: String, v: Any): Option[String] =
    if (!plain(a)) None
    else lit(v).map(l => s"(${qid(a)} $op $l OR isNaN(${qid(a)}))")

  /** Temporal EQUALITY compiles as the closed-open micro range
    * `[v, v+1µs)` for timestamps — the same tz-unambiguous epoch
    * rendering the range ops use, exactly equivalent at every column
    * precision (a DateTime's whole-second value promotes exactly to
    * micros, so only v itself can land inside a 1µs window; a sub-micro
    * literal matches nothing on both sides). Dates carry no sub-day
    * precision to mismatch, so they compile as plain equality on the
    * toDate32 literal. A timestamp at the representable ceiling (v+1µs
    * would leave the pushable range) stays Spark-side via tsLit's
    * refusal. */
  private def temporalEq(a: String, v: Any): Option[String] =
    if (!plain(a)) None
    else v match {
      case _: java.sql.Timestamp | _: java.time.Instant =>
        val micros = v match {
          case t: java.sql.Timestamp =>
            org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
          case i: java.time.Instant =>
            org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)
        }
        for { lo <- tsLit(micros); hi <- tsLit(micros + 1) }
          yield s"(${qid(a)} >= $lo AND ${qid(a)} < $hi)"
      case _ => lit(v).map(l => s"${qid(a)} = $l") // Date / LocalDate
    }

  /** Nested attributes (a.b) don't compile — dots are ambiguous between a
    * literal column name and struct access on the CH side. */
  private def plain(a: String): Boolean = !a.contains(".")

  private def qid(a: String): String = ClickHouseHttp.quoteId(a)

  private[clickhouse] def lit(v: Any): Option[String] = v match {
    case null => None // comparisons with NULL are never true; don't compile
    case _: Byte | _: Short | _: Int | _: Long => Some(v.toString)
    // render floats at DOUBLE precision: Float.toString's shortest float
    // repr ("0.1") parses server-side to a different Float64 than the
    // promoted column value; the widened double's text round-trips exactly
    case f: Float if !f.isNaN && !f.isInfinite => Some(f.toDouble.toString)
    case d: Double if !d.isNaN && !d.isInfinite => Some(d.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.bigDecimal.toPlainString)
    case b: Boolean => Some(if (b) "true" else "false")
    case s: String => Some(s"'${strEscape(s)}'")
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s"'${strEscape(s.toString)}'")
    // temporal literals render TIMEZONE-UNAMBIGUOUSLY: timestamps as
    // epoch micros via fromUnixTimestamp64Micro (the value IS the instant,
    // so the server's session/column timezone never reinterprets it — a
    // string literal rendered in the wrong zone would shift a DST-boundary
    // bound by an hour), dates as ISO text via toDate32 (Date is tz-free).
    // This is what lets a time-range predicate — THE canonical filter over
    // an events table — prune on the server's primary-key index instead of
    // shipping the full table extent. Range ops, plus equality compiled AS
    // a range (temporalEq); promotion DateTime→DateTime64(6) / Date→Date32 is exact
    // and monotone, so pushed and unpushed agree. Literals outside the
    // DateTime64/Date32 representable range stay Spark-side — the server
    // would CLAMP them and change the predicate.
    case t: java.sql.Timestamp =>
      tsLit(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      tsLit(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case d: java.sql.Date =>
      dateLit(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => dateLit(d.toEpochDay)
    case _ => None // anything else can't render unambiguously: keep Spark-side
  }

  /** DateTime64-representable bounds (1900-01-01 .. 2299-12-31), micros. */
  private val TsMicrosMin =
    java.time.Instant.parse("1900-01-01T00:00:00Z").getEpochSecond * 1000000L
  private val TsMicrosMax =
    java.time.Instant.parse("2299-12-31T23:59:59Z").getEpochSecond * 1000000L + 999999L
  /** Date32-representable bounds, days since epoch. */
  private val DateDaysMin = java.time.LocalDate.parse("1900-01-01").toEpochDay
  private val DateDaysMax = java.time.LocalDate.parse("2299-12-31").toEpochDay

  private def tsLit(micros: Long): Option[String] =
    if (micros < TsMicrosMin || micros > TsMicrosMax) None
    else Some(s"fromUnixTimestamp64Micro($micros)")

  private def dateLit(days: Long): Option[String] =
    if (days < DateDaysMin || days > DateDaysMax) None
    else Some(s"toDate32('${java.time.LocalDate.ofEpochDay(days)}')")

  private def strEscape(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  private def likeEscape(s: String): String =
    strEscape(s).replace("%", "\\%").replace("_", "\\_")

  /** One pushed-aggregation output column: its SQL select-list entry
    * (aliased), the name it answers as, the CH type the response decodes
    * with, and the Spark type the scan declares. */
  private[clickhouse] final case class AggCol(
      sql: String, name: String, chType: String, sparkType: DataType)

  /** A fully-compiled pushed aggregation: groupBy columns first, then
    * aggregate outputs — the column order Spark expects from a pushed-agg
    * scan. */
  private[clickhouse] final case class AggPush(cols: Seq[AggCol], groupBy: Seq[String]) {
    def schema: StructType =
      StructType(cols.map(c => StructField(c.name, c.sparkType)))
  }

  /** Compile a Spark aggregation for server-side execution, or None when
    * any piece can't be expressed (Spark then aggregates normally).
    *
    * Result types are FORCED, never derived: every aggregate is wrapped in
    * an explicit `CAST(... AS <type>)`, so the response's declared column
    * type is exactly what the decoder expects regardless of the server's
    * internal result-type derivation rules (which vary by input
    * signedness and version). SQL-standard NULL-on-empty comes from the
    * public `-OrNull` aggregate-function combinator per function
    * (`minOrNull`/`maxOrNull`/`sumOrNull`/`avgOrNull`), NOT from the
    * global `aggregate_functions_null_for_empty` setting — that setting
    * rewrites EVERY aggregate including count() → countOrNull(), whose
    * wire type Nullable(UInt64) would misframe the decode and answer NULL
    * where Spark requires 0 on an empty set. count() stays plain (never
    * NULL, 0 on empty) and is cast to Int64 (exact for any real count).
    * min/max keep the column type Nullable-wrapped, sum is cast to
    * Nullable(Int64) for integer inputs (exact: the server accumulates
    * unsigned sums in UInt64, and any count×value a test table reaches is
    * far below 2^63) and Nullable(Float64) for floats, avg is
    * Nullable(Float64). `partial` refuses Avg (Spark can only merge
    * partial avg as sum+count, which it requests separately). */
  private[clickhouse] def compileAggregation(agg: Aggregation,
                                             raw: Map[String, String],
                                             partial: Boolean): Option[AggPush] = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
        case _ => None
      }
    // Nullable cannot wrap LowCardinality (the parse rule this repo
    // enforces, mirroring the real server) — min/max over an LC column
    // answer Nullable(inner), the dictionary wrapper does not survive
    // aggregation
    def nullable(t: String): String = {
      def stripLC(x: CHType): CHType = x match {
        case CHType.CHLowCardinality(i) => stripLC(i)
        case o => o
      }
      stripLC(CHType.parse(t)) match {
        case n: CHType.CHNullable => CHType.render(n)
        case inner => s"Nullable(${CHType.render(inner)})"
      }
    }
    def intish(t: CHType): Boolean = t match {
      case CHType.CHInt(_) => true
      case CHType.CHUInt(b) => b < 64 // UInt64 sums are Decimal in Spark: refuse
      case CHType.CHLowCardinality(i) => intish(i)
      case CHType.CHNullable(i) => intish(i)
      case _ => false
    }
    def floatish(t: CHType): Boolean = t match {
      case CHType.CHFloat32 | CHType.CHFloat64 => true
      case CHType.CHLowCardinality(i) => floatish(i)
      case CHType.CHNullable(i) => floatish(i)
      case _ => false
    }
    val groups = agg.groupByExpressions.toSeq.map(colOf)
    if (groups.exists(_.isEmpty)) return None
    val groupCols = groups.flatten
    if (groupCols.exists(c => !raw.contains(c))) return None
    val groupEntries = groupCols.map { c =>
      AggCol(qid(c), c, raw(c), CHType.parse(raw(c)).sparkType)
    }
    val aggEntries = agg.aggregateExpressions.toSeq.zipWithIndex.map { case (f, i) =>
      val alias = s"agg$i"
      // the CAST target doubles as the declared wire type — the decoder's
      // block-header type check verifies the server agreed
      def over(e: org.apache.spark.sql.connector.expressions.Expression)(
          mk: (String, String) => Option[(String, String, DataType)]): Option[AggCol] =
        for {
          c <- colOf(e)
          t <- raw.get(c)
          (sql, ch, sp) <- mk(c, t)
        } yield AggCol(s"CAST($sql AS $ch) AS ${qid(alias)}", alias, ch, sp)
      f match {
        case _: CountStar =>
          Some(AggCol(s"CAST(count() AS Int64) AS ${qid(alias)}", alias, "Int64", LongType))
        case cnt: Count if !cnt.isDistinct =>
          over(cnt.column)((c, _) => Some((s"count(${qid(c)})", "Int64", LongType)))
        case m: Min => over(m.column) { (c, t) =>
          Some((s"minOrNull(${qid(c)})", nullable(t), CHType.parse(t).sparkType))
        }
        case m: Max => over(m.column) { (c, t) =>
          Some((s"maxOrNull(${qid(c)})", nullable(t), CHType.parse(t).sparkType))
        }
        case s: Sum if !s.isDistinct => over(s.column) { (c, t) =>
          val p = CHType.parse(t)
          if (intish(p)) Some((s"sumOrNull(${qid(c)})", "Nullable(Int64)", LongType))
          else if (floatish(p)) Some((s"sumOrNull(${qid(c)})", "Nullable(Float64)", DoubleType))
          else None
        }
        case a: Avg if !a.isDistinct && !partial => over(a.column) { (c, t) =>
          val p = CHType.parse(t)
          if (intish(p) || floatish(p))
            Some((s"avgOrNull(${qid(c)})", "Nullable(Float64)", DoubleType))
          else None
        }
        case _ => None
      }
    }
    if (aggEntries.exists(_.isEmpty)) None
    else Some(AggPush(groupEntries ++ aggEntries.flatten, groupCols))
  }

  /** The cheapest column to ship when only row EXTENT matters (a pruned-
    * to-nothing count scan): smallest estimated per-row wire width.
    * Unparseable or variable-size types rank last. */
  private[clickhouse] def narrowest(cols: Seq[(String, String)]): Option[String] = {
    import CHType._
    def width(t: CHType): Int = t match {
      case CHBool | CHInt(8) | CHUInt(8) | CHEnum(8, _) => 1
      case CHInt(16) | CHUInt(16) | CHEnum(16, _) | CHDate => 2
      case CHInt(32) | CHUInt(32) | CHFloat32 | CHDate32 | CHDateTime(_) | CHIPv4 => 4
      case CHInt(_) | CHUInt(_) | CHFloat64 | CHDateTime64(_, _) => 8
      case CHDecimal(p, _) => if (p <= 9) 4 else if (p <= 18) 8 else 16
      case CHUUID | CHIPv6 => 16
      case CHFixedString(w) => w
      case CHLowCardinality(i) => width(i)
      case CHNullable(i) => 1 + width(i)
      case CHString => 64 // average guess; still beats composites
      case _ => 1 << 20 // Array/Map/Tuple: unbounded, avoid
    }
    if (cols.isEmpty) None
    else Some(cols.minBy { case (_, t) =>
      try width(parse(t)) catch { case _: Exception => Int.MaxValue }
    }._1)
  }

  /** JDBC-style stride ranges over `partitionColumn`: numPartitions
    * predicates whose union is total (first unbounded below + IS NULL,
    * last unbounded above) and pairwise disjoint. `renderLit` turns a
    * stride bound back into SQL — identity for numeric columns,
    * epoch-rendered constructors for temporal ones. */
  private[clickhouse] def strideRanges(col: String, lower: Long, upper: Long,
                                       n: Int,
                                       renderLit: Long => String = _.toString): Seq[String] = {
    require(n >= 1, "numPartitions must be >= 1")
    require(upper >= lower, s"upperBound $upper < lowerBound $lower")
    if (n == 1) return Seq("")
    val stride = math.max((upper - lower) / n, 1L)
    val bounds = (1 until n).map(i => lower + stride * i).distinct
      .filter(b => b > lower && b < upper)
    val q = qid(col)
    if (bounds.isEmpty) return Seq("")
    val first = s"($q < ${renderLit(bounds.head)} OR $q IS NULL)"
    val middle = bounds.sliding(2).collect {
      case Seq(lo, hi) => s"($q >= ${renderLit(lo)} AND $q < ${renderLit(hi)})"
    }.toSeq
    val last = s"($q >= ${renderLit(bounds.last)})"
    first +: middle :+ last
  }

  /** Parse one partition bound for the column's DECLARED type, returning
    * the stride-arithmetic value and the literal renderer:
    *  - DateTime/DateTime64 columns: bound text is an ISO-8601 instant
    *    (`2024-01-01T00:00:00Z`), a UTC `yyyy-MM-dd HH:mm:ss`, or plain
    *    epoch SECONDS; strides run in epoch micros and render via
    *    `fromUnixTimestamp64Micro` (tz-unambiguous, like filter pushdown).
    *  - Date/Date32 columns: `yyyy-MM-dd` (or epoch days); strides run in
    *    days and render via `toDate32`.
    *  - anything else: a Long, rendered verbatim (the JDBC-style path).
    * Time IS the natural partition column of a telemetry table — without
    * this, a time-striped parallel scan needed a numeric surrogate.
    *
    * The bare `yyyy-MM-dd HH:mm:ss` spelling is pinned to UTC by design:
    * bounds only place stripe BOUNDARIES (the stripes union to the total
    * either way, so correctness never depends on the zone) — a user whose
    * column timezone differs and wants boundary alignment should pass an
    * ISO instant with an explicit offset, or epoch seconds. */
  private[clickhouse] def partitionBound(text: String, chType: Option[String])
      : (Long, Long => String) = {
    val kind = chType.map(CHType.parse).map {
      case CHType.CHLowCardinality(i) => i
      case CHType.CHNullable(i) => i
      case t => t
    }
    kind match {
      case Some(CHType.CHDateTime(_)) | Some(CHType.CHDateTime64(_, _)) =>
        val micros = text.trim.toLongOption.map(_ * 1000000L).getOrElse {
          val iso = try Some(java.time.Instant.parse(text.trim))
            catch { case _: Exception => None }
          val inst = iso.getOrElse(
            try java.time.LocalDateTime.parse(text.trim.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC)
            catch { case _: Exception => throw new IllegalArgumentException(
              s"cannot parse '$text' as a timestamp bound (ISO instant, " +
                "UTC 'yyyy-MM-dd HH:mm:ss', or epoch seconds)") })
          org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(inst)
        }
        (micros, m => s"fromUnixTimestamp64Micro($m)")
      case Some(CHType.CHDate) | Some(CHType.CHDate32) =>
        val days = text.trim.toLongOption.getOrElse {
          try java.time.LocalDate.parse(text.trim).toEpochDay
          catch { case _: Exception => throw new IllegalArgumentException(
            s"cannot parse '$text' as a date bound (yyyy-MM-dd or epoch days)") }
        }
        (days, d => s"toDate32('${java.time.LocalDate.ofEpochDay(d)}')")
      case _ => (text.trim.toLong, (v: Long) => v.toString)
    }
  }
}

private[clickhouse] final class ChTable(opts: Map[String, String], schema0: StructType)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    "graft-clickhouse:" + opts.getOrElse("database", "default") + "." +
      opts.getOrElse("table", "?")
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ChScanBuilder(opts ++ options.asScala, schema0)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ChWriteBuilder(opts ++ info.options().asScala, info.schema(), schema0)
}

/** BATCH WRITE (`df.write.format("graft-clickhouse").mode("append")`), as
  * a V1 fallback write: Spark hands the whole frame to one
  * [[org.apache.spark.sql.sources.InsertableRelation]], which runs the
  * sink's own strict [[graft.sink.InsertLoop]] over it — `FORMAT Native`
  * slabs bounded by rows AND bytes, one POST per slab, per-partition
  * parallel INSERTs, and a value the encoder rejects fails the write.
  * Semantics are the sink's: at-least-once per task (a retried task
  * re-POSTs its slabs; pair with `insert_deduplicate` via `settings.*`
  * options for replicated-table exactly-once). Column types come from
  * DESCRIBE TABLE at planning time, so the wire encoding always matches
  * the live table, not a stale config, and a frame column the table
  * lacks fails the plan. */
private[clickhouse] final class ChWriteBuilder(opts: Map[String, String], df: StructType,
                                               tableSchema: StructType)
  extends WriteBuilder {

  override def build(): V1Write = {
    val c = ClickHouseReadSource.conf(opts)
    // table types from the inferred schema's metadata when present —
    // the write then plans with ZERO extra DESCRIBEs beyond inferSchema's
    val server = ClickHouseReadSource.chTypesOf(tableSchema)
      .getOrElse(ClickHouseReadSource.describe(opts, c)).toMap
    val colTypes = df.fieldNames.toSeq.map { n =>
      n -> server.getOrElse(n, throw new IllegalArgumentException(
        s"column $n does not exist in ${c.database}.${c.table}"))
    }.toMap
    // built here, not in the relation, so the task closure captures only `c`
    val http = () => new InsertLoop.Http(c)
    val insert: InsertableRelation = (data, _) => InsertLoop.write(
      InsertLoop.nativeSlabs(data, colTypes, c.maxRowsPerPost, c.maxBytesPerPost, isolate = false),
      ClickHouseHttp.insertQuery(c.copy(format = "Native"), data.columns.toSeq), http)
    new V1Write { override def toInsertableRelation: InsertableRelation = insert }
  }
}

private[clickhouse] final class ChScanBuilder(opts: Map[String, String], full: StructType)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var compiled: Seq[String] = Nil
  private var agg: Option[ClickHouseReadSource.AggPush] = None
  private var limit: Option[Int] = None
  private var orderBy: Seq[String] = Nil

  private def numPartitions: Int =
    opts.collectFirst { case (k, v) if k.toLowerCase == "numpartitions" => v.toInt }
      .getOrElse(1)

  /** Declared column types: recovered from the inferred schema's metadata
    * (zero extra round trips) or, for a user-supplied schema, ONE memoized
    * DESCRIBE shared by every planning stage of this builder and its scan. */
  private lazy val described: Seq[(String, String)] =
    ClickHouseReadSource.chTypesOf(full).getOrElse(
      ClickHouseReadSource.describe(opts, ClickHouseReadSource.conf(opts)))

  private lazy val rawTypes: Map[String, String] = described.toMap

  /** Only TOP-LEVEL pruning is honored: Spark's nested schema pruning can
    * pass a Tuple column narrowed to a subset of its struct fields, but
    * the wire decodes with the table's full declared type — accepting the
    * narrowed struct would misalign ordinal field access (full-arity rows
    * under a pruned schema). Each required field is therefore widened
    * back to the table's full column type; Spark re-projects above the
    * scan either way. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fields.map(f =>
      full.fields.find(_.name == f.name).getOrElse(f)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val byFilter = filters.map(f => f -> ClickHouseReadSource.compile(f))
    pushed = byFilter.collect { case (f, Some(_)) => f }
    // Filters the exact compiler refuses may still yield a NARROWING
    // envelope (e.g. a >100-member temporal IN → its min/max range):
    // the envelope joins the server WHERE for index pruning, but the
    // filter itself is RETURNED to Spark below — Spark re-applies the
    // exact predicate above the scan, so the envelope may only reduce
    // shipped rows, never change results.
    val residual = byFilter.collect { case (f, None) => f }
    val envelopes = residual.flatMap(ClickHouseReadSource.compileEnvelope)
    compiled = (byFilter.collect { case (_, Some(sql)) => sql } ++ envelopes).toSeq
    residual // stay Spark-side (envelope-narrowed ones included)
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Complete pushdown needs a single partition (with stride ranges each
    * partition's aggregate is only PARTIAL — Spark must merge). */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    numPartitions == 1 &&
      ClickHouseReadSource.compileAggregation(aggregation, rawTypes,
        partial = false).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val a = ClickHouseReadSource.compileAggregation(aggregation, rawTypes,
      partial = numPartitions > 1)
    agg = a
    a.isDefined
  }

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  /** TopN (ORDER BY + LIMIT) server-side: the table sorts and ships n
    * rows instead of the table. Each partition answers its LOCAL top-n
    * (isPartiallyPushed), Spark merge-sorts the partials — so a stride-
    * partitioned scan still ships numPartitions×n rows, not the table.
    * NULLS FIRST/LAST is always written explicitly (ClickHouse's default
    * differs from Spark's). Refused over a pushed aggregation (the sort
    * keys would reference aggregate output, not table columns). */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (agg.isDefined) return false
    val compiledOrders = orders.toSeq.map { o =>
      o.expression() match {
        case f: NamedReference if f.fieldNames.length == 1 =>
          val dir = if (o.direction() == SortDirection.ASCENDING) "ASC" else "DESC"
          val nulls = o.nullOrdering().toString // "NULLS FIRST" | "NULLS LAST"
          Some(s"${ClickHouseHttp.quoteId(f.fieldNames.head)} $dir $nulls")
        case _ => None
      }
    }
    if (compiledOrders.exists(_.isEmpty)) false
    else {
      orderBy = compiledOrders.flatten
      limit = Some(n)
      true
    }
  }

  /** Per-partition LIMIT/TopN only — Spark re-applies the global one. */
  override def isPartiallyPushed: Boolean = true

  override def build(): Scan =
    new ChScan(opts, full, required, compiled, agg, limit, orderBy, described)
}

private[clickhouse] final class ChScan(opts: Map[String, String], full: StructType,
                                       required: StructType, where0: Seq[String],
                                       agg: Option[ClickHouseReadSource.AggPush],
                                       limit: Option[Int], orderBy: Seq[String],
                                       described: Seq[(String, String)])
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Planning-time WHERE plus any runtime filters Spark injects before
    * execution (dynamic pruning from a joined, filtered dimension). */
  @volatile private var where: Seq[String] = where0

  /** Columns eligible for runtime filtering — Spark resolves these
    * against the scan's OUTPUT, so they must exist in readSchema(): every
    * top-level column on a plain scan, only the GROUP BY columns when an
    * aggregation is pushed (filtering a group key pre-aggregation keeps
    * exactly the groups the join keeps — the compiled IN lands in the
    * WHERE clause, before GROUP BY). A runtime IN over the join key turns
    * a broadcast join's probe-side full scan into a server-side lookup
    * of just the matching keys. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val eligible = agg match {
      case Some(a) => a.groupBy
      case None => required.fieldNames.toSeq // post-pruning, not the table
    }
    eligible.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  /** Runtime filters are an OPTIMIZATION: compile what the dialect can
    * express, silently keep the rest Spark-side (the join re-applies the
    * exact semantics either way — dropping a filter here can only ship
    * more rows, never wrong ones). IN lists are capped: a broadcast join
    * can deliver millions of keys, and a multi-megabyte IN clause costs
    * more to parse server-side (and trips max_query_size) than the rows
    * it would save — past the cap the scan ships the range and lets the
    * join filter. */
  override def filter(filters: Array[Filter]): Unit = {
    val extra = filters.toSeq
      .filter {
        case In(_, vs) => vs.length <= ClickHouseReadSource.RuntimeInCap
        case _ => true
      }
      // exact compile first; a refused filter may still narrow via its
      // min/max envelope (temporal IN past the 100-member text cap) —
      // runtime filters are advisory, the join re-applies exact semantics
      .flatMap(f => ClickHouseReadSource.compile(f)
        .orElse(ClickHouseReadSource.compileEnvelope(f)))
    if (extra.nonEmpty) where = where ++ extra
  }

  /** count() probes MEMOIZED per WHERE snapshot: Spark may request stats
    * repeatedly (plan copies, repeated computeStats) and each probe is a
    * real server query — an index scan under a pushed WHERE — so it is
    * paid ONCE per scan per predicate. Keyed on the where snapshot, not
    * the scan, because runtime filters legally narrow `where` after an
    * earlier stats request (the narrowed predicate then probes once more
    * — stats consumers planned before runtime filtering keep their own
    * pre-filter answer, so a cached value is never silently reused for a
    * different predicate). */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Option[Long]]()
  /** Per-snapshot in-flight latch: concurrent Statistics requests for the
    * same WHERE serialize on it, so only ONE real count() probe runs and
    * the rest read the memoized answer (cost-only fix — results were
    * already correct). One lock object per distinct snapshot, bounded by
    * the handful of predicates a scan ever plans with. */
  private val countInFlight =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Object]()

  private def countedFor(whereSnapshot: Seq[String]): Option[Long] =
    // `stats=off` disables the probe: count() with a pushed WHERE can
    // cost an index scan on a huge table, and a user must be able to
    // refuse planning-time server work
    if (agg.isDefined ||
        opts.exists { case (k, v) => k.equalsIgnoreCase("stats") && v == "off" })
      None
    else Option(countCache.get(whereSnapshot)).getOrElse {
      val latch = countInFlight.computeIfAbsent(whereSnapshot, _ => new Object)
      latch.synchronized {
        // re-check under the latch: a concurrent probe may have memoized
        Option(countCache.get(whereSnapshot)).getOrElse {
          // only SUCCESSFUL probes memoize: caching a transient network
          // failure as None would permanently disable row-count stats (and
          // broadcast-join sizing) for the scan — the next Statistics
          // request retries instead
          val probed = probeCount(whereSnapshot)
          if (probed.isDefined) countCache.putIfAbsent(whereSnapshot, probed)
          probed
        }
      }
    }

  private def probeCount(w: Seq[String]): Option[Long] =
    try {
      val c = ClickHouseReadSource.conf(opts)
      val conj = w.mkString(" AND ")
      val sql = "SELECT CAST(count() AS Int64) AS `cnt` FROM " +
        s"${ClickHouseHttp.quoteId(c.database)}.${ClickHouseHttp.quoteId(c.table)}" +
        (if (conj.nonEmpty) s" WHERE $conj" else "")
      val expect = Seq("cnt" -> CHType.parse("Int64"))
      val rows =
        if (ClickHouseReadSource.isTcp(c.endpoint)) {
          val conn = new graft.sink.ClickHouseNativeTcp.Conn(
            ClickHouseReadSource.tcpConf(opts, c))
          try conn.select(sql, Some(expect)).flatMap(_._2).toVector
          finally conn.close()
        } else {
          val in = ClickHouseHttp.queryStream(c, sql + " FORMAT Native")
          try NativeDecoder.decode(in, expect).toVector finally in.close()
        }
      // a pushed (per-partition) LIMIT/TopN bounds what actually ships
      rows.headOption.map(_.getLong(0))
        .map(n => limit.fold(n)(l =>
          math.min(n, l.toLong * math.max(1, ClickHouseReadSource.numPartitionsOf(opts)))))
    } catch { case _: Exception => None }

  /** Planning-time row/byte estimate so Spark's join planning can see a
    * SMALL ClickHouse table and broadcast it instead of shuffling the big
    * side — the lever that matters most when a CH dimension joins a
    * 100 TB parquet fact. Exact row count via `count()` WITH the pushed
    * filters applied (memoized, see [[countCache]]); bytes = rows ×
    * declared-width estimate of the read columns. Unknown (never wrong)
    * when an aggregation is pushed or the count probe fails — Spark then
    * falls back to its defaults. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val whereSnapshot = where
    new org.apache.spark.sql.connector.read.Statistics {
      private lazy val counted: Option[Long] = countedFor(whereSnapshot)
      override def sizeInBytes(): java.util.OptionalLong =
        counted match {
          case Some(n) =>
            val rowWidth = math.max(8L, readSchema().map(_.dataType.defaultSize.toLong).sum)
            java.util.OptionalLong.of(math.max(1L, n * rowWidth))
          case None => java.util.OptionalLong.empty()
        }
      override def numRows(): java.util.OptionalLong =
        counted.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }
  // the scan's OUTPUT drops the ch.type planning metadata — it has done
  // its job (zero re-DESCRIBEs) and downstream schemas stay byte-stable
  // with earlier rounds
  override def readSchema(): StructType = agg.map(_.schema).getOrElse(
    StructType(required.fields.map(f => StructField(f.name, f.dataType, f.nullable))))
  override def toBatch: Batch = this
  override def description(): String = {
    val w = if (where.isEmpty) "" else s" where ${where.mkString(" AND ")}"
    val a = agg.fold("")(a => s" agg [${a.cols.map(_.sql).mkString(", ")}]")
    s"graft-clickhouse scan [${readSchema().fieldNames.mkString(",")}]$w$a"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val o = opts.map { case (k, v) => k.toLowerCase -> v }
    // NULL-on-empty semantics come from per-function -OrNull combinators
    // compiled into the SELECT list (see compileAggregation) — never the
    // global aggregate_functions_null_for_empty setting, which would also
    // retype count() to Nullable(UInt64) and misframe the decode
    val c = ClickHouseReadSource.conf(opts)
    // declared types arrive via the builder (schema metadata or its one
    // memoized DESCRIBE) — partition planning issues NO server round trip
    val cols = described.toMap
    // SELECT list: pushed aggregation outputs, or the pruned columns; an
    // empty projection (count(*) without agg pushdown) still needs row
    // EXTENT, so ship the narrowest column the table has (by declared
    // wire width — one byte per row for a UInt8, never a String blob)
    // and emit empty rows
    val (selectList, colTypes, emitEmpty) = agg match {
      case Some(a) =>
        (a.cols.map(_.sql), a.cols.map(ac => ac.name -> ac.chType), false)
      case None =>
        val names =
          if (required.fields.nonEmpty) required.fieldNames.toSeq
          else ClickHouseReadSource.narrowest(described).toSeq
        (names.map(ClickHouseHttp.quoteId),
          names.map(n => n -> cols.getOrElse(n,
            throw new IllegalArgumentException(
              s"column $n not in ${c.database}.${c.table}"))),
          required.fields.isEmpty)
    }
    val ranges = (o.get("partitioncolumn"), o.get("numpartitions")) match {
      case (Some(pc), Some(np)) =>
        val lowerText = o.getOrElse("lowerbound",
          throw new IllegalArgumentException("partitionColumn requires lowerBound"))
        val upperText = o.getOrElse("upperbound",
          throw new IllegalArgumentException("partitionColumn requires upperBound"))
        // temporal partition columns stride in epoch micros/days and
        // render tz-unambiguous bound literals — the natural time-striped
        // parallel scan over an events table
        val (lower, render) = ClickHouseReadSource.partitionBound(lowerText, cols.get(pc))
        val (upper, _) = ClickHouseReadSource.partitionBound(upperText, cols.get(pc))
        ClickHouseReadSource.strideRanges(pc, lower, upper, np.toInt, render)
      case _ => Seq("")
    }
    val groupBy = agg.map(_.groupBy).getOrElse(Nil)
    // over the native TCP transport the response is Native by definition —
    // no FORMAT clause; the HTTP leg asks for it explicitly
    val tcp = if (ClickHouseReadSource.isTcp(c.endpoint))
      Some(ClickHouseReadSource.tcpConf(opts, c)) else None
    ranges.map { range =>
      val conj = (where ++ Option(range).filter(_.nonEmpty)).mkString(" AND ")
      val sql = s"SELECT ${selectList.mkString(", ")} " +
        s"FROM ${ClickHouseHttp.quoteId(c.database)}.${ClickHouseHttp.quoteId(c.table)}" +
        (if (conj.nonEmpty) s" WHERE $conj" else "") +
        (if (groupBy.nonEmpty)
           s" GROUP BY ${groupBy.map(ClickHouseHttp.quoteId).mkString(", ")}"
         else "") +
        (if (orderBy.nonEmpty) s" ORDER BY ${orderBy.mkString(", ")}" else "") +
        limit.fold("")(n => s" LIMIT $n") +
        (if (tcp.isDefined) "" else " FORMAT Native")
      ChPartition(c, sql, colTypes, emitEmptyRows = emitEmpty, tcp = tcp): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = ChReaderFactory
}

private[clickhouse] final case class ChPartition(
    c: ClickHouseHttp.Config, sql: String, colTypes: Seq[(String, String)],
    emitEmptyRows: Boolean,
    tcp: Option[graft.sink.ClickHouseNativeTcp.Config] = None) extends InputPartition

private[clickhouse] object ChReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChPartitionReader(partition.asInstanceOf[ChPartition])
}

/** Executor-side reader: one HTTP query per partition, decoded
  * STREAMING off the live (gzip-inflated) response — blocks are pulled as
  * the task consumes rows, so peak memory is one Native block (the server
  * bounds block size via max_block_size), never the partition's response.
  * A stride partition covering gigabytes therefore needs gigabytes of
  * neither heap nor byte[] — the 100 TB shape. */
private[clickhouse] final class ChPartitionReader(p: ChPartition)
  extends PartitionReader[InternalRow] {
  private var stream: java.io.InputStream = _
  private var conn: graft.sink.ClickHouseNativeTcp.Conn = _
  private lazy val rows: Iterator[InternalRow] = {
    val expect = p.colTypes.map { case (n, t) => n -> CHType.parse(t) }
    val decoded = p.tcp match {
      case Some(tc) =>
        // native-TCP transport: one framed Data packet per block, decoded
        // off the socket — same one-block memory bound, no per-partition
        // HTTP request overhead
        conn = new graft.sink.ClickHouseNativeTcp.Conn(tc)
        conn.select(p.sql, Some(expect)).flatMap(_._2)
      case None =>
        stream = ClickHouseHttp.queryStream(p.c, p.sql)
        NativeDecoder.decode(stream, expect)
    }
    if (p.emitEmptyRows) decoded.map(_ => InternalRow.empty) else decoded
  }
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = {
    if (stream != null) stream.close()
    if (conn != null) conn.close()
  }
}
