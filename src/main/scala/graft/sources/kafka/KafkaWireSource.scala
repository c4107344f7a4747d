package graft.sources.kafka

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `format("graft-kafka")` — a DataSource V2 Kafka reader speaking the real
  * wire protocol via [[WireClient]], with the SAME output schema as the
  * stock Kafka source (key/value binary, topic, partition, offset,
  * timestamp, timestampType), so pipelines written against the stock
  * source port by changing only the format string. Exists because this build
  * environment carries no Kafka connector artifact; the protocol is public
  * and small, and a source driven over a REAL socket (offset planning →
  * Fetch → CRC-verified record batches → checkpoint commit) verifies the
  * reference's front door (glassflow-api/internal/kafka/consumer.go) far
  * beyond an options-builder unit test.
  *
  * Options: `brokers` (host:port[,host:port…] — first reachable one serves
  * control requests; FETCHES go to each partition's LEADER from Metadata),
  * `topic`/`topics`/`subscribe` (comma-separated list — one query can read
  * several topics, the stock source's subscribe semantics; checkpoints use
  * its nested topic→partition→offset JSON), `startingOffsets`
  * (earliest|latest, micro-batch default
  * earliest), `maxOffsetsPerTrigger` (admission control: per-batch row cap
  * distributed over partitions proportional to lag, the stock source's
  * policy), `sasl.mechanism` (PLAIN|SCRAM-SHA-256|SCRAM-SHA-512) +
  * `sasl.username`/`sasl.password` (reference SASL legs:
  * consumer.go:141-210), `tls`/`tls.root_ca`/`tls.skip_verify`/
  * `tls.client_cert`/`tls.client_key` (base64 PEM — the reference's TLS
  * surface, tls_conf.go), `fetch.min_bytes`/`fetch.max_bytes`/
  * `fetch.max_wait_ms` (fetch tuning; reference defaults
  * constants.go:250-259), `kafka.group.id` (observational consumer-group
  * offset commits after each completed batch — the reference consumer's
  * CommitRecords behavior, consumer.go:318 — so kafka-side lag tooling
  * tracks the pipeline; restart positions stay checkpoint-owned),
  * `startingTimestamp`/`startingOffsetsByTimestamp` (+`…Strategy`) and
  * `endingTimestamp`/`endingOffsetsByTimestamp` (replay from a wall-clock
  * point: ListOffsets resolves each partition to the first offset
  * at-or-after the ms timestamp), `kafka.isolation.level`
  * (read_uncommitted default | read_committed —
  * the stock source's transactional-read switch: offsets plan against the
  * last stable offset and aborted transactions' batches are filtered
  * during decode, so EXACTLY the rows a committed-transactions consumer
  * sees flow through).
  *
  * Scale shape: one [[InputPartition]] per Kafka partition per batch; each
  * Spark task opens its own socket TO THAT PARTITION'S LEADER and
  * fetch-loops over its offset range only — reads parallelize by topic
  * partition exactly as the stock source, and nothing about a partition's
  * data ever passes through the driver (the driver sees offsets only:
  * int64s per partition).
  */
final class KafkaWireSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kafka"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaWireSource.schemaFor(KafkaWireSource.includeHeaders(options.asScala.toMap))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KafkaWireTable(properties.asScala.toMap)
}

object KafkaWireSource {
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** The stock source's headers column: array<struct<key:string,value:binary>>,
    * appended only when includeHeaders=true so the default schema stays
    * byte-identical to the stock source's. */
  val HeadersField: StructField = StructField("headers",
    ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("value", BinaryType)))))

  private[kafka] def includeHeaders(opts: Map[String, String]): Boolean =
    opts.collectFirst { case (k, v) if k.toLowerCase == "includeheaders" => v.toBoolean }
      .getOrElse(false)

  private[kafka] def schemaFor(headers: Boolean): StructType =
    if (headers) StructType(Schema.fields :+ HeadersField) else Schema

  private[kafka] final case class Endpoint(host: String, port: Int)

  private[kafka] final case class Options(
    endpoints: Seq[Endpoint], topics: Seq[String], sasl: Option[WireClient.SaslConfig],
    tls: Option[WireClient.TlsConfig],
    fetch: FetchTuning = FetchTuning(),
    headers: Boolean = false,
    pattern: Option[scala.util.matching.Regex] = None,
    failOnDataLoss: Boolean = true,
    assign: Option[Set[TP]] = None,
    groupId: Option[String] = None,
    isolation: Int = 0) { // 0 read_uncommitted / 1 read_committed
    def endpoint: Endpoint = endpoints.head
  }

  /** One Kafka partition across topics (multi-topic subscribe). */
  private[kafka] type TP = (String, Int)

  /** Fetch request knobs; defaults are the reference consumer's
    * (internal/constants.go:250-259 — min 100 KB, max 1 MB, wait 750 ms).
    * minBytes/maxWaitMs trade latency for fetch-count on a quiet topic;
    * maxBytes bounds a single response (a batch larger than maxBytes still
    * arrives alone — Kafka always returns at least one batch). */
  private[kafka] final case class FetchTuning(
    minBytes: Int = 1, maxBytes: Int = 1 << 20, maxWaitMs: Int = 750)

  private[kafka] def parseOptions(opts: Map[String, String]): Options = {
    val ci = opts.map { case (k, v) => k.toLowerCase -> v }
    val brokers = ci.getOrElse("brokers",
      throw new IllegalArgumentException("graft-kafka: 'brokers' option is required"))
    // `topic`, `topics`, or the stock source's `subscribe` — all accept a
    // comma-separated list; one query can read several topics exactly like
    // the stock source's subscribe. `subscribePattern` instead resolves the
    // topic set by regex against the broker's full topic list — and in
    // streaming mode the pattern RE-RESOLVES each trigger, so topics
    // created mid-stream that match start flowing from earliest.
    val pattern = ci.get("subscribepattern").map(_.r)
    // `assign`: the stock source's explicit-partition JSON
    // {"topicA":[0,2],"topicB":[1]} — read ONLY those partitions
    val assign = ci.get("assign").map { j =>
      """"([A-Za-z0-9._-]+)"\s*:\s*\[([0-9,\s]*)\]""".r.findAllMatchIn(j).flatMap { m =>
        m.group(2).split(',').map(_.trim).filter(_.nonEmpty)
          .map(p => (m.group(1), p.toInt))
      }.toSet
    }.filter(_.nonEmpty)
    val topics = ci.get("topic").orElse(ci.get("topics")).orElse(ci.get("subscribe"))
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)
      .orElse(assign.map(_.map(_._1).toSeq.distinct.sorted))
      .getOrElse {
        if (pattern.isDefined) Nil
        else throw new IllegalArgumentException(
          "graft-kafka: 'topic' (or 'topics'/'subscribe'/'subscribePattern'/'assign') option is required")
      }
    if (pattern.isDefined && topics.nonEmpty)
      throw new IllegalArgumentException(
        "graft-kafka: 'subscribePattern' and an explicit topic list are mutually exclusive")
    if (assign.isDefined && (pattern.isDefined ||
        ci.contains("topic") || ci.contains("topics") || ci.contains("subscribe")))
      throw new IllegalArgumentException(
        "graft-kafka: 'assign' and subscribe/subscribePattern are mutually exclusive")
    val endpoints = brokers.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { b =>
      b.lastIndexOf(':') match {
        case -1 => throw new IllegalArgumentException(s"graft-kafka: broker '$b' is not host:port")
        case i => Endpoint(b.substring(0, i), b.substring(i + 1).toInt)
      }
    }
    if (endpoints.isEmpty)
      throw new IllegalArgumentException("graft-kafka: 'brokers' option is empty")
    val sasl = ci.get("sasl.mechanism").map { mech =>
      WireClient.SaslConfig(mech.toUpperCase,
        ci.getOrElse("sasl.username",
          throw new IllegalArgumentException("graft-kafka: sasl.mechanism set but sasl.username missing")),
        ci.getOrElse("sasl.password",
          throw new IllegalArgumentException("graft-kafka: sasl.mechanism set but sasl.password missing")))
    }
    // TLS option spellings mirror the reference config fields
    // (models/configs.go: root_ca / tls_cert / tls_key / skip_tls_verify):
    // values are base64-encoded PEM, exactly as the reference transports them
    val tlsOn = ci.get("tls").exists(_.toBoolean) ||
      Seq("tls.root_ca", "tls.skip_verify", "tls.client_cert").exists(ci.contains)
    val tls =
      if (!tlsOn) None
      else Some(WireClient.TlsConfig(
        rootCaPemB64 = ci.get("tls.root_ca"),
        skipVerify = ci.get("tls.skip_verify").exists(_.toBoolean),
        clientCertPemB64 = ci.get("tls.client_cert"),
        clientKeyPemB64 = ci.get("tls.client_key")))
    // fetch tuning (reference knob surface; minBytes defaults to 1 rather
    // than the reference's 100 KB because this source reads BOUNDED offset
    // ranges — a large min on the final partial fetch would just park the
    // task for maxWait on the broker)
    val fetch = FetchTuning(
      minBytes = ci.get("fetch.min_bytes").map(_.toInt).getOrElse(1),
      maxBytes = ci.get("fetch.max_bytes").map(_.toInt).getOrElse(1 << 20),
      maxWaitMs = ci.get("fetch.max_wait_ms").map(_.toInt).getOrElse(750))
    require(fetch.maxBytes > 0 && fetch.minBytes >= 0 && fetch.maxWaitMs >= 0,
      s"graft-kafka: invalid fetch tuning $fetch")
    Options(endpoints, topics, sasl, tls, fetch, includeHeaders(opts), pattern,
      failOnDataLoss = ci.get("failondataloss").forall(_.toBoolean),
      assign = assign,
      // stock-source spelling `kafka.group.id` (plus bare `group.id`): when
      // set, each completed micro-batch commits its end offsets to this
      // consumer group — PURELY observational (external lag monitoring, the
      // reference's CommitRecords behavior); the checkpoint stays the only
      // source of truth for restart positions.
      groupId = ci.get("kafka.group.id").orElse(ci.get("group.id")),
      // stock-source spelling kafka.isolation.level (plus bare
      // isolation.level): read_committed hides rows written by aborted or
      // still-open transactions — offsets plan against the LAST STABLE
      // OFFSET and fetches filter aborted producers' batches.
      isolation = ci.get("kafka.isolation.level").orElse(ci.get("isolation.level")) match {
        case None | Some("read_uncommitted") => 0
        case Some("read_committed") => 1
        case Some(other) => throw new IllegalArgumentException(
          s"graft-kafka: isolation.level must be read_uncommitted or read_committed, got '$other'")
      })
  }

  /** Fetch metadata for the options' topic set: an explicit list verbatim;
    * a subscribePattern resolves against the broker's full topic list at
    * CALL time (so each streaming trigger sees newly created matches). */
  private[kafka] def metadataFor(client: WireClient, o: Options): WireClient.ClusterMeta = {
    val meta = o.pattern match {
      case None => client.metadata(o.topics)
      case Some(re) =>
        val all = client.metadata(Seq.empty)
        // a broad pattern (".*") must not sweep in __consumer_offsets /
        // __transaction_state — the consumer's exclude.internal.topics
        // default. Exclusion is by the KNOWN internal names, not a blanket
        // "__" prefix: a user topic named __my_topic must still match a
        // pattern that names it.
        all.copy(topics = all.topics.filter(t =>
          !KafkaWireSource.InternalTopics(t.name) &&
            re.pattern.matcher(t.name).matches()))
    }
    o.assign match {
      case None => meta
      case Some(set) =>
        // explicit assignment: every named partition must exist, and only
        // the named ones are read
        val known = meta.topics.flatMap(t => t.partitions.map(pm => (t.name, pm.partition))).toSet
        val missing = set.diff(known)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"graft-kafka: assigned partitions do not exist: ${missing.toSeq.sorted.mkString(", ")}")
        meta.copy(topics = meta.topics.map(t =>
          t.copy(partitions = t.partitions.filter(pm => set((t.name, pm.partition))))))
    }
  }

  /** Control-plane client with connect failover across the brokers list:
    * the first broker that ACCEPTS the connection serves metadata/offset
    * requests. Only connect-level failures fail over — a SASL rejection is
    * a credential problem and every broker would refuse identically, so it
    * surfaces immediately instead of being retried N times. */
  private[kafka] def connectControl(o: Options): WireClient = {
    var last: Throwable = null
    o.endpoints.foreach { e =>
      val sock = try {
        Some(new WireClient(e.host, e.port, sasl = o.sasl, tls = o.tls))
      } catch {
        case t @ (_: java.net.ConnectException | _: java.net.SocketTimeoutException |
                  _: java.net.UnknownHostException | _: java.net.NoRouteToHostException) =>
          last = t; None
      }
      sock.foreach(c => return c)
    }
    throw new java.io.IOException(
      s"graft-kafka: no broker reachable among ${o.endpoints.map(e => s"${e.host}:${e.port}").mkString(",")}",
      last)
  }

  /** Kafka's internal bookkeeping topics, excluded from subscribePattern
    * resolution (the consumer's exclude.internal.topics default). */
  private[kafka] val InternalTopics: Set[String] =
    Set("__consumer_offsets", "__transaction_state")

  /** {"events":{"0":12,"7":3},"audit":{"0":5}} — topic → partition → next
    * offset to read: the STOCK Kafka source's checkpoint shape, so offsets
    * stay human-auditable and migration-familiar. Hand-rolled because the
    * format must stay byte-stable across Spark upgrades. Kafka topic names
    * are restricted to [a-zA-Z0-9._-], so no JSON escaping is needed. */
  private[kafka] def offsetsToJson(m: Map[TP, Long]): String =
    m.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (t, ps) =>
      val inner = ps.toSeq.sortBy(_._1._2)
        .map { case ((_, p), o) => s""""$p":$o""" }.mkString("{", ",", "}")
      s""""$t":$inner"""
    }.mkString("{", ",", "}")

  private[kafka] def offsetsFromJson(s: String): Map[TP, Long] =
    """"([A-Za-z0-9._-]+)"\s*:\s*\{([^}]*)\}""".r.findAllMatchIn(s).flatMap { tm =>
      val topic = tm.group(1)
      """"(\d+)"\s*:\s*(\d+)""".r.findAllMatchIn(tm.group(2)).map(pm =>
        (topic, pm.group(1).toInt) -> pm.group(2).toLong)
    }.toMap

  /** Split planned (start, end) ranges into at least `minPartitions` input
    * splits (stock-source option): without this, a 10-partition topic can
    * never use more than 10 Spark tasks — on a wide cluster a backfill
    * leaves almost every core idle. Ranges are divided proportionally to
    * their row span, largest first, and a reader serves a sub-range with
    * the same bounded fetch loop (offsets are dense within a range, so a
    * split at `start + span*k/n` is exact). */
  private[kafka] def splitRanges(ranges: Seq[(TP, Long, Long)], minParts: Int):
      Seq[(TP, Long, Long)] = {
    if (ranges.isEmpty || ranges.size >= minParts) return ranges
    val total = ranges.map { case (_, s, e) => e - s }.sum.toDouble
    if (total <= 0) return ranges
    ranges.flatMap { case (tp, s, e) =>
      val span = e - s
      // proportional share of the target split count, at least 1
      val n = math.max(1, math.min(span,
        math.round(minParts * (span / total)).toLong).toInt)
      (0 until n).map { k =>
        val a = s + span * k / n
        val b = s + span * (k + 1) / n
        (tp, a, b)
      }.filter { case (_, a, b) => b > a }
    }
  }

  /** Resolve a startingOffsets/endingOffsets option value against the live
    * topic set (stock-source semantics): "earliest" / "latest", or an
    * explicit offset JSON in the same nested shape the checkpoint uses —
    * with per-partition sentinels -2 (earliest) and -1 (latest), and
    * partitions ABSENT from the JSON defaulting to earliest for a start
    * bound / latest for an end bound. Explicit offsets must name known
    * partitions. `list(tps, ts)` is the ListOffsets callback. */
  private[kafka] def resolveBound(spec: String, tps: Seq[TP],
                                  list: (Seq[TP], Long) => Map[TP, Long],
                                  defaultLatest: Boolean): Map[TP, Long] = {
    val trimmed = spec.trim
    trimmed match {
      case "earliest" => list(tps, -2L)
      case "latest" => list(tps, -1L)
      case j if j.startsWith("{") =>
        val explicit = offsetsFromJson(j) ++
          // sentinels inside the JSON: "-1"/"-2" values need a sign-aware parse
          """"([A-Za-z0-9._-]+)"\s*:\s*\{([^}]*)\}""".r.findAllMatchIn(j).flatMap { tm =>
            """"(\d+)"\s*:\s*(-\d+)""".r.findAllMatchIn(tm.group(2)).map(pm =>
              (tm.group(1), pm.group(1).toInt) -> pm.group(2).toLong)
          }.toMap
        val unknown = explicit.keys.filterNot(tps.contains)
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"graft-kafka: offsets name unknown partitions ${unknown.mkString(", ")}")
        val sentinelTs = explicit.collect { case (tp, v) if v < 0 => tp -> v }
        val resolvedSentinels = sentinelTs.groupBy(_._2).flatMap { case (ts, g) =>
          list(g.keys.toSeq, ts)
        }
        val absent = tps.filterNot(explicit.contains)
        val absentResolved = list(absent, if (defaultLatest) -1L else -2L)
        explicit.filter(_._2 >= 0) ++ resolvedSentinels ++ absentResolved
      case other => throw new IllegalArgumentException(
        s"graft-kafka: offsets must be earliest, latest, or an offset JSON; got '$other'")
    }
  }

  /** Parsed starting-timestamp options (stock spellings), validated:
    * positional startingOffsets and any timestamp start are exclusive —
    * two replay points is a config bug, not a preference order. */
  private[kafka] final case class TsBound(global: Option[Long], json: Option[String],
                                          errorOnNoMatch: Boolean)

  private[kafka] def timestampBoundOptions(ci: Map[String, String]): TsBound = {
    val b = TsBound(
      ci.get("startingtimestamp").map(_.trim.toLong),
      ci.get("startingoffsetsbytimestamp"),
      ci.getOrElse("startingoffsetsbytimestampstrategy", "error") match {
        case "error" => true
        case "latest" => false
        case other => throw new IllegalArgumentException(
          s"graft-kafka: startingOffsetsByTimestampStrategy must be error or latest, got '$other'")
      })
    if ((b.global.nonEmpty || b.json.nonEmpty) && ci.contains("startingoffsets"))
      throw new IllegalArgumentException(
        "graft-kafka: startingOffsets and startingTimestamp/startingOffsetsByTimestamp are exclusive")
    b
  }

  /** Timestamp-based bound resolution — the stock source's
    * `startingTimestamp` / `startingOffsetsByTimestamp` (and `ending*`)
    * surface for replaying from a wall-clock point. Each partition resolves
    * to the FIRST offset whose record timestamp is >= the requested ms
    * (ListOffsets with a real timestamp). Returns None when neither option
    * is present, letting the positional startingOffsets path run.
    *
    * A partition with NO such record (requested time is past its newest
    * row) follows the stock strategy switch: `errorOnNoMatch=true` (the
    * stock `startingOffsetsByTimestampStrategy=error` default) fails
    * loudly; false resolves it to latest — which is also the fixed stock
    * rule for ending bounds. Partitions absent from a byTimestamp JSON
    * keep the positional default (earliest for a start bound, latest for
    * an end bound). */
  private[kafka] def resolveTimestamps(global: Option[Long], json: Option[String],
                                       tps: Seq[TP],
                                       list: (Seq[TP], Long) => Map[TP, Long],
                                       errorOnNoMatch: Boolean,
                                       defaultLatest: Boolean): Option[Map[TP, Long]] = {
    if (global.isEmpty && json.isEmpty) return None
    require(global.isEmpty || json.isEmpty,
      "graft-kafka: a global timestamp and a per-partition timestamp JSON are exclusive")
    val wanted: Map[TP, Long] = global match {
      case Some(ts) => tps.map(_ -> ts).toMap
      case None =>
        val m = offsetsFromJson(json.get)
        val unknown = m.keys.filterNot(tps.contains)
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"graft-kafka: timestamps name unknown partitions ${unknown.mkString(", ")}")
        m
    }
    val byTs = wanted.groupBy(_._2).flatMap { case (ts, g) => list(g.keys.toSeq, ts) }
    val misses = byTs.collect { case (tp, off) if off < 0 => tp }.toSeq
    val missResolved =
      if (misses.isEmpty) Map.empty[TP, Long]
      else if (errorOnNoMatch) throw new java.io.IOException(
        s"graft-kafka: no record at-or-after the requested timestamp in " +
          s"${misses.sorted.mkString(", ")} (startingOffsetsByTimestampStrategy=error; " +
          "use 'latest' to start at the log end instead)")
      else list(misses, -1L)
    val absent = tps.filterNot(wanted.contains)
    val absentResolved = list(absent, if (defaultLatest) -1L else -2L)
    Some(byTs.filter(_._2 >= 0) ++ missResolved ++ absentResolved)
  }

  /** (topic, partition) → leader endpoint from a Metadata response; a
    * partition whose leader id is absent from the broker list (-1 =
    * leaderless election in progress) falls back to the control endpoint,
    * which will surface the broker's own NOT_LEADER error rather than
    * guess. */
  private[kafka] def leaderEndpoints(meta: WireClient.ClusterMeta,
                                     fallback: Endpoint): Map[TP, Endpoint] = {
    val byId = meta.brokers.map(b => b.nodeId -> Endpoint(b.host, b.port)).toMap
    meta.topics.flatMap(t => t.partitions.map(pm =>
      (t.name, pm.partition) -> byId.getOrElse(pm.leader, fallback))).toMap
  }
}

private[kafka] final class KafkaWireTable(opts: Map[String, String])
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = "graft-kafka:" + opts.collectFirst {
    case (k, v) if Set("topic", "topics", "subscribe", "subscribepattern")(k.toLowerCase) => v
  }.getOrElse("?")
  override def schema(): StructType =
    KafkaWireSource.schemaFor(KafkaWireSource.includeHeaders(opts))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      // the write schema is the producer's row contract (value/key/topic/
      // partition/headers), not the read schema — accept it as-is
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = opts ++ options.asScala
    new ScanBuilder { override def build(): Scan = new KafkaWireScan(merged) }
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new KafkaWireWriteBuilder(opts ++ info.options().asScala, info)
}

private[kafka] final class KafkaWireScan(opts: Map[String, String]) extends Scan {
  override def readSchema(): StructType =
    KafkaWireSource.schemaFor(KafkaWireSource.includeHeaders(opts))
  override def description(): String = "graft-kafka wire-protocol scan"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KafkaWireMicroBatchStream(opts)
  override def toBatch: Batch = new KafkaWireBatch(opts)
}

/** Streaming offsets: (topic, partition) → NEXT offset to read (exclusive
  * end of what's been planned); serialized in the stock source's nested
  * topic → partition → offset JSON shape. */
private[kafka] final case class KafkaWireOffset(offsets: Map[KafkaWireSource.TP, Long]) extends Offset {
  override def json(): String = KafkaWireSource.offsetsToJson(offsets)
}

private[kafka] final class KafkaWireMicroBatchStream(opts: Map[String, String])
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  import KafkaWireSource.TP

  /** Trigger.AvailableNow: the log ends captured ONCE at query start —
    * every batch this run plans toward (and never past) this frontier, so
    * the query drains a bounded backlog in read-limit-sized batches and
    * terminates even while producers keep appending. Partitions created
    * after the capture wait for the next run. */
  private var availableNowEnd: Map[TP, Long] = null

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowEnd = listOffsets(allTps(clusterMeta()), -1L)
  }

  override def reportLatestOffset(): Offset =
    if (availableNowEnd == null) null else KafkaWireOffset(availableNowEnd)

  private val o = KafkaWireSource.parseOptions(opts)
  private val ciOpts = opts.map { case (k, v) => k.toLowerCase -> v }
  private val startingOffsets = ciOpts.getOrElse("startingoffsets", "earliest")
  private val startTs = KafkaWireSource.timestampBoundOptions(ciOpts)
  // a stream has no end: silently ignoring an ending bound would read past
  // the user's window forever — reject it, the stock source's behavior
  for (bad <- Seq("endingoffsets", "endingtimestamp", "endingoffsetsbytimestamp"))
    if (ciOpts.contains(bad)) throw new IllegalArgumentException(
      s"graft-kafka: $bad is not valid in streaming queries (batch reads only)")
  private val maxOffsetsPerTrigger = ciOpts.get("maxoffsetspertrigger").map(_.toLong)
  private val minOffsetsPerTrigger = ciOpts.get("minoffsetspertrigger").map(_.toLong)
  // "30s"/"5m"/"1h" or bare millis — the stock option's duration spelling
  private val maxTriggerDelayMs = ciOpts.get("maxtriggerdelay").map { d =>
    val t = d.trim
    val (num, unit) = t.span(c => c.isDigit || c == '.')
    require(num.nonEmpty, s"graft-kafka: bad maxTriggerDelay '$d'")
    (num.toDouble * (unit.trim match {
      case "" | "ms" => 1d
      case "s" => 1000d
      case "m" => 60000d
      case "h" => 3600000d
      case u => throw new IllegalArgumentException(s"graft-kafka: bad maxTriggerDelay unit '$u'")
    })).toLong
  }.getOrElse(15L * 60000) // stock default 15m
  private val minPartitions = ciOpts.get("minpartitions").map(_.toInt).getOrElse(0)

  /** When the min-rows gate defers a trigger, this records the moment the
    * WAIT began, so maxTriggerDelay bounds staleness, not inter-batch
    * gaps. Driver-side state only (admission control runs on the driver). */
  private var waitingSinceMs: Long = -1L

  // Control-plane client: driver-side only, offsets in/out — never records.
  private lazy val client = KafkaWireSource.connectControl(o)

  private def clusterMeta(): WireClient.ClusterMeta = {
    val meta = KafkaWireSource.metadataFor(client, o)
    meta.topics.filter(_.errorCode != 0).foreach(t =>
      throw new java.io.IOException(s"graft-kafka: metadata error ${t.errorCode} for ${t.name}"))
    meta
  }

  private def allTps(meta: WireClient.ClusterMeta): Seq[TP] =
    meta.topics.flatMap(t => t.partitions.map(p => (t.name, p.partition))).sorted

  /** ListOffsets for a TP set, one request per topic. Under read_committed
    * a "latest" (-1) answer is the LSO, so planned ranges never cross an
    * open transaction. */
  private def listOffsets(tps: Seq[TP], ts: Long): Map[TP, Long] =
    tps.groupBy(_._1).flatMap { case (topic, g) =>
      client.listOffsets(topic, g.map(_._2), ts, isolation = o.isolation)
        .map { case (p, off) => (topic, p) -> off }
    }

  override def initialOffset(): Offset = {
    val tps = allTps(clusterMeta())
    KafkaWireOffset(
      KafkaWireSource.resolveTimestamps(startTs.global, startTs.json, tps,
          listOffsets, startTs.errorOnNoMatch, defaultLatest = false)
        .getOrElse(KafkaWireSource.resolveBound(
          startingOffsets, tps, listOffsets, defaultLatest = false)))
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      minOffsetsPerTrigger.map(ReadLimit.minRows(_, maxTriggerDelayMs)),
      maxOffsetsPerTrigger.map(ReadLimit.maxRows(_))).flatten
    limits match {
      case Nil => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  /** Partitions absent from a checkpointed start map were CREATED after
    * the checkpoint — they start from EARLIEST (the stock source's
    * policy); defaulting them to their log-end would silently skip every
    * row already in them. */
  private def effectiveStart(startMap: Map[TP, Long], tps: Seq[TP]): Map[TP, Long] = {
    val missing = tps.filterNot(startMap.contains)
    if (missing.isEmpty) startMap
    else startMap ++ listOffsets(missing, -2L)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // AvailableNow: the frontier is the prepared snapshot, not the live log
    // end — the run must terminate even under concurrent producers
    val tps = if (availableNowEnd != null) availableNowEnd.keys.toSeq.sorted
              else allTps(clusterMeta())
    val startMap = effectiveStart(start.asInstanceOf[KafkaWireOffset].offsets, tps)
    // the snapshot is clamped to the start: prepare runs BEFORE
    // initialOffset, so a startingOffsets=latest start can sit past the
    // snapshot (rows appended in between) — an end below the start would
    // regress the checkpoint and re-admit rows the start bound excluded
    val latest = if (availableNowEnd != null) availableNowEnd.map { case (tp, e) =>
                   tp -> math.max(e, startMap.getOrElse(tp, e)) }
                 else listOffsets(tps, -1L)
    val lags = latest.map { case (tp, end) =>
      tp -> math.max(0L, end - startMap.getOrElse(tp, end))
    }
    val total = lags.values.sum
    val limits = limit match {
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.toSeq
      case l => Seq(l)
    }
    // min-rows gate (stock minOffsetsPerTrigger): too little lag defers the
    // trigger — unless the data has waited maxTriggerDelay already, which
    // bounds staleness on a quiet topic. Never under AvailableNow: a
    // sub-minimum tail is the END of a bounded run, not data worth waiting
    // on — deferring would stall termination for maxTriggerDelay.
    val deferred = availableNowEnd == null && limits.collectFirst {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMinRows => m
    }.exists { m =>
      val now = System.currentTimeMillis()
      if (total >= m.minRows()) { waitingSinceMs = -1L; false }
      else if (total == 0) { waitingSinceMs = -1L; true }
      else {
        if (waitingSinceMs < 0) waitingSinceMs = now
        if (now - waitingSinceMs >= m.maxTriggerDelayMs()) { waitingSinceMs = -1L; false }
        else true
      }
    }
    // a deferred trigger reports the start map UNCHANGED — no batch planned,
    // no offsets invented, nothing dropped for temporarily-missing topics
    if (deferred) KafkaWireOffset(startMap)
    else limits.collectFirst {
      case mr: ReadMaxRows => mr
    } match {
      case Some(mr) =>
        // Distribute the row cap over partitions proportional to lag —
        // the stock source's rate-limit policy: a hot partition gets more
        // of the budget but no partition is starved outright.
        val cap = mr.maxRows()
        if (total <= cap) KafkaWireOffset(latest)
        else KafkaWireOffset(latest.map { case (tp, end) =>
          // Double, not Long: cap * lag overflows Long on deep backfills
          // (cap 10^7 × lag 10^12), and a negative share would move the
          // committed cursor BACKWARD
          val lag = lags(tp)
          val share = if (total == 0) 0L
            else math.max(0L, (cap.toDouble * lag / total).toLong)
          tp -> math.min(end, startMap.getOrElse(tp, end) + share)
        })
      case None => KafkaWireOffset(latest)
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val m = KafkaWireSource.offsetsFromJson(json)
    if (m.nonEmpty || json.replaceAll("[\\s{}]", "").isEmpty)
      return KafkaWireOffset(m)
    // legacy flat shape {"0":12,...} (partition → offset, no topic nesting):
    // earlier checkpoints of THIS source wrote it for single-topic streams.
    // Migrate using the configured topic rather than failing the restart.
    val flat = """"(\d+)"\s*:\s*(\d+)""".r.findAllMatchIn(json)
      .map(pm => pm.group(1).toInt -> pm.group(2).toLong).toSeq
    val flatIsWholeJson = flat.nonEmpty && !json.drop(1).contains('{')
    if (flatIsWholeJson && o.topics.size == 1) {
      val t = o.topics.head
      KafkaWireOffset(flat.map { case (p, off) => (t, p) -> off }.toMap)
    } else
      // a checkpoint that parses to NOTHING but isn't the empty map is a
      // foreign/corrupt format — restarting every partition from earliest
      // (the silent alternative) would flood downstream with duplicates
      throw new IllegalArgumentException(
        s"graft-kafka: unrecognized checkpoint offset JSON '$json' — " +
          "refusing to silently restart from earliest")
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val e = end.asInstanceOf[KafkaWireOffset].offsets
    val s = effectiveStart(start.asInstanceOf[KafkaWireOffset].offsets, e.keys.toSeq)
    val leaders = KafkaWireSource.leaderEndpoints(clusterMeta(), o.endpoint)
    val ranges = e.toSeq.sortBy(_._1).flatMap { case (tp, endOff) =>
      val startOff = s.getOrElse(tp, endOff)
      if (endOff > startOff) Some((tp, startOff, endOff)) else None
    }
    KafkaWireSource.splitRanges(ranges, minPartitions).map { case ((topic, p), a, b) =>
      val leader = leaders.getOrElse((topic, p), o.endpoint)
      KafkaWirePartition(leader.host, leader.port, topic, p, a, b,
        o.sasl, o.tls, o.fetch, o.headers, o.failOnDataLoss,
        isolation = o.isolation): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = KafkaWireReaderFactory

  /** Cached connection to the group coordinator (kafka.group.id set);
    * dropped on any commit failure so the next batch re-resolves — the
    * coordinator can move between batches. */
  private var coordClient: WireClient = null

  /** With kafka.group.id set, a COMPLETED batch's end offsets (each the
    * next-to-read offset — Kafka's committed-offset convention) are
    * committed to the group, mirroring the reference consumer's
    * post-processing commit (consumer.go:318/:357) so kafka-side lag
    * tooling sees this pipeline's progress. Best-effort BY DESIGN: restart
    * positions come from the Spark checkpoint alone, so a failed commit
    * must never fail the batch — it is swallowed and retried next batch
    * on a fresh coordinator lookup. */
  override def commit(end: Offset): Unit = o.groupId.foreach { gid =>
    try {
      if (coordClient == null) {
        val c = client.findCoordinator(gid)
        coordClient = new WireClient(c.host, c.port, sasl = o.sasl, tls = o.tls)
      }
      coordClient.offsetCommit(gid, end.asInstanceOf[KafkaWireOffset].offsets)
    } catch {
      case scala.util.control.NonFatal(_) =>
        if (coordClient != null) {
          try coordClient.close() catch { case _: Throwable => () }
          coordClient = null
        }
    }
  }

  override def stop(): Unit = {
    if (coordClient != null) try coordClient.close() catch { case _: Throwable => () }
    try client.close() catch { case _: Throwable => () }
  }
}

private[kafka] final class KafkaWireBatch(opts: Map[String, String]) extends Batch {
  private val o = KafkaWireSource.parseOptions(opts)
  private val ci = opts.map { case (k, v) => k.toLowerCase -> v }
  override def planInputPartitions(): Array[InputPartition] = {
    val client = KafkaWireSource.connectControl(o)
    try {
      val meta = KafkaWireSource.metadataFor(client, o)
      val leaders = KafkaWireSource.leaderEndpoints(meta, o.endpoint)
      val tps = meta.topics.flatMap(t => t.partitions.map(p => (t.name, p.partition))).sorted
      def list(ts2: Seq[KafkaWireSource.TP], ts: Long): Map[KafkaWireSource.TP, Long] =
        ts2.groupBy(_._1).flatMap { case (t, g) =>
          client.listOffsets(t, g.map(_._2), ts, isolation = o.isolation)
            .map { case (p, off) => (t, p) -> off } }
      // bounded batch reads (backfill/replay): stock-source option surface,
      // positional offsets or wall-clock timestamps per bound
      val startTs = KafkaWireSource.timestampBoundOptions(ci)
      if (ci.contains("endingoffsets") &&
          (ci.contains("endingtimestamp") || ci.contains("endingoffsetsbytimestamp")))
        throw new IllegalArgumentException(
          "graft-kafka: endingOffsets and endingTimestamp/endingOffsetsByTimestamp are exclusive")
      val earliest = KafkaWireSource.resolveTimestamps(
          startTs.global, startTs.json, tps, list, startTs.errorOnNoMatch,
          defaultLatest = false)
        .getOrElse(KafkaWireSource.resolveBound(
          ci.getOrElse("startingoffsets", "earliest"), tps, list, defaultLatest = false))
      // an end timestamp past a partition's newest row means "everything":
      // no-match resolves to latest, the stock ending-bound rule
      val latest = KafkaWireSource.resolveTimestamps(
          ci.get("endingtimestamp").map(_.trim.toLong), ci.get("endingoffsetsbytimestamp"),
          tps, list, errorOnNoMatch = false, defaultLatest = true)
        .getOrElse(KafkaWireSource.resolveBound(
          ci.getOrElse("endingoffsets", "latest"), tps, list, defaultLatest = true))
      val ranges = tps.flatMap { case tp =>
        val (s, e) = (earliest(tp), latest(tp))
        if (e > s) Some((tp, s, e)) else None
      }
      val minParts = ci.get("minpartitions").map(_.toInt).getOrElse(0)
      KafkaWireSource.splitRanges(ranges, minParts).map { case ((topic, p), a, b) =>
        val leader = leaders.getOrElse((topic, p), o.endpoint)
        KafkaWirePartition(leader.host, leader.port, topic, p, a, b,
          o.sasl, o.tls, o.fetch, o.headers, o.failOnDataLoss,
          isolation = o.isolation): InputPartition
      }.toArray
    } finally client.close()
  }
  override def createReaderFactory(): PartitionReaderFactory = KafkaWireReaderFactory
}

private[kafka] final case class KafkaWirePartition(
  host: String, port: Int, topic: String, partition: Int,
  startOffset: Long, endOffset: Long,
  sasl: Option[WireClient.SaslConfig],
  tls: Option[WireClient.TlsConfig] = None,
  fetch: KafkaWireSource.FetchTuning = KafkaWireSource.FetchTuning(),
  includeHeaders: Boolean = false,
  failOnDataLoss: Boolean = true,
  isolation: Int = 0) extends InputPartition

private[kafka] object KafkaWireReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KafkaWirePartitionReader(partition.asInstanceOf[KafkaWirePartition])
}

/** Executor-side fetch loop over [startOffset, endOffset): one socket per
  * task to the partition's leader, records surfaced in offset order, CRC
  * verified in the codec, control batches skipped without stalling. */
private[kafka] final class KafkaWirePartitionReader(p: KafkaWirePartition)
  extends PartitionReader[InternalRow] {

  private var client = new WireClient(p.host, p.port, sasl = p.sasl, tls = p.tls)
  private var leaderRetried = false
  private val topicUtf8 = UTF8String.fromString(p.topic)

  /** NOT_LEADER mid-range: leadership moved after the driver planned this
    * partition (a task RETRY reuses the same InputPartition, so without
    * this the stale leader is permanent). Re-resolve via the current
    * connection — metadata answers on any broker — and reconnect to the
    * new leader, once; a second NOT_LEADER is surfaced. */
  private def reconnectToLeader(cause: WireClient.NotLeader): Unit = {
    if (leaderRetried) throw cause
    leaderRetried = true
    val meta = client.metadata(p.topic)
    val pm = meta.topic.partitions.find(_.partition == p.partition).getOrElse(throw cause)
    val ep = meta.brokers.find(_.nodeId == pm.leader).getOrElse(throw cause)
    try client.close() catch { case _: Throwable => () }
    client = new WireClient(ep.host, ep.port, sasl = p.sasl, tls = p.tls)
  }
  private var buffer: Iterator[Records.Record] = Iterator.empty
  private var nextOffset = p.startOffset
  private var current: Records.Record = _

  /** failOnDataLoss=false: rows in [nextOffset, log start) are gone to
    * retention — acknowledge the loss and continue from the log start
    * (the stock source's policy); true (default) surfaces it. */
  private def skipLossOrThrow(cause: Throwable): Unit = {
    if (p.failOnDataLoss)
      throw new java.io.IOException(
        s"graft-kafka: offsets from $nextOffset lost on ${p.topic}-${p.partition} " +
          "(set failOnDataLoss=false to skip the gap)", cause)
    val earliest = client.listOffsets(p.topic, Seq(p.partition), -2L)(p.partition)
    if (earliest > nextOffset) {
      // retention raised the log START past the cursor: skip the gap
      nextOffset = math.min(earliest, p.endOffset)
    } else {
      // the log END moved below the cursor (unclean leader election
      // truncation): failOnDataLoss=false means survive THAT too — clamp
      // to the end of what remains; the next empty fetch terminates the
      // range cleanly instead of killing the query
      val latest = client.listOffsets(p.topic, Seq(p.partition), -1L)(p.partition)
      if (latest < nextOffset) nextOffset = math.max(earliest, latest)
      else throw new java.io.IOException(
        s"graft-kafka: offset $nextOffset rejected but log spans [$earliest, $latest) " +
          s"on ${p.topic}-${p.partition} — refusing to spin", cause)
    }
  }

  override def next(): Boolean = {
    while (!buffer.hasNext && nextOffset < p.endOffset) {
      // A broker answers a retention-truncated offset with error 1
      // (OFFSET_OUT_OF_RANGE) — route it through the failOnDataLoss
      // policy, then refetch from wherever the policy moved the cursor.
      val resOpt = try {
        Some(client.fetch(p.topic, p.partition, nextOffset,
          maxBytes = p.fetch.maxBytes, maxWaitMs = p.fetch.maxWaitMs,
          minBytes = p.fetch.minBytes, isolation = p.isolation))
      } catch {
        case e: WireClient.OffsetOutOfRange => skipLossOrThrow(e); None
        case e: WireClient.NotLeader => reconnectToLeader(e); None
      }
      resOpt match {
        case None => () // jumped past a retention gap; loop refetches
        case Some(res) if res.records.isEmpty && res.nextOffset < 0 =>
          // Range was planned from a live log-end offset, so data below
          // endOffset must exist; an empty response (no batch decoded at
          // all) below the read ceiling (HWM, or LSO under read_committed —
          // rows behind an open transaction are legitimately absent) means
          // the offset aged out on a broker that answers with emptiness
          // instead of error 1 — same policy.
          val ceiling = if (p.isolation == 1) res.lastStableOffset else res.highWatermark
          if (nextOffset < ceiling) skipLossOrThrow(
            new java.io.IOException(
              s"empty fetch at offset $nextOffset below hwm ${res.highWatermark}"))
          else return false
        case Some(res) =>
          // A fetch may return records below the requested offset (batch
          // granularity) or beyond our planned end — trim to the range.
          // `from` pins the bound: the iterator is LAZY and `nextOffset` is
          // advanced below before the filter ever runs — closing over the
          // var would filter against the post-advance cursor and drop
          // every record.
          val from = nextOffset
          buffer = res.records.iterator
            .filter(r => r.offset >= from && r.offset < p.endOffset)
          // Advance by the BATCH-LEVEL cursor, not record offsets: a
          // control batch decodes to zero records, and on compacted topics
          // every record at/after the fetch offset within a batch may be
          // gone while the batch header still spans them — record-offset
          // advance would re-fetch the same batch forever in both cases.
          val advanced = math.max(res.nextOffset,
            if (res.records.nonEmpty) res.records.map(_.offset).max + 1 else Long.MinValue)
          if (advanced <= nextOffset)
            throw new java.io.IOException(
              s"graft-kafka: fetch at offset $nextOffset did not advance " +
                s"(batch cursor $advanced, partition ${p.partition}) — refusing to spin")
          nextOffset = advanced
      }
    }
    if (buffer.hasNext) { current = buffer.next(); true } else false
  }

  override def get(): InternalRow = {
    val r = current
    val base = Seq[Any](
      r.key,
      r.value,
      topicUtf8,
      p.partition,
      r.offset,
      r.timestampMs * 1000L, // ms → µs
      r.timestampType)       // 0 = CreateTime, 1 = LogAppendTime (batch attr bit 3)
    if (!p.includeHeaders) InternalRow(base: _*)
    else InternalRow(base :+ new org.apache.spark.sql.catalyst.util.GenericArrayData(
      r.headers.map { case (hk, hv) =>
        InternalRow(UTF8String.fromString(hk), hv)
      }.toArray[Any]): _*)
  }

  override def close(): Unit = client.close()
}
