package graft

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7): the query registry.
  *
  * Each entry exercises one operator from SURVEY.md §2 as a batch query
  * over the driver-generated parquet tables and holds, beside it, the
  * DuckDB-equivalent SQL the driver uses as the correctness oracle;
  * [[queries]] and [[oracleSql]] are the two views of it. Column names are
  * aliased identically on both sides (the driver's compare sorts columns
  * by name before hashing).
  */
object SparkEntry {

  /** events with ts_ns truncated to microsecond precision — DuckDB's parquet
    * scan converts TIMESTAMP_NS→TIMESTAMP (micros), so oracle-checked queries
    * must do their time arithmetic at the precision both engines share. */
  private def eventsUsPrecision(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_ns", expr("(ts_ns div 1000) * 1000"))

  /** Fixture-backed queries: the ClickHouse fixture must stop even when
    * the query under construction THROWS — a leaked HTTP dispatcher
    * thread is non-daemon and blocks JVM exit (bit Verify in r12). The
    * result frame is persisted and materialized inside `f` while the
    * fixture lives. */
  private def withCh[A](f: graft.sink.MiniClickHouseServer => A): A = {
    val ch = new graft.sink.MiniClickHouseServer()
    ch.start()
    try f(ch) finally ch.stop()
  }

  /** An in-memory stream of `batches`, one `addData` (one input partition)
    * each, with its columns named `cols`. It is how a streaming operator is
    * driven from the batch harness: the production path is the Kafka source. */
  private def memoryStream[A <: Product : TypeTag](s: SparkSession, cols: String*)(
      batches: Seq[A]*): DataFrame = {
    val ms = MemoryStream[A](Encoders.product[A], s.sqlContext)
    batches.foreach(ms.addData(_))
    ms.toDF().toDF(cols: _*)
  }

  /** Runs `df` through an append-mode memory sink until its input is used
    * up and returns what it emitted. The settings shape only the harness's
    * fixed overhead, never operator semantics, and are restored afterwards:
    * 8 state partitions are plenty for the harness feed, and the checkpoint
    * lives on tmpfs when there is one, so the per-batch WAL/commit fsyncs
    * hit RAM. `noDataBatches = false` skips the trailing watermark-only
    * batches, for operators that emit everything in the data batch. The
    * sink's view is dropped before returning; the frame keeps its rows. */
  private def drainStream(s: SparkSession, name: String, df: DataFrame,
                          noDataBatches: Boolean = true): DataFrame = {
    val qn = s"${name}_${System.nanoTime()}"
    val settings = Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString)
    val prior = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    val shm = new java.io.File("/dev/shm")
    val ck = new java.io.File(
      if (shm.isDirectory && shm.canWrite) shm.getPath else sys.props("java.io.tmpdir"), qn)
    try {
      val q = df.writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", ck.getPath)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
      }
      try rm(ck) catch { case _: Exception => () }
      prior.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }
    val out = s.table(qn)
    s.catalog.dropTempView(qn)
    out
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * a full config-driven pipeline (filter → windowed dedup → transform). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline_e2e")(spark, "/root/testdata/sf0.001")

  private val sessionizeOracle: String =
    """WITH m AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 43200000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM m)
      |SELECT user_id,
      |  min(ts) AS session_start,
      |  max(ts) AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
      |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
      |FROM s GROUP BY user_id, session_no""".stripMargin

  /** Shared truth for the batch AND streaming hopping-window forms:
    * hop-window membership unrolled — a point belongs to every hop-aligned
    * start in (tus - width, tus]; integer floor division (non-negative
    * domain) keeps boundary points exact where a double floor could flake. */
  private val hoppingOracle: String =
    """WITH ev AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
      |w AS (SELECT
      |    unnest(generate_series(
      |      ((tus - 86400000000) // 21600000000 + 1) * 21600000000,
      |      (tus // 21600000000) * 21600000000,
      |      21600000000)) AS w_start_us,
      |    event_type, value
      |  FROM ev)
      |SELECT w_start_us, event_type, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM w GROUP BY w_start_us, event_type""".stripMargin

  /** Shared truth for the batch AND streaming integer-EWMA forms: the
    * recurrence replayed as a recursive CTE (`//` and Scala `/` both
    * truncate toward zero, so the smoothing is bit-identical). */
  private val ewmaOracle: String =
    """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS tus,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
      |      AS rn
      |  FROM events),
      |r AS (
      |  SELECT user_id, tus, cents, rn, cents AS ewma
      |  FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.tus, e.cents, e.rn,
      |    r.ewma + (e.cents - r.ewma) // 16
      |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      |SELECT user_id, tus, cents, ewma FROM r""".stripMargin

  /** Shared truth for the batch AND streaming SLO burn-rate forms. */
  private val sloBurnOracle: String =
    """WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
      |    CAST(count(*) AS BIGINT) AS n_total,
      |    CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
      |      AS n_err
      |  FROM events GROUP BY 1)
      |SELECT hr, n_total, n_err,
      |  CAST(n_err * 1000000 // n_total AS BIGINT) AS err_rate_micro,
      |  CAST((n_err * 1000000 // n_total) * 1000 // 10000 AS BIGINT)
      |    AS burn_milli,
      |  ((n_err * 1000000 // n_total) * 1000 // 10000) > 14400
      |    AS fast_burn
      |FROM h""".stripMargin

  /** Shared truth for the operator-level AND Catalyst-native as-of joins. */
  private val asofOracle: String =
    """WITH l AS (SELECT event_id, user_id, value, epoch_ns(ts) AS ts_ns
      |           FROM events WHERE event_type = 'purchase'),
      |     r AS (SELECT event_id, user_id, value, epoch_ns(ts) AS ts_ns
      |           FROM events WHERE event_type = 'view')
      |SELECT l.event_id AS purchase_id, l.user_id AS user_id,
      |       l.value AS purchase_value, l.ts_ns AS purchase_ts,
      |       r.event_id AS view_id, r.value AS view_value
      |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts_ns >= r.ts_ns
      |WHERE l.ts_ns - r.ts_ns <= 86400000000000""".stripMargin

  /** Shared Holt level/trend recursive-CTE replay (q_holt and the
    * backtest row build their final SELECT on top of it). */
  private val holtCte: String =
    """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS tus,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
      |      AS rn
      |  FROM events),
      |r AS (
      |  SELECT user_id, tus, cents, rn,
      |    cents AS level, CAST(0 AS BIGINT) AS trend
      |  FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.tus, e.cents, e.rn,
      |    (r.level + r.trend) + (e.cents - r.level - r.trend) // 8,
      |    r.trend + ((r.level + r.trend)
      |      + (e.cents - r.level - r.trend) // 8
      |      - r.level - r.trend) // 16
      |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)"""
      .stripMargin

  /** Shared truth for the batch AND streaming CUSUM forms: the reset
    * recurrence replayed as a recursive CTE (the ewmaOracle pattern);
    * greatest() and integer arithmetic agree bit-for-bit. */
  private val cusumOracle: String =
    """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS tus,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
      |      AS rn
      |  FROM events),
      |r AS (
      |  SELECT user_id, tus, cents, rn,
      |    greatest(0, cents - 30000) AS cusum
      |  FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.tus, e.cents, e.rn,
      |    greatest(0, r.cusum + e.cents - 30000)
      |  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      |SELECT user_id, tus, cents, cusum, cusum >= 200000 AS alarm
      |FROM r""".stripMargin

  /** Shared truth for the batch AND streaming OHLC forms: open/close by
    * dual row_number windows, deterministic under ties via (tus, id). */
  private val ohlcOracle: String =
    """WITH e AS (SELECT event_type,
      |    epoch_us(ts) // 3600000000 AS hr, epoch_us(ts) AS tus, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY event_type, hr
      |      ORDER BY tus, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, hr
      |      ORDER BY tus DESC, event_id DESC) AS rn_d
      |  FROM e)
      |SELECT event_type, hr,
      |  max(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
      |  max(cents) AS high_cents, min(cents) AS low_cents,
      |  max(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
      |  CAST(count(*) AS BIGINT) AS n_trades,
      |  CAST(sum(cents) AS BIGINT) AS volume_cents
      |FROM r GROUP BY 1, 2""".stripMargin

  /** A registry entry: the DuckDB SQL the driver checks the query against,
    * and the Spark builder that answers it over the parquet tables in `dir`. */
  private final case class Query(oracle: String)(val build: (SparkSession, String) => DataFrame)

  /** One entry per implemented operator from SURVEY.md §2. Rebuilt per
    * call, so a caller that keeps only [[queries]] never holds the oracle
    * text. */
  private def registry: Map[String, Query] = Map(
    // F1 expr-lang filter (reference filter/json/filter.go) compiled through
    // graft.exprs to a Catalyst predicate — pushed down to the parquet scan.
    "q_filter_expr" -> Query(
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type <> 'error' AND value > 100.0""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .transform(operators.FilterOp("event_type != 'error' && value > 100.0"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    },

    // F2 stateless transform (reference transformer/json/transformation.go):
    // full reshape to computed columns, each cast to its declared type.
    "q_transform_expr" -> Query(
      """SELECT event_id,
        |  upper(event_type) AS etype,
        |  CAST(floor(value) AS BIGINT) AS value_int,
        |  event_type || '_' || CAST(user_id AS VARCHAR) AS tag,
        |  user_id % 10 AS uid_bucket,
        |  CASE WHEN value > 100.0 THEN 'high' ELSE 'low' END AS band
        |FROM events""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).transform(operators.TransformOp(Seq(
        operators.TransformOp.Rule("event_id", "event_id", "int64"),
        operators.TransformOp.Rule("upper(event_type)", "etype", "string"),
        operators.TransformOp.Rule("toInt(value)", "value_int", "int64"),
        operators.TransformOp.Rule("event_type + '_' + toString(user_id)", "tag", "string"),
        operators.TransformOp.Rule("user_id % 10", "uid_bucket", "int64"),
        operators.TransformOp.Rule("value > 100.0 ? 'high' : 'low'", "band", "string"))))
    },

    // Full pipeline through the config compiler (the engine's real entry
    // point): reference-style JSON config → filter → windowed dedup →
    // transform chain, exactly the dedup-pod processor order.
    "q_pipeline_e2e" -> Query(
      """WITH RECURSIVE f AS (
        |  SELECT event_id, user_id, event_type, value, epoch_ns(ts) AS ts_ns
        |  FROM events WHERE event_type <> 'error' AND value > 50.0),
        |kept AS (
        |  SELECT user_id, min(ts_ns) AS ts_ns FROM f GROUP BY user_id
        |  UNION ALL
        |  SELECT k.user_id,
        |    (SELECT min(f.ts_ns) FROM f
        |     WHERE f.user_id = k.user_id AND f.ts_ns > k.ts_ns + 3600000000000) AS ts_ns
        |  FROM kept k
        |  WHERE (SELECT min(f.ts_ns) FROM f
        |         WHERE f.user_id = k.user_id AND f.ts_ns > k.ts_ns + 3600000000000) IS NOT NULL)
        |SELECT f.event_id, f.user_id, upper(f.event_type) AS etype,
        |       CAST(floor(f.value) AS BIGINT) AS v
        |FROM kept JOIN f ON f.user_id = kept.user_id AND f.ts_ns = kept.ts_ns""".stripMargin) { (s, dir) =>
      val cfgJson =
        """{
          |  "pipeline_id": "e2e",
          |  "source": { "topics": [ {
          |    "name": "events",
          |    "deduplication": {"enabled": true, "id_field": "user_id",
          |      "time_window": "1h", "time_field": "ts_ns"} } ] },
          |  "filter": { "expression": "event_type != 'error' && value > 50.0" },
          |  "transform": { "rules": [
          |    {"expression": "event_id", "output_name": "event_id", "output_type": "int64"},
          |    {"expression": "user_id", "output_name": "user_id", "output_type": "int64"},
          |    {"expression": "upper(event_type)", "output_name": "etype", "output_type": "string"},
          |    {"expression": "toInt(value)", "output_name": "v", "output_type": "int64"} ] }
          |}""".stripMargin
      val cfg = pipeline.PipelineConfig.fromJson(cfgJson)
      pipeline.PipelineCompiler.batch(cfg, Map("events" -> eventsUsPrecision(s, dir)))
    },

    // A1 exact keyed dedup: deterministic keep-first-by-(ts,id) per key.
    // Partitioned by the dedup key (window shuffle), map-side nothing to
    // combine — same co-location the reference gets from key-hash sharding.
    "q_dedup_exact" -> Query(
      """SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts_ns FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, event_type ORDER BY epoch_ns(ts), event_id) = 1""".stripMargin) { (s, dir) =>
      eventsUsPrecision(s, dir)
        .transform(operators.DedupOp.exact(
          Seq("user_id", "event_type"), Seq(col("ts_ns"), col("event_id"))))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ns"))
    },

    // A1 windowed dedup, reference semantics ("since-last-kept": dropped
    // duplicates don't refresh the TTL window). One shuffle + linear scan.
    "q_dedup_windowed" -> Query(
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id FROM events),
        |kept AS (
        |  SELECT user_id, min(ts_ns) AS ts_ns FROM e GROUP BY user_id
        |  UNION ALL
        |  SELECT k.user_id,
        |    (SELECT min(e.ts_ns) FROM e
        |     WHERE e.user_id = k.user_id AND e.ts_ns > k.ts_ns + 3600000000000) AS ts_ns
        |  FROM kept k
        |  WHERE (SELECT min(e.ts_ns) FROM e
        |         WHERE e.user_id = k.user_id AND e.ts_ns > k.ts_ns + 3600000000000) IS NOT NULL)
        |SELECT e.event_id, e.user_id, e.ts_ns
        |FROM kept JOIN e ON e.user_id = kept.user_id AND e.ts_ns = kept.ts_ns""".stripMargin) { (s, dir) =>
      eventsUsPrecision(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_ns"))
        .transform(operators.DedupOp.windowedBatch(
          Seq("user_id"), "ts_ns", 3600L * 1000000000L, "event_id"))
    },

    // A1 windowed dedup, STREAMING form: the flatMapGroupsWithState
    // since-last-kept operator itself (reference dedup semantics) driven
    // through MemoryStream under the driver gate. Millisecond event-time
    // domain (flatMapGroupsWithState timestamps are ms), so the oracle
    // reruns the recursive since-last-kept scan at ms precision; the
    // event_id tie-break pins the kept row among equal-ms events.
    "q_dedup_windowed_stream" -> Query(
      // Since-last-kept truth at the streaming operator's ms precision; the
      // QUALIFY pins the event_id-min row among equal-ms kept events (the
      // operator's tie-break: first in (ms, event_id) order is kept, the
      // rest fall inside the zero-length window).
      """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events),
        |d AS (SELECT DISTINCT user_id, ts_ms FROM e),
        |kept AS (
        |  SELECT user_id, min(ts_ms) AS ts_ms FROM d GROUP BY user_id
        |  UNION ALL
        |  SELECT k.user_id,
        |    (SELECT min(d.ts_ms) FROM d
        |     WHERE d.user_id = k.user_id AND d.ts_ms > k.ts_ms + 3600000) AS ts_ms
        |  FROM kept k
        |  WHERE (SELECT min(d.ts_ms) FROM d
        |         WHERE d.user_id = k.user_id AND d.ts_ms > k.ts_ms + 3600000) IS NOT NULL)
        |SELECT e.event_id, e.user_id, e.ts_ms
        |FROM kept JOIN e ON e.user_id = kept.user_id AND e.ts_ms = kept.ts_ms
        |QUALIFY row_number() OVER (
        |  PARTITION BY e.user_id, e.ts_ms ORDER BY e.event_id) = 1""".stripMargin) { (s, dir) =>
      val rows = eventsUsPrecision(s, dir)
        .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("tus"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val events = memoryStream[(Long, Long, Long)](s, "event_id", "user_id", "tus")(rows.toSeq)
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("tus")).as("ts"))
      val deduped = operators.DedupOp.windowedStreamingExact(
        Seq("user_id"), "ts", 3600L * 1000, tieBreak = Some("event_id"))(events)
      drainStream(s, "dedup", deduped)
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"))
    },

    // J1 temporal join (batch analog): for each purchase, the LATEST view
    // by the same user within 24h — latest-right-wins, not all-pairs.
    // sortMerge: one shuffle per side, linear pass, no pair blow-up.
    "q_asof_join" -> Query(asofOracle) { (s, dir) =>
      val ev = eventsUsPrecision(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      import operators.AsOfJoin.Projection
      operators.AsOfJoin.sortMerge(
        purchases, views, "user_id", "user_id", "ts_ns", "ts_ns",
        86400L * 1000000000L,
        leftOut = Seq(Projection("event_id", "purchase_id"),
          Projection("user_id", "user_id"),
          Projection("value", "purchase_value"),
          Projection("ts_ns", "purchase_ts")),
        rightOut = Seq(Projection("event_id", "view_id"),
          Projection("value", "view_value")))
    },

    // J1 temporal join, STREAMING form: the flatMapGroupsWithState operator
    // itself (latest-right-wins, left-buffer drain, per-side TTLs —
    // reference join/temporal.go:119-291) driven through MemoryStream and
    // oracle-checked. The collect feeds the in-memory stream only: that is
    // the unavoidable shape of driving a streaming operator from a batch
    // verify harness (production path is the Kafka source).
    "q_temporal_join_stream" -> Query(
      // Streaming temporal join semantics in SQL, processed-in-event-order:
      //  hit  = the LATEST view at-or-before the purchase (ASOF) joins iff
      //         within the right TTL (an expired latest is a miss — the
      //         engine keeps only the latest right per key);
      //  miss = the purchase is buffered and drained by the FIRST later view
      //         (any later view clears the buffer), emitting iff that view
      //         arrives within the left TTL.
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         epoch_ns(ts) // 1000000 AS tms
        |  FROM events),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT * FROM e WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, tms ORDER BY event_id) = 1),
        |hit AS (
        |  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |         p.value AS purchase_value, v.event_id AS view_id, v.value AS view_value
        |  FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.tms <= p.tms
        |  WHERE p.tms - v.tms <= 21600000),
        |drain AS (
        |  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |         p.value AS purchase_value, v.event_id AS view_id, v.value AS view_value,
        |         v.tms AS vtms, p.tms AS ptms
        |  FROM p JOIN v ON v.user_id = p.user_id AND v.tms > p.tms
        |  WHERE p.event_id NOT IN (SELECT purchase_id FROM hit)
        |  QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY v.tms, v.event_id) = 1)
        |SELECT purchase_id, user_id, purchase_value, view_id, view_value FROM hit
        |UNION ALL
        |SELECT purchase_id, user_id, purchase_value, view_id, view_value FROM drain
        |WHERE vtms - ptms <= 21600000""".stripMargin) { (s, dir) =>
      val ttlMs = 6L * 3600 * 1000
      // millisecond event time: flatMapGroupsWithState timestamps are ms,
      // so the oracle must share that truncation. ONE scan feeds both
      // sides; the per-(user, ms) right dedup (equal-timestamp rights would
      // make latest-right-wins depend on arrival order) happens on the
      // collected feed — this collect exists only to drive MemoryStream.
      val rows = eventsUsPrecision(s, dir)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), col("user_id"), col("value"),
          expr("ts_ns div 1000000").as("tms"), col("event_type"))
        .collect()
      val purchases = rows.filter(_.getString(4) == "purchase")
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val views = rows.filter(_.getString(4) == "view")
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .groupBy(t => (t._2, t._4)).map(_._2.minBy(_._1)).toSeq
      def feed(data: Seq[(Long, Long, Double, Long)]): DataFrame =
        memoryStream[(Long, Long, Double, Long)](s, "event_id", "user_id", "value", "tms")(data)
          .withColumn("ts", timestamp_millis(col("tms")))
      import operators.AsOfJoin.Projection
      val joined = operators.TemporalJoin(feed(purchases.toSeq), feed(views),
        operators.TemporalJoin.Config(
          leftKey = "user_id", rightKey = "user_id",
          leftTs = "ts", rightTs = "ts",
          leftTtlMs = ttlMs, rightTtlMs = ttlMs,
          leftOut = Seq(Projection("event_id", "purchase_id"),
            Projection("user_id", "user_id"),
            Projection("value", "purchase_value")),
          rightOut = Seq(Projection("event_id", "view_id"),
            Projection("value", "view_value"))))
      // every event arrives in micro-batch 0 (single addData per side) and
      // fMGWS Append emits in the data batch, so trailing no-data
      // watermark batches add only WAL/commit latency
      drainStream(s, "tjoin", joined, noDataBatches = false)
    },

    // F4 OTLP logs flattener: build an ExportLogsServiceRequest-shaped
    // nested row per event, then explode it back flat. The oracle checks the
    // flatten inverts the construction exactly (attr maps, ns→RFC3339).
    "q_otlp_flatten" -> Query(
      """SELECT
        |  strftime(ts::TIMESTAMP, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS timestamp,
        |  9 AS severity_number,
        |  upper(event_type) AS severity_text,
        |  props AS body,
        |  '{"user":"' || user_id::VARCHAR || '"}' AS resource_attributes,
        |  '{"event":"' || event_id::VARCHAR || '"}' AS attributes,
        |  'graft' AS scope_name,
        |  '1.0' AS scope_version
        |FROM events""".stripMargin) { (s, dir) =>
      def anyVal(c: Column) = struct(c.cast("string").as("stringValue"))
      def kv(k: String, c: Column) =
        struct(lit(k).as("key"), anyVal(c).as("value"))
      val nested = eventsUsPrecision(s, dir).select(array(struct(
        struct(array(kv("user", col("user_id"))).as("attributes")).as("resource"),
        array(struct(
          struct(lit("graft").as("name"), lit("1.0").as("version")).as("scope"),
          array(struct(
            col("ts_ns").cast("string").as("timeUnixNano"),
            lit(9L).as("severityNumber"),
            upper(col("event_type")).as("severityText"),
            struct(col("props").as("stringValue")).as("body"),
            array(kv("event", col("event_id"))).as("attributes")
          )).as("logRecords")
        )).as("scopeLogs")
      )).as("resourceLogs"))
      operators.OtlpFlatten.logs(nested)
        .select(col("timestamp"), col("severity_number"), col("severity_text"),
          col("body"),
          operators.OtlpFlatten.attrsJson(col("resource_attributes")).as("resource_attributes"),
          operators.OtlpFlatten.attrsJson(col("attributes")).as("attributes"),
          col("scope_name"), col("scope_version"))
    },

    // F5 OTLP traces flattener: nested span per event, exploded back flat;
    // duration computed from exact ns ints; trace ids lowercased.
    "q_otlp_traces" -> Query(
      """SELECT
        |  lower('T' || event_id) AS trace_id,
        |  lower('S' || event_id) AS span_id,
        |  event_type AS name,
        |  strftime(ts::TIMESTAMP, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS start_timestamp,
        |  CAST(floor(value * 1000000) AS BIGINT) AS duration_ns,
        |  'tracer' AS scope_name,
        |  '2.0' AS scope_version
        |FROM events""".stripMargin) { (s, dir) =>
      val nested = eventsUsPrecision(s, dir).select(array(struct(
        struct(array(struct(lit("svc").as("key"),
          struct(lit("api").as("stringValue")).as("value"))).as("attributes")).as("resource"),
        array(struct(
          struct(lit("tracer").as("name"), lit("2.0").as("version")).as("scope"),
          array(struct(
            concat(lit("T"), col("event_id")).as("traceId"),
            concat(lit("S"), col("event_id")).as("spanId"),
            col("event_type").as("name"),
            col("ts_ns").cast("string").as("startTimeUnixNano"),
            (col("ts_ns") + floor(col("value") * 1000000).cast("long"))
              .cast("string").as("endTimeUnixNano")
          )).as("spans")
        )).as("scopeSpans")
      )).as("resourceSpans"))
      operators.OtlpFlatten.traces(nested)
        .select(col("trace_id"), col("span_id"), col("name"),
          col("start_timestamp"), col("duration_ns"), col("scope_name"),
          col("scope_version"))
    },

    // F6 OTLP metrics flattener: a gauge/sum/histogram/exp-histogram/summary
    // MIX (event_id % 5 picks the type), with per-data-point attributes and
    // flags — the full reference surface (flattener/metrics.go stamps
    // dp attributes + flags on every point; summaries surface count/sum,
    // quantiles dropped like the reference's model).
    "q_otlp_metrics" -> Query(
      """SELECT
        |  strftime(ts::TIMESTAMP, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS timestamp,
        |  strftime((ts - INTERVAL 1 SECOND)::TIMESTAMP, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS start_timestamp,
        |  'evt_' || event_type AS metric_name,
        |  'synthetic metric' AS metric_description,
        |  '1' AS metric_unit,
        |  CASE event_id % 5 WHEN 0 THEN 'gauge' WHEN 1 THEN 'sum'
        |    WHEN 2 THEN 'histogram' WHEN 3 THEN 'exp_histogram'
        |    ELSE 'summary' END AS metric_type,
        |  CASE event_id % 5 WHEN 1 THEN 'DELTA' WHEN 2 THEN 'CUMULATIVE'
        |    WHEN 3 THEN 'DELTA' ELSE 'UNSPECIFIED' END AS aggregation_temporality,
        |  event_id % 5 = 1 AS is_monotonic,
        |  event_id % 4 AS flags,
        |  CASE WHEN event_id % 5 = 0 THEN value END AS value_double,
        |  CASE WHEN event_id % 5 = 1 THEN user_id END AS value_int,
        |  CASE event_id % 5 WHEN 2 THEN user_id % 100 WHEN 3 THEN user_id % 50
        |    WHEN 4 THEN user_id % 10 END AS "count",
        |  CASE WHEN event_id % 5 IN (2, 3, 4) THEN value END AS "sum",
        |  CASE event_id % 5 WHEN 2 THEN value - 1.0 WHEN 3 THEN value END AS "min",
        |  CASE event_id % 5 WHEN 2 THEN value + 1.0 WHEN 3 THEN value END AS "max",
        |  CASE WHEN event_id % 5 = 2
        |    THEN '[' || (event_id % 3)::VARCHAR || ',7,2]' END AS bucket_counts,
        |  CASE WHEN event_id % 5 = 2 THEN '[0.5,2.5]' END AS explicit_bounds,
        |  '{"host":"' || user_id::VARCHAR || '"}' AS resource_attributes,
        |  'meter' AS scope_name,
        |  '3.1' AS scope_version,
        |  '{"et":"' || event_type || '"}' AS attributes
        |FROM events""".stripMargin) { (s, dir) =>
      val branch = col("event_id") % 5
      val nullD = lit(null).cast("double"); val nullL = lit(null).cast("long")
      val nullAL = lit(null).cast("array<long>")
      val nullAD = lit(null).cast("array<double>")
      // every branch's dataPoints share one struct shape (unused value
      // fields null) so the flattener's unionByName merges trivially
      def dps(asDouble: Column, asInt: Column, cnt: Column, sm: Column,
              mn: Column, mx: Column, buckets: Column, bounds: Column) =
        array(struct(
          col("ts_ns").cast("string").as("timeUnixNano"),
          (col("ts_ns") - lit(1000000000L)).cast("string").as("startTimeUnixNano"),
          (col("event_id") % 4).cast("int").as("flags"),
          array(struct(lit("et").as("key"),
            struct(col("event_type").as("stringValue")).as("value"))).as("attributes"),
          asDouble.as("asDouble"), asInt.as("asInt"),
          cnt.as("count"), sm.as("sum"), mn.as("min"), mx.as("max"),
          buckets.as("bucketCounts"), bounds.as("explicitBounds")
        )).as("dataPoints")
      val nested = eventsUsPrecision(s, dir).select(array(struct(
        struct(array(struct(lit("host").as("key"),
          struct(col("user_id").cast("string").as("stringValue")).as("value")))
          .as("attributes")).as("resource"),
        array(struct(
          struct(lit("meter").as("name"), lit("3.1").as("version")).as("scope"),
          array(struct(
            concat(lit("evt_"), col("event_type")).as("name"),
            lit("1").as("unit"),
            lit("synthetic metric").as("description"),
            when(branch === 0, struct(
              dps(col("value"), nullL, nullL, nullD, nullD, nullD, nullAL, nullAD))).as("gauge"),
            when(branch === 1, struct(
              dps(nullD, col("user_id").cast("long"), nullL, nullD, nullD, nullD, nullAL, nullAD),
              lit(1).as("aggregationTemporality"), lit(true).as("isMonotonic"))).as("sum"),
            when(branch === 2, struct(
              dps(nullD, nullL, (col("user_id") % 100).cast("long"), col("value"),
                col("value") - 1.0d, col("value") + 1.0d,
                array((col("event_id") % 3).cast("long"), lit(7L), lit(2L)),
                array(lit(0.5d), lit(2.5d))),
              lit(2).as("aggregationTemporality"))).as("histogram"),
            when(branch === 3, struct(
              dps(nullD, nullL, (col("user_id") % 50).cast("long"), col("value"),
                col("value"), col("value"), nullAL, nullAD),
              lit(1).as("aggregationTemporality"))).as("exponentialHistogram"),
            when(branch === 4, struct(
              dps(nullD, nullL, (col("user_id") % 10).cast("long"), col("value"),
                nullD, nullD, nullAL, nullAD))).as("summary")
          )).as("metrics")
        )).as("scopeMetrics")
      )).as("resourceMetrics"))
      operators.OtlpFlatten.metrics(nested)
        .select(col("timestamp"), col("start_timestamp"),
          col("metric_name"), col("metric_description"), col("metric_unit"),
          col("metric_type"), col("aggregation_temporality"),
          col("is_monotonic"), col("flags"),
          col("value_double"), col("value_int"),
          col("count"), col("sum"), col("min"), col("max"),
          to_json(col("bucketCounts")).as("bucket_counts"),
          to_json(col("explicitBounds")).as("explicit_bounds"),
          operators.OtlpFlatten.attrsJson(col("resource_attributes")).as("resource_attributes"),
          col("scope_name"), col("scope_version"),
          operators.OtlpFlatten.attrsJson(col("attributes")).as("attributes"))
    },

    // T1/T2 sink field mapper + ClickHouse conversion matrix
    // (reference mapper/mapper.go + mapper/types.go): JSON extraction,
    // range-checked narrowing, float-secs→DateTime, LowCardinality target.
    "q_sink_typecast" -> Query(
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k": (\d+)', 1) AS TINYINT) AS k8,
        |  strftime(epoch_ms(CAST(floor(value) AS BIGINT) * 1000), '%Y-%m-%d %H:%M:%S') AS dt,
        |  event_type AS name
        |FROM events""".stripMargin) { (s, dir) =>
      import graft.sink.SinkMapper
      import graft.sink.SinkMapper.ColumnMapping
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .transform(SinkMapper(Seq(
          ColumnMapping("event_id", "event_id", "Int64"),
          ColumnMapping("k", "k8", "Int8"),
          ColumnMapping("value", "dt", "DateTime"),
          ColumnMapping("event_type", "name", "LowCardinality(String)"))))
        .withColumn("dt", date_format(col("dt"), "yyyy-MM-dd HH:mm:ss"))
    },

    // T2 extension — IPv4 validation gate and Tuple struct conversion
    // (the beyond-reference sink types): the IPv4 branch of the cast
    // matrix passes a valid dotted quad through and yields the NULL error
    // marker for an out-of-range octet; the Tuple branch converts a Spark
    // struct positionally and renames fields to the target element names.
    "q_sink_ip_tuple" -> Query(
      """SELECT event_id,
        |  CASE WHEN (user_id % 300) <= 255
        |       THEN (user_id % 300)::VARCHAR || '.10.' || (event_id % 256)::VARCHAR || '.1'
        |  END AS ip,
        |  event_type AS label, user_id AS uid
        |FROM events""".stripMargin) { (s, dir) =>
      import graft.sink.SinkMapper
      import graft.sink.SinkMapper.ColumnMapping
      Tables.events(s, dir)
        // octet domain 0..299: values 256..299 must gate to NULL
        .withColumn("ip", concat_ws(".", col("user_id") % 300, lit(10),
          col("event_id") % 256, lit(1)))
        .withColumn("pair", struct(col("event_type"), col("user_id")))
        .transform(SinkMapper(Seq(
          ColumnMapping("event_id", "event_id", "Int64"),
          ColumnMapping("ip", "ip", "IPv4"),
          ColumnMapping("pair", "pair", "Tuple(label String, uid Int64)"))))
        .select(col("event_id"), col("ip"),
          col("pair.label").as("label"), col("pair.uid").as("uid"))
    },

    // ClickHouse write→read ROUND TRIP over real loopback HTTP (beyond
    // the reference, which only writes): events INSERTed through the
    // sink's FORMAT Native leg into a type-validating fixture, read back
    // through the graft-clickhouse DSv2 source with the filter PUSHED
    // into the server-side WHERE and the projection into the SELECT list
    // — the oracle proves two wire crossings (client encode → server
    // decode → server encode → client decode) are value-stable. The
    // result is materialized (persist+count) while the fixture lives;
    // the fixture then stops before the frame is returned.
    "q_ch_roundtrip" -> Query(
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE value > 50.0 AND event_type <> 'error'""".stripMargin) { (s, dir) =>
      import graft.sink.{ClickHouseSink, SinkMapper}
      withCh { ch =>
      val cols = Seq("event_id" -> "Int64", "user_id" -> "Int64",
        "event_type" -> "LowCardinality(String)", "value" -> "Float64")
      ch.createTable("default", "events_rt", cols)
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "events_rt",
        mappings = cols.map { case (n, t) => SinkMapper.ColumnMapping(n, n, t) },
        httpFormat = "Native"))(
        Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"))
      val back = s.read.format("graft-clickhouse")
        .option("url", ch.endpoint).option("database", "default")
        .option("table", "events_rt").load()
        .filter(col("value") > 50.0 && col("event_type") =!= "error")
        val cached = back.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached.count()
        cached
      }
    },

    // ClickHouse AGGREGATE PUSHDOWN under the oracle: the whole
    // GROUP BY + count/min/max/sum/avg runs SERVER-side (DSv2
    // SupportsPushDownAggregates compiles it into the query; single
    // partition → complete pushdown, Spark plans no partial aggregate)
    // and the returned aggregate rows must hash-match DuckDB running the
    // same aggregation over the parquet truth.
    "q_ch_agg_pushdown" -> Query(
      """SELECT event_type, count(*) AS n, min(value) AS min_v,
        |  max(value) AS max_v, CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  round(avg(value), 2) AS avg_v
        |FROM events WHERE value > 25.0 GROUP BY event_type""".stripMargin) { (s, dir) =>
      import graft.sink.{ClickHouseSink, SinkMapper}
      withCh { ch =>
      val cols = Seq("event_id" -> "Int64", "user_id" -> "Int64",
        "event_type" -> "LowCardinality(String)", "value" -> "Float64")
      ch.createTable("default", "events_agg", cols)
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "events_agg",
        mappings = cols.map { case (n, t) => SinkMapper.ColumnMapping(n, n, t) },
        httpFormat = "Native"))(
        Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"))
      val back = s.read.format("graft-clickhouse")
        .option("url", ch.endpoint).option("database", "default")
        .option("table", "events_agg").load()
        .filter(col("value") > 25.0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
          max(col("value")).as("max_v"), sum(col("user_id")).as("sum_uid"),
          round(avg(col("value")), 2).as("avg_v"))
        val cached = back.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached.count()
        cached
      }
    },

    // ClickHouse TopN pushdown under the oracle: ORDER BY + LIMIT run
    // server-side (the scan ships 50 rows, not the table); the unique
    // (value DESC, event_id ASC) key makes the top-50 SET deterministic,
    // so the hash compare is exact.
    "q_ch_topn" -> Query(
      """SELECT event_id, user_id, value FROM events
        |ORDER BY value DESC, event_id ASC LIMIT 50""".stripMargin) { (s, dir) =>
      import graft.sink.{ClickHouseSink, SinkMapper}
      withCh { ch =>
      val cols = Seq("event_id" -> "Int64", "user_id" -> "Int64",
        "value" -> "Float64")
      ch.createTable("default", "events_top", cols)
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "events_top",
        mappings = cols.map { case (n, t) => SinkMapper.ColumnMapping(n, n, t) },
        httpFormat = "Native"))(
        Tables.events(s, dir).select("event_id", "user_id", "value"))
      val back = s.read.format("graft-clickhouse")
        .option("url", ch.endpoint).option("database", "default")
        .option("table", "events_top").load()
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(50)
        val cached = back.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached.count()
        cached
      }
    },

    // ClickHouse PARTIAL aggregate pushdown under the oracle: a
    // stride-partitioned scan (4 independent range SELECTs) pushes a
    // per-range GROUP BY — each partition answers only its LOCAL
    // aggregate, so Spark's partial-merge (count=sum of counts, min of
    // mins, ...) must reassemble the global truth — then the merged
    // result joins a broadcast parquet-side dimension. Hash-matching
    // DuckDB over the parquet truth proves the split/merge loses nothing.
    "q_ch_agg_partial" -> Query(
      """SELECT event_type, count(*) AS n, min(value) AS min_v,
        |  max(value) AS max_v, CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events
        |GROUP BY event_type
        |HAVING event_type <> 'error'""".stripMargin) { (s, dir) =>
      import graft.sink.{ClickHouseSink, SinkMapper}
      withCh { ch =>
      val cols = Seq("event_id" -> "Int64", "user_id" -> "Int64",
        "event_type" -> "LowCardinality(String)", "value" -> "Float64")
      ch.createTable("default", "events_part", cols)
      val src = Tables.events(s, dir).select("event_id", "user_id", "event_type", "value")
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "events_part",
        mappings = cols.map { case (n, t) => SinkMapper.ColumnMapping(n, n, t) },
        httpFormat = "Native"))(src)
      val maxId = src.agg(max("event_id")).head.getLong(0)
      val back = s.read.format("graft-clickhouse")
        .option("url", ch.endpoint).option("database", "default")
        .option("table", "events_part")
        .option("partitionColumn", "event_id")
        .option("lowerBound", "0").option("upperBound", maxId.toString)
        .option("numPartitions", "4")
        .load()
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
          max(col("value")).as("max_v"), sum(col("user_id")).as("sum_uid"))
      val dim = Tables.events(s, dir).select(col("event_type")).distinct()
        .filter(col("event_type") =!= "error")
      val joined = back.join(broadcast(dim), Seq("event_type"))
        val cached = joined.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached.count()
        cached
      }
    },

    // PURE native-TCP round trip (r12 stretch): the sink INSERTs through
    // the tcp:// leg (framed blocks on one socket per partition) and the
    // read source scans back over the SAME protocol — DESCRIBE, filter
    // pushdown (incl. an IN list) and the block decode all ride the
    // native wire with no HTTP side-channel anywhere in the query.
    // r13: with native LZ4 COMPRESSION on both directions
    // (CityHash128-checksummed frames) — the wire-bandwidth lever at
    // 100 TB, proven value-exact here by the DuckDB hash compare.
    "q_ch_tcp_roundtrip" -> Query(
      """SELECT event_id, user_id, value FROM events
        |WHERE value > 60.0 AND event_type IN ('click', 'view')""".stripMargin) { (s, dir) =>
      import graft.sink.{ClickHouseSink, MiniClickHouseTcpServer, SinkMapper}
      withCh { ch =>
        val tcp = new MiniClickHouseTcpServer(ch)
        tcp.start()
        try {
          val cols = Seq("event_id" -> "Int64", "user_id" -> "Int64",
            "event_type" -> "LowCardinality(String)", "value" -> "Float64")
          ch.createTable("default", "events_tcp", cols)
          ClickHouseSink.writeBatch(ClickHouseSink.Config(
            url = tcp.endpoint, database = "default", table = "events_tcp",
            tcpCompress = true,
            mappings = cols.map { case (n, t) => SinkMapper.ColumnMapping(n, n, t) }))(
            Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"))
          val back = s.read.format("graft-clickhouse")
            .option("url", tcp.endpoint).option("database", "default")
            .option("table", "events_tcp").option("compress", "lz4").load()
            .filter(col("value") > 60.0 && col("event_type").isin("click", "view"))
            .select("event_id", "user_id", "value")
          val cached = back.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          cached.count()
          cached
        } finally tcp.stop()
      }
    },

    // TIME-RANGE scan pushdown under the oracle — THE canonical filter
    // over a telemetry table: both bounds compile into the server WHERE
    // as tz-unambiguous epoch literals (fromUnixTimestamp64Micro), so at
    // scale the scan is primary-key-index-pruned server-side instead of
    // shipping the full table extent for Spark to filter. Hash-matching
    // DuckDB's TIMESTAMP-literal range over the parquet truth proves the
    // pushed bounds select exactly the right rows (microsecond-exact
    // through the DateTime64(6) write + read round trip).
    "q_ch_time_scan" -> Query(
      """SELECT event_id, ts, user_id, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-22 00:00:00'""".stripMargin) { (s, dir) =>
      import graft.sink.{ClickHouseSink, SinkMapper}
      withCh { ch =>
        val cols = Seq("event_id" -> "Int64", "ts" -> "DateTime64(6)",
          "user_id" -> "Int64", "value" -> "Float64")
        ch.createTable("default", "events_time", cols)
        ClickHouseSink.writeBatch(ClickHouseSink.Config(
          url = ch.endpoint, database = "default", table = "events_time",
          mappings = cols.map { case (n, t) => SinkMapper.ColumnMapping(n, n, t) },
          httpFormat = "Native"))(
          Tables.events(s, dir).select("event_id", "ts", "user_id", "value"))
        val back = s.read.format("graft-clickhouse")
          .option("url", ch.endpoint).option("database", "default")
          .option("table", "events_time").load()
          .filter(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
                  col("ts") < lit("2024-01-22 00:00:00").cast("timestamp"))
          .select("event_id", "ts", "user_id", "value")
        val cached = back.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached.count()
        cached
      }
    },

    // F3 versioned transform router: per-schema-version rule sets unioned
    // into one plan (version predicate reaches the scan on each branch).
    "q_versioned_transform" -> Query(
      """SELECT
        |  CASE WHEN user_id % 2 = 0 THEN 'v1' ELSE 'v2' END AS ver,
        |  event_id,
        |  CASE WHEN user_id % 2 = 0 THEN upper(event_type) ELSE lower(event_type) END AS label,
        |  CASE WHEN user_id % 2 = 0 THEN CAST(floor(value) AS BIGINT) ELSE user_id END AS metric
        |FROM events""".stripMargin) { (s, dir) =>
      import operators.{TransformOp, VersionedTransform}
      val df = Tables.events(s, dir)
        .withColumn("ver", when(col("user_id") % 2 === 0, "v1").otherwise("v2"))
      df.transform(VersionedTransform("ver", Map(
        "v1" -> Seq(
          TransformOp.Rule("event_id", "event_id", "int64"),
          TransformOp.Rule("upper(event_type)", "label", "string"),
          TransformOp.Rule("toInt(value)", "metric", "int64")),
        "v2" -> Seq(
          TransformOp.Rule("event_id", "event_id", "int64"),
          TransformOp.Rule("lower(event_type)", "label", "string"),
          TransformOp.Rule("user_id", "metric", "int64")))))
    },

    // §2.6 stdlib sweep: several expr-lang functions through the compiler
    // in one projection (all codegen'd string expressions).
    "q_expr_stdlib" -> Query(
      """SELECT doc_id,
        |  upper(lang) AS lang_u,
        |  replace(source, 'src', 'origin_') AS origin,
        |  CASE WHEN contains(text, 'spark') THEN 'y' ELSE 'n' END AS has_spark,
        |  length(text) AS n,
        |  array_to_string(string_split(source, 'rc'), '|') AS parts,
        |  starts_with(source, 'src') AND lang IN ('en', 'es') AS flagged
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).transform(operators.TransformOp(Seq(
        operators.TransformOp.Rule("doc_id", "doc_id", "int64"),
        operators.TransformOp.Rule("upper(lang)", "lang_u", "string"),
        operators.TransformOp.Rule("replace(source, 'src', 'origin_')", "origin", "string"),
        operators.TransformOp.Rule("containsStr(text, 'spark') ? 'y' : 'n'", "has_spark", "string"),
        operators.TransformOp.Rule("len(text)", "n", "int64"),
        operators.TransformOp.Rule("join(split(source, 'rc'), '|')", "parts", "string"),
        operators.TransformOp.Rule("hasPrefix(source, 'src') && lang in ['en', 'es']", "flagged", "bool"))))
    },

    // Beyond-reference statistics aggregation: stddev + exact interpolated
    // median per group (partial aggregation before the 1-key shuffle).
    "q_agg_stats" -> Query(
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 2) AS sd_qty,
        |  quantile_disc(l_extendedprice, 0.5) AS median_price,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
          // discrete median: an actual element value — interpolated medians
          // ((a+b)/2) can land exactly on round-half boundaries where the
          // two engines' last-ulp arithmetic disagrees
          expr("percentile_approx(l_extendedprice, 0.5, 1000000)").as("median_price"),
          round(min(col("l_extendedprice")), 2).as("min_price"),
          round(max(col("l_extendedprice")), 2).as("max_price"))
    },

    // Approximate distinct counting (HyperLogLog++) across three
    // cardinality regimes, held to its error contract: the estimate is
    // deterministic for a given dataset (hash-based, no RNG), so the oracle
    // pins the exact distinct counts and asserts |est − exact| ≤ 5·rsd·exact
    // as constants-on-truth — the same guarantee-assertion pattern as
    // q_heavy_hitters_approx. The scale story is the point: count(distinct)
    // shuffles every distinct value; the sketch is a fixed few KB per
    // partition merged map-side.
    "q_approx_distinct" -> Query(
      // Exact distinct counts as truth; the estimate-quality booleans are
      // guarantee constants (the estimator is deterministic on fixed data).
      """SELECT
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT CAST(user_id AS VARCHAR) || '|' || event_type) AS n_pairs,
        |  count(DISTINCT event_id) AS n_ids,
        |  TRUE AS users_ok, TRUE AS pairs_ok, TRUE AS ids_ok
        |FROM events""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val pair = concat_ws("|", col("user_id"), col("event_type"))
      val agg = ev.agg(
        approx_count_distinct(col("user_id"), 0.02).as("est_users"),
        approx_count_distinct(pair, 0.02).as("est_pairs"),
        approx_count_distinct(col("event_id"), 0.02).as("est_ids"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(pair).as("n_pairs"),
        countDistinct(col("event_id")).as("n_ids"))
      def ok(est: Column, exact: Column): Column =
        abs(est - exact) <= lit(0.10) * exact
      agg.select(col("n_users"), col("n_pairs"), col("n_ids"),
        ok(col("est_users"), col("n_users")).as("users_ok"),
        ok(col("est_pairs"), col("n_pairs")).as("pairs_ok"),
        ok(col("est_ids"), col("n_ids")).as("ids_ok"))
    },

    // Event sessionization (batch form of the streaming session_window
    // operator — see Sessionize.streaming + StreamingSpec parity): 12h
    // inactivity gap per user, exact-cents value totals. One shuffle by
    // user_id; a 100 TB clickstream backfill runs the identical plan.
    "q_sessionize" -> Query(
      // Gaps-and-islands sessionization: diff >= gap splits (the session_window
      // [start, start+gap) rule). Value totals as exact cents so the double-sum
      // ordering nondeterminism never reaches the hash compare. The STREAMING
      // form is held to the identical oracle — batch and stream must agree.
      sessionizeOracle) { (s, dir) =>
      operators.Sessionize.batch(
        Tables.events(s, dir).select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", 12L * 3600 * 1000000, valueCol = Some("value"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("value_cents"), col("duration_us"))
    },

    // Sessionization, STREAMING form: the native session_window stateful
    // operator itself, driven through MemoryStream (the same harness shape
    // as q_temporal_join_stream) and held to the SAME oracle as the batch
    // form — proving the two paths agree under the driver gate, not just in
    // the spec. All real events arrive in micro-batch 0 (no late drops); a
    // far-future sentinel in batch 1 advances the watermark past every real
    // session's close; the sentinel's own session never closes, so it never
    // emits.
    "q_sessionize_stream" -> Query(sessionizeOracle) { (s, dir) =>
      val gapUs = 12L * 3600 * 1000000
      val rows = eventsUsPrecision(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"), col("value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val maxTus = rows.map(_._2).max
      val events = memoryStream[(Long, Long, Double)](s, "user_id", "tus", "value")(
        rows.toSeq, Seq((-1L, maxTus + 3 * gapUs, 0.0))) // watermark sentinel
        .select(col("user_id"), timestamp_micros(col("tus")).as("ts"), col("value"))
      val sessions = operators.Sessionize.streaming(
        events, "user_id", "ts", "12 hours", "0 seconds", valueCol = Some("value"))
      drainStream(s, "sess", sessions).filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("value_cents"), col("duration_us"))
    },

    // ---- training-data ops over documents/embeddings ----

    // Text analysis: token counts, fingerprint, word stats — all codegen'd
    // scan-projection, zero extra passes.
    "q_text_stats" -> Query(
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  length(text) AS len_chars,
        |  CAST((list_aggregate(list_transform(string_split_regex(trim(text), '\s+'),
        |        x -> length(x)), 'sum') * 100)
        |    // len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS awl_x100,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      Tables.documents(s, dir).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len_chars"),
        avgWordLenX100(col("text")).as("awl_x100"),
        fingerprint(col("text")).as("fp"))
    },

    // Text cleaning: Unicode NFC + control-strip + whitespace collapse, all
    // codegen'd in the scan projection. The corpus is ASCII, so each doc is
    // suffixed with decomposed accents and control bytes to force the
    // non-identity path; the oracle recomputes with DuckDB's own
    // nfc_normalize. ASCII fast-path identity is proven by fp_clean ==
    // fingerprint of the raw text's own cleaning on the unsuffixed corpus.
    "q_text_normalize" -> Query(
      // DuckDB's own nfc_normalize recomputes the cleaning pass; the suffix is
      // rebuilt from chr() codepoints (decomposed accents + control bytes).
      // After the control sweep only 0x20 remains as whitespace, so ' +'
      // collapse ≡ collapse_ws.
      """WITH m AS (SELECT doc_id, text,
        |    text || ' Cafe' || chr(769) || ' ' || chr(7) || 'del' || chr(127)
        |         || 'tab' || chr(9) || 'here A' || chr(778) || 'a ' AS messy
        |  FROM documents),
        |c AS (SELECT doc_id, text, messy,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(messy),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS clean_text,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS clean_raw
        |  FROM m)
        |SELECT doc_id, clean_text,
        |  length(messy) AS n_chars_raw,
        |  length(clean_text) AS n_chars_clean,
        |  clean_raw = text AS ascii_identity
        |FROM c""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      val messy = concat(col("text"),
        lit(" Cafe\u0301 \u0007del\u007Ftab\there A\u030Aa "))
      Tables.documents(s, dir).select(col("doc_id"),
        cleanText(messy).as("clean_text"),
        length(messy).as("n_chars_raw"),
        length(cleanText(messy)).as("n_chars_clean"),
        (cleanText(col("text")) === col("text")).as("ascii_identity"))
    },

    // URL extraction + domain blocklist (the C4-style curation step). The
    // corpus has no URLs, so each doc gets one injected (domain varies by
    // doc_id); the query must find it in running text, parse host and
    // registered domain, and apply the blocklist — all scan-local regexes.
    "q_url_ops" -> Query(
      """WITH b AS (
        |  SELECT doc_id,
        |    text || ' see https://www.site' || CAST(doc_id % 50 AS VARCHAR)
        |         || '.org/p/' || CAST(doc_id AS VARCHAR)
        |         || '?ref=x and https://cdn.shop' || CAST(doc_id % 20 AS VARCHAR)
        |         || '.co.uk/a/' || CAST(doc_id AS VARCHAR) || ' for more' AS body
        |  FROM documents),
        |u AS (SELECT doc_id, body,
        |    regexp_extract_all(body, 'https?://[^\s]+')[1] AS url FROM b),
        |h AS (SELECT doc_id, url,
        |    regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
        |    regexp_extract(regexp_extract_all(body, 'https?://[^\s]+')[2],
        |      '^https?://([^/?#]+)', 1) AS host2
        |  FROM u)
        |SELECT doc_id, url, host,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |    IN ('site0.org','site1.org','site2.org','site3.org','site4.org') AS blocked,
        |  CASE WHEN regexp_extract(host2, '([^.]+\.[^.]+)$', 1) = 'co.uk'
        |       THEN regexp_extract(host2, '([^.]+\.[^.]+\.[^.]+)$', 1)
        |       ELSE regexp_extract(host2, '([^.]+\.[^.]+)$', 1) END AS domain2
        |FROM h""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      val withUrl = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" see https://www.site"),
          pmod(col("doc_id"), lit(50)), lit(".org/p/"), col("doc_id"),
          lit("?ref=x and https://cdn.shop"), pmod(col("doc_id"), lit(20)),
          lit(".co.uk/a/"), col("doc_id"), lit(" for more")).as("body"))
      val url = element_at(extractUrls(col("body")), 1)
      val host = urlHost(url)
      val domain = registeredDomain(host)
      // second URL sits under a multi-label public suffix — registered
      // domain must be shopN.co.uk (three labels), not co.uk
      val host2 = urlHost(element_at(extractUrls(col("body")), 2))
      withUrl.select(col("doc_id"), url.as("url"), host.as("host"),
        domain.as("domain"),
        domain.isin((0 until 5).map(i => s"site$i.org"): _*).as("blocked"),
        registeredDomain(host2).as("domain2"))
    },

    // Spatial radius self-join via uniform grid cells: all point pairs
    // within 20k micro-degrees — candidates meet in a HASH join on cell
    // id (3×3 neighborhood replication of the smaller-id side, each pair
    // exactly once by construction) instead of the all-pairs cross
    // product a raw distance predicate plans to. Squared-distance
    // verification in pure int64 — no sqrt, no float.
    "q_spatial_join" -> Query(
      // Exhaustive all-pairs scan — a grid-cell candidate miss goes red.
      """WITH p AS (SELECT event_id AS id,
        |    (event_id * 2654435761) % 1000000 AS x,
        |    (event_id * 40503 + 7919) % 1000000 AS y
        |  FROM events WHERE event_id % 5 = 0)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |      <= 400000000""".stripMargin) { (s, dir) =>
      val pts = Tables.events(s, dir)
        .filter(expr("event_id % 5 = 0"))
        .select(col("event_id").as("id"),
          expr("(event_id * 2654435761) % 1000000").as("x"),
          expr("(event_id * 40503 + 7919) % 1000000").as("y"))
      graft.operators.SpatialJoin.radiusPairs(
        pts, "id", "x", "y", radius = 20000L, cellWidth = 20000L)
    },

    // Nearest neighbor within radius: the radiusPairs candidates
    // symmetrized, then ONE partial-agg'd min-struct per point — nearest
    // partner with deterministic (dist², id) tie-break, never a per-point
    // sort. The grid join bounds the work; points with no neighbor in
    // range simply have no row (the semantics of a radius-bounded NN).
    "q_spatial_nn" -> Query(
      // Exhaustive directed pair scan, nearest by (dist², id).
      """WITH p AS (SELECT event_id AS id,
        |    (event_id * 2654435761) % 1000000 AS x,
        |    (event_id * 40503 + 7919) % 1000000 AS y
        |  FROM events WHERE event_id % 5 = 0),
        |pr AS (SELECT a.id AS id, b.id AS nbr,
        |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |  FROM p a JOIN p b ON a.id <> b.id
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |        <= 400000000)
        |SELECT id, nbr AS nearest_id, dist2
        |FROM pr
        |QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist2, nbr) = 1"""
        .stripMargin) { (s, dir) =>
      val pts = Tables.events(s, dir)
        .filter(expr("event_id % 5 = 0"))
        .select(col("event_id").as("id"),
          expr("(event_id * 2654435761) % 1000000").as("x"),
          expr("(event_id * 40503 + 7919) % 1000000").as("y"))
      val pairs = graft.operators.SpatialJoin.radiusPairs(
        pts, "id", "x", "y", radius = 20000L, cellWidth = 20000L)
      pairs.select(col("a_id").as("id"), col("b_id").as("nbr"), col("dist2"))
        .union(pairs.select(col("b_id"), col("a_id"), col("dist2")))
        .groupBy(col("id"))
        .agg(min(struct(col("dist2"), col("nbr"))).as("m"))
        .select(col("id"), col("m.nbr").as("nearest_id"),
          col("m.dist2").as("dist2"))
    },

    // Train/valid/test LEAKAGE audit: near-duplicate pairs that straddle
    // split boundaries — the evaluation-hygiene check an LLM data
    // pipeline runs before a split ships (a test doc with a train-side
    // near-dup invalidates the eval). Pure composition of two
    // already-oracled operators: the deterministic md5 split rule
    // (q_sample_split) and MinHash+LSH near-dup pairs (q_minhash_dedup);
    // the audit itself is two broadcast-able joins of the tiny pair set
    // plus a ≤9-row aggregate.
    "q_split_leakage" -> Query(
      // Exhaustive exact-Jaccard pairs (the q_minhash_dedup truth) split by
      // the q_sample_split md5 rule — an LSH miss OR a split drift goes red.
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
        |     for i in range(1, len(tokens) - 1)]) AS shingles
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens
        |        FROM documents)
        |  WHERE len(tokens) >= 3),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        |      / len(list_distinct(a.shingles || b.shingles)) >= 0.8),
        |asg AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5('cut' || CAST(doc_id AS VARCHAR)), 1, 8)
        |              < 'cccccccc' THEN 'train'
        |         WHEN substring(md5('cut' || CAST(doc_id AS VARCHAR)), 1, 8)
        |              < 'e6666666' THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT sa.split AS split_a, sb.split AS split_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  sa.split <> sb.split AS is_leak
        |FROM p JOIN asg sa ON p.id_a = sa.doc_id
        |  JOIN asg sb ON p.id_b = sb.doc_id
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.data.{MinHashDedup, Sampling}
      val docs = Tables.documents(s, dir)
      val draw = Sampling.hashDraw(col("doc_id"), "cut")
      val assign = docs.select(col("doc_id"),
        when(draw < lit("cccccccc"), "train")
          .when(draw < lit("e6666666"), "valid")
          .otherwise("test").as("split"))
      val pairs = MinHashDedup.duplicatePairs(docs, "doc_id", "text")
      pairs
        .join(assign.select(col("doc_id").as("id_a"), col("split").as("split_a")),
          Seq("id_a"))
        .join(assign.select(col("doc_id").as("id_b"), col("split").as("split_b")),
          Seq("id_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak", col("split_a") =!= col("split_b"))
    },

    // RAG-style document chunking: fixed 64-token windows at stride 48
    // (16-token overlap) — the retrieval-index preparation pass. Pure
    // scan-local array arithmetic (slice + join per chunk, integer chunk
    // count, no float ceil); output carries the chunk text itself, so
    // the oracle hash-checks every chunk boundary byte-for-byte.
    "q_chunk" -> Query(
      // Inclusive-slice spelling of the same 64/48 window; integer chunk
      // count, chunk text byte-for-byte.
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |d AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM toks
        |  WHERE len(t) >= 1),
        |c AS (SELECT doc_id, t, n,
        |    CASE WHEN n <= 64 THEN 1 ELSE (n - 17) // 48 + 1 END AS n_chunks
        |  FROM d),
        |x AS (SELECT doc_id, t, unnest(range(0, n_chunks)) AS k FROM c)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
        |  CAST(len(t[(k * 48 + 1):(k * 48 + 64)]) AS BIGINT) AS n_tokens,
        |  array_to_string(t[(k * 48 + 1):(k * 48 + 64)], ' ') AS chunk_text
        |FROM x""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      val t = TextFunctions.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), t.as("t"))
        .filter(size(col("t")) >= 1)
        .withColumn("n", size(col("t")).cast("long"))
        .withColumn("n_chunks",
          expr("CASE WHEN n <= 64 THEN 1 ELSE (n - 17) div 48 + 1 END"))
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("k"))
        .select(col("doc_id"), col("k").as("chunk_idx"),
          expr("slice(t, CAST(k * 48 + 1 AS INT), 64)").as("ct"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("ct")).cast("long").as("n_tokens"),
          array_join(col("ct"), " ").as("chunk_text"))
    },

    // Embedding L2-normalize + int8 quantization — the vector-index
    // preparation pass (what a vector store ingests). The squared-norm
    // fold is a LEFT fold over the array (deterministic summation order,
    // unlike a float SUM aggregate); sqrt is IEEE-correctly-rounded;
    // per-element (x / norm) * 127 floored. All scan-local projections —
    // zero shuffles in the whole plan.
    "q_embed_quantize" -> Query(
      // Same left-fold norm, correctly-rounded sqrt, identical
      // (x / norm) * 127 floor per element.
      """WITH n AS (SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |      (acc, x) -> acc + x)) AS norm
        |  FROM embeddings),
        |q AS (SELECT vec_id,
        |    CAST(floor(norm * 1000000) AS BIGINT) AS scale_micro,
        |    list_transform(embedding,
        |      x -> CAST(floor((CAST(x AS DOUBLE) / norm) * 127) AS BIGINT)) AS q
        |  FROM n WHERE norm > 0)
        |SELECT vec_id, scale_micro, CAST(len(q) AS BIGINT) AS n_dims,
        |  CAST(list_reduce(q, (acc, x) -> acc + x) AS BIGINT) AS checksum,
        |  CAST(list_reduce(list_transform(q, x -> abs(x)),
        |    (acc, x) -> acc + x) AS BIGINT) AS l1,
        |  q[1] AS q_first, q[-1] AS q_last
        |FROM q""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("""sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE),
                  (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))""")
            .as("norm"), col("embedding"))
        .filter(col("norm") > 0)
        .select(col("vec_id"),
          expr("CAST(floor(norm * 1000000) AS BIGINT)").as("scale_micro"),
          expr("""transform(embedding,
                  x -> CAST(floor((CAST(x AS DOUBLE) / norm) * 127) AS BIGINT))""")
            .as("q"))
        // the quantized vector pinned through SCALAR columns (dims, sum,
        // L1 mass, endpoints) — no list column reaches the driver compare,
        // whose hash behavior on nested types is unproven
        .select(col("vec_id"), col("scale_micro"),
          size(col("q")).cast("long").as("n_dims"),
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
            .as("checksum"),
          expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + abs(x))")
            .as("l1"),
          expr("element_at(q, 1)").as("q_first"),
          expr("element_at(q, -1)").as("q_last"))
    },

    // Temperature-scaled (α = 1/2) multilingual rebalancing: head
    // languages downsampled toward n^α shares, the most-upweighted
    // stratum kept whole. All weight math is truncating integers after
    // one floored sqrt (the only IEEE-correctly-rounded power), so the
    // kept set is bit-deterministic across engines; the keep decision is
    // the scan-local md5-vs-threshold Bernoulli of q_weighted_sample.
    "q_temperature_sample" -> Query(
      // floor(sqrt·1000) then pure integer truncating arithmetic — the
      // identical fixed-point pipeline.
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |c2 AS (SELECT lang, n,
        |    CAST(floor(sqrt(n) * 1000) AS BIGINT) AS sm FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(sum(sm) AS BIGINT) AS ss FROM c2),
        |f AS (SELECT lang,
        |    (sm * 1000000 // ss) * 1000000 // (n * 1000000 // nn) AS f_micro
        |  FROM c2, t),
        |fn AS (SELECT lang,
        |    CAST(f_micro * 1000000 // (SELECT max(f_micro) FROM f) AS BIGINT)
        |      AS keep_prob_micro
        |  FROM f),
        |k AS (SELECT d.doc_id, d.lang, fn.keep_prob_micro,
        |    substring(md5('temp' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS draw,
        |    least((fn.keep_prob_micro * 4294967296) // 1000000, 4294967296)
        |      AS thr
        |  FROM documents d JOIN fn USING (lang))
        |SELECT doc_id, lang, keep_prob_micro FROM k
        |WHERE keep_prob_micro >= 1000000
        |   OR draw < lpad(lower(hex(thr)), 8, '0')""".stripMargin) { (s, dir) =>
      import graft.data.Sampling
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val w = Sampling.temperatureWeights(docs, "lang")
      val draw = Sampling.hashDraw(col("doc_id"), "temp")
      val thr = least(expr("(keep_prob_micro * 4294967296) div 1000000"),
        lit(4294967296L))
      w.filter(col("keep_prob_micro") >= 1000000L ||
          draw < lpad(lower(hex(thr)), 8, "0"))
        .select(col("doc_id"), col("lang"), col("keep_prob_micro"))
    },

    // Sorted-neighborhood near-dup detection (Hernández/Stolfo SIGMOD'95)
    // — the sort-based alternative to MinHash/SimHash blocking, ranked
    // within prefix blocks (block-keyed exchange, NO global sort) and
    // exact-verified with word-set Jaccard.
    "q_sorted_neighborhood" -> Query(
      // Same key/block/window/verify pipeline in SQL; list_intersect and
      // list_distinct are set-semantics like Spark's array_intersect/union.
      """WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
        |k AS (SELECT doc_id, t,
        |    substring(regexp_replace(t, '[^a-z0-9]+', '', 'g'), 1, 24) AS sk
        |  FROM d),
        |b AS (SELECT doc_id, t, sk, substring(sk, 1, 6) AS blk,
        |    row_number() OVER (PARTITION BY substring(sk, 1, 6)
        |      ORDER BY sk, doc_id) AS rn
        |  FROM k),
        |p AS (SELECT a.doc_id AS a_id, b2.doc_id AS b_id, a.t AS ta, b2.t AS tb
        |  FROM b a JOIN b b2
        |    ON a.blk = b2.blk AND b2.rn - a.rn BETWEEN 1 AND 3),
        |v AS (SELECT a_id, b_id,
        |    len(list_intersect(list_distinct(string_split_regex(ta, '\s+')),
        |        list_distinct(string_split_regex(tb, '\s+')))) AS i,
        |    len(list_distinct(list_concat(string_split_regex(ta, '\s+'),
        |        string_split_regex(tb, '\s+')))) AS u
        |  FROM p)
        |SELECT a_id, b_id, CAST(i * 1000 // u AS BIGINT) AS jacc_milli
        |FROM v WHERE i * 100 >= u * 80""".stripMargin) { (s, dir) =>
      graft.data.SortedNeighborhood.pairs(
        Tables.documents(s, dir), "doc_id", "text")
    },

    // Quantile sketch in STREAMING state: per-day cents median via
    // kll_sketch_agg under a native tumbling window + watermark — same
    // fixed-KB-state argument as q_hll_stream, for the percentile family
    // (exact streaming quantiles would buffer every value). Contract row:
    // exact per-day discrete medians pinned, the streaming estimate's
    // true rank asserted inside ±2.5% (≈7σ of k=400's published error).
    "q_kll_stream" -> Query(
      // Contract oracle: exact per-day discrete medians pinned, the
      // streaming sketch's rank envelope must hold (TRUE literal).
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY day ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY day) AS nn
        |  FROM e)
        |SELECT day, CAST(nn AS BIGINT) AS n, cents AS q50_exact,
        |  TRUE AS q50_in_envelope
        |FROM r WHERE rn = (nn * 50 + 99) // 100""".stripMargin) { (s, dir) =>
      val rows = Tables.events(s, dir)
        .select(expr("ts_ns div 1000").as("tus"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val maxTus = rows.map(_._1).max
      val events = memoryStream[(Long, Long)](s, "tus", "cents")(
        rows.toSeq, Seq((maxTus + 3L * 86400000000L, 0L))) // watermark sentinel
        .select(timestamp_micros(col("tus")).as("ts"), col("cents"))
        .withWatermark("ts", "0 seconds")
      val agg = events
        .groupBy(window(col("ts"), "1 day"))
        .agg(graft.exprs.KllQuantiles.sketchAgg(col("cents"), 400).as("sk"))
        .select(expr("unix_micros(window.start) div 86400000000").as("day"),
          graft.exprs.KllQuantiles.quantile(col("sk"), 0.5).as("q50_est"))
      val drained = drainStream(s, "klls", agg)
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .select(expr("ts_ns div 86400000000000").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val ranked = daily
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("day")).orderBy(col("cents"))))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("day"))))
      val exact = ranked.filter(col("rn") === expr("(nn * 50 + 99) div 100"))
        .select(col("day"), col("nn").as("n"), col("cents").as("q50_exact"))
      // true rank of the streaming estimate, checked against the envelope
      val checked = daily.join(broadcast(drained), Seq("day"))
        .groupBy(col("day"))
        .agg(count(when(col("cents") <= col("q50_est"), lit(1))).as("r50"))
      exact.join(checked, Seq("day"))
        .select(col("day"), col("n"), col("q50_exact"),
          (abs(lit(1000) * col("r50") - lit(500) * col("n")) <= lit(25) * col("n"))
            .as("q50_in_envelope"))
    },

    // Distinct-count sketch in STREAMING state: per-day unique users via
    // hll_sketch_agg under a native tumbling window + watermark — the
    // sketch buffer IS the streaming aggregation state, so per-window
    // state is fixed-KB regardless of how many distinct users a day
    // sees (exact streaming distinct would hold every user id in
    // state). Contract row: exact counts pinned (batch recompute), the
    // streaming estimate must land in the HLL 5% envelope (≈6σ at
    // lgK 14).
    "q_hll_stream" -> Query(
      // Contract oracle: exact per-day distincts pinned, the streaming
      // sketch estimate must land inside the envelope (TRUE literal).
      """SELECT epoch_us(ts) // 86400000000 AS day,
        |  count(DISTINCT user_id) AS n_exact,
        |  TRUE AS within_5pct
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val rows = Tables.events(s, dir)
        .select(expr("ts_ns div 1000").as("tus"), col("user_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val maxTus = rows.map(_._1).max
      val events = memoryStream[(Long, Long)](s, "tus", "user_id")(
        rows.toSeq, Seq((maxTus + 3L * 86400000000L, -1L))) // watermark sentinel
        .select(timestamp_micros(col("tus")).as("ts"), col("user_id"))
        .withWatermark("ts", "0 seconds")
      val agg = events
        .groupBy(window(col("ts"), "1 day"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("est"))
        .select(expr("unix_micros(window.start) div 86400000000").as("day"),
          col("est"))
      val drained = drainStream(s, "hlls", agg)
      val exact = Tables.events(s, dir)
        .select(expr("ts_ns div 86400000000000").as("day"), col("user_id"))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("n_exact"))
      // drop the sentinel's synthetic day before comparing
      drained.join(exact, Seq("day"))
        .select(col("day"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("within_5pct"))
    },

    // URL-level dedup (the CommonCrawl-style FIRST dedup pass, upstream
    // of any content hashing): canonicalize — strip fragment/query/
    // trailing slash, lowercase scheme+host — then keep the minimum
    // doc_id per canonical URL. Injected variants (query-string,
    // trailing-slash, host-case, fragment) of the same page must
    // collapse. Canonicalization is scan-local regex projection; the
    // dedup is one partial-agg'd exchange keyed by canonical URL.
    "q_url_dedup" -> Query(
      // Same injected variants; canonicalization = the identical regex
      // sequence (fragment, query, trailing slash, lower scheme+host).
      """WITH raw AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 4 = 2 THEN 'https://WWW.Site'
        |          ELSE 'https://www.site' END)
        |    || CAST(doc_id % 50 AS VARCHAR) || '.org/p/'
        |    || CAST(doc_id % 100 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '?utm=1#frag'
        |             WHEN doc_id % 4 = 1 THEN '/'
        |             ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    lower(regexp_extract(s, '^(https?://[^/]*)', 1))
        |      || regexp_extract(s, '^https?://[^/]*(.*)$', 1) AS canonical_url
        |  FROM (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |      url, '#.*$', ''), '\?.*$', ''), '/$', '') AS s FROM raw))
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS kept_doc_id
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions.canonicalUrl
      val raw = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          when(pmod(col("doc_id"), lit(4)) === 2, lit("https://WWW.Site"))
            .otherwise(lit("https://www.site")),
          pmod(col("doc_id"), lit(50)), lit(".org/p/"),
          pmod(col("doc_id"), lit(100)),
          when(pmod(col("doc_id"), lit(4)) === 0, lit("?utm=1#frag"))
            .when(pmod(col("doc_id"), lit(4)) === 1, lit("/"))
            .otherwise(lit(""))).as("url"))
      raw.select(col("doc_id"), canonicalUrl(col("url")).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("kept_doc_id"))
    },

    // End-to-end curation pipeline — the chain a real corpus run executes:
    // clean (NFC+controls+ws) → language gate → quality gate → exact dedup
    // of the survivors (keep min doc_id per fingerprint). Each stage is the
    // already-oracled operator; this row proves the COMPOSITION matches too.
    "q_curation_e2e" -> Query(
      // The composed curation chain: cleaning, quality/langid (the
      // q_text_quality formulas over CLEANED text), gates, exact dedup of
      // survivors. fingerprint(clean) = md5(lower(clean)) because cleaning
      // already collapsed/trimmed whitespace.
      """WITH c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS cl
        |  FROM documents),
        |t AS (SELECT doc_id, cl,
        |    string_split_regex(trim(cl), '\s+') AS toks,
        |    length(regexp_replace(cl, '[^[:punct:]]', '', 'g')) AS punct_n
        |  FROM c),
        |q AS (SELECT doc_id, cl, len(toks) AS n_tokens,
        |    least(len(toks), 100) * 4
        |      + (300 - least((punct_n * 1500) // length(cl), 300))
        |      + least((en * 3000) // len(toks), 300) AS quality_milli,
        |    CASE
        |      WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |      WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |      WHEN de >= fr AND de > 0 THEN 'de'
        |      WHEN fr > 0 THEN 'fr'
        |      ELSE 'und' END AS lang_pred
        |  FROM (SELECT *,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','you','that','it','for'))) AS en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','se','no'))) AS es,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','nicht','von','ist','mit','den','ein'))) AS de,
        |    len(list_filter(toks, x -> x IN ('le','les','des','une','du','et','est','dans','pour','ce'))) AS fr
        |    FROM t)),
        |f AS (SELECT * FROM q
        |      WHERE lang_pred IN ('en', 'es') AND quality_milli >= 500),
        |d AS (SELECT doc_id FROM (SELECT doc_id, md5(lower(cl)) AS fp FROM f)
        |      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
        |SELECT f.doc_id, f.lang_pred, f.quality_milli, f.n_tokens
        |FROM f JOIN d USING (doc_id)""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      // single-pass gates UDF, not the composed Catalyst helpers: the gate
      // FILTER pushed below the projection re-inlines the whole chain per
      // predicate leaf and the stopword HOF lambdas are interpreted, so the
      // composed form measured 26× this plan (see curationGatesUdf doc;
      // equivalence is spec-pinned)
      val cleaned = Tables.documents(s, dir)
        .select(col("doc_id"), curationGatesUdf(col("text")).as("g"))
        .select(col("doc_id"), col("g._1").as("cl"), col("g._2").as("lang_pred"),
          col("g._3").as("quality_milli"), col("g._4").as("n_tokens"))
        .filter(col("lang_pred").isin("en", "es") && col("quality_milli") >= 500)
      // keep-min-per-fingerprint via a window, NOT a semi-join: the join
      // form re-scans documents and recomputes the whole cleaning chain on
      // the build side (measured 2× the query). Fingerprints are
      // near-unique, so per-key sorts are one-or-two rows; the single
      // shuffle carries only gate survivors.
      import org.apache.spark.sql.expressions.{Window => W}
      cleaned
        .withColumn("__rn", row_number().over(
          W.partitionBy(fingerprint(col("cl"))).orderBy(col("doc_id"))))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("lang_pred"), col("quality_milli"), col("n_tokens"))
    },

    // Global token-budget cut: deterministic hash order, two-phase prefix
    // sum (shard = first hex digit of the draw, so shard boundaries ARE
    // global-order boundaries; 16 shard totals scan exclusively and
    // broadcast back). Every doc gets its exact global token offset.
    "q_token_budget" -> Query(
      // Window prefix sum over the same md5 order (the shard decomposition is
      // invisible to results — that is the point).
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |    md5('tb1' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY h, CAST(doc_id AS VARCHAR)
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(cum - n_tokens AS BIGINT) AS token_offset,
        |  cum <= 25000 AS kept
        |FROM s""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      graft.data.Sampling.tokenBudgetSample(
        Tables.documents(s, dir)
          .select(col("doc_id"), tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 25000L, salt = "tb1")
        .select(col("doc_id"), col("n_tokens"), col("token_offset"), col("kept"))
    },

    // Corpus-mix reweighting: per-doc sampling weight reshaping the actual
    // language distribution into a target mix (the LLM data-mixing step);
    // weight = target_share/actual_share as micro-ints. |strata| aggregate
    // broadcast back; the corpus scans once, never shuffles. 'zh' absent
    // from the target deliberately (weight 0 path).
    "q_mix_weights" -> Query(
      """WITH sh AS (
        |  SELECT lang,
        |    count(*) / (SELECT count(*) FROM documents)::DOUBLE AS share
        |  FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, CAST(floor(
        |    (CASE lang WHEN 'en' THEN 0.4 WHEN 'es' THEN 0.2
        |      WHEN 'de' THEN 0.2 WHEN 'fr' THEN 0.2 ELSE 0.0 END
        |     / share) * 1000000.0) AS BIGINT) AS weight_micro
        |  FROM sh)
        |SELECT d.doc_id, d.lang, w.weight_micro
        |FROM documents d JOIN w USING (lang)""".stripMargin) { (s, dir) =>
      graft.data.Sampling.mixWeights(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")), "lang",
        Map("en" -> 0.4, "es" -> 0.2, "de" -> 0.2, "fr" -> 0.2))
        .select(col("doc_id"), col("lang"), col("weight_micro"))
    },

    // Benchmark decontamination (GPT-3/PaLM-style n-gram overlap): docs
    // from source 'src0' act as the held-out benchmark; every other doc
    // reports its distinct-trigram overlap with that set. Benchmark grams
    // broadcast; the corpus is never shuffled.
    "q_contamination" -> Query(
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, list_distinct(
        |    [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS grams
        |  FROM toks WHERE len(t) >= 3),
        |bench AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source = 'src0'),
        |corpus AS (SELECT doc_id, grams FROM g WHERE source <> 'src0'),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hit
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM corpus) c
        |  JOIN bench USING (gram) GROUP BY doc_id)
        |SELECT c.doc_id, len(c.grams) AS n_grams,
        |  coalesce(h.n_hit, 0) AS n_contaminated,
        |  (1000 * coalesce(h.n_hit, 0)) // len(c.grams) AS contam_milli
        |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.data.Contamination.ngramOverlap(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"),
        "doc_id", "text", 3)
    },

    // BM25 relevance of every document against a fixed query term set
    // (k1=1.2, b=0.75): inverted-index tf with the query-term filter
    // BEFORE the shuffle, broadcast df, integer milli-point scores so
    // float addition order can never flip the hash. The oracle recomputes
    // the identical formula in SQL.
    "q_bm25" -> Query(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |dl AS (SELECT doc_id, len(t) AS dl FROM toks),
        |stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        |  WHERE term IN ('spark', 'query', 'fast')
        |  GROUP BY doc_id, term),
        |df AS (
        |  SELECT term, count(*) AS df,
        |    ln(((SELECT n FROM stats) - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
        |  FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    sum(CAST(round(1000 * df.idf * (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl /
        |        ((SELECT sumdl FROM stats)::DOUBLE / (SELECT n FROM stats))))) AS BIGINT))
        |      AS bm25_milli
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
        |  GROUP BY tf.doc_id)
        |SELECT d.doc_id, CAST(coalesce(s.bm25_milli, 0) AS BIGINT) AS bm25_milli
        |FROM documents d LEFT JOIN scored s USING (doc_id)""".stripMargin) { (s, dir) =>
      graft.data.Relevance.bm25(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "query", "fast"))
    },

    // Per-doc top-5 TF-IDF keywords via the mergeable k-item heap aggregate
    // (shuffle carries ≤ k rows per doc per map task); hapax terms cut by
    // minDf BEFORE the score join. Smoothed idf, milli fixed point.
    "q_tfidf" -> Query(
      // Heap tie-break is (score, term) struct-descending — mirrored as
      // ORDER BY tfidf_milli DESC, term DESC.
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |stats AS (SELECT count(*) AS n FROM toks),
        |tfc AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
        |  GROUP BY doc_id, term),
        |dfc AS (SELECT term, count(*) AS df FROM tfc
        |  GROUP BY term HAVING count(*) >= 2),
        |scored AS (
        |  SELECT tfc.doc_id, tfc.term, tfc.tf,
        |    CAST(round(1000.0 * tfc.tf *
        |      (ln(((SELECT n FROM stats) + 1.0) / (dfc.df + 1.0)) + 1.0))
        |      AS BIGINT) AS tfidf_milli
        |  FROM tfc JOIN dfc USING (term))
        |SELECT doc_id, term, tf, tfidf_milli,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf_milli DESC, term DESC) AS INTEGER) AS rk
        |FROM scored
        |QUALIFY rk <= 5""".stripMargin) { (s, dir) =>
      graft.data.Relevance.tfidfTopK(Tables.documents(s, dir),
        "doc_id", "text", k = 5, minDf = 2L)
    },

    // Edit-distance record linkage over 30-char document prefixes: lossless
    // length-band blocking → hash join → exact levenshtein verify. The 25
    // surviving pairs are exactly the corpus's near-duplicate structure —
    // the linkage op recovers what the minhash row finds, via a different
    // algorithm, with an exhaustive all-pairs oracle.
    "q_fuzzy_join" -> Query(
      // Exhaustive all-pairs truth the banded join must reproduce exactly.
      """WITH p AS (
        |  SELECT doc_id AS id, substring(text, 1, 30) AS t FROM documents)
        |SELECT a.id AS a_id, b.id AS b_id,
        |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE abs(length(a.t) - length(b.t)) <= 2
        |  AND levenshtein(a.t, b.t) <= 2""".stripMargin) { (s, dir) =>
      graft.operators.FuzzyJoin.selfJoin(
        Tables.documents(s, dir)
          .select(col("doc_id"), substring(col("text"), 1, 30).as("prefix")),
        "doc_id", "prefix", maxDist = 2)
    },

    // Shannon char-entropy gate (C4/Gopher low/high-entropy filter) in
    // milli-bits over the printable-ASCII projection; one scan-local pass.
    "q_char_entropy" -> Query(
      // Same printable-ASCII projection and H = log2(n) - sum(c*log2(c))/n.
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(
        |    regexp_replace(text, '[^\x20-\x7e]', '', 'g'), '')) AS c
        |  FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM cnt GROUP BY doc_id),
        |ent AS (
        |  SELECT cnt.doc_id,
        |    CAST(round(1000 * (log2(CAST(tot.n AS DOUBLE)) -
        |      sum(cnt.k * log2(CAST(cnt.k AS DOUBLE))) / tot.n)) AS BIGINT)
        |      AS entropy_milli
        |  FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id, tot.n)
        |SELECT d.doc_id, CAST(coalesce(e.entropy_milli, 0) AS BIGINT) AS entropy_milli
        |FROM documents d LEFT JOIN ent e USING (doc_id)""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.charEntropyMilliUdf(col("text")).as("entropy_milli"))
    },

    // PageRank (3 fixed-point iterations, integer micro-units) over the
    // customer→supplier trade graph — the domain-authority signal of a
    // curation pipeline, bit-deterministic so the oracle can unroll the
    // same three iterations in SQL.
    "q_pagerank" -> Query(
      // Three unrolled fixed-point iterations; every step is integer
      // arithmetic (// truncation ≡ Spark div on this non-negative domain),
      // so the replay is exact. Integer sums CAST back from HUGEINT.
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT id, 1000000 // (SELECT n FROM nn) AS r FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS id, CAST(sum(r0.r // outdeg.deg) AS BIGINT) AS contrib
        |  FROM e JOIN outdeg USING (src) JOIN r0 ON e.src = r0.id
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT nodes.id, 150000 // (SELECT n FROM nn)
        |    + (85 * coalesce(c1.contrib, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c1 ON nodes.id = c1.id),
        |c2 AS (
        |  SELECT e.dst AS id, CAST(sum(r1.r // outdeg.deg) AS BIGINT) AS contrib
        |  FROM e JOIN outdeg USING (src) JOIN r1 ON e.src = r1.id
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT nodes.id, 150000 // (SELECT n FROM nn)
        |    + (85 * coalesce(c2.contrib, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c2 ON nodes.id = c2.id),
        |c3 AS (
        |  SELECT e.dst AS id, CAST(sum(r2.r // outdeg.deg) AS BIGINT) AS contrib
        |  FROM e JOIN outdeg USING (src) JOIN r2 ON e.src = r2.id
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT nodes.id, 150000 // (SELECT n FROM nn)
        |    + (85 * coalesce(c3.contrib, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c3 ON nodes.id = c3.id)
        |SELECT id, CAST(r AS BIGINT) AS rank_micro FROM r3""".stripMargin) { (s, dir) =>
      val e = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      graft.operators.PageRank.fixedPoint(e, "src", "dst", iterations = 3)
        .select(col("id"), col("rank_micro"))
    },

    // PII detection + redaction. The corpus has no organic PII, so the
    // query builds a deterministic payload (same expression in the oracle)
    // carrying an email, an IPv4, and a phone per doc — the oracle then
    // hash-checks counts AND the full redacted text, proving both engines
    // match on every regex boundary. Scan-local, codegen'd, no shuffle.
    "q_pii" -> Query(
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com from 10.' ||
        |    (doc_id % 256) || '.0.' || (doc_id % 100) ||
        |    ' call 555-0' || lpad((doc_id % 1000)::VARCHAR, 3, '0') AS payload
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(payload,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(payload, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(payload, '\b\d{3}-\d{4}\b')) AS n_phone,
        |  regexp_replace(regexp_replace(regexp_replace(payload,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM p""".stripMargin) { (s, dir) =>
      val payload = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"),
        lit(" call 555-0"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"))
      Tables.documents(s, dir).select(col("doc_id"),
        graft.data.Pii.emailCount(payload).as("n_email"),
        graft.data.Pii.ipv4Count(payload).as("n_ip"),
        graft.data.Pii.phoneCount(payload).as("n_phone"),
        graft.data.Pii.redact(payload).as("redacted"))
    },

    // Gopher-style repetition signals (Rae et al. 2021, Table A1):
    // repeated-token/-bigram/-5-gram fractions + top-bigram token share,
    // as integer milli-fractions (engine-portable hashing). Scan-local
    // Catalyst expressions — annotates the corpus in one pass, no shuffle.
    "q_text_repetition" -> Query(
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks,
        |    [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))] AS g2,
        |    [array_to_string(toks[i:i+4], ' ') for i in range(1, len(toks) - 3)] AS g5
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       ELSE (1000 * (len(toks) - len(list_distinct(toks)))) // len(toks) END
        |    AS dup_token_milli,
        |  CASE WHEN len(g2) = 0 THEN 0
        |       ELSE (1000 * (len(g2) - len(list_distinct(g2)))) // len(g2) END
        |    AS dup_bigram_milli,
        |  CASE WHEN len(g5) = 0 THEN 0
        |       ELSE (1000 * (len(g5) - len(list_distinct(g5)))) // len(g5) END
        |    AS dup_5gram_milli,
        |  CASE WHEN len(g2) = 0 THEN 0
        |       ELSE least(1000, (1000 * 2 * list_max(list_transform(list_distinct(g2),
        |              x -> len(list_filter(g2, y -> y = x))))) // len(toks)) END
        |    AS top_bigram_milli
        |FROM g""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      Tables.documents(s, dir).select(col("doc_id"),
        dupTokenFracMilli(col("text")).as("dup_token_milli"),
        dupNgramFracMilli(col("text"), 2).as("dup_bigram_milli"),
        dupNgramFracMilli(col("text"), 5).as("dup_5gram_milli"),
        topNgramFracMilli(col("text"), 2).as("top_bigram_milli"))
    },

    // Winnowing fingerprints (MOSS rolling-hash scheme) over normalized
    // text: integer rolling hash mod 1e9+7, window minima, one (doc, fp)
    // row per selected hash. The oracle recomputes the identical integer
    // pipeline in SQL.
    "q_winnow_fingerprint" -> Query(
      """WITH n AS (SELECT doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    [list_reduce([CAST(unicode(t[j]) AS BIGINT) for j in range(i, i+8)],
        |       (a,b) -> (a*257+b) % 1000000007)
        |     for i in range(1, len(t)-8+2)] AS hs
        |  FROM n WHERE len(t) >= 11),
        |w AS (SELECT doc_id,
        |    list_distinct([list_min(hs[i:i+3]) for i in range(1, len(hs)-4+2)]) AS fps
        |  FROM h)
        |SELECT doc_id, unnest(fps) AS fp FROM w""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      Tables.documents(s, dir).select(col("doc_id"),
        explode(winnowUdf(8, 4)(normalize(col("text")))).as("fp"))
    },

    // Quality scoring + language ID (stopword-profile heuristic).
    "q_text_quality" -> Query(
      """WITH t AS (SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS punct_n,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x IN ('the','and','of','to','in','is','you','that','it','for'))) AS stop_n
        |  FROM documents)
        |SELECT doc_id,
        |  (punct_n * 10000) // length(text) AS punct_bp,
        |  (stop_n * 10000) // len(toks) AS stop_bp,
        |  least(len(toks), 100) * 4
        |    + (300 - least((punct_n * 1500) // length(text), 300))
        |    + least((stop_n * 3000) // len(toks), 300) AS quality_milli,
        |  CASE
        |    WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |    WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |    WHEN de >= fr AND de > 0 THEN 'de'
        |    WHEN fr > 0 THEN 'fr'
        |    ELSE 'und' END AS lang_pred
        |FROM (SELECT *,
        |  len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','you','that','it','for'))) AS en,
        |  len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','se','no'))) AS es,
        |  len(list_filter(toks, x -> x IN ('der','die','und','das','nicht','von','ist','mit','den','ein'))) AS de,
        |  len(list_filter(toks, x -> x IN ('le','les','des','une','du','et','est','dans','pour','ce'))) AS fr
        |  FROM t)""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      Tables.documents(s, dir).select(col("doc_id"),
        punctRatioBp(col("text")).as("punct_bp"),
        stopwordRatioBp(col("text")).as("stop_bp"),
        qualityMilli(col("text")).as("quality_milli"),
        languageId(col("text")).as("lang_pred"))
    },

    // Exact document dedup by normalized-text fingerprint, keep min doc_id.
    "q_doc_dedup_exact" -> Query(
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |  ORDER BY doc_id) = 1""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      // keep-min-id per fingerprint as a hash aggregate: map-side partials
      // shrink the shuffle to one row per distinct fingerprint (a window
      // row_number would full-sort every partition instead)
      Tables.documents(s, dir)
        .select(fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("fp"))
    },

    // MinHash+LSH near-dup pairs, exactly verified (Jaccard ≥ 0.8 on word
    // 3-gram shingles). The oracle computes ALL exact pairs — passing means
    // the LSH candidate generation missed nothing.
    "q_minhash_dedup" -> Query(
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
        |     for i in range(1, len(tokens) - 1)]) AS shingles
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens
        |        FROM documents)
        |  WHERE len(tokens) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
        |    / len(list_distinct(a.shingles || b.shingles)), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        |    / len(list_distinct(a.shingles || b.shingles)) >= 0.8""".stripMargin) { (s, dir) =>
      graft.data.MinHashDedup.duplicatePairs(
        Tables.documents(s, dir), "doc_id", "text")
    },

    // Incremental dedup: a NEW batch (every 20th doc) screened against the
    // EXISTING corpus (the rest) — batch band-buckets broadcast, corpus
    // map-only, exact-Jaccard verify on LSH hits only. The oracle computes
    // the exhaustive batch×corpus cross-Jaccard, so a single missed
    // candidate goes red.
    "q_incremental_dedup" -> Query(
      // Exhaustive batch×corpus cross-Jaccard: every batch doc, its smallest
      // matching corpus id at J >= 0.8 (or is_new). Batch docs below the
      // 3-token shingle floor fall out of sh and surface as is_new via the
      // left join — the same contract as the empty-shingle-set path in Spark.
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
        |     for i in range(1, len(tokens) - 1)]) AS shingles
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens
        |        FROM documents)
        |  WHERE len(tokens) >= 3),
        |j AS (
        |  SELECT b.doc_id AS bid, c.doc_id AS cid,
        |    len(list_intersect(b.shingles, c.shingles))::DOUBLE
        |      / len(list_distinct(b.shingles || c.shingles)) AS jac
        |  FROM sh b JOIN sh c ON b.doc_id % 20 = 0 AND c.doc_id % 20 <> 0),
        |m AS (
        |  SELECT bid, min(cid) AS match_id, round(arg_min(jac, cid), 4) AS jaccard
        |  FROM j WHERE jac >= 0.8 GROUP BY bid)
        |SELECT d.doc_id, m.match_id IS NULL AS is_new, m.match_id, m.jaccard
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) d
        |LEFT JOIN m ON m.bid = d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.data.MinHashDedup.dedupAgainstCorpus(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text")
    },

    // Exact n-gram Jaccard via prefix filtering (word bigrams, J ≥ 3/5):
    // deterministic and complete — no sketch, no recall contract. The
    // oracle computes ALL exact pairs; integer intersection/union sizes
    // avoid any float boundary.
    "q_ngram_jaccard" -> Query(
      """WITH g AS (
        |  SELECT doc_id, list_distinct(
        |    [tokens[i] || ' ' || tokens[i+1] for i in range(1, len(tokens))]) AS grams
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens
        |        FROM documents)
        |  WHERE len(tokens) >= 2)
        |SELECT id_a, id_b, inter, uni FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS INTEGER) AS inter,
        |    CAST(len(a.grams) + len(b.grams)
        |      - len(list_intersect(a.grams, b.grams)) AS INTEGER) AS uni
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |WHERE inter * 5 >= uni * 3""".stripMargin) { (s, dir) =>
      graft.data.NgramJaccard.duplicatePairs(
        Tables.documents(s, dir), "doc_id", "text")
    },

    // Near-dup CLUSTER assignment: transitive closure over the MinHash
    // pair edges via alternating large-star/small-star connected
    // components (log-round convergence — never O(diameter)), min-id
    // representative, singletons self-clustered. The oracle recomputes the
    // same clusters from the exhaustive exact-Jaccard pair set with a
    // recursive CTE.
    "q_dedup_clusters" -> Query(
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
        |     for i in range(1, len(tokens) - 1)]) AS shingles
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens
        |        FROM documents)
        |  WHERE len(tokens) >= 3),
        |p AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
        |      / len(list_distinct(a.shingles || b.shingles)) >= 0.8),
        |e AS (SELECT ia AS u, ib AS v FROM p UNION SELECT ib, ia FROM p),
        |reach(n, r) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u
        |    WHERE e.v <> reach.n),
        |comp AS (SELECT n, least(n, min(r)) AS cid FROM reach GROUP BY n)
        |SELECT d.doc_id,
        |  coalesce(c.cid, d.doc_id) AS cluster_id,
        |  coalesce(c.cid, d.doc_id) = d.doc_id AS is_representative
        |FROM documents d LEFT JOIN comp c ON c.n = d.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      graft.data.Clustering.assignClusters(
        docs, "doc_id",
        graft.data.MinHashDedup.duplicatePairs(docs, "doc_id", "text"))
    },

    // SimHash near-dup pairs, held to the operator's ACTUAL contract:
    // every pair within simhash-hamming ≤ 10, exactly verified at
    // shingle-Jaccard ≥ 0.8. Simhash offers no worst-case hamming bound
    // from Jaccard (a J=0.92 pair at hamming 13 exists at sf0.1), so a
    // bare exhaustive-Jaccard oracle is unachievable by ANY fixed radius —
    // instead the oracle reimplements FNV-1a + per-bit-vote simhash in SQL
    // (UBIGINT with HUGEINT wrap-around multiply; corpus is ASCII so
    // unicode()==byte) and applies the same radius, making both false
    // positives AND radius-internal misses red with no data-luck.
    // The no-radius completeness question belongs to MinHash
    // (q_minhash_dedup), whose LSH theory actually provides it.
    "q_simhash_dedup" -> Query(
      // Independent SQL reimplementation of the operator's whole contract:
      // FNV-1a per token (UBIGINT; wrap-around multiply via HUGEINT),
      // per-bit majority vote → 64-bit simhash, pair hamming ≤ 10, exact
      // shingle-Jaccard ≥ 0.8. Red on false positives AND on any miss
      // inside the radius.
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens
        |  FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 3),
        |sh AS (SELECT doc_id, list_distinct(
        |    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
        |     for i in range(1, len(tokens) - 1)]) AS shingles FROM t),
        |fnv AS (SELECT doc_id,
        |  [list_reduce(
        |     list_prepend(CAST('14695981039346656037' AS UBIGINT),
        |       [CAST(unicode(tok[j]) AS UBIGINT) for j in range(1, len(tok)+1)]),
        |     (h, b) -> CAST((CAST(xor(h, b) AS HUGEINT) * 1099511628211) %
        |                    CAST('18446744073709551616' AS HUGEINT) AS UBIGINT))
        |   for tok in tokens] AS hs,
        |  len(tokens) AS n
        |  FROM t),
        |bits AS (SELECT doc_id,
        |  [2 * list_sum([CAST((h >> b) & 1 AS BIGINT) for h in hs]) > n
        |   for b in range(0, 64)] AS bits
        |  FROM fnv)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        |    / len(list_distinct(sa.shingles || sb.shingles)), 4) AS jaccard
        |FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        |JOIN sh sa ON sa.doc_id = a.doc_id JOIN sh sb ON sb.doc_id = b.doc_id
        |WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 10
        |  AND len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        |    / len(list_distinct(sa.shingles || sb.shingles)) >= 0.8""".stripMargin) { (s, dir) =>
      graft.data.MinHashDedup.simhashPairs(
        Tables.documents(s, dir), "doc_id", "text")
    },

    // Brute-force cosine top-10 around the vec_id=0 embedding (the exact
    // ANN baseline; one scan + TakeOrdered, no corpus shuffle).
    "q_ann_topk" -> Query(
      """SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS cosine
        |FROM embeddings
        |ORDER BY list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val query = emb.filter(col("vec_id") === 0)
        .head.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toSeq
      graft.data.EmbeddingOps.bruteTopK(emb, "vec_id", "embedding", query, 10)
        .withColumn("cosine", round(col("cosine"), 6))
    },

    // Embedding near-dup pairs: exact cosine ≥ 0.48 (threshold sits in a
    // wide similarity gap of the dataset, so float ulps can't flip rows).
    "q_embed_dedup" -> Query(
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.48""".stripMargin) { (s, dir) =>
      graft.data.EmbeddingOps.brutePairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", 0.48)
    },

    // The beyond-broadcast scale path (multi-probe LSH buckets +
    // within-bucket exact verify) held to an exhaustive oracle. An
    // exhaustive oracle demands recall 1.0, which sign-LSH can only
    // guarantee across a SIMILARITY GAP — so the query plants one: every
    // 50th vector gets a near-copy (0.99·v + 0.01·rot(v), cosine ≥ 0.98 by
    // construction, ~0.9999 in practice) while background pairs top out
    // near 0.6 at every sf. At threshold 0.9 no pair sits anywhere near
    // the probe-radius boundary: planted pairs land at signature hamming
    // ~0 of 8, far inside probeHamming=2's radius-4 reach, and everything
    // else is excluded by the exact verify. (A threshold inside the dense
    // background tail — the previous 0.48 — makes recall the documented
    // LSH trade, not a guarantee: at sf0.1 three 0.48-0.49 pairs sat
    // beyond the probe radius and the exhaustive oracle broke.) The
    // perturbation is double-math rounded through float32 on both sides,
    // so the planted vectors are bit-identical in Spark and DuckDB.
    "q_embed_dedup_lsh" -> Query(
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |    CAST(CAST(list_transform(range(1, 65),
        |      i -> 0.99 * embedding[i]::DOUBLE + 0.01 * embedding[(i % 64) + 1]::DOUBLE)
        |      AS FLOAT[]) AS DOUBLE[])
        |  FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
      val vd = graft.data.EmbeddingOps.toDouble(col("embedding"))
      val rot = concat(slice(vd, 2, 63), slice(vd, 1, 1))
      val planted = e.filter(pmod(col("vec_id"), lit(50)) === 0).select(
        (col("vec_id") + lit(1000000L)).as("vec_id"),
        zip_with(vd, rot, (a, b) => a * lit(0.99) + b * lit(0.01))
          .cast("array<float>").as("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding")).unionByName(planted)
      graft.data.EmbeddingOps.lshBucketPairs(corpus, "vec_id", "embedding", 64, 0.9,
        probeHamming = 2)
    },

    // SemDeDup (Abbas et al. 2023): deterministic quantized k-means over the
    // embeddings (k=8 singleton-init centroids, 2 exact-integer Lloyd
    // rounds), then within-cluster cosine dedup at 0.48 (the corpus's
    // documented similarity gap). Exact integer centroid accumulation makes
    // the whole operator bit-reproducible run-to-run — and lets the oracle
    // replay both Lloyd rounds in SQL, so a single flipped assignment or
    // dedup verdict goes red.
    "q_semantic_dedup" -> Query(
      // Full SQL replay of the deterministic k-means: same trunc-quantization,
      // same exact integer sums, same ascending-dimension fold (list_reduce is
      // a sequential left fold, matching the Scala loop bit-for-bit), same
      // (dist, cl) tie-break, same empty-cluster fallback — two unrolled Lloyd
      // rounds, then the within-cluster cosine screen on the raw vectors.
      """WITH qv AS (
        |  SELECT vec_id, list_transform(range(1, 65),
        |    i -> CAST(trunc(embedding[i]::DOUBLE * 4096.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cl, q AS s, CAST(1 AS BIGINT) AS n
        |       FROM qv WHERE vec_id < 8),
        |a1 AS (
        |  SELECT vec_id, q, cl FROM (
        |    SELECT v.vec_id, v.q, c.cl,
        |      list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |        i -> (v.q[i] - c.s[i]::DOUBLE / c.n::DOUBLE)
        |           * (v.q[i] - c.s[i]::DOUBLE / c.n::DOUBLE))),
        |        (x, y) -> x + y) AS dist
        |    FROM qv v CROSS JOIN c0 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |u1 AS (SELECT cl, d.i AS pos, sum(q[d.i]) AS sv
        |       FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
        |       GROUP BY cl, d.i),
        |g1 AS (SELECT cl, list(sv ORDER BY pos) AS s_new FROM u1 GROUP BY cl),
        |n1 AS (SELECT cl, count(*) AS n_new FROM a1 GROUP BY cl),
        |c1 AS (SELECT c0.cl, coalesce(g1.s_new, c0.s) AS s,
        |              coalesce(n1.n_new, c0.n) AS n
        |       FROM c0 LEFT JOIN g1 ON g1.cl = c0.cl LEFT JOIN n1 ON n1.cl = c0.cl),
        |a2 AS (
        |  SELECT vec_id, q, cl FROM (
        |    SELECT v.vec_id, v.q, c.cl,
        |      list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |        i -> (v.q[i] - c.s[i]::DOUBLE / c.n::DOUBLE)
        |           * (v.q[i] - c.s[i]::DOUBLE / c.n::DOUBLE))),
        |        (x, y) -> x + y) AS dist
        |    FROM qv v CROSS JOIN c1 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |u2 AS (SELECT cl, d.i AS pos, sum(q[d.i]) AS sv
        |       FROM a2 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) d
        |       GROUP BY cl, d.i),
        |g2 AS (SELECT cl, list(sv ORDER BY pos) AS s_new FROM u2 GROUP BY cl),
        |n2 AS (SELECT cl, count(*) AS n_new FROM a2 GROUP BY cl),
        |c2 AS (SELECT c1.cl, coalesce(g2.s_new, c1.s) AS s,
        |              coalesce(n2.n_new, c1.n) AS n
        |       FROM c1 LEFT JOIN g2 ON g2.cl = c1.cl LEFT JOIN n2 ON n2.cl = c1.cl),
        |a3 AS (
        |  SELECT vec_id, cl FROM (
        |    SELECT v.vec_id, c.cl,
        |      list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |        i -> (v.q[i] - c.s[i]::DOUBLE / c.n::DOUBLE)
        |           * (v.q[i] - c.s[i]::DOUBLE / c.n::DOUBLE))),
        |        (x, y) -> x + y) AS dist
        |    FROM qv v CROSS JOIN c2 c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) = 1),
        |p AS (SELECT a.vec_id AS dropped
        |      FROM a3 a JOIN a3 b ON a.cl = b.cl AND a.vec_id > b.vec_id
        |      JOIN embeddings ea ON ea.vec_id = a.vec_id
        |      JOIN embeddings eb ON eb.vec_id = b.vec_id
        |      WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
        |        eb.embedding::DOUBLE[]) >= 0.48
        |      GROUP BY a.vec_id)
        |SELECT a3.vec_id, a3.cl AS cluster_id, p.dropped IS NULL AS kept
        |FROM a3 LEFT JOIN p ON p.dropped = a3.vec_id""".stripMargin) { (s, dir) =>
      graft.data.SemanticDedup.semanticDedup(
        Tables.embeddings(s, dir), "vec_id", "embedding", 8, 2, 0.48)
        .withColumnRenamed("id", "vec_id")
    },

    // Multi-probe LSH radius search, exactly verified: probe the buckets
    // within hamming ≤ 3 of the query signature, exact-verify candidates'
    // cosine ≥ 0.45. Query = vec 169 (its one true neighbor, vec 466 at
    // cosine 0.5128, sits at signature hamming 3; next-nearest is 0.3654,
    // so the 0.45 threshold has wide margins both sides) — the oracle is
    // the exhaustive SQL scan, and a probe miss turns the row red.
    // Top-k LSH (annTopK) recall is asserted in DataOpsSpec.
    "q_ann_lsh" -> Query(
      // Exhaustive exact scans: the approximate (LSH / IVF) paths must return
      // exactly the vectors the full scan finds — exact-verified candidates
      // mean no false positives, and the oracle catches any probe miss.
      """SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 169)), 6) AS cosine
        |FROM embeddings
        |WHERE list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 169)) >= 0.45""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val query = emb.filter(col("vec_id") === 169)
        .head.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toSeq
      graft.data.EmbeddingOps.lshRadius(emb, "vec_id", "embedding", 64, query, 0.45)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumnRenamed("id", "vec_id")
    },

    // IVF-cell radius search, exactly verified (the other scale path
    // besides LSH: coarse centroids + posting lists; the query scans only
    // nprobe cells). Same query/threshold as q_ann_lsh — vec 169's true
    // neighbor lives in the top-ranked probe cell — so the exhaustive SQL
    // scan is the oracle and a cell miss turns the row red. Top-k IVF
    // (ivfTopK) recall is asserted in DataOpsSpec.
    "q_ann_ivf" -> Query(
      """SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 169)), 6) AS cosine
        |FROM embeddings
        |WHERE list_cosine_similarity(embedding::DOUBLE[],
        |    (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 169)) >= 0.45""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val query = emb.filter(col("vec_id") === 169)
        .head.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toSeq
      val index = graft.data.EmbeddingOps.ivfIndex(emb, "vec_id", "embedding", 16)
      graft.data.EmbeddingOps.ivfRadius(index, query, 0.45, nprobe = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumnRenamed("id", "vec_id")
    },

    // Multimodal plumbing: documents rendered as opaque binary media rows
    // (mime by id, content = text bytes), size-aware repartition, then the
    // partition-streamed feature extraction. Only decoder-independent
    // outputs are exposed so the oracle checks the PLUMBING (schema, binary
    // byte length, decode dispatch) — decoder internals are stub-backed and
    // asserted in DataOpsSpec instead.
    // Image rows carry a REAL synthetic PNG (constant-gray, dimensions and
    // fill derived from doc_id), decoded for real through javax.imageio —
    // so the img_* columns are decoder-dependent and oracle-predictable.
    // Audio/video rows keep the deterministic stub (no such codecs here);
    // their stub dimensions are deterministic but not SQL-expressible, so
    // only decode_ok and payload size are oracled for them.
    "q_multimodal" -> Query(
      // img_* columns are what a real javax.imageio decode of the synthetic
      // constant-gray PNG must report: the generator's arguments.
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'video/mp4' WHEN 1 THEN 'audio/wav'
        |       ELSE 'image/png' END AS mime,
        |  CASE WHEN doc_id % 3 <> 2
        |       THEN CAST(octet_length(encode(text)) AS INTEGER) END AS n_bytes,
        |  CASE WHEN doc_id % 3 = 2 THEN TRUE
        |       ELSE octet_length(encode(text)) > 0 END AS decode_ok,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(8 + doc_id % 16 AS INTEGER) END AS img_width,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(8 + doc_id % 8 AS INTEGER) END AS img_height,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(3 AS INTEGER) END AS img_channels,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 256 AS DOUBLE) END AS img_mean
        |FROM documents""".stripMargin) { (s, dir) =>
      import graft.data.Multimodal
      val mkPng = udf((id: Long) => Multimodal.syntheticPng(
        (8 + id % 16).toInt, (8 + id % 8).toInt, (id % 256).toInt))
      val isPng = pmod(col("doc_id"), lit(3)) === 2
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"),
        element_at(
          array(lit("video/mp4"), lit("audio/wav"), lit("image/png")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("mime"),
        when(isPng, mkPng(col("doc_id")))
          .otherwise(col("text").cast("binary")).as("content"),
        col("text").cast("binary").as("payload"),
        map(lit("src"), col("source")).as("meta"))
      val features = Multimodal.extractFeatures(
        Multimodal.repartitionBySize(media, 1L << 20))
      val png = col("mime") === "image/png"
      features.select(col("media_id"), col("mime"),
        when(!png, length(col("payload"))).as("n_bytes"),
        col("decode_ok"),
        when(png, col("width")).as("img_width"),
        when(png, col("height")).as("img_height"),
        when(png, col("channels")).as("img_channels"),
        when(png, col("mean_sample")).as("img_mean"))
    },

    // Real bilinear image resize (Graphics2D) over synthetic PNGs: the
    // fit-box arithmetic and the constant-fill mean are oracle-predictable,
    // and the decoded output dimensions prove the resize actually ran.
    "q_image_resize" -> Query(
      // fit-box math mirrors resizeImages exactly (same IEEE double ops:
      // LEAST of the two ratios, floor, min dimension 1); constant fill
      // survives bilinear scaling exactly, so out_mean stays the gray level
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(8 + doc_id % 16 AS DOUBLE) AS w,
        |    CAST(8 + doc_id % 8 AS DOUBLE) AS h
        |  FROM documents),
        |s AS (SELECT media_id, w, h, LEAST(1.0, 10.0 / w, 6.0 / h) AS sc FROM m)
        |SELECT media_id,
        |  CAST(GREATEST(1, FLOOR(w * sc)) AS INTEGER) AS out_w,
        |  CAST(GREATEST(1, FLOOR(h * sc)) AS INTEGER) AS out_h,
        |  CAST(media_id % 256 AS DOUBLE) AS out_mean
        |FROM s""".stripMargin) { (s, dir) =>
      import graft.data.Multimodal
      val mkPng = udf((id: Long) => Multimodal.syntheticPng(
        (8 + id % 16).toInt, (8 + id % 8).toInt, (id % 256).toInt))
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"),
        lit("image/png").as("mime"),
        mkPng(col("doc_id")).as("content"))
      val feats = Multimodal.extractFeatures(Multimodal.resizeImages(media, 10, 6))
      feats.select(col("media_id"), col("width").as("out_w"),
        col("height").as("out_h"), col("mean_sample").as("out_mean"))
    },

    // Frame sampling, both seams in one frame: every third doc is a
    // synthetic ANIMATED GIF whose sampled frames decode to REAL pixels
    // (count, dims and per-frame mean all come out of javax.imageio and
    // must match the generative formula the oracle replays); the rest are
    // video rows where no codec exists — index explosion off the metadata
    // count, null pixel columns (the stub seam a real video codec fills).
    "q_frame_sample" -> Query(
      // GIF rows: the oracle replays the synthetic generator's formula — the
      // engine's values must come back through a REAL encode→decode round
      // trip (lossless 256-gray palette makes the mean exact). Video rows:
      // metadata-count explosion, null pixel columns.
      """WITH g AS (
        |  SELECT doc_id, unnest(range(0, 1 + doc_id % 6, 3)) AS fi
        |  FROM documents WHERE doc_id % 3 = 0),
        |v AS (
        |  SELECT doc_id, unnest(range(0, 1 + doc_id % 240, 3)) AS fi
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
        |  CAST(4 + doc_id % 5 AS INTEGER) AS frame_w,
        |  CAST(5 + doc_id % 4 AS INTEGER) AS frame_h,
        |  CAST((doc_id * 31 + fi * 7) % 256 AS DOUBLE) AS frame_mean
        |FROM g
        |UNION ALL
        |SELECT doc_id, CAST(fi AS BIGINT), NULL, NULL, NULL FROM v""".stripMargin) { (s, dir) =>
      import graft.data.Multimodal
      val gifUdf = udf { (id: Long) =>
        val n = (1 + id % 6).toInt
        Multimodal.syntheticGif((4 + id % 5).toInt, (5 + id % 4).toInt,
          (0 until n).map(k => ((id * 31 + k * 7) % 256).toInt))
      }
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("image/gif"))
          .otherwise(lit("video/mp4")).as("mime"),
        when(pmod(col("doc_id"), lit(3)) === 0, gifUdf(col("doc_id")))
          .otherwise(lit(null).cast("binary")).as("content"),
        (lit(1L) + pmod(col("doc_id"), lit(240))).as("n_frames"))
      Multimodal.sampleFramesDecoded(media, 3, "n_frames")
        .select(col("media_id"), col("frame_idx"), col("frame_w"),
          col("frame_h"), col("frame_mean"))
    },

    // ---- beyond-reference relational operators ----

    // Window functions: top-3 orders per customer.
    "q_window_rank" -> Query(
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders
        |QUALIFY rn <= 3""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("rn"))
    },

    // Same contract as q_window_rank through the top_k_by aggregate — the
    // scale path: per-key k-item heaps aggregated partially on the map side
    // (ObjectHashAggregate), so the shuffle carries ≤ k rows per (key, map
    // task) instead of every row, and nothing is ever partition-sorted.
    // Sort key struct(price, -orderkey) = price desc, orderkey asc.
    "q_topk_per_key" -> Query(
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders
        |QUALIFY rn <= 3""".stripMargin) { (s, dir) =>
      val top = graft.exprs.TopKBy.topKBy(
        struct(col("o_totalprice"), (-col("o_orderkey")).as("neg")),
        struct(col("o_orderkey"), col("o_totalprice")), 3)
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(top.as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("col.o_orderkey").as("o_orderkey"), col("o_custkey"),
          col("col.o_totalprice").as("o_totalprice"), (col("pos") + 1).as("rn"))
    },

    // Frequent items via the SpaceSaving sketch: top-10 most active users.
    // capacity 4096 ≥ distinct users at every test scale, so counts are
    // EXACT here and the plain GROUP BY oracle applies; at 100-TB
    // cardinalities the same one-pass plan degrades gracefully to the
    // published ε = N/capacity guarantees instead of shuffling one row per
    // distinct key. Output exploded to (user_id, n_events) rows.
    "q_heavy_hitters" -> Query(
      // exact at this capacity (distinct users ≪ 4096), so the sketch must
      // reproduce the true counts bit-for-bit
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .agg(graft.exprs.HeavyHitters.heavyHitters(col("user_id"), 10, 4096).as("top"))
        .select(explode(col("top")).as("h"))
        .select(col("h.item").as("user_id"), col("h.count").as("n_events"))
    },

    // Approximate regime of the SpaceSaving sketch: a skewed item column
    // with distinct ≫ capacity (at sf0.01: ~3,005 distinct vs capacity 256;
    // 5 hot items at ~14% of N each, 30% singleton tail), so eviction, the
    // floor-carrying merge, and post-merge truncation all actually run.
    // The sketch's item set is not deterministic, so the output is a single
    // row of guarantee checks the oracle can state as constants: every
    // returned count bounds its exact GROUP BY truth from above, count −
    // error bounds it from below, per-item error stays within 8·N/capacity
    // (analytic bound with safety margin), and every true heavy hitter
    // (> 4·N/capacity) is present among the returned entries.
    "q_heavy_hitters_approx" -> Query(
      // The sketch side must make every guarantee column land on the
      // constants below; n_returned is deterministic (the merge truncates to
      // exactly capacity whenever distinct exceeds it).
      """WITH it AS (
        |  SELECT CASE WHEN event_id % 10 < 7 THEN event_id % 5
        |              ELSE event_id END AS item
        |  FROM events),
        |tot AS (SELECT count(*) AS n, count(DISTINCT item) AS n_distinct FROM it),
        |truth AS (SELECT item, count(*) AS true_n FROM it GROUP BY item)
        |SELECT
        |  (SELECT n FROM tot) AS n_events,
        |  (SELECT n_distinct FROM tot) AS n_distinct,
        |  CAST(LEAST((SELECT n_distinct FROM tot), 256) AS BIGINT) AS n_returned,
        |  (SELECT count(*) FROM truth, tot WHERE true_n > 4.0 * n / 256) AS n_true_hh,
        |  TRUE AS overestimates_ok,
        |  TRUE AS lower_bound_ok,
        |  TRUE AS error_bound_ok,
        |  TRUE AS all_hh_present""".stripMargin) { (s, dir) =>
      val cap = 256
      val ev = Tables.events(s, dir)
        .select(when(col("event_id") % 10 < 7, col("event_id") % 5)
          .otherwise(col("event_id")).as("item"))
      val sk = ev
        .agg(graft.exprs.HeavyHitters.heavyHitters(col("item"), cap, cap).as("top"))
        .select(explode(col("top")).as("h"))
        .select(col("h.item").as("item"), col("h.count").as("est"),
          col("h.error").as("err"))
      val truth = ev.groupBy("item").agg(count(lit(1)).as("true_n"))
      val tot = ev.agg(count(lit(1)).as("n"),
        countDistinct(col("item")).as("n_distinct"))
      val hhTrue = truth.crossJoin(tot)
        .filter(col("true_n") > lit(4.0) * col("n") / cap)
        .agg(count(lit(1)).as("n_true_hh"))
      sk.join(truth, Seq("item")).crossJoin(broadcast(tot))
        .agg(
          first(col("n")).as("n_events"),
          first(col("n_distinct")).as("n_distinct"),
          count(lit(1)).as("n_returned"),
          (sum(when(col("est") < col("true_n"), 1L).otherwise(0L)) === 0L)
            .as("overestimates_ok"),
          (sum(when(col("est") - col("err") > col("true_n"), 1L).otherwise(0L)) === 0L)
            .as("lower_bound_ok"),
          (sum(when(col("err") > lit(8.0) * col("n") / cap, 1L).otherwise(0L)) === 0L)
            .as("error_bound_ok"),
          sum(when(col("true_n") > lit(4.0) * col("n") / cap, 1L).otherwise(0L))
            .as("hh_returned"))
        .crossJoin(broadcast(hhTrue))
        .select(col("n_events"), col("n_distinct"), col("n_returned"),
          col("n_true_hh"), col("overestimates_ok"), col("lower_bound_ok"),
          col("error_bound_ok"),
          (col("hh_returned") === col("n_true_hh")).as("all_hh_present"))
    },

    // Point-in-interval (range) join via bucketing: every error event opens
    // a 30-minute incident window; count and value-sum the events inside
    // each window. A naive inequality join is a BroadcastNestedLoopJoin —
    // O(incidents × events); RangeJoin manufactures a bucket equi-key so the
    // match runs as an ordinary hash join (see RangeJoin.scala scaladoc).
    "q_range_join" -> Query(
      // Inequality-join truth for the bucketed range join: same half-open
      // containment, micros domain (DuckDB's parquet scan already truncated
      // events.ts to micros, matching eventsUsPrecision).
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS tus, value, event_type
        |            FROM events),
        |iv AS (SELECT event_id AS incident_id, tus AS w_start,
        |              tus + 1800000000 AS w_end
        |       FROM ev WHERE event_type = 'error')
        |SELECT iv.incident_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(p.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM iv JOIN ev p ON p.tus >= iv.w_start AND p.tus < iv.w_end
        |GROUP BY iv.incident_id""".stripMargin) { (s, dir) =>
      val winUs = 1800L * 1000000 // 30 min in micros
      val ev = eventsUsPrecision(s, dir)
        .withColumn("tus", expr("ts_ns div 1000"))
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"), col("tus").as("w_start"),
          (col("tus") + winUs).as("w_end"))
      val points = ev.select(col("event_id").as("pt_id"), col("tus").as("pt_ts"),
        col("value").as("pt_value"))
      operators.RangeJoin.pointInInterval(
          incidents, points, "w_start", "w_end", "pt_ts", bucketWidth = winUs)
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(pt_value * 100) AS BIGINT)")).as("value_cents"))
    },

    // Hopping (sliding) time-window aggregation: 1-day windows every 6 hours
    // per event type — the batch form of the streaming windowed-agg operator
    // (same `window()` function runs under readStream + watermark). Each row
    // lands in width/hop = 4 windows; the explode happens before the partial
    // aggregation, so the shuffle carries (window, type) partials, not rows.
    "q_window_hopping" -> Query(
      // Batch and streaming hopping-window forms are held to the IDENTICAL
      // truth — the two paths must agree under the driver gate.
      hoppingOracle) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("event_type"), col("n_events"), col("value_cents"))
    },

    // Hopping windows, STREAMING form: the native stateful windowed-agg
    // operator itself (same `window()` call under readStream + watermark),
    // driven through MemoryStream and held to the SAME oracle as the batch
    // form — the q_sessionize_stream harness shape. All real events arrive
    // in micro-batch 0; a far-future sentinel advances the watermark past
    // every real window's close. The sentinel's own windows never close, so
    // they never emit.
    "q_window_hopping_stream" -> Query(hoppingOracle) { (s, dir) =>
      val rows = eventsUsPrecision(s, dir)
        .select(expr("ts_ns div 1000").as("tus"), col("event_type"), col("value"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val maxTus = rows.map(_._1).max
      val events = memoryStream[(Long, String, Double)](s, "tus", "event_type", "value")(
        rows.toSeq, Seq((maxTus + 3L * 86400000000L, "__sentinel", 0.0)))
        .select(timestamp_micros(col("tus")).as("ts"), col("event_type"), col("value"))
        .withWatermark("ts", "0 seconds")
      val agg = events
        .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("event_type"), col("n_events"), col("value_cents"))
      drainStream(s, "hop", agg).filter(col("event_type") =!= "__sentinel")
    },

    // Bloom-pruned selective join (hand-rolled runtime filter): lineitems of
    // urgent-priority orders. The Bloom prefilter drops ~4/5 of the fact
    // rows before any join work at a few-hundred-KB broadcast cost — the
    // shape that matters at 100 TB, where shuffling never-matching fact rows
    // IS the query cost. Output is the guarantee-assertion pattern
    // (q_approx_distinct style): exact truth columns the oracle recomputes,
    // plus booleans for the Bloom contract (no false negative ever; false
    // positives within 5× the configured fpp; pruning actually selective).
    "q_bloom_prune" -> Query(
      // Exact truth columns recomputed; the Bloom-contract booleans are
      // guarantee constants (no false negative by construction; fp and
      // selectivity bounds hold with wide margin at every test scale).
      """WITH u AS (SELECT o_orderkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT'),
        |t AS (SELECT l_extendedprice FROM lineitem
        |      WHERE l_orderkey IN (SELECT o_orderkey FROM u))
        |SELECT
        |  (SELECT count(*) FROM u) AS n_urgent,
        |  count(*) AS n_matched,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  TRUE AS no_false_negatives,
        |  TRUE AS fp_rate_ok,
        |  TRUE AS prune_selective
        |FROM t""".stripMargin) { (s, dir) =>
      val fpp = 0.01
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
      val bf = operators.BloomPrune.buildLong(urgent, "o_orderkey",
        expectedItems = urgent.count(), fpp = fpp)
      // single fact-side pass: per-row membership + bloom-pass flags, one
      // aggregate over the flags (the earlier 5-aggregate form re-scanned
      // lineitem and re-ran the probe three times)
      val flagged = li
        .join(broadcast(urgent.withColumn("__member", lit(1L))),
          col("l_orderkey") === col("o_orderkey"), "left")
        .withColumn("__pass",
          operators.BloomPrune.mightContainLong(bf, "l_orderkey")
            .cast("long"))
        .withColumn("__cents", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      val nUrgent = urgent.agg(count(lit(1)).as("n_urgent"))
      flagged.agg(
          count(lit(1)).as("n_li"),
          sum(coalesce(col("__member"), lit(0L))).as("n_matched"),
          sum(when(col("__member").isNotNull, col("__cents")).otherwise(0L))
            .as("revenue_cents"),
          sum(col("__pass")).as("n_pass"),
          sum(when(col("__member").isNotNull && col("__pass") === 0L, 1L)
            .otherwise(0L)).as("n_missed"))
        .crossJoin(broadcast(nUrgent))
        .select(col("n_urgent"), col("n_matched"), col("revenue_cents"),
          (col("n_missed") === 0L).as("no_false_negatives"),
          ((col("n_pass") - col("n_matched")).cast("double")
            <= lit(5 * fpp) * (col("n_li") - col("n_matched"))).as("fp_rate_ok"),
          (col("n_pass") < lit(0.5) * col("n_li")).as("prune_selective"))
    },

    // Corpus-mix weights APPLIED: deterministic weighted Bernoulli keep —
    // acceptance probability = min(weight_micro/1e6, 1), decided by
    // comparing the row's md5 hash draw against a per-row hex threshold
    // (8-char zero-padded hex compares lexicographically = numerically, so
    // both engines decide identically, integer-exact). Scan-local after the
    // broadcast weight join; zero extra shuffles — the rejection-sampling
    // path to a target language mix at 100 TB.
    "q_weighted_sample" -> Query(
      // Same weight derivation as the q_mix_weights oracle, then the same
      // hash-draw-vs-hex-threshold decision per row.
      """WITH sh AS (
        |  SELECT lang,
        |    count(*) / (SELECT count(*) FROM documents)::DOUBLE AS share
        |  FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, CAST(floor(
        |    (CASE lang WHEN 'en' THEN 0.4 WHEN 'es' THEN 0.2
        |      WHEN 'de' THEN 0.2 WHEN 'fr' THEN 0.2 ELSE 0.0 END
        |     / share) * 1000000.0) AS BIGINT) AS weight_micro
        |  FROM sh),
        |k AS (
        |  SELECT d.doc_id, d.lang, w.weight_micro,
        |    substring(md5('wsamp' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS draw,
        |    least((w.weight_micro * 4294967296) // 1000000, 4294967296)
        |      AS thr
        |  FROM documents d JOIN w USING (lang))
        |SELECT doc_id, lang, weight_micro FROM k
        |WHERE weight_micro >= 1000000
        |   OR draw < lpad(lower(hex(thr)), 8, '0')""".stripMargin) { (s, dir) =>
      import graft.data.Sampling
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val w = Sampling.mixWeights(docs, "lang",
        Map("en" -> 0.4, "es" -> 0.2, "de" -> 0.2, "fr" -> 0.2))
      val draw = Sampling.hashDraw(col("doc_id"), "wsamp")
      val thr = least(expr("(weight_micro * 4294967296) div 1000000"),
        lit(4294967296L))
      w.filter(col("weight_micro") >= 1000000L ||
          draw < lpad(lower(hex(thr)), 8, "0"))
        .select(col("doc_id"), col("lang"), col("weight_micro"))
    },

    // Corpus n-gram vocabulary: bigram occurrence totals + document
    // frequencies with a min-df cutoff — the building block behind
    // contamination checks, LM vocabularies, and top-gram boilerplate
    // detection. Explode feeds a partial-aggregated groupBy; the shuffle
    // carries (gram, doc) pairs for the distinct count, never raw text.
    "q_ngram_counts" -> Query(
      // Same 1-based inclusive-slice bigram construction as the
      // contamination oracle, without the per-doc distinct.
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))])
        |      AS gram
        |  FROM toks WHERE len(t) >= 2)
        |SELECT gram, count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS doc_freq
        |FROM g GROUP BY gram
        |HAVING count(DISTINCT doc_id) >= 3""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      // materialize the token array as a COLUMN before the lambda: an
      // inlined tokens(text) expression is re-evaluated (regex split and
      // all) on every per-element lambda application inside transform —
      // O(tokens) splits per document (measured 3.4 s → 0.6 s at sf0.1)
      val t = col("t")
      val grams = when(size(t) < 2,
          array().cast(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))
        .otherwise(transform(sequence(lit(1), size(t) - 1),
          i => concat_ws(" ", slice(t, i, lit(2)))))
      // two-stage on purpose: the (gram, doc_id) pre-aggregate lets the
      // map-side partial combine collapse per-OCCURRENCE rows to
      // per-(gram, doc) rows before anything shuffles, and the second
      // aggregate derives both outputs (sum n = occurrences, count rows =
      // doc_freq) from that one compacted stream — vs countDistinct over
      // raw occurrences, which carries every occurrence into the exchange
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"), explode(grams).as("gram"))
        .groupBy(col("gram"), col("doc_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("gram"))
        .agg(sum(col("n")).as("n_occurrences"),
          count(lit(1)).as("doc_freq"))
        .filter(col("doc_freq") >= 3)
    },

    // Quantile sketch under its rank-error contract — the third classic
    // sketch row (HLL: q_approx_distinct; SpaceSaving: q_heavy_hitters_
    // approx). percentile_approx at accuracy 100 (ε ≈ 1%) is one-pass,
    // mergeable, fixed-size — vs the full sort an exact percentile costs at
    // 100 TB. The sketch value's exact rank (recomputed over the data) must
    // sit within p ± 5ε, and every returned value must be an actual element.
    // Oracle states the guarantees as constants-on-truth plus the exact row
    // count (the estimator is deterministic on fixed data, no RNG).
    "q_quantile_sketch" -> Query(
      // Rank-error guarantees as constants-on-truth; exact count pinned.
      """SELECT count(*) AS n_events,
        |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok,
        |  TRUE AS elements_ok
        |FROM events""".stripMargin) { (s, dir) =>
      val tol = 0.05 // 5 x (1/accuracy) safety, same margin style as HLL row
      val ev = Tables.events(s, dir)
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val sk = ev.agg(
        expr("percentile_approx(cents, array(0.5D, 0.9D, 0.99D), 100)").as("q"),
        count(lit(1)).as("n"))
      val probes = Seq(0.5 -> 0, 0.9 -> 1, 0.99 -> 2)
      val agg = ev.crossJoin(broadcast(sk)).agg(
        first(col("n")).as("n_events"),
        probes.flatMap { case (_, i) =>
          Seq(
            sum(when(col("cents") < col("q")(i), 1L).otherwise(0L)).as(s"lt_$i"),
            sum(when(col("cents") <= col("q")(i), 1L).otherwise(0L)).as(s"le_$i"),
            sum(when(col("cents") === col("q")(i), 1L).otherwise(0L)).as(s"eq_$i"))
        }: _*)
      val checks = probes.map { case (p, i) =>
        ((col(s"lt_$i") <= (lit(p) + tol) * col("n_events")) &&
          (col(s"le_$i") >= (lit(p) - tol) * col("n_events")))
          .as(s"p${(p * 100).toInt}_ok")
      }
      val isElem = probes.map { case (_, i) => col(s"eq_$i") > 0L }
        .reduce(_ && _).as("elements_ok")
      agg.select((col("n_events") +: checks :+ isElem): _*)
    },

    // Per-label embedding centroid sums (class prototypes — the reduce step
    // of k-means/SemDeDup) in fixed-point: integer sums per (label, dim)
    // are partition-invariant where float sums are not, so the oracle and
    // any cluster layout agree bit-for-bit. Map-side partial aggregation on
    // (label, pos); the shuffle carries labels x dims partials, not vectors.
    "q_embed_centroids" -> Query(
      // Zipped unnest (DuckDB zips equal-length unnests in one SELECT) gives
      // (element, 0-based pos) pairs matching Spark's posexplode; identical
      // float→double→trunc fixed-point pipeline on both sides.
      """WITH x AS (SELECT label,
        |    unnest(embedding) AS v,
        |    unnest(range(len(embedding))) AS pos
        |  FROM embeddings)
        |SELECT label, pos, count(*) AS n_vecs,
        |  CAST(sum(CAST(trunc(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
        |    AS sum_q
        |FROM x GROUP BY label, pos""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        // double→long CAST truncates toward zero in Spark ≡ DuckDB trunc()
        .withColumn("qv", expr("CAST(CAST(col AS DOUBLE) * 1000000 AS BIGINT)"))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("qv")).as("sum_q"))
    },

    // Trailing time-range window aggregates: per user, the 1-hour trailing
    // event count and cents sum AT EACH EVENT (RANGE frame over event time,
    // peers included — deterministic under ts ties by definition). One
    // shuffle by user_id + in-partition sort; the frame is a sliding
    // pointer pass, never a per-row rescan.
    "q_rolling_window" -> Query(
      // Same RANGE frame semantics over the shared micros domain; DuckDB's
      // windowed sum(BIGINT) returns HUGEINT, hence the cast.
      """SELECT event_id, user_id, epoch_us(ts) AS tus,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
        |    AS cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-3599999999L, 0) // [t - 1h, t], half-open start
      eventsUsPrecision(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("tus"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .select(col("event_id"), col("user_id"), col("tus"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("cents")).over(w).as("cents_1h"))
    },

    // Pivot (crosstab) aggregation: per-user-bucket cents by event type.
    // Pivot values are DECLARED, not discovered — the discovery variant
    // runs a distinct job over the full input first, which is a needless
    // extra pass at 100 TB.
    "q_pivot" -> Query(
      // Conditional aggregation is the portable spelling of PIVOT; absent
      // (bucket, type) pairs are NULL on both sides.
      """SELECT user_id % 100 AS bucket,
        |  CAST(sum(CASE WHEN event_type = 'view'
        |    THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'click'
        |    THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup'
        |    THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error'
        |    THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS error
        |FROM events GROUP BY user_id % 100""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("bucket", col("user_id") % 100)
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
        .groupBy(col("bucket"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(sum(col("cents")))
    },

    // Ordered first-touch funnel (view → click → purchase per user): the
    // compose-built-ins form is 3 groupBy+join-back rounds; Funnel does it
    // in ONE shuffle with a per-key state machine over a sorted linear pass
    // (AsOfJoin.sortMerge shape). Oracle is the 3-round chained-min SQL.
    "q_funnel" -> Query(
      // Chained-min truth for the one-shuffle funnel: each step is the min
      // event time strictly after the previous step's first touch.
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_type
        |            FROM events),
        |v AS (SELECT user_id, min(tus) AS t1 FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT ev.user_id, min(tus) AS t2 FROM ev
        |      JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND tus > v.t1 GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, min(tus) AS t3 FROM ev
        |      JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND tus > c.t2 GROUP BY ev.user_id)
        |SELECT v.user_id,
        |  CASE WHEN p.t3 IS NOT NULL THEN 3
        |       WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS reached,
        |  v.t1 AS t1_us, c.t2 AS t2_us, p.t3 AS t3_us
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin) { (s, dir) =>
      val ev = eventsUsPrecision(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
          col("event_type"))
      operators.Funnel.firstTouch(ev, "user_id", "tus", "event_type",
          Seq("view", "click", "purchase"))
        .select(col("user_id"), col("reached"), col("ts_1").as("t1_us"),
          col("ts_2").as("t2_us"), col("ts_3").as("t3_us"))
    },

    // Funnel, STREAMING form: per-key buffered step events, finalized by
    // the exact batch transition when the key goes inactive (event-time
    // timeout) — so burst results match the batch operator independent of
    // arrival order. Millisecond domain (flatMapGroupsWithState native
    // precision), hence the ms-precision chained-min oracle; with the
    // whole history in micro-batch 0 the single finalize covers it all.
    "q_funnel_stream" -> Query(
      // The streaming funnel's truth at its ms precision — same chained
      // strict-greater minima as the batch funnel oracle.
      """WITH ev AS (SELECT user_id, epoch_ms(ts) AS tms, event_type
        |            FROM events),
        |v AS (SELECT user_id, min(tms) AS t1 FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT ev.user_id, min(tms) AS t2 FROM ev
        |      JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND tms > v.t1 GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, min(tms) AS t3 FROM ev
        |      JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND tms > c.t2 GROUP BY ev.user_id)
        |SELECT v.user_id,
        |  CASE WHEN p.t3 IS NOT NULL THEN 3
        |       WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS reached,
        |  v.t1 AS t1_ms, c.t2 AS t2_ms, p.t3 AS t3_ms
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id
        |LEFT JOIN p ON v.user_id = p.user_id""".stripMargin) { (s, dir) =>
      val rows = eventsUsPrecision(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
          col("event_type"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val maxTus = rows.map(_._2).max
      val events = memoryStream[(Long, Long, String)](s, "user_id", "tus", "event_type")(
        rows.toSeq, Seq((-1L, maxTus + 30L * 86400000000L, "view"))) // watermark sentinel
        .select(col("user_id"), timestamp_micros(col("tus")).as("ts"),
          col("event_type"))
      val funnel = operators.Funnel.firstTouchStreaming(
        events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), gapMs = 3600L * 1000,
        watermarkDelay = "0 seconds")
      drainStream(s, "funnel", funnel).filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("reached"), col("ts_1").as("t1_ms"),
          col("ts_2").as("t2_ms"), col("ts_3").as("t3_ms"))
    },

    // Cohort retention: cohort = a user's first active epoch-week; one row
    // per (cohort, week offset) with the distinct-user count. Every shuffle
    // is keyed by user_id until the final tiny (cohort, offset) aggregate,
    // so the plan is a 100 TB clickstream shape.
    "q_cohort_retention" -> Query(
      // Distinct (user, week) activity against each user's first week.
      """WITH a AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id)
        |SELECT f.cohort_wk, a.wk - f.cohort_wk AS week_offset,
        |  count(*) AS n_active
        |FROM a JOIN f USING (user_id)
        |GROUP BY f.cohort_wk, a.wk - f.cohort_wk""".stripMargin) { (s, dir) =>
      val weekUs = 604800000000L
      val active = eventsUsPrecision(s, dir)
        .select(col("user_id"),
          expr(s"(ts_ns div 1000) div $weekUs").as("wk"))
        .distinct()
      val cohorts = active.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      active.join(cohorts, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
    },

    // Two-phase salted aggregation (Skew.saltedAgg): event_type has 5 hot
    // keys, the worst case for a direct groupBy at scale (5 reducers own all
    // rows). Salting fans each key over 32 partials, then merges partials on
    // the key alone — exact, and the oracle is the plain GROUP BY truth.
    // Cents domain so the double-sum ordering nondeterminism of the salted
    // two-phase plan never reaches the hash compare.
    "q_salted_agg" -> Query(
      // The salted two-phase plan must land on the plain GROUP BY truth.
      """SELECT event_type,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("value_cents", expr("CAST(round(value * 100) AS BIGINT)"))
      operators.Skew.saltedSumCount(ev, Seq("event_type"), "value_cents", 32)
        .select(col("event_type"), col("sum_v").as("value_cents"),
          col("cnt").as("n_events"))
    },

    // Broadcast-hash join + ROLLUP aggregation: revenue by region/nation.
    // nation/region are broadcast (tiny dims) — orders never shuffles for
    // the join, only for the final rollup aggregation.
    "q_rollup_join" -> Query(
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name)""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    },

    // CUBE aggregation (all grouping-set combinations of priority×status):
    // same partial-agg-then-shuffle shape as ROLLUP, one extra expand
    // factor — grouping_id disambiguates the NULL-as-total rows.
    "q_cube" -> Query(
      // DuckDB GROUPING() composes the same bitmask as Spark's grouping_id
      // (left operand = high bit).
      """SELECT o_orderpriority, o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS gid
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          grouping_id().as("gid"))
    },

    // Full outer join: per-user purchase vs view cents — users appearing on
    // either side survive with NULLs on the absent side. Both inputs are
    // pre-aggregated per key BEFORE the join, so the wide join carries one
    // row per (user, side), never raw events.
    "q_full_outer" -> Query(
      """WITH p AS (
        |  SELECT user_id AS p_uid,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS p_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |v AS (
        |  SELECT user_id AS v_uid,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        |  FROM events WHERE event_type = 'view' GROUP BY user_id)
        |SELECT coalesce(p_uid, v_uid) AS user_id, p_cents, v_cents
        |FROM p FULL OUTER JOIN v ON p_uid = v_uid""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("cents", expr("CAST(round(value * 100) AS BIGINT)"))
      def side(t: String, out: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id").as(s"${out}_uid"))
        .agg(sum(col("cents")).as(s"${out}_cents"))
      side("purchase", "p").join(side("view", "v"),
          col("p_uid") === col("v_uid"), "full_outer")
        .select(coalesce(col("p_uid"), col("v_uid")).as("user_id"),
          col("p_cents"), col("v_cents"))
    },

    // Semi/anti joins: customers with ≥1 order but no order above 400k.
    "q_semi_anti" -> Query(
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  AND c_custkey NOT IN (
        |    SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val big = o.filter(col("o_totalprice") > 400000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },

    // Set operations: users who purchased but never viewed (EXCEPT), and
    // the purchase∩signup overlap (INTERSECT), tagged and unioned.
    "q_setops" -> Query(
      """SELECT user_id, 'purchase_no_view' AS tag FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'view')
        |UNION ALL
        |SELECT user_id, 'purchase_and_signup' AS tag FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'signup')""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
      val exceptSet = users("purchase").except(users("view"))
        .withColumn("tag", lit("purchase_no_view"))
      val intersectSet = users("purchase").intersect(users("signup"))
        .withColumn("tag", lit("purchase_and_signup"))
      exceptSet.unionByName(intersectSet)
    },

    // Global top-k with deterministic tie-break (TakeOrderedAndProject —
    // no full sort at scale).
    "q_topk" -> Query(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .limit(10)
    },

    // Distinct aggregation: suppliers and exact+approx order counts per part.
    "q_distinct_agg" -> Query(
      """SELECT l_partkey,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_partkey""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    },

    // A (beyond-reference) pushed-down scan + grouped aggregation, TPC-H Q1
    // shape: partial (map-side) aggregation then a 2-key shuffle — the plan
    // that survives 100x scale-up because the shuffle carries only
    // (flag,status) partials, never raw rows.
    "q1_agg" -> Query(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },

    // Deterministic hash sampling for training-data curation: membership
    // is a pure function of md5(salt || key) — stable across runs,
    // engines, partitionings, and scale (df.sample() is none of those).
    // One scan, zero shuffles: sample filter and split assignment both
    // evaluate inside the scan projection.
    "q_sample_split" -> Query(
      // Deterministic hash sampling: md5 is md5 in every engine, and
      // lexicographic comparison of the zero-padded hex prefix equals
      // numeric comparison — so membership replicates bit-for-bit.
      // Thresholds: 0.25→'40000000', 0.8→'cccccccc', 0.9→'e6666666'
      // (floor(f·2^32) as 8 hex digits).
      """SELECT doc_id, lang,
        |  CASE WHEN substring(md5('cut' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |       WHEN substring(md5('cut' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents
        |WHERE substring(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'""".stripMargin) { (s, dir) =>
      import graft.data.Sampling
      Sampling.bernoulli(Tables.documents(s, dir), "doc_id", 0.25, salt = "mix")
        .select(col("doc_id"), col("lang"),
          Sampling.splitAssign(col("doc_id"),
            Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = "cut")
            .as("split"))
    },

    // Per-stratum quota sample: the 50 docs of each language with the
    // smallest hash draws — a deterministic n-per-group for mixture
    // balancing. One shuffle (by stratum), inherent to the semantics.
    "q_sample_stratified" -> Query(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY substring(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50""".stripMargin) { (s, dir) =>
      import graft.data.Sampling
      Sampling.stratifiedQuota(Tables.documents(s, dir), "lang", "doc_id",
          quota = 50, salt = "strat")
        .select(col("doc_id"), col("lang"))
    },

    // Corpus-level statistics for data-quality monitoring: per-language
    // doc/token totals and exact token-count quantiles (linear
    // interpolation — identical definition in DuckDB's quantile_cont).
    // Partial aggregation before the single group-by-language shuffle;
    // the percentile's per-group buffer is bounded by group cardinality,
    // and at 100 TB the same query would swap `percentile` for
    // `approx_percentile` (t-digest) — noted, not needed at test scale.
    "q_corpus_stats" -> Query(
      // quantile_cont = linear interpolation, the same definition as Spark's
      // exact percentile(); integer qualityMilli replicates q_text_quality's
      // expression so the per-language sums are exact.
      """WITH t AS (SELECT lang,
        |    len(string_split_regex(trim(text), '\s+')) AS toks,
        |    least(len(string_split_regex(trim(text), '\s+')), 100) * 4
        |      + (300 - least((length(regexp_replace(text, '[^[:punct:]]', '', 'g')) * 1500)
        |          // length(text), 300))
        |      + least((len(list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> x IN ('the','and','of','to','in','is','you','that','it','for'))) * 3000)
        |          // len(string_split_regex(trim(text), '\s+')), 300) AS qm
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
        |  round(quantile_cont(toks, 0.5), 1) AS p50_tokens,
        |  round(quantile_cont(toks, 0.9), 1) AS p90_tokens,
        |  CAST(sum(qm) AS BIGINT) AS sum_quality_milli
        |FROM t GROUP BY lang""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions._
      Tables.documents(s, dir)
        .select(col("lang"), tokenCount(col("text")).as("toks"),
          qualityMilli(col("text")).as("qm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("sum_tokens"),
          round(expr("percentile(toks, 0.5)"), 1).as("p50_tokens"),
          round(expr("percentile(toks, 0.9)"), 1).as("p90_tokens"),
          sum(col("qm")).as("sum_quality_milli"))
    },

    // Shared-substring candidate pairs via winnowing fingerprints (the
    // corpus-level MOSS step): inverted index over (doc, fp), df-capped
    // posting lists, in-list pair expansion, count of shared fps per
    // pair. Catches copied passages / boilerplate that word-level
    // Jaccard dilutes away on long documents.
    "q_winnow_pairs" -> Query(
      // Same integer winnowing pipeline as q_winnow_fingerprint, then the
      // pair layer: df-capped fingerprints, in-list pairs, shared count.
      """WITH n AS (SELECT doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    [list_reduce([CAST(unicode(t[j]) AS BIGINT) for j in range(i, i+8)],
        |       (a,b) -> (a*257+b) % 1000000007)
        |     for i in range(1, len(t)-8+2)] AS hs
        |  FROM n WHERE len(t) >= 11),
        |w AS (SELECT doc_id,
        |    list_distinct([list_min(hs[i:i+3]) for i in range(1, len(hs)-4+2)]) AS fps
        |  FROM h),
        |fps AS (SELECT doc_id, unnest(fps) AS fp FROM w),
        |capped AS (SELECT fp FROM fps GROUP BY fp
        |           HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |WHERE a.fp IN (SELECT fp FROM capped)
        |GROUP BY 1, 2
        |HAVING count(*) >= 20""".stripMargin) { (s, dir) =>
      graft.data.TextFunctions.winnowPairs(Tables.documents(s, dir),
        "doc_id", "text", k = 8, w = 4, minShared = 20, maxDf = 50)
    },

    // Segment-level (line-level) corpus dedup — the CCNet/RefinedWeb
    // boilerplate pass: drop every repeated 20-token segment except its
    // first corpus-wide occurrence (min (doc_id, seg_idx)), rebuild each
    // doc from what survives. One shuffle by segment fingerprint + one
    // groupBy(doc) reassembly; no broadcast, no collect — hot segments
    // cost one winner row, not a hot partition.
    "q_segment_dedup" -> Query(
      // Segment dedup: same 20-token windows, first occurrence = min
      // (doc_id, seg_idx) per md5(segment), docs rebuilt from kept segments.
      """WITH toks AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sa AS (SELECT doc_id,
        |    [array_to_string(t[i:i+19], ' ') for i in range(1, len(t)+1, 20)] AS segs
        |  FROM toks WHERE len(t) > 0 AND t != ['']),
        |segs AS (SELECT doc_id,
        |    CAST(generate_subscripts(segs, 1) - 1 AS BIGINT) AS seg_idx,
        |    unnest(segs) AS seg FROM sa),
        |ranked AS (SELECT *, row_number()
        |    OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs)
        |SELECT doc_id, count(*) AS n_segments,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
        |    ORDER BY seg_idx), '') AS dedup_text
        |FROM ranked GROUP BY doc_id""".stripMargin) { (s, dir) =>
      graft.data.SegmentDedup.byTokenWindows(Tables.documents(s, dir),
        "doc_id", "text", windowTokens = 20)
    },

    // Sequence packing (concat-and-chunk): the corpus laid out as fixed
    // 512-token training sequences over 8 deterministic hash-ordered
    // shard streams; per doc its stream offset and the sequence range it
    // spans. Window prefix-sum per shard — one shuffle, no state; shard
    // count is the parallelism knob at 100 TB.
    "q_pack_sequences" -> Query(
      // Concat-and-chunk packing plan: identical shard/draw/prefix-sum
      // pipeline; // is DuckDB floor division (all operands non-negative).
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |    substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 8) AS draw
        |  FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) > 0),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard
        |    ORDER BY draw, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum - n_tokens AS BIGINT) AS tok_start,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_first,
        |  CAST((cum - 1) // 512 AS BIGINT) AS seq_last
        |FROM c""".stripMargin) { (s, dir) =>
      graft.data.Packing.packPlan(Tables.documents(s, dir), "doc_id",
        graft.data.TextFunctions.tokenCount(col("text")),
        seqLen = 512, nShards = 8)
    },

    // Wide→long melt (the inverse of q_pivot) via the native `unpivot`
    // operator: four lineitem money columns become (metric, cents) rows
    // BEFORE the aggregation, so the groupBy sees a single long column.
    // Unpivot is a scan-local Expand — zero extra shuffles; the only
    // exchange is the final (flag, metric) partial-agg'd groupBy.
    "q_unpivot" -> Query(
      """WITH li AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS quantity_cents,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |    CAST(round(l_discount * 100) AS BIGINT) AS discount_cents,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax_cents
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, 'quantity_cents' AS metric, quantity_cents AS cents FROM li
        |  UNION ALL
        |  SELECT l_returnflag, 'price_cents', price_cents FROM li
        |  UNION ALL
        |  SELECT l_returnflag, 'discount_cents', discount_cents FROM li
        |  UNION ALL
        |  SELECT l_returnflag, 'tax_cents', tax_cents FROM li)
        |SELECT l_returnflag, metric, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  max(cents) AS max_cents
        |FROM m GROUP BY l_returnflag, metric""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("quantity_cents"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("discount_cents"),
        expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax_cents"))
      li.unpivot(Array(col("l_returnflag")),
          Array(col("quantity_cents"), col("price_cents"),
            col("discount_cents"), col("tax_cents")),
          "metric", "cents")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          max(col("cents")).as("max_cents"))
    },

    // Equi-width histogram over a column's full range — the numeric
    // profiling primitive. Pass 1 computes global (min, max) — a 16-byte
    // all-to-one partial agg; pass 2 buckets every row scan-locally
    // against the broadcast bounds (integer arithmetic end to end, so
    // bucket edges are bit-deterministic across engines). Two scans, one
    // tiny broadcast, one 20-row groupBy — the shape that holds at 100 TB.
    "q_histogram" -> Query(
      """WITH c AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |mm AS (SELECT min(cents) AS min_c, max(cents) AS max_c FROM c)
        |SELECT least(19, (cents - min_c) * 20 // (max_c - min_c + 1)) AS bucket,
        |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM c, mm GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val bounds = li.agg(min(col("cents")).as("min_c"), max(col("cents")).as("max_c"))
      li.crossJoin(broadcast(bounds))
        .select(least(lit(19L),
            expr("(cents - min_c) * 20 div (max_c - min_c + 1)")).as("bucket"),
          col("cents"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
    },

    // Robust outlier gate (median/MAD, the Hampel filter): per event type,
    // the discrete median of value-cents, the median absolute deviation,
    // and how many events sit beyond 3×MAD. Discrete median = the element
    // at rank (n+1)/2, exact and engine-portable where interpolated
    // medians are float-fragile. Exact ranks need a per-key sort (two
    // window passes over the key partitioning — ONE shuffle, reused);
    // at 100 TB the same gate runs on approx_percentile and keeps this
    // exact path for audit slices.
    "q_mad_outliers" -> Query(
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt FROM e),
        |med AS (SELECT event_type, cents AS med_cents FROM r WHERE rn = (cnt + 1) // 2),
        |d AS (SELECT e.event_type, med.med_cents,
        |    abs(e.cents - med.med_cents) AS adev
        |  FROM e JOIN med USING (event_type)),
        |rd AS (SELECT event_type, adev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt FROM d),
        |mad AS (SELECT event_type, adev AS mad_cents FROM rd WHERE rn = (cnt + 1) // 2)
        |SELECT d.event_type, count(*) AS n,
        |  max(d.med_cents) AS med_cents,
        |  max(mad.mad_cents) AS mad_cents,
        |  CAST(sum(CASE WHEN d.adev > 3 * mad.mad_cents THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM d JOIN mad USING (event_type) GROUP BY d.event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val byKey = Window.partitionBy("event_type")
      val med = ev
        .withColumn("rn", row_number().over(byKey.orderBy("cents")))
        .withColumn("cnt", count(lit(1)).over(byKey))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("cents").as("med_cents"))
      val dev = ev.join(med, "event_type")
        .withColumn("adev", abs(col("cents") - col("med_cents")))
      val mad = dev
        .withColumn("rn", row_number().over(byKey.orderBy("adev")))
        .withColumn("cnt", count(lit(1)).over(byKey))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("adev").as("mad_cents"))
      dev.join(mad, "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("med_cents")).as("med_cents"),
          max(col("mad_cents")).as("mad_cents"),
          sum(when(col("adev") > lit(3) * col("mad_cents"), 1L).otherwise(0L))
            .as("n_outliers"))
    },

    // Deterministic corpus shuffle-shard for training: every doc gets a
    // stable hash draw; the draw's first hex digit is its shard (16-way),
    // its rank within the shard (by draw) is its position in the training
    // stream. Reproducible global shuffle with NO global sort — ranking
    // happens per shard after one hash repartition, and shard count is
    // the write-parallelism knob at 100 TB.
    "q_shard_shuffle" -> Query(
      """WITH d AS (
        |  SELECT doc_id, md5('shard:' || CAST(doc_id AS VARCHAR)) AS draw
        |  FROM documents),
        |s AS (SELECT doc_id, draw,
        |    CAST(instr('0123456789abcdef', substring(draw, 1, 1)) - 1 AS BIGINT) AS shard
        |  FROM d)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY draw, doc_id) AS BIGINT)
        |    AS pos
        |FROM s""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("draw"))
        .withColumn("shard",
          expr("CAST(instr('0123456789abcdef', substring(draw, 1, 1)) - 1 AS BIGINT)"))
        .withColumn("pos",
          row_number().over(Window.partitionBy("shard").orderBy("draw", "doc_id"))
            .cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    },

    // Time-series resample: per-event-type hourly value-cents totals
    // pushed onto each type's complete hourly grid, gaps forward-filled.
    // One shuffle on the key, reused by the fill window; grid rows are
    // exploded scan-locally from a 16-byte-per-key bounds aggregate.
    "q_gapfill" -> Query(
      """WITH obs AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM bounds),
        |j AS (SELECT g.event_type, g.hr, o.cents
        |  FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.hr = o.hr),
        |f AS (SELECT event_type, hr, cents,
        |    count(cents) OVER (PARTITION BY event_type ORDER BY hr) AS grp FROM j)
        |SELECT event_type, hr, cents,
        |  max(cents) OVER (PARTITION BY event_type, grp) AS filled_cents,
        |  cents IS NULL AS is_gap
        |FROM f""".stripMargin) { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("ts_ns div 3600000000000").as("hr"))
        .agg(expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)")
          .as("cents"))
      graft.operators.TimeSeries.gapFill(hourly, "event_type", "hr", "cents")
    },

    // SCD type-2 snapshot: each user's event_type stream collapsed to
    // validity intervals [valid_from, valid_to) in exact nanoseconds,
    // versioned per user. Change detection and interval stamping share
    // one key partitioning — a single exchange.
    "q_scd2" -> Query(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type FROM events),
        |m AS (SELECT user_id, event_id, ts_ns, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev
        |  FROM e),
        |c AS (SELECT user_id, event_id, ts_ns, event_type FROM m
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id)
        |    AS BIGINT) AS version,
        |  event_type,
        |  ts_ns AS valid_from,
        |  lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS valid_to
        |FROM c""".stripMargin) { (s, dir) =>
      graft.operators.TimeSeries.scd2(
          eventsUsPrecision(s, dir)
            .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type")),
          "user_id", Seq("ts_ns", "event_id"), Seq("event_type"))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from"), col("valid_to"))
    },

    // Per-node triangle participation over the part co-occurrence graph
    // (parts sharing an order). Degree-ordered orientation bounds the
    // wedge intermediate at O(m^1.5) under any skew — the property that
    // keeps this runnable on a 100 TB link graph.
    "q_triangles" -> Query(
      """WITH und AS (
        |  SELECT DISTINCT x.l_partkey AS lo, y.l_partkey AS hi
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |tri AS (
        |  SELECT a.lo AS x, a.hi AS y, b.hi AS z
        |  FROM und a JOIN und b ON a.hi = b.lo
        |    JOIN und c ON c.lo = a.lo AND c.hi = b.hi)
        |SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |GROUP BY id""".stripMargin) { (s, dir) =>
      // Edge build: per-order item set (ONE partial-agg'd shuffle — the
      // map-side collect_set already dedups within partition) exploded to
      // ordered pairs scan-locally, instead of a lineitem self-join that
      // shuffles both sides and re-filters. Pair fan-out is quadratic per
      // ORDER (baskets are small and bounded), never per part.
      // spread the single-task scan to the basket key BEFORE the aggregate
      // (r17, guide §2.5): the basket agg reuses the spread's partitioning
      // (no second exchange) and the quadratic pair explode downstream runs
      // core-wide instead of on 1-3 AQE-coalesced tasks; at production
      // scale the scan is already wide and Spread no-ops, restoring the
      // partial-agg'd shuffle
      val sets = graft.data.Spread.byKey(
          Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      val edges = sets.select(posexplode(col("ps")).as(Seq("i", "a")),
          col("ps"))
        .select(col("a"), explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
      graft.operators.Graph.triangleCounts(edges, "a", "b")
    },

    // k-core decomposition (Seidman 1983) over the part co-occurrence
    // graph: iterated degree peel to fixpoint — the dense-community /
    // spam-farm signal beside triangles (local) and PageRank (global).
    // Each round: one partial-agg'd degree aggregate + two semi-joins
    // against the node-sized keep set; the edge frame only shrinks. The
    // oracle unrolls 8 peel rounds (convergence at sf0.01 is 3; further
    // unrolled rounds are idempotent once converged).
    "q_kcore" -> Query(
      // 8 peel rounds unrolled (fixpoint is idempotent, so any unroll depth
      // ≥ the convergence depth — 3 at sf0.01 — produces the k-core).
      {
        // MATERIALIZED is load-bearing: each CTE references its predecessor
        // several times, and DuckDB's default CTE inlining would expand the
        // 8-round chain exponentially.
        val rounds = (1 to 8).map { i =>
          s"""n$i AS MATERIALIZED (SELECT id FROM (
             |  SELECT id, count(*) AS d FROM (
             |    SELECT lo AS id FROM e${i - 1} UNION ALL SELECT hi FROM e${i - 1})
             |  GROUP BY 1) WHERE d >= 70),
             |e$i AS MATERIALIZED (SELECT lo, hi FROM e${i - 1}
             |  WHERE lo IN (SELECT id FROM n$i) AND hi IN (SELECT id FROM n$i))"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT x.l_partkey AS lo, y.l_partkey AS hi
           |  FROM lineitem x JOIN lineitem y
           |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
           |$rounds
           |SELECT id, CAST(count(*) AS BIGINT) AS deg
           |FROM (SELECT lo AS id FROM e8 UNION ALL SELECT hi FROM e8)
           |GROUP BY 1""".stripMargin
      }) { (s, dir) =>
      val sets = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      val edges = sets.select(posexplode(col("ps")).as(Seq("i", "a")),
          col("ps"))
        .select(col("a"), explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
      graft.operators.Graph.kCore(edges, "a", "b", k = 70)
    },

    // BPE merge learning: 3 iterations over the corpus word-frequency
    // dict. The corpus is shuffled once (word counts); every training
    // iteration is vocabulary-bounded. Output = the learned merge table.
    "q_bpe_merges" -> Query(
      """WITH w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |        FROM documents)
        |  GROUP BY word HAVING count(*) >= 3),
        |s0 AS (SELECT word, n, string_split(word, '') AS sym FROM w0),
        |p0 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM s0, unnest(list_transform(generate_series(1, len(sym)-1),
        |       i -> {'l': sym[i], 'r': sym[i+1]})) AS t(u)
        |  GROUP BY 1, 2),
        |m0 AS (SELECT l, r, cnt FROM p0 ORDER BY cnt DESC, l, r LIMIT 1),
        |s1 AS (SELECT word, n,
        |    list_reduce(list_transform(sym, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m0.l
        |                        AND x[1] = m0.r
        |                  THEN list_append(acc[1:len(acc)-1], m0.l || m0.r)
        |                  ELSE list_concat(acc, x) END) AS sym
        |  FROM s0, m0),
        |p1 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM s1, unnest(list_transform(generate_series(1, len(sym)-1),
        |       i -> {'l': sym[i], 'r': sym[i+1]})) AS t(u)
        |  GROUP BY 1, 2),
        |m1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |s2 AS (SELECT word, n,
        |    list_reduce(list_transform(sym, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m1.l
        |                        AND x[1] = m1.r
        |                  THEN list_append(acc[1:len(acc)-1], m1.l || m1.r)
        |                  ELSE list_concat(acc, x) END) AS sym
        |  FROM s1, m1),
        |p2 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM s2, unnest(list_transform(generate_series(1, len(sym)-1),
        |       i -> {'l': sym[i], 'r': sym[i+1]})) AS t(u)
        |  GROUP BY 1, 2),
        |m2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |s3 AS (SELECT word, n,
        |    list_reduce(list_transform(sym, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m2.l
        |                        AND x[1] = m2.r
        |                  THEN list_append(acc[1:len(acc)-1], m2.l || m2.r)
        |                  ELSE list_concat(acc, x) END) AS sym
        |  FROM s2, m2),
        |v1 AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS v
        |  FROM s1, unnest(sym) AS t(s)),
        |v2 AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS v
        |  FROM s2, unnest(sym) AS t(s)),
        |v3 AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS v
        |  FROM s3, unnest(sym) AS t(s))
        |SELECT CAST(1 AS BIGINT) AS step, m0.l AS left_sym, m0.r AS right_sym,
        |  m0.cnt AS pair_count, v1.v AS n_symbols_after FROM m0, v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), m1.l, m1.r, m1.cnt, v2.v FROM m1, v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), m2.l, m2.r, m2.cnt, v3.v FROM m2, v3""".stripMargin) { (s, dir) =>
      val dict = graft.data.Bpe.wordFreq(Tables.documents(s, dir), "text")
      val (merges, _) = graft.data.Bpe.learnMerges(dict, "word", "n", nMerges = 3)
      graft.data.Bpe.mergeTable(s, merges)
    },

    // Key-skew profiler: the shuffle-planning diagnostic. Per-key counts
    // of events by user, then distribution shape — max / exact discrete
    // median / top-key share — in exact integers. The median comes from
    // the count-of-counts HISTOGRAM (smallest count whose cumulative key
    // frequency reaches rank (n+1)/2), so the only global sort runs over
    // distinct count VALUES — a frame that stays tiny when keys number
    // in the billions. One data-sized shuffle (the per-key count).
    "q_key_skew" -> Query(
      """WITH pk AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS total_rows, max(cnt) AS max_n FROM pk),
        |hist AS (SELECT cnt, CAST(count(*) AS BIGINT) AS freq FROM pk GROUP BY 1),
        |cum AS (SELECT cnt, sum(freq) OVER (ORDER BY cnt) AS cum FROM hist),
        |med AS (SELECT min(cnt) AS med_n FROM cum, agg
        |  WHERE cum >= (n_keys + 1) // 2)
        |SELECT n_keys, total_rows, max_n, med_n,
        |  max_n * 1000 // (total_rows // n_keys) AS skew_ratio_milli,
        |  max_n * 1000000 // total_rows AS top_share_micro
        |FROM agg, med""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val perKey = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val nKeys = perKey.agg(count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("total_rows"), max(col("cnt")).as("max_n"))
      val hist = perKey.groupBy(col("cnt")).agg(count(lit(1)).as("freq"))
      val wcum = Window.orderBy(col("cnt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = hist.withColumn("cum", sum(col("freq")).over(wcum))
        .crossJoin(broadcast(nKeys))
        .filter(col("cum") >= expr("(n_keys + 1) div 2"))
        .agg(min(col("cnt")).as("med_n"))
      nKeys.crossJoin(broadcast(med))
        .select(col("n_keys"), col("total_rows"), col("max_n"), col("med_n"),
          expr("max_n * 1000 div (total_rows div n_keys)").as("skew_ratio_milli"),
          expr("max_n * 1000000 div total_rows").as("top_share_micro"))
    },

    // Interval-OVERLAP join (both sides carry an extent — the case the
    // point-in-interval RangeJoin can't express): per-supplier shipment
    // transit windows [shipdate, shipdate + derived transit days],
    // overlapping pairs found via bucketed equi-join with the
    // responsibility rule (pair counted only in the bucket holding the
    // overlap start — no distinct pass). Aggregated per supplier.
    "q_interval_join" -> Query(
      """WITH iv AS (
        |  SELECT l_suppkey AS key, l_orderkey * 10 + l_linenumber AS id,
        |    CAST(epoch(l_shipdate) AS BIGINT) // 86400 AS s,
        |    CAST(epoch(l_shipdate) AS BIGINT) // 86400
        |      + CAST(l_quantity AS BIGINT) % 20 + 3 AS e
        |  FROM lineitem)
        |SELECT a.key AS l_suppkey, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(least(a.e, b.e) - greatest(a.s, b.s) + 1) AS BIGINT)
        |    AS sum_overlap_days
        |FROM iv a JOIN iv b
        |  ON a.key = b.key AND a.id < b.id AND a.s <= b.e AND b.s <= a.e
        |GROUP BY a.key""".stripMargin) { (s, dir) =>
      val iv = Tables.lineitem(s, dir)
        .withColumn("s",
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 1000000 div 86400"))
        .select(col("l_suppkey").as("key"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
          col("s"),
          (col("s") + expr("CAST(l_quantity AS BIGINT) % 20 + 3")).as("e"))
      val pairs = graft.operators.IntervalJoin.overlapJoin(iv, iv, bucketWidth = 14L)
        .filter(col("a_id") < col("b_id"))
      pairs.groupBy(col("key").as("l_suppkey"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("CAST(sum(overlap_len) AS BIGINT)").as("sum_overlap_days"))
        .select(col("l_suppkey"), col("n_pairs"), col("sum_overlap_days"))
    },

    // Duration-weighted mean (telemetry semantics: a reading holds until
    // the next one): per event type, Σ cents·holding-µs div Σ holding-µs.
    // One key shuffle shared by the lead() window and the aggregate.
    "q_time_weighted" -> Query(
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_ns(ts) // 1000 AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT event_type, cents,
        |    lead(tus) OVER (PARTITION BY event_type ORDER BY tus, event_id) - tus
        |      AS dur_us
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(dur_us) AS BIGINT) AS total_us,
        |  CAST(sum(cents * dur_us) AS BIGINT) AS weighted_sum,
        |  CAST(CAST(sum(cents * dur_us) AS BIGINT)
        |    // CAST(sum(dur_us) AS BIGINT) AS BIGINT) AS twa_cents
        |FROM d WHERE dur_us IS NOT NULL GROUP BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("tus", "event_id")
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          expr("ts_ns div 1000").as("tus"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("dur_us", lead(col("tus"), 1).over(w) - col("tus"))
        .filter(col("dur_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_intervals"),
          expr("CAST(sum(dur_us) AS BIGINT)").as("total_us"),
          expr("CAST(sum(cents * dur_us) AS BIGINT)").as("weighted_sum"),
          expr("CAST(sum(cents * dur_us) div sum(dur_us) AS BIGINT)").as("twa_cents"))
    },

    // Per-key decile assignment (NTILE) + per-decile profile: the
    // standard-SQL tile definition is engine-portable, and the window
    // partitions by key so no global sort exists anywhere in the plan.
    "q_ntile" -> Query(
      """WITH e AS (
        |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |t AS (SELECT event_type, cents,
        |    CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY cents, event_id)
        |      AS BIGINT) AS decile
        |  FROM e)
        |SELECT event_type, decile, CAST(count(*) AS BIGINT) AS n,
        |  min(cents) AS min_cents, max(cents) AS max_cents
        |FROM t GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("cents", "event_id")
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
    },

    // GROUPING SETS — the general multi-rollup (reference exposes only
    // per-query GROUP BY; dashboards re-aggregate client-side). One Expand
    // node feeds every grouping from a single scan, so the cost is one
    // shuffle carrying (sets × rows) pre-aggregated partials — at 100 TB
    // this replaces 4 separate full-scan queries with one pass.
    "q_grouping_sets" -> Query(
      """SELECT coalesce(l_returnflag, '<all>') AS rflag,
        |  coalesce(l_linestatus, '<all>') AS lstatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus), ())""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
        col("l_linestatus"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      li.groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(cents) AS BIGINT)").as("sum_cents"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("rflag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("lstatus"),
          col("n"), col("sum_cents"))
    },

    // M4 time-series downsampling (Jugel et al., VLDB 2014): per series ×
    // pixel-bucket keep min, max, first and last — the 4 values that make a
    // line chart render pixel-identically to the full series. Two
    // row_number() windows share ONE (series, bucket) exchange with the
    // final aggregate; no global sort. At 100 TB this is the standard
    // "100M points → 4k buckets" dashboard reduction, one shuffle total.
    "q_m4_downsample" -> Query(
      """WITH e AS (SELECT event_type, event_id,
        |    epoch_us(ts) AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT *, tus // 3600000000 AS bucket,
        |    row_number() OVER (PARTITION BY event_type, tus // 3600000000
        |      ORDER BY tus, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, tus // 3600000000
        |      ORDER BY tus DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, bucket, count(*) AS n,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  max(CASE WHEN rn_a = 1 THEN cents END) AS first_cents,
        |  max(CASE WHEN rn_d = 1 THEN cents END) AS last_cents
        |FROM b GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("event_type"), col("event_id"),
        expr("ts_ns div 1000").as("tus"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("bucket", expr("tus div 3600000000"))
      val w = Window.partitionBy("event_type", "bucket")
      ev.withColumn("rn_a", row_number().over(w.orderBy(col("tus"), col("event_id"))))
        .withColumn("rn_d",
          row_number().over(w.orderBy(col("tus").desc, col("event_id").desc)))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
          max(when(col("rn_a") === 1, col("cents"))).as("first_cents"),
          max(when(col("rn_d") === 1, col("cents"))).as("last_cents"))
    },

    // Rolling z-score anomaly gate over the trailing 20 readings, evaluated
    // entirely in integer arithmetic: |x−μ| > 3σ  ⇔  (n·x − S)² > 9·(n·SS − S²)
    // with S/SS the windowed sums of cents and cents² — bit-deterministic
    // where a float mean/stddev would flake across engines. The three ROWS
    // windows and the final aggregate share one key exchange; state per row
    // is O(window), per key O(1) after aggregation — scale-safe.
    "q_rolling_zscore" -> Query(
      """WITH e AS (SELECT event_type, event_id,
        |    epoch_us(ts) AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |w AS (SELECT event_type, cents,
        |    count(*) OVER win AS np,
        |    sum(cents) OVER win AS s,
        |    sum(cents * cents) OVER win AS ss
        |  FROM e
        |  WINDOW win AS (PARTITION BY event_type ORDER BY tus, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT *,
        |    (np*cents - s)*(np*cents - s) > 9*(np*ss - s*s) AS anom
        |  FROM w WHERE np >= 10)
        |SELECT event_type, count(*) AS n_eval,
        |  CAST(sum(CASE WHEN anom THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
        |  CAST(sum(CASE WHEN anom THEN cents ELSE 0 END) AS BIGINT) AS anom_cents
        |FROM f GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("tus"), col("event_id")).rowsBetween(-20, -1)
      Tables.events(s, dir).select(col("event_type"), col("event_id"),
          expr("ts_ns div 1000").as("tus"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("np", count(lit(1)).over(w))
        .withColumn("s", sum(col("cents")).over(w))
        .withColumn("ss", sum(col("cents") * col("cents")).over(w))
        .filter(col("np") >= 10)
        .withColumn("anom",
          expr("(np*cents - s)*(np*cents - s) > 9*(np*ss - s*s)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          expr("CAST(sum(CASE WHEN anom THEN 1 ELSE 0 END) AS BIGINT)").as("n_anom"),
          expr("CAST(sum(CASE WHEN anom THEN cents ELSE 0 END) AS BIGINT)")
            .as("anom_cents"))
    },

    // Per-source document cap (the "max N pages per domain" curation rule —
    // Gopher/C4 use it to stop boilerplate-heavy domains dominating the mix).
    // Selection is a deterministic hash draw per doc ranked within source, so
    // the SAME docs survive at any scale, partitioning or engine; one key
    // shuffle, rank state O(1) per row.
    "q_domain_cap" -> Query(
      """WITH d AS (SELECT doc_id, source,
        |    md5('cap' || CAST(doc_id AS VARCHAR)) AS draw
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY draw, doc_id)
        |      AS BIGINT) AS rk
        |  FROM d)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 10""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(col("draw"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          md5(concat(lit("cap"), col("doc_id").cast("string"))).as("draw"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("source"), col("rk"))
    },

    // Markov transition matrix over per-user event sequences: count of each
    // (prev_type → type) adjacency plus the row-stochastic probability in
    // integer micro-units (truncating div — bit-deterministic). The lag()
    // window shuffles by user once; the 25-cell matrix aggregate is tiny.
    // This is the session-flow model behind "what do users do after X".
    "q_markov" -> Query(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
        |  FROM events),
        |t AS (SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |      AS prev_type
        |  FROM e),
        |c AS (SELECT prev_type, event_type, count(*) AS n
        |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS p_micro
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("tus"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type")).agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy("prev_type")
      trans.withColumn("row_total", sum(col("n")).over(wp))
        .select(col("prev_type"), col("event_type"), col("n"),
          expr("CAST(n * 1000000 div row_total AS BIGINT)").as("p_micro"))
    },

    // Gaps-and-islands: each event opens a 30-minute presence interval;
    // overlapping intervals merge into maximal islands per user (the
    // coverage/availability operator). One shuffle by key — see Intervals.
    "q_interval_merge" -> Query(
      // Same running-max-end island construction; island membership is a set
      // property of the endpoints, so tie order cannot change the output.
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + 1800000000 AS e_us FROM events),
        |w AS (SELECT user_id, s_us, e_us,
        |    max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM iv),
        |f AS (SELECT user_id, s_us, e_us,
        |    CAST(sum(CASE WHEN pme IS NULL OR s_us > pme THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
        |  FROM w)
        |SELECT user_id, min(s_us) AS island_start, max(e_us) AS island_end,
        |  count(*) AS n_intervals
        |FROM f GROUP BY user_id, island""".stripMargin) { (s, dir) =>
      val iv = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("s_us"))
        .withColumn("e_us", col("s_us") + 1800000000L)
      operators.Intervals.mergeIntervals(iv, Seq("user_id"), "s_us", "e_us")
        .select(col("user_id"), col("island_start"), col("island_end"),
          col("n_intervals"))
    },

    // Exact discrete quantiles per key via rank arithmetic: the value at
    // 1-based index ceil(p·n/100) of the key's sorted multiset — engine-
    // independent (no interpolation, no float), deterministic under ties
    // because rank→value is a function of the sorted multiset. The rank
    // window, the count window and the final aggregate all share ONE
    // exchange by key.
    "q_quantile_by_key" -> Query(
      // Value at 1-based rank ceil(p*n/100) of each key's sorted multiset —
      // rank→value is tie-order independent.
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e)
        |SELECT event_type, max(n) AS n,
        |  max(CASE WHEN rn = (50*n + 99) // 100 THEN cents END) AS p50_cents,
        |  max(CASE WHEN rn = (90*n + 99) // 100 THEN cents END) AS p90_cents,
        |  max(CASE WHEN rn = (99*n + 99) // 100 THEN cents END) AS p99_cents
        |FROM r GROUP BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("cents"))
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(50*n + 99) div 100"), col("cents")))
            .as("p50_cents"),
          max(when(col("rn") === expr("(90*n + 99) div 100"), col("cents")))
            .as("p90_cents"),
          max(when(col("rn") === expr("(99*n + 99) div 100"), col("cents")))
            .as("p99_cents"))
    },

    // Contribution analysis: each nation's share of its region's order
    // revenue, in integer micro-units. Dimension joins are broadcasts
    // (region/nation/customer are the small side by construction); the one
    // real shuffle is the (region, nation) aggregate — 25 rows — and the
    // share window runs on that aggregate, not on base data.
    "q_share_of_total" -> Query(
      """WITH rev AS (
        |  SELECT r_name, n_name,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, cents,
        |  CAST(cents * 1000000 // sum(cents) OVER (PARTITION BY r_name)
        |    AS BIGINT) AS share_micro
        |FROM rev""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
          .as("cents"))
      val w = Window.partitionBy("r_name")
      rev.withColumn("region_cents", sum(col("cents")).over(w))
        .select(col("r_name"), col("n_name"), col("cents"),
          expr("CAST(cents * 1000000 div region_cents AS BIGINT)").as("share_micro"))
    },

    // Per-key least-squares trend over daily totals, entirely in integer
    // arithmetic: slope_milli = 1000·(nΣxy − ΣxΣy)/(nΣx² − (Σx)²) with x =
    // day offset from the key's first day (small numbers — every product is
    // bounded far under int64 at any oracle SF) and y = the day's value in
    // cents. The daily pre-aggregate shrinks the trend input to one row per
    // (key, day) before any window runs; DuckDB's // and Spark's div both
    // truncate toward zero, so negative slopes agree bit-for-bit.
    "q_trend" -> Query(
      // Integer least-squares slope; DuckDB // and Spark div both truncate
      // toward zero, so negative slopes agree exactly.
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT event_type,
        |    day - min(day) OVER (PARTITION BY event_type) AS x, y FROM daily),
        |a AS (SELECT event_type, count(*) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sx2
        |  FROM x GROUP BY 1)
        |SELECT event_type, n_days, sx, sy,
        |  CAST(CASE WHEN n_days*sx2 - sx*sx = 0 THEN 0
        |    ELSE (n_days*sxy - sx*sy) * 1000 // (n_days*sx2 - sx*sx)
        |    END AS BIGINT) AS slope_milli
        |FROM a""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .select(col("event_type"), expr("ts_ns div 86400000000000").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
      val w = Window.partitionBy("event_type")
      daily.withColumn("x", col("day") - min(col("day")).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("x*y")).as("sxy"), sum(expr("x*x")).as("sx2"))
        .select(col("event_type"), col("n_days"), col("sx"), col("sy"),
          expr("""CAST(CASE WHEN n_days*sx2 - sx*sx = 0 THEN 0
                 ELSE (n_days*sxy - sx*sy) * 1000 div (n_days*sx2 - sx*sx)
                 END AS BIGINT)""").as("slope_milli"))
    },

    // Column profiling (schema-drift audit): one aggregate pass computes
    // every column's count/nulls/distinct/min/max simultaneously, then a
    // literal stack reshapes the single row to long form — see Profiler.
    "q_profile" -> Query(
      // One SELECT per profiled column, stacked long-form like the engine's
      // single-pass stack (min/max rendered to string on the native type).
      """SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |  count(*) - count(o_orderkey) AS n_null,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_str,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_str FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey), CAST(min(o_custkey) AS VARCHAR),
        |  CAST(max(o_custkey) AS VARCHAR) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus), min(o_orderstatus),
        |  max(o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority), min(o_orderpriority),
        |  max(o_orderpriority) FROM orders""".stripMargin) { (s, dir) =>
      graft.data.Profiler.profile(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    },

    // Market-basket frequent pairs with A-priori singleton pruning —
    // frequent items broadcast-semi-join the baskets BEFORE the quadratic
    // within-basket pair expansion; see Basket for the 100 TB shape.
    "q_item_pairs" -> Query(
      // A-priori level 2: distinct (basket, item), frequent-singleton prune,
      // then the within-basket pair self-join with the same support cutoff.
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket,
        |    l_partkey AS item FROM lineitem),
        |freq AS (SELECT item FROM items GROUP BY item HAVING count(*) >= 2),
        |pr AS (SELECT i.basket, i.item FROM items i JOIN freq USING (item))
        |SELECT a.item AS item_a, b.item AS item_b, count(*) AS support
        |FROM pr a JOIN pr b ON a.basket = b.basket AND a.item < b.item
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin) { (s, dir) =>
      graft.data.Basket.frequentPairs(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minSupport = 2L)
    },

    // Flesch-Kincaid-style readability in integer milli-units: words =
    // whitespace tokens, sentences = terminal-punctuation runs (min 1),
    // syllables = vowel-group runs (the standard cheap approximation).
    // Pure scan-stage projections — regexp_count is codegen'd.
    "q_readability" -> Query(
      // Same token/sentence/vowel-run counts; all divisions are positive//
      // positive so truncation direction cannot differ.
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS syllables
        |  FROM documents WHERE trim(text) <> '')
        |SELECT doc_id, words, sentences, syllables,
        |  CAST((390*words) // sentences + (11800*syllables) // words - 15590
        |    AS BIGINT) AS fk_milli
        |FROM t""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      Tables.documents(s, dir)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("words"),
          greatest(expr("regexp_count(text, '[.!?]+')"), lit(1)).cast("long")
            .as("sentences"),
          expr("regexp_count(lower(text), '[aeiouy]+')").cast("long")
            .as("syllables"))
        .select(col("doc_id"), col("words"), col("sentences"), col("syllables"),
          expr("""CAST((390*words) div sentences + (11800*syllables) div words
                 - 15590 AS BIGINT)""").as("fk_milli"))
    },

    // Morton/Z-order layout key (native codegen'd interleave_bits): the
    // data-layout primitive behind ZORDER clustering — sorting 100 TB by z
    // co-locates rows close in BOTH dimensions so min/max file stats prune
    // 2-D predicates. Checked here by bucketing the curve and verifying
    // every bucket's population and z-extent against a bit-exact oracle.
    "q_zorder" -> Query(
      // Bit-exact Morton replay: spread each coordinate's bits with a list
      // comprehension and sum the shifted bits.
      """WITH m AS (SELECT o_orderkey % 2048 AS x, o_custkey % 2048 AS y
        |  FROM orders),
        |z AS (SELECT CAST(
        |    list_sum([ ((x >> i) & 1) << (2*i) FOR i IN range(11) ]) +
        |    list_sum([ ((y >> i) & 1) << (2*i + 1) FOR i IN range(11) ])
        |    AS BIGINT) AS z
        |  FROM m)
        |SELECT z // 4096 AS zbucket, count(*) AS n,
        |  min(z) AS min_z, max(z) AS max_z
        |FROM z GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.exprs.ZOrder
      val z = ZOrder.interleaveBits(
        pmod(col("o_orderkey"), lit(2048)).cast("long"),
        pmod(col("o_custkey"), lit(2048)).cast("long"))
      Tables.orders(s, dir).select(z.as("z"))
        .groupBy(expr("z div 4096").as("zbucket"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("min_z"),
          max(col("z")).as("max_z"))
    },

    // CDC latest-wins merge: events as an upsert/delete changelog over
    // per-user state ('error' = tombstone). max_by-struct compaction — the
    // exchange carries one candidate per key per partition, never the raw
    // changelog (see CdcMerge); the window-row_number oracle is the
    // O(n log n) formulation this operator deliberately avoids.
    "q_cdc_merge" -> Query(
      // Latest change per user wins; a winning 'error' row tombstones the key.
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY tus DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, tus, event_id, event_type, cents
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, dir) =>
      val log = Tables.events(s, dir).select(col("user_id"),
        expr("ts_ns div 1000").as("tus"), col("event_id"),
        (col("event_type") === "error").as("del"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      operators.CdcMerge.applyChangelog(log, Seq("user_id"),
          Seq("tus", "event_id"), "del", Seq("event_type", "cents"))
        .select(col("user_id"), col("tus"), col("event_id"),
          col("event_type"), col("cents"))
    },

    // CDC merge, STREAMING form: O(1) state per key (best seq + payload),
    // finalized once the key passes the watermark — burst result equals
    // the batch operator's, independent of arrival order. Payload rides as
    // JSON through the state store and is re-projected after the sink.
    "q_cdc_merge_stream" -> Query(
      // Streaming CDC truth: identical latest-wins semantics ((user, ts)
      // pairs are unique in this dataset, so tus alone totally orders each
      // key's changes — verified, and the batch row q_cdc_merge would catch
      // regressions in that assumption via its event_id tie-break).
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY tus DESC) AS rn FROM e)
        |SELECT user_id, tus, event_type, cents
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin) { (s, dir) =>
      val rows = Tables.events(s, dir).select(col("user_id"),
          expr("ts_ns div 1000").as("tus"),
          (col("event_type") === "error").as("del"),
          to_json(struct(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))).as("pay"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
      val maxTus = rows.map(_._2).max
      val log = memoryStream[(Long, Long, Boolean, String)](s, "user_id", "tus", "del", "pay")(
        rows.toSeq, Seq((-1L, maxTus + 30L * 86400000000L, true, "{}"))) // watermark push
        .select(col("user_id"), timestamp_micros(col("tus")).as("ts"),
          col("tus"), col("del"), col("pay"))
      val merged = operators.CdcMerge.applyChangelogStreaming(log, "user_id",
        "ts", "tus", "del", "pay", gapMs = 3600L * 1000,
        watermarkDelay = "0 seconds")
      drainStream(s, "cdc", merged).filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("tus"),
          get_json_object(col("pay"), "$.event_type").as("event_type"),
          get_json_object(col("pay"), "$.cents").cast("long").as("cents"))
    },

    // Mergeable-sketch rollup: per-(type, day) HLL sketches union up to
    // per-type distinct-user estimates — the re-aggregation path that lets
    // 100 TB dashboards sum daily sketches instead of rescanning raw data.
    // Contract oracle (like q_quantile_sketch): the estimate must land
    // within the sketch's documented error envelope of the exact count,
    // which the oracle pins alongside exact truth.
    "q_hll_merge" -> Query(
      // Sketch contract: exact distincts pinned; the engine must land its
      // merged-sketch estimate inside the 5% envelope (HLL lgK=14 has
      // ~0.8% relative standard error — 5% is > 6 sigma).
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS within_5pct
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("ts_ns div 86400000000000").as("day"), col("user_id"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val merged = daily.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("within_5pct"))
    },

    // Deterministic negative sampling (contrastive-training pairs): 3
    // pseudo-random negatives per doc via a Knuth multiplicative hash —
    // same negatives at any scale/partitioning/engine, no RNG state. The
    // candidate draw is scan-local (corpus size rides in as a broadcast
    // 1-row aggregate); the only shuffle is the equi-join that resolves
    // negative ids to their rows.
    "q_negative_sample" -> Query(
      // Same multiplicative-hash draw and self-collision bump.
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |x AS (SELECT doc_id, CAST(unnest([1, 2, 3]) AS BIGINT) AS neg_rank
        |  FROM documents),
        |c AS (SELECT doc_id, neg_rank,
        |    ((doc_id * 2654435761 + neg_rank * 40503) % 2147483647) % n_docs
        |      AS cand, n_docs
        |  FROM x, n),
        |s AS (SELECT doc_id, neg_rank,
        |    CASE WHEN cand = doc_id THEN (cand + 1) % n_docs ELSE cand END
        |      AS neg_id
        |  FROM c)
        |SELECT s.doc_id, s.neg_rank, s.neg_id, d.lang AS neg_lang
        |FROM s JOIN documents d ON d.doc_id = s.neg_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val negs = docs.crossJoin(broadcast(n))
        .select(col("doc_id"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("neg_rank"),
          col("n_docs"))
        .withColumn("cand",
          expr("((doc_id * 2654435761 + neg_rank * 40503) % 2147483647) % n_docs"))
        .withColumn("neg_id",
          expr("CASE WHEN cand = doc_id THEN (cand + 1) % n_docs ELSE cand END"))
      negs.join(docs.select(col("doc_id").as("neg_id"),
          col("lang").as("neg_lang")), "neg_id")
        .select(col("doc_id"), col("neg_rank"), col("neg_id"), col("neg_lang"))
    },

    // Co-occurrence lift (PMI's ratio core, integer micro-units): how much
    // more often a pair co-occurs than independence predicts. Singleton
    // counts and the basket total are broadcast onto the pair aggregate —
    // base data is never reshuffled beyond Basket's one pair-count exchange.
    "q_lift" -> Query(
      // Lift = support·N / (cnt_a·cnt_b) in truncating micro-units over the
      // same A-priori pair set.
      """WITH items AS (SELECT DISTINCT l_orderkey AS basket,
        |    l_partkey AS item FROM lineitem),
        |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM items),
        |singles AS (SELECT item, count(*) AS cnt FROM items GROUP BY item),
        |freq AS (SELECT item FROM singles WHERE cnt >= 2),
        |pr AS (SELECT i.basket, i.item FROM items i JOIN freq USING (item)),
        |pairs AS (SELECT a.item AS item_a, b.item AS item_b,
        |    count(*) AS support
        |  FROM pr a JOIN pr b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT item_a, item_b, support,
        |  CAST(support * n_baskets * 1000000 // (sa.cnt * sb.cnt) AS BIGINT)
        |    AS lift_micro
        |FROM pairs
        |JOIN singles sa ON sa.item = item_a
        |JOIN singles sb ON sb.item = item_b
        |CROSS JOIN nb""".stripMargin) { (s, dir) =>
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
        .distinct()
      val nb = items.select(countDistinct(col("basket")).as("n_baskets"))
      val singles = items.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      graft.data.Basket.frequentPairs(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", minSupport = 2L)
        .join(broadcast(singles.select(col("item").as("item_a"),
          col("cnt").as("cnt_a"))), "item_a")
        .join(broadcast(singles.select(col("item").as("item_b"),
          col("cnt").as("cnt_b"))), "item_b")
        .crossJoin(broadcast(nb))
        .select(col("item_a"), col("item_b"), col("support"),
          expr("CAST(support * n_baskets * 1000000 div (cnt_a * cnt_b) AS BIGINT)")
            .as("lift_micro"))
    },

    // Week-over-week change per series: weekly totals, then lag-delta and
    // truncating per-mille change — the standard KPI trend row. The lag
    // window runs on the weekly AGGREGATE (|series|×|weeks| rows), never
    // base events.
    "q_wow_change" -> Query(
      """WITH wk AS (SELECT event_type, epoch_us(ts) // 604800000000 AS wk,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, wk, cents,
        |    lag(cents) OVER (PARTITION BY event_type ORDER BY wk) AS prev
        |  FROM wk)
        |SELECT event_type, wk, cents, cents - prev AS delta,
        |  CAST(CASE WHEN prev > 0 THEN (cents - prev) * 1000 // prev END
        |    AS BIGINT) AS pct_milli
        |FROM l""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wk = Tables.events(s, dir)
        .select(col("event_type"), expr("ts_ns div 604800000000000").as("wk"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("wk"))
        .agg(expr("CAST(sum(cents) AS BIGINT)").as("cents"))
      val w = Window.partitionBy("event_type").orderBy(col("wk"))
      wk.withColumn("prev", lag(col("cents"), 1).over(w))
        .select(col("event_type"), col("wk"), col("cents"),
          (col("cents") - col("prev")).as("delta"),
          expr("""CAST(CASE WHEN prev > 0 THEN (cents - prev) * 1000 div prev
                 END AS BIGINT)""").as("pct_milli"))
    },

    // Dictionary encoding: stable dense integer codes for categorical
    // combinations (feature-store/categorical-embedding prep). The window
    // that assigns codes runs over the DISTINCT-combo aggregate — a few
    // rows — never the corpus; the single-partition sort there is by
    // construction bounded by the vocabulary, not the data.
    "q_dict_encode" -> Query(
      // Codes assigned over the distinct-combo aggregate; (lang, source) is
      // unique there so row_number is deterministic.
      """WITH g AS (SELECT lang, source, count(*) AS n_docs
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, source,
        |  CAST(row_number() OVER (ORDER BY lang, source) AS BIGINT) AS code,
        |  n_docs
        |FROM g""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val g = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.orderBy(col("lang"), col("source"))
      g.withColumn("code", row_number().over(w).cast("long"))
        .select(col("lang"), col("source"), col("code"), col("n_docs"))
    },

    // Percent-rank normalization in integer per-mille: rank() (not
    // row_number — ties must share a value for engine-independence) scaled
    // by (n−1). The rank window, count window and projection share one
    // exchange by key. The feature-normalization row.
    "q_rank_normalize" -> Query(
      // rank() shares tie values, so the per-mille rank is a function of the
      // sorted multiset — engine-independent.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, event_id, cents,
        |    rank() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e)
        |SELECT event_type, event_id, cents,
        |  CAST(CASE WHEN n > 1 THEN (rk - 1) * 1000 // (n - 1) ELSE 0 END
        |    AS BIGINT) AS prank_milli
        |FROM r""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("cents"))
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("rk", rank().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .select(col("event_type"), col("event_id"), col("cents"),
          expr("""CAST(CASE WHEN n > 1 THEN (rk - 1) * 1000 div (n - 1)
                 ELSE 0 END AS BIGINT)""").as("prank_milli"))
    },

    // Integer exponential smoothing (α = 1/16): the self-referential
    // recurrence no built-in window expresses — a genuine ordered per-key
    // scan operator (see TimeSeries.ewmaInt); bit-deterministic because
    // truncating integer division agrees across engines.
    "q_ewma" -> Query(
      // The recurrence replayed exactly: recursive CTE stepping rn → rn+1
      // per user with the same truncating // 16.
      ewmaOracle) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("ts_ns div 1000").as("tus"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      operators.TimeSeries.ewmaInt(ev, "user_id", "tus", "cents", k = 4)
    },

    // Seasonal-baseline residuals (monitoring/forecasting): per (series,
    // hour-of-week) integer mean as the seasonal-naive baseline, residual
    // per event, 3×-baseline excess flag. Baseline is a tiny aggregate
    // (|series|×168 rows) broadcast back onto the scan — residuals are
    // scan-local; the only data shuffle is the baseline's partial agg.
    "q_seasonal_residual" -> Query(
      // Integer mean baseline per (series, hour-of-week); // and div both
      // truncate (sums are non-negative here).
      """WITH e AS (SELECT event_type, event_id,
        |    (epoch_us(ts) // 3600000000) % 168 AS how,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT event_type, how,
        |    CAST(sum(cents) // count(*) AS BIGINT) AS baseline
        |  FROM e GROUP BY 1, 2)
        |SELECT e.event_type, e.event_id, e.how, e.cents,
        |  e.cents - b.baseline AS residual,
        |  abs(e.cents - b.baseline) > b.baseline * 3 AS anomalous
        |FROM e JOIN b ON e.event_type = b.event_type AND e.how = b.how""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_type"), col("event_id"),
        expr("(ts_ns div 3600000000000) % 168").as("how"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val base = ev.groupBy(col("event_type"), col("how"))
        .agg(expr("CAST(sum(cents) div count(*) AS BIGINT)").as("baseline"))
      ev.join(broadcast(base), Seq("event_type", "how"))
        .select(col("event_type"), col("event_id"), col("how"), col("cents"),
          (col("cents") - col("baseline")).as("residual"),
          (abs(col("cents") - col("baseline")) > col("baseline") * 3)
            .as("anomalous"))
    },

    // Rolling 7-day distinct actives per day (the DAU/WAU engagement
    // curve): distinct (user, day) explodes into the ≤7 report days it
    // contributes to, then one distinct-count per day. Constant 7× fan-out
    // of the DEDUPED activity set (not raw events) — the window-DISTINCT
    // that SQL windows can't express, as one explode + one aggregate.
    "q_rolling_dau" -> Query(
      // Every active (user, day) contributes to report days day..day+6.
      """WITH act AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |hi AS (SELECT max(day) AS hi FROM act),
        |x AS (SELECT user_id, unnest(range(day, day + 7)) AS report_day
        |  FROM act)
        |SELECT report_day, count(DISTINCT user_id) AS active_users
        |FROM x, hi WHERE report_day <= hi
        |GROUP BY report_day""".stripMargin) { (s, dir) =>
      val act = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
        .distinct()
      val bounds = act.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      act.withColumn("report_day",
          explode(sequence(col("day"), col("day") + 6)))
        .crossJoin(broadcast(bounds))
        .filter(col("report_day") <= col("hi"))
        .groupBy(col("report_day"))
        .agg(countDistinct(col("user_id")).as("active_users"))
    },

    // Item-item collaborative-filtering neighborhoods (Sarwar WWW'01):
    // cosine over basket co-occurrence in integer micro-units (cosine
    // SQUARED — monotone on x ≥ 0, so ordering is identical and the score
    // is bit-deterministic), top-5 per item through the mergeable k-item
    // heap aggregate. Pair generation inherits the A-priori prune; the
    // singleton-count join is a broadcast onto the PAIR aggregate.
    "q_item_cosine" -> Query(
      // A-priori prune (items with < 2 baskets can't reach pair support 2)
      // mirrored exactly; cosine² in truncating integer micro-units; top-5
      // by (sim² desc, partner) via QUALIFY.
      """WITH po AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |cnt AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM po GROUP BY 1),
        |freq AS (SELECT i FROM cnt WHERE n >= 2),
        |pp AS (SELECT a.i AS ia, b.i AS ib, CAST(count(*) AS BIGINT) AS support
        |  FROM po a JOIN po b ON a.b = b.b AND a.i < b.i
        |  WHERE a.i IN (SELECT i FROM freq) AND b.i IN (SELECT i FROM freq)
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT ia AS item, ib AS partner, support FROM pp
        |  UNION ALL SELECT ib, ia, support FROM pp),
        |sc AS (SELECT s.item, s.partner, s.support,
        |    CAST(s.support * s.support * 1000000 // (na.n * nb.n) AS BIGINT)
        |      AS sim2_micro
        |  FROM sym s JOIN cnt na ON na.i = s.item
        |    JOIN cnt nb ON nb.i = s.partner)
        |SELECT item, partner, support, sim2_micro,
        |  row_number() OVER (PARTITION BY item
        |    ORDER BY sim2_micro DESC, partner) AS rn
        |FROM sc QUALIFY rn <= 5""".stripMargin) { (s, dir) =>
      graft.data.Basket.cosineTopK(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2, k = 5)
    },

    // Integer EWMA, STREAMING form: per-key buffered samples finalized by
    // replaying the exact batch recurrence on event-time inactivity — the
    // buffer-then-finalize shape (q_funnel_stream, q_cdc_merge_stream), so
    // burst results match the batch operator under any arrival order. Held
    // to the IDENTICAL recursive-CTE oracle as q_ewma: batch and stream
    // must agree row-for-row under the driver gate.
    "q_ewma_stream" -> Query(
      // Shared truth for the batch AND streaming EWMA forms — both must
      // replay the identical integer recurrence.
      ewmaOracle) { (s, dir) =>
      val rows = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val maxTus = rows.map(_._2).max
      val events = memoryStream[(Long, Long, Long)](s, "user_id", "tus", "cents")(
        rows.toSeq, Seq((-1L, maxTus + 30L * 86400000000L, 0L))) // watermark sentinel
        .select(col("user_id"), timestamp_micros(col("tus")).as("ts"),
          col("tus"), col("cents"))
      val ewma = operators.TimeSeries.ewmaIntStreaming(
        events, "user_id", "ts", "tus", "cents", k = 4,
        gapMs = 3600L * 1000, watermarkDelay = "0 seconds")
      drainStream(s, "ewma", ewma).filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("tus"), col("cents"), col("ewma"))
    },

    // Conversion-lag distribution (time-to-convert): first purchase
    // strictly after the first view per user — Funnel.firstTouch, ONE
    // shuffle — then the lag histogram in power-of-two buckets computed as
    // length(bin(lag)) = ⌊log₂⌋+1 in pure integer/string ops (no float
    // log to flake at bucket edges). The histogram aggregate is tiny
    // (≤ 64 rows).
    "q_time_to_convert" -> Query(
      // First purchase STRICTLY after the first view (Funnel semantics);
      // power-of-two bucket = length(bin(lag)) — integer/string ops only.
      """WITH t1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t1.t1
        |  GROUP BY 1),
        |lg AS (SELECT t2.t2 - t1.t1 AS lag_us
        |  FROM t1 JOIN t2 ON t1.user_id = t2.user_id)
        |SELECT CAST(length(bin(lag_us)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  min(lag_us) AS min_lag_us, max(lag_us) AS max_lag_us
        |FROM lg GROUP BY 1""".stripMargin) { (s, dir) =>
      val ev = eventsUsPrecision(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
          col("event_type"))
      operators.Funnel.firstTouch(ev, "user_id", "tus", "event_type",
          Seq("view", "purchase"))
        .filter(col("reached") === 2)
        .select((col("ts_2") - col("ts_1")).as("lag_us"))
        .select(col("lag_us"),
          length(bin(col("lag_us"))).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_users"),
          min(col("lag_us")).as("min_lag_us"),
          max(col("lag_us")).as("max_lag_us"))
    },

    // Data-quality audit: referential integrity (FK orphans via one-pass
    // left-join conditional counts), primary-key uniqueness, duplicate
    // payloads, null rates — each check one aggregate pass reduced to a
    // (check_name, violations, total) row. The documents dup check fires
    // on the corpus's planted duplicate texts; the TPC-H FK checks hold
    // clean — both directions of evidence under one oracle.
    "q_integrity_audit" -> Query(
      // One row per audit check. count(*) is BIGINT everywhere; the dup-row
      // sum is CAST to keep DuckDB's HUGEINT widening out of the schema.
      """SELECT 'fk_lineitem_orders' AS check_name,
        |  count(*) FILTER (WHERE o.o_orderkey IS NULL) AS violations,
        |  count(*) AS total
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'fk_orders_customer',
        |  count(*) FILTER (WHERE c.c_custkey IS NULL), count(*)
        |FROM orders od LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON od.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'fk_events_user_customer',
        |  count(*) FILTER (WHERE c.c_custkey IS NULL), count(*)
        |FROM events e LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON e.user_id = c.c_custkey
        |UNION ALL
        |SELECT 'pk_orders',
        |  CAST(coalesce(sum(n) FILTER (WHERE n > 1), 0) AS BIGINT),
        |  CAST(coalesce(sum(n), 0) AS BIGINT)
        |FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1)
        |UNION ALL
        |SELECT 'dup_documents_text',
        |  CAST(coalesce(sum(n) FILTER (WHERE n > 1), 0) AS BIGINT),
        |  CAST(coalesce(sum(n), 0) AS BIGINT)
        |FROM (SELECT text, count(*) AS n FROM documents GROUP BY 1)
        |UNION ALL
        |SELECT 'null_events_value',
        |  count(*) FILTER (WHERE value IS NULL), count(*)
        |FROM events""".stripMargin) { (s, dir) =>
      import graft.data.Integrity._
      audit(Seq(
        fkOrphans("fk_lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        fkOrphans("fk_orders_customer", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        fkOrphans("fk_events_user_customer", Tables.events(s, dir), "user_id",
          Tables.customer(s, dir), "c_custkey"),
        dupKeyRows("pk_orders", Tables.orders(s, dir), Seq("o_orderkey")),
        dupKeyRows("dup_documents_text", Tables.documents(s, dir), Seq("text")),
        nullCount("null_events_value", Tables.events(s, dir), "value")))
    },

    // Benford first-digit audit (fraud/data-entry anomaly screen): the
    // leading significant digit of a naturally-spread positive amount
    // follows log10(1+1/d). Digit extraction goes through the exact cents
    // integer's decimal string (no float log10); expected shares are the
    // fixed milli constants, deviation in integer milli. One partial-agg'd
    // 9-row aggregate; the total joins back as a broadcast.
    "q_benford" -> Query(
      // Leading digit through the exact cents integer's decimal string;
      // Benford milli constants = floor(log10(1+1/d)·1000), fixed.
      """WITH d AS (SELECT CAST(substring(CAST(
        |      CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
        |      1, 1) AS BIGINT) AS digit
        |  FROM lineitem),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g)
        |SELECT digit, n,
        |  CAST(n * 1000 // tot AS BIGINT) AS share_milli,
        |  CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 124
        |    WHEN 4 THEN 96 WHEN 5 THEN 79 WHEN 6 THEN 66 WHEN 7 THEN 57
        |    WHEN 8 THEN 51 ELSE 45 END AS BIGINT) AS benford_milli,
        |  CAST(n * 1000 // tot - CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176
        |    WHEN 3 THEN 124 WHEN 4 THEN 96 WHEN 5 THEN 79 WHEN 6 THEN 66
        |    WHEN 7 THEN 57 WHEN 8 THEN 51 ELSE 45 END AS BIGINT) AS dev_milli
        |FROM g, t""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val digits = Tables.lineitem(s, dir)
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
        .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val benford = expr("""CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176
        WHEN 3 THEN 124 WHEN 4 THEN 96 WHEN 5 THEN 79 WHEN 6 THEN 66
        WHEN 7 THEN 57 WHEN 8 THEN 51 ELSE 45 END AS BIGINT)""")
      // total via a window over the 9-row AGGREGATE (never base data) —
      // one scan of lineitem, no second pass for the denominator.
      digits.withColumn("tot", sum(col("n")).over(Window.partitionBy()))
        .select(col("digit"), col("n"),
          expr("n * 1000 div tot").as("share_milli"),
          benford.as("benford_milli"),
          (expr("n * 1000 div tot") - benford).as("dev_milli"))
    },

    // Point-in-time dimension join: the SCD2 snapshot (q_scd2's operator)
    // consumed by an as-of join — every purchase event attributed to the
    // dimension version valid at its timestamp. The composition is the
    // point of the row: history build (2 windows, one key exchange) →
    // AsOfJoin.sortMerge (one key exchange, O(1) probe state), never an
    // interval cross product. Oracle = native DuckDB ASOF JOIN over the
    // same SQL-built history.
    // OHLC candle bars per (series, hour): open/close via min_by/max_by
    // on the (ts, event_id) struct — ONE partial-agg'd exchange where the
    // window-function spelling (the oracle) sorts whole partitions. The
    // lexicographic struct order makes open/close deterministic under
    // same-instant trades.
    "q_ohlc" -> Query(
      // Window spelling of open/close (the plan the min_by/max_by operator
      // avoids); deterministic under ties via (tus, event_id). Shared by
      // the batch and streaming forms — both must produce identical bars.
      ohlcOracle) { (s, dir) =>
      val e = eventsUsPrecision(s, dir).select(col("event_type"),
        expr("ts_ns div 3600000000000").as("hr"),
        expr("ts_ns div 1000").as("tus"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      e.groupBy(col("event_type"), col("hr"))
        .agg(
          min_by(col("cents"), struct(col("tus"), col("event_id"))).as("open_cents"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max_by(col("cents"), struct(col("tus"), col("event_id"))).as("close_cents"),
          count(lit(1)).as("n_trades"),
          sum(col("cents")).as("volume_cents"))
    },

    // OHLC bars, STREAMING form: the identical min_by/max_by aggregate
    // under a native tumbling window + watermark — append-mode emission
    // when the watermark passes each hour. Held to the SAME oracle as
    // q_ohlc: the streaming window aggregate must reproduce every batch
    // bar exactly.
    "q_ohlc_stream" -> Query(ohlcOracle) { (s, dir) =>
      val rows = eventsUsPrecision(s, dir)
        .select(expr("ts_ns div 1000").as("tus"), col("event_id"),
          col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      val maxTus = rows.map(_._1).max
      val events = memoryStream[(Long, Long, String, Long)](s,
        "tus", "event_id", "event_type", "cents")(
        rows.toSeq, Seq((maxTus + 3L * 86400000000L, -1L, "__sentinel", 0L)))
        .select(timestamp_micros(col("tus")).as("ts"), col("tus"),
          col("event_id"), col("event_type"), col("cents"))
        .withWatermark("ts", "0 seconds")
      val agg = events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          min_by(col("cents"), struct(col("tus"), col("event_id"))).as("open_cents"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max_by(col("cents"), struct(col("tus"), col("event_id"))).as("close_cents"),
          count(lit(1)).as("n_trades"),
          sum(col("cents")).as("volume_cents"))
        .select(col("event_type"),
          expr("unix_micros(window.start) div 3600000000").as("hr"),
          col("open_cents"), col("high_cents"), col("low_cents"),
          col("close_cents"), col("n_trades"), col("volume_cents"))
      drainStream(s, "ohlc", agg).filter(col("event_type") =!= "__sentinel")
    },

    // Tokenizer train→APPLY round trip: learn 3 BPE merges from the
    // corpus dict (q_bpe_merges' operator), then ENCODE every document —
    // per-doc word/char/BPE-token counts and the compression ratio.
    // Application is embarrassingly parallel where training is
    // sequential: each merge folds once over the DISTINCT-vocabulary
    // frame, and the corpus pays only its word explode plus one
    // vocabulary join — documents are never folded per merge.
    "q_bpe_encode" -> Query(
      // q_bpe_merges' learning CTEs (w0..m2) reused verbatim, then the
      // merge table applied to the FULL distinct vocabulary and joined back
      // onto per-doc word streams.
      """WITH w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |        FROM documents)
        |  GROUP BY word HAVING count(*) >= 3),
        |s0 AS (SELECT word, n, string_split(word, '') AS sym FROM w0),
        |p0 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM s0, unnest(list_transform(generate_series(1, len(sym)-1),
        |       i -> {'l': sym[i], 'r': sym[i+1]})) AS t(u)
        |  GROUP BY 1, 2),
        |m0 AS (SELECT l, r, cnt FROM p0 ORDER BY cnt DESC, l, r LIMIT 1),
        |s1 AS (SELECT word, n,
        |    list_reduce(list_transform(sym, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m0.l
        |                        AND x[1] = m0.r
        |                  THEN list_append(acc[1:len(acc)-1], m0.l || m0.r)
        |                  ELSE list_concat(acc, x) END) AS sym
        |  FROM s0, m0),
        |p1 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM s1, unnest(list_transform(generate_series(1, len(sym)-1),
        |       i -> {'l': sym[i], 'r': sym[i+1]})) AS t(u)
        |  GROUP BY 1, 2),
        |m1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
        |s2 AS (SELECT word, n,
        |    list_reduce(list_transform(sym, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m1.l
        |                        AND x[1] = m1.r
        |                  THEN list_append(acc[1:len(acc)-1], m1.l || m1.r)
        |                  ELSE list_concat(acc, x) END) AS sym
        |  FROM s1, m1),
        |p2 AS (SELECT u.l AS l, u.r AS r, CAST(sum(n) AS BIGINT) AS cnt
        |  FROM s2, unnest(list_transform(generate_series(1, len(sym)-1),
        |       i -> {'l': sym[i], 'r': sym[i+1]})) AS t(u)
        |  GROUP BY 1, 2),
        |m2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
        |wall AS (SELECT DISTINCT word
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |        FROM documents)),
        |a0 AS (SELECT word, string_split(word, '') AS sym FROM wall),
        |a1 AS (SELECT word,
        |    list_reduce(list_transform(sym, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m0.l
        |                        AND x[1] = m0.r
        |                  THEN list_append(acc[1:len(acc)-1], m0.l || m0.r)
        |                  ELSE list_concat(acc, x) END) AS sym
        |  FROM a0, m0),
        |a2 AS (SELECT word,
        |    list_reduce(list_transform(sym, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m1.l
        |                        AND x[1] = m1.r
        |                  THEN list_append(acc[1:len(acc)-1], m1.l || m1.r)
        |                  ELSE list_concat(acc, x) END) AS sym
        |  FROM a1, m1),
        |a3 AS (SELECT word,
        |    list_reduce(list_transform(sym, s -> [s]),
        |      (acc, x) -> CASE WHEN len(acc) >= 1 AND acc[len(acc)] = m2.l
        |                        AND x[1] = m2.r
        |                  THEN list_append(acc[1:len(acc)-1], m2.l || m2.r)
        |                  ELSE list_concat(acc, x) END) AS sym
        |  FROM a2, m2),
        |cnts AS (SELECT word, CAST(len(sym) AS BIGINT) AS n_sym FROM a3),
        |dw AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents)
        |SELECT dw.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(length(dw.word)) AS BIGINT) AS n_chars,
        |  CAST(sum(c.n_sym) AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(c.n_sym) * 1000 // sum(length(dw.word)) AS BIGINT)
        |    AS compression_milli
        |FROM dw JOIN cnts c ON dw.word = c.word
        |GROUP BY dw.doc_id""".stripMargin) { (s, dir) =>
      // ONE tokenize pass over the corpus, checkpointed (r17; the
      // proxy discipline): the exploded (doc_id, word) frame feeds THREE
      // consumers — the training dict aggregate, the distinct vocabulary
      // for encoding, and the final per-doc join — and under lazy lineage
      // each re-ran the regexp tokenizer over the raw text. The dict is
      // derived from the same frame (groupBy word ≡ Bpe.wordFreq over the
      // docs — the doc_id column doesn't change per-word counts), so the
      // corpus is scanned and tokenized exactly once.
      val docs = graft.data.Spread
        .byKey(Tables.documents(s, dir), col("doc_id"))
      val docWords = docs.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
        .localCheckpoint()
      val dict = docWords.groupBy(col("word")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
      val (merges, _) = graft.data.Bpe.learnMerges(dict, "word", "n", nMerges = 3)
      val symCounts = graft.data.Bpe.applySymbolCounts(
        docWords.select(col("word")).distinct(), "word",
        merges.map(m => (m.leftSym, m.rightSym)))
      // explicit broadcast: symCounts is vocabulary-bounded (the same
      // bound every BPE stage rides on), but its stats sit behind a
      // distinct + 3 folds, so AQE can't see that and would plan a
      // shuffle join of the full word stream
      docWords.join(broadcast(symCounts), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word"))).cast("long").as("n_chars"),
          sum(col("n_sym")).cast("long").as("n_bpe_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          col("n_bpe_tokens"),
          expr("CAST(n_bpe_tokens * 1000 div n_chars AS BIGINT)")
            .as("compression_milli"))
    },

    // Word-bigram LM table (next-word counts + probabilities): the n-gram
    // language-model estimation pass of a text pipeline. Adjacent word
    // pairs explode scan-locally; the pair aggregate is partial-agg'd;
    // left-word totals derive from the PAIR aggregate (never a second
    // corpus pass); top-3 continuations per word ride the mergeable
    // k-item heap. Probabilities in truncating milli units.
    "q_word_bigram" -> Query(
      // Same tokenization as q_ngram_counts; totals from the pair
      // aggregate; top-3 continuations by (n DESC, w2).
      """WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0),
        |b AS (
        |  SELECT u.w1, u.w2 FROM toks,
        |    unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))])
        |      AS s(u)
        |  WHERE len(t) >= 2),
        |cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT *, CAST(sum(n) OVER (PARTITION BY w1) AS BIGINT)
        |    AS w1_n FROM cnt)
        |SELECT w1, w2, n, CAST(n * 1000 // w1_n AS BIGINT) AS p_milli,
        |  row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS rn
        |FROM tot WHERE w1_n >= 20
        |QUALIFY rn <= 3""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      // token array materialized as a column BEFORE the lambda (see
      // q_ngram_counts: an inlined tokens() re-splits per element)
      val t = col("t")
      val pairs = when(size(t) < 2, array().cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("w1",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("w2",
                org.apache.spark.sql.types.StringType))))))
        .otherwise(transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
      val big = Tables.documents(s, dir)
        .select(TextFunctions.tokens(col("text")).as("t"))
        .select(explode(pairs).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
      // left-word totals as a second-level aggregate of the PAIR frame
      // (vocabulary-sized), broadcast back — a window over the pair
      // aggregate would re-shuffle and partition-sort every pair row; the
      // w1_n >= 20 cut also prunes rare-head pairs BEFORE the heap
      // (measured 6.3 s → 2.6 s at sf0.1)
      val totals = big.groupBy(col("w1"))
        .agg(sum(col("n")).as("w1_n"))
        .filter(col("w1_n") >= 20)
      // bottom-k on (-n, w2): count desc then w2 lexicographic — a total
      // order the oracle mirrors with ORDER BY n DESC, w2
      val top = graft.exprs.TopKBy.bottomKBy(
        struct((-col("n")).as("negn"), col("w2")),
        struct(col("w2"), col("n"), col("w1_n")), 3)
      big.join(broadcast(totals), Seq("w1"))
        .groupBy(col("w1")).agg(top.as("top"))
        .select(col("w1"), posexplode(col("top")))
        .select(col("w1"), col("col.w2").as("w2"), col("col.n").as("n"),
          expr("CAST(col.n * 1000 div col.w1_n AS BIGINT)").as("p_milli"),
          (col("pos") + 1).cast("long").as("rn"))
    },

    // Mergeable QUANTILE rollup (Datasketches KLL, Karnin/Lang/Liberty
    // FOCS'16) — the third mergeable-sketch family beside HLL and
    // SpaceSaving: per-(type, day) sketches union-merged to per-type
    // percentile estimates without rescanning raw data. KLL is
    // randomized (compaction coin flips), so this is a CONTRACT row:
    // output = exact discrete quantiles (the q_quantile_by_key rank
    // rule) plus booleans asserting the estimates' true ranks land
    // inside ±2.5% — ~7σ of k=400's published ~0.87%@99% single-sided
    // rank error, so a red row means a real defect, not sketch noise.
    // The exact-rank recomputation is oracle scaffolding; the OPERATOR
    // is the two sketch aggregates (fixed-KB state per group through
    // every exchange).
    "q_kll_merge" -> Query(
      // Contract oracle (q_hll_merge pattern): exact quantiles + n pinned
      // to real values, envelope booleans must come out TRUE — the sketch
      // side recomputes true ranks and asserts the KLL error contract.
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nn
        |  FROM e)
        |SELECT event_type, CAST(max(nn) AS BIGINT) AS n,
        |  min(cents) AS q50_exact, max(cents) AS q95_exact,
        |  TRUE AS q50_in_envelope, TRUE AS q95_in_envelope
        |FROM r
        |WHERE rn = (nn * 50 + 99) // 100 OR rn = (nn * 95 + 99) // 100
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.exprs.KllQuantiles
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("ts_ns div 86400000000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(KllQuantiles.sketchAgg(col("cents"), 400).as("sk"))
      val merged = daily.groupBy(col("event_type"))
        .agg(KllQuantiles.mergeAgg(col("sk"), 400).as("sk"))
        .select(col("event_type"),
          KllQuantiles.quantile(col("sk"), 0.5).as("q50_est"),
          KllQuantiles.quantile(col("sk"), 0.95).as("q95_est"))
      val checked = ev.join(broadcast(merged), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(when(col("cents") <= col("q50_est"), lit(1))).as("r50"),
          count(when(col("cents") <= col("q95_est"), lit(1))).as("r95"))
      val ranked = ev
        .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("cents"))))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      val exact = ranked
        .filter(col("rn") === expr("(nn * 50 + 99) div 100") ||
          col("rn") === expr("(nn * 95 + 99) div 100"))
        .groupBy(col("event_type"))
        .agg(min(col("cents")).as("q50_exact"), max(col("cents")).as("q95_exact"))
      checked.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n"), col("q50_exact"), col("q95_exact"),
          (abs(lit(1000) * col("r50") - lit(500) * col("n")) <= lit(25) * col("n"))
            .as("q50_in_envelope"),
          (abs(lit(1000) * col("r95") - lit(950) * col("n")) <= lit(25) * col("n"))
            .as("q95_in_envelope"))
    },

    // Chi-square independence audit (event_type × day-of-week): the
    // association screen run over landed event tables. Expected counts and
    // the statistic in scaled integer arithmetic — e_milli = row·col·1000
    // div N, contribution = (1000·o − e_milli)² div (1000·e_milli) — so
    // the decision is bit-deterministic. One partial-agg'd exchange of the
    // 35-cell contingency table; margins via windows over the AGGREGATE.
    "q_chisq" -> Query(
      """WITH cells AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) % 7 AS dow,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, dow, o,
        |    CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS row_n,
        |    CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS col_n,
        |    CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM cells)
        |SELECT event_type, dow, o,
        |  row_n * col_n * 1000 // n AS e_milli,
        |  (1000 * o - row_n * col_n * 1000 // n)
        |    * (1000 * o - row_n * col_n * 1000 // n)
        |    // (1000 * (row_n * col_n * 1000 // n)) AS chi2_contrib_milli
        |FROM m""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cells = Tables.events(s, dir)
        .select(col("event_type"),
          expr("(ts_ns div 86400000000000) % 7").as("dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("o"))
      val withMargins = cells
        .withColumn("row_n", sum(col("o")).over(
          Window.partitionBy(col("event_type"))))
        .withColumn("col_n", sum(col("o")).over(
          Window.partitionBy(col("dow"))))
        .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      withMargins
        .select(col("event_type"), col("dow"), col("o"),
          expr("row_n * col_n * 1000 div n").as("e_milli"),
          expr("""(1000 * o - row_n * col_n * 1000 div n)
                  * (1000 * o - row_n * col_n * 1000 div n)
                  div (1000 * (row_n * col_n * 1000 div n))""")
            .as("chi2_contrib_milli"))
    },

    // Correlation profiling: Pearson corr SQUARED in micro-units between
    // two bounded-domain columns — corr²μ = 10⁶·cov²/(varx·vary), the
    // same monotone-square trick as q_item_cosine (no sqrt). The moment
    // sums (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT int64 (domains bounded:
    // quantity ≤ 50, discount·100 ≤ 10, so n·Σxy stays ≲ 10¹⁴ even at
    // 10⁹ rows); only the final squares go through double — a fixed
    // scalar IEEE expression over one row, identical in both engines,
    // with none of a float SUM's order sensitivity. One 48-byte
    // all-to-one partial aggregate: the profiling shape for 100 TB.
    "q_corr" -> Query(
      // floor, not a bare double→int cast (DuckDB rounds, Spark truncates);
      // moment sums exact int64, only the squares pass through double.
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_discount * 100) AS BIGINT) AS y FROM lineitem),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM b)
        |SELECT n, sx, sy,
        |  n * sxy - sx * sy AS cov_n2,
        |  n * sxx - sx * sx AS varx_n2,
        |  n * syy - sy * sy AS vary_n2,
        |  CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
        |    * CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
        |    / (CAST(n * sxx - sx * sx AS DOUBLE)
        |       * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
        |    AS corr2_micro
        |FROM m""".stripMargin) { (s, dir) =>
      val m = Tables.lineitem(s, dir)
        .select(expr("CAST(l_quantity AS BIGINT)").as("x"),
          expr("CAST(round(l_discount * 100) AS BIGINT)").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      m.select(col("n"), col("sx"), col("sy"),
        expr("n * sxy - sx * sy").as("cov_n2"),
        expr("n * sxx - sx * sx").as("varx_n2"),
        expr("n * syy - sy * sy").as("vary_n2"),
        // floor, not a bare cast: DuckDB ROUNDS on double→int casts while
        // Spark truncates — floor is the one spelling both agree on.
        expr("""CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                * CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
                / (CAST(n * sxx - sx * sx AS DOUBLE)
                   * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)""")
          .as("corr2_micro"))
    },

    // Cumulative-distinct adoption curve: first-seen day per user (one
    // keyed exchange), then per-day first-timer counts and the running
    // total as a window over the ≤|days| aggregate — the cumulative
    // DISTINCT that a naive per-day COUNT(DISTINCT ... WHERE day <= d)
    // re-scan turns quadratic.
    "q_cumulative_distinct" -> Query(
      """WITH f AS (SELECT user_id, min(epoch_us(ts) // 86400000000) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM f GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
        |FROM d""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val firstDay = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("day"))
      firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users",
          sum(col("new_users")).over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    },

    // Growth accounting (new / retained / resurrected / churned per
    // week): the weekly active SET full-outer-joined with itself shifted
    // one week, plus each user's first week — every exchange keyed by
    // user until the final tiny per-week conditional-count aggregate.
    "q_growth_accounting" -> Query(
      // Weekly active set vs itself shifted one week + each user's first
      // week; the week-(max+1) churn row is intentional (everyone active in
      // the final week churns out of the observed range).
      """WITH act AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS w FROM events),
        |first AS (SELECT user_id, min(w) AS first_w FROM act GROUP BY 1),
        |prev AS (SELECT user_id, w + 1 AS w, 1 AS was_active FROM act),
        |j AS (SELECT coalesce(a.user_id, p.user_id) AS user_id,
        |    coalesce(a.w, p.w) AS w,
        |    CASE WHEN a.user_id IS NOT NULL THEN 1 END AS is_active,
        |    p.was_active
        |  FROM act a FULL OUTER JOIN prev p
        |    ON a.user_id = p.user_id AND a.w = p.w)
        |SELECT j.w AS w,
        |  count(*) FILTER (WHERE is_active = 1 AND j.w = f.first_w) AS n_new,
        |  count(*) FILTER (WHERE is_active = 1 AND was_active = 1)
        |    AS n_retained,
        |  count(*) FILTER (WHERE is_active = 1 AND was_active IS NULL
        |    AND j.w > f.first_w) AS n_resurrected,
        |  count(*) FILTER (WHERE is_active IS NULL AND was_active = 1)
        |    AS n_churned
        |FROM j JOIN first f ON j.user_id = f.user_id
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val act = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 604800000000000").as("w"))
        .distinct()
      val first = act.groupBy(col("user_id")).agg(min(col("w")).as("first_w"))
      val prev = act.select(col("user_id"), (col("w") + 1).as("w"),
        lit(1).as("was_active"))
      act.withColumn("is_active", lit(1))
        .join(prev, Seq("user_id", "w"), "full_outer")
        .join(first, Seq("user_id"))
        .groupBy(col("w"))
        .agg(
          count(when(col("is_active") === 1 && col("w") === col("first_w"),
            lit(1))).as("n_new"),
          count(when(col("is_active") === 1 && col("was_active") === 1,
            lit(1))).as("n_retained"),
          count(when(col("is_active") === 1 && col("was_active").isNull &&
            col("w") > col("first_w"), lit(1))).as("n_resurrected"),
          count(when(col("is_active").isNull && col("was_active") === 1,
            lit(1))).as("n_churned"))
    },

    // Per-key winsorization (robust scaling): clamp to the exact discrete
    // [P05, P95] of each key's sorted multiset — value at 1-based rank
    // ⌈p·n⌉, the q_quantile_by_key rank rule, so no interpolation floats.
    // The rank/count windows share one key exchange; the per-key clamp
    // bounds come back as a broadcast of the tiny 2-value-per-key frame.
    "q_winsorize" -> Query(
      // Exact discrete [P05, P95] clamp — value at 1-based rank
      // (n·p + 99) // 100 of the key's sorted multiset, all integer.
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |b AS (SELECT event_type,
        |    min(cents) AS p05, max(cents) AS p95
        |  FROM r
        |  WHERE rn = (n * 5 + 99) // 100 OR rn = (n * 95 + 99) // 100
        |  GROUP BY 1)
        |SELECT e.event_type, e.event_id, e.cents,
        |  greatest(b.p05, least(b.p95, e.cents)) AS clamped
        |FROM e JOIN b ON e.event_type = b.event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = eventsUsPrecision(s, dir).select(col("event_type"),
        col("event_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val wk = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      val ranked = e
        .withColumn("rn", row_number().over(wk))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      val bounds = ranked
        .filter(col("rn") === expr("(n * 5 + 99) div 100") ||
          col("rn") === expr("(n * 95 + 99) div 100"))
        .groupBy(col("event_type"))
        .agg(min(col("cents")).as("p05"), max(col("cents")).as("p95"))
      e.join(broadcast(bounds), Seq("event_type"))
        .select(col("event_type"), col("event_id"), col("cents"),
          greatest(col("p05"), least(col("p95"), col("cents"))).as("clamped"))
    },

    "q_scd2_join" -> Query(
      // q_scd2's history CTE consumed by DuckDB's native ASOF JOIN — every
      // purchase matched to the greatest valid_from ≤ its timestamp.
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS ts_ns, event_type FROM events),
        |m AS (SELECT user_id, event_id, ts_ns, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev
        |  FROM e),
        |c AS (SELECT user_id, event_id, ts_ns, event_type FROM m
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
        |dims AS (SELECT user_id,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_ns, event_id)
        |      AS BIGINT) AS version,
        |    event_type AS dim_type,
        |    ts_ns AS valid_from
        |  FROM c),
        |p AS (SELECT user_id, event_id, ts_ns FROM e
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |  p.ts_ns AS purchase_ts, d.version AS version, d.dim_type AS dim_type
        |FROM p ASOF JOIN dims d
        |  ON p.user_id = d.user_id AND p.ts_ns >= d.valid_from""".stripMargin) { (s, dir) =>
      val ev = eventsUsPrecision(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
      val dims = graft.operators.TimeSeries.scd2(
          ev, "user_id", Seq("ts_ns", "event_id"), Seq("event_type"))
        .select(col("user_id"), col("version"),
          col("event_type").as("dim_type"), col("valid_from"))
      val purchases = ev.filter(col("event_type") === "purchase")
      import operators.AsOfJoin.Projection
      operators.AsOfJoin.sortMerge(
        purchases, dims, "user_id", "user_id", "ts_ns", "valid_from",
        Long.MaxValue / 2,
        leftOut = Seq(Projection("event_id", "purchase_id"),
          Projection("user_id", "user_id"),
          Projection("ts_ns", "purchase_ts")),
        rightOut = Seq(Projection("version", "version"),
          Projection("dim_type", "dim_type")))
    },

    // Snapshot differencing (inverse CDC): recover the I/U/D changelog
    // between two latest-state-per-user snapshots built from different
    // retention windows (days [0,15) vs [10,30) of Jan 2024). Each
    // snapshot is a max_by compaction (map-side combine ships one
    // candidate per key per partition); the diff itself is ONE full-outer
    // join keyed by user with a codegen'd null-safe changed filter — the
    // incremental-export primitive for stores that only produce full
    // snapshots.
    "q_snapshot_diff" -> Query(
      // Latest-state snapshots at two retention windows; full-outer diff
      // with null-safe changed filter (IS DISTINCT FROM ≡ Spark's <=>).
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) * 1000 AS ts_ns,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |o AS (SELECT user_id, event_type, cents FROM e
        |  WHERE day >= 19723 AND day < 19738
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_ns DESC, event_id DESC) = 1),
        |n AS (SELECT user_id, event_type, cents FROM e
        |  WHERE day >= 19733 AND day < 19753
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_ns DESC, event_id DESC) = 1)
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |  CASE WHEN o.user_id IS NULL THEN 'I'
        |       WHEN n.user_id IS NULL THEN 'D' ELSE 'U' END AS op,
        |  o.event_type AS old_event_type, n.event_type AS new_event_type,
        |  o.cents AS old_cents, n.cents AS new_cents
        |FROM o FULL JOIN n ON o.user_id = n.user_id
        |WHERE o.user_id IS NULL OR n.user_id IS NULL
        |   OR o.event_type IS DISTINCT FROM n.event_type
        |   OR o.cents IS DISTINCT FROM n.cents""".stripMargin) { (s, dir) =>
      val e = eventsUsPrecision(s, dir).select(col("user_id"),
        col("event_id"), col("ts_ns"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        expr("ts_ns div 86400000000000").as("day"),
        lit(false).as("del"))
      def snap(lo: Long, hi: Long) = graft.operators.CdcMerge.applyChangelog(
          e.filter(col("day") >= lo && col("day") < hi),
          Seq("user_id"), Seq("ts_ns", "event_id"), "del",
          Seq("event_type", "cents"))
        .select(col("user_id"), col("event_type"), col("cents"))
      graft.operators.CdcMerge.snapshotDiff(
        snap(19723L, 19738L), snap(19733L, 19753L),
        Seq("user_id"), Seq("event_type", "cents"))
    },

    // SpaceSaving frequent-items sketch in STREAMING aggregation state —
    // completing the mergeable-sketch streaming trio (HLL distincts,
    // KLL quantiles, SpaceSaving top-k): per-day top-3 event types under
    // a native tumbling window + watermark. State per window is the
    // fixed `capacity`-counter buffer regardless of stream cardinality.
    // At 5 distinct types ≪ capacity 32 the exactness contract holds, so
    // the oracle hash-matches EXACT counts (the approximate regime's
    // inequality contract is covered by q_heavy_hitters_approx).
    "q_heavy_hitters_stream" -> Query(
      // Exact-regime contract: 5 distinct types ≪ capacity 32, so the
      // streaming sketch's counts are exact and the hash must match the
      // plain GROUP BY truth; top order is (n DESC, item ASC) on both sides.
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n,
        |  CAST(row_number() OVER (PARTITION BY day
        |    ORDER BY n DESC, event_type) AS BIGINT) AS rn
        |FROM c QUALIFY rn <= 3""".stripMargin) { (s, dir) =>
      val rows = Tables.events(s, dir)
        .select(expr("ts_ns div 1000").as("tus"), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val maxTus = rows.map(_._1).max
      val maxDay = maxTus / 86400000000L
      val events = memoryStream[(Long, String)](s, "tus", "event_type")(
        rows.toSeq, Seq((maxTus + 3L * 86400000000L, "__sentinel__")))
        .select(timestamp_micros(col("tus")).as("ts"), col("event_type"))
        .withWatermark("ts", "0 seconds")
      val agg = events
        .groupBy(window(col("ts"), "1 day"))
        .agg(graft.exprs.HeavyHitters.heavyHitters(
          col("event_type"), 3, 32).as("hh"))
        .select(expr("unix_micros(window.start) div 86400000000").as("day"),
          posexplode(col("hh")))
        .select(col("day"), col("col.item").as("event_type"),
          col("col.count").as("n"), (col("pos") + 1).cast("long").as("rn"))
      drainStream(s, "hhs", agg).filter(col("day") <= maxDay)
    },

    // Equi-depth (quantile-bucketed) histogram — the partner profile to
    // q_histogram's equi-width buckets: decile edges from the exact
    // discrete multiset (edge_i = min value whose cumulative count
    // reaches rank ⌈i·n/10⌉), bucket(x) = #edges < x. Edges come from
    // the count-of-counts frame, so the only global sort is over DISTINCT
    // VALUES (the q_key_skew trick), never rows; the 9-edge array rides a
    // 1-row cross join and every row buckets scan-locally. Deterministic
    // under ties where NTILE (row-order tie split) is not.
    "q_equidepth_histogram" -> Query(
      // Decile edges from the cumulative count-of-counts; bucket = #edges
      // strictly below the value — deterministic under ties where NTILE
      // (row-order tie split) is not.
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |vc AS (SELECT cents, count(*) AS c FROM e GROUP BY 1),
        |cum AS (SELECT cents, sum(c) OVER (ORDER BY cents
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM vc),
        |nn AS (SELECT count(*) AS n FROM e),
        |edges AS (SELECT i, min(cents) AS edge
        |  FROM cum, nn, range(1, 10) r(i)
        |  WHERE cum >= (i * n + 9) // 10 GROUP BY i)
        |SELECT CAST((SELECT count(*) FROM edges WHERE edge < e.cents)
        |    AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  min(cents) AS lo, max(cents) AS hi
        |FROM e GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = eventsUsPrecision(s, dir)
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val vc = e.groupBy(col("cents")).agg(count(lit(1)).as("c"))
      val cum = vc.withColumn("cum",
        sum(col("c")).over(Window.orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val nRow = e.agg(count(lit(1)).as("n"))
      val edges = cum.crossJoin(nRow)
        .select(col("cents"), col("cum"), col("n"),
          explode(sequence(lit(1), lit(9))).as("i"))
        .filter(col("cum") >= expr("(i * n + 9) div 10"))
        .groupBy(col("i")).agg(min(col("cents")).as("edge"))
        .agg(sort_array(collect_list(col("edge"))).as("edges"))
      e.crossJoin(edges)
        .select(col("cents"),
          size(filter(col("edges"), x => x < col("cents")))
            .cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    },

    // Join-size / blowup estimator — the shuffle-planning diagnostic run
    // BEFORE committing to a join: per-key counts on both sides (partial
    // agg'd, so the exchanges carry |keys| rows, never data rows), one
    // key-frame join, then exact output cardinality Σ nₐ·n_b, the max
    // single-key contribution and its argmax key, here for the quadratic
    // lineitem⋈lineitem self-join on l_partkey. A planner reads this one
    // row and decides broadcast / salt / rethink-the-key.
    "q_join_size" -> Query(
      // Exact join-output cardinality of the lineitem self-join on
      // l_partkey from per-key counts; argmax key pinned to the smallest
      // key among maxima.
      """WITH c AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS na
        |  FROM lineitem GROUP BY 1),
        |p AS (SELECT l_partkey, na * na AS prod FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(prod) AS BIGINT) AS est_join_rows,
        |  CAST(max(prod) AS BIGINT) AS max_key_rows,
        |  CAST(min(l_partkey) FILTER (
        |    WHERE prod = (SELECT max(prod) FROM p)) AS BIGINT) AS argmax_key
        |FROM p""".stripMargin) { (s, dir) =>
      val cnt = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("na"))
      cnt.select(col("l_partkey"), (col("na") * col("na")).as("prod"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("prod")).cast("long").as("est_join_rows"),
          // struct max: prod first, then NEGATED key — ties resolve to the
          // SMALLEST key deterministically (max_by's tie order is not pinned)
          max(struct(col("prod").as("p"), (-col("l_partkey")).as("nk"))).as("mx"))
        .select(col("n_keys"), col("est_join_rows"),
          col("mx.p").cast("long").as("max_key_rows"),
          (-col("mx.nk")).cast("long").as("argmax_key"))
    },

    // One-sided integer CUSUM change-point statistic (Page 1954) per user
    // with a 3-sigma-ish alarm line: the reset (max(0,·)) makes the
    // recurrence non-linear — no built-in window expresses it — so it
    // runs on the ewmaInt ordered-scan tier: one repartition by key,
    // sorted linear pass, O(1) state, shared-nothing keys.
    "q_cusum" -> Query(
      // The CUSUM recurrence replayed as a recursive CTE (the ewmaOracle
      // pattern); greatest() and integer arithmetic agree bit-for-bit.
      cusumOracle) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("ts_ns div 1000").as("tus"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      operators.TimeSeries.cusumInt(ev, "user_id", "tus", "cents",
          drift = 30000L)
        .withColumn("alarm", col("cusum") >= lit(200000L))
    },

    // Label-propagation communities (Raghavan 2007) over the part
    // co-occurrence graph — 3 synchronous rounds with the deterministic
    // (plurality, then min-label) rule; per round one edge-keyed join +
    // two partial-agg'd aggregates, label frame stays |V|-sized.
    "q_label_prop" -> Query(
      // 3 synchronous LPA rounds unrolled over the q_kcore edge CTE;
      // plurality-then-min-label via the (c DESC, label) row_number rule.
      {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (SELECT s.u, l.label, count(*) AS c
             |  FROM sym s JOIN l${i - 1} l ON s.v = l.id GROUP BY 1, 2),
             |l$i AS MATERIALIZED (SELECT u AS id, label FROM (
             |  SELECT u, label, row_number() OVER (PARTITION BY u
             |    ORDER BY c DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT x.l_partkey AS lo, y.l_partkey AS hi
           |  FROM lineitem x JOIN lineitem y
           |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
           |sym AS MATERIALIZED (SELECT lo AS u, hi AS v FROM e0
           |  UNION ALL SELECT hi, lo FROM e0),
           |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM sym),
           |$rounds
           |SELECT id, label FROM l3""".stripMargin
      }) { (s, dir) =>
      val sets = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      val edges = sets.select(posexplode(col("ps")).as(Seq("i", "a")),
          col("ps"))
        .select(col("a"), explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
      graft.operators.Graph.labelPropagation(edges, "a", "b", rounds = 3)
    },

    // Theta-sketch set algebra (4th mergeable-sketch family): audience
    // overlap of clickers vs purchasers — |A|, |B|, |A∩B|, |A∪B|, |A\B|
    // from TWO sketches built in ONE scan pass (null-skipping conditional
    // update), no distinct self-joins. HLL can union but not intersect or
    // difference; Theta's retained-hash samples can. Exact-regime
    // contract: 150 users ≪ nominalEntries 4096, so every estimate —
    // through the whole set-op chain — is exact and hash-checked.
    "q_theta_setops" -> Query(
      // Exact set-algebra truth: distinct ≪ nominalEntries keeps the Theta
      // chain out of estimation mode, so counts hash-match exactly.
      """WITH c AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase')
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c JOIN p USING (user_id))
        |    AS n_both,
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT user_id FROM c UNION SELECT user_id FROM p)) AS n_either,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c ANTI JOIN p USING (user_id))
        |    AS n_click_only""".stripMargin) { (s, dir) =>
      import graft.exprs.ThetaSketch
      Tables.events(s, dir)
        .agg(
          ThetaSketch.sketchAgg(
            when(col("event_type") === "click", col("user_id")), 4096).as("sk_a"),
          ThetaSketch.sketchAgg(
            when(col("event_type") === "purchase", col("user_id")), 4096).as("sk_b"))
        .select(
          ThetaSketch.estimate(col("sk_a")).as("n_click"),
          ThetaSketch.estimate(col("sk_b")).as("n_purchase"),
          ThetaSketch.estimate(ThetaSketch.intersect(col("sk_a"), col("sk_b")))
            .as("n_both"),
          ThetaSketch.estimate(ThetaSketch.union(col("sk_a"), col("sk_b")))
            .as("n_either"),
          ThetaSketch.estimate(ThetaSketch.aNotB(col("sk_a"), col("sk_b")))
            .as("n_click_only"))
    },

    // Bigram-LM pseudo-perplexity quality filter (the CCNet / Wenzek 2020
    // shape: score a crawl against an LM trained on a reference corpus
    // and keep low-perplexity docs). LM = conditional bigram table
    // trained on the even-doc_id half; every doc then pays
    // Σ cost(w1→w2) / n_transitions in MILLI-BITS, where cost =
    // 21 − ⌊log₂ p_micro⌋ via length(bin(x)) — integer bit-length, no
    // float log — and unseen transitions pay the 21-bit smoothing
    // penalty. Scale shape: pair explode is scan-local; the (w1,w2)
    // lookup join is partial-agg'd on the build side; one doc-keyed
    // aggregate finishes. Everything integer → bit-deterministic.
    "q_lm_score" -> Query(
      // Same tokenization as q_word_bigram; LM from the even-doc_id half;
      // cost = 21 − bit_length(p_micro) with the 21-bit unseen penalty.
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |b AS (
        |  SELECT doc_id, u.w1, u.w2 FROM toks,
        |    unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))])
        |      AS s(u)
        |  WHERE len(t) >= 2),
        |lm AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
        |  FROM b WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |tot AS (SELECT w1, CAST(sum(n) AS BIGINT) AS w1_n FROM lm GROUP BY 1),
        |p AS (SELECT lm.w1, lm.w2,
        |    greatest(n * 1000000 // w1_n, 1) AS p_micro
        |  FROM lm JOIN tot USING (w1)),
        |sc AS (SELECT b.doc_id,
        |    CASE WHEN p.p_micro IS NULL THEN 21
        |         ELSE 21 - length(bin(p.p_micro)) END AS cost
        |  FROM b LEFT JOIN p ON b.w1 = p.w1 AND b.w2 = p.w2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
        |  CAST(sum(cost) * 1000 // count(*) AS BIGINT) AS bits_milli,
        |  (sum(cost) * 1000 // count(*)) < 15000 AS keep
        |FROM sc GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      // token array materialized as a column BEFORE the lambda (see
      // q_ngram_counts: an inlined tokens() re-splits per element)
      val t = col("t")
      val pairs = when(size(t) < 2, array().cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("w1",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("w2",
                org.apache.spark.sql.types.StringType))))))
        .otherwise(transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
      // ONE tokenize+explode pass: the per-(doc, pair) count frame feeds
      // BOTH the LM build and the scoring side (localCheckpoint'ed —
      // lazily re-deriving it would re-tokenize the corpus twice;
      // measured ~25% off the query). Within-doc repeats ride the cnt
      // column, so the frame is distinct-triple-sized, not
      // occurrence-sized.
      val triples = graft.data.Spread
        .byKey(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"), explode(pairs).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val lm = triples.filter(col("doc_id") % 2 === 0)
        .groupBy(col("w1"), col("w2")).agg(sum(col("cnt")).as("n"))
      val tot = lm.groupBy(col("w1")).agg(sum(col("n")).as("w1_n"))
      val lmp = lm.join(tot, Seq("w1"))
        .select(col("w1"), col("w2"),
          expr("greatest(n * 1000000 div w1_n, 1L)").as("p_micro"))
      // The conditional-probability table is vocabulary-bounded (hundreds
      // to low-millions of observed pairs even for web-scale corpora —
      // 931 at sf0.1) while the triple frame scales with the corpus:
      // broadcast the table so the scoring lookup is map-side and the
      // triple frame's ONLY exchange is the final doc-keyed aggregate.
      triples.join(broadcast(lmp), Seq("w1", "w2"), "left")
        .select(col("doc_id"), col("cnt"),
          when(col("p_micro").isNull, lit(21L))
            .otherwise(lit(21L) - length(bin(col("p_micro"))).cast("long"))
            .as("cost"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).cast("long").as("n_trans"),
          expr("CAST(sum(cost * cnt) * 1000 div sum(cnt) AS BIGINT)")
            .as("bits_milli"))
        .withColumn("keep", col("bits_milli") < 15000L)
    },

    // Distributed power iteration: the corpus embedding matrix's top
    // principal direction WITHOUT materializing the d×d covariance —
    // v ← Σ_rows x·(xᵀv) is one broadcast of the 64-long direction
    // vector + one partial-agg'd per-dim aggregate per iteration (the
    // matrix never shuffles; 16-byte-per-dim partials do). Fixed-point
    // integer arithmetic with truncating renormalization to max-abs
    // 10⁴ per iteration — bit-deterministic under any partitioning
    // (float dot-product sums are not); bounds: |contrib| ≤ 5300·(64·
    // 5300·10⁴/2¹³) ≈ 2.2e9 per row, safe past 10⁹ rows in int64.
    "q_power_iteration" -> Query(
      // Two unrolled power-iteration rounds in exact integer arithmetic;
      // trunc-toward-zero CAST/`//` matches Spark CAST/`div`.
      """WITH x AS (SELECT
        |    [CAST(trunc(CAST(e AS DOUBLE) * 10000) AS BIGINT)
        |      for e in embedding] AS xi
        |  FROM embeddings),
        |d1 AS (SELECT xi,
        |    list_sum([xi[i] * 10000 for i in range(1, len(xi) + 1)]) // 8192
        |      AS d2 FROM x),
        |e1 AS (SELECT
        |    unnest([xi[i] * d2 for i in range(1, len(xi) + 1)]) AS cv,
        |    unnest(range(len(xi))) AS pos FROM d1),
        |w1 AS (SELECT pos, CAST(sum(cv) AS BIGINT) AS w FROM e1 GROUP BY pos),
        |m1 AS (SELECT max(abs(w)) AS m FROM w1),
        |v1 AS (SELECT list(w * 10000 // m ORDER BY pos) AS v FROM w1, m1),
        |dd AS (SELECT x.xi,
        |    list_sum([x.xi[i] * v1.v[i] for i in range(1, len(x.xi) + 1)])
        |      // 8192 AS d2 FROM x, v1),
        |e2 AS (SELECT
        |    unnest([xi[i] * d2 for i in range(1, len(xi) + 1)]) AS cv,
        |    unnest(range(len(xi))) AS pos FROM dd),
        |w2 AS (SELECT pos, CAST(sum(cv) AS BIGINT) AS w FROM e2 GROUP BY pos),
        |m2 AS (SELECT max(abs(w)) AS m FROM w2)
        |SELECT CAST(pos AS BIGINT) AS dim, CAST(w * 10000 // m AS BIGINT) AS v
        |FROM w2, m2""".stripMargin) { (s, dir) =>
      val x = Tables.embeddings(s, dir).select(
        expr("transform(embedding, e -> CAST(CAST(e AS DOUBLE) * 10000 AS BIGINT))")
          .as("xi"))
      def iterate(v: DataFrame): DataFrame =
        x.crossJoin(v)
          .select(col("xi"),
            expr("aggregate(zip_with(xi, v, (a, b) -> a * b), 0L, " +
              "(acc, y) -> acc + y) div 8192").as("d2"))
          .select(posexplode(expr("transform(xi, a -> a * d2)"))
            .as(Seq("pos", "c")))
          .groupBy(col("pos")).agg(sum(col("c")).as("w"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, w))), s -> s.w)")
            .as("warr"))
          .select(expr("transform(warr, x -> x * 10000 div " +
            "array_max(transform(warr, y -> abs(y))))").as("v"))
      val v0 = s.range(1)
        .select(expr("transform(sequence(1, 64), i -> 10000L)").as("v"))
      iterate(iterate(v0))
        .select(posexplode(col("v")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"), col("v"))
    },

    // Incremental view maintenance: yesterday's MATERIALIZED partial
    // state (n, sum, min, max per key — the mergeable/algebraic forms;
    // avg is NOT mergeable, which is exactly why the state stores (n,
    // sum) and derives it) merged with today's delta partials by
    // re-aggregation — the delta-refresh shape where only new data is
    // scanned and the exchange carries |keys| partial rows, never
    // history. Oracle = the full-scan truth: the merge must be lossless.
    "q_incremental_agg" -> Query(
      // Full-scan truth the state+delta merge must reproduce losslessly.
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(cents) AS min_cents, max(cents) AS max_cents,
        |  CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents
        |FROM e GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = eventsUsPrecision(s, dir).select(col("event_type"),
        expr("ts_ns div 86400000000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      def partials(f: DataFrame) = f.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      val state = partials(e.filter(col("day") < 19743))  // materialized view
      val delta = partials(e.filter(col("day") >= 19743)) // new arrivals only
      state.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
          min(col("min_cents")).as("min_cents"),
          max(col("max_cents")).as("max_cents"))
        .withColumn("avg_cents", expr("CAST(sum_cents div n AS BIGINT)"))
    },

    // Holt double-exponential smoothing (level + trend) per user — the
    // one-step forecasting recurrence on the ewmaInt ordered-scan tier;
    // two coupled carried states, bit-deterministic integers.
    "q_holt" -> Query(
      // The coupled level/trend recurrence replayed as a recursive CTE;
      // shifts a=3 (÷8), c=4 (÷16), truncating division on both engines.
      holtCte +
        """
          |SELECT user_id, tus, cents, level, trend, level + trend AS forecast
          |FROM r""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("ts_ns div 1000").as("tus"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      operators.TimeSeries.holtInt(ev, "user_id", "tus", "cents", a = 3, c = 4)
    },

    // STREAMING CUSUM — the cusumInt recurrence replayed by the shared
    // buffer-then-finalize state core; burst result must equal the batch
    // operator under any arrival order (SHARED oracle with q_cusum).
    "q_cusum_stream" -> Query(
      // Batch and stream must replay the identical recurrence.
      cusumOracle) { (s, dir) =>
      val rows = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val maxTus = rows.map(_._2).max
      val events = memoryStream[(Long, Long, Long)](s, "user_id", "tus", "cents")(
        rows.toSeq, Seq((-1L, maxTus + 30L * 86400000000L, 0L))) // watermark sentinel
        .select(col("user_id"), timestamp_micros(col("tus")).as("ts"),
          col("tus"), col("cents"))
      val cus = operators.TimeSeries.cusumIntStreaming(
        events, "user_id", "ts", "tus", "cents", drift = 30000L,
        gapMs = 3600L * 1000, watermarkDelay = "0 seconds")
      drainStream(s, "cusum", cus).filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("tus"), col("cents"), col("cusum"),
          (col("cusum") >= lit(200000L)).as("alarm"))
    },

    // A/B cohort comparison (Welch's t²): exact integer moments (n, Σx,
    // Σx²) from ONE conditional-aggregation scan pass — the shuffle
    // carries one 48-byte partial per cohort — then the statistic as
    // SCALAR double arithmetic over those six integers. Scalar +,−,×,÷
    // are IEEE correctly rounded and the expression tree is spelled
    // identically in the oracle, so the result is bit-deterministic
    // (only float SUMS over data are order-dependent; there are none).
    // At ~10¹⁰ rows/cohort Σx² approaches int64 — shard into per-day
    // cohort moments first (mergeable) or widen to decimal.
    "q_ab_test" -> Query(
      // Identical expression tree over the same six exact integer moments;
      // scalar double ops are IEEE-deterministic on both engines.
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT
        |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
        |      AS n_a,
        |    CAST(sum(cents) FILTER (WHERE event_type = 'click') AS BIGINT)
        |      AS s_a,
        |    CAST(sum(cents * cents) FILTER (WHERE event_type = 'click')
        |      AS BIGINT) AS ss_a,
        |    CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT)
        |      AS n_b,
        |    CAST(sum(cents) FILTER (WHERE event_type = 'view') AS BIGINT)
        |      AS s_b,
        |    CAST(sum(cents * cents) FILTER (WHERE event_type = 'view')
        |      AS BIGINT) AS ss_b
        |  FROM e),
        |t AS (SELECT n_a, n_b,
        |    CAST(s_a * 1000 // n_a AS BIGINT) AS mean_a_milli,
        |    CAST(s_b * 1000 // n_b AS BIGINT) AS mean_b_milli,
        |    CAST(floor(1000000 * (((CAST(s_a AS DOUBLE) / n_a -
        |      CAST(s_b AS DOUBLE) / n_b) * (CAST(s_a AS DOUBLE) / n_a -
        |      CAST(s_b AS DOUBLE) / n_b)) / (((CAST(ss_a AS DOUBLE) -
        |      CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a) / (n_a - 1))
        |      / n_a + ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) *
        |      CAST(s_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b))) AS BIGINT)
        |      AS t2_micro
        |  FROM m)
        |SELECT n_a, n_b, mean_a_milli, mean_b_milli, t2_micro,
        |  t2_micro > 3841459 AS significant
        |FROM t""".stripMargin) { (s, dir) =>
      val m = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .agg(
          count(when(col("event_type") === "click", lit(1))).as("n_a"),
          sum(when(col("event_type") === "click", col("cents"))).as("s_a"),
          sum(when(col("event_type") === "click",
            col("cents") * col("cents"))).as("ss_a"),
          count(when(col("event_type") === "view", lit(1))).as("n_b"),
          sum(when(col("event_type") === "view", col("cents"))).as("s_b"),
          sum(when(col("event_type") === "view",
            col("cents") * col("cents"))).as("ss_b"))
      m.select(col("n_a"), col("n_b"),
          expr("CAST(s_a * 1000 div n_a AS BIGINT)").as("mean_a_milli"),
          expr("CAST(s_b * 1000 div n_b AS BIGINT)").as("mean_b_milli"),
          expr("CAST(floor(1000000 * (((CAST(s_a AS DOUBLE) / n_a - " +
            "CAST(s_b AS DOUBLE) / n_b) * (CAST(s_a AS DOUBLE) / n_a - " +
            "CAST(s_b AS DOUBLE) / n_b)) / (((CAST(ss_a AS DOUBLE) - " +
            "CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a) / (n_a - 1)) " +
            "/ n_a + ((CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * " +
            "CAST(s_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b))) AS BIGINT)")
            .as("t2_micro"))
        .withColumn("significant", col("t2_micro") > 3841459L)
    },

    // Percent-of-parent hierarchical rollup (region → nation revenue
    // shares): three BROADCAST dim joins onto the orders scan, one
    // partial-agg'd (region, nation) aggregate, then the share windows
    // run over the 25-row AGGREGATE — never base data. Integer milli.
    "q_share_hierarchy" -> Query(
      // Shares computed over the 25-row aggregate; // ≡ div on BIGINT.
      """WITH rev AS (SELECT r.r_name, n.n_name,
        |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, cents,
        |  CAST(cents * 1000 // CAST(sum(cents) OVER (PARTITION BY r_name)
        |    AS BIGINT) AS BIGINT) AS share_of_region_milli,
        |  CAST(cents * 1000 // CAST(sum(cents) OVER () AS BIGINT)
        |    AS BIGINT) AS share_of_total_milli
        |FROM rev""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.orders(s, dir)
        .select(col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("cents")).as("cents"))
      rev.withColumn("share_of_region_milli",
          expr("CAST(cents * 1000 div sum(cents) OVER " +
            "(PARTITION BY r_name) AS BIGINT)"))
        .withColumn("share_of_total_milli",
          expr("CAST(cents * 1000 div sum(cents) OVER () AS BIGINT)"))
    },

    // Entity resolution end-to-end: blocked fuzzy match (PassJoin
    // pigeonhole segments — LOSSLESS, no candidate missed) → transitive
    // closure (large-star/small-star CC with the bounded union-find fast
    // path) → per-entity canonical rollup. The operators-compose story:
    // match edges are delta-sized, the cluster map is bounded by matched
    // records, and the final rollup is one |entities|-keyed aggregate.
    "q_entity_resolution" -> Query(
      // Exhaustive levenshtein pairs (a blocking miss turns the row red) →
      // recursive-CTE closure → per-entity rollup.
      """WITH RECURSIVE p AS (
        |  SELECT doc_id AS id, substring(text, 1, 30) AS t FROM documents),
        |pr AS (SELECT a.id AS ia, b.id AS ib
        |  FROM p a JOIN p b ON a.id < b.id
        |  WHERE abs(length(a.t) - length(b.t)) <= 2
        |    AND levenshtein(a.t, b.t) <= 2),
        |e AS (SELECT ia AS u, ib AS v FROM pr UNION SELECT ib, ia FROM pr),
        |reach(n, r) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT reach.n, e.v FROM reach JOIN e ON reach.r = e.u
        |    WHERE e.v <> reach.n),
        |comp AS (SELECT n, least(n, min(r)) AS cid FROM reach GROUP BY n),
        |asg AS (SELECT d.doc_id, coalesce(c.cid, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON c.n = d.doc_id)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |  max(doc_id) AS max_member
        |FROM asg GROUP BY 1""".stripMargin) { (s, dir) =>
      val recs = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 30).as("prefix"))
      val pairs = graft.operators.FuzzyJoin.selfJoin(
        recs, "doc_id", "prefix", maxDist = 2)
      graft.data.Clustering.assignClusters(recs, "doc_id",
          pairs.select(col("a_id").as("id_a"), col("b_id").as("id_b")))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
    },

    // RFM customer segmentation: one user-keyed aggregate (recency /
    // frequency / monetary), then exact discrete quintile bands via rank
    // windows OVER THE AGGREGATE (|users| rows, never events), ties
    // pinned by user_id so bands are a pure function of the data. Band
    // arithmetic: quint(rank) = (rank−1)·5 div n + 1; best band scores 5.
    "q_rfm" -> Query(
      // Quintile bands over the per-user aggregate; ties pinned by user_id.
      """WITH per AS (SELECT user_id,
        |    max(epoch_us(ts) // 86400000000) AS last_day,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary
        |  FROM events GROUP BY 1),
        |r AS (SELECT *, count(*) OVER () AS nn,
        |    row_number() OVER (ORDER BY last_day DESC, user_id) AS r_rank,
        |    row_number() OVER (ORDER BY frequency DESC, user_id) AS f_rank,
        |    row_number() OVER (ORDER BY monetary DESC, user_id) AS m_rank
        |  FROM per)
        |SELECT user_id, last_day, frequency, monetary,
        |  CAST(6 - ((r_rank - 1) * 5 // nn + 1) AS BIGINT) AS r_score,
        |  CAST(6 - ((f_rank - 1) * 5 // nn + 1) AS BIGINT) AS f_score,
        |  CAST(6 - ((m_rank - 1) * 5 // nn + 1) AS BIGINT) AS m_score,
        |  CAST((6 - ((r_rank - 1) * 5 // nn + 1)) * 100
        |    + (6 - ((f_rank - 1) * 5 // nn + 1)) * 10
        |    + (6 - ((m_rank - 1) * 5 // nn + 1)) AS BIGINT) AS rfm_code
        |FROM r""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val per = eventsUsPrecision(s, dir)
        .groupBy(col("user_id"))
        .agg(max(expr("ts_ns div 86400000000000")).as("last_day"),
          count(lit(1)).as("frequency"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("monetary"))
      val withRanks = per
        .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
        .withColumn("r_rank", row_number().over(
          Window.orderBy(col("last_day").desc, col("user_id"))))
        .withColumn("f_rank", row_number().over(
          Window.orderBy(col("frequency").desc, col("user_id"))))
        .withColumn("m_rank", row_number().over(
          Window.orderBy(col("monetary").desc, col("user_id"))))
      withRanks.select(col("user_id"), col("last_day"), col("frequency"),
          col("monetary"),
          expr("6 - ((r_rank - 1) * 5 div nn + 1)").as("r_score"),
          expr("6 - ((f_rank - 1) * 5 div nn + 1)").as("f_score"),
          expr("6 - ((m_rank - 1) * 5 div nn + 1)").as("m_score"))
        .withColumn("rfm_code",
          expr("r_score * 100 + f_score * 10 + m_score"))
    },

    // Linear multi-touch attribution: each purchase's cents split equally
    // across the user's view/click touches in the trailing 7 days (the
    // whole purchase credited to UNATTRIBUTED when no touch precedes
    // it). One user-keyed join with an in-key time predicate, touch
    // counts as a window over the purchase partition (same exchange),
    // final credit rollup is a ≤3-row aggregate. Integer milli-cents.
    "q_attribution" -> Query(
      // Trailing-7-day touch window, equal split, UNATTRIBUTED fallback.
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) * 1000 AS tns,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, tns AS ptus, cents
        |  FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, tns AS ttus, event_type AS touch_type
        |  FROM e WHERE event_type IN ('view', 'click')),
        |j AS (SELECT p.purchase_id, p.cents, t.touch_type
        |  FROM p LEFT JOIN t ON p.user_id = t.user_id
        |    AND t.ttus <= p.ptus AND t.ttus > p.ptus - 604800000000000),
        |c AS (SELECT *, count(touch_type) OVER (PARTITION BY purchase_id)
        |    AS n_touch FROM j)
        |SELECT coalesce(touch_type, 'UNATTRIBUTED') AS bucket,
        |  CAST(sum(cents * 1000 // greatest(n_touch, 1)) AS BIGINT)
        |    AS credit_milli,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = eventsUsPrecision(s, dir)
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_ns").as("ptus"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val touches = e.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("ts_ns").as("ttus"),
          col("event_type").as("touch_type"))
      val j = purch.join(touches,
        purch("user_id") === touches("user_id") &&
          col("ttus") <= col("ptus") &&
          col("ttus") > col("ptus") - lit(7L * 86400000000000L), "left")
      val counted = j.withColumn("n_touch",
        count(col("touch_type")).over(Window.partitionBy(col("purchase_id"))))
      counted
        .withColumn("bucket", coalesce(col("touch_type"), lit("UNATTRIBUTED")))
        .withColumn("credit_milli",
          expr("cents * 1000 div greatest(n_touch, 1)"))
        .groupBy(col("bucket"))
        .agg(sum(col("credit_milli")).cast("long").as("credit_milli"),
          count(lit(1)).as("n_rows"))
    },

    // Cardinality-capped rollup (top-N + OTHER): the dashboard pattern
    // that bounds result width no matter how many distinct keys exist.
    // Ranks come from the per-(day,type) AGGREGATE (count-of-counts
    // sized), the relabel is scan-local on that aggregate, and the final
    // regroup is ≤ (N+1)·days rows. Ties pinned (n DESC, type).
    "q_topn_other" -> Query(
      // Top-2-per-day relabel on the aggregate, ties (n DESC, type).
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY day
        |    ORDER BY n DESC, event_type) AS rn FROM c)
        |SELECT day, CASE WHEN rn <= 2 THEN event_type ELSE 'OTHER' END
        |    AS bucket,
        |  CAST(sum(n) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM r GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val c = eventsUsPrecision(s, dir)
        .groupBy(expr("ts_ns div 86400000000000").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      c.withColumn("rn", row_number().over(
          Window.partitionBy(col("day"))
            .orderBy(col("n").desc, col("event_type"))))
        .withColumn("bucket",
          when(col("rn") <= 2, col("event_type")).otherwise(lit("OTHER")))
        .groupBy(col("day"), col("bucket"))
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("cents")).cast("long").as("cents"))
    },

    // Decision-stump split scoring (CART Gini impurity): 9 candidate
    // thresholds explode scan-locally and partial-agg to four exact
    // integer counts each; the weighted impurity is then SCALAR IEEE
    // double over those integers (the q_ab_test determinism argument —
    // no float ever sums over data), with the argmin pinned by
    // (impurity, threshold) via a window over the 9-row aggregate. An
    // empty side of a cut scores 0, its limit, on both engines (without
    // the CASE, Spark throws DIVIDE_BY_ZERO and DuckDB returns NULL).
    // The feature-engineering primitive behind "which cut of this metric
    // separates converters" questions.
    "q_gini_split" -> Query(
      // Identical scalar-double impurity over the same exact counts.
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        |    event_type = 'purchase' AS y FROM events),
        |cand AS (SELECT cents, y, unnest([5000, 10000, 15000, 20000,
        |    25000, 30000, 35000, 40000, 45000]) AS thr FROM e),
        |agg AS (SELECT CAST(thr AS BIGINT) AS thr,
        |    CAST(sum(CASE WHEN cents <= thr AND y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pl,
        |    CAST(sum(CASE WHEN cents <= thr AND NOT y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nl,
        |    CAST(sum(CASE WHEN cents > thr AND y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pr,
        |    CAST(sum(CASE WHEN cents > thr AND NOT y THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nr
        |  FROM cand GROUP BY 1),
        |sc AS (SELECT *,
        |    CAST(floor(1000000 * ((CASE WHEN pl + nl = 0 THEN 0
        |      ELSE (pl + nl) - (CAST(pl AS DOUBLE) * pl
        |      + CAST(nl AS DOUBLE) * nl) / (pl + nl) END) + (CASE WHEN
        |      pr + nr = 0 THEN 0 ELSE (pr + nr) -
        |      (CAST(pr AS DOUBLE) * pr + CAST(nr AS DOUBLE) * nr)
        |      / (pr + nr) END)) / (pl + nl + pr + nr)) AS BIGINT)
        |      AS gini_micro
        |  FROM agg)
        |SELECT thr, pl, nl, pr, nr, gini_micro,
        |  row_number() OVER (ORDER BY gini_micro, thr) = 1 AS is_best
        |FROM sc""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = eventsUsPrecision(s, dir).select(
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        (col("event_type") === "purchase").as("y"))
      val cand = e.select(col("cents"), col("y"),
        explode(expr("array(5000L, 10000L, 15000L, 20000L, 25000L, " +
          "30000L, 35000L, 40000L, 45000L)")).as("thr"))
      val agg = cand.groupBy(col("thr")).agg(
        sum(when(col("cents") <= col("thr") && col("y"), 1L)
          .otherwise(0L)).as("pl"),
        sum(when(col("cents") <= col("thr") && !col("y"), 1L)
          .otherwise(0L)).as("nl"),
        sum(when(col("cents") > col("thr") && col("y"), 1L)
          .otherwise(0L)).as("pr"),
        sum(when(col("cents") > col("thr") && !col("y"), 1L)
          .otherwise(0L)).as("nr"))
      val scored = agg.withColumn("gini_micro",
        expr("CAST(floor(1000000 * ((CASE WHEN pl + nl = 0 THEN 0 " +
          "ELSE (pl + nl) - (CAST(pl AS DOUBLE) * pl " +
          "+ CAST(nl AS DOUBLE) * nl) / (pl + nl) END) + (CASE WHEN " +
          "pr + nr = 0 THEN 0 ELSE (pr + nr) - " +
          "(CAST(pr AS DOUBLE) * pr + CAST(nr AS DOUBLE) * nr) / (pr + nr) END))" +
          " / (pl + nl + pr + nr)) AS BIGINT)"))
      scored.withColumn("is_best",
        row_number().over(Window.orderBy(col("gini_micro"), col("thr"))) === 1)
    },

    // SLO error-budget burn rate (the SRE fast-burn alert): per-hour
    // error share against a 1% budget in integer micro/milli units —
    // ONE partial-agg'd exchange keyed by hour, alert thresholds the
    // Google SRE 14.4× fast-burn multiplier. The observability rollup
    // that consumes the OTLP tier's flattened events.
    "q_slo_burn" -> Query(
      // Integer burn-rate arithmetic; budget 1% = 10000 micro. SHARED by
      // the batch row and the streaming tumbling-window form.
      sloBurnOracle) { (s, dir) =>
      eventsUsPrecision(s, dir)
        .groupBy(expr("ts_ns div 3600000000000").as("hr"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("event_type") === "error", lit(1))).as("n_err"))
        .withColumn("err_rate_micro",
          expr("n_err * 1000000 div n_total"))
        .withColumn("burn_milli",
          expr("err_rate_micro * 1000 div 10000")) // budget = 1% = 10000µ
        .withColumn("fast_burn", col("burn_milli") > 14400L)
    },

    // NATIVE stream-stream interval join (Spark's built-in watermarked
    // join, complementing the custom TemporalJoin operator): purchases
    // attributed to the same user's clicks at most 1 h earlier. Both
    // sides carry watermarks, so the state store evicts rows as event
    // time advances — bounded state, the built-in mechanism the custom
    // operator re-implements with different TTL semantics.
    "q_stream_stream_join" -> Query(
      // The watermarked native join must reproduce the batch interval
      // join exactly (inner join, 1 h lookback, micros domain).
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |c AS (SELECT user_id, event_id AS click_id, tus AS c_tus
        |  FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, tus AS p_tus, cents
        |  FROM e WHERE event_type = 'purchase')
        |SELECT p.purchase_id, c.click_id, p.user_id, p.p_tus, c.c_tus,
        |  p.cents
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_tus <= p.p_tus
        |  AND c.c_tus >= p.p_tus - 3600000000""".stripMargin) { (s, dir) =>
      val rows = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("tus"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getLong(4)))
      val maxTus = rows.map(_._3).max
      val both = memoryStream[(Long, Long, Long, String, Long)](s,
        "user_id", "event_id", "tus", "event_type", "cents")(
        rows.toSeq, Seq((-1L, -1L, maxTus + 30L * 86400000000L, "click", 0L)))
      val clicks = both.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          timestamp_micros(col("tus")).as("c_ts"), col("tus").as("c_tus"))
        .withWatermark("c_ts", "0 seconds")
      val purchases = both.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          col("event_id").as("purchase_id"),
          timestamp_micros(col("tus")).as("p_ts"), col("tus").as("p_tus"),
          col("cents"))
        .withWatermark("p_ts", "0 seconds")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
        .select(col("purchase_id"), col("click_id"),
          col("p_user").as("user_id"), col("p_tus"), col("c_tus"),
          col("cents"))
      drainStream(s, "ssj", joined).filter(col("user_id") =!= -1L)
    },

    // NATIVE bounded-state streaming dedup (dropDuplicatesWithinWatermark
    // — beside the custom DedupOp variants): per-(user, type, day) first
    // arrival wins; the watermark bounds how long a key's fingerprint
    // stays in the state store, which is what separates this from plain
    // streaming dropDuplicates' unbounded state. Output is the KEY SET
    // (arrival order can't affect it), so the batch DISTINCT is an exact
    // oracle.
    "q_dedup_native_stream" -> Query(
      // The key set the bounded-state streaming dedup must emit exactly.
      """SELECT DISTINCT user_id, event_type,
        |  epoch_us(ts) // 86400000000 AS day
        |FROM events""".stripMargin) { (s, dir) =>
      val rows = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
          col("event_type"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val maxTus = rows.map(_._2).max
      val events = memoryStream[(Long, Long, String)](s, "user_id", "tus", "event_type")(
        rows.toSeq, Seq((-1L, maxTus + 30L * 86400000000L, "__sentinel__")))
        .select(col("user_id"), timestamp_micros(col("tus")).as("ts"),
          expr("tus div 86400000000").as("day"), col("event_type"))
        .withWatermark("ts", "0 seconds")
      val deduped = events
        .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
        .select(col("user_id"), col("event_type"), col("day"))
      drainStream(s, "ddw", deduped).filter(col("user_id") =!= -1L)
    },

    // Session quality stats (bounce rate / entry-exit analysis): the
    // product-analytics rollup OVER sessionization — 12 h gap sessions,
    // entry/exit types via the ohlc dual-row_number rule (deterministic
    // under ties by (tus, event_id)), bounce = single-event session.
    // Every window partitions by user — ONE key exchange shared by all
    // four window passes — and the final rollup runs on the per-session
    // aggregate, never events.
    "q_session_stats" -> Query(
      // sessionizeOracle's session construction + the ohlc dual-row_number
      // entry/exit rule, rolled up per entry type.
      """WITH m AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |                 >= 43200000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM m),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id, session_no
        |      ORDER BY tus, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, session_no
        |      ORDER BY tus DESC, event_id DESC) AS rn_d
        |  FROM s),
        |g AS (SELECT user_id, session_no, CAST(count(*) AS BIGINT)
        |      AS n_events,
        |    max(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
        |    max(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type,
        |    max(tus) - min(tus) AS duration_us
        |  FROM r GROUP BY 1, 2)
        |SELECT entry_type, exit_type, CAST(count(*) AS BIGINT)
        |    AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS bounce_milli,
        |  CAST(sum(duration_us) // count(*) AS BIGINT) AS avg_duration_us,
        |  CAST(sum(n_events) // count(*) AS BIGINT) AS avg_events
        |FROM g GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = eventsUsPrecision(s, dir).select(col("user_id"),
        expr("ts_ns div 1000").as("tus"), col("event_id"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val marked = e.withColumn("new_s",
        when(lag(col("tus"), 1).over(w).isNull ||
          col("tus") - lag(col("tus"), 1).over(w) >= 43200000000L, 1)
          .otherwise(0))
      val sess = marked.withColumn("session_no",
        sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ws = Window.partitionBy(col("user_id"), col("session_no"))
      val ranked = sess
        .withColumn("rn_a", row_number().over(
          ws.orderBy(col("tus"), col("event_id"))))
        .withColumn("rn_d", row_number().over(
          ws.orderBy(col("tus").desc, col("event_id").desc)))
      val g = ranked.groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"),
          max(when(col("rn_a") === 1, col("event_type"))).as("entry_type"),
          max(when(col("rn_d") === 1, col("event_type"))).as("exit_type"),
          (max(col("tus")) - min(col("tus"))).as("duration_us"))
      g.groupBy(col("entry_type"), col("exit_type"))
        .agg(count(lit(1)).as("n_sessions"),
          expr("CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000 " +
            "div count(1) AS BIGINT)").as("bounce_milli"),
          expr("CAST(sum(duration_us) div count(1) AS BIGINT)")
            .as("avg_duration_us"),
          expr("CAST(sum(n_events) div count(1) AS BIGINT)").as("avg_events"))
    },

    // Z-order file-skipping effectiveness: the measurement that justifies
    // the ZORDER primitive — simulate 250-row files under (a) insertion
    // order and (b) z-order, compute per-file (min,max) column stats, and
    // count how many files a 2-D box query must touch under each layout.
    // The global row_number is the SIMULATION harness (assigning rows to
    // hypothetical files), not a production shape — real writes get this
    // ordering from sortWithinPartitions on the z key at write time.
    "q_zorder_skipping" -> Query(
      // Same bit-spread as the q_zorder oracle; file simulation by global
      // rank under each ordering; box-intersection skipping rule.
      """WITH base AS (SELECT user_id % 256 AS x,
        |    (epoch_us(ts) // 86400000000 - 19723) * 255 // 29 AS y,
        |    event_id
        |  FROM events),
        |z AS (SELECT x, y, event_id, CAST(
        |    list_sum([ ((x >> i) & 1) << (2*i) FOR i IN range(9) ]) +
        |    list_sum([ ((y >> i) & 1) << (2*i + 1) FOR i IN range(9) ])
        |    AS BIGINT) AS z
        |  FROM base),
        |lin AS (SELECT x, y, (row_number() OVER (ORDER BY event_id) - 1)
        |    // 250 AS file_id FROM z),
        |linf AS (SELECT file_id, min(x) AS min_x, max(x) AS max_x,
        |    min(y) AS min_y, max(y) AS max_y FROM lin GROUP BY 1),
        |lint AS (SELECT 'linear' AS layout,
        |    CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(CASE WHEN min_y <= 175 AND max_y >= 87
        |      THEN 1 ELSE 0 END) AS BIGINT) AS touched_time_box,
        |    CAST(sum(CASE WHEN min_x <= 80 AND max_x >= 40
        |      THEN 1 ELSE 0 END) AS BIGINT) AS touched_id_box FROM linf),
        |zo AS (SELECT x, y, (row_number() OVER (ORDER BY z, event_id) - 1)
        |    // 250 AS file_id FROM z),
        |zof AS (SELECT file_id, min(x) AS min_x, max(x) AS max_x,
        |    min(y) AS min_y, max(y) AS max_y FROM zo GROUP BY 1),
        |zot AS (SELECT 'zorder' AS layout,
        |    CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(CASE WHEN min_y <= 175 AND max_y >= 87
        |      THEN 1 ELSE 0 END) AS BIGINT) AS touched_time_box,
        |    CAST(sum(CASE WHEN min_x <= 80 AND max_x >= 40
        |      THEN 1 ELSE 0 END) AS BIGINT) AS touched_id_box FROM zof)
        |SELECT * FROM lint UNION ALL SELECT * FROM zot"""
        .stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.exprs.ZOrder
      // both axes scaled onto 8 bits: Morton interleave only tiles the
      // space when the axes carry comparable bit-widths — with raw day
      // numbers (5 bits) under 8-bit user ids, the id's high bits
      // dominate the order and files degenerate to id-slices.
      // Two query shapes probe each layout: a TIME slice (y in [87,175],
      // any id — the shape insertion order serves) and an ID slice
      // (x in [40,80], any day — the shape that forces a time-ordered
      // layout to touch EVERY file). Z-order's value is bounding the
      // worst case across both. The global row_number is the SIMULATION
      // harness (assigning rows to hypothetical 250-row files); real
      // writes get the ordering from sortWithinPartitions on the z key.
      val base = eventsUsPrecision(s, dir).select(
        pmod(col("user_id"), lit(256)).cast("long").as("x"),
        expr("(ts_ns div 86400000000000 - 19723) * 255 div 29").as("y"),
        col("event_id"))
        .withColumn("z", ZOrder.interleaveBits(col("x"), col("y")))
      def simulate(name: String, ord: Column) = base
        .withColumn("rk", row_number().over(Window.orderBy(ord, col("event_id"))))
        .withColumn("file_id", expr("(rk - 1) div 250"))
        .groupBy(col("file_id"))
        .agg(min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("min_y") <= 175 && col("max_y") >= 87, 1L)
            .otherwise(0L)).as("touched_time_box"),
          sum(when(col("min_x") <= 80 && col("max_x") >= 40, 1L)
            .otherwise(0L)).as("touched_id_box"))
        .select(lit(name).as("layout"), col("n_files"),
          col("touched_time_box"), col("touched_id_box"))
      simulate("linear", col("event_id"))
        .unionByName(simulate("zorder", col("z")))
    },

    // One-step forecast backtest: Holt's per-row forecast scored against
    // the key's NEXT observation with naive carry-forward as baseline —
    // the model-evaluation loop closed over the holtInt operator. The
    // lead window reuses holtInt's user partitioning; MAE in exact
    // integer cents.
    "q_forecast_backtest" -> Query(
      // One-step-ahead evaluation over the same recurrence: each row's
      // forecast is scored against the key's NEXT observation, with the
      // naive carry-forward forecast as the baseline.
      holtCte +
        """,
          |n AS (SELECT *, level + trend AS forecast,
          |    lead(cents) OVER (PARTITION BY user_id ORDER BY tus)
          |      AS next_cents
          |  FROM r)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(abs(forecast - next_cents)) // count(*) AS BIGINT)
          |    AS mae_holt,
          |  CAST(sum(abs(cents - next_cents)) // count(*) AS BIGINT)
          |    AS mae_naive,
          |  (sum(abs(forecast - next_cents)) // count(*))
          |    < (sum(abs(cents - next_cents)) // count(*)) AS holt_wins
          |FROM n WHERE next_cents IS NOT NULL GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).select(col("user_id"),
        expr("ts_ns div 1000").as("tus"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val h = operators.TimeSeries.holtInt(ev, "user_id", "tus", "cents",
        a = 3, c = 4)
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      h.withColumn("next_cents", lead(col("cents"), 1).over(w))
        .filter(col("next_cents").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(abs(forecast - next_cents)) div count(1) " +
            "AS BIGINT)").as("mae_holt"),
          expr("CAST(sum(abs(cents - next_cents)) div count(1) " +
            "AS BIGINT)").as("mae_naive"))
        .withColumn("holt_wins", col("mae_holt") < col("mae_naive"))
    },

    // Recency-weighted sampling (training-data freshness bias): keep
    // probability halves per week of age — weight_milli = 1000 >> weeks
    // — decided by the same deterministic hash-Bernoulli draw as
    // q_weighted_sample (scan-local; same survivors at any scale or
    // partitioning). The 1-row global max-day attach rides a bounded
    // broadcast (q_rolling_dau shape).
    "q_recency_sample" -> Query(
      // Same md5 draw / hex-threshold rule as q_weighted_sample; weight
      // halves per week of age.
      """WITH e AS (SELECT event_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |mx AS (SELECT max(day) AS max_day FROM e),
        |w AS (SELECT event_id, day,
        |    (max_day - day) // 7 AS age_weeks,
        |    CAST(1000 // (1 << least((max_day - day) // 7, 10)) AS BIGINT)
        |      AS weight_milli,
        |    substring(md5('recency' || CAST(event_id AS VARCHAR)), 1, 8)
        |      AS draw
        |  FROM e, mx)
        |SELECT event_id, day, age_weeks, weight_milli FROM w
        |WHERE weight_milli >= 1000
        |   OR draw < lpad(lower(hex((weight_milli * 4294967296) // 1000)),
        |        8, '0')""".stripMargin) { (s, dir) =>
      import graft.data.Sampling
      val e = eventsUsPrecision(s, dir).select(col("event_id"),
        expr("ts_ns div 86400000000000").as("day"))
      val mx = e.agg(max(col("day")).as("max_day"))
      val w = e.crossJoin(mx)
        .withColumn("age_weeks", expr("(max_day - day) div 7"))
        .withColumn("weight_milli",
          expr("CAST(1000 div shiftleft(1, CAST(least(age_weeks, 10) " +
            "AS INT)) AS BIGINT)"))
      val draw = Sampling.hashDraw(col("event_id"), "recency")
      w.filter(col("weight_milli") >= 1000L ||
          draw < lpad(lower(hex(
            expr("(weight_milli * 4294967296) div 1000"))), 8, "0"))
        .select(col("event_id"), col("day"), col("age_weeks"),
          col("weight_milli"))
    },

    // TPC-H Q3 (shipping priority), adapted to this schema: revenue in
    // exact integer cent·pct units (cents × (100 − disc_pct)) so the
    // top-10 is hash-stable where the float formulation is not; ties at
    // the cut pinned by l_orderkey. Plan shape: both fact filters reach
    // the scans, the BUILDING customer key set broadcasts (AQE), the
    // lineitem⋈orders join shuffles on orderkey, and the top-10 is a
    // TakeOrdered — no global sort materialization.
    "q_tpch_q3" -> Query(
      // Classic Q3 with integer cent·pct revenue; tie at the cut pinned.
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS revenue_unit,
        |  o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_unit DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) * " +
            "(100 - CAST(round(l_discount * 100) AS BIGINT))").as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev")).as("revenue_unit"))
        .orderBy(col("revenue_unit").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5 (local supplier volume): the 6-table join with the
    // customer-and-supplier-same-nation constraint. nation and region
    // broadcast explicitly (true dimensions); the year filter reaches
    // the orders scan; everything else is declarative — AQE picks
    // broadcast vs shuffle per side from runtime sizes.
    "q_tpch_q5" -> Query(
      // Classic Q5 with the same-nation constraint.
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
        |    AS revenue_unit
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val asia = broadcast(Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) * " +
          "(100 - CAST(round(l_discount * 100) AS BIGINT))").as("rev"))
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(asia, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).cast("long").as("revenue_unit"))
    },

    // The Catalyst-NATIVE as-of join (graft.plans: logical node + planner
    // strategy + physical exec that DECLARES its distribution/ordering
    // requirements, so EnsureRequirements reuses upstream layouts instead
    // of always paying a repartition+sort) — held to the SAME oracle as
    // the operator-level q_asof_join.
    "q_asof_native" -> Query(
      // The Catalyst-native exec must reproduce the operator-level as-of
      // join exactly (shared truth).
      asofOracle) { (s, dir) =>
      val ev = eventsUsPrecision(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("value").as("purchase_value"), col("ts_ns").as("purchase_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          col("value").as("view_value"), col("ts_ns").as("view_ts"))
      graft.plans.NativeAsOfJoin.join(purchases, views,
          "user_id", "purchase_ts", "v_user", "view_ts",
          86400L * 1000000000L)
        .select(col("purchase_id"), col("user_id"), col("purchase_value"),
          col("purchase_ts"), col("view_id"), col("view_value"))
    },

    // DAU/MAU stickiness — the engagement-depth ratio completing the
    // rolling-distinct family (q_rolling_dau's 7-day WAU shape, 30-day
    // fanout): the deduped (user, day) frame explodes once per report
    // day in its trailing window; the only shuffle is the per-report-day
    // distinct aggregate. Stickiness in integer milli.
    "q_dau_mau" -> Query(
      // DAU joined to the trailing-30-day distinct actives; stickiness in
      // integer milli.
      """WITH act AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |hi AS (SELECT max(day) AS hi FROM act),
        |dau AS (SELECT day AS report_day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM act GROUP BY 1),
        |mau AS (SELECT report_day,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM (SELECT user_id,
        |      unnest(generate_series(day, day + 29)) AS report_day
        |    FROM act), hi
        |  WHERE report_day <= hi GROUP BY 1)
        |SELECT report_day, dau, mau,
        |  CAST(dau * 1000 // mau AS BIGINT) AS stickiness_milli
        |FROM dau JOIN mau USING (report_day)""".stripMargin) { (s, dir) =>
      val act = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
        .distinct()
      val bounds = act.agg(max(col("day")).as("hi"))
      val dau = act.groupBy(col("day").as("report_day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val mau = act.withColumn("report_day",
          explode(sequence(col("day"), col("day") + 29)))
        .crossJoin(broadcast(bounds))
        .filter(col("report_day") <= col("hi"))
        .groupBy(col("report_day"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dau.join(mau, Seq("report_day"))
        .withColumn("stickiness_milli", expr("CAST(dau * 1000 div mau AS BIGINT)"))
    },

    // REAL audio decode end to end: per doc a deterministic 16-bit PCM
    // WAV is assembled (RIFF bytes for an integer sawtooth), then parsed
    // back by the RIFF/PCM decoder — sample rate, bit depth, channel
    // count and frame count all come from the CONTAINER BYTES, and the
    // mean |amplitude| from the PCM payload, so any header or sample
    // mis-parse turns the row red against the closed-form oracle. The
    // audio analog of q_multimodal's javax.imageio leg; scan-local
    // (binary build + parse inside the projection, no shuffle).
    "q_audio_decode" -> Query(
      // Closed-form truth for the sawtooth PCM payload: mean |s| replayed
      // exactly per doc; header fields are constants of the builder the
      // decoder must read back from the bytes.
      """WITH p AS (SELECT doc_id,
        |    CAST(2000 + (doc_id % 50) * 40 AS BIGINT) AS n,
        |    CAST(17 + (doc_id % 13) * 2 AS BIGINT) AS step
        |  FROM documents),
        |s AS (SELECT doc_id, n, step, unnest(range(n)) AS i FROM p),
        |a AS (SELECT doc_id,
        |    CAST(sum(abs(((i * step) % 2000) - 1000)) AS BIGINT) AS sa
        |  FROM s GROUP BY 1)
        |SELECT p.doc_id, p.n AS n_frames,
        |  CAST(16000 AS BIGINT) AS sample_rate,
        |  CAST(16 AS BIGINT) AS bits,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(p.n * 1000 // 16000 AS BIGINT) AS duration_ms,
        |  CAST(floor((CAST(a.sa AS DOUBLE) / p.n) * 1000) AS BIGINT)
        |    AS mean_abs_milli,
        |  CAST(44 + p.n * 2 AS BIGINT) AS n_bytes
        |FROM p JOIN a USING (doc_id)""".stripMargin) { (s, dir) =>
      import graft.data.Multimodal
      val wavUdf = udf((n: Int, step: Int) => Multimodal.syntheticWav(n, step))
      val decUdf = udf((b: Array[Byte]) =>
        Multimodal.WavDecoder.decode("audio/wav", b)
          .map(d => (d.width, d.height, d.channels, d.nFrames, d.meanSample)))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("CAST(2000 + (doc_id % 50) * 40 AS INT)").as("n"),
          expr("CAST(17 + (doc_id % 13) * 2 AS INT)").as("step"))
        .withColumn("wav", wavUdf(col("n"), col("step")))
        .withColumn("d", decUdf(col("wav")))
        .select(col("doc_id"),
          col("d._4").cast("long").as("n_frames"),
          col("d._1").cast("long").as("sample_rate"),
          col("d._2").cast("long").as("bits"),
          col("d._3").cast("long").as("channels"),
          expr("CAST(d._4 * 1000 div d._1 AS BIGINT)").as("duration_ms"),
          expr("CAST(floor(d._5 * 1000) AS BIGINT)").as("mean_abs_milli"),
          length(col("wav")).cast("long").as("n_bytes"))
    },

    // Cohort LTV curves: cumulative purchase revenue per signup-week
    // cohort by week age, normalized per cohort member — the
    // monetization view q_cohort_retention's activity view pairs with.
    // All shuffles are user- or cohort-keyed; the cumulative window runs
    // over the (cohort × age) AGGREGATE, never events.
    "q_ltv_cohort" -> Query(
      // Cohort-week grid from first-seen weeks; cumulative window over the
      // aggregate; per-member normalization in integer milli.
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 604800000000 AS week, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_w FROM e GROUP BY 1),
        |sz AS (SELECT cohort_w, CAST(count(*) AS BIGINT) AS cohort_users
        |  FROM f GROUP BY 1),
        |rev AS (SELECT f.cohort_w, e.week - f.cohort_w AS age_w,
        |    CAST(sum(e.cents) AS BIGINT) AS cents
        |  FROM e JOIN f USING (user_id)
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT rev.*, sz.cohort_users,
        |    CAST(sum(cents) OVER (PARTITION BY rev.cohort_w ORDER BY age_w
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        |  FROM rev JOIN sz USING (cohort_w))
        |SELECT cohort_w, age_w, cents, cum_cents, cohort_users,
        |  CAST(cum_cents * 1000 // cohort_users AS BIGINT)
        |    AS ltv_milli_per_user
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = eventsUsPrecision(s, dir).select(col("user_id"),
        expr("ts_ns div 604800000000000").as("week"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val first = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_w"))
      val size = first.groupBy(col("cohort_w"))
        .agg(count(lit(1)).as("cohort_users"))
      val rev = e.filter(col("event_type") === "purchase")
        .join(first, Seq("user_id"))
        .groupBy(col("cohort_w"), (col("week") - col("cohort_w")).as("age_w"))
        .agg(sum(col("cents")).as("cents"))
      rev.join(broadcast(size), Seq("cohort_w"))
        .withColumn("cum_cents",
          sum(col("cents")).over(Window.partitionBy(col("cohort_w"))
            .orderBy(col("age_w"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .withColumn("ltv_milli_per_user",
          expr("CAST(cum_cents * 1000 div cohort_users AS BIGINT)"))
        .select(col("cohort_w"), col("age_w"), col("cents").cast("long").as("cents"),
          col("cum_cents"), col("cohort_users"), col("ltv_milli_per_user"))
    },

    // Funnel step-conversion rates: the dashboard rollup over the
    // Funnel.firstTouch operator — per step, users reaching it, the
    // step-over-step conversion and the overall share, all from a ≤3-row
    // aggregate (the explode fans each user into one row per step
    // reached, partial-agg'd before the exchange). Integer milli.
    "q_funnel_rates" -> Query(
      // The q_funnel chained-min CTEs rolled up to per-step counts and
      // conversion shares.
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS tus, event_type
        |            FROM events),
        |v AS (SELECT user_id, min(tus) AS t1 FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT ev.user_id, min(tus) AS t2 FROM ev
        |      JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND tus > v.t1 GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, min(tus) AS t3 FROM ev
        |      JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND tus > c.t2
        |      GROUP BY ev.user_id),
        |f AS (SELECT CASE WHEN p.t3 IS NOT NULL THEN 3
        |       WHEN c.t2 IS NOT NULL THEN 2 ELSE 1 END AS reached
        |  FROM v
        |  LEFT JOIN c ON v.user_id = c.user_id
        |  LEFT JOIN p ON v.user_id = p.user_id),
        |st AS (SELECT s.step, CAST(count(*) AS BIGINT) AS n_reached
        |  FROM f, unnest(generate_series(1, reached)) AS s(step)
        |  GROUP BY 1),
        |w AS (SELECT step, n_reached,
        |    lag(n_reached) OVER (ORDER BY step) AS prev,
        |    first_value(n_reached) OVER (ORDER BY step
        |      ROWS UNBOUNDED PRECEDING) AS base
        |  FROM st)
        |SELECT CAST(step AS BIGINT) AS step, n_reached,
        |  CAST(CASE WHEN prev IS NULL THEN 1000
        |    ELSE n_reached * 1000 // prev END AS BIGINT)
        |    AS conv_from_prev_milli,
        |  CAST(n_reached * 1000 // base AS BIGINT) AS overall_milli
        |FROM w""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = eventsUsPrecision(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("tus"),
          col("event_type"))
      val f = operators.Funnel.firstTouch(ev, "user_id", "tus", "event_type",
        Seq("view", "click", "purchase"))
      val st = f.select(explode(sequence(lit(1), col("reached"))).as("step"))
        .groupBy(col("step")).agg(count(lit(1)).as("n_reached"))
      val w = Window.orderBy(col("step"))
      st.withColumn("prev", lag(col("n_reached"), 1).over(w))
        .withColumn("base", first(col("n_reached")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("step").cast("long").as("step"), col("n_reached"),
          expr("CAST(CASE WHEN prev IS NULL THEN 1000 " +
            "ELSE n_reached * 1000 div prev END AS BIGINT)")
            .as("conv_from_prev_milli"),
          expr("CAST(n_reached * 1000 div base AS BIGINT)")
            .as("overall_milli"))
    },

    // Lag-k autocorrelation of the daily revenue series (lags 1 and 7 —
    // momentum and weekly seasonality): exact integer moment sums over
    // the ~30-row DAILY AGGREGATE (events pay one partial-agg'd exchange,
    // everything after runs on the aggregate), Pearson r in scalar IEEE
    // double (the q_ab_test determinism argument — sqrt is correctly
    // rounded, no float ever sums over data).
    "q_autocorr" -> Query(
      // Identical moment sums and scalar-double Pearson spelling.
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |l AS (SELECT k.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(a.c) AS BIGINT) AS sx, CAST(sum(b.c) AS BIGINT) AS sy,
        |    CAST(sum(a.c * b.c) AS BIGINT) AS sxy,
        |    CAST(sum(a.c * a.c) AS BIGINT) AS sxx,
        |    CAST(sum(b.c * b.c) AS BIGINT) AS syy
        |  FROM (VALUES (1), (7)) k(lag)
        |  JOIN daily a ON TRUE
        |  JOIN daily b ON b.day = a.day + k.lag
        |  GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
        |  CAST(floor(1000000 * ((CAST(n_pairs AS DOUBLE) * sxy -
        |    CAST(sx AS DOUBLE) * sy) / sqrt((CAST(n_pairs AS DOUBLE) * sxx
        |    - CAST(sx AS DOUBLE) * sx) * (CAST(n_pairs AS DOUBLE) * syy -
        |    CAST(sy AS DOUBLE) * sy)))) AS BIGINT) AS r_micro
        |FROM l""".stripMargin) { (s, dir) =>
      val daily = eventsUsPrecision(s, dir)
        .groupBy(expr("ts_ns div 86400000000000").as("day"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("c"))
      def lagged(k: Long) = daily.select(col("day"), col("c").as("x"))
        .join(daily.select((col("day") - k).as("day"), col("c").as("y")),
          Seq("day"))
        .agg(lit(k).as("lag"), count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      lagged(1L).unionByName(lagged(7L))
        .select(col("lag"), col("n_pairs"),
          expr("CAST(floor(1000000 * ((CAST(n_pairs AS DOUBLE) * sxy - " +
            "CAST(sx AS DOUBLE) * sy) / sqrt((CAST(n_pairs AS DOUBLE) * sxx " +
            "- CAST(sx AS DOUBLE) * sx) * (CAST(n_pairs AS DOUBLE) * syy - " +
            "CAST(sy AS DOUBLE) * sy)))) AS BIGINT)").as("r_micro"))
    },

    // Day-of-week seasonality index: per-dow mean vs overall mean as the
    // exact integer cross ratio (sum_d·n_total·1000) div (n_d·sum_total)
    // — no float averages; dow = epoch-day mod 7, the engine-portable
    // convention (named-weekday functions disagree across engines).
    "q_seasonality_index" -> Query(
      // Exact integer cross-ratio; dow = epoch-day mod 7 on both engines.
      """WITH e AS (SELECT (epoch_us(ts) // 86400000000) % 7 AS dow,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |per AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents FROM e GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(sum_cents) AS BIGINT) AS sum_total FROM per)
        |SELECT dow, n, sum_cents,
        |  CAST(sum_cents * n_total * 1000 // (n * sum_total) AS BIGINT)
        |    AS index_milli
        |FROM per, tot""".stripMargin) { (s, dir) =>
      val e = eventsUsPrecision(s, dir).select(
        expr("(ts_ns div 86400000000000) % 7").as("dow"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val per = e.groupBy(col("dow"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      val tot = per.agg(sum(col("n")).as("n_total"),
        sum(col("sum_cents")).as("sum_total"))
      per.crossJoin(broadcast(tot))
        .select(col("dow"), col("n"), col("sum_cents").cast("long").as("sum_cents"),
          expr("CAST(sum_cents * n_total * 1000 div (n * sum_total) AS BIGINT)")
            .as("index_milli"))
    },

    // Vocabulary drift between two corpus slices (the token-distribution
    // monitoring pass that catches a crawl source going stale or a
    // scraper breaking): per-token share in each half in integer micro,
    // delta ranked. ONE token-keyed exchange; the share denominators are
    // windows over the VOCABULARY aggregate (hundreds of rows), never
    // occurrences; min-count cut before output.
    "q_vocab_drift" -> Query(
      // Same tokenization; shares over the vocabulary aggregate.
      """WITH toks AS (SELECT doc_id % 2 = 0 AS in_a,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT tok,
        |    CAST(count(*) FILTER (WHERE in_a) AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (WHERE NOT in_a) AS BIGINT) AS n_b
        |  FROM toks GROUP BY 1),
        |sh AS (SELECT tok, n_a, n_b,
        |    CAST(n_a * 1000000 // CAST(sum(n_a) OVER () AS BIGINT)
        |      AS BIGINT) AS share_a_micro,
        |    CAST(n_b * 1000000 // CAST(sum(n_b) OVER () AS BIGINT)
        |      AS BIGINT) AS share_b_micro
        |  FROM c)
        |SELECT tok, n_a, n_b, share_a_micro, share_b_micro,
        |  share_a_micro - share_b_micro AS delta_micro
        |FROM sh WHERE n_a + n_b >= 20""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      val counts = Tables.documents(s, dir)
        .select((col("doc_id") % 2 === 0).as("in_a"),
          TextFunctions.tokens(col("text")).as("t"))
        .select(col("in_a"), explode(col("t")).as("tok"))
        .groupBy(col("tok"))
        .agg(count(when(col("in_a"), lit(1))).as("n_a"),
          count(when(!col("in_a"), lit(1))).as("n_b"))
      counts
        .withColumn("share_a_micro",
          expr("CAST(n_a * 1000000 div sum(n_a) OVER () AS BIGINT)"))
        .withColumn("share_b_micro",
          expr("CAST(n_b * 1000000 div sum(n_b) OVER () AS BIGINT)"))
        .withColumn("delta_micro",
          col("share_a_micro") - col("share_b_micro"))
        .filter(col("n_a") + col("n_b") >= 20)
    },

    // STREAMING SLO burn rate: the fast-burn alert as a live tumbling
    // window + watermark query (alerts are streaming by nature — an
    // hourly batch job discovers a burn an hour late). Per-window state
    // is two counters; SHARED oracle with the batch row.
    "q_slo_burn_stream" -> Query(sloBurnOracle) { (s, dir) =>
      val rows = Tables.events(s, dir)
        .select(expr("ts_ns div 1000").as("tus"), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val maxTus = rows.map(_._1).max
      val maxHr = maxTus / 3600000000L
      val events = memoryStream[(Long, String)](s, "tus", "event_type")(
        rows.toSeq, Seq((maxTus + 3L * 86400000000L, "__sentinel__")))
        .select(timestamp_micros(col("tus")).as("ts"), col("event_type"))
        .withWatermark("ts", "0 seconds")
      val agg = events
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("event_type") === "error", lit(1))).as("n_err"))
        .select(expr("unix_micros(window.start) div 3600000000").as("hr"),
          col("n_total"), col("n_err"))
        .withColumn("err_rate_micro", expr("n_err * 1000000 div n_total"))
        .withColumn("burn_milli", expr("err_rate_micro * 1000 div 10000"))
        .withColumn("fast_burn", col("burn_milli") > 14400L)
      drainStream(s, "slo", agg).filter(col("hr") <= maxHr)
    },

    // Period-over-period revenue bridge (the FP&A waterfall): decompose
    // each type's revenue delta between the first and second fortnight
    // into volume effect ((n₂−n₁)·p̄₁), price effect (n₂·(p̄₂−p̄₁)) and
    // the exact integer residual closing the bridge — truncating integer
    // means keep every term exact and the identity auditable. One
    // conditional-aggregation scan pass, 5-row output.
    "q_revenue_bridge" -> Query(
      // Same truncating-integer bridge identity.
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 < 19738 AS p1,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |a AS (SELECT event_type,
        |    CAST(count(*) FILTER (WHERE p1) AS BIGINT) AS n1,
        |    CAST(coalesce(sum(cents) FILTER (WHERE p1), 0) AS BIGINT) AS t1,
        |    CAST(count(*) FILTER (WHERE NOT p1) AS BIGINT) AS n2,
        |    CAST(coalesce(sum(cents) FILTER (WHERE NOT p1), 0) AS BIGINT)
        |      AS t2
        |  FROM e GROUP BY 1)
        |SELECT event_type, n1, t1, n2, t2,
        |  CAST(t2 - t1 AS BIGINT) AS delta_cents,
        |  CAST((n2 - n1) * (t1 // n1) AS BIGINT) AS volume_effect,
        |  CAST(n2 * (t2 // n2 - t1 // n1) AS BIGINT) AS price_effect,
        |  CAST((t2 - t1) - (n2 - n1) * (t1 // n1)
        |    - n2 * (t2 // n2 - t1 // n1) AS BIGINT) AS residual
        |FROM a""".stripMargin) { (s, dir) =>
      eventsUsPrecision(s, dir)
        .select(col("event_type"),
          (expr("ts_ns div 86400000000000") < 19738L).as("p1"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"))
        .agg(count(when(col("p1"), lit(1))).as("n1"),
          sum(when(col("p1"), col("cents")).otherwise(0L)).as("t1"),
          count(when(!col("p1"), lit(1))).as("n2"),
          sum(when(!col("p1"), col("cents")).otherwise(0L)).as("t2"))
        .select(col("event_type"), col("n1"), col("t1").cast("long").as("t1"),
          col("n2"), col("t2").cast("long").as("t2"),
          expr("CAST(t2 - t1 AS BIGINT)").as("delta_cents"),
          expr("CAST((n2 - n1) * (t1 div n1) AS BIGINT)").as("volume_effect"),
          expr("CAST(n2 * (t2 div n2 - t1 div n1) AS BIGINT)").as("price_effect"),
          expr("CAST((t2 - t1) - (n2 - n1) * (t1 div n1) " +
            "- n2 * (t2 div n2 - t1 div n1) AS BIGINT)").as("residual"))
    },

    // Asymmetric CONTAINMENT near-dup pairs (Broder SEQUENCES '97:
    // resemblance vs containment): directed (sub → super) where ≥ 4/5 of
    // the sub's bigrams sit inside the super's. Jaccard misses exactly
    // these — a doc embedded in a 10× longer one. Candidate generation is
    // prefix-filtered on the SUB side only (its rare-first 1/5 of grams),
    // full postings on the super side; exact integer re-verify on raw
    // text. The oracle is the exhaustive all-pairs truth.
    "q_containment" -> Query(
      // Exhaustive all-pairs containment truth (directed; exact integer
      // counts — the engine's prefix-filtered path must reproduce it).
      """WITH g AS (
        |  SELECT doc_id, list_distinct(
        |    [tokens[i] || ' ' || tokens[i+1] for i in range(1, len(tokens))]) AS grams
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tokens
        |        FROM documents)
        |  WHERE len(tokens) >= 2)
        |SELECT id_sub, id_super, inter, sz_sub FROM (
        |  SELECT a.doc_id AS id_sub, b.doc_id AS id_super,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS INTEGER) AS inter,
        |    CAST(len(a.grams) AS INTEGER) AS sz_sub
        |  FROM g a JOIN g b ON a.doc_id <> b.doc_id)
        |WHERE inter * 5 >= sz_sub * 4""".stripMargin) { (s, dir) =>
      graft.data.NgramJaccard.containmentPairs(
        Tables.documents(s, dir), "doc_id", "text")
    },

    // k-NN label transfer over embeddings (majority of the 10 nearest,
    // self excluded) — the embedding-space label-propagation primitive a
    // curation pipeline uses to spread a few thousand human quality
    // labels across the corpus. Similarity is an INTEGER dot product over
    // trunc(x·10⁶) fixed-point components, so neighbor ranking
    // (dot desc, id asc) and the vote (votes desc, label asc) have no
    // float boundary and the exhaustive SQL oracle replays the whole
    // contract bit-for-bit. Corpus broadcast once as primitive arrays;
    // one scan, no pair shuffle (beyond the broadcast ceiling the same
    // classify step runs on IVF/LSH candidates).
    "q_knn_classify" -> Query(
      // Full replay of the kNN contract in SQL: same trunc(x·10⁶)
      // fixed-point quantization, integer dot, (dot desc, id) neighbor
      // order, (votes desc, label) majority — every tie-break is integral,
      // so the oracle is exact, not approximate.
      """WITH q AS (SELECT vec_id, label,
        |    list_transform(embedding, x ->
        |      CAST(trunc(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |d AS (
        |  SELECT a.vec_id AS qid, a.label AS qlabel,
        |    b.vec_id AS nid, b.label AS nlabel,
        |    CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
        |      i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot
        |  FROM q a JOIN q b ON a.vec_id <> b.vec_id),
        |top AS (
        |  SELECT qid, qlabel, nlabel,
        |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rk
        |  FROM d),
        |votes AS (
        |  SELECT qid, qlabel, nlabel, CAST(count(*) AS BIGINT) AS v
        |  FROM top WHERE rk <= 10 GROUP BY qid, qlabel, nlabel),
        |best AS (
        |  SELECT qid, qlabel, nlabel, v,
        |    row_number() OVER (PARTITION BY qid ORDER BY v DESC, nlabel) AS rk
        |  FROM votes)
        |SELECT qid AS vec_id, CAST(qlabel AS INTEGER) AS label,
        |  CAST(nlabel AS INTEGER) AS predicted, v AS n_votes,
        |  qlabel = nlabel AS correct
        |FROM best WHERE rk = 1""".stripMargin) { (s, dir) =>
      graft.data.EmbeddingOps.knnClassify(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label", 10)
    },

    // Out-of-vocabulary rate per document against the corpus top-20
    // vocabulary (count desc, word asc — a total order, so the cut is
    // deterministic). The tokenizer-coverage signal: docs whose tokens
    // fall outside the head vocabulary cost disproportionate subword
    // splits. Vocabulary is vocabulary-sized → broadcast; the token
    // explode is scan-local; one groupBy(doc_id) shuffle.
    "q_oov_rate" -> Query(
      // Top-20 vocabulary by (count desc, word) — a total order, so the
      // LIMIT is deterministic; OOV in integer ppm.
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS word
        |  FROM documents WHERE length(trim(text)) > 0),
        |vocab AS (SELECT word FROM tok GROUP BY word
        |  ORDER BY count(*) DESC, word LIMIT 20)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE word NOT IN (SELECT word FROM vocab))
        |    AS BIGINT) AS n_oov,
        |  CAST(1000000 * count(*) FILTER (
        |      WHERE word NOT IN (SELECT word FROM vocab)) // count(*)
        |    AS BIGINT) AS oov_ppm
        |FROM tok GROUP BY doc_id""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text")))
          .as("word"))
      val vocab = tok.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(20)
        .select(col("word"), lit(1).as("inv"))
      tok.join(broadcast(vocab), Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          expr("CAST(1000000 * n_oov div n_tokens AS BIGINT)").as("oov_ppm"))
    },

    // Window-5 co-occurrence collocations scored by the Dice coefficient
    // (2·c_pair/(c_x+c_y), in ppm — integer arithmetic, no overflow, no
    // float boundary; Smadja CL'93 uses Dice for exactly this). Distinct
    // from q_word_bigram: pairs co-occur within a 5-token window in
    // either order, not only adjacent. Pair generation is scan-local
    // (token array materialized ONCE before the nested lambda — the
    // q_ngram_counts lesson), then one groupBy(pair) shuffle; unigram
    // totals are vocabulary-sized and broadcast back.
    "q_cooccur_lift" -> Query(
      // Window-5 co-occurrence pairs (unordered, both directions folded via
      // least/greatest) with integer-ppm Dice scores.
      """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |p AS (
        |  SELECT least(toks[i], toks[j]) AS w1,
        |    greatest(toks[i], toks[j]) AS w2
        |  FROM t, unnest(range(1, len(toks))) AS a(i),
        |    unnest(range(1, len(toks) + 1)) AS b(j)
        |  WHERE j > i AND j <= i + 5),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
        |  FROM p GROUP BY w1, w2),
        |uni AS (SELECT unnest(toks) AS w FROM t),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM uni GROUP BY w)
        |SELECT w1, w2, c_pair,
        |  CAST(2000000 * c_pair // (u1.c_w + u2.c_w) AS BIGINT) AS dice_ppm
        |FROM pc JOIN uc u1 ON pc.w1 = u1.w JOIN uc u2 ON pc.w2 = u2.w
        |WHERE c_pair >= 50""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      val t = col("t")
      val pairStruct = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("w1",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("w2",
            org.apache.spark.sql.types.StringType))))
      val windowPairs = when(size(t) < 2, array().cast(pairStruct))
        .otherwise(flatten(transform(sequence(lit(1), size(t) - 1), i =>
          transform(sequence(i + 1, least(i + 5, size(t))), j =>
            struct(
              least(element_at(t, i), element_at(t, j)).as("w1"),
              greatest(element_at(t, i), element_at(t, j)).as("w2"))))))
      // spread the single-task scan before tokenizing, and checkpoint the
      // token arrays: both the window-pair explosion and the unigram
      // totals read them, and each re-ran the tokenizer under lazy lineage
      val docs = graft.data.Spread
        .byKey(Tables.documents(s, dir), col("doc_id"))
        .select(TextFunctions.tokens(col("text")).as("t"))
        .localCheckpoint()
      val pairs = docs.select(explode(windowPairs).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_pair"))
      val uni = docs.select(explode(t).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      pairs
        .join(broadcast(uni.select(col("w").as("w1"), col("c_w").as("c_1"))),
          Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("c_w").as("c_2"))),
          Seq("w2"))
        .filter(col("c_pair") >= 50)
        .select(col("w1"), col("w2"), col("c_pair"),
          expr("CAST(2000000 * c_pair div (c_1 + c_2) AS BIGINT)")
            .as("dice_ppm"))
    },

    // TPC-H Q18 (large-volume customer): the HAVING-subquery shape. The
    // qualifying-order set is an aggregate of lineitem joined back —
    // Catalyst plans the big lineitem↔orders join as a shuffle join and
    // AQE broadcasts the (tiny) qualifying set; quantities are integral
    // by construction, so the sum is exact BIGINT.
    "q_tpch_q18" -> Query(
      // TPC-H Q18 with the HAVING subquery spelled as written; integral
      // quantities so the sum is exact BIGINT.
      """WITH qty AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
        |  sum_qty
        |FROM orders JOIN qty ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin) { (s, dir) =>
      val qty = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
      Tables.orders(s, dir)
        .join(qty, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("total_cents"),
          col("sum_qty").cast("long").as("sum_qty"))
    },

    // k-anonymity audit (Sweeney 2002) over the release-shaped event
    // projection: quasi-identifiers (event_type, day, $10 value bucket);
    // every equivalence class below k=5 is re-identifiable and flagged.
    // One keyed aggregate — the audit costs a GROUP BY.
    "q_k_anonymity" -> Query(
      // Equivalence-class sizes over the quasi-identifier tuple; values are
      // non-negative so Spark's trunc-div and DuckDB's floor-div agree.
      """SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  CAST(round(value * 100) AS BIGINT) // 1000 AS value_bucket,
        |  CAST(count(*) AS BIGINT) AS group_k,
        |  count(*) < 5 AS at_risk
        |FROM events GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val e = eventsUsPrecision(s, dir)
        .select(col("event_type"),
          expr("ts_ns div 86400000000000").as("day"),
          expr("CAST(round(value * 100) AS BIGINT) div 1000")
            .as("value_bucket"))
      graft.data.Pii.kAnonymity(e, Seq("event_type", "day", "value_bucket"), 5)
    },

    // EXACT-size-k uniform sample (k=100): rank by the md5 hash draw, keep
    // the first k — a guaranteed-count eval/annotation batch, vs the
    // expected-fraction Bernoulli rows. Plans as TakeOrdered: per-partition
    // k-heaps, no global sort.
    "q_exact_k_sample" -> Query(
      // (draw, doc_id) is a total order, so the LIMIT is deterministic.
      """SELECT doc_id,
        |  substring(md5('ek1' || CAST(doc_id AS VARCHAR)), 1, 8) AS draw,
        |  lang
        |FROM documents
        |ORDER BY draw, doc_id LIMIT 100""".stripMargin) { (s, dir) =>
      graft.data.Sampling.exactKSample(
          Tables.documents(s, dir), "doc_id", "ek1", 100)
        .select(col("doc_id"), col("draw"), col("lang"))
    },

    // TextRank keyword scores (Mihalcea & Tarau EMNLP'04): PageRank over
    // the word adjacency graph (undirected → both directed edges), reusing
    // the bit-deterministic integer fixed-point PageRank operator's KEYED
    // variant — word strings are the node keys directly, no dictionary
    // encode/decode pass. The oracle unrolls the same integer recurrence
    // on word keys.
    "q_textrank" -> Query(
      // The q_pagerank integer recurrence unrolled on word keys: adjacency
      // edges both directions, teleport 150000//n, damping 85//100, three
      // iterations — bit-identical to the operator's fixed point.
      """WITH tk AS (SELECT string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |bp AS (SELECT toks[i] AS a, toks[i+1] AS b
        |  FROM tk, unnest(range(1, len(toks))) AS x(i)
        |  WHERE toks[i] <> toks[i+1]),
        |e AS (SELECT DISTINCT a AS src, b AS dst FROM bp
        |  UNION SELECT DISTINCT b, a FROM bp),
        |nodes AS (SELECT src AS word FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |r0 AS (SELECT word, 1000000 // (SELECT n FROM nn) AS r FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS word, CAST(sum(r0.r // outdeg.deg) AS BIGINT) AS contrib
        |  FROM e JOIN outdeg USING (src) JOIN r0 ON e.src = r0.word
        |  GROUP BY e.dst),
        |r1 AS (
        |  SELECT nodes.word, 150000 // (SELECT n FROM nn)
        |    + (85 * coalesce(c1.contrib, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c1 ON nodes.word = c1.word),
        |c2 AS (
        |  SELECT e.dst AS word, CAST(sum(r1.r // outdeg.deg) AS BIGINT) AS contrib
        |  FROM e JOIN outdeg USING (src) JOIN r1 ON e.src = r1.word
        |  GROUP BY e.dst),
        |r2 AS (
        |  SELECT nodes.word, 150000 // (SELECT n FROM nn)
        |    + (85 * coalesce(c2.contrib, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c2 ON nodes.word = c2.word),
        |c3 AS (
        |  SELECT e.dst AS word, CAST(sum(r2.r // outdeg.deg) AS BIGINT) AS contrib
        |  FROM e JOIN outdeg USING (src) JOIN r2 ON e.src = r2.word
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT nodes.word, 150000 // (SELECT n FROM nn)
        |    + (85 * coalesce(c3.contrib, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c3 ON nodes.word = c3.word)
        |SELECT word, CAST(r AS BIGINT) AS rank_micro FROM r3""".stripMargin) { (s, dir) =>
      import graft.data.TextFunctions
      val t = col("t")
      val adjacent = when(size(t) < 2, array().cast(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("w1",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("w2",
                org.apache.spark.sql.types.StringType))))))
        .otherwise(transform(sequence(lit(1), size(t) - 1),
          i => struct(element_at(t, i).as("w1"),
            element_at(t, i + 1).as("w2"))))
      // spread the single-task scan before tokenizing (guide §2.5), and
      // symmetrize in ONE explode pass — the self-union re-ran the
      // tokenize+pair explosion once per branch
      val pairs = graft.data.Spread
        .byKey(Tables.documents(s, dir), col("doc_id"))
        .select(TextFunctions.tokens(col("text")).as("t"))
        .select(explode(adjacent).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
      val und = pairs.select(explode(array(
          struct(col("w1"), col("w2")),
          struct(col("w2").as("w1"), col("w1").as("w2")))).as("e"))
        .select(col("e.w1").as("w1"), col("e.w2").as("w2"))
      graft.operators.PageRank.fixedPointKeyed(und, "w1", "w2", 3)
        .select(col("id").as("word"), col("rank_micro"))
    },

    // Two-sample Kolmogorov–Smirnov drift test (view vs click value
    // distributions): D = max |F1 − F2| as the exact integer
    // max |ca·n2 − cb·n1| over the merged value domain — no float
    // anywhere until the reported ppm. Scale shape: the row-level work is
    // one distributed groupBy(value) count; the cumulative pass runs over
    // the VALUE-DOMAIN aggregate (bounded by distinct cents, not row
    // count). The scaled products stay in int64 up to ~3·10⁹ rows per
    // side; beyond that, decimal(38) — noted, not silently wrong.
    "q_ks_test" -> Query(
      // Exact integer KS statistic over the merged value domain; ties in
      // the argmax break toward the smallest value on both engines.
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('view', 'click')),
        |c AS (SELECT cents,
        |    CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS a,
        |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS b
        |  FROM e GROUP BY 1),
        |cum AS (SELECT cents,
        |    CAST(sum(a) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS ca,
        |    CAST(sum(b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cb,
        |    CAST(sum(a) OVER () AS BIGINT) AS n1,
        |    CAST(sum(b) OVER () AS BIGINT) AS n2
        |  FROM c)
        |SELECT n1, n2,
        |  CAST(abs(ca * n2 - cb * n1) AS BIGINT) AS d_scaled,
        |  CAST(1000000 * abs(ca * n2 - cb * n1) // (n1 * n2) AS BIGINT)
        |    AS d_ppm,
        |  cents AS d_at_cents
        |FROM cum ORDER BY abs(ca * n2 - cb * n1) DESC, cents LIMIT 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val c = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("cents"))
        .agg(count(when(col("event_type") === "view", 1)).as("a"),
          count(when(col("event_type") === "click", 1)).as("b"))
      val cumW = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      c.withColumn("ca", sum(col("a")).over(cumW))
        .withColumn("cb", sum(col("b")).over(cumW))
        .withColumn("n1", sum(col("a")).over(Window.partitionBy()))
        .withColumn("n2", sum(col("b")).over(Window.partitionBy()))
        .select(col("cents").as("d_at_cents"), col("n1"), col("n2"),
          abs(col("ca") * col("n2") - col("cb") * col("n1")).as("d_scaled"))
        .orderBy(col("d_scaled").desc, col("d_at_cents"))
        .limit(1)
        .select(col("n1"), col("n2"), col("d_scaled"),
          expr("CAST(1000000 * d_scaled div (n1 * n2) AS BIGINT)")
            .as("d_ppm"),
          col("d_at_cents"))
    },

    // Mann–Whitney U rank-sum test on the same two samples — sensitive to
    // location shift where KS is sensitive to any CDF gap. Tie handling
    // is the textbook average rank, kept integral by working in DOUBLED
    // ranks: a value covering combined ranks [s, s+c−1] contributes
    // 2·avg = 2s + c − 1 per member. Same scale shape as q_ks_test: one
    // distributed value-domain aggregate, cumulative pass over the
    // bounded domain frame.
    "q_mann_whitney" -> Query(
      // Doubled-rank integer Mann–Whitney with textbook tie averaging.
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('view', 'click')),
        |c AS (SELECT cents,
        |    CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS a,
        |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS b
        |  FROM e GROUP BY 1),
        |cum AS (SELECT a, b,
        |    CAST(sum(a + b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum
        |  FROM c),
        |agg AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |    CAST(sum(b) AS BIGINT) AS n2,
        |    CAST(sum(a * (2 * (cum - a - b) + a + b + 1)) AS BIGINT) AS r1_2x
        |  FROM cum)
        |SELECT n1, n2, r1_2x,
        |  CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1_2x AS BIGINT) AS u1_2x,
        |  CAST((2 * n1 * n2 + n1 * (n1 + 1) - r1_2x) * 1000
        |    // (2 * n1 * n2) AS BIGINT) AS auc_milli
        |FROM agg""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val c = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("cents"))
        .agg(count(when(col("event_type") === "view", 1)).as("a"),
          count(when(col("event_type") === "click", 1)).as("b"))
      val cumW = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      c.withColumn("cum", sum(col("a") + col("b")).over(cumW))
        .select(col("a"), col("b"), col("cum"))
        .agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"),
          // start rank s = cum − (a+b) + 1; 2·rank-sum contribution of A
          sum(col("a") * (lit(2) * (col("cum") - col("a") - col("b")) +
            col("a") + col("b") + 1)).as("r1_2x"))
        .select(col("n1"), col("n2"), col("r1_2x"),
          expr("CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1_2x AS BIGINT)")
            .as("u1_2x"),
          expr("CAST((2 * n1 * n2 + n1 * (n1 + 1) - r1_2x) * 1000 " +
            "div (2 * n1 * n2) AS BIGINT)").as("auc_milli"))
    },

    // Perceptual-hash IMAGE near-dup pairs (dHash, the standard technique
    // for re-encode / brightness-shift duplicates): per-doc 32×32 gradient
    // PNGs from an integer pixel formula (every doc a distinct seed;
    // every 50th doc gets a +3-brightness re-encode planted under
    // id + 2⁴⁰ — a high bit outside any realistic doc_id domain, so
    // planted ids can never collide with genuine ones at larger sf, where
    // a fixed 10⁶ offset would), REAL PNG encode + javax.imageio decode,
    // 4×4 integer block means → 56-bit difference hash → 4×14-bit band
    // buckets (pigeonhole recall guarantee at hamming ≤ 3) → popcount
    // verify. The oracle replays the pixel formula and hash in SQL and
    // does the EXHAUSTIVE pair scan, so both band-recall and verify
    // precision are checked; brightness invariance lands the planted
    // pairs at hamming 0.
    "q_image_dhash" -> Query(
      // Replays the gradient-pixel formula, the 4×4 integer block means and
      // the 56-bit difference hash in SQL, then does the EXHAUSTIVE pair
      // scan — red if the engine's banding misses a ≤3-bit pair (recall) or
      // its popcount verify passes a far pair (precision). The engine side
      // round-trips every pixel through a real PNG encode/decode, so a
      // decoder fault also goes red.
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS seed, 0 AS off FROM documents
        |  UNION ALL
        |  SELECT doc_id + (1::BIGINT << 40), doc_id, 3 FROM documents
        |  WHERE doc_id % 50 = 0),
        |px AS (
        |  SELECT id, r, c, CAST(sum(
        |      (((73 + seed % 29) * (4*c + dx) + (151 + seed % 31) * (4*r + dy)
        |        + 179 * seed
        |        + (7 + seed % 23) * (4*c + dx) * (4*r + dy) + 11) % 200) + off)
        |    // 16 AS BIGINT) AS bm
        |  FROM ids,
        |    unnest(range(0, 8)) t1(r), unnest(range(0, 8)) t2(c),
        |    unnest(range(0, 4)) t3(dy), unnest(range(0, 4)) t4(dx)
        |  GROUP BY id, r, c),
        |h AS (
        |  SELECT a.id, CAST(sum(CASE WHEN b.bm > a.bm
        |      THEN 1::BIGINT << (a.r * 7 + a.c) ELSE 0 END) AS BIGINT) AS h
        |  FROM px a JOIN px b
        |    ON a.id = b.id AND a.r = b.r AND b.c = a.c + 1
        |  GROUP BY a.id)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin) { (s, dir) =>
      import graft.data.Multimodal
      val pngUdf = udf { (seed: Long, off: Int) =>
        Multimodal.gradientPng(seed, off)
      }
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("doc_id").as("id"),
        col("doc_id").as("seed"), lit(0).as("off"))
      val planted = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select((col("doc_id") + (1L << 40)).as("id"),
          col("doc_id").as("seed"), lit(3).as("off"))
      // spread BEFORE the PNG synthesis so the exchange moves three longs
      // per row and the generator runs core-parallel (guide §2.5/§8: the
      // scan floor is 1 task here, and payloads must not cross a shuffle);
      // dhashPairs' own spread guard then sees a wide frame and no-ops
      val imgs = graft.data.Spread
        .byKey(base.unionByName(planted), col("id"))
        .withColumn("content", pngUdf(col("seed"), col("off")))
      Multimodal.dhashPairs(imgs, "id", "content")
    },

    // Semi-structured extraction: parse the JSON `props` payload with a
    // declared schema (from_json — codegen'd, scan-local, malformed rows
    // become NULL not failures) and aggregate the extracted field. The
    // everyday "pull a typed field out of a JSON column" op; at 100 TB
    // the parse is pruned to the accessed fields by Catalyst (same
    // mechanism the ingest path measures) and the only shuffle is the
    // final keyed aggregate.
    "q_json_extract" -> Query(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS n_k,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS min_k,
        |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS max_k
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          // BIGINT, not INT: the DuckDB oracle CASTs json_extract to
          // BIGINT, so an int64-range k must agree on both sides — an
          // int32 parse would silently NULL values the oracle keeps
          expr("from_json(props, 'k BIGINT').k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },

    // Multi-source BFS distances (≤ 3 hops) over the undirected
    // customer–supplier graph from seeds id % 97 == 0 — frontier
    // expansion with an anti-join against the settled set, so each node
    // is emitted once at its first (= shortest) layer. The graph
    // primitive beside the fixed-point tier: reachability/propagation
    // radius, exact integer layers.
    "q_bfs_distance" -> Query(
      // Three unrolled frontier rounds; a node's first appearance is its
      // shortest depth, replicated with min() over the union of layers.
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey AS u, l_suppkey AS v
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
        |nodes AS (SELECT DISTINCT u AS id FROM e),
        |d0 AS (SELECT id, 0 AS d FROM nodes WHERE id % 97 = 0),
        |d1 AS (SELECT id, min(d) AS d FROM (
        |    SELECT id, d FROM d0
        |    UNION ALL
        |    SELECT e.v, d0.d + 1 FROM e JOIN d0 ON e.u = d0.id) GROUP BY id),
        |d2 AS (SELECT id, min(d) AS d FROM (
        |    SELECT id, d FROM d1
        |    UNION ALL
        |    SELECT e.v, d1.d + 1 FROM e JOIN d1 ON e.u = d1.id) GROUP BY id),
        |d3 AS (SELECT id, min(d) AS d FROM (
        |    SELECT id, d FROM d2
        |    UNION ALL
        |    SELECT e.v, d2.d + 1 FROM e JOIN d2 ON e.u = d2.id) GROUP BY id)
        |SELECT id, CAST(d AS BIGINT) AS dist FROM d3 WHERE d <= 3""".stripMargin) { (s, dir) =>
      val e0 = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_suppkey").as("v"))
      // persisted because BOTH the seed derivation and the operator's own
      // edge cache read it — without this the orders⋈lineitem build runs
      // twice (Bench/Verify clearCache between queries, so nothing leaks).
      // Symmetrize via ONE explode rather than a self-union: each union
      // branch re-ran the orders⋈lineitem join, so the build joined twice.
      val e = e0.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .persist()
      val nodes = e.select(col("u").as("id")).distinct()
      val seeds = nodes.filter(pmod(col("id"), lit(97)) === 0)
      graft.operators.Bfs.distances(e, "u", "v", seeds, "id", 3)
    },

    // Bounded-hop WEIGHTED shortest distances (3 unrolled Bellman-Ford
    // relaxations) over the customer–supplier graph, edge weight =
    // lineitem quantity — "cheapest ≤3-hop route" beside q_bfs_distance's
    // hop counts. Parallel edges feed the min-relaxation directly (no
    // edge dedup needed); per round one hash join against the cached
    // key-partitioned edges + one map-side-combined min aggregate.
    "q_sssp" -> Query(
      // Three unrolled WEIGHTED min-relaxations (Bellman-Ford), edge weight
      // = lineitem quantity; exact integer distances.
      """WITH e0 AS (
        |  SELECT o_custkey AS u, l_suppkey AS v,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT u, v, w FROM e0
        |      UNION ALL SELECT v, u, w FROM e0),
        |d0 AS (SELECT DISTINCT u AS id, CAST(0 AS BIGINT) AS d FROM e
        |       WHERE u % 97 = 0),
        |d1 AS (SELECT id, min(d) AS d FROM (
        |    SELECT id, d FROM d0
        |    UNION ALL
        |    SELECT e.v, d0.d + e.w FROM e JOIN d0 ON e.u = d0.id) GROUP BY id),
        |d2 AS (SELECT id, min(d) AS d FROM (
        |    SELECT id, d FROM d1
        |    UNION ALL
        |    SELECT e.v, d1.d + e.w FROM e JOIN d1 ON e.u = d1.id) GROUP BY id),
        |d3 AS (SELECT id, min(d) AS d FROM (
        |    SELECT id, d FROM d2
        |    UNION ALL
        |    SELECT e.v, d2.d + e.w FROM e JOIN d2 ON e.u = d2.id) GROUP BY id)
        |SELECT id, CAST(d AS BIGINT) AS dist FROM d3""".stripMargin) { (s, dir) =>
      val e0 = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_suppkey").as("v"),
          col("l_quantity").cast("long").as("w"))
      // one-pass symmetrize (see q_bfs_distance: a self-union re-ran the
      // orders⋈lineitem build once per branch)
      val e = e0.select(explode(array(
          struct(col("u"), col("v"), col("w")),
          struct(col("v").as("u"), col("u").as("v"), col("w")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
        .persist()
      val seeds = e.select(col("u").as("id")).distinct()
        .filter(pmod(col("id"), lit(97)) === 0)
      graft.operators.Bfs.ssspBounded(e, "u", "v", "w", seeds, "id", 3)
    },

    // Inter-arrival gap quantiles per event type (user temporal-behavior
    // profile: burstiness / polling cadence): consecutive-event gaps via
    // lag over the user timeline (deterministic (ts, event_id) order),
    // then the exact rank-position quantile spelling of
    // q_quantile_by_key. Two keyed exchanges: user for the lag window,
    // event_type for the quantile window.
    "q_gap_quantiles" -> Query(
      // Same deterministic (ts, event_id) lag order and rank-position
      // quantile spelling as q_quantile_by_key.
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |f AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
        |r AS (SELECT event_type, gap_us,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap_us) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM f)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rn = (50*n + 99) // 100 THEN gap_us END) AS p50_gap_us,
        |  max(CASE WHEN rn = (90*n + 99) // 100 THEN gap_us END) AS p90_gap_us
        |FROM r GROUP BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val uw = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val gaps = eventsUsPrecision(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("tus"))
        .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(uw))
        .filter(col("gap_us").isNotNull)
      val qw = Window.partitionBy("event_type").orderBy(col("gap_us"))
      gaps
        .withColumn("rn", row_number().over(qw).cast("long"))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy("event_type")))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(50*n + 99) div 100"), col("gap_us")))
            .as("p50_gap_us"),
          max(when(col("rn") === expr("(90*n + 99) div 100"), col("gap_us")))
            .as("p90_gap_us"))
    }
  )

  /** Each query's Spark builder over the driver-generated parquet tables. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.build }

  /** Each query's equivalent ANSI SQL, runnable by DuckDB on the same
    * parquet tables. */
  def oracleSql: Map[String, String] = registry.map { case (k, q) => k -> q.oracle }
}
