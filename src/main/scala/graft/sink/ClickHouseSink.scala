package graft.sink

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sink.SinkMapper.ColumnMapping

/** ClickHouse batch sink — the reference's sink component
  * (glassflow-api/internal/sink/clickhouse.go): buffer micro-batches, map to
  * typed columns, INSERT, classify failures.
  *
  * Spark shape: `writeStream.foreachBatch` + `Trigger.ProcessingTime(max
  * delay)` replaces the count/time dual-trigger buffer (clickhouse.go:
  * 141-206); within-batch idempotency (reference batch/clickhouse/batch.go)
  * is `dropDuplicates` on the source offset column; cross-restart
  * exactly-once comes from checkpointing + idempotent insert keys.
  *
  * Two INSERT formats, one loop: the URL scheme picks the transport once
  * ([[leg]]: HTTP interface or native TCP), [[Config.httpFormat]] picks
  * JSONEachRow or Native on HTTP (TCP is always Native), and every leg
  * runs [[InsertLoop]]'s strict or isolating policy.
  */
object ClickHouseSink {

  final case class Config(
    url: String,                        // jdbc:clickhouse://host:8123/db or jdbc:ch://...
    database: String,
    table: String,
    username: String = "default",
    password: String = "",
    mappings: Seq[ColumnMapping] = Nil,
    maxBatchSize: Long = 100000,
    maxDelaySeconds: Int = 60,          // reference default flush delay (constants.go:238)
    maxRetries: Int = 10,               // reference MaxDeliver (constants.go:157-166)
    idempotencyColumn: Option[String] = None, // e.g. kafka offset
    // per-schema-version batching (reference clickhouse.go:536-699): rows
    // carry a version id column; each version gets its own mapping and its
    // own INSERT. Versions absent from the map fall back to `mappings`.
    versionColumn: Option[String] = None,
    versionMappings: Map[String, Seq[ColumnMapping]] = Map.empty,
    /** Per-insert ClickHouse settings for the HTTP leg (async_insert, ...). */
    httpSettings: Map[String, String] = Map.empty,
    /** Wire encoding for the HTTP leg: JSONEachRow or Native. */
    httpFormat: String = "JSONEachRow",
    /** gzip INSERT bodies on the HTTP leg (Content-Encoding: gzip). */
    httpCompress: Boolean = false,
    /** TLS trust for the secure native port (`tcps://` URLs): base64-PEM
      * root CA, or skip-verify — the HTTP leg gets TLS via https URLs. */
    tlsRootCaPemB64: Option[String] = None,
    tlsSkipVerify: Boolean = false,
    /** Compress the native TCP data stream (tcp:// / tcps:// URLs
      * only; the HTTP leg compresses via httpCompress/gzip). */
    tcpCompress: Boolean = false,
    /** Frame codec for client-written blocks: "lz4" (default) or "zstd"
      * (the server's network_compression_method=zstd codec). */
    tcpCompressMethod: String = "lz4")

  /** `INSERT INTO db.table (c1, c2, ...)` column list — deterministic order
    * from the mapping config (reference clickhouse.go:701-718). */
  def insertColumns(c: Config): Seq[String] = c.mappings.map(_.column)

  def insertSql(c: Config): String =
    s"INSERT INTO ${c.database}.${c.table} (${insertColumns(c).mkString(", ")})"

  /** Protocol selection by URL scheme, as (strict write, isolating
    * write): `http(s)://host:8123` uses the public ClickHouse HTTP
    * interface (no driver jar needed, per-partition parallel POSTs);
    * `tcp://host:9000` speaks the native TCP protocol (streamed columnar
    * blocks on a kept-open socket — the reference's own transport via
    * clickhouse-go); None for any other scheme (`jdbc:...`). */
  private def leg(c: Config): Option[(DataFrame => Unit, DataFrame => Dataset[(String, String)])] =
    if (c.url.startsWith("http://") || c.url.startsWith("https://")) {
      val h = httpConfig(c)
      Some((ClickHouseHttp.write(h), ClickHouseHttp.writeIsolating(h)))
    } else if (c.url.startsWith("tcp://") || c.url.startsWith("tcps://")) {
      val t = ClickHouseNativeTcp.parseEndpoint(c.url, c)
      Some((ClickHouseNativeTcp.write(t), ClickHouseNativeTcp.writeIsolating(t)))
    } else None

  private[sink] def terminalWrite(c: Config): DataFrame => Unit =
    leg(c).fold(jdbcWrite(c) _)(_._1)

  private[sink] def httpConfig(c: Config): ClickHouseHttp.Config =
    ClickHouseHttp.Config(endpoint = c.url, database = c.database,
      table = c.table, username = c.username, password = c.password,
      settings = c.httpSettings, format = c.httpFormat,
      compress = c.httpCompress,
      // Native needs the declared CH type per column; the union over
      // version mappings is safe (a column keeps one type across versions)
      columnTypes = (c.mappings ++ c.versionMappings.values.flatten)
        .map(m => m.column -> m.chType).toMap,
      // cap at ~1M rows (<= ClickHouse's default max_insert_block_size):
      // writeIsolating's replay assumes a rejected POST stored NOTHING,
      // which only holds for single-block INSERTs — a multi-block POST's
      // leading blocks persist before the fault, and the row-wise replay
      // would then duplicate them
      maxRowsPerPost = math.min(c.maxBatchSize, 1000000L).toInt)

  /** The terminal JDBC write for one mapped frame (requires the ClickHouse
    * JDBC driver on the cluster classpath). */
  private def jdbcWrite(c: Config)(mapped: DataFrame): Unit =
    mapped.write
      .format("jdbc")
      .option("url", c.url)
      .option("dbtable", s"${c.database}.${c.table}")
      .option("user", c.username)
      .option("password", c.password)
      .option("batchsize", c.maxBatchSize.toString)
      .option("isolationLevel", "NONE")
      .mode("append")
      .save()

  /** Write one micro-batch: within-batch idempotency dedup, then either one
    * mapped INSERT or — when a version column is configured — one typed
    * INSERT per schema version present in the batch (the reference groups
    * every flush by Schema-Version-Id, clickhouse.go:536-699). Used from
    * foreachBatch. */
  def writeBatch(c: Config)(df: DataFrame): Unit = writeBatchWith(c, terminalWrite(c))(df)

  /** Dedup + per-schema-version split, shared by every terminal: yields
    * one MAPPED frame per typed INSERT (the reference groups every flush
    * by Schema-Version-Id, clickhouse.go:536-699). The version distinct
    * pulls only the handful of version ids in the batch — bounded by the
    * schema-version count, not the row count. */
  private def batchSlices(c: Config)(df: DataFrame): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val deduped = c.idempotencyColumn.fold(df)(k => df.dropDuplicates(k))
    def mapped(part: DataFrame, mappings: Seq[ColumnMapping]): DataFrame =
      if (mappings.nonEmpty) SinkMapper(mappings)(part) else part
    c.versionColumn match {
      case Some(vc) if c.versionMappings.nonEmpty =>
        val versions = deduped.select(vc).distinct().collect()
          .map(r => String.valueOf(r.get(0))).sorted.toSeq
        versions.map(v => mapped(deduped.filter(col(vc) === v),
          c.versionMappings.getOrElse(v, c.mappings)))
      case _ => Seq(mapped(deduped, c.mappings))
    }
  }

  /** Same batching/mapping logic with an injectable terminal write (the
    * unit-test seam; no JDBC driver ships in this build env). */
  def writeBatchWith(c: Config, write: DataFrame => Unit)(df: DataFrame): Unit =
    batchSlices(c)(df).foreach(write)

  /** Validate a sink mapping against the LIVE table schema (HTTP leg):
    * DESCRIBE TABLE, then require every mapped destination column to
    * exist — the class of config error (typo'd column, dropped column)
    * that otherwise surfaces as a per-batch error 16 at runtime. Type
    * mismatches are reported when both sides parse and differ structurally
    * (LowCardinality/Nullable wrappers ignored: they change encoding, not
    * the value domain; a String mapping may feed a FixedString column —
    * the server enforces the width). */
  def validateAgainstTable(c: Config): Either[String, Unit] = {
    // UNNAMED Tuple needs a positional wire format: Spark's JSON encoder
    // writes a struct as an OBJECT keyed `_1`.._n, which no server setting
    // maps back to tuple positions — fail at config time, not per batch
    if (c.httpFormat != "Native") {
      def unnamedTuple(t: graft.types.CHType): Boolean = {
        import graft.types.CHType._
        t match {
          case tt: CHTuple => !tt.isNamed || tt.elems.exists(e => unnamedTuple(e._2))
          case CHLowCardinality(i) => unnamedTuple(i)
          case CHNullable(i) => unnamedTuple(i)
          case CHArray(i) => unnamedTuple(i)
          case CHMap(k, v) => unnamedTuple(k) || unnamedTuple(v)
          case _ => false
        }
      }
      val bad = (c.mappings ++ c.versionMappings.values.flatten).filter { m =>
        try unnamedTuple(graft.types.CHType.parse(m.chType))
        catch { case _: Exception => false }
      }
      if (bad.nonEmpty)
        return Left(bad.map(m => s"column ${m.column}: unnamed Tuple type " +
          s"${m.chType} requires the Native format").mkString("; "))
    }
    val server =
      try ClickHouseHttp.describeTable(httpConfig(c)).toMap
      catch {
        case e: ClickHouseHttp.CHServerException =>
          // a genuine server answer (missing table, bad credentials) is a
          // config fault: fail the start with the server's own message
          return Left(e.getMessage)
        case _: java.io.IOException =>
          // server unreachable RIGHT NOW is not a config fault — start
          // anyway; the batch handler's retry policy owns transient outages
          return Right(())
      }
    def strip(t: graft.types.CHType): graft.types.CHType = t match {
      case graft.types.CHType.CHLowCardinality(i) => strip(i)
      case graft.types.CHType.CHNullable(i) => strip(i)
      case other => other
    }
    val allMappings = (c.mappings ++ c.versionMappings.values.flatten).distinct
    val problems = allMappings.flatMap { m =>
      server.get(m.column) match {
        case None =>
          Some(s"column ${m.column} does not exist in ${c.database}.${c.table}")
        case Some(serverType) =>
          val ok =
            try {
              val st = strip(graft.types.CHType.parse(serverType))
              val mt = strip(graft.types.CHType.parse(m.chType))
              mt == st ||
                // a plain-String mapping may feed FixedString (the
                // server's converting insert enforces the width — Native
                // blocks carry their own types)
                (mt == graft.types.CHType.CHString &&
                  st.isInstanceOf[graft.types.CHType.CHFixedString])
            } catch { case _: Exception => true } // unparseable → server's call
          if (ok) None
          else Some(s"column ${m.column}: mapping declares ${m.chType} " +
            s"but the table column is $serverType")
      }
    }
    if (problems.isEmpty) Right(()) else Left(problems.mkString("; "))
  }

  /** HTTP-leg batch write with row-level poison isolation: same dedup/
    * version batching as [[writeBatchWith]], but the terminal is
    * [[ClickHouseHttp.writeIsolating]] — rows the server rejects with a
    * row-data fault are dead-lettered individually while every other row
    * lands (the reference's per-message append-error path,
    * clickhouse.go:616-648).
    *
    * The failure set NEVER funnels through the driver: it is persisted
    * executor-side as an RDD (MEMORY_AND_DISK — an all-poison 100M-row
    * batch spills instead of OOMing; an RDD, so no batch registers a plan
    * with the session's cache manager), counted (this is the action that
    * runs the INSERTs, exactly once), and, only when the count is above
    * 0, handed to `dlq` as a distributed frame — only the count returns to
    * the driver. Mirrors the reference's worker-side DLQ publish
    * (dlq_processor.go:35-69). Returns the number of dead-lettered rows. */
  private[sink] def writeBatchHttp(c: Config, dlq: DataFrame => Unit)(df: DataFrame): Long = {
    val isolating = leg(c).getOrElse(
      throw new IllegalArgumentException(s"no isolating INSERT leg for ${c.url}"))._2
    val failed = batchSlices(c)(df)
      .map(isolating)
      .reduce(_ union _)
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = failed.count()
      if (n > 0) dlq(Dlq.envelopePairs("sink",
        df.sparkSession.createDataset(failed)(ClickHouseHttp.FailurePair)))
      n
    } finally { failed.unpersist(); () }
  }

  /** foreachBatch handler with the reference's full error policy:
    * retryable → rethrow (Spark retries the batch from the checkpoint)
    * UNTIL the per-batch retry budget is spent, then DLQ + continue (NATS
    * MaxDeliver=10 dead-letter semantics, constants.go:157-166,
    * clickhouse.go:511-534 — a persistently sick batch must not wedge the
    * stream); permanent / unknown → DLQ immediately, stream continues.
    *
    * A whole-batch dead-letter envelopes the batch as this handler received
    * it. For a raw-Kafka config start with no transform and no join, that
    * batch holds only the declared fields the pipeline reads plus the
    * Kafka lineage columns, not every declared field (`JsonIngest.ingest`'s
    * `read`); the per-row sink DLQ ([[writeBatchHttp]]) and the ingestor
    * DLQ are unaffected.
    *
    * With `budgetDir` set (as [[attach]] does: a directory inside the
    * checkpoint), attempt counts are DURABLE: the reference's NATS tracks
    * delivery count server-side, so its budget survives consumer
    * restarts — a memory-only count resets whenever the handler is
    * rebuilt (service resume, driver restart) and a persistently sick
    * batch would retry forever. Without `budgetDir` the count is
    * in-memory and holds only for this handler instance. */
  def foreachBatchHandler(c: Config, dlq: DataFrame => Unit,
                          write: Option[DataFrame => Unit] = None,
                          budgetDir: Option[String] = None): (DataFrame, Long) => Unit = {
    val attempts = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Integer]()
    val terminal = write.getOrElse(terminalWrite(c))

    def fs(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      (p, p.getFileSystem(org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration))
    }
    def bump(batchId: Long): Int = budgetDir match {
      case Some(dir) =>
        val (base, hfs) = fs(dir)
        val p = new org.apache.hadoop.fs.Path(base, batchId.toString)
        val prev =
          try {
            val in = hfs.open(p)
            try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
          } catch { case _: Exception => 0 }
        val n = prev + 1
        val out = hfs.create(p, true)
        try out.write(n.toString.getBytes("UTF-8")) finally out.close()
        n
      case None =>
        attempts.merge(batchId, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
    }
    def clear(batchId: Long): Unit = {
      attempts.remove(batchId)
      budgetDir.foreach { dir =>
        val (base, hfs) = fs(dir)
        try hfs.delete(new org.apache.hadoop.fs.Path(base, batchId.toString), false)
        catch { case _: Exception => () }
      }
    }

    val httpLeg = write.isEmpty && leg(c).isDefined

    (batch: DataFrame, batchId: Long) => {
      try {
        if (httpLeg) { writeBatchHttp(c, dlq)(batch); () }
        else writeBatchWith(c, terminal)(batch)
        clear(batchId)
      } catch {
        case t: Throwable => ErrorClassifier.classify(t) match {
          case ErrorClassifier.Retryable =>
            val n = bump(batchId)
            if (n < c.maxRetries) throw t
            else {
              clear(batchId)
              dlq(Dlq.envelope("sink",
                s"retry budget exhausted (${c.maxRetries}): ${t.getMessage}")(batch))
            }
          case _ => dlq(Dlq.envelope("sink", t.getMessage)(batch))
        }
      }
    }
  }

  /** Attach the sink to a streaming DataFrame: micro-batch cadence is the
    * reference's max_delay_time. The retry budget is persisted inside the
    * checkpoint so it survives restarts alongside the offsets it guards. */
  def attach(df: DataFrame, c: Config, checkpoint: String, dlq: DataFrame => Unit): DataStreamWriter[Row] =
    df.writeStream
      .trigger(Trigger.ProcessingTime(s"${c.maxDelaySeconds} seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch(foreachBatchHandler(c, dlq,
        budgetDir = Some(s"$checkpoint/graft_retry_budget")))
}
