package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.sink.{ClickHouseSink, Dlq}
import graft.sink.SinkMapper.ColumnMapping
import graft.sources.KafkaSource

/** Pipeline control plane — the lifecycle side of the reference's API
  * surface (SURVEY.md §3.1/§3.3: create/get/list/stop/resume/terminate/
  * delete + DLQ state/consume/purge; statuses
  * glassflow-api/internal/constants.go:32-38). The reference persists to
  * Postgres and orchestrates pods via a K8s CRD; here a pipeline is one
  * StreamingQuery, so lifecycle ops are query.stop()/restart-from-checkpoint
  * and the registry is in-memory (swap for a durable store in production —
  * the checkpoint itself is the durable execution state).
  */
final class PipelineService(spark: SparkSession, dlqRoot: Option[String] = None,
                            storeDir: Option[String] = None,
                            secretsKey: Option[Array[Byte]] = None,
                            checkpointRoot: Option[String] = None,
                            // root of an OtlpReceiver parquet spool: OTLP-source
                            // pipelines config-start as a file stream over
                            // <otlpSpoolRoot>/<topic> (the receiver is the
                            // Kafka-less analogue of the reference's
                            // receiver→NATS hop)
                            otlpSpoolRoot: Option[String] = None,
                            // live-connector seams: the defaults read Kafka
                            // through graft-kafka and write ClickHouse; tests
                            // inject MemoryStream / memory-sink equivalents —
                            // the config→connector translation above them is
                            // always the real code
                            sourceReader: (SparkSession, KafkaSource.Config) => DataFrame =
                              KafkaSource.readStream,
                            sinkAttach: (DataFrame, ClickHouseSink.Config, String, DataFrame => Unit) => DataStreamWriter[Row] =
                              ClickHouseSink.attach) {

  import PipelineService._

  private val registry = new ConcurrentHashMap[String, Deployed]()
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  // With a key configured, store files are AES-256-GCM sealed whole (the
  // reference AES-encrypts stored secrets, internal/encryption/; sealing
  // the entire config is strictly stronger than per-field and keeps the
  // store format simple).
  private val secrets = secretsKey.map(new Secrets(_))

  // Durable store: registered configs persist as one JSON file per pipeline
  // (the reference keeps pipelines + schema versions in Postgres,
  // service/pipeline.go:108-156 — a restart must not lose the registry;
  // execution state continuity lives in each sink's checkpoint). Loaded
  // pipelines come back Stopped: their runtime objects are gone, but their
  // config and checkpoint are not.
  storeDir.foreach { dir =>
    val d = new java.io.File(dir)
    d.mkdirs()
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".json") && !f.getName.endsWith(".resources.json"))
      .sortBy(_.getName)
      .foreach { f =>
        try {
          val raw = java.nio.file.Files.readAllBytes(f.toPath)
          val json = secrets match {
            case Some(s) => new String(s.decrypt(raw), "UTF-8")
            case None => new String(raw, "UTF-8")
          }
          val cfg = PipelineConfig.fromJson(json)
          // resources sidecar (plain JSON — no secrets in it): restore
          // patched component resources alongside the config
          val res =
            try {
              val rf = new java.io.File(dir, s"${cfg.pipelineId}.resources.json")
              if (rf.exists)
                PipelineConfig.resourcesFromJson(
                  new String(java.nio.file.Files.readAllBytes(rf.toPath), "UTF-8"))
              else DefaultResources
            } catch { case _: Exception => DefaultResources }
          registry.put(cfg.pipelineId, Deployed(cfg, None, Stopped, resources = res))
        } catch { case _: Exception => () } // unreadable/undecryptable: skipped
      }
  }

  private def persist(cfg: PipelineConfig): Unit = storeDir.foreach { dir =>
    val json = PipelineConfig.toJson(cfg).getBytes("UTF-8")
    val bytes = secrets match {
      case Some(s) => s.encrypt(json)
      case None => json
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, s"${cfg.pipelineId}.json"), bytes)
  }

  private def unpersist(id: String): Unit = storeDir.foreach { dir =>
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, s"$id.json"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, s"$id.resources.json"))
  }

  private def persistResources(id: String, rs: Map[String, Resources]): Unit =
    storeDir.foreach { dir =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"$id.resources.json"),
        PipelineConfig.resourcesToJson(rs).getBytes("UTF-8"))
    }

  /** Create: validate + register (status Created). */
  def create(cfg: PipelineConfig,
             schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty): Either[String, String] = {
    val errs = PipelineConfig.validate(cfg, schemas)
    if (errs.nonEmpty) Left(errs.mkString("; "))
    else if (registry.putIfAbsent(cfg.pipelineId, Deployed(cfg, None, Created)) != null)
      Left(s"pipeline ${cfg.pipelineId} already exists")
    else {
      persist(cfg)
      Right(cfg.pipelineId)
    }
  }

  /** Start a pipeline from its STORED config — the one way a pipeline
    * starts (reference: create → start is config-only; pod startup is the
    * operator's job — here the "operator" is this method). In order:
    *
    *  1. the sink must be configured with a URL;
    *  2. the topics read: the first topic, or each join side's topic;
    *  3. one source per topic — Kafka through the source factory, whose
    *     raw frames [[parseIfRaw]] parses, or for a plain pipeline the
    *     OTLP receiver spool read as a schema-pinned file stream;
    *  4. an HTTP sink's mapping is checked against the live table;
    *  5. the compiled stream starts as the sink query, checkpointed at
    *     `<checkpointRoot>/<id>`, dead-lettering to `<dlqRoot>/<id>`;
    *  6. the corrupt rows of every source feed one validation-DLQ query.
    *
    * A fault past step 2 stops whatever this call started and records
    * Failed. Nothing from an earlier run is reused: stop → start (or
    * [[resume]]) rebuilds both queries from the config and restarts them
    * from their checkpoints, so an edit made while stopped applies. The
    * whole start holds the pipeline's lock, so of two concurrent starts
    * the second sees the first one's Running entry. */
  def startFromConfig(id: String): Either[String, Unit] = update(id) { d =>
    val cfg = d.config
    if (d.status == Running) Left(s"pipeline $id already running")
    else {
      val started = scala.collection.mutable.ArrayBuffer[StreamingQuery]()
      try {
        for {
          sc <- cfg.sink.toRight("sink: not configured")
            .filterOrElse(_.url.nonEmpty, "sink: url required for config start")
          topics <- topicsRead(cfg)
          sources <- sourcesOf(id, cfg, topics)
          chCfg = chConfigOf(sc)
          // HTTP sink: validate the mapping against the LIVE table schema
          // (DESCRIBE TABLE) before starting — a typo'd or dropped column
          // is a config error now, not a per-batch error 16 at runtime.
          // (jdbc: URLs skip this; the JDBC driver owns its own metadata.)
          _ <- if (!chCfg.url.startsWith("http")) Right(())
            else ClickHouseSink.validateAgainstTable(chCfg)
              .left.map(e => s"sink schema validation: $e")
        } yield {
          val goods = sources.map(_._1)
          val out =
            if (cfg.join.exists(_.enabled))
              PipelineCompiler.streamingJoin(cfg, topics.map(_.name).zip(goods).toMap)
            else PipelineCompiler.streaming(cfg, goods.head)
          // the sink query starts first, then its validation-DLQ companion
          started += withStateStore(spark)(
            sinkAttach(out, chCfg, checkpointOf(id), dlqOf(id)).start())
          val bads = sources.flatMap(_._2)
          if (bads.nonEmpty)
            started += withStateStore(spark)(validationDlq(id, bads.reduce(_.unionByName(_))).start())
          registry.put(id, d.copy(query = started.headOption,
            sideQueries = started.drop(1).toList, status = Running))
          ()
        }
      } catch {
        case e: Exception =>
          started.foreach(q => try q.stop() catch { case _: Exception => () })
          registry.put(id, d.copy(status = Failed))
          Left(Option(e.getMessage).getOrElse(e.toString))
      }
    }
  }

  /** The topics a config start reads: the first topic, or the topic of
    * each join side (join.sources reference source topics by id — every
    * side needs one, since its consumer group and dedup live there). */
  private def topicsRead(cfg: PipelineConfig): Either[String, Seq[TopicConfig]] =
    cfg.join.filter(_.enabled) match {
      case None => cfg.source.topics.headOption.map(Seq(_)).toRight("source: no topics configured")
      case Some(j) =>
        val sides = j.sources.map(s => s.sourceId -> cfg.source.topics.find(_.name == s.sourceId))
        val missing = sides.collect { case (sid, None) => sid }
        if (missing.nonEmpty) Left(s"join: no source topic configured for ${missing.mkString(", ")}")
        else Right(sides.flatMap(_._2))
    }

  /** One (valid rows, corrupt rows) source per topic. */
  private def sourcesOf(id: String, cfg: PipelineConfig, topics: Seq[TopicConfig])
      : Either[String, Seq[(DataFrame, Option[DataFrame])]] =
    cfg.source.kind.getOrElse("kafka") match {
      case "kafka" =>
        if (cfg.source.brokers.forall(_.isEmpty)) Left("source: brokers required for config start")
        else Right(topics.map(t => parseIfRaw(sourceReader(spark, KafkaSource.Config(
          brokers = cfg.source.brokers.get,
          topic = t.name,
          consumerGroup = t.consumerGroup.getOrElse(s"graft-$id"))), t, cfg)))
      case k if cfg.join.exists(_.enabled) =>
        Left(s"config start supports kafka sources for join pipelines; got $k")
      // "otlp.metrics"/"otlp.logs"/"otlp.traces" are the reference's typed
      // OTLP source spellings (its 5g demo uses otlp.metrics) — all read
      // the receiver's spool for their topic
      case k if k == "otlp" || k.startsWith("otlp.") => otlpSpoolRoot match {
        case None => Left("source: otlp spool root not configured")
        case Some(root) =>
          val topic = topics.head.name
          val dir = s"$root/$topic"
          // file streams need an explicit schema: take it from the spool
          // the receiver has already written
          try {
            val schema = spark.read.parquet(dir).schema
            // bound each micro-batch: a spool with a deep backlog must
            // drain incrementally, not land in one giant batch
            Right(Seq((spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1000).parquet(dir), None)))
          } catch {
            case _: Exception =>
              Left(s"source: no spool data at $topic yet (POST to the receiver first)")
          }
      }
      case other => Left(s"config start supports kafka/otlp sources; got $other")
    }

  private def chConfigOf(sc: SinkConfig): ClickHouseSink.Config =
    ClickHouseSink.Config(
      url = sc.url.get,
      database = sc.database,
      table = sc.table,
      username = sc.username.getOrElse("default"),
      password = sc.password.getOrElse(""),
      mappings = sc.tableMapping.map(m =>
        ColumnMapping(m.fieldName, m.columnName, m.columnType)),
      maxBatchSize = sc.maxBatchSize.getOrElse(100000L),
      maxDelaySeconds = sc.maxDelaySeconds.getOrElse(60))

  private def checkpointOf(id: String): String =
    s"${checkpointRoot.getOrElse(sys.props("java.io.tmpdir") + "/graft_ckpt")}/$id"

  private def dlqOf(id: String): DataFrame => Unit = dlqRoot match {
    case Some(r) => Dlq.writeParquet(s"$r/$id") _
    case None => _ => ()
  }

  /** The ingestor leg for a RAW Kafka frame (reference:
    * internal/ingestor/processor.go — validate against the declared topic
    * schema, split failures to the DLQ): when the source delivers the
    * stock key/value-binary Kafka shape AND the topic declares schema
    * fields, strip any Schema-Registry prefix and parse, returning the
    * valid-rows stream plus (when a DLQ root exists) the corrupt-rows
    * stream. A seam-injected ALREADY-PARSED frame passes through untouched
    * — field-level filters/transforms compiled downstream require parsed
    * columns either way; without this, a real-cluster config start would
    * hand binary frames to the compiler and fail on the first field
    * reference.
    *
    * The valid rows carry only the declared fields `cfg` reads
    * ([[PipelineCompiler.ingestReads]]), so only those string fields are
    * parsed; every non-string field is still parsed and validated. */
  private[pipeline] def parseIfRaw(raw: DataFrame, topic: TopicConfig, cfg: PipelineConfig):
      (DataFrame, Option[DataFrame]) = {
    import org.apache.spark.sql.functions.col
    val isRawFrame = topic.schemaFields.nonEmpty &&
      raw.columns.contains("value") &&
      raw.schema("value").dataType == org.apache.spark.sql.types.BinaryType
    if (!isRawFrame) (raw, None)
    else {
      val (payload, _) = graft.sources.JsonIngest.stripSchemaRegistryPrefix(col("value"))
      val schema = graft.types.EngineSchema.structFor(
        topic.schemaFields.map(f => f.name -> f.`type`))
      // lineage columns must never shadow a DECLARED field of the same name
      // (telemetry schemas commonly declare "timestamp") — a duplicate
      // column dies later as AMBIGUOUS_REFERENCE in dedup/filter resolution
      val declared = topic.schemaFields.map(_.name).toSet
      val keep = Seq("timestamp", "partition", "offset")
        .filter(raw.columns.contains).filterNot(declared.contains)
      val (good, bad) = graft.sources.JsonIngest.ingest(raw.withColumn("__payload", payload),
        "__payload", schema, keep, PipelineCompiler.ingestReads(cfg, topic, schema))
      (good, if (dlqRoot.isDefined) Some(bad.select(col("__raw"))) else None)
    }
  }

  /** The validation-DLQ companion stream for `bad` rows: each batch lands
    * in the pipeline's DLQ under the ingestor component. */
  private def validationDlq(id: String, bad: DataFrame): DataStreamWriter[Row] = {
    val dlqFn = dlqOf(id)
    bad.writeStream
      .option("checkpointLocation", s"${checkpointOf(id)}_validation_dlq")
      .foreachBatch { (b: DataFrame, _: Long) =>
        dlqFn(Dlq.envelope("ingestor",
          "failed to validate data against the declared schema")(
          b.withColumnRenamed("__raw", "raw")))
      }
  }

  /** Resume a stopped pipeline: the config start, from the checkpoints its
    * earlier run left (reference: the resume annotation restarts the pods
    * from stored config; here each query's checkpoint carries the
    * offset/state continuity). */
  def resume(id: String): Either[String, Unit] = startFromConfig(id)

  /** Edit: replace the config of a non-running pipeline (reference edit
    * annotation; the next start/resume compiles the new config). */
  def edit(id: String, cfg: PipelineConfig,
           schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty): Either[String, Unit] =
    update(id) { d =>
      if (d.status == Running) Left(s"pipeline $id is running; stop it first")
      else {
        val errs = PipelineConfig.validate(cfg, schemas)
        if (errs.nonEmpty) Left(errs.mkString("; "))
        else if (cfg.pipelineId != id) Left("pipeline_id cannot change on edit")
        else { registry.put(id, d.copy(config = cfg)); persist(cfg); Right(()) }
      }
    }

  /** Patch display name / metadata (reference updatePipelineMetadata /
    * updatePipelineName routes). */
  def patchMeta(id: String, name: Option[String],
                metadata: Option[Map[String, String]]): Either[String, Unit] =
    update(id) { d =>
      val cfg = d.config.copy(
        name = name.orElse(d.config.name),
        metadata = metadata.getOrElse(d.config.metadata))
      registry.put(id, d.copy(config = cfg)); persist(cfg); Right(())
    }

  /** Health: lifecycle status + live query signals (reference
    * getPipelineHealth). `query_active` holds only while every query the
    * pipeline owns runs; `query_error` is the first dead one's failure. */
  def health(id: String): Either[String, Map[String, Any]] = withPipeline(id) { d =>
    val base = Map[String, Any]("pipeline_id" -> id, "status" -> d.status.toString)
    val live = d.query.map { q =>
      val owned = q +: d.sideQueries
      val prog = Option(q.lastProgress)
      Map[String, Any](
        "query_active" -> owned.forall(_.isActive),
        "input_rows_per_second" -> prog.map(_.inputRowsPerSecond).getOrElse(0.0),
        "batch_id" -> prog.map(_.batchId).getOrElse(-1L)) ++
        owned.flatMap(_.exception).headOption.map("query_error" -> _.getMessage)
    }.getOrElse(Map.empty[String, Any])
    Right(base ++ live)
  }

  /** Per-component resource requests (reference resources get/patch —
    * advisory in local mode, enforced by the cluster manager in production). */
  def resources(id: String): Either[String, Map[String, Resources]] =
    withPipeline(id)(d => Right(d.resources))

  def patchResources(id: String, patch: Map[String, Resources]): Either[String, Map[String, Resources]] =
    update(id) { d =>
      val bad = patch.keys.filterNot(ComponentNames.contains)
      if (bad.nonEmpty) Left(s"unknown components: ${bad.mkString(", ")}")
      else validateResources(patch) match {
        case Some(err) => Left(err)
        case None =>
          val merged = d.resources ++ patch
          registry.put(id, d.copy(resources = merged))
          persistResources(id, merged) // survive restarts like name/metadata
          Right(merged)
      }
    }

  private def validateResources(rs: Map[String, Resources]): Option[String] =
    rs.collectFirst {
      case (c, r) if r.replicas < 1 => s"$c: replicas must be >= 1"
      case (c, r) if r.replicas > 64 => s"$c: replicas must be <= 64"
      case (c, r) if !r.cpuRequest.matches("""\d+(\.\d+)?m?""") => s"$c: bad cpu_request ${r.cpuRequest}"
      case (c, r) if !r.memoryRequest.matches("""\d+(Ki|Mi|Gi)?""") => s"$c: bad memory_request ${r.memoryRequest}"
    }

  /** Stop: halt the query, keep config + checkpoint (resumable). */
  def stop(id: String): Either[String, Unit] = update(id) { d =>
    d.query.foreach(_.stop())
    d.sideQueries.foreach(q => try q.stop() catch { case _: Exception => () })
    registry.put(id, d.copy(query = None, sideQueries = Nil, status = Stopped))
    Right(())
  }

  /** Terminate: stop and drop from the registry. */
  def terminate(id: String): Either[String, Unit] = update(id) { d =>
    d.query.foreach(_.stop())
    d.sideQueries.foreach(q => try q.stop() catch { case _: Exception => () })
    registry.put(id, d.copy(query = None, sideQueries = Nil, status = Terminated))
    Right(())
  }

  def delete(id: String): Either[String, Unit] = update(id) { d =>
    if (d.status == Running) Left(s"pipeline $id is running; stop it first")
    else { registry.remove(id); unpersist(id); Right(()) }
  }

  def get(id: String): Option[(PipelineConfig, Status)] =
    Option(registry.get(id)).map(d => (d.config, d.status))

  def list(): Seq[(String, Status)] =
    registry.asScala.toSeq.map { case (id, d) => (id, d.status) }.sortBy(_._1)

  private def withPipeline[A](id: String)(f: Deployed => Either[String, A]): Either[String, A] =
    Option(registry.get(id)).toRight(s"no such pipeline: $id").flatMap(f)

  /** [[withPipeline]] for a call that rewrites the entry: it runs under the
    * pipeline's lock on the entry as it stands once the lock is held, so no
    * two such calls act on one snapshot (and none overwrites the queries
    * another just started). */
  private def update[A](id: String)(f: Deployed => Either[String, A]): Either[String, A] =
    locks.computeIfAbsent(id, _ => new Object).synchronized(withPipeline(id)(f))

  // ---- DLQ API (state / consume / purge over a parquet-backed DLQ) ----
  //
  // Caller-supplied paths are confined to the configured `dlqRoot`: the API
  // surface must never expose raw filesystem access (the reference scopes
  // DLQ ops to a pipeline's own queue; a purge endpoint that deletes any
  // path is an arbitrary-delete primitive for anything that can reach the
  // socket, CSRF included). Paths are normalized BEFORE the containment
  // check, so `../` traversal cannot escape.

  /** Resolve a caller-supplied DLQ path against the configured root.
    * Relative paths resolve under the root; absolute paths are accepted
    * only when they normalize to inside the root. Containment is checked
    * on SYMLINK-RESOLVED paths (nearest existing ancestor realized, then
    * the non-existent tail re-appended): a link planted inside the root
    * pointing outside it would otherwise pass the lexical check and turn
    * dlqPurge into an arbitrary recursive delete. */
  private[pipeline] def resolveDlq(path: String): Either[String, String] =
    dlqRoot match {
      case None => Left("DLQ root not configured")
      case Some(root) =>
        val base = java.nio.file.Paths.get(root).toAbsolutePath.normalize
        val p = java.nio.file.Paths.get(path)
        val target = (if (p.isAbsolute) p else base.resolve(p)).normalize
        if (realize(target).startsWith(realize(base))) Right(target.toString)
        else Left(s"path outside DLQ root: $path")
    }

  /** toRealPath that tolerates non-existent tails: realize the nearest
    * existing ancestor, then append the remaining (not-yet-created)
    * components, which by definition contain no symlinks. */
  private def realize(p: java.nio.file.Path): java.nio.file.Path = {
    var existing = p
    var tail = List.empty[String]
    while (existing != null && !java.nio.file.Files.exists(existing,
        java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      tail = existing.getFileName.toString :: tail
      existing = existing.getParent
    }
    val realHead =
      if (existing == null) p.getRoot
      else try existing.toRealPath() catch { case _: Exception => existing }
    tail.foldLeft(realHead)(_.resolve(_)).normalize
  }

  /** (total rows, acked cursor) — pending = total − cursor. */
  def dlqState(path: String): Either[String, (Long, Long)] = resolveDlq(path).map { p =>
    val total = try spark.read.parquet(p).count() catch { case _: Exception => 0L }
    (total, readCursor(p))
  }

  /** Fetch-without-ack from the durable cursor (the reference's DLQ is a
    * durable consumer with explicit ack, dlq/dlq.go:39-105): repeated
    * consumes re-deliver until [[dlqAck]] advances the cursor —
    * at-least-once. Envelopes carry a monotonic contiguous `seq` stamped
    * at append ([[graft.sink.Dlq.writeParquet]]), so a page is
    * `seq > cursor` + top-n by seq — a filter and a bounded TakeOrdered,
    * never a full re-sort of the queue (count-offset paging re-sorted
    * everything per call: quadratic on a large DLQ, and the Int offset
    * overflowed past 2³¹ messages). A seq-less frame (externally written)
    * is stamped ONCE on first read ([[graft.sink.Dlq.stampLegacySeq]] —
    * same total order the old offset paging used, so an existing cursor
    * keeps its meaning) and pages like any other from then on. */
  def dlqConsume(path: String, limit: Int): Either[String, Seq[String]] =
    resolveDlq(path).map { p =>
      import org.apache.spark.sql.functions.col
      try {
        val df0 = spark.read.parquet(p)
        val df =
          if (df0.columns.contains("seq")) df0
          else { graft.sink.Dlq.stampLegacySeq(spark, p); spark.read.parquet(p) }
        val cursor = readCursor(p)
        df.filter(col("seq") > cursor).orderBy(col("seq")).limit(limit)
          .collect().map(_.getAs[String]("original_message")).toSeq
      } catch { case _: Exception => Seq.empty }
    }

  /** Ack `count` delivered messages: advances the durable cursor. */
  def dlqAck(path: String, count: Long): Either[String, Long] =
    resolveDlq(path).map { p =>
      val next = readCursor(p) + math.max(0L, count)
      // dot-prefixed: Spark's file index ignores hidden files, so the
      // cursor can live inside the parquet directory itself
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      java.nio.file.Files.write(cursorPath(p), next.toString.getBytes("UTF-8"))
      next
    }

  private def cursorPath(resolved: String) =
    java.nio.file.Paths.get(resolved, ".graft_dlq_cursor")

  private def readCursor(resolved: String): Long =
    try new String(java.nio.file.Files.readAllBytes(cursorPath(resolved)), "UTF-8").trim.toLong
    catch { case _: Exception => 0L }

  // ---- per-pipeline DLQ ops (reference router.go:79-81 scopes DLQ routes
  // to a pipeline id and resolves the queue server-side; here a pipeline's
  // DLQ is the `<dlqRoot>/<pipelineId>` parquet directory — the id never
  // leaves the server as a path). Unknown pipelines are reported as such
  // (→ 404) instead of reading an empty directory.

  def pipelineDlqState(id: String): Either[String, (Long, Long)] =
    withPipeline(id)(_ => dlqState(id))
  def pipelineDlqConsume(id: String, limit: Int): Either[String, Seq[String]] =
    withPipeline(id)(_ => dlqConsume(id, limit))
  def pipelineDlqAck(id: String, count: Long): Either[String, Long] =
    withPipeline(id)(_ => dlqAck(id, count))
  def pipelineDlqPurge(id: String): Either[String, Unit] =
    withPipeline(id)(_ => dlqPurge(id))

  /** OTLP routing descriptor for a pipeline (reference
    * service/pipeline.go:272-307 + models/otlp.go OTLPConfig): dedup
    * enabled → route by the dedup id field across the processor replicas;
    * otherwise random across sink replicas. The output subject mirrors the
    * reference's hash-derived stream name shape. */
  def otlpConfig(id: String): Either[String, Map[String, Any]] = withPipeline(id) { d =>
    val hash = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(id))
    val subject = s"graft-pl-$hash-otlp-out"
    val dedup = d.config.source.topics.flatMap(_.deduplication).find(_.enabled)
    val routing = dedup match {
      case Some(dc) => Map(
        "output_subject" -> subject,
        "subject_count" -> d.resources.get("ingestor").map(_.replicas).getOrElse(1),
        "type" -> "field",
        "field" -> Map("name" -> dc.idField))
      case None => Map(
        "output_subject" -> subject,
        "subject_count" -> d.resources.get("sink").map(_.replicas).getOrElse(1),
        "type" -> "random")
    }
    Right(Map(
      "pipeline_id" -> id,
      "source_type" -> d.config.source.kind.getOrElse("kafka"),
      "routing" -> routing,
      "status" -> d.status.toString))
  }

  def dlqPurge(path: String): Either[String, Unit] = resolveDlq(path).map { rp =>
    val p = new org.apache.hadoop.fs.Path(rp)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }
}

object PipelineService {
  sealed trait Status
  case object Created extends Status
  case object Running extends Status
  case object Stopped extends Status
  case object Terminated extends Status
  case object Failed extends Status

  /** K8s-style resource requests per pipeline component. */
  final case class Resources(
    cpuRequest: String = "1",
    memoryRequest: String = "512Mi",
    replicas: Int = 1)

  val ComponentNames: Set[String] = Set("ingestor", "join", "sink")

  val DefaultResources: Map[String, Resources] =
    ComponentNames.map(_ -> Resources()).toMap

  private val StateStoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val StateStoreLock = new Object

  /** Run `start` (which starts streaming queries) with the session's state
    * store set to RocksDB, then restore the session's previous value. The
    * one place the engine picks its state store: dedup TTL keys and
    * temporal-join buffers live in RocksDB, off the JVM heap, instead of
    * in the HDFS-backed default's executor-heap maps (SURVEY.md maps the
    * reference's on-disk BadgerDB to this store).
    *
    * Scoping to the start is enough: a query copies the session conf when
    * it is constructed, and its offset log records the provider, so a
    * running query keeps RocksDB and a restart reads its provider back
    * from the checkpoint (one written under the HDFS-backed store restarts
    * under it). The lock keeps two starts from interleaving their
    * set/restore pairs; it is reentrant, so nested starts restore in
    * order. */
  private[graft] def withStateStore[A](spark: SparkSession)(start: => A): A =
    StateStoreLock.synchronized {
      val prev = spark.conf.getAll.get(StateStoreKey)
      spark.conf.set(StateStoreKey, RocksDb)
      try start
      finally prev.fold(spark.conf.unset(StateStoreKey))(spark.conf.set(StateStoreKey, _))
    }

  final case class Deployed(
    config: PipelineConfig,
    query: Option[StreamingQuery],
    status: Status,
    resources: Map[String, Resources] = DefaultResources,
    // companion queries owned by the pipeline (e.g. the validation-DLQ
    // stream a raw-Kafka config start attaches); stopped with the main one
    sideQueries: Seq[StreamingQuery] = Nil)
}
