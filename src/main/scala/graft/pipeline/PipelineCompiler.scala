package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.exprs.ExprCompiler
import graft.operators.{AsOfJoin, DedupOp, FilterOp, TemporalJoin, TransformOp}
import graft.sink.SinkMapper

/** Pipeline compiler: config → DataFrame transform chain. The whole
  * reference topology (Kafka ‖ ingestor ‖ NATS ‖ dedup-pod ‖ NATS ‖ join-pod
  * ‖ NATS ‖ sink-pod, SURVEY.md §3.1) collapses into ONE Spark job — every
  * NATS hop becomes either nothing (narrow chain) or a shuffle Catalyst
  * places for the stateful stages.
  *
  * Stage order inside a source branch matches the reference's processor
  * chain: filter → dedup → transform
  * (glassflow-api/cmd/glassflow/dedup_component.go:219-223).
  */
object PipelineCompiler {

  /** Compile against batch sources (testing / backfill path; the streaming
    * path uses the same per-stage builders). `sources` maps topic name →
    * DataFrame already carrying the declared schema. */
  def batch(cfg: PipelineConfig, sources: Map[String, DataFrame]): DataFrame = {
    val branches: Map[String, DataFrame] = cfg.source.topics.map { t =>
      val df0 = sources.getOrElse(t.name,
        throw new IllegalArgumentException(s"no source DataFrame for topic ${t.name}"))
      val filtered = cfg.filter.fold(df0)(f => FilterOp(f.expression)(df0))
      // windowed dedup runs through mapPartitions, which Catalyst can't
      // prune columns through — project down to what later stages need
      // BEFORE the opaque stage (at 100 TB, not reading unused columns at
      // the scan is the single biggest win)
      val pruned = cfg.transform match {
        case Some(tr) if t.deduplication.exists(d => d.enabled && d.timeField.isDefined) =>
          val needed = fieldsRead(filtered.schema, tr.rules.map(_.expression),
            t.deduplication.toSeq.flatMap(d => d.timeField.toSeq :+ d.idField) ++
              cfg.join.toSeq.flatMap(_.sources.flatMap(s => s.timeField.toSeq :+ s.joinKey)))
          filtered.select(filtered.columns.filter(needed).map(col): _*)
        case _ => filtered
      }
      val deduped = t.deduplication.filter(_.enabled).fold(pruned) { d =>
        applyDedup(pruned, d)
      }
      t.name -> transform(cfg, deduped)
    }.toMap

    val joined: DataFrame = cfg.join.filter(_.enabled) match {
      case None => branches.values.head
      case Some(j) =>
        val left = j.sources.find(_.orientation == "left").get
        val right = j.sources.find(_.orientation == "right").get
        val (lDf, rDf) = (branches(left.sourceId), branches(right.sourceId))
        val (lTs, rTs) = (tsNsColumn(lDf, left.timeField), tsNsColumn(rDf, right.timeField))
        val windowNs = math.max(
          PipelineConfig.windowMillis(left.timeWindow),
          PipelineConfig.windowMillis(right.timeWindow)) * 1000000L
        AsOfJoin.sortMerge(
          lDf.withColumn("__ts_ns", lTs), rDf.withColumn("__ts_ns", rTs),
          left.joinKey, right.joinKey, "__ts_ns", "__ts_ns", windowNs,
          projections(j, left.sourceId, lDf), projections(j, right.sourceId, rDf))
    }

    cfg.sink.filter(_.tableMapping.nonEmpty).fold(joined) { s =>
      SinkMapper(s.tableMapping.map(m =>
        SinkMapper.ColumnMapping(m.fieldName, m.columnName, m.columnType)))(joined)
    }
  }

  /** The top-level fields of `schema` that `exprs` (expr-lang sources) and
    * `names` (field names, possibly dotted) read. A dotted name reads its
    * literal column when `schema` has one, else its root segment — the
    * resolution `ExprCompiler.resolve` applies. An expression that does not
    * parse reads nothing: the stage that compiles it fails or is skipped. */
  def fieldsRead(schema: StructType, exprs: Seq[String], names: Seq[String]): Set[String] =
    exprs.flatMap(e =>
      try ExprCompiler.referencedFields(e, schema) catch { case _: Exception => Set.empty[String] }
    ).toSet ++ names.map(n => if (schema.fieldNames.contains(n)) n else n.split('.').head)

  /** The declared fields of `topic` (typed as `schema`) that a
    * config-started pipeline reads after ingest: the filter's refs, the
    * dedup id and time fields, then the transform's refs or, with no
    * transform, the sink mapping's source fields. A join side reads its
    * join key, time field and projected fields instead (the streaming join
    * applies no transform). None when every column can reach the sink: no
    * transform and no mapping, or a join side with no projections. */
  def ingestReads(cfg: PipelineConfig, topic: TopicConfig, schema: StructType): Option[Set[String]] = {
    val filter = cfg.filter.toSeq.map(_.expression)
    // an undeclared dedup time field defaults to the `timestamp` column
    // (dedupTimeField), which may be a declared field
    val dedup = topic.deduplication.filter(_.enabled).toSeq
      .flatMap(d => Seq(d.idField, d.timeField.getOrElse("timestamp")))
    val downstream: Option[(Seq[String], Seq[String])] = cfg.join.filter(_.enabled) match {
      case Some(j) =>
        val projected = j.projections.filter(_.sourceId == topic.name).map(_.field)
        if (projected.isEmpty) None
        else Some((Nil, j.sources.filter(_.sourceId == topic.name)
          .flatMap(s => s.joinKey +: s.timeField.toSeq) ++ projected))
      case None => cfg.transform match {
        case Some(tr) => Some((tr.rules.map(_.expression), Nil))
        case None => cfg.sink.map(_.tableMapping.map(_.fieldName)).filter(_.nonEmpty)
          .map(fields => (Nil, fields))
      }
    }
    downstream.map { case (exprs, names) =>
      fieldsRead(schema, filter ++ exprs, dedup ++ names).intersect(schema.fieldNames.toSet)
    }
  }

  /** Streaming dedup needs an event-time column for its watermark. The
    * reference's dedup configs declare none — its windows run on ARRIVAL
    * time — so when the frame carries the Kafka record `timestamp` (config
    * starts parse it through with the payload) that is the arrival time
    * and becomes the default; only a frame with neither errors. */
  private def dedupTimeField(d: DedupConfig, df: DataFrame): String =
    d.timeField
      .orElse(if (df.columns.contains("timestamp")) Some("timestamp") else None)
      .getOrElse(throw new IllegalArgumentException(
        "streaming dedup requires time_field (or a kafka 'timestamp' column)"))

  /** The streaming dedup stage of one source branch, when enabled. */
  private def streamingDedup(d: Option[DedupConfig], df: DataFrame): DataFrame =
    d.filter(_.enabled).fold(df) { d =>
      val win = PipelineConfig.windowMillis(d.timeWindow)
      DedupOp.windowedStreaming(Seq(d.idField), dedupTimeField(d, df), s"$win milliseconds")(df)
    }

  private def transform(cfg: PipelineConfig, df: DataFrame): DataFrame =
    cfg.transform.fold(df) { tr =>
      TransformOp(tr.rules.map(r =>
        TransformOp.Rule(r.expression, r.outputName, r.outputType)))(df)
    }

  /** A join side's output columns: its configured projections, or every
    * column of `df` when it has none. */
  private def projections(j: JoinConfig, id: String, df: DataFrame): Seq[AsOfJoin.Projection] = {
    val ps = j.projections.filter(_.sourceId == id)
    if (ps.nonEmpty) ps.map(p => AsOfJoin.Projection(p.field, p.outputName))
    else df.columns.toSeq.map(c => AsOfJoin.Projection(c, c))
  }

  /** Streaming compile for a single-source pipeline: filter → streaming
    * dedup → transform; returns the streaming DataFrame a sink attaches
    * to. The filter always applies. */
  def streaming(cfg: PipelineConfig, source: DataFrame): DataFrame = {
    val filtered = cfg.filter.fold(source)(f => FilterOp(f.expression)(source))
    transform(cfg, streamingDedup(cfg.source.topics.head.deduplication, filtered))
  }

  /** Streaming compile for a JOIN pipeline (two sources): per-source
    * filter → streaming dedup branches feed the exact temporal-join
    * operator (J1), with TTLs from the configured windows and output
    * projection from the join rules. The filter only applies to a branch
    * whose schema it resolves against (the reference's filter/transform
    * stages are per-source-id; this config model carries one filter). */
  def streamingJoin(cfg: PipelineConfig, sources: Map[String, DataFrame]): DataFrame = {
    val j = cfg.join.filter(_.enabled).getOrElse(
      throw new IllegalArgumentException("streamingJoin requires an enabled join"))
    require(j.sources.length == 2, "join: exactly 2 sources required")
    val left = j.sources.find(_.orientation == "left").getOrElse(
      throw new IllegalArgumentException("join: missing left source"))
    val right = j.sources.find(_.orientation == "right").getOrElse(
      throw new IllegalArgumentException("join: missing right source"))

    def branch(id: String): DataFrame = {
      val df0 = sources.getOrElse(id,
        throw new IllegalArgumentException(s"no source DataFrame for $id"))
      val filtered = cfg.filter
        .filter(f => ExprCompiler.validate(f.expression, df0.schema).isRight)
        .fold(df0)(f => FilterOp(f.expression)(df0))
      streamingDedup(cfg.source.topics.find(_.name == id).flatMap(_.deduplication), filtered)
    }

    // no time_field declared (the reference's demo join configs have none:
    // its buffer TTLs run on ARRIVAL time, the KV entry's age,
    // temporal.go:119-147) → stamp ingestion time and TTL on that. The
    // projection list is computed from the user-visible columns first so
    // the stamp never leaks into the output.
    def withTs(s: JoinSource, df: DataFrame): (DataFrame, String) = s.timeField match {
      case Some(tf) => (df, tf)
      case None => (df.withColumn("__arrival", current_timestamp()), "__arrival")
    }

    val (lDf0, rDf0) = (branch(left.sourceId), branch(right.sourceId))
    val (lOut, rOut) = (projections(j, left.sourceId, lDf0), projections(j, right.sourceId, rDf0))
    val (lDf, lTs) = withTs(left, lDf0)
    val (rDf, rTs) = withTs(right, rDf0)
    TemporalJoin(lDf, rDf, TemporalJoin.Config(
      leftKey = left.joinKey, rightKey = right.joinKey,
      leftTs = lTs, rightTs = rTs,
      leftTtlMs = PipelineConfig.windowMillis(left.timeWindow),
      rightTtlMs = PipelineConfig.windowMillis(right.timeWindow),
      leftOut = lOut, rightOut = rOut))
  }

  private def applyDedup(df: DataFrame, d: DedupConfig): DataFrame =
    d.timeField match {
      case Some(tf) =>
        val windowNs = PipelineConfig.windowMillis(d.timeWindow) * 1000000L
        // tie-break on a hash of the full payload, not the dedup key (the
        // key is constant within its partition, which would leave equal-ts
        // winners nondeterministic across runs)
        DedupOp.windowedBatch(Seq(d.idField), "__ts_ns", windowNs, "__tie")(
          df.withColumn("__ts_ns", tsNsColumn(df, Some(tf)))
            .withColumn("__tie", xxhash64(struct(df.columns.map(col): _*))))
          .drop("__ts_ns", "__tie")
      case None =>
        DedupOp.exact(Seq(d.idField), Seq(col(d.idField)))(df)
    }

  /** Event-time column → exact nanos long. */
  private def tsNsColumn(df: DataFrame, timeField: Option[String]): Column = {
    val tf = timeField.getOrElse(
      throw new IllegalArgumentException("time_field required"))
    df.schema(tf).dataType match {
      case LongType => col(tf)
      case _: TimestampType => unix_micros(col(tf)) * 1000L
      case other => throw new IllegalArgumentException(s"unsupported time field type $other")
    }
  }
}
