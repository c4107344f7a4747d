package graft.sink

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Dead-letter queue envelope — every stage wraps failed rows as
  * `{component, error, original_message}` (reference
  * glassflow-api/internal/models/dlq.go:23-43; middleware
  * internal/processor/dlq_processor.go:13-69). The DLQ is just another
  * sink (Kafka topic / table); re-consuming it is a normal source read.
  */
object Dlq {

  /** Wrap failed rows in the DLQ envelope. The original row is JSON-encoded
    * whole, matching the reference's original_message payload. */
  def envelope(component: String, error: String)(df: DataFrame): DataFrame =
    df.select(
      lit(component).as("component"),
      lit(error).as("error"),
      // verbatim names: a dotted source column ("left_stream.id") must not
      // resolve as a nested field reference
      to_json(struct(df.columns.map(n =>
        df.col(s"`${n.replace("`", "``")}`")): _*)).as("original_message"),
      failedAt())

  /** The envelope's failure time, one instant per envelope, bound through a
    * UDF: `current_timestamp()` folds to a literal that generated code
    * inlines, so every batch would compile new classes. */
  private def failedAt(): Column = {
    val at = java.sql.Timestamp.from(java.time.Instant.now())
    udf(() => at).apply().as("failed_at")
  }

  /** Envelope a DISTRIBUTED failure set — (jsonRow, serverError) pairs
    * from the HTTP leg's poison-row isolation, each row carrying ITS OWN
    * server error like the reference's per-message DLQ push
    * (clickhouse.go:616-648). The pairs stay a Dataset end-to-end: a
    * systematically poisoned batch (every row fails) produces a failure
    * set the size of the batch, which must flow executor→DLQ without a
    * driver hop (dlq_processor.go publishes worker-side for the same
    * reason). */
  def envelopePairs(component: String,
                    failures: org.apache.spark.sql.Dataset[(String, String)]): DataFrame =
    failures.toDF("original_message", "error").select(
      lit(component).as("component"),
      col("error"),
      col("original_message"),
      failedAt())

  /** Produce a DLQ frame to a Kafka topic via `format("graft-kafka")` —
    * the reference's actual DLQ shape (a stream, not files:
    * dlq_processor.go publishes envelopes to a NATS stream; here the
    * broker IS Kafka). Each envelope row becomes one JSON-valued record;
    * re-consume is a normal `format("graft-kafka")` read of the topic.
    * Usable as the `dlqFn` everywhere `writeParquet` is. */
  def writeKafka(brokers: String, topic: String)(df: DataFrame): Unit =
    df.select(to_json(struct(df.columns.map(col): _*)).cast("binary").as("value"))
      .write.mode("append").format("graft-kafka")
      .option("brokers", brokers).option("topic", topic)
      .save()

  /** Append a DLQ frame to a parquet path, stamping each row with a
    * monotonic `seq` (contiguous from 1 across appends, tracked in a
    * hidden side file). Consumers page by seq RANGE — a filter + top-n —
    * instead of re-sorting the whole queue per page. In-batch order is the
    * total column order (deterministic); appends to one DLQ path are
    * serialized through the owning query's foreachBatch, which is what
    * makes the read-stamp-advance below safe. An empty frame appends
    * nothing and leaves the side file as it is.
    *
    * The frame is computed once: its rows are persisted executor-side
    * (MEMORY_AND_DISK, an RDD so no plan registers with the cache
    * manager) and counted, one job with no shuffle. A non-empty set is
    * then sorted and stamped in one task over the persisted rows, the
    * counter kept in the task: a per-batch `seq` literal would compile
    * new generated classes every batch. */
  def writeParquet(path: String)(df: DataFrame): Unit = synchronized {
    val rows = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rows.count()
      if (n > 0) {
        val start = readSeq(path)
        val spark = df.sparkSession
        val sorted = spark.createDataFrame(rows, df.schema).coalesce(1)
          .sortWithinPartitions(df.columns.map(c => col(s"`${c.replace("`", "``")}`")): _*)
        val stamped = sorted.rdd.mapPartitions { it =>
          var seq = start - 1
          it.map { r => seq += 1; Row.fromSeq(r.toSeq :+ seq) }
        }
        spark.createDataFrame(stamped, df.schema.add("seq", LongType, nullable = false))
          .write.mode("append").parquet(path)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        java.nio.file.Files.write(seqPath(path), (start + n).toString.getBytes("UTF-8"))
      }
    } finally { rows.unpersist(); () }
  }

  /** One-time migration of an externally-written, seq-less DLQ directory:
    * stamp every existing row with contiguous `seq` (1..n, total column
    * order — the same order the retired offset-paging fallback used, so
    * an in-flight ack cursor keeps meaning "rows already delivered") and
    * initialize the seq side file. Data files are rewritten; dot-prefixed
    * side files (the ack cursor) are preserved. After this, a legacy queue
    * pages exactly like a stamped one — the per-page full re-sort path is
    * gone. */
  def stampLegacySeq(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    synchronized {
      import scala.jdk.CollectionConverters._
      val df = spark.read.parquet(path)
      if (df.columns.contains("seq")) return
      val n = df.count()
      val w = Window.orderBy(df.columns.map(col): _*)
      val tmp = path + ".seq-migrate"
      df.withColumn("seq", row_number().over(w).cast("long"))
        .write.mode("overwrite").parquet(tmp)
      val dir = java.nio.file.Paths.get(path)
      val tmpDir = java.nio.file.Paths.get(tmp)
      def isDataArtifact(nm: String): Boolean =
        nm.startsWith("part-") || nm.startsWith(".part-") ||
          nm == "_SUCCESS" || nm == "._SUCCESS.crc"
      // Crash-safe ordering: the queue directory must hold a complete copy
      // at every instant. Stamped files move IN first under a dot prefix
      // (invisible to parquet readers), originals are deleted only after
      // every stamped file is inside the directory, and the final rename to
      // visible names happens last — a crash at any point leaves either the
      // originals intact or the full stamped set one rename from visible.
      val staged = java.nio.file.Files.list(tmpDir).iterator().asScala.toSeq
        .filter(f => isDataArtifact(f.getFileName.toString))
        .map { f =>
          val hidden = dir.resolve(".seq-migrate." + f.getFileName.toString)
          java.nio.file.Files.move(f, hidden); hidden
        }
      java.nio.file.Files.list(dir).iterator().asScala.toSeq
        .filter(f => isDataArtifact(f.getFileName.toString))
        .foreach(java.nio.file.Files.delete(_))
      staged.foreach { h =>
        val visible = h.getFileName.toString.stripPrefix(".seq-migrate.")
        java.nio.file.Files.move(h, dir.resolve(visible))
      }
      java.nio.file.Files.list(tmpDir).iterator().asScala.toSeq
        .foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(tmpDir)
      java.nio.file.Files.write(seqPath(path), (n + 1).toString.getBytes("UTF-8"))
    }

  private def seqPath(path: String) =
    java.nio.file.Paths.get(path, ".graft_dlq_seq")

  /** Next sequence number to stamp (1-based). */
  def readSeq(path: String): Long =
    try new String(java.nio.file.Files.readAllBytes(seqPath(path)), "UTF-8").trim.toLong
    catch { case _: Exception => 1L }
}
