package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.SparkSpec

/** The state store of a pipeline's queries: [[PipelineService]] starts
  * them on RocksDB without changing the session's own setting, and a
  * checkpoint keeps the provider it was written under across a resume. */
class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private val key = "spark.sql.streaming.stateStore.providerClass"

  private def cfg(id: String) = PipelineConfig(
    pipelineId = id,
    source = SourceConfig(brokers = Some(Seq("broker:9092")),
      topics = Seq(TopicConfig("t",
        deduplication = Some(DedupConfig(idField = "id", timeField = Some("ts")))))),
    sink = Some(SinkConfig(table = "out", url = Some("jdbc:ch://ch:8123"),
      tableMapping = Seq(SinkMapping(fieldName = "id", columnName = "id",
        columnType = "String")))))

  private def t(minute: Int) = new Timestamp(1735725600000L + minute * 60000L)

  /** A restartable file sink named `id`, writing under `root`. */
  private def writer(id: String, root: String)(df: DataFrame, checkpoint: String)
      : DataStreamWriter[Row] =
    df.writeStream.format("parquet").queryName(id)
      .option("path", s"$root/out").option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** A service whose connectors are `mem` and [[writer]]; the config →
    * connector translation, dedup included, is the real one. */
  private def service(id: String, root: String, mem: MemoryStream[(String, Timestamp)]) =
    new PipelineService(spark, checkpointRoot = Some(s"$root/ckpt"),
      sourceReader = (_, _) => mem.toDF.toDF("id", "ts"),
      sinkAttach = (df, _, checkpoint, _) => writer(id, root)(df, checkpoint))

  private def running(id: String): StreamingQuery =
    spark.streams.active.find(_.name == id).getOrElse(fail(s"no running query $id"))

  /** The provider the newest offset-log entry of `checkpoint` records. */
  private def loggedProvider(checkpoint: String): String = {
    val dir = Paths.get(checkpoint, "offsets")
    val last = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).maxBy(_.toLong)
    val text = new String(Files.readAllBytes(dir.resolve(last)), "UTF-8")
    s""""$key":"([^"]+)"""".r.findFirstMatchIn(text).map(_.group(1))
      .getOrElse(fail(s"no $key in offset log entry $last"))
  }

  private def insertedIds(root: String): Seq[String] =
    spark.read.parquet(s"$root/out").select("id").as[String].collect().toSeq.sorted

  test("a config-started dedup pipeline runs on RocksDB; the session's provider is unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val id = "ss-rocksdb"
    val root = Files.createTempDirectory("graft_ss_rocksdb").toString
    val mem = MemoryStream[(String, Timestamp)]
    val svc = service(id, root, mem)
    val before = spark.conf.getOption(key)
    assert(svc.create(cfg(id)).isRight)
    val started = svc.startFromConfig(id)
    assert(started.isRight, started.swap.getOrElse(""))
    try {
      assert(spark.conf.getOption(key) == before)
      mem.addData(("a", t(0)), ("a", t(1)), ("b", t(2)))
      val q = running(id)
      q.processAllAvailable()
      assert(loggedProvider(s"$root/ckpt/$id").endsWith(".RocksDBStateStoreProvider"))
      val metrics = q.lastProgress.stateOperators.head.customMetrics.keySet.asScala
      assert(metrics.exists(_.startsWith("rocksdb")), metrics)
      assert(insertedIds(root) == Seq("a", "b"))
    } finally { svc.terminate(id); () }
  }

  test("a checkpoint written under the HDFS-backed store resumes under it with its dedup state") {
    implicit val sqlCtx = spark.sqlContext
    val id = "ss-hdfs"
    val root = Files.createTempDirectory("graft_ss_hdfs").toString
    val checkpoint = s"$root/ckpt/$id"
    val mem = MemoryStream[(String, Timestamp)]
    // the same query started outside the service, on the session's
    // default store, as a build that did not pick the store would
    val q1 = writer(id, root)(
      PipelineCompiler.streaming(cfg(id), mem.toDF.toDF("id", "ts")), checkpoint).start()
    mem.addData(("a", t(0)), ("b", t(1)))
    q1.processAllAvailable()
    q1.stop()
    assert(loggedProvider(checkpoint).endsWith(".HDFSBackedStateStoreProvider"))

    val svc = service(id, root, mem)
    assert(svc.create(cfg(id)).isRight)
    val resumed = svc.resume(id)
    assert(resumed.isRight, resumed.swap.getOrElse(""))
    try {
      mem.addData(("a", t(2)), ("c", t(3))) // "a" repeats inside the 1 h window
      running(id).processAllAvailable()
      assert(loggedProvider(checkpoint).endsWith(".HDFSBackedStateStoreProvider"))
      assert(insertedIds(root) == Seq("a", "b", "c"))
    } finally { svc.terminate(id); () }
  }
}
