package graft

import org.apache.spark.sql.SparkSession

/** The local Spark session every main runs in (Bench, the three ingest
  * mains, Verify, ProfileQuery, and the ApiMain and OtlpMain services),
  * so the service runs configured like the benches. */
object LocalSession {

  /** Local cores and shuffle width: SPARK_GRAFT_CPUS, default 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** AQE and its 1m coalescing byte floor (minPartitionSize) are Spark's
    * defaults and stay so: a 64k floor was A/B-measured to widen the
    * CPU-dense-per-byte reduce stages but inflated task CPU up to 20× on
    * q_triangles and q_kcore (OPTIMIZATION_r16.md). */
  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      // local[N,4]: 4 task attempts — local mode ignores the
      // spark.task.maxFailures conf (the master string carries it), and at
      // 1 attempt a single transient socket hiccup under host jitter
      // aborts the whole job
      .master(s"local[$cpus,4]")
      // driver RPC pinned to loopback: RpcEnv setup must never depend on
      // the host's name resolution (a forked bench JVM died in
      // RpcEnv.setupEndpointRefByURI under host churn)
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
