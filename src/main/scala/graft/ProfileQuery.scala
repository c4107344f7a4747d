package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Dev utility (not part of the driver contract): run one or more driver
  * queries with a stage-level listener and print each one's formatted
  * physical plan, then where the wall time goes — per-stage duration, task
  * count, shuffle bytes, and the job count — so an optimization pass can
  * tell fixed per-job overhead from real operator cost.
  * `tools/run.sh graft.ProfileQuery <sfDir> <q1> [q2 ...]`; set
  * SPARK_GRAFT_PROFILE_RUNS for more repetitions (default 2 — first run
  * pays codegen/JIT warmup, the warm run is the honest one).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val spark = LocalSession()

    case class StageRow(id: Int, name: String, tasks: Int, ms: Long,
                        shufWrite: Long, shufRead: Long, input: Long,
                        runMs: Long, gcMs: Long, cpuMs: Long)
    val stages = ArrayBuffer[StageRow]()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = sc.stageInfo
          val ms = (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(-1L)
          val m = si.taskMetrics
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
            si.numTasks, ms,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.inputMetrics.bytesRead,
            m.executorRunTime, m.jvmGCTime, m.executorCpuTime / 1000000)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // warm the session the same way Bench does
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    args.tail.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
      (1 to runs).foreach { i =>
        try spark.catalog.clearCache() catch { case _: Throwable => () }
        System.gc()
        stages.synchronized { stages.clear(); jobs = 0 }
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are posted asynchronously; give the bus a moment
        Thread.sleep(300)
        val snap = stages.synchronized { stages.toVector.sortBy(-_.ms) }
        val stageSum = snap.map(_.ms).sum / 1e3
        val gcSum = snap.map(_.gcMs).sum / 1e3
        val runSum = snap.map(_.runMs).sum / 1e3
        val cpuSum = snap.map(_.cpuMs).sum / 1e3
        println(f"== $q run$i: wall $wall%.2f s, $n rows, ${jobs} jobs, " +
          f"${snap.size} stages, stage-sum $stageSum%.2f s " +
          f"(gap ${wall - stageSum}%.2f s driver) " +
          f"taskRun $runSum%.1f s taskCpu $cpuSum%.1f s taskGc $gcSum%.1f s")
        snap.take(15).foreach { s =>
          println(f"   ${s.ms}%6d ms  ${s.tasks}%4d tasks  run=${s.runMs}%6d  " +
            f"cpu=${s.cpuMs}%6d  gc=${s.gcMs}%5d  " +
            f"in=${s.input / 1024}%7d KiB  sw=${s.shufWrite / 1024}%6d KiB  " +
            f"sr=${s.shufRead / 1024}%6d KiB  [${s.id}] ${s.name.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
