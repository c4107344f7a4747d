package graft.api

import graft.pipeline.PipelineService

/** Standalone API server: `tools/run.sh graft.api.ApiMain [port] [dlqRoot]`.
  * DLQ endpoints stay disabled unless a DLQ root is given (arg 2 or
  * GRAFT_DLQ_ROOT) — they expose filesystem reads/deletes confined to it. */
object ApiMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val dlqRoot = args.drop(1).headOption.orElse(sys.env.get("GRAFT_DLQ_ROOT"))
    val spark = graft.LocalSession()
    val server = new ApiServer(spark, new PipelineService(spark, dlqRoot))
    val bound = server.start(port)
    println(s"graft api listening on 127.0.0.1:$bound")
    Thread.currentThread().join()
  }
}
