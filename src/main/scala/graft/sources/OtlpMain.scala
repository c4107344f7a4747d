package graft.sources

/** Standalone OTLP receiver service (the reference's otlp-receiver
  * deployable): both transports on their own ports, landing flattened
  * rows in a parquet spool a streaming pipeline reads as a file source.
  *
  *   tools/run.sh graft.sources.OtlpMain [spoolDir] [httpPort] [grpcPort]
  *
  * Defaults: spool under /tmp, HTTP 4318, gRPC 4317 (the standard OTLP
  * ports, constants the reference also binds).
  */
object OtlpMain {
  def main(args: Array[String]): Unit = {
    val spool = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_otlp_spool").toString)
    val httpPort = args.drop(1).headOption.map(_.toInt).getOrElse(4318)
    val grpcPort = args.drop(2).headOption.map(_.toInt).getOrElse(4317)
    val spark = graft.LocalSession()
    val receiver = new OtlpReceiver(spark, spool)
    val http = receiver.start(httpPort)
    val grpc = receiver.grpc().start(grpcPort)
    println(s"otlp receiver: http 127.0.0.1:$http, grpc (h2c) 127.0.0.1:$grpc, spool $spool")
    Thread.currentThread().join()
  }
}
