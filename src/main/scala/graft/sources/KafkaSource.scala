package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Kafka source a config-started pipeline reads: a streaming
  * `graft-kafka` read ([[graft.sources.kafka.KafkaWireSource]], the wire
  * protocol over TCP) built from the pipeline config alone. Offsets live
  * in the checkpoint; each completed batch also commits its end offsets
  * to the consumer group (reference consumer.go:318), so Kafka-side lag
  * tooling tracks the pipeline. A retention-deleted range is skipped, not
  * fatal (`failOnDataLoss=false`). */
object KafkaSource {

  final case class Config(brokers: Seq[String], topic: String, consumerGroup: String)

  def readStream(spark: SparkSession, c: Config): DataFrame =
    spark.readStream.format("graft-kafka")
      .option("brokers", c.brokers.mkString(","))
      .option("topic", c.topic)
      .option("kafka.group.id", c.consumerGroup)
      .option("failOnDataLoss", "false")
      .load()
}
