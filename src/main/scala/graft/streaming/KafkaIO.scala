package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Upsert

/** `format("kafka")` source/sink variants of the envelope pipeline
  * (SURVEY §2.1 S10/S11, §2.9 ST1) — the production ingress the reference
  * runs through its Kafka producer/consumer (resources/kafka.py:48-82,
  * 121-224) and the Flink passthrough job (resources/flink.py:199-298).
  *
  * RUNTIME NOTE: this environment has no Kafka broker and no
  * spark-sql-kafka connector jar, so these paths are compile-time
  * verified only; the DataFrame transforms they wrap (KafkaEnvelope
  * wrap/unwrap, Upsert.upsertParquet) are the tested
  * surface — StreamingJobs exercises the identical pipeline over file
  * streams. Deploying against a real cluster needs only the connector
  * jar on the classpath and a reachable `bootstrapServers`.
  */
object KafkaIO {

  /** Connection + consumption settings, mirroring the reference's producer
    * /consumer configuration (kafka.py:56-60 producer; :74-78 consumer
    * poll cap; scan.startup.mode=latest-offset scrapers/main.py:90). */
  final case class KafkaConfig(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None,
      checkpointDir: Option[String] = None
  )

  private def requireCheckpoint(cfg: KafkaConfig): String =
    cfg.checkpointDir.getOrElse(
      throw new IllegalArgumentException("checkpointDir required for streaming Kafka writes"))

  /** S10 batch producer: business rows → keyed JSON envelope → topic.
    * acks=all + gzip parity with the reference producer (kafka.py:56-60);
    * the envelope stamps data_source/data_classification into every
    * message (public_resources.py:313-334). */
  def writeBatch(df: DataFrame, keyCol: Column, dataSource: String, cfg: KafkaConfig): Unit =
    KafkaEnvelope.wrap(df, keyCol, dataSource)
      .write.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("topic", cfg.topic)
      .option("kafka.acks", "all")
      .option("kafka.compression.type", "gzip")
      .save()

  /** S10 streaming producer: continuous enveloped publish of a streaming
    * frame, checkpointed. */
  def writeStream(df: DataFrame, keyCol: Column, dataSource: String, cfg: KafkaConfig): StreamingQuery =
    KafkaEnvelope.wrap(df, keyCol, dataSource)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("topic", cfg.topic)
      .option("kafka.acks", "all")
      .option("checkpointLocation", requireCheckpoint(cfg))
      .start()

  /** S11/ST1 consumer: keyed JSON envelope stream → typed rows (PERMISSIVE
    * parse keeps malformed values for quarantine). No processing-time
    * column, as in StreamingJobs.passThroughToBronze. */
  def readStream(spark: SparkSession, schema: StructType, cfg: KafkaConfig): DataFrame = {
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.topic)
      .option("startingOffsets", cfg.startingOffsets)
    val capped = cfg.maxOffsetsPerTrigger.fold(reader)(n =>
      reader.option("maxOffsetsPerTrigger", n.toString))
    val envelope = capped.load()
      .select(col("key").cast("string").as("key"), col("value").cast("string").as("value"))
    KafkaEnvelope.unwrap(envelope, schema)
  }

  /** ST2–ST4 over Kafka: the format("kafka") twin of
    * StreamingJobs.passThroughToBronze — typed envelope stream →
    * checkpointed, idempotent foreachBatch dedup-upsert into bronze
    * parquet. 60 s trigger mirrors the Flink job's checkpoint interval
    * (flink-conf.yml:33-39). */
  def passThroughToBronze(
      spark: SparkSession,
      schema: StructType,
      cfg: KafkaConfig,
      bronzePath: String,
      keys: Seq[String],
      versionCol: String,
      tiebreak: String
  ): StreamingQuery =
    readStream(spark, schema, cfg).writeStream
      .option("checkpointLocation", requireCheckpoint(cfg))
      .trigger(Trigger.ProcessingTime("60 seconds"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Upsert.upsertParquet(
          spark,
          batch.drop("__msg_key", "__unparsed"),
          bronzePath, keys, versionCol, tiebreak)
      }
      .start()
}
