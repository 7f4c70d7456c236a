package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Transport assembly for the reference's Kafka path (SURVEY §2.1 S10/S11,
  * resources/kafka.py:48-64,121-188): one switch between the production
  * `format("kafka")` source/sink and the file-stream twin this environment
  * uses (no broker, no connector jar). Everything downstream of the
  * envelope — unwrap, staging, marts — is transport-agnostic, so the twin
  * and the broker path share every transform and differ only here.
  */
object KafkaTransport {

  /** Where a stream comes from: a Kafka topic (production) or a directory
    * of envelope files (this environment's twin). */
  sealed trait Source
  final case class KafkaTopic(bootstrapServers: String, topic: String,
      startingOffsets: String = "latest") extends Source
  final case class FileTwin(dir: String, format: String = "parquet") extends Source

  /** Assemble the raw (key, value) envelope stream for a source. The Kafka
    * branch builds the exact production reader — key/value arrive as
    * binary and are cast to the envelope's string wire shape; options
    * mirror resources/kafka.py consumer settings (latest offsets,
    * fail-fast off for rebalance tolerance). It is constructible anywhere
    * but executable only where the kafka connector jar is on the
    * classpath. */
  def envelopeStream(spark: SparkSession, source: Source): DataFrame = source match {
    case KafkaTopic(servers, topic, offsets) =>
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", offsets)
        .option("failOnDataLoss", "false")
        .load()
        .select(col("key").cast("string").as("key"), col("value").cast("string").as("value"))
    case FileTwin(dir, fmt) =>
      val schema = spark.read.format(fmt).load(dir).schema
      spark.readStream.schema(schema).format(fmt).load(dir)
        .select(col("key").cast("string").as("key"), col("value").cast("string").as("value"))
  }

  /** Typed business stream: envelope source + schema unwrap (quarantine
    * column preserved — KafkaEnvelope.unwrap semantics). */
  def typedStream(spark: SparkSession, source: Source, schema: StructType): DataFrame =
    KafkaEnvelope.unwrap(envelopeStream(spark, source), schema)

  /** Wire a wrapped envelope frame to the matching sink: the Kafka branch
    * is the production writeStream (checkpointed, `acks=all` as in the
    * reference producer, resources/kafka.py:56-60), the twin appends
    * parquet. Returns the started query. */
  def writeEnvelope(
      df: DataFrame,
      sink: Source,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery = sink match {
    case KafkaTopic(servers, topic, _) =>
      df.writeStream
        .format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .option("kafka.acks", "all")
        .option("checkpointLocation", checkpointDir)
        .start()
    case FileTwin(dir, fmt) =>
      df.writeStream
        .format(fmt)
        .option("path", dir)
        .option("checkpointLocation", checkpointDir)
        .start()
  }
}
