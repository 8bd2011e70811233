package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Kafka ingress/egress (SURVEY S1/K1): the engine keeps Kafka only at
  * the pipeline edges — internal operator hops are in-process Datasets
  * (ARCHITECTURE.md decision 1).
  *
  * Reference semantics carried over:
  *  - message key = taskID (`vpe/common/Stream.java:55-62`);
  *  - topic = output data type, with per-record routing — expressed
  *    here via the Kafka sink's per-row `topic` column (the Spark
  *    equivalent of the reference's routed send, K1);
  *  - offsets/commit ordering (W5) and rate limiting (W6) are source
  *    options, not hand-rolled bookkeeping.
  *
  * NOTE: the spark-sql-kafka connector jar is not in this build's
  * classpath (zero-egress container, no broker) — these builders
  * compile and carry the full option surface; runtime use needs the
  * standard connector on the cluster. The envelope codec below is
  * exercised by tests without Kafka.
  */
object KafkaEdge {

  val envelopeSchema: StructType = StructType(Seq(
    StructField("task_id", StringType),
    StructField("dest_ports", ArrayType(StringType)),
    StructField("executed", ArrayType(StringType)),
    StructField("payload_url", StringType),
    StructField("payload_json", StringType)))

  /** Subscribe to the given topics (reference: one topic per data
    * type, one shared direct stream per app — S1). */
  def readEnvelopes(spark: SparkSession, brokers: String,
                    topics: Seq[String],
                    maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val base = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics.mkString(","))
    val limited = maxOffsetsPerTrigger
      .fold(base)(n => base.option("maxOffsetsPerTrigger", n.toString))
    decodeEnvelope(limited.load())
  }

  /** Kafka record → routed envelope columns (S3 one-shot deserialize:
    * key = taskID, value = JSON envelope, topic kept for demux P2). */
  def decodeEnvelope(kafkaDf: DataFrame): DataFrame =
    kafkaDf.select(
      col("topic"),
      col("key").cast("string").as("task_id"),
      from_json(col("value").cast("string"), envelopeSchema).as("env"))
      .select(col("topic"), col("task_id"),
        col("env.dest_ports").as("dest_ports"),
        col("env.executed").as("executed"),
        col("env.payload_url").as("payload_url"),
        col("env.payload_json").as("payload_json"))

  /** Envelope columns → Kafka record. `topicCol` may be a per-row
    * expression — the routed-sink form: each record goes to the topic
    * its plan says (K1). */
  def encodeEnvelope(df: DataFrame, topicCol: org.apache.spark.sql.Column): DataFrame =
    df.select(
      topicCol.as("topic"),
      col("task_id").cast("binary").as("key"),
      to_json(struct(
        col("task_id"), col("dest_ports"), col("executed"),
        col("payload_url"), col("payload_json"))).cast("binary").as("value"))

  /** Writer with checkpointing (W4: durable checkpoint dir, no
    * delete-on-start), not started: the caller owns the start scope.
    * Call `start()` inside [[StreamingOps.withStreamStart]], as every
    * stream graft starts itself does, so the stream's tasks reuse the
    * classes earlier runs compiled. */
  def writeEnvelopes(df: DataFrame, brokers: String,
                     checkpointDir: String): DataStreamWriter[Row] =
    df.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("checkpointLocation", checkpointDir)
}
