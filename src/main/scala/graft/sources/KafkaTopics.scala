package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.ljot.{LeftJoinOnTimeout, LeftJoinOnTimeoutConfig}

/**
 * Kafka topic source/sink wiring — the reference's O1/O2/O3 surface
 * (`kStreamBuilder.stream(...)` consumption at
 * `LeftJoinOnTimeoutTest.java:201-202`, framework sink at
 * `LeftJoinOnTimeoutBuilder.java:119`, raw-producer timeout sink at
 * `:158-172`). In Spark both output branches fall out of ONE
 * left-join-on-timeout operator, so a single sink suffices
 * (SURVEY.md §2.1-O3).
 *
 * Runtime note: needs the `spark-sql-kafka-0-10` connector on the
 * cluster classpath. The connector is NOT shippable in this build
 * environment (zero-egress: absent from /opt/spark/jars and the offline
 * dependency cache). The full topology — `format("kafka")` resolution,
 * micro-batch offset planning, decode → join → encode, streaming write
 * commits — is executed end-to-end in tests against a test-scope
 * in-memory broker registered under the same `kafka` short name
 * (`FakeKafkaSpec`), so only the network leaf itself is exercised
 * exclusively on a cluster; decode/encode projections and rate-limit
 * option mapping are additionally unit-tested over wire-schema frames
 * and MemoryStreams (`StreamingOpsSpec`).
 */
object KafkaTopics {

  /** Kafka wire record (key/value bytes + broker timestamp) → the engine's
   * canonical (key, value, ts) keyed stream. The cast projections are the
   * Spark analog of the reference's consumer serdes
   * (`LeftJoinOnTimeoutBuilder.java:70-77`: K=Long, V=String in tests). */
  def decodeKeyedStream(raw: DataFrame): DataFrame =
    raw.select(
      col("key").cast("string").cast("long").as("key"),
      col("value").cast("string").as("value"),
      col("timestamp").as("ts"))

  /** (key, joined, ts) → Kafka writer schema. The producer-record shape of
   * the timeout branch (`LeftJoinOnTimeoutBuilder.java:165-168`) — key and
   * value serialized, event-time carried on the record timestamp. */
  def encodeJoinedStream(out: DataFrame): DataFrame =
    out.select(
      col("key").cast("string").as("key"),
      col("joined").cast("string").as("value"),
      col("ts").as("timestamp"))

  /** O1: subscribe to a topic as a keyed stream. */
  def readTopic(spark: SparkSession, bootstrap: String, topic: String,
                maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
    decodeKeyedStream(
      maxOffsetsPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n.toString)).load())
  }

  /** O2/O3: write the joined stream to the sink topic. Exactly-once per
   * left via the checkpoint (replaces the reference's changelog +
   * at-least-once raw producer, SURVEY.md §2.3-6). */
  def writeTopic(out: DataFrame, bootstrap: String, topic: String,
                 checkpointLocation: String): StreamingQuery =
    encodeJoinedStream(out).writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointLocation)
      .outputMode("append")
      .start()

  /** The reference's full end-to-end topology
   * (`LeftJoinOnTimeoutBuilder.java:95-122`) on Kafka: two source topics →
   * left-join-on-timeout → sink topic. */
  def ljotTopology(spark: SparkSession, bootstrap: String,
                   lhsTopic: String, rhsTopic: String, sinkTopic: String,
                   joiner: LeftJoinOnTimeout.Joiner,
                   cfg: LeftJoinOnTimeoutConfig,
                   checkpointLocation: String): StreamingQuery = {
    val lhs = readTopic(spark, bootstrap, lhsTopic,
      Some(cfg.maxScheduled.toLong * 100)) // scheduledCapacity → rate limit (O10)
    val rhs = readTopic(spark, bootstrap, rhsTopic)
    writeTopic(LeftJoinOnTimeout(lhs, rhs, joiner, cfg),
      bootstrap, sinkTopic, checkpointLocation)
  }
}
