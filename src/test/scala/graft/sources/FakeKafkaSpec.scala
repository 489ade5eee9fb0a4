package graft.sources

import java.time.Duration

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.ljot.LeftJoinOnTimeoutConfig

/** End-to-end run of the reference's Kafka topology
 * (`LeftJoinOnTimeoutTest.java:201-216`: produce to two topics, consume
 * the joined topic) over the test-scope broker — proving
 * `readTopic`/`writeTopic`/`ljotTopology` resolve, plan, execute and
 * round-trip the wire encoding with only the network leaf faked. */
class FakeKafkaSpec extends AnyFunSuite with SparkTestHarness {

  test("format(\"kafka\") resolves to the shim and plans a streaming scan") {
    FakeBroker.publish("t_probe", "1", "hello", 1000L)
    val df = KafkaTopics.readTopic(spark, "fake:9092", "t_probe")
    assert(df.isStreaming)
    assert(df.columns.toSeq === Seq("key", "value", "ts"))
  }

  test("maxOffsetsPerTrigger bounds each micro-batch (admission control)") {
    // the rate limit ljotTopology maps from scheduledCapacity (O10) must
    // actually shape batches: 10 backlogged records at 3 offsets/trigger
    // drain over >= 4 micro-batches of <= 3 rows each
    (0 until 10).foreach(i => FakeBroker.publish("t_rate", i.toString, s"v$i", 1000L + i))
    val df = KafkaTopics.readTopic(spark, "fake:9092", "t_rate",
      maxOffsetsPerTrigger = Some(3L))
    val q = df.writeStream.format("memory").queryName("rate_probe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("rate_probe").count() === 10L, "the whole backlog drains")
      val withRows = q.recentProgress.filter(_.numInputRows > 0)
      assert(withRows.length >= 4,
        s"10 records at 3/trigger need >= 4 batches; got ${withRows.map(_.numInputRows).toSeq}")
      assert(withRows.forall(_.numInputRows <= 3),
        s"a batch exceeded the limit: ${withRows.map(_.numInputRows).toSeq}")
    } finally q.stop()
  }

  test("ljot topology end-to-end: join branch and timeout branch reach the sink topic") {
    FakeBroker.clear()
    val cfg = LeftJoinOnTimeoutConfig(
      joinWindow = Duration.ofMillis(100), retention = Duration.ofMillis(300))
    // l1 has an in-band right; l2 does not and must time out once the
    // watermark (min over both inputs, delay = retention) passes l2.ts + D
    FakeBroker.publish("t_lhs", "1", "l1", 1000L)
    FakeBroker.publish("t_rhs", "1", "r1", 1050L)
    FakeBroker.publish("t_lhs", "2", "l2", 5000L)
    // watermark pushers on BOTH sides (global watermark is the minimum);
    // distinct keys so they join nothing
    FakeBroker.publish("t_lhs", "98", "lpush", 100000L)
    FakeBroker.publish("t_rhs", "99", "rpush", 100000L)

    val ckpt = java.nio.file.Files.createTempDirectory("fake_kafka_ckpt").toString
    val q = KafkaTopics.ljotTopology(spark, "fake:9092", "t_lhs", "t_rhs", "t_out",
      (l, r) => concat_ws("+", l, coalesce(r, lit("TIMEOUT"))), cfg, ckpt)
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def got = FakeBroker.all("t_out").map(r => (r.key, r.value, r.tsMicros / 1000L)).toSet
      while (!(got.contains(("1", "l1+r1", 1000L)) && got.contains(("2", "l2+TIMEOUT", 5000L)))
             && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(got.contains(("1", "l1+r1", 1000L)),
        s"join branch missing from sink topic; got $got")
      assert(got.contains(("2", "l2+TIMEOUT", 5000L)),
        s"timeout branch missing from sink topic; got $got")
    } finally stopBetweenTriggers(q)
  }
}
