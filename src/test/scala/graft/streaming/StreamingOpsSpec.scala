package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness
import graft.sources.KafkaTopics

case class VRec(key: Long, value: Double, ts: Timestamp)

/** Kafka wire-record shape (key/value bytes + broker timestamp). */
case class Wire(key: Array[Byte], value: Array[Byte], timestamp: Timestamp)

/** Text-document stream record for the trending-tokens spec. */
case class Doc(ts: Timestamp, text: String)

class StreamingOpsSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val base = 1000000000L
  private def rec(k: Long, v: Double, ts: Long) = VRec(k, v, new Timestamp(ts))
  // sentinel far in the future closes all windows of interest
  private def sentinel = rec(99L, 0.0, base + 3600 * 1000L)
  private def sentinelDoc = Doc(new Timestamp(base + 3600 * 1000L), "sentinel")

  test("idempotent parquet sink: batches land in batch_id partitions; a replay " +
       "replaces its own batch, never duplicates or touches siblings") {
    val path = java.nio.file.Files.createTempDirectory("graft-sink").toString
    try {
      val in = MemoryStream[VRec]
      val q = in.toDF().writeStream
        .foreachBatch(StreamingOps.idempotentParquet(path) _)
        .start()
      try {
        in.addData(rec(1, 1.0, base), rec(2, 2.0, base + 1))
        q.processAllAvailable()
        in.addData(rec(3, 3.0, base + 2))
        q.processAllAvailable()
      } finally q.stop()
      // directory-name partition values infer as INT — normalize
      def snapshot() = spark.read.parquet(path)
        .selectExpr("key", "CAST(batch_id AS BIGINT) AS batch_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val first = snapshot()
      assert(first.map(_._1) === Seq(1L, 2L, 3L))
      assert(first.map(_._2).distinct.size === 2, s"two batch partitions: $first")
      val replayBatch = first.last._2
      // crash-replay simulation: the same batch id re-delivers (content may
      // even differ after recomputation) — its partition must be REPLACED
      StreamingOps.idempotentParquet(path)(
        Seq(rec(3, 3.0, base + 2), rec(4, 4.0, base + 3)).toDF(), replayBatch)
      val after = snapshot()
      assert(after === (first.filter(_._2 != replayBatch) ++
        Seq((3L, replayBatch), (4L, replayBatch))).sorted,
        "replayed batch replaces its own partition only")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("misra-gries transition: bounded counters, lower-bound estimates, " +
       "one alert per token") {
    val k = 4
    // heavy token among noise: estimate stays a lower bound of the truth
    val heavy = List.fill(30)("hot")
    val noise = (1 to 20).map(i => s"n$i").toList
    val (s1, alerts) = StreamingOps.mgTransition(
      scala.util.Random.shuffle(heavy ++ noise), MgState(Map.empty, Set.empty),
      k, threshold = 10L)
    assert(s1.counters.size <= k)
    assert(alerts.map(_.token) === List("hot"))
    assert(s1.counters("hot") <= 30L && s1.counters("hot") >= 30L - (50L / k))
    // already-alerted tokens do not re-alert
    val (s2, again) = StreamingOps.mgTransition(List("hot", "hot"), s1, k, 10L)
    assert(again.isEmpty && s2.counters("hot") === s1.counters("hot") + 2)
    // below-threshold tokens never alert
    val (_, none) = StreamingOps.mgTransition(List("rare"), MgState(Map.empty, Set.empty), k, 10L)
    assert(none.isEmpty)
  }

  test("misra-gries transition: a decrement that drops an alerted token's counter " +
       "drops it from alerted too, so it alerts again after it re-enters and crosses") {
    val (k, threshold) = (2, 2L)
    val (s1, first) = StreamingOps.mgTransition(List("hot", "hot"), MgState(Map.empty, Set.empty),
      k, threshold)
    assert(first === List(TrendAlert("hot", 2L)))
    // distinct tokens against a full table decrement every counter: "b" and
    // "d" each take one from "hot", so its counter and its stay end
    val (s2, none) = StreamingOps.mgTransition(List("a", "b", "c", "d"), s1, k, threshold)
    assert(none.isEmpty)
    assert(!s2.counters.contains("hot"))
    assert(s2.alerted.isEmpty, s"an evicted token stays alerted: ${s2.alerted}")
    val (_, again) = StreamingOps.mgTransition(List("hot", "hot"), s2, k, threshold)
    assert(again === List(TrendAlert("hot", 2L)), "a new stay that crosses alerts again")
    // alerted ⊆ counters after every token, so a shard holds at most 2k entries
    val rnd = new scala.util.Random(7)
    var s = MgState(Map.empty, Set.empty)
    (1 to 2000).foreach { _ =>
      s = StreamingOps.mgTransition(List(s"t${rnd.nextInt(12)}"), s, k = 4, threshold = 3L)._1
      assert(s.alerted.subsetOf(s.counters.keySet) && s.counters.size <= 4, s"$s")
    }
  }

  test("streaming trending tokens alerts once when a token bursts past the " +
       "threshold, with bounded per-shard state") {
    val in = MemoryStream[Doc]
    val out = StreamingOps.trendingTokens(in.toDF(), shards = 4, threshold = 6L,
      watermarkDelay = "10 seconds", retention = java.time.Duration.ofHours(1), k = 8)
    val q = out.writeStream.format("memory").queryName("trend_out")
      .outputMode("append").start()
    try {
      in.addData(Doc(new Timestamp(base + 1000), "calm words only here"),
        Doc(new Timestamp(base + 2000), "viral viral viral viral"))
      q.processAllAvailable()
      assert(spark.table("trend_out").isEmpty, "threshold not yet crossed")
      in.addData(Doc(new Timestamp(base + 3000), "viral viral viral spreads fast"))
      q.processAllAvailable()
      val rows = spark.table("trend_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // the alert fires AT the first crossing (4 + 2 = 6), not batch end
      assert(rows.toList === List(("viral", 6L)))
      // a further mention does not re-alert
      in.addData(Doc(new Timestamp(base + 4000), "viral again"))
      q.processAllAvailable()
      assert(spark.table("trend_out").count() === 1L)
    } finally q.stop()
  }

  test("trending tokens: an out-of-order micro-batch does not pull a shard's " +
       "clear forward") {
    // one shard, watermark delay 10 s, retention 30 s: the shard's newest
    // event is at +100 s, so it clears once the watermark passes +130 s.
    // A batch of older events (+95 s, above the +90 s watermark) must not
    // move that to +125 s: at watermark +127 s the shard and its alert
    // stand, and the same burst does not alert a second time.
    val in = MemoryStream[Doc]
    val out = StreamingOps.trendingTokens(in.toDF(), shards = 1, threshold = 3L,
      watermarkDelay = "10 seconds", retention = java.time.Duration.ofSeconds(30), k = 8)
    val q = out.writeStream.format("memory").queryName("trend_ooo_out")
      .outputMode("append").start()
    def doc(sec: Long, text: String) = Doc(new Timestamp(base + sec * 1000), text)
    def watermark = java.time.Instant.parse(q.lastProgress.eventTime.get("watermark")).toEpochMilli
    try {
      in.addData(doc(100, "hot hot hot"))
      q.processAllAvailable()
      in.addData(doc(95, "cold"))
      q.processAllAvailable()
      // a doc without tokens moves the watermark to +127 s and reaches no shard
      in.addData(doc(137, ""))
      val deadline = System.currentTimeMillis() + 60000L
      q.processAllAvailable()
      while (watermark != base + 127000 && System.currentTimeMillis() < deadline) {
        Thread.sleep(50L); q.processAllAvailable()
      }
      assert(watermark === base + 127000)
      in.addData(doc(128, "hot hot hot"))
      q.processAllAvailable()
      val rows = spark.table("trend_ooo_out").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toList === List(("hot", 3L)), "the shard cleared early and re-alerted")
    } finally q.stop()
  }

  test("ljot topology wiring: wire-format decode -> join -> encode end-to-end") {
    // the Kafka topology (`KafkaTopics.ljotTopology`) minus the broker
    // leaf, which this zero-egress container cannot host: wire-schema
    // records stream through decode, the left-outer join, and the encode
    // projection — every plan node of the Kafka path except format("kafka").
    import java.time.Duration
    import graft.ljot.{LeftJoinOnTimeout, LeftJoinOnTimeoutConfig}
    val cfg = LeftJoinOnTimeoutConfig(Duration.ofSeconds(100), Duration.ofSeconds(300))
    val l = MemoryStream[Wire]; val r = MemoryStream[Wire]
    val out = KafkaTopics.encodeJoinedStream(
      LeftJoinOnTimeout(
        KafkaTopics.decodeKeyedStream(l.toDF()),
        KafkaTopics.decodeKeyedStream(r.toDF()),
        LeftJoinOnTimeout.testJoiner, cfg))
    val q = out.writeStream.format("memory").queryName("topo_out")
      .outputMode("append").start()
    try {
      def wire(k: Long, v: String, ts: Long) =
        Wire(k.toString.getBytes, v.getBytes, new Timestamp(ts))
      l.addData(wire(1, "left", base + 1000), wire(2, "lonely", base + 2000))
      r.addData(wire(1, "right", base + 1500))
      q.processAllAvailable()
      val sentinelTs = base + 1000L * 1000
      l.addData(wire(98, "wm", sentinelTs)); r.addData(wire(99, "wm", sentinelTs))
      q.processAllAvailable(); q.processAllAvailable()
      val rows = spark.table("topo_out").collect()
        .map(x => (x.getString(0), x.getString(1))).filter(_._1.toLong < 90)
        .toSeq.sorted
      assert(rows === Seq(("1", "left+right"), ("2", "lonely+")))
    } finally q.stop()
  }

  test("windowed KMV distinct: streaming state equals the batch sketch bit-for-bit") {
    // 3 micro-batches build the first window's sketch INCREMENTALLY
    // through the state store; KMV is merge-order-free, so the result
    // must equal the one-shot batch aggregate over the same rows —
    // including the estimator branch (k=8 < 12 distinct keys)
    val k = 8
    val events =
      (1 to 12).map(i => rec(i.toLong, 1.0, base + 1000 + i)) ++ // window 1: 12 distinct
      (1 to 6).map(i => rec((i % 3).toLong, 1.0, base + 12000 + i)) // window 2: 3 distinct
    val in = MemoryStream[VRec]
    val out = StreamingOps.windowedKmvDistinct(in.toDF(), "10 seconds", "5 seconds", k)
    val q = out.writeStream.format("memory").queryName("kmv_win_out")
      .outputMode("append").start()
    try {
      val (b1, rest) = events.splitAt(5)
      val (b2, b3) = rest.splitAt(5)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
      in.addData(sentinel); q.processAllAvailable()
      val got = spark.table("kmv_win_out").collect()
        .filter(_.getTimestamp(0).getTime < base + 3000 * 1000L)
        .map(r => (r.getTimestamp(0).getTime, r.getLong(2),
          Option(r.getString(3)), r.getDouble(4))).toSeq.sorted
      val expect = StreamingOps.windowedKmvDistinct(
          events.toDF(), "10 seconds", "0 seconds", k)
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(2),
          Option(r.getString(3)), r.getDouble(4))).toSeq.sorted
      assert(got === expect)
      // branch sanity: window 1 saturated the sketch (m = k, estimator
      // live), window 2 stayed exact
      val byWin = got.map { case (w, m, hk, est) => w -> ((m, hk, est)) }.toMap
      assert(byWin(base + 0L)._1 === k.toLong)
      assert(byWin(base + 0L)._2.isDefined)
      assert(byWin(base + 10000L) === ((3L, None, 3.0)))
    } finally q.stop()
  }

  test("windowed MG hitters: the state-store-merged sketch retains every " +
       "token above the n/(k+1) bound, with sound lower-bound estimates") {
    val k = 4
    // window 1 (3 micro-batches): 'hot' 18x, 'warm' 9x, 24 singletons ->
    // n = 51, n/(k+1) = 10.2: 'hot' MUST survive any merge schedule,
    // singletons must not crowd it out; window 2: tiny exact stream
    val w1docs =
      (1 to 6).map(i => Doc(new Timestamp(base + 1000 + i), "hot hot hot warm " +
        s"u${4 * i} u${4 * i + 1} u${4 * i + 2} u${4 * i + 3}")) ++
      Seq(Doc(new Timestamp(base + 8000), "warm warm warm"))
    val w2docs = Seq(Doc(new Timestamp(base + 12000), "calm calm sea"))
    val in = MemoryStream[Doc]
    val out = StreamingOps.windowedMgHitters(in.toDF(), "10 seconds", "5 seconds", k)
    val q = out.writeStream.format("memory").queryName("mg_win_out")
      .outputMode("append").start()
    try {
      val (b1, rest) = w1docs.splitAt(3)
      in.addData(b1); q.processAllAvailable()
      in.addData(rest); q.processAllAvailable()
      in.addData(w2docs); q.processAllAvailable()
      in.addData(sentinelDoc); q.processAllAvailable()
      val got = spark.table("mg_win_out").collect()
        .filter(_.getTimestamp(0).getTime < base + 3000 * 1000L)
        .map(r => (r.getTimestamp(0).getTime,
          (r.getString(1), r.getLong(2), r.getLong(3))))
      val byWin = got.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val w1 = byWin(base + 0L)
      assert(w1.length <= k, "at most k retained counters per window")
      assert(w1.forall(_._3 === 51L), "exact stream length rides the sketch")
      val hot = w1.find(_._1 == "hot")
      assert(hot.isDefined, "true count 18 > 51/5: survives ANY merge order")
      // sound lower bound: est <= true <= est + n/(k+1)
      assert(hot.get._2 <= 18L && hot.get._2 >= 18L - (51L / (k + 1)))
      // window 2 never saturated the sketch: exact counts, all retained
      val w2 = byWin(base + 10000L).map(e => (e._1, e._2)).toSet
      assert(w2 === Set(("calm", 2L), ("sea", 1L)))
      // streaming guarantee == the batch sketch's guarantee on the same
      // rows (merge schedules differ; the CONTRACT must not)
      val batch = StreamingOps.windowedMgHitters(
          (w1docs ++ w2docs).toDF(), "10 seconds", "0 seconds", k).collect()
        .filter(_.getTimestamp(0).getTime == base)
        .map(r => r.getString(1)).toSet
      assert(batch.contains("hot"))
    } finally q.stop()
  }

  test("windowed Count-Min grid: streaming state equals the batch grid bit-for-bit " +
       "(linearity), estimates never undercount") {
    val (depth, width) = (4, 32)
    val w1docs =
      (1 to 6).map(i => Doc(new Timestamp(base + 1000 + i), "hot hot warm " +
        s"u${3 * i} u${3 * i + 1} u${3 * i + 2}")) ++
      Seq(Doc(new Timestamp(base + 8000), "warm warm"))
    val w2docs = Seq(Doc(new Timestamp(base + 12000), "calm calm sea"))
    val in = MemoryStream[Doc]
    val out = StreamingOps.windowedCmGrid(in.toDF(), "10 seconds", "5 seconds", depth, width)
    val q = out.writeStream.format("memory").queryName("cm_win_out")
      .outputMode("append").start()
    try {
      val (b1, rest) = w1docs.splitAt(3)
      in.addData(b1); q.processAllAvailable()
      in.addData(rest); q.processAllAvailable()
      in.addData(w2docs); q.processAllAvailable()
      in.addData(sentinelDoc); q.processAllAvailable()
      val got = spark.table("cm_win_out").collect()
        .filter(_.getTimestamp(0).getTime < base + 3000 * 1000L)
        .map(r => (r.getTimestamp(0).getTime, r.getLong(2), r.getSeq[Long](3)))
        .sortBy(_._1)
      // bit-identity with the one-shot batch aggregate over the same rows:
      // the micro-batch schedule merged grids incrementally through the
      // state store, but Count-Min is linear, so the grids must be EQUAL
      val batch = StreamingOps.windowedCmGrid(
          (w1docs ++ w2docs).toDF(), "10 seconds", "0 seconds", depth, width)
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(2), r.getSeq[Long](3)))
        .sortBy(_._1)
      assert(got === batch, "streaming CM grid must be bit-identical to batch")
      // point-estimate soundness inside window 1: hot 12x, warm 8x
      val w1 = got.find(_._1 == base).get
      assert(w1._2 === 38L, "exact in-window token count (12 hot + 8 warm + 18 singletons)")
      def est(grid: Seq[Long], tok: String): Long = {
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (0 until depth)
          .map(i => grid(i * width + graft.plans.CMSketch.bucket(digest, i, width))).min
      }
      assert(est(w1._3, "hot") >= 12L)
      assert(est(w1._3, "warm") >= 8L)
      val w2 = got.find(_._1 == base + 10000L).get
      assert(w2._2 === 3L)
      assert(est(w2._3, "calm") >= 2L && est(w2._3, "sea") >= 1L)
    } finally q.stop()
  }

  test("kafka decode/encode projections round-trip the canonical schema") {
    val wire = Seq((Array[Byte]('4', '2'), "hello".getBytes, new Timestamp(base)))
      .toDF("key", "value", "timestamp")
    val decoded = KafkaTopics.decodeKeyedStream(wire)
    val row = decoded.head()
    assert(row.getLong(0) === 42L)
    assert(row.getString(1) === "hello")
    assert(row.getTimestamp(2).getTime === base)

    val joined = Seq((42L, "hello+world", new Timestamp(base)))
      .toDF("key", "joined", "ts")
    val encoded = KafkaTopics.encodeJoinedStream(joined).head()
    assert(encoded.getString(0) === "42")
    assert(encoded.getString(1) === "hello+world")
    assert(encoded.getTimestamp(2).getTime === base)
  }
}
