package graft.ljot

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness

case class Rec(key: Long, value: String, ts: Timestamp)

/** A record whose key may be absent — a Kafka record written without a key. */
case class NRec(key: Option[Long], value: String, ts: Timestamp)

/** Streaming semantics via MemoryStream — replaces the reference's
 * embedded-Kafka integration layer (`LeftJoinOnTimeoutTest.java:38-95`,
 * SURVEY.md §5 layer-1 mapping). The watermark sentinel records play the
 * role of the reference's 100 ms timeout gap: they advance event time past
 * `l.ts + D` so the event-time operator emits the null-padded rows
 * (SURVEY.md §7.4-5). */
class LjotStreamingSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // D = 100 s band, R = 300 s retention — ref long-window config
  // (`LeftJoinOnTimeoutTest.java:184-188`)
  private val cfg = LeftJoinOnTimeoutConfig(
    Duration.ofSeconds(100), Duration.ofSeconds(300))
  private val D = cfg.joinWindow.toMillis
  private val R = cfg.retention.toMillis
  private val base = 1000000000L // epoch ms base for event times

  private def rec(k: Long, v: String, ts: Long) = Rec(k, v, new Timestamp(ts))

  /** Sentinel far enough ahead to push the min-watermark past every
   * interesting left's expiry: wm = maxEventTs − R must exceed ts + D. */
  private def sentinelTs: Long = base + 2 * (D + R)

  private def startQuery(out: DataFrame, name: String, checkpoint: Option[String] = None,
                         trigger: Option[Trigger] = None): StreamingQuery = {
    val w = out.writeStream.format("memory").queryName(name).outputMode("append")
    val c = checkpoint.fold(w)(c => w.option("checkpointLocation", c))
    trigger.fold(c)(c.trigger).start()
  }

  /** Sorted output rows, excluding the watermark sentinels (keys >= 90). */
  private def collected(name: String): Seq[(Long, String, Long)] =
    spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
      .filter(_._1 < 90L)
      .toSeq.sorted

  /** [[collected]] for outputs that may hold null keys or null joined values. */
  private def nullableRows(df: DataFrame): Seq[(Option[Long], Option[String], Long)] =
    df.collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.getString(1)),
                 r.getTimestamp(2).getTime))
      .filter(_._1.forall(_ < 90L))
      .toSeq.sorted

  private def nrec(k: Option[Long], v: String, ts: Long) = NRec(k, v, new Timestamp(ts))

  /** The event-time watermark the query's last micro-batch ran with. */
  private def watermarkMs(q: StreamingQuery): Long =
    java.time.Instant.parse(q.lastProgress.eventTime.get("watermark")).toEpochMilli

  private def awaitWatermark(q: StreamingQuery, wm: Long): Unit =
    assert(settleWatermark(q, wm).contains(wm), "watermark never reached the expected value")

  test("streaming inner interval join matches batch semantics") {
    val l = MemoryStream[Rec]; val r = MemoryStream[Rec]
    val out = LeftJoinOnTimeout.innerJoin(l.toDF(), r.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg)
    val q = startQuery(out, "inner_out")
    try {
      l.addData(rec(1, "left_1", base + 1), rec(1, "left_2", base + 20))
      r.addData(rec(1, "right", base + 1))
      q.processAllAvailable()
      assert(collected("inner_out") ===
        Seq((1L, "left_1+right", base + 1), (1L, "left_2+right", base + 20)))
    } finally q.stop()
  }

  test("left-outer: in-window pairs join, expired lefts emit timeout rows") {
    val l = MemoryStream[Rec]; val r = MemoryStream[Rec]
    val out = LeftJoinOnTimeout(l.toDF(), r.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg)
    val q = startQuery(out, "outer_out")
    try {
      l.addData(rec(1, "left_1", base + 1), rec(2, "lonely", base + 5))
      r.addData(rec(1, "right", base + 1))
      q.processAllAvailable()
      // watermark still at min(maxEvent) − R → no null rows yet; the joined
      // pair may already be visible (inner part emits eagerly)
      l.addData(rec(98, "wm", sentinelTs))
      r.addData(rec(99, "wm", sentinelTs))
      q.processAllAvailable()
      q.processAllAvailable()
      assert(collected("outer_out") ===
        Seq((1L, "left_1+right", base + 1), (2L, "lonely+", base + 5)))
    } finally q.stop()
  }

  test("full-outer: both sides' orphans emit once the watermark clears them") {
    val l = MemoryStream[Rec]; val r = MemoryStream[Rec]
    val out = LeftJoinOnTimeout.fullOuterJoin(l.toDF(), r.toDF(), cfg)
    val q = startQuery(out, "full_out")
    try {
      l.addData(rec(1, "l1", base + 1), rec(2, "l_orphan", base + 5))
      r.addData(rec(1, "r1", base + 1), rec(3, "r_orphan", base + 9))
      q.processAllAvailable()
      l.addData(rec(98, "wm", sentinelTs))
      r.addData(rec(99, "wm", sentinelTs))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("full_out").collect()
        .map(x => (x.getLong(0), Option(x.getString(1)), Option(x.getString(2))))
        .filter(_._1 < 90L).toSeq.sorted
      assert(rows === Seq(
        (1L, Some("l1"), Some("r1")),
        (2L, Some("l_orphan"), None),
        (3L, None, Some("r_orphan"))).sorted)
    } finally q.stop()
  }

  test("property: streaming left-outer == batch restatement on randomized " +
       "inputs, 5 seeds (SURVEY.md §5)") {
    // the streaming analog of LjotBatchSpec's randomized property: same
    // inputs through MemoryStream in multiple micro-batches, watermark
    // sentinels standing in for the reference's timeout gap. Event times
    // stay within one retention span of each other so the moving watermark
    // neither drops late rows nor evicts join state early — the regime in
    // which streaming and batch semantics must agree exactly. Beside the
    // random rows each seed carries:
    //  - in-band pairs that land in ONE micro-batch, right before left in
    //    event time and left before right (the first chunk is queued
    //    before the query starts, so its first micro-batch holds it whole);
    //  - a hot key whose many lefts all lie within D of each other;
    //  - null values on both sides, and a null key on both sides.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      type Row = (Option[Long], String, Long)
      def value(prefix: String): String =
        if (rnd.nextInt(8) == 0) null else prefix + (100 + rnd.nextInt(900))
      def randRows(n: Int, prefix: String): List[Row] =
        List.fill(n)((Some(1L + rnd.nextInt(4)), value(prefix), base + rnd.nextLong(R - D)))
      def hot(n: Int, prefix: String): List[Row] =
        List.fill(n)((Some(7L), value(prefix), base + D + rnd.nextLong(D)))
      val t = base + rnd.nextLong(R - 2 * D)
      val sameL: List[Row] = List((Some(5L), "s5l", t + D / 2), (Some(6L), "s6l", t))
      val sameR: List[Row] = List((Some(5L), "s5r", t), (Some(6L), "s6r", t + D / 2))
      val ls = sameL ++ rnd.shuffle(randRows(30, "l") ++ hot(25, "h") :+ ((None, "nl", t)))
      val rs = sameR ++ rnd.shuffle(randRows(30, "r") ++ hot(3, "hr") :+ ((None, "nr", t)))
      def recs(rows: List[Row]) = rows.map { case (k, v, ts) => nrec(k, v, ts) }

      val lStream = MemoryStream[NRec]; val rStream = MemoryStream[NRec]
      val out = LeftJoinOnTimeout(lStream.toDF(), rStream.toDF(),
        LeftJoinOnTimeout.testJoiner, cfg)
      val lChunks = ls.grouped(10).toList; val rChunks = rs.grouped(10).toList
      lStream.addData(recs(lChunks.head)); rStream.addData(recs(rChunks.head))
      val name = s"prop_out_$seed"
      val q = startQuery(out, name)
      try {
        q.processAllAvailable()
        lChunks.tail.zipAll(rChunks.tail, Nil, Nil).foreach { case (lc, rc) =>
          if (lc.nonEmpty) lStream.addData(recs(lc))
          if (rc.nonEmpty) rStream.addData(recs(rc))
          q.processAllAvailable()
        }
        lStream.addData(nrec(Some(98), "wm", sentinelTs))
        rStream.addData(nrec(Some(99), "wm", sentinelTs))
        awaitWatermark(q, sentinelTs - R)

        val batch = LeftJoinOnTimeout(recs(ls).toDF(), recs(rs).toDF(),
          LeftJoinOnTimeout.testJoiner, cfg)
        assert(nullableRows(spark.table(name)) === nullableRows(batch),
          s"seed $seed diverged")
      } finally q.stop()
    }
  }

  test("null keys: a null-key left times out once, a null-key right joins nothing") {
    // batch `LeftJoinOnTimeout.apply` semantics (a SQL equi-join never
    // matches a null key); a Kafka record written without a key decodes
    // to a null key and must not stop the query
    val ls = Seq(nrec(None, "nl", base + 1), nrec(Some(1L), "l", base + 1))
    val rs = Seq(nrec(None, "nr", base + 2), nrec(Some(1L), "r", base + 2))
    val l = MemoryStream[NRec]; val r = MemoryStream[NRec]
    val q = startQuery(LeftJoinOnTimeout(l.toDF(), r.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg), "null_key_out")
    try {
      l.addData(ls); r.addData(rs)
      q.processAllAvailable()
      l.addData(nrec(Some(98), "wm", sentinelTs)); r.addData(nrec(Some(99), "wm", sentinelTs))
      awaitWatermark(q, sentinelTs - R)
      val want = Seq((None, Some("nl+"), base + 1), (Some(1L), Some("l+r"), base + 1))
      assert(nullableRows(spark.table("null_key_out")) === want)
      assert(nullableRows(LeftJoinOnTimeout(ls.toDF(), rs.toDF(),
        LeftJoinOnTimeout.testJoiner, cfg)) === want)
    } finally q.stop()
  }

  test("timeout row: none while the watermark is at or below l.ts + D, " +
       "exactly one once it passes") {
    val l = MemoryStream[Rec]; val r = MemoryStream[Rec]
    val q = startQuery(LeftJoinOnTimeout(l.toDF(), r.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg), "boundary_out")
    val lts = base + 1
    // both sides' max event time sets the watermark: wm = maxTs - R
    def push(ts: Long): Unit = {
      l.addData(rec(98, "wm", ts)); r.addData(rec(99, "wm", ts))
      awaitWatermark(q, ts - R)
    }
    try {
      l.addData(rec(1, "left", lts))
      q.processAllAvailable()
      push(lts + D - 1 + R)
      assert(collected("boundary_out").isEmpty)
      push(lts + D + R)
      assert(collected("boundary_out").isEmpty, "watermark == l.ts + D must not fire")
      push(lts + D + 1 + R)
      assert(collected("boundary_out") === Seq((1L, "left+", lts)))
      push(sentinelTs)
      assert(collected("boundary_out") === Seq((1L, "left+", lts)), "fired twice")
    } finally q.stop()
  }

  test("idle right side: the min watermark holds back every timeout; the " +
       "faithful variant's processing-time timers are the remedy") {
    // ROADMAP Direction 4: once a side has seen data, the global watermark
    // is the minimum over both sides, so a right stream that goes quiet
    // freezes event time — no left times out, however far the lefts run
    // ahead. The faithful variant times out on the wall clock instead
    // (SURVEY.md §2.3-4) and emits without any right-side traffic.
    val l = MemoryStream[Rec]; val r = MemoryStream[Rec]
    val q = startQuery(LeftJoinOnTimeout(l.toDF(), r.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg), "idle_out")
    try {
      r.addData(rec(99, "last_right", base))
      l.addData(rec(1, "left", base + 1))
      q.processAllAvailable()
      l.addData(rec(98, "wm", sentinelTs))
      awaitWatermark(q, base - R)
      q.processAllAvailable()
      assert(watermarkMs(q) === base - R, "the idle right side holds the watermark")
      assert(collected("idle_out").isEmpty)
      // the right side resumes: event time moves and the timeout emits
      r.addData(rec(99, "wm", sentinelTs))
      awaitWatermark(q, sentinelTs - R)
      assert(collected("idle_out") === Seq((1L, "left+", base + 1)))
    } finally q.stop()

    val fCfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(100), Duration.ofMillis(300),
      timeout = Some(Duration.ofMillis(500)))
    val fl = MemoryStream[Rec]; val fr = MemoryStream[Rec]
    // an explicit checkpoint: the memory sink's temporary one is deleted on
    // stop while the still-running timer batches commit their state
    // a 200 ms trigger leaves the idle gap between the timer batches that
    // stopBetweenTriggers stops in (see FaithfulLeftJoinSpec)
    val fq = startQuery(FaithfulLeftJoin(fl.toDF(), fr.toDF(),
      LeftJoinOnTimeout.testJoiner, fCfg), "idle_faithful_out",
      Some(Files.createTempDirectory("ljot_idle_ckpt").toString),
      Some(Trigger.ProcessingTime(200L)))
    try {
      fr.addData(rec(99, "last_right", base))
      fl.addData(rec(1, "left", base + 1))
      // no processAllAvailable: armed processing-time timers keep the
      // engine scheduling micro-batches (see FaithfulLeftJoinSpec)
      val deadline = System.currentTimeMillis() + 60000L
      while (collected("idle_faithful_out").isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100L)
      assert(collected("idle_faithful_out") === Seq((1L, "left+", base + 1)))
    } finally stopBetweenTriggers(fq)
  }

  test("a late row is dropped and counted in numRowsDroppedByWatermark of the " +
       "query's single state operator") {
    // the sentinels are queued before the query starts: a trigger that
    // finds no data before the first executed batch posts an idle progress
    // with no state operator, which the per-progress assert below would see
    val l = MemoryStream[Rec]; val r = MemoryStream[Rec]
    l.addData(rec(98, "wm", sentinelTs)); r.addData(rec(99, "wm", sentinelTs))
    val q = startQuery(LeftJoinOnTimeout(l.toDF(), r.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg), "late_out")
    try {
      awaitWatermark(q, sentinelTs - R)
      l.addData(rec(1, "late", base + 1)) // far below the watermark
      q.processAllAvailable()
      val dropped = q.recentProgress.map { p =>
        assert(p.stateOperators.length === 1)
        p.stateOperators.head.numRowsDroppedByWatermark
      }.sum
      assert(dropped === 1L)
      assert(collected("late_out").isEmpty)
    } finally q.stop()
  }

  test("plan guard: one state operator and no StreamingSymmetricHashJoinExec") {
    val l = MemoryStream[Rec]; val r = MemoryStream[Rec]
    val q = startQuery(LeftJoinOnTimeout(l.toDF(), r.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg), "plan_out")
    try {
      l.addData(rec(1, "left", base + 1)); r.addData(rec(1, "right", base + 1))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.length === 1)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(plan.collect { case j: StreamingSymmetricHashJoinExec => j }.isEmpty)
      assert(plan.collect { case f: FlatMapGroupsWithStateExec => f }.size === 1)
    } finally q.stop()
  }

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `f` with the given state-store provider (None = session default),
   * restoring the previous setting afterwards — the conf is read at query
   * START, so per-test scoping is sound. */
  private def withStateProvider[T](cls: Option[String])(f: => T): T = cls match {
    case None => f
    case Some(c) =>
      val old = spark.conf.getOption(ProviderKey)
      spark.conf.set(ProviderKey, c)
      try f finally old match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
  }

  test("restore: checkpoint restart completes pending timeouts") {
    restoreScenario()
  }

  test("restore under the RocksDB state store: the per-key join state " +
       "recovers from the disk-backed provider") {
    // the configuration a production cluster actually runs the headline
    // operator with (keyed join state outgrows the executor heap at
    // 100 TB scale) — same schedule/kill/restart/fire contract as above
    withStateProvider(Some(RocksDbProvider)) { restoreScenario() }
  }

  private def restoreScenario(): Unit = {
    // mirrors shouldLeftJoinOnTimeoutAfterRestoration
    // (`LeftJoinOnTimeoutTest.java:131-153`): schedule, kill, restart, fire
    // memory sink can't recover from a checkpoint — use a file sink
    val ckpt = Files.createTempDirectory("ljot_ckpt").toString
    val outDir = Files.createTempDirectory("ljot_restore_out").toString
    val l = MemoryStream[Rec]; val r = MemoryStream[Rec]
    def plan = LeftJoinOnTimeout(l.toDF(), r.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg)
    def start(): StreamingQuery = plan.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    try {
      l.addData(rec(1, "left", base + 1), rec(2, "left", base + 1))
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      l.addData(rec(98, "wm", sentinelTs))
      r.addData(rec(99, "wm", sentinelTs))
      q2.processAllAvailable()
      q2.processAllAvailable()
      val rows = spark.read.parquet(outDir).collect()
        .map(x => (x.getLong(0), x.getString(1), x.getTimestamp(2).getTime))
        .filter(_._1 < 90L).toSeq.sorted
      assert(rows === Seq((1L, "left+", base + 1), (2L, "left+", base + 1)))
    } finally q2.stop()
  }
}
