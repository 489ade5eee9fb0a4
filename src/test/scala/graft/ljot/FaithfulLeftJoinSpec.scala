package graft.ljot

import java.sql.Timestamp
import java.time.Duration

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness

/** Unit tests for the faithful variant's per-key transition function,
 * covering the reference quirks the idiomatic join cleans up
 * (SURVEY.md §2.3), plus one wall-clock end-to-end run. */
class FaithfulLeftJoinSpec extends AnyFunSuite with SparkTestHarness {

  private val bandMs = 100L
  private val retentionMs = 300L
  private val timeoutMs = 200L

  private def state(s: Option[Array[Byte]], nowMs: Long,
                    timedOut: Boolean = false): TestGroupState[Array[Byte]] =
    TestGroupState.create[Array[Byte]](
      org.apache.spark.api.java.Optional.fromNullable(s.orNull),
      GroupStateTimeout.ProcessingTimeTimeout,
      nowMs, org.apache.spark.api.java.Optional.empty[Long](), timedOut)

  /** The stored per-key state, read back through the binary codec. */
  private def decoded(s: TestGroupState[Array[Byte]]): KeyState =
    KeyStateCodec.decode(s.get)

  private def run(s: TestGroupState[Array[Byte]], recs: TaggedRec*): Seq[PairOut] =
    FaithfulLeftJoin.processKey(1L, recs.iterator, s,
      bandMs, retentionMs, timeoutMs).toSeq

  private def l(v: String, ts: Long) = TaggedRec(1L, v, new Timestamp(ts), true)
  private def r(v: String, ts: Long) = TaggedRec(1L, v, new Timestamp(ts), false)

  test("left with in-window right joins per pair; no pending scheduled") {
    val s = state(None, 1000L)
    val out = run(s, r("right", 10L), l("left_1", 1L), l("left_2", 20L))
    assert(out.map(p => (p.lvalue, p.rvalue)) ===
      Seq(("left_1", Some("right")), ("left_2", Some("right"))))
    assert(decoded(s).pending.isEmpty)
  }

  test("unmatched left schedules a pending timeout with arrival deadline") {
    val s = state(None, 1000L)
    val out = run(s, l("left", 1L))
    assert(out.isEmpty)
    assert(decoded(s).pending === List(Pending("left", 1L, 1000L + timeoutMs)))
    assert(s.getTimeoutTimestampMs.get() === 1000L + timeoutMs)
  }

  test("timer fire emits joiner(l, null) with the LEFT's event ts") {
    // ref `LeftJoinOnTimeoutBuilder.java:165-168`: timeout record keeps l.ts
    val s0 = state(None, 1000L)
    run(s0, l("left", 42L))
    val s1 = state(s0.getOption, 1000L + timeoutMs + 1, timedOut = true)
    val out = run(s1)
    assert(out === Seq(PairOut(1L, "left", None, new Timestamp(42L))))
    assert(!s1.exists || decoded(s1).pending.isEmpty)
  }

  test("key-level cancel quirk: a join output cancels ALL pending lefts, " +
       "even one whose own window excludes the joining right") {
    // SURVEY.md §2.3-3 (`ScheduledStateStore.java:87-115`)
    val s = state(None, 1000L)
    val out1 = run(s, l("far_left", 1L)) // pending; window [−99, 101]
    assert(out1.isEmpty && decoded(s).pending.nonEmpty)
    // right at ts 500 joins a NEW left at 450 — far_left's window excludes
    // ts 500, yet its pending emission is cancelled too
    val s2 = state(s.getOption, 1100L)
    val out2 = FaithfulLeftJoin.processKey(1L,
      Iterator(l("near_left", 450L), r("right", 500L)), s2,
      bandMs, retentionMs, timeoutMs).toSeq
    assert(out2.map(p => (p.lvalue, p.rvalue)) === Seq(("near_left", Some("right"))))
    assert(decoded(s2).pending.isEmpty, "far_left's pending timeout must be cancelled")
  }

  test("late right within band still pairs with an already-fired left " +
       "(at-least-once divergence preserved)") {
    // SURVEY.md §2.3-6: both `l+` and `l+r` can appear in the reference
    val s0 = state(None, 1000L)
    run(s0, l("left", 100L))
    val s1 = state(s0.getOption, 1000L + timeoutMs + 1, timedOut = true)
    val fired = run(s1) // timeout fired
    assert(fired.head.rvalue.isEmpty)
    val s2 = state(s1.getOption, 1500L)
    val out = run(s2, r("right", 150L)) // in-band right arrives after fire
    assert(out === Seq(PairOut(1L, "left", Some("right"), new Timestamp(100L))))
  }

  test("retention evicts join state by stream time") {
    val s = state(None, 1000L)
    run(s, l("old", 0L))
    val s2 = state(s.getOption, 2000L)
    run(s2, l("new", retentionMs + bandMs + 1000L))
    assert(decoded(s2).lefts.map(_._1) === List("new"))
  }

  test("maxScheduled caps pending per key: oldest fires early at capacity") {
    // analog of shouldNotOverflow (`ScheduledStateStoreTest.java:73-101`):
    // the reference BLOCKS ingestion at capacity until a timer frees a
    // slot; the micro-batch mapping fires the oldest pending early instead
    // — state bounded, every left still emits exactly once.
    val s = state(None, 1000L)
    val out = FaithfulLeftJoin.processKey(1L,
      (1 to 5).map(i => l(s"left_$i", i.toLong)).iterator, s,
      bandMs, retentionMs, timeoutMs, maxScheduled = 2).toSeq
    // 5 scheduled against capacity 2 → 3 early emissions, oldest first
    assert(out === Seq(
      PairOut(1L, "left_1", None, new Timestamp(1L)),
      PairOut(1L, "left_2", None, new Timestamp(2L)),
      PairOut(1L, "left_3", None, new Timestamp(3L))))
    assert(decoded(s).pending.map(_.value) === List("left_4", "left_5"))
  }

  test("restore re-arms pending with the restarted run's full delay") {
    // ref §2.3-7 / `LeftJoinOnTimeoutTest.java:131-153`: delay comes from
    // the (possibly different) config at restore, not from stored state.
    val s0 = state(None, 1000L)
    FaithfulLeftJoin.processKey(1L, Iterator(l("left", 42L)), s0,
      bandMs, retentionMs, timeoutMs, Int.MaxValue, runEpoch = 111L)
    assert(decoded(s0).pending.head.deadlineMs === 1000L + timeoutMs)
    // "restart" at t=5000 with a different epoch and a SHORTER timeout:
    // nothing fires (even though the stored deadline 1200 is long past);
    // the pending entry is re-armed to now + newTimeout
    val s1 = state(s0.getOption, 5000L, timedOut = true)
    val out = FaithfulLeftJoin.processKey(1L, Iterator.empty, s1,
      bandMs, retentionMs, 150L, Int.MaxValue, runEpoch = 222L).toSeq
    assert(out.isEmpty, "restored pending must wait the full new delay")
    assert(decoded(s1).pending.head.deadlineMs === 5000L + 150L)
    assert(s1.getTimeoutTimestampMs.get() === 5000L + 150L)
    // the re-armed timer then fires normally under the same epoch
    val s2 = state(s1.getOption, 5000L + 151L, timedOut = true)
    val fired = FaithfulLeftJoin.processKey(1L, Iterator.empty, s2,
      bandMs, retentionMs, 150L, Int.MaxValue, runEpoch = 222L).toSeq
    assert(fired === Seq(PairOut(1L, "left", None, new Timestamp(42L))))
  }

  test("null values (Kafka tombstones) time out and join through the " +
       "binary state") {
    val s0 = state(None, 1000L)
    assert(run(s0, l(null, 1L)).isEmpty)
    assert(decoded(s0).pending === List(Pending(null, 1L, 1000L + timeoutMs)))
    // the stored null-valued left times out with its own event ts
    val s1 = state(s0.getOption, 1000L + timeoutMs + 1, timedOut = true)
    assert(run(s1) === Seq(PairOut(1L, null, None, new Timestamp(1L))))
    // a null-valued right joins a null-valued left per pair, and also the
    // already-fired left it falls in band with (late-right quirk)
    val s2 = state(s1.getOption, 1250L)
    val out = run(s2, r(null, 60L), l(null, 80L))
    assert(out === Seq(
      PairOut(1L, null, Some(null), new Timestamp(1L)),
      PairOut(1L, null, Some(null), new Timestamp(80L))))
    assert(decoded(s2).lefts === List((null, 1L), (null, 80L)))
    assert(decoded(s2).rights === List((null, 60L)))
    assert(decoded(s2).pending.isEmpty)
  }

  /** Bounded wait until the stateful operator holds >= n state rows.
   * NEVER processAllAvailable() here: with ProcessingTimeTimeout timers
   * armed the engine keeps scheduling no-data micro-batches and
   * processAllAvailable can block against that churn (round-1 lesson;
   * the reference's Awaitility pattern, `LeftJoinOnTimeoutTest.java:221-235`). */
  private def awaitStateRows(q: org.apache.spark.sql.streaming.StreamingQuery,
                             n: Long, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
           !q.recentProgress.exists(_.stateOperators.exists(_.numRowsTotal >= n)))
      Thread.sleep(200L)
    assert(q.recentProgress.exists(_.stateOperators.exists(_.numRowsTotal >= n)),
      s"state never reached $n rows")
  }

  test("end-to-end: checkpoint stop/restart fires restored timeouts " +
       "(shouldLeftJoinOnTimeoutAfterRestoration)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("faithful_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("faithful_out").toString
    // long timeout first (does not fire while q1 runs; 30 s keeps the
    // restore-detection heartbeat at 7.5 s so the restarted run re-arms
    // promptly even under suite-wide CPU contention) — the reference's
    // long-window topology (`LeftJoinOnTimeoutTest.java:184-188`)
    val longCfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(100),
      Duration.ofMillis(300), timeout = Some(Duration.ofSeconds(30)))
    // restart into a SHORT timeout — delay must come from this config
    val shortCfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(100),
      Duration.ofMillis(300), timeout = Some(Duration.ofMillis(500)))
    val ls = MemoryStream[Rec]; val rs = MemoryStream[Rec]
    def start(cfg: LeftJoinOnTimeoutConfig) =
      FaithfulLeftJoin(ls.toDF(), rs.toDF(), LeftJoinOnTimeout.testJoiner, cfg)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start(longCfg)
    try {
      ls.addData(Rec(1L, "left", new Timestamp(1000L)),
                 Rec(3L, "left", new Timestamp(1000L)))
      awaitStateRows(q1, 2)
    } finally q1.stop()

    val q2 = start(shortCfg)
    try {
      // a restarted query with zero new input may never trigger a batch
      // (timer state is only discovered by an execution); nudge the rhs
      // with an unrelated key so micro-batches flow — the reference's
      // broker delivers heartbeat traffic the same way
      rs.addData(Rec(90L, "nudge", new Timestamp(2000L)))
      def rows(): Seq[(Long, String)] =
        spark.read.parquet(outDir).collect()
          .map(r => (r.getLong(0), r.getString(1)))
          .filter(_._1 < 90L).toSeq.sorted
      val deadline = System.currentTimeMillis() + 120000L
      var got = rows()
      while (got.size < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250L); got = rows()
      }
      assert(got === Seq((1L, "left+"), (3L, "left+")),
        "both restored lefts must fire with the restarted config's delay")
    } finally q2.stop()
  }

  test("end-to-end: restart with different shuffle partitions keeps state " +
       "(rebalance analog)") {
    // ref `LeftJoinOnTimeoutTest.java:155-177` rebalances partitions across
    // instances; Spark pins the state operator's partitioning in the
    // checkpoint, so a conflicting session conf must NOT corrupt or lose
    // state — outputs still appear for every scheduled left.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("faithful_reb_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("faithful_reb_out").toString
    val cfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(100),
      Duration.ofMillis(300), timeout = Some(Duration.ofMillis(500)))
    val ls = MemoryStream[Rec]; val rs = MemoryStream[Rec]
    def start() =
      FaithfulLeftJoin(ls.toDF(), rs.toDF(), LeftJoinOnTimeout.testJoiner, cfg)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try {
      // keys 1 and 3 land in different hash partitions (ref uses 2
      // partitions with keys 1 and 3, `LeftJoinOnTimeoutTest.java:157-160`)
      ls.addData(Rec(1L, "left", new Timestamp(1000L)),
                 Rec(3L, "left", new Timestamp(1000L)))
      awaitStateRows(q1, 2)
    } finally q1.stop()

    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val q2 = start()
    try {
      rs.addData(Rec(90L, "nudge", new Timestamp(2000L)))
      def rows(): Seq[(Long, String)] =
        spark.read.parquet(outDir).collect()
          .map(r => (r.getLong(0), r.getString(1)))
          .filter(_._1 < 90L).toSeq.sorted
      val deadline = System.currentTimeMillis() + 120000L
      var got = rows()
      while (got.size < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250L); got = rows()
      }
      assert(got === Seq((1L, "left+"), (3L, "left+")))
    } finally {
      q2.stop()
      spark.conf.set("spark.sql.shuffle.partitions", before)
    }
  }

  test("end-to-end: flatMapGroupsWithState fires wall-clock timeouts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(100),
      Duration.ofMillis(300), timeout = Some(Duration.ofMillis(400)))
    val ls = MemoryStream[Rec]; val rs = MemoryStream[Rec]
    val out = FaithfulLeftJoin(ls.toDF(), rs.toDF(),
      LeftJoinOnTimeout.testJoiner, cfg)
    val q = out.writeStream.format("memory").queryName("faithful_out")
      .outputMode("append").start()
    try {
      ls.addData(Rec(1L, "left_1", new Timestamp(1000L)))
      rs.addData(Rec(1L, "right", new Timestamp(1010L)))
      ls.addData(Rec(7L, "lonely", new Timestamp(5000L)))
      // NO processAllAvailable: with processing-time timers armed the
      // engine keeps scheduling micro-batches on its own (state-operator
      // shouldRunAnotherBatch), and processAllAvailable can block against
      // that churn. Poll the sink with a deadline instead — the Awaitility
      // pattern of the reference (`LeftJoinOnTimeoutTest.java:221-235`).
      def rows(): Seq[(Long, String)] = spark.table("faithful_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val deadline = System.currentTimeMillis() + 60000L
      var got = rows()
      while (!(got.contains((1L, "left_1+right")) && got.contains((7L, "lonely+")))
             && System.currentTimeMillis() < deadline) {
        Thread.sleep(250L)
        got = rows()
      }
      assert(got.contains((1L, "left_1+right")), s"missing join row: $got")
      assert(got.contains((7L, "lonely+")), s"missing timeout row: $got")
    } finally q.stop()
  }

  test("end-to-end: two CONCURRENT query instances stay isolated — the " +
       "multi-instance contention analog") {
    // ref `shouldLeftJoinOnTimeoutAfterRebalance` runs two app instances
    // against one topology; the state-migration half is covered by the
    // repartitioned-restart test above. This covers the CONTENTION half a
    // single local session can express: two simultaneously-running
    // instances of the operator (own sources, own checkpoints, one shared
    // SparkSession and state-store infrastructure) ingest interleaved
    // data, and each emits exactly its own joins and timeouts — no state
    // cross-talk, no timer interference between the two queries' stores.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cfg = LeftJoinOnTimeoutConfig(Duration.ofMillis(100),
      Duration.ofMillis(300), timeout = Some(Duration.ofMillis(400)))
    def launch(tag: String) = {
      val ls = MemoryStream[Rec]; val rs = MemoryStream[Rec]
      val q = FaithfulLeftJoin(ls.toDF(), rs.toDF(),
        LeftJoinOnTimeout.testJoiner, cfg)
        .writeStream.format("memory").queryName(s"faithful_conc_$tag")
        .outputMode("append").start()
      (ls, rs, q)
    }
    val (ls1, rs1, q1) = launch("a")
    val (ls2, rs2, q2) = launch("b")
    try {
      // same KEY on both instances, different values: any cross-talk
      // between the two queries' per-key states would join across them
      ls1.addData(Rec(1L, "a_left", new Timestamp(1000L)))
      ls2.addData(Rec(1L, "b_left", new Timestamp(1000L)))
      rs1.addData(Rec(1L, "a_right", new Timestamp(1010L)))
      ls2.addData(Rec(9L, "b_lonely", new Timestamp(5000L)))
      def rows(t: String): Set[(Long, String)] =
        spark.table(s"faithful_conc_$t").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      val deadline = System.currentTimeMillis() + 60000L
      def done(): Boolean =
        rows("a").contains((1L, "a_left+a_right")) &&
          rows("b").contains((1L, "b_left+")) &&
          rows("b").contains((9L, "b_lonely+"))
      while (!done() && System.currentTimeMillis() < deadline) Thread.sleep(250L)
      val (a, b) = (rows("a"), rows("b"))
      // A's wall-clock timeout may legitimately race its right's
      // micro-batch (late-right-after-timeout still joins — the quirk
      // pinned above), so A is {join} or {timeout, join}; what it must
      // NEVER contain is anything built from B's values.
      assert(a.contains((1L, "a_left+a_right")), s"instance A join missing: $a")
      assert(a.subsetOf(Set((1L, "a_left+a_right"), (1L, "a_left+"))),
        s"instance A emitted foreign rows: $a")
      // instance B never saw a right for key 1 -> ITS left times out;
      // a_right joining b_left would be cross-query state corruption
      assert(b === Set((1L, "b_left+"), (9L, "b_lonely+")),
        s"instance B must time out its own lefts, nothing else: $b")
    } finally { q1.stop(); q2.stop() }
  }
}
