package graft.ljot

import java.sql.Timestamp
import java.time.{Duration, Instant}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestHarness

/** Batch semantics of the composite operator, mirroring the reference's
 * behavioral spec (`LeftJoinOnTimeoutTest.java`, scenarios tabled in
 * FIXTURES.md §1). Asserts are sorted — Spark gives no arrival order
 * (SURVEY.md §7.4-3). */
class LjotBatchSpec extends AnyFunSuite with SparkTestHarness {
  import spark.implicits._

  private def df(rows: (Long, String, Long)*): DataFrame =
    rows.map { case (k, v, ts) => (k, v, new Timestamp(ts)) }
      .toDF("key", "value", "ts")

  private def result(out: DataFrame): Seq[(Long, String, Long)] =
    out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
      .toSeq.sorted

  // D = 100 s — the reference's long test window (`LeftJoinOnTimeoutTest.java:184-188`)
  private val cfg = LeftJoinOnTimeoutConfig(
    Duration.ofSeconds(100), Duration.ofSeconds(300))

  test("shouldJoinLeftWithRight: every in-window pair joins, no timeout rows") {
    // ref `LeftJoinOnTimeoutTest.java:79-95`: lefts at ts 1 and 20, right at 1
    val out = LeftJoinOnTimeout(
      df((1L, "left_1", 1L), (1L, "left_2", 20L)),
      df((1L, "right", 1L)),
      LeftJoinOnTimeout.testJoiner, cfg)
    assert(result(out) === Seq((1L, "left_1+right", 1L), (1L, "left_2+right", 20L)))
  }

  test("shouldLeftJoinOnTimeout: unmatched left emits joiner(l, null) with left ts") {
    // ref `LeftJoinOnTimeoutTest.java:117-129`
    val out = LeftJoinOnTimeout(
      df((1L, "left", 1L)), df(), LeftJoinOnTimeout.testJoiner, cfg)
    assert(result(out) === Seq((1L, "left+", 1L)))
  }

  test("band is symmetric: r.ts in [l.ts - D, l.ts + D]") {
    val d = cfg.joinWindow.toMillis
    def at(us: Long) = Timestamp.from(Instant.EPOCH.plus(us, ChronoUnit.MICROS))
    // one microsecond past either edge stays out of the band
    val justOutside = Seq((1L, "justEarly", at((200000L - d) * 1000L - 1L)),
                          (1L, "justLate", at((200000L + d) * 1000L + 1L)))
    val out = LeftJoinOnTimeout(
      df((1L, "l", 200000L)),
      df((1L, "early", 200000L - d), (1L, "late", 200000L + d),
         (1L, "tooEarly", 200000L - d - 1), (1L, "tooLate", 200000L + d + 1))
        .union(justOutside.toDF("key", "value", "ts")),
      LeftJoinOnTimeout.testJoiner, cfg)
    assert(result(out) === Seq((1L, "l+early", 200000L), (1L, "l+late", 200000L)))
  }

  test("per-pair emission: 2 lefts x 2 rights in window emit 4 rows") {
    val out = LeftJoinOnTimeout(
      df((1L, "a", 10L), (1L, "b", 20L)),
      df((1L, "x", 15L), (1L, "y", 30L)),
      LeftJoinOnTimeout.testJoiner, cfg)
    assert(result(out).size === 4)
  }

  test("keys never cross-join") {
    val out = LeftJoinOnTimeout(
      df((1L, "l1", 1L)), df((2L, "r2", 1L)),
      LeftJoinOnTimeout.testJoiner, cfg)
    assert(result(out) === Seq((1L, "l1+", 1L)))
  }

  test("full outer: in-window pairs plus BOTH sides' orphans, nothing else") {
    val out = LeftJoinOnTimeout.fullOuterJoin(
      df((1L, "l1", 1000L), (1L, "l_orphan", 900000L)),
      df((1L, "r1", 2000L), (1L, "r_orphan", 500000L), (2L, "r_other_key", 1500L)),
      cfg)
    val rows = out.collect().map { r =>
      (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)))
    }.toSeq.sorted
    assert(rows === Seq(
      (1L, Some("l1"), Some("r1")),          // in-window pair
      (1L, Some("l_orphan"), None),          // left beyond D of any right
      (1L, None, Some("r_orphan")),          // right no left explains
      (2L, None, Some("r_other_key"))        // keys never cross
    ).sorted)
  }

  test("config validation parity: timeout must exceed join window") {
    intercept[IllegalArgumentException] {
      LeftJoinOnTimeoutConfig(Duration.ofSeconds(10), Duration.ofSeconds(30),
        timeout = Some(Duration.ofSeconds(10)))
    }
    intercept[IllegalArgumentException] {
      LeftJoinOnTimeoutConfig(Duration.ZERO, Duration.ofSeconds(30))
    }
    intercept[IllegalArgumentException] {
      LeftJoinOnTimeoutConfig(Duration.ofSeconds(10), Duration.ofSeconds(30),
        maxScheduled = 0)
    }
  }

  test("builder wires the same plan as the direct API") {
    val l = df((1L, "left_1", 1L), (2L, "lonely", 5L))
    val r = df((1L, "right", 1L))
    val builder = LeftJoinOnTimeoutBuilder(l, r, LeftJoinOnTimeout.testJoiner,
        cfg.joinWindow, cfg.retention)
    val viaBuilder = builder.scheduledCapacity(10).build()
    assert(result(viaBuilder) ===
      Seq((1L, "left_1+right", 1L), (2L, "lonely+", 5L)))
    // `timeout(t)` (ref :55-60) overrides D + 100 ms and is validated at
    // build() like the reference's validateArguments (ref :130)
    val t = cfg.joinWindow.plusSeconds(5)
    assert(builder.timeout(t).config.effectiveTimeout === t)
    intercept[IllegalArgumentException] {
      builder.timeout(cfg.joinWindow).build()
    }
  }

  test("skew: a hot key holding 80% of events joins correctly " +
       "and within the AQE skew-handling plan") {
    // the 100 TB failure mode: one user_id owning most of the stream. The
    // equi-join shuffles on key, so the hot key lands in one partition —
    // AQE's skew-join split (enabled by default) subdivides it at scale.
    // Here we pin correctness under skew against locally computed
    // reference semantics.
    val rnd = new scala.util.Random(11)
    val span = 50L * 86400000L // 50 days; D = 100 s → sparse in-band pairs
    def rows(n: Int): List[(Long, String, Long)] =
      List.tabulate(n) { i =>
        val k = if (rnd.nextInt(10) < 8) 7L else 1L + rnd.nextInt(5)
        (k, s"v$i", math.abs(rnd.nextLong()) % span)
      }
    val ls = rows(4000); val rs = rows(4000)
    val dMs = cfg.joinWindow.toMillis
    val got = result(LeftJoinOnTimeout(df(ls: _*), df(rs: _*),
      LeftJoinOnTimeout.testJoiner, cfg))
    val rsByKey = rs.groupBy(_._1)
    val want = ls.flatMap { case (k, lv, lts) =>
      val matches = rsByKey.getOrElse(k, Nil)
        .filter { case (_, _, rts) => math.abs(rts - lts) <= dMs }
      if (matches.isEmpty) List((k, lv + "+", lts))
      else matches.map { case (_, rv, _) => (k, lv + "+" + rv, lts) }
    }.sorted
    assert(got === want)
  }

  test("property: batch output matches per-row reference semantics " +
       "on randomized inputs (fixed seed)") {
    val dMs = cfg.joinWindow.toMillis
    val rnd = new scala.util.Random(7)
    def randRows(n: Int): List[(Long, String, Long)] =
      List.fill(n)((1L + rnd.nextInt(4), "v" + (100 + rnd.nextInt(900)),
        rnd.nextLong(500000L)))
    for (_ <- 1 to 5) {
      val ls = randRows(40); val rs = randRows(40)
      val got = result(LeftJoinOnTimeout(df(ls: _*), df(rs: _*),
        LeftJoinOnTimeout.testJoiner, cfg))
      val want = ls.flatMap { case (k, lv, lts) =>
        val matches = rs.filter { case (rk, _, rts) =>
          rk == k && math.abs(rts - lts) <= dMs }
        if (matches.isEmpty) List((k, lv + "+", lts))
        else matches.map { case (_, rv, _) => (k, lv + "+" + rv, lts) }
      }.sorted
      assert(got === want)
    }
  }
}
