package graft.ljot

import java.sql.Timestamp

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the idiomatic variant's event-time per-key transition
 * ([[LeftJoinOnTimeout.joinKey]]), driven through `TestGroupState` the way
 * `flatMapGroupsWithState(EventTimeTimeout)` drives it: arrivals at one
 * watermark, then a no-data timeout call once the watermark has moved. */
class JoinKeySpec extends AnyFunSuite {

  private val bandMs = 100L

  private def state(s: Option[Array[Byte]], watermarkMs: Long,
                    timedOut: Boolean = false): TestGroupState[Array[Byte]] =
    TestGroupState.create[Array[Byte]](
      Optional.fromNullable(s.orNull), GroupStateTimeout.EventTimeTimeout,
      0L, Optional.of(watermarkMs), timedOut)

  private def run(s: TestGroupState[Array[Byte]], recs: TaggedRec*): Seq[PairOut] =
    LeftJoinOnTimeout.joinKey(1L, recs.iterator, s, bandMs).toSeq

  private def l(v: String, ts: Long) = TaggedRec(1L, v, new Timestamp(ts), true)
  private def r(v: String, ts: Long) = TaggedRec(1L, v, new Timestamp(ts), false)

  test("per-pair cancel: a right in A's band but not B's cancels only A; " +
       "B times out once the watermark passes B.ts + D") {
    val recs = Seq(l("A", 1000L), l("B", 1300L), r("right", 1050L))
    val s0 = state(None, 0L)
    assert(run(s0, recs: _*) === Seq(PairOut(1L, "A", Some("right"), new Timestamp(1000L))))
    assert(KeyStateCodec.decode(s0.get).pending.map(_.value) === List("B"))
    val atDeadline = state(s0.getOption, 1300L + bandMs, timedOut = true)
    assert(run(atDeadline).isEmpty, "watermark == B.ts + D must not fire")
    val past = state(atDeadline.getOption, 1300L + bandMs + 1, timedOut = true)
    assert(run(past) === Seq(PairOut(1L, "B", None, new Timestamp(1300L))))
    assert(!past.exists, "every retained row is below the watermark")
    // contrast: the faithful transition's key-level cancel drops B as well
    val f = TestGroupState.create[Array[Byte]](Optional.empty[Array[Byte]](),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L, Optional.empty[Long](), false)
    FaithfulLeftJoin.processKey(1L, recs.iterator, f, bandMs, 300L, 200L)
    assert(KeyStateCodec.decode(f.get).pending.isEmpty)
  }

  test("the event-time timer is the earliest retained ts + D of either side") {
    val s0 = state(None, 0L)
    assert(run(s0, l("l1", 1300L), r("orphan", 1000L), l("l2", 1500L)).isEmpty)
    assert(s0.getTimeoutTimestampMs.get() === 1000L + bandMs)
    // the watermark passes the right's ts + D: it is evicted, and the timer
    // moves to the earliest left
    val s1 = state(s0.getOption, 1150L, timedOut = true)
    assert(run(s1).isEmpty)
    assert(KeyStateCodec.decode(s1.get).rights.isEmpty)
    assert(s1.getTimeoutTimestampMs.get() === 1300L + bandMs)
  }

  test("a key holding only orphan rights is removed once they fall below " +
       "the watermark") {
    val s0 = state(None, 0L)
    assert(run(s0, r("r1", 1000L), r("r2", 1020L)).isEmpty)
    assert(s0.getTimeoutTimestampMs.get() === 1000L + bandMs)
    val s1 = state(s0.getOption, 1000L + bandMs + 1, timedOut = true)
    assert(run(s1).isEmpty)
    assert(KeyStateCodec.decode(s1.get).rights === List(("r2", 1020L)))
    val s2 = state(s1.getOption, 1020L + bandMs + 1, timedOut = true)
    assert(run(s2).isEmpty)
    assert(!s2.exists)
  }
}
