package graft.ljot

import java.sql.Timestamp

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Randomized interleaving property for the faithful variant's per-key
 * transition ([[FaithfulLeftJoin.processKey]]) — the path that carries the
 * reference's key-level-cancel quirk.
 *
 * A naive single-key simulator re-derives the reference contract
 * (`ScheduledStateStore.java:56-115` + the builder's timeout record shape,
 * `LeftJoinOnTimeoutBuilder.java:165-168`) record-at-a-time with explicit
 * timer objects: schedule on unmatched left, cancel-ALL on any join
 * output, fire overdue timers before the arrivals of a trigger, capacity
 * cap fires the oldest early, changelog restore re-arms every timer with
 * the full configured delay, join state evicts on the stream-time
 * retention horizon, and fully-idle keys drop their state. Seeded random
 * schedules (record mix, event-time jitter wider than the band, clock
 * advances spanning the timeout, occasional restarts) drive both
 * implementations through the same triggers; per-trigger outputs must
 * agree as multisets and the engine's pending list must respect the cap.
 *
 * The binary state layout ([[KeyStateCodec]]) round-trips every generated
 * [[KeyState]] exactly, edge values included. */
class FaithfulLeftJoinPropertySpec extends AnyFunSuite {

  /** Independent re-derivation of the reference semantics; deliberately a
   * different shape from processKey (mutable single-key event simulator,
   * no GroupState, no buffer staging). */
  private class NaiveScheduledStore(
      bandMs: Long, retentionMs: Long, timeoutMs: Long, maxScheduled: Int) {
    private case class Timer(value: String, ts: Long, var deadline: Long)
    private var lefts  = Vector.empty[(String, Long)]
    private var rights = Vector.empty[(String, Long)]
    private var timers = Vector.empty[Timer]
    private var maxEventTs = Long.MinValue
    private var lastActive = 0L
    private var epoch = 0L
    private var exists = false

    def trigger(now: Long, recs: Seq[TaggedRec], runEpoch: Long): Seq[PairOut] = {
      val out = Vector.newBuilder[PairOut]
      if (!exists) {
        lefts = Vector.empty; rights = Vector.empty; timers = Vector.empty
        maxEventTs = Long.MinValue; lastActive = now; epoch = runEpoch
        exists = true
      }
      if (epoch != runEpoch) {
        // restore-after-restart: full-delay re-arm, nothing fires now
        timers.foreach(_.deadline = now + timeoutMs)
      } else {
        timers = timers.filter { t =>
          if (t.deadline <= now) {
            out += PairOut(1L, t.value, None, new Timestamp(t.ts)); false
          } else true
        }
      }
      epoch = runEpoch
      recs.foreach { rec =>
        val ts = rec.ts.getTime
        maxEventTs = math.max(maxEventTs, ts)
        lastActive = now
        if (rec.left) {
          val hits = rights.filter(rt => math.abs(rt._2 - ts) <= bandMs)
          hits.foreach(rt => out += PairOut(1L, rec.value, Some(rt._1), rec.ts))
          if (hits.nonEmpty) timers = Vector.empty
          else {
            timers :+= Timer(rec.value, ts, now + timeoutMs)
            if (timers.size > maxScheduled) {
              val oldest = timers.head
              timers = timers.tail
              out += PairOut(1L, oldest.value, None, new Timestamp(oldest.ts))
            }
          }
          lefts :+= ((rec.value, ts))
        } else {
          val hits = lefts.filter(lt => math.abs(lt._2 - ts) <= bandMs)
          hits.foreach(lt => out += PairOut(1L, lt._1, Some(rec.value), new Timestamp(lt._2)))
          if (hits.nonEmpty) timers = Vector.empty
          rights :+= ((rec.value, ts))
        }
      }
      val horizon = maxEventTs - retentionMs
      lefts = lefts.filter(_._2 >= horizon)
      rights = rights.filter(_._2 >= horizon)
      if (timers.isEmpty &&
          ((now - lastActive >= retentionMs) || (lefts.isEmpty && rights.isEmpty)))
        exists = false
      out.result()
    }
  }

  private def canon(o: Seq[PairOut]): Seq[(String, Option[String], Long)] =
    o.map(p => (p.lvalue, p.rvalue, p.ts.getTime)).sortBy(t => (t._1, t._2.getOrElse(""), t._3))

  private def simulate(seed: Long): Unit = {
    val rng = new scala.util.Random(seed)
    val bandMs = 50L + rng.nextInt(101)
    val retentionMs = 200L + rng.nextInt(301)
    val timeoutMs = 100L + rng.nextInt(201)
    val maxScheduled = if (rng.nextBoolean()) 1 + rng.nextInt(3) else Int.MaxValue
    val oracle = new NaiveScheduledStore(bandMs, retentionMs, timeoutMs, maxScheduled)

    var now = 1000L
    var eventTs = 1000L
    var epoch = 1L
    var st: Option[Array[Byte]] = None
    var vid = 0

    for (step <- 1 to 80) {
      now += 1 + rng.nextInt(timeoutMs.toInt) // monotonic wall clock
      if (rng.nextInt(10) == 0) epoch += 1    // simulated checkpoint restart
      val recs = (1 to rng.nextInt(4)).map { _ =>
        vid += 1
        eventTs += rng.nextInt(80)            // stream time advances
        val ts = eventTs + rng.nextInt(2 * bandMs.toInt + 1) - bandMs // band jitter
        TaggedRec(1L, s"v$vid", new Timestamp(math.max(0L, ts)), rng.nextBoolean())
      }
      val gs = TestGroupState.create[Array[Byte]](
        Optional.fromNullable(st.orNull),
        GroupStateTimeout.ProcessingTimeTimeout,
        now, Optional.empty[Long](),
        hasTimedOut = recs.isEmpty && st.nonEmpty)
      val got = FaithfulLeftJoin.processKey(1L, recs.iterator, gs,
        bandMs, retentionMs, timeoutMs, maxScheduled, epoch).toSeq
      val want = oracle.trigger(now, recs, epoch)
      assert(canon(got) === canon(want),
        s"seed=$seed step=$step now=$now band=$bandMs ret=$retentionMs " +
          s"timeout=$timeoutMs cap=$maxScheduled recs=$recs")
      st = if (gs.exists) {
        assert(KeyStateCodec.decode(gs.get).pending.size <= math.min(maxScheduled, Int.MaxValue),
          s"seed=$seed step=$step: pending exceeds maxScheduled")
        Some(gs.get)
      } else None
    }
  }

  for (seed <- 1L to 5L)
    test(s"randomized interleaving matches the naive reference oracle (seed $seed)") {
      simulate(seed)
    }

  // null (a Kafka tombstone), empty, ASCII and multi-byte UTF-8 values
  private val valueGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    4 -> Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "Z", "0", " ", "+", "\u0000", "é", "ß",
        "日本", "🙂")).map(_.mkString)))

  private val tsGen: Gen[Long] =
    Gen.oneOf(Gen.const(Long.MinValue), Gen.const(Long.MaxValue), Gen.const(0L),
      Gen.choose(-1000000L, 1L << 42))

  private def listGen[T](g: Gen[T]): Gen[List[T]] =
    Gen.frequency(1 -> Gen.const(Nil), 3 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, g)))

  private val keyStateGen: Gen[KeyState] = for {
    lefts <- listGen(Gen.zip(valueGen, tsGen))
    rights <- listGen(Gen.zip(valueGen, tsGen))
    pending <- listGen(Gen.zip(valueGen, tsGen, tsGen).map((Pending.apply _).tupled))
    maxEventTs <- Gen.frequency(1 -> Gen.const(Long.MinValue), 2 -> tsGen)
    lastActiveMs <- tsGen
    epoch <- tsGen
  } yield KeyState(lefts, rights, pending, maxEventTs, lastActiveMs, epoch)

  test("binary state codec round-trips every KeyState exactly") {
    val empty = KeyState(Nil, Nil, Nil, Long.MinValue, 0L)
    assert(KeyStateCodec.decode(KeyStateCodec.encode(empty)) === empty)
    for (seed <- 1L to 500L) {
      val s = keyStateGen.pureApply(Gen.Parameters.default, Seed(seed))
      assert(KeyStateCodec.decode(KeyStateCodec.encode(s)) === s, s"seed=$seed state=$s")
    }
  }
}
