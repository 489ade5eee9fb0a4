package graft.ljot

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.collection.mutable.{ArrayDeque, ListBuffer}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input record, side-tagged. `left = true` → lhs arm (the reference's
 * `ScheduleProcessor` input, `ScheduleProcessor.java:23-25`); `left = false`
 * → rhs arm feeding the windowed join. The key is boxed: a Kafka record
 * without a key arrives as a null key (see `LeftJoinOnTimeout.taggedUnion`). */
private[ljot] case class TaggedRec(key: java.lang.Long, value: String, ts: Timestamp, left: Boolean)

/** Un-joined output row; the user joiner is applied afterwards as a Column
 * over (lvalue, rvalue) so batch/streaming/faithful share one joiner type. */
private[ljot] case class PairOut(key: java.lang.Long, lvalue: String, rvalue: Option[String],
                                 ts: Timestamp)

/** Mirror of the reference state row `Scheduled<K,V>{key,value,timestamp}`
 * (`Scheduled.java:9-24`) plus the wall-clock deadline that replaces the
 * transient `ScheduledFuture`. */
private[ljot] case class Pending(value: String, ts: Long, deadlineMs: Long)

/** Per-key join state: both sides' in-retention records (the window-store
 * role Kafka Streams' join plays internally) + the pending-timeout multimap
 * (`ScheduledStateStore.java:29`). `lastActiveMs` (processing time of the
 * last arrival) bounds idle-state lifetime: a key that stops receiving
 * records is dropped wholesale after the retention period, the same net
 * effect as the reference's window-store retention reaper — without it the
 * state (and its re-armed timers) would live forever. Stored through
 * [[KeyStateCodec]]. */
private[ljot] case class KeyState(
    lefts: List[(String, Long)],
    rights: List[(String, Long)],
    pending: List[Pending],
    maxEventTs: Long,
    lastActiveMs: Long,
    epoch: Long = 0L)

/** The state row's single BINARY column: [[KeyState]] laid out flat, so the
 * state store holds one opaque byte array per key instead of a nested
 * struct-of-arrays the engine would decode and re-encode through generated
 * object projections on every task.
 *
 * {{{
 * maxEventTs:i64 lastActiveMs:i64 epoch:i64
 * n:i32 (value ts:i64)*             lefts
 * n:i32 (value ts:i64)*             rights
 * n:i32 (value ts:i64 deadline:i64)* pending
 * value = len:i32 utf8[len]         len = -1 for a null value (tombstone)
 * }}} */
private[ljot] object KeyStateCodec {

  def encode(s: KeyState): Array[Byte] = {
    val bytes = new ByteArrayOutputStream(64)
    val out = new DataOutputStream(bytes)
    def value(v: String): Unit =
      if (v == null) out.writeInt(-1)
      else { val b = v.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }
    def entries(es: List[(String, Long)]): Unit = {
      out.writeInt(es.size)
      es.foreach { case (v, ts) => value(v); out.writeLong(ts) }
    }
    out.writeLong(s.maxEventTs)
    out.writeLong(s.lastActiveMs)
    out.writeLong(s.epoch)
    entries(s.lefts)
    entries(s.rights)
    out.writeInt(s.pending.size)
    s.pending.foreach { p => value(p.value); out.writeLong(p.ts); out.writeLong(p.deadlineMs) }
    bytes.toByteArray
  }

  def decode(b: Array[Byte]): KeyState = {
    val in = ByteBuffer.wrap(b)
    def value(): String = {
      val n = in.getInt()
      if (n < 0) null
      else { val v = new String(b, in.position(), n, UTF_8); in.position(in.position() + n); v }
    }
    def entries(): List[(String, Long)] = List.fill(in.getInt())((value(), in.getLong()))
    val maxEventTs = in.getLong()
    val lastActiveMs = in.getLong()
    val epoch = in.getLong()
    val lefts = entries()
    val rights = entries()
    val pending = List.fill(in.getInt())(Pending(value(), in.getLong(), in.getLong()))
    KeyState(lefts, rights, pending, maxEventTs, lastActiveMs, epoch)
  }
}

/**
 * Faithful re-implementation of the reference semantics that the idiomatic
 * left-outer join deliberately cleans up (SURVEY.md §2.3):
 *
 *  - **key-level cancellation** (§2.3-3): any join output for key k cancels
 *    ALL pending timeout emissions for k (`ScheduledStateStore.java:87-115`
 *    iterates the whole multimap entry), even for a left whose own window
 *    does not contain the joining right;
 *  - **processing-time timeout, event-time band** (§2.3-4): the timer is
 *    wall-clock from left arrival (`ScheduledStateStore.java:69-82`) while
 *    the band is event-time;
 *  - **restore re-arms timers with the full delay** (§2.3-7): a run-epoch
 *    marker in the state row detects the first trigger after a checkpoint
 *    restart and re-schedules every pending emission with the restarted
 *    query's configured timeout measured from restore time — exactly the
 *    reference's changelog-replay behavior, where the delay comes from
 *    config, not stored state (`ScheduledStateStore.java:123-137`,
 *    restore-into-shorter-window test `LeftJoinOnTimeoutTest.java:131-153`).
 *
 * Single stateful operator: tagged union of both sides
 * (`LeftJoinOnTimeout.taggedUnion`, shared with the idiomatic variant, as
 * is the per-arrival band probe `LeftJoinOnTimeout.arrive`) →
 * `groupBy(col("key"))` → `flatMapGroupsWithState(Append,
 * ProcessingTimeTimeout)` over
 * `GroupState[Array[Byte]]`. Grouping by the key column needs no per-row
 * key-extraction step, and the per-key [[KeyState]] is stored as one binary
 * column through [[KeyStateCodec]]: decoded once per trigger of the key,
 * encoded once on update. Each group is processed single-threaded, so the
 * reference's concurrency machinery
 * (`MultiMapUtils.java:15-35`, `BlockingScheduledExecutor.java:6-129`)
 * reduces to plain List updates — the shuffle partitioning by key is the
 * scale mechanism, identical in role to the reference's per-partition state
 * (`StateStoreLogger.java:22-23`).
 */
object FaithfulLeftJoin {

  def apply(lhs: DataFrame, rhs: DataFrame, joiner: LeftJoinOnTimeout.Joiner,
            cfg: LeftJoinOnTimeoutConfig): DataFrame = {
    val spark = lhs.sparkSession
    import spark.implicits._

    val d = cfg.joinWindow.toMillis
    val r = cfg.retention.toMillis
    val timeoutMs = cfg.effectiveTimeout.toMillis

    val maxScheduled = cfg.maxScheduled
    // Run marker for restore detection (ref §2.3-7: changelog restore
    // re-schedules every entry with the FULL configured delay —
    // `ScheduledStateStore.java:127-131`). Captured once per (re)start at
    // plan build on the driver; state rows written under a different epoch
    // are restored state and get their pending deadlines re-armed.
    val runEpoch = System.currentTimeMillis()
    val out = LeftJoinOnTimeout.taggedUnion(lhs, rhs, watermark = None)
      .groupBy(col("key")).as[java.lang.Long, TaggedRec]
      .flatMapGroupsWithState[Array[Byte], PairOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (key, records, state) =>
          processKey(key, records, state, d, r, timeoutMs, maxScheduled, runEpoch)
      }

    LeftJoinOnTimeout.joined(out, joiner)
  }

  /** Core per-key transition. Pulled out for direct unit testing.
   *
   * `maxScheduled` caps the per-key pending-timeout list — the reference's
   * backpressure bound (`BlockingScheduledExecutor.java:19-31` blocks the
   * stream thread at capacity until a timer fires and frees a slot). A
   * micro-batch cannot block mid-trigger, so the closest analog with the
   * same invariants is applied: when a schedule would exceed capacity, the
   * OLDEST pending emission fires immediately (early). Every unmatched left
   * still emits exactly once and per-key state stays bounded at
   * `maxScheduled` entries; the divergence (early emission instead of
   * delayed ingestion) is the documented block→fire mapping. */
  private[ljot] def processKey(
      key: java.lang.Long,
      records: Iterator[TaggedRec],
      state: GroupState[Array[Byte]],
      bandMs: Long,
      retentionMs: Long,
      timeoutMs: Long,
      maxScheduled: Int = Int.MaxValue,
      runEpoch: Long = 0L): Iterator[PairOut] = {

    val now = state.getCurrentProcessingTimeMs()
    val s0 = state.getOption.map(KeyStateCodec.decode).getOrElse(
      KeyState(Nil, Nil, Nil, Long.MinValue, now, runEpoch))
    val out = List.newBuilder[PairOut]
    var maxEventTs = s0.maxEventTs
    var lastActiveMs = s0.lastActiveMs

    // Hot-key safe accumulation: O(1) append/removeHead buffers, converted
    // from/to the decoded List state exactly once per trigger (a `:+` on
    // List is an O(n) copy — quadratic over a hot key's micro-batch).
    val pending = ArrayDeque.empty[Pending]
    val lefts = ListBuffer.from(s0.lefts)
    val rights = ListBuffer.from(s0.rights)

    // 1a. Restore re-arm (ref §2.3-7): state written by a previous run
    //     means this is the first trigger after a checkpoint restart —
    //     every pending emission is re-scheduled with the full configured
    //     delay measured from NOW (delay comes from the restarted query's
    //     config, not the stored deadline — the reference restores into a
    //     possibly different window, `LeftJoinOnTimeoutTest.java:131-153`).
    val restored = s0.epoch != runEpoch
    // 1b. Fire overdue timers (the `ScheduledThreadPoolExecutor` role,
    //     `ScheduledStateStore.java:69-82`): emit joiner(l, null) with the
    //     LEFT's original event ts (`LeftJoinOnTimeoutBuilder.java:165-168`).
    s0.pending.foreach { p =>
      if (restored) pending.append(p.copy(deadlineMs = now + timeoutMs))
      else if (p.deadlineMs <= now) out += PairOut(key, p.value, None, new Timestamp(p.ts))
      else pending.append(p)
    }

    // 2. Process arrivals in order (single stream thread per key, like the
    //    reference's per-task processing): every in-window pair emits
    //    (per-pair join, `LeftJoinOnTimeoutTest.java:89-91`).
    records.foreach { rec =>
      maxEventTs = math.max(maxEventTs, rec.ts.getTime)
      lastActiveMs = now
      if (LeftJoinOnTimeout.arrive(key, rec, lefts, rights, bandMs, out)) {
        // join output → CancelProcessor cancels ALL pending for the key
        // (`ScheduledStateStore.java:87-115`) — including this left.
        pending.clear()
      } else if (rec.left) {
        // ScheduleProcessor: register the deferred joiner(l, null);
        // at capacity the oldest fires early (see scaladoc).
        pending.append(Pending(rec.value, rec.ts.getTime, now + timeoutMs))
        if (pending.size > maxScheduled) {
          val oldest = pending.removeHead()
          out += PairOut(key, oldest.value, None, new Timestamp(oldest.ts))
        }
      }
    }

    // 3. Evict join state past retention R (`JoinWindows.until(R)`,
    //    `LeftJoinOnTimeoutBuilder.java:114`) by stream time.
    val horizon = maxEventTs - retentionMs
    val s = KeyState(
      lefts.filter(_._2 >= horizon).toList,
      rights.filter(_._2 >= horizon).toList,
      pending.toList,
      maxEventTs,
      lastActiveMs,
      runEpoch)

    // 4. Persist + re-arm the group timer for the earliest pending deadline
    //    (restore after checkpoint re-evaluates this per trigger —
    //    reference restore parity, §2.3-7). A key that has been idle for a
    //    full retention period with nothing pending is dropped entirely —
    //    bounded state, and the engine reaches quiescence (no perpetual
    //    no-data micro-batches from eternally re-armed timers).
    val idle = now - s.lastActiveMs >= retentionMs
    if (s.pending.isEmpty && (idle || (s.lefts.isEmpty && s.rights.isEmpty))) {
      state.remove()
    } else {
      state.update(KeyStateCodec.encode(s))
      if (s.pending.nonEmpty) {
        // Wake at the earliest deadline, but at least every timeout/4
        // (floor 1 s): Spark exposes no restore hook, so the run-epoch
        // restore detection (step 1a) is bounded-lazy — a restarted run
        // re-arms every key's pending timers within a quarter timeout
        // instead of waiting out a stale long deadline from the previous
        // run's config. Steady-state cost: at most 4 no-op wakes per
        // pending lifetime per key.
        val earliest = s.pending.map(_.deadlineMs).min
        val heartbeat = math.max(1000L, timeoutMs / 4)
        state.setTimeoutDuration(math.max(1L, math.min(earliest - now, heartbeat)))
      } else {
        // wake once more when the idle-retention horizon passes
        state.setTimeoutDuration(math.max(1L, s.lastActiveMs + retentionMs - now))
      }
    }
    out.result().iterator
  }
}
