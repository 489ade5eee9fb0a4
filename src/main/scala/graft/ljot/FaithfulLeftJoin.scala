package graft.ljot

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.collection.mutable.{ArrayDeque, ListBuffer}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One input record, side-tagged. `left = true` → lhs arm (the reference's
 * `ScheduleProcessor` input, `ScheduleProcessor.java:23-25`); `left = false`
 * → rhs arm feeding the windowed join. The key is boxed: a Kafka record
 * without a key arrives as a null key (see `LeftJoinOnTimeout.keyedJoin`). */
private[ljot] case class TaggedRec(key: java.lang.Long, value: String, ts: Timestamp, left: Boolean)

/** Un-joined output row; the user joiner is applied afterwards as a Column
 * over (lvalue, rvalue) so batch/streaming/faithful share one joiner type. */
private[ljot] case class PairOut(key: java.lang.Long, lvalue: String, rvalue: Option[String],
                                 ts: Timestamp)

/** Mirror of the reference state row `Scheduled<K,V>{key,value,timestamp}`
 * (`Scheduled.java:9-24`) plus the wall-clock deadline that replaces the
 * transient `ScheduledFuture`. */
private[ljot] case class Pending(value: String, ts: Long, deadlineMs: Long)

/** Per-key join state, the one working copy both transitions
 * ([[LeftJoinOnTimeout.joinKey]], [[FaithfulLeftJoin.processKey]]) change
 * in place: both sides' in-retention records (the window-store role Kafka
 * Streams' join plays internally) + the pending-timeout multimap
 * (`ScheduledStateStore.java:29`). `lastActiveMs` (processing time of the
 * last arrival) bounds idle-state lifetime: a key that stops receiving
 * records is dropped wholesale after the retention period, the same net
 * effect as the reference's window-store retention reaper — without it the
 * state (and its re-armed timers) would live forever. The buffers append
 * and drop their head in O(1), so a hot key's micro-batch stays linear.
 * Stored through [[KeyStateCodec]]. */
private[ljot] case class KeyState(
    lefts: ListBuffer[(String, Long)] = ListBuffer.empty[(String, Long)],
    rights: ListBuffer[(String, Long)] = ListBuffer.empty[(String, Long)],
    pending: ArrayDeque[Pending] = ArrayDeque.empty[Pending],
    var maxEventTs: Long = 0L,
    var lastActiveMs: Long = 0L,
    var epoch: Long = 0L)

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
    def entries(es: ListBuffer[(String, Long)]): Unit = {
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
    def entries(): ListBuffer[(String, Long)] = ListBuffer.fill(in.getInt())((value(), in.getLong()))
    val maxEventTs = in.getLong()
    val lastActiveMs = in.getLong()
    val epoch = in.getLong()
    val lefts = entries()
    val rights = entries()
    val pending = ArrayDeque.fill(in.getInt())(Pending(value(), in.getLong(), in.getLong()))
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
 * Single stateful operator: the keyed-state stage it shares with the
 * idiomatic variant (`LeftJoinOnTimeout.keyedJoin`: tagged union →
 * `groupBy(col("key"))` → `flatMapGroupsWithState(Append, timeout)`), here
 * without a watermark and with a processing-time timeout. Each group is
 * processed single-threaded, so the reference's concurrency machinery
 * (`MultiMapUtils.java:15-35`, `BlockingScheduledExecutor.java:6-129`)
 * reduces to in-place buffer updates on the decoded [[KeyState]] — the
 * shuffle partitioning by key is the scale mechanism, identical in role to
 * the reference's per-partition state (`StateStoreLogger.java:22-23`).
 */
object FaithfulLeftJoin {

  def apply(lhs: DataFrame, rhs: DataFrame, joiner: LeftJoinOnTimeout.Joiner,
            cfg: LeftJoinOnTimeoutConfig): DataFrame = {
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
    LeftJoinOnTimeout.keyedJoin(lhs, rhs, joiner, None, GroupStateTimeout.ProcessingTimeTimeout) {
      (key, records, state) =>
        processKey(key, records, state, d, r, timeoutMs, maxScheduled, runEpoch)
    }
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
    val s = state.getOption.fold(
      KeyState(maxEventTs = Long.MinValue, lastActiveMs = now, epoch = runEpoch))(
      KeyStateCodec.decode)
    val out = List.newBuilder[PairOut]

    // 1a. Restore re-arm (ref §2.3-7): state written by a previous run
    //     means this is the first trigger after a checkpoint restart —
    //     every pending emission is re-scheduled with the full configured
    //     delay measured from NOW (delay comes from the restarted query's
    //     config, not the stored deadline — the reference restores into a
    //     possibly different window, `LeftJoinOnTimeoutTest.java:131-153`).
    // 1b. Otherwise fire overdue timers (the `ScheduledThreadPoolExecutor`
    //     role, `ScheduledStateStore.java:69-82`): emit joiner(l, null)
    //     with the LEFT's original event ts
    //     (`LeftJoinOnTimeoutBuilder.java:165-168`).
    if (s.epoch != runEpoch) {
      s.pending.mapInPlace(_.copy(deadlineMs = now + timeoutMs))
      s.epoch = runEpoch
    } else {
      s.pending.foreach { p =>
        if (p.deadlineMs <= now) out += PairOut(key, p.value, None, new Timestamp(p.ts))
      }
      s.pending.filterInPlace(_.deadlineMs > now)
    }

    // 2. Process arrivals in order (single stream thread per key, like the
    //    reference's per-task processing): every in-window pair emits
    //    (per-pair join, `LeftJoinOnTimeoutTest.java:89-91`).
    records.foreach { rec =>
      s.maxEventTs = math.max(s.maxEventTs, rec.ts.getTime)
      s.lastActiveMs = now
      if (LeftJoinOnTimeout.arrive(key, rec, s, bandMs, out)) {
        // join output → CancelProcessor cancels ALL pending for the key
        // (`ScheduledStateStore.java:87-115`) — including this left.
        s.pending.clear()
      } else if (rec.left) {
        // ScheduleProcessor: register the deferred joiner(l, null);
        // at capacity the oldest fires early (see scaladoc).
        s.pending.append(Pending(rec.value, rec.ts.getTime, now + timeoutMs))
        if (s.pending.size > maxScheduled) {
          val oldest = s.pending.removeHead()
          out += PairOut(key, oldest.value, None, new Timestamp(oldest.ts))
        }
      }
    }

    // 3. Evict join state past retention R (`JoinWindows.until(R)`,
    //    `LeftJoinOnTimeoutBuilder.java:114`) by stream time.
    val horizon = s.maxEventTs - retentionMs
    s.lefts.filterInPlace(_._2 >= horizon)
    s.rights.filterInPlace(_._2 >= horizon)

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
        val earliest = s.pending.iterator.map(_.deadlineMs).min
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
