package graft.ljot

import java.sql.Timestamp
import java.time.Duration

import scala.collection.mutable.Growable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Configuration for the left-join-on-timeout operator.
 *
 * Mirrors the reference builder's knobs
 * (`LeftJoinOnTimeoutBuilder.java:24-25,50-59,84-87`):
 *
 * @param joinWindow   D — symmetric join band: a right matches a left when
 *                     `r.ts ∈ [l.ts − D, l.ts + D]` (Kafka 0.11
 *                     `JoinWindows.of(D)` semantics,
 *                     `LeftJoinOnTimeoutBuilder.java:114`).
 * @param retention    R — how long join state is retained
 *                     (`JoinWindows.until(R)`); maps to the watermark delay
 *                     in the streaming variant.
 * @param timeout      wall-clock delay before a left with no match emits
 *                     `joiner(l, null)`; defaults to `D + 100 ms`
 *                     (`LeftJoinOnTimeoutBuilder.java:24,59`), must be > D
 *                     (`:130`). Only observable in the faithful streaming
 *                     variant — the idiomatic variant expires on event time.
 * @param maxScheduled backpressure bound on pending timeouts
 *                     (`LeftJoinOnTimeoutBuilder.java:25`); maps to
 *                     `maxOffsetsPerTrigger`-style source rate limiting in
 *                     Spark (state is disk-backed, not heap-capped), and is
 *                     ENFORCED in the faithful variant as a per-key cap on
 *                     the pending list — at capacity the oldest pending
 *                     emission fires early instead of blocking ingestion
 *                     (`FaithfulLeftJoin.processKey` scaladoc).
 */
final case class LeftJoinOnTimeoutConfig(
    joinWindow: Duration,
    retention: Duration,
    timeout: Option[Duration] = None,
    maxScheduled: Int = LeftJoinOnTimeoutConfig.DefaultScheduledCapacity) {

  require(!joinWindow.isNegative && !joinWindow.isZero, "joinWindow must be > 0")
  require(retention.compareTo(joinWindow) >= 0, "retention must be >= joinWindow")
  require(maxScheduled > 0, "maxScheduled must be > 0")

  /** Effective timeout: `D + 100 ms` unless overridden (`LeftJoinOnTimeoutBuilder.java:59`). */
  val effectiveTimeout: Duration =
    timeout.getOrElse(joinWindow.plusMillis(LeftJoinOnTimeoutConfig.DefaultTimeoutGapMs))
  require(effectiveTimeout.compareTo(joinWindow) > 0,
    "timeout must exceed the join window (ref LeftJoinOnTimeoutBuilder.java:130)")
}

object LeftJoinOnTimeoutConfig {
  /** `DEFAULT_TIMEOUT_GAP_IN_MS` (`LeftJoinOnTimeoutBuilder.java:24`). */
  val DefaultTimeoutGapMs = 100L
  /** `DEFAULT_SCHEDULED_CAPACITY` (`LeftJoinOnTimeoutBuilder.java:25`). */
  val DefaultScheduledCapacity = 1000
}

/**
 * Spark-native rebuild of the reference's composite operator: a windowed
 * interval equi-join whose left side is completed with `joiner(l, null)`
 * rows for lefts that never match (reference essence: `README.md:4-8`,
 * topology `LeftJoinOnTimeoutBuilder.java:95-122`).
 *
 * Inputs are DataFrames with columns `(key, value, ts)`. The output is
 * `(key, joined, ts)` where `ts` is always the LEFT record's event
 * timestamp — the reference stamps the left ts onto timeout records
 * (`LeftJoinOnTimeoutBuilder.java:165-168`) and Kafka Streams stamps join
 * outputs with the triggering record's ts; we normalize to the left ts for
 * determinism (documented divergence, SURVEY.md §2.3-5).
 *
 * Two mechanisms run the family, each bounding its state by R: a row
 * stays in state while it lies within R + D behind the newest event time
 * of the slower input (its watermark plus the band), so state holds at
 * most the rows (keyed join: the keys) of that span at any rate.
 *  - [[bandJoin]], one Catalyst join on the band, runs every batch join
 *    and the streaming inner and full-outer joins. Catalyst keys the
 *    shuffle on `key` and keeps the band as a join-level filter; on
 *    streams, Spark's stream-stream join holds a row until the other
 *    side's R watermark clears its band and drops a row below the
 *    watermark as late. The reference's schedule/cancel machinery
 *    (~400 LoC of timers, semaphores and changelogs) has no batch analog.
 *  - [[keyedJoin]], one event-time keyed-state operator over both
 *    R-watermarked inputs, runs the streaming left join: the per-key band
 *    probe is the join, and the group timer at `l.ts + D` is the
 *    schedule/cancel mechanism (SURVEY.md §2.1-O5). Keys are long and
 *    values string.
 */
object LeftJoinOnTimeout {

  /** Column-level joiner: `(leftValue, rightValueOrNull) => joined`.
   * Mirrors `ValueJoiner<LV, RV, JV>` (`LeftJoinOnTimeoutBuilder.java:30`);
   * on the timeout path the right argument is NULL (`:164`). */
  type Joiner = (Column, Column) => Column

  /** Default joiner from the reference tests
   * (`LeftJoinOnTimeoutTest.java:205`): `l + "+" + r`, or `l + "+"` when
   * the right is absent. */
  val testJoiner: Joiner = (l, r) => concat(l, lit("+"), coalesce(r, lit("")))

  /**
   * Batch or streaming left-join-on-timeout.
   *
   * @param lhs  DataFrame with columns (key, value, ts)
   * @param rhs  DataFrame with columns (key, value, ts)
   * @param joiner combine function over (l.value, nullable r.value)
   * @return (key, joined, ts) — one row per in-window (l, r) pair, plus one
   *         `joiner(l, null)` row per left with no in-window match.
   */
  def apply(lhs: DataFrame, rhs: DataFrame, joiner: Joiner,
            cfg: LeftJoinOnTimeoutConfig): DataFrame =
    if (lhs.isStreaming || rhs.isStreaming) streamingJoin(lhs, rhs, joiner, cfg)
    else joined(bandJoin(lhs, rhs, cfg, "left_outer"), joiner)

  /** Inner windowed interval equi-join only (reference O4,
   * `LeftJoinOnTimeoutBuilder.java:112-115`): one output per in-window
   * (l, r) pair. */
  def innerJoin(lhs: DataFrame, rhs: DataFrame, joiner: Joiner,
                cfg: LeftJoinOnTimeoutConfig): DataFrame =
    joined(bandJoin(lhs, rhs, cfg, "inner"), joiner)

  /** Full-outer windowed interval equi-join — the symmetric completion
   * of the family (inner = O4, left = O5): unmatched LEFTS and unmatched
   * RIGHTS both surface. The reference cannot express this (Kafka
   * Streams' `leftJoin` timers only track the lhs,
   * `LeftJoinOnTimeoutBuilder.java:95-122`); in the events domain the
   * right-side orphans are exactly the errors no purchase explains —
   * the other half of the reconciliation audit. Output is symmetric
   * (key, lvalue, rvalue, lts, rts) rather than joiner-applied: the
   * reference `ValueJoiner` contract (`:30`) is left-biased and has no
   * null-left form to mirror. */
  def fullOuterJoin(lhs: DataFrame, rhs: DataFrame,
                    cfg: LeftJoinOnTimeoutConfig): DataFrame =
    bandJoin(lhs, rhs, cfg, "full_outer")
      .select(coalesce(col("lkey"), col("rkey")).as("key"),
              col("lvalue"), col("rvalue"), col("lts"), col("rts"))

  /** The family's one band join: both sides side-tagged (`lkey`/`lvalue`/
   * `lts`, `rkey`/`rvalue`/`rts`, so self-joins resolve), each watermarked
   * at R when either input streams, joined as one `joinType` join on
   * [[bandCondition]]. Returns the tagged columns; callers project. */
  private[graft] def bandJoin(lhs: DataFrame, rhs: DataFrame, cfg: LeftJoinOnTimeoutConfig,
                              joinType: String): DataFrame = {
    val l = lhs.select(col("key").as("lkey"), col("value").as("lvalue"), col("ts").as("lts"))
    val r = rhs.select(col("key").as("rkey"), col("value").as("rvalue"), col("ts").as("rts"))
    val wm = s"${cfg.retention.toMillis} milliseconds"
    val (lw, rw) =
      if (lhs.isStreaming || rhs.isStreaming) (l.withWatermark("lts", wm), r.withWatermark("rts", wm))
      else (l, r)
    lw.join(rw, bandCondition(cfg), joinType)
  }

  /** `(key, joiner(l.value, r.value), l.ts)` over [[bandJoin]]'s columns. */
  private def joined(band: DataFrame, joiner: Joiner): DataFrame =
    band.select(col("lkey").as("key"),
                joiner(col("lvalue"), col("rvalue")).as("joined"),
                col("lts").as("ts"))

  /**
   * Idiomatic streaming variant: the keyed-state stage ([[keyedJoin]]) with
   * each side watermarked at R and an event-time timeout, running
   * [[joinKey]]. The global (min) watermark, late-row dropping and idle-side
   * behaviour are those of a watermarked stream-stream join; the
   * null-padded row emits in the micro-batch whose watermark passes
   * `l.ts + D` — the event-time restatement of the reference's wall-clock
   * timer (SURVEY.md §2.3-4; deliberate, deterministic divergence).
   */
  private def streamingJoin(lhs: DataFrame, rhs: DataFrame, joiner: Joiner,
                            cfg: LeftJoinOnTimeoutConfig): DataFrame = {
    val d = cfg.joinWindow.toMillis
    keyedJoin(lhs, rhs, joiner, Some(cfg.retention), GroupStateTimeout.EventTimeTimeout) {
      (key, records, state) => joinKey(key, records, state, d)
    }
  }

  /** The keyed-state stage both streaming variants run: the side-tagged
   * union → `groupBy(col("key"))` → ONE `flatMapGroupsWithState(Append,
   * timeout)` over a [[KeyStateCodec]] row per key → the joiner over the
   * emitted pairs: `(key, joined, ts)`. The variants differ only in the
   * watermark, the timeout mode and the per-key transition.
   *
   * Keys and values are cast to long and string (what
   * `KafkaTopics.decodeKeyedStream` produces), so the streaming path
   * narrows the batch path's any-type `(key, value)`. With `watermark` set,
   * each side gets its own `withWatermark("ts", ...)` before the union, so
   * the global watermark is the minimum over the two inputs. A null key
   * never equals a key (SQL join semantics, which batch [[apply]]
   * follows): a null-key right joins nothing and is dropped, so the
   * null-key group holds only lefts, each of which times out with
   * `joiner(l, null)` like any unmatched left. */
  private[ljot] def keyedJoin(
      lhs: DataFrame, rhs: DataFrame, joiner: Joiner, watermark: Option[Duration],
      timeout: GroupStateTimeout)(
      transition: (java.lang.Long, Iterator[TaggedRec], GroupState[Array[Byte]]) =>
        Iterator[PairOut]): DataFrame = {
    import lhs.sparkSession.implicits._
    def tag(df: DataFrame, isLeft: Boolean): DataFrame = {
      val t = df.select(col("key").cast("long").as("key"),
                        col("value").cast("string").as("value"),
                        col("ts").cast("timestamp").as("ts"),
                        lit(isLeft).as("left"))
      watermark.fold(t)(w => t.withWatermark("ts", s"${w.toMillis} milliseconds"))
    }
    tag(lhs, true).unionByName(tag(rhs, false))
      .filter(col("left") || col("key").isNotNull)
      .groupBy(col("key")).as[java.lang.Long, TaggedRec]
      .flatMapGroupsWithState[Array[Byte], PairOut](OutputMode.Append, timeout)(transition)
      .toDF()
      .select(col("key"), joiner(col("lvalue"), col("rvalue")).as("joined"), col("ts"))
  }

  /** Event-time per-key transition of the streaming left-outer join over
   * the key's [[KeyState]]: the retained lefts, the retained rights, and
   * the unmatched lefts as `pending` (deadline = `l.ts + D`).
   *
   *  - Arrivals go through [[arrive]] in order, so every in-band pair emits
   *    exactly once. A right takes every left in its band off the
   *    unmatched list (per-pair, not key-level, cancel); a left that
   *    matched nothing joins it.
   *  - Then everything whose `ts + D` lies below the watermark is evicted:
   *    no later, non-late row can fall in its band. An evicted unmatched
   *    left emits `joiner(l, null)`.
   *  - The group timer is the earliest retained `ts + D` of either side, so
   *    the key is revisited in the micro-batch whose watermark passes it —
   *    which also reaps keys that hold only orphan rights. */
  private[ljot] def joinKey(key: java.lang.Long, records: Iterator[TaggedRec],
                            state: GroupState[Array[Byte]],
                            bandMs: Long): Iterator[PairOut] = {
    val s = state.getOption.fold(KeyState())(KeyStateCodec.decode)
    val out = List.newBuilder[PairOut]

    records.foreach { rec =>
      val matched = arrive(key, rec, s, bandMs, out)
      val ts = rec.ts.getTime
      if (!rec.left) s.pending.filterInPlace(p => math.abs(p.ts - ts) > bandMs)
      else if (!matched) s.pending += Pending(rec.value, ts, ts + bandMs)
    }

    val wm = state.getCurrentWatermarkMs()
    s.pending.foreach { p =>
      if (p.deadlineMs < wm) out += PairOut(key, p.value, None, new Timestamp(p.ts))
    }
    s.pending.filterInPlace(_.deadlineMs >= wm)
    s.lefts.filterInPlace(_._2 + bandMs >= wm)
    s.rights.filterInPlace(_._2 + bandMs >= wm)

    if (s.lefts.isEmpty && s.rights.isEmpty) state.remove()
    else {
      state.update(KeyStateCodec.encode(s))
      val earliest = (s.lefts.iterator ++ s.rights.iterator).map(_._2).min + bandMs
      state.setTimeoutTimestamp(math.max(1L, earliest))
    }
    out.result().iterator
  }

  /** One arrival at a key — the band probe both per-key transitions
   * ([[joinKey]], [[FaithfulLeftJoin.processKey]]) share. The record
   * probes the OTHER side's retained rows, every in-band pair emits to
   * `out` stamped with the left's ts, and the record is retained on its
   * own side of `s`. Returns whether it matched; what a match cancels is
   * the caller's policy. */
  private[ljot] def arrive(key: java.lang.Long, rec: TaggedRec, s: KeyState,
                           bandMs: Long, out: Growable[PairOut]): Boolean = {
    val ts = rec.ts.getTime
    var matched = false
    (if (rec.left) s.rights else s.lefts).foreach { case (v, vts) =>
      if (math.abs(vts - ts) <= bandMs) {
        matched = true
        out += (if (rec.left) PairOut(key, rec.value, Option(v), rec.ts)
                else PairOut(key, v, Option(rec.value), new Timestamp(vts)))
      }
    }
    (if (rec.left) s.lefts else s.rights) += ((rec.value, ts))
    matched
  }

  /** `l.key = r.key AND r.ts ∈ [l.ts − D, l.ts + D]` over the tagged
   * `lkey`/`lts`/`rkey`/`rts` columns — the symmetric Kafka-0.11
   * `JoinWindows.of(D)` band (SURVEY.md §2.3-1). Expressed with
   * `expr` interval arithmetic so Catalyst extracts the equi-key for the
   * shuffle and keeps the band as a range predicate. */
  private def bandCondition(cfg: LeftJoinOnTimeoutConfig): Column = {
    val d = cfg.joinWindow.toMillis
    col("lkey") === col("rkey") &&
      col("rts") >= expr(s"lts - INTERVAL $d MILLISECONDS") &&
      col("rts") <= expr(s"lts + INTERVAL $d MILLISECONDS")
  }
}
