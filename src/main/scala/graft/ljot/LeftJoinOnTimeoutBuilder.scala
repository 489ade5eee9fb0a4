package graft.ljot

import java.time.Duration

import org.apache.spark.sql.DataFrame

/**
 * Fluent builder mirroring the reference's public API surface
 * (`LeftJoinOnTimeoutBuilder.java:19-122`): ctor takes the two streams, the
 * joiner and the window/retention; `timeout` and `scheduledCapacity`
 * configure; `build()` (`buildTopology()`) validates and wires the
 * idiomatic variant. The faithful variant is `FaithfulLeftJoin.apply`.
 *
 * Spark differences, kept deliberately:
 *  - serdes are unnecessary (`serdes(...)` in the reference,
 *    `LeftJoinOnTimeoutBuilder.java:70-77`) — DataFrames carry schemas;
 *  - `build()` returns the joined DataFrame (lazy plan = the topology);
 *    callers attach their own sink (`sinkTo`, `:44-53`), and the
 *    changelog topic (`enableStateLog`, `:62-68`,
 *    `StateStoreLogger.java:22-31`) is the sink's `checkpointLocation`
 *    option — Structured Streaming's WAL + state snapshots.
 *
 * Validation parity with `validateArguments()`
 * (`LeftJoinOnTimeoutBuilder.java:124-143`): non-null inputs, D > 0,
 * timeout > D, capacity > 0 — enforced by `LeftJoinOnTimeoutConfig`.
 */
final class LeftJoinOnTimeoutBuilder private (
    lhs: DataFrame,
    rhs: DataFrame,
    joiner: LeftJoinOnTimeout.Joiner,
    joinWindow: Duration,
    retention: Duration,
    timeoutOpt: Option[Duration],
    capacity: Int) {

  /** `timeout(ms)` — override the default `D + 100 ms` (`:55-60`). */
  def timeout(t: Duration): LeftJoinOnTimeoutBuilder = copy(timeoutOpt = Some(t))

  /** `scheduledCapacity(n)` (`:84-87`) — maps to source rate limiting. */
  def scheduledCapacity(n: Int): LeftJoinOnTimeoutBuilder = copy(capacity = n)

  def config: LeftJoinOnTimeoutConfig =
    LeftJoinOnTimeoutConfig(joinWindow, retention, timeoutOpt, capacity)

  /** `buildTopology()` (`:95-122`): validate and produce the joined plan.
   * Nothing executes until an action / `writeStream.start()` — same
   * laziness as the reference (execution starts at `KafkaStreams.start()`,
   * SURVEY.md §3.1). */
  def build(): DataFrame =
    LeftJoinOnTimeout(lhs, rhs, joiner, config) // config's constructor validates

  private def copy(
      timeoutOpt: Option[Duration] = timeoutOpt,
      capacity: Int = capacity): LeftJoinOnTimeoutBuilder =
    new LeftJoinOnTimeoutBuilder(lhs, rhs, joiner, joinWindow, retention,
      timeoutOpt, capacity)
}

object LeftJoinOnTimeoutBuilder {
  /** Mirrors the reference ctor `(builder, lhs, rhs, joiner, D, R)`
   * (`LeftJoinOnTimeoutBuilder.java:45-53`); the topology builder arg
   * disappears — the DataFrame lineage is the topology. */
  def apply(lhs: DataFrame, rhs: DataFrame, joiner: LeftJoinOnTimeout.Joiner,
            joinWindow: Duration, retention: Duration): LeftJoinOnTimeoutBuilder = {
    require(lhs != null && rhs != null && joiner != null,
      "lhs, rhs and joiner must be non-null (ref :133-136)")
    new LeftJoinOnTimeoutBuilder(lhs, rhs, joiner, joinWindow, retention,
      None, LeftJoinOnTimeoutConfig.DefaultScheduledCapacity)
  }
}
