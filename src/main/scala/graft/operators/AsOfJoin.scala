package graft.operators

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of join (backward): for each left row, attach the LATEST right row
 * with `r.ts ≤ l.ts` (same key) within a lookback horizon; left rows with
 * no eligible right get a NULL right value — the temporal cousin of the
 * reference's left-join-on-timeout (SURVEY.md §2.2 lists as-of among the
 * joins the reference lacks; it's a staple of event/feature alignment in
 * training pipelines).
 *
 * Implementation is the union+window shape, NOT a join: tag both sides,
 * union, and carry the last non-null right value forward inside a
 * (key, ts)-sorted window. ONE shuffle + sort over |L|+|R| rows — a
 * join-based formulation would shuffle both sides AND explode every
 * in-horizon pair before picking the max, quadratic in band density.
 * Ties (equal key+ts): rights sort before lefts (a right at exactly
 * l.ts is visible), and among equal-ts rights the greatest value wins —
 * mirrored in the oracle's ORDER BY r.ts DESC, r.value DESC.
 */
object AsOfJoin {

  /** lhs/rhs: (key, value, ts). Output (key, lvalue, rvalue, ts), rvalue
   * nullable, one row per left row.
   *
   * `saltBuckets` is the hot-key escape hatch: the window shape puts every
   * row of a key through ONE partition, so a key carrying (say) 80% of the
   * left rows serializes 80% of the work on one task. With
   * `saltBuckets = S > 1`, left rows spread across S sub-partitions by a
   * deterministic hash of (value, ts) while each right row is REPLICATED
   * into all S — every left still sees its key's full right history, so
   * the output is bit-identical to the unsalted plan (asserted in
   * `AsOfJoinSpec`) and no merge step is needed. Cost: the shuffle carries
   * |L| + S·|R| rows — the right trade when a hot LEFT side dominates
   * (the common telemetry shape: many events, few state changes). Salting
   * helps where AQE's skew split cannot: skew-join splitting applies to
   * joins, not window partitions. */
  def backward(lhs: DataFrame, rhs: DataFrame, horizon: Duration,
               saltBuckets: Int = 1): DataFrame = {
    val (tagged, partCols) = saltedUnion(
      lhs.select(col("key"), col("value"), col("ts"), lit(1).as("side")),
      rhs.select(col("key"), col("value"), col("ts"), lit(0).as("side")), saltBuckets)
    val w = Window.partitionBy(partCols: _*)
      .orderBy(col("ts"), col("side"), col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hMs = horizon.toMillis
    tagged
      .withColumn("rv", when(col("side") === 0, col("value")))
      .withColumn("rts", when(col("side") === 0, col("ts")))
      .withColumn("last_rv", last(col("rv"), ignoreNulls = true).over(w))
      .withColumn("last_rts", last(col("rts"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(
        col("key"),
        col("value").as("lvalue"),
        when(col("last_rts") >= expr(s"ts - INTERVAL $hMs MILLISECONDS"), col("last_rv"))
          .as("rvalue"),
        col("ts"))
  }

  /** The union of the side-tagged lefts `l0` and rights `r0`, and the
   * window partition columns: `key` alone, or with `saltBuckets` > 1 also
   * a `salt` that spreads the lefts by a hash of (value, ts) and
   * replicates every right into each bucket. */
  private def saltedUnion(l0: DataFrame, r0: DataFrame,
                          saltBuckets: Int): (DataFrame, Seq[Column]) = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    if (saltBuckets == 1) (l0.unionByName(r0), Seq(col("key")))
    else {
      val l = l0.withColumn("salt",
        pmod(xxhash64(col("value"), col("ts")), lit(saltBuckets.toLong)).cast("int"))
      val r = r0.withColumn("salt",
        explode(sequence(lit(0), lit(saltBuckets - 1))))
      (l.unionByName(r), Seq(col("key"), col("salt")))
    }
  }

  /** Oracle: correlated latest-right subquery with the same tie-break. */
  def backwardSql(lhsSql: String, rhsSql: String, horizon: Duration): String = {
    val hMs = horizon.toMillis
    s"""SELECT l.key AS key, l.value AS lvalue,
       | (SELECT r.value FROM ($rhsSql) r
       |  WHERE r.key = l.key AND r.ts <= l.ts
       |    AND r.ts >= l.ts - INTERVAL $hMs MILLISECOND
       |  ORDER BY r.ts DESC, r.value DESC LIMIT 1) AS rvalue,
       | l.ts AS ts
       |FROM ($lhsSql) l""".stripMargin
  }

  /** Forward as-of: for each left row, the EARLIEST right row with
   * `l.ts ≤ r.ts ≤ l.ts + horizon` (same key), NULL when none — the
   * "next event after X" alignment (time-to-recovery, next-touch
   * attribution). Same union+window shape and cost as [[backward]]: the
   * sort is REVERSED (ts desc) so "earliest following right" becomes a
   * running `last` over the PRECEDING frame — Spark's O(n) accumulating
   * frame — rather than an unboundedFollowing frame, which WindowExec
   * recomputes per row (O(n²) per partition). Ties: a right at exactly
   * l.ts is visible to that left, and among equal-ts rights the SMALLEST
   * value wins — mirrored in the oracle's ORDER BY r.ts ASC, r.value ASC.
   *
   * `saltBuckets` works exactly as in [[backward]] (lefts spread, rights
   * replicated into every sub-partition; bit-identical output, asserted
   * in `AsOfJoinSpec`). */
  def forward(lhs: DataFrame, rhs: DataFrame, horizon: Duration,
              saltBuckets: Int = 1): DataFrame = {
    val (tagged, partCols) = saltedUnion(
      lhs.select(col("key"), col("value"), col("ts"), lit(0).as("side")),
      rhs.select(col("key"), col("value"), col("ts"), lit(1).as("side")), saltBuckets)
    // Desc-ts order: rights with r.ts >= l.ts precede their left; the
    // nearest (smallest eligible ts) is the LAST seen, so the accumulating
    // (unboundedPreceding, currentRow) frame applies. At equal ts, side
    // desc puts rights before the left (visible); among equal-ts rights,
    // value desc makes the smallest value the last seen — it wins.
    val w = Window.partitionBy(partCols: _*)
      .orderBy(col("ts").desc, col("side").desc, col("value").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hMs = horizon.toMillis
    tagged
      .withColumn("rv", when(col("side") === 1, col("value")))
      .withColumn("rts", when(col("side") === 1, col("ts")))
      .withColumn("next_rv", last(col("rv"), ignoreNulls = true).over(w))
      .withColumn("next_rts", last(col("rts"), ignoreNulls = true).over(w))
      .filter(col("side") === 0)
      .select(
        col("key"),
        col("value").as("lvalue"),
        when(col("next_rts") <= expr(s"ts + INTERVAL $hMs MILLISECONDS"), col("next_rv"))
          .as("rvalue"),
        col("ts"))
  }

  /** Oracle: correlated earliest-right subquery with the same tie-break. */
  def forwardSql(lhsSql: String, rhsSql: String, horizon: Duration): String = {
    val hMs = horizon.toMillis
    s"""SELECT l.key AS key, l.value AS lvalue,
       | (SELECT r.value FROM ($rhsSql) r
       |  WHERE r.key = l.key AND r.ts >= l.ts
       |    AND r.ts <= l.ts + INTERVAL $hMs MILLISECOND
       |  ORDER BY r.ts ASC, r.value ASC LIMIT 1) AS rvalue,
       | l.ts AS ts
       |FROM ($lhsSql) l""".stripMargin
  }
}
