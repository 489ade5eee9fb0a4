package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/**
 * Relational operator coverage over the TPC-H-ish tables — the categories
 * SURVEY.md §2.2 marks "absent from the reference, free in Spark":
 * aggregation, window functions, top-k, semi/anti joins, set operations,
 * scalar/date/JSON functions, rollup. Each query is a `SparkEntry` entry
 * with a DuckDB oracle; these prove the built-in surface end-to-end rather
 * than re-implementing it.
 *
 * Determinism: every DOUBLE aggregate is summed as DECIMAL(18,2) (exact)
 * and cast back to DOUBLE at the end — float summation order differs
 * between engines, decimal sums don't. Averages are sum/count with a
 * single final division. `year()`/`length()`/`row_number()` results are
 * cast to BIGINT on both sides (Spark returns INT where DuckDB returns
 * BIGINT).
 *
 * Scale notes: dimension tables (`region`, `nation`, `customer`) are
 * broadcast explicitly so fact-side scans never shuffle for enrichment
 * joins; aggregates rely on partial (map-side) aggregation; the top-k
 * window partitions by a low-cardinality key only after the broadcast
 * join has pruned columns.
 */
object Relational {

  private def dec(c: String): org.apache.spark.sql.Column =
    col(c).cast("decimal(18,2)")

  // ---- aggregation (TPC-H Q1 shape) ---------------------------------------

  /** Pricing summary: filter → groupBy → partial-agg-friendly sums. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        // all-integer product: rounding a computed DOUBLE to decimal is
        // engine-divergent, and even an exact DECIMAL(38,6) sum diverges
        // in the final decimal->double CAST once the scaled integer
        // passes 2^53 (DuckDB converts int128->double BEFORE dividing by
        // 10^scale; Java BigDecimal rounds the exact rational once —
        // caught by the sf10 gate). So the accumulation is a scaled
        // BIGINT (cents x discount-basis-points, exact to sum ~9e18 ≈
        // sf300) and the only float op is int64->double + ONE divide by
        // an exact power of ten — bit-identical cross-engine at any SF
        (sum((dec("l_extendedprice") * lit(100)).cast("bigint") *
            (lit(10000L) - (col("l_discount").cast("decimal(18,4)") * lit(10000)).cast("bigint")))
          .cast("double") / lit(1000000.0)).as("sum_disc_price"),
        (sum(dec("l_discount")).cast("double") / count(lit(1)).cast("double")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  def pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |                * (10000 - CAST(CAST(l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT))) AS BIGINT) AS DOUBLE)
      |   / 1000000.0 AS sum_disc_price,
      | CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---- top-k per group (window / rank) ------------------------------------

  /** Top-3 orders by price within each market segment; ties broken by
   * order key. Customer is broadcast — the fact table never shuffles for
   * the join, only for the (low-cardinality) window partition. */
  def topOrdersPerSegment(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("c_mktsegment").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
        col("rn").cast("bigint").as("rn"))
  }

  def topOrdersPerSegmentSql: String =
    """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |         CAST(row_number() OVER (PARTITION BY c_mktsegment
      |                ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 3""".stripMargin

  // ---- multi-join enrichment + aggregate ----------------------------------

  /** Revenue by region/nation: orders ⨝ customer ⨝ nation ⨝ region with
   * every dimension broadcast — one fact scan, zero enrichment shuffles,
   * then a partial-agg groupBy on (region, nation). */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(s, dir).select("r_regionkey", "r_name")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("revenue"))
  }

  def revenueByNationSql: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  // ---- semi / anti joins ---------------------------------------------------

  /** Customers having at least one order above 100k (left-semi). */
  def bigSpenders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 100000.0)
      .select("o_custkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
  }

  def bigSpendersSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin

  /** Customers with no orders at all (left-anti — the same NOT EXISTS
   * shape as the LJOT timeout branch, SURVEY.md §2.1-O5). */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, dir).select("o_custkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
  }

  def customersWithoutOrdersSql: String =
    """SELECT c_custkey, c_nationkey FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin

  // ---- set operations ------------------------------------------------------

  /** High-balance customer keys that did order (INTERSECT — distinct). */
  def activeHighBalance(s: SparkSession, dir: String): DataFrame = {
    val hb = Tables.customer(s, dir).filter(col("c_acctbal") > 5000.0)
      .select(col("c_custkey").as("custkey"))
    val ord = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
    hb.intersect(ord)
  }

  def activeHighBalanceSql: String =
    """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders""".stripMargin

  /** High-balance customer keys that never ordered (EXCEPT — distinct). */
  def inactiveHighBalance(s: SparkSession, dir: String): DataFrame = {
    val hb = Tables.customer(s, dir).filter(col("c_acctbal") > 5000.0)
      .select(col("c_custkey").as("custkey"))
    val ord = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
    hb.except(ord)
  }

  def inactiveHighBalanceSql: String =
    """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders""".stripMargin

  // ---- scalar function library --------------------------------------------

  /** Per-row string/math scalar pipeline over `part` — pure projection,
   * no shuffle, whole-stage-codegen end to end. */
  def partScalars(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      length(col("p_name")).cast("bigint").as("name_len"),
      substring(col("p_type"), 1, 5).as("type5"),
      concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
      abs(col("p_size") - 25).cast("bigint").as("size_dev"),
      floor(col("p_retailprice")).cast("bigint").as("price_floor"))

  def partScalarsSql: String =
    """SELECT p_partkey, upper(p_brand) AS brand_u,
      | CAST(length(p_name) AS BIGINT) AS name_len,
      | substring(p_type, 1, 5) AS type5,
      | p_brand || '#' || p_type AS brand_type,
      | CAST(abs(p_size - 25) AS BIGINT) AS size_dev,
      | CAST(floor(p_retailprice) AS BIGINT) AS price_floor
      |FROM part""".stripMargin

  // ---- date + JSON functions ----------------------------------------------

  /** Orders per (year, month) — date extraction + aggregate. */
  def ordersByMonth(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).cast("bigint").as("yr"),
               month(col("o_orderdate")).cast("bigint").as("mo"))
      .agg(count(lit(1)).as("n_orders"))

  def ordersByMonthSql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      | CAST(month(o_orderdate) AS BIGINT) AS mo, count(*) AS n_orders
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** JSON extraction from the events `props` column. */
  def eventProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k_val"))

  def eventPropsSql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      |FROM events WHERE event_type = 'purchase'""".stripMargin

  // ---- analytic window (running aggregate) --------------------------------

  /** Per-customer running revenue in order-date order — exact DECIMAL
   * running sum (window frames accumulate in different association orders
   * across engines; decimal makes that irrelevant). */
  def runningRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      sum(dec("o_totalprice")).over(w).cast("double").as("run_rev"),
      row_number().over(w).cast("bigint").as("rn"))
  }

  def runningRevenueSql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_rev,
      | CAST(row_number() OVER w AS BIGINT) AS rn
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // ---- sessionization -------------------------------------------------------

  /** Inactivity gap that closes a session: 30 minutes, in microseconds
   * (the events table's timestamp resolution after the ns→µs truncation
   * — see [[graft.sources.Tables.events]]). */
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /** Gap-based sessionization — the batch twin of a streaming
   * aggregation over Spark's `session_window`: a user's events split into
   * sessions wherever consecutive events are more than [[SessionGapUs]]
   * apart, then each session aggregates to one row (user_id,
   * session_id, n_events, session_start, session_end, total_value).
   * `session_id` is 1-based in per-user time order.
   *
   * Shape: ONE shuffle on `user_id` serves both windows (the lag that
   * detects gaps and the running sum that numbers sessions share the
   * same partitioning and ordering) and the session aggregate — Spark
   * plans a single Exchange followed by two Window operators and a
   * partial-capable HashAggregate. Per-user event counts are bounded in
   * any real event stream, so the per-partition sorts never spill
   * corpus-scale data; `value` sums as exact DECIMAL (the stored
   * doubles are 2-decimal prices with representation noise 11 digits
   * below the (18,6) rounding position, so both engines round
   * identically — the [[pricingSummary]] determinism note). */
  def sessionizeEvents(s: SparkSession, dir: String): DataFrame =
    withSessions(Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))

  /** A user's events in time order (ties by event_id). */
  private def sessionOrder = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))

  /** `ev` with its events numbered into sessions along [[sessionOrder]]:
   * `gap_us` to the user's previous event, `new_s` = 1 where a session
   * starts (a user's first event, or a gap over [[SessionGapUs]]), and
   * `session_id` = the running sum of `new_s`. */
  private def withSessions(ev: DataFrame): DataFrame =
    ev.withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(sessionOrder))
      .withColumn("new_s",
        when(col("gap_us").isNull || col("gap_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(
        sessionOrder.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  def sessionizeEventsSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, value,
       |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > $SessionGapUs
       |              OR lag(epoch_us(ts)) OVER w IS NULL
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, ts, value,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged)
       |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       |       count(*) AS n_events,
       |       min(ts) AS session_start, max(ts) AS session_end,
       |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
       |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** Session-local behavioral transition matrix: for every consecutive
   * event pair INSIDE a session (same user, no gap > SessionGapUs),
   * count (event_type → next event_type) across the corpus — the
   * Markov-chain read on user behavior (what follows an error? how
   * often does browse lead to purchase?) that per-type counts cannot
   * answer. Transitions never cross a session boundary: the pair is
   * dropped when the NEXT event starts a new session.
   *
   * Shape: the same single Exchange on `user_id` serves all three
   * per-user windows (gap lag, session-numbering running sum, and the
   * `lead` that pairs each event with its successor — identical
   * partitioning and ordering, so Catalyst plans one shuffle + one
   * sort), then one partial-capable hash aggregate on the (from, to)
   * pair. Transition-matrix cardinality is |event_type|², tiny at any
   * corpus scale, so the final aggregate is map-side-combined to
   * near-nothing before its exchange. */
  def sessionTransitions(s: SparkSession, dir: String): DataFrame =
    withSessions(Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type")))
      .withColumn("to_type", lead(col("event_type"), 1).over(sessionOrder))
      .withColumn("to_session", lead(col("session_id"), 1).over(sessionOrder))
      .filter(col("to_type").isNotNull && col("to_session") === col("session_id"))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .select(col("from_type"), col("to_type"), col("n_transitions"))

  def sessionTransitionsSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, event_type,
       |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > $SessionGapUs
       |              OR lag(epoch_us(ts)) OVER w IS NULL
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, ts, event_type,
       |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged),
       |paired AS (
       |  SELECT event_type AS from_type,
       |         lead(event_type) OVER w AS to_type,
       |         session_id,
       |         lead(session_id) OVER w AS to_session
       |  FROM sess
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT from_type, to_type, count(*) AS n_transitions
       |FROM paired
       |WHERE to_type IS NOT NULL AND to_session = session_id
       |GROUP BY from_type, to_type""".stripMargin

  /** Gap-filled daily resample with last-observation-carried-forward:
   * one row per user per DAY of the user's active span — observed days
   * carry their event count and the day's last `value`; gap days carry
   * 0 events and the previous observation's value (LOCF). The standard
   * feature-store densification (a model join wants one row per
   * user-day, not a sparse event stream).
   *
   * Shape — NO grid join: the day grid is GENERATED from each observed
   * day's distance to its successor (`lead` + `sequence` explode), so
   * the plan is one partial-capable hash aggregate on (user, day), one
   * window over the per-day aggregate (tiny: |active user-days|, not
   * |events|), and a generator — versus the naive calendar×users cross
   * join + left join (two shuffles of a grid that is mostly misses).
   * Output size = the grid itself, which any consumer of the
   * densification pays by definition. Span bound: a user's fill range
   * never extends beyond their own first/last observation, so one
   * long-lived user cannot inflate another's span.
   *
   * Day-last tie-break: `max_by(value, ts)` — (user_id, ts) is unique
   * in the event stream (asserted in OperatorsSpec), so the pick is
   * deterministic and matches the oracle's `arg_max(value, ts)`. */
  def gapFillLocf(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("obs_day"))
      .agg(count(lit(1)).as("n_obs"),
        max_by(col("value"), col("ts")).as("last_value"))
    val w = Window.partitionBy("user_id").orderBy("obs_day")
    obs
      .withColumn("next_day", lead(col("obs_day"), 1).over(w))
      .withColumn("day", explode(sequence(
        col("obs_day"),
        coalesce(col("next_day") - expr("INTERVAL 1 DAY"), col("obs_day")),
        expr("INTERVAL 1 DAY"))))
      .select(
        col("user_id"),
        col("day"),
        when(col("day") === col("obs_day"), col("n_obs")).otherwise(0L).as("n_events"),
        col("last_value").as("locf_value"))
  }

  def gapFillLocfSql: String =
    """WITH obs AS (
      |  SELECT user_id, date_trunc('day', ts) AS day,
      |         count(*) AS n_events,
      |         arg_max(value, ts) AS last_value
      |  FROM events GROUP BY 1, 2),
      |stepped AS (
      |  SELECT user_id, day, n_events, last_value,
      |         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      |  FROM obs),
      |grid AS (
      |  SELECT user_id, day AS obs_day, n_events, last_value,
      |         unnest(generate_series(day, coalesce(next_day - INTERVAL 1 DAY, day),
      |                                INTERVAL 1 DAY)) AS day
      |  FROM stepped)
      |SELECT user_id, day,
      |       CASE WHEN day = obs_day THEN n_events ELSE 0 END AS n_events,
      |       last_value AS locf_value
      |FROM grid""".stripMargin

  /** Microseconds per hour — bucket width for [[peakConcurrency]]. */
  val HourUs: Long = 3600L * 1000 * 1000

  /** Peak concurrent sessions per hour — the capacity-planning read on
   * the sessionized stream ("how many users were on AT ONCE", which no
   * per-hour COUNT can answer: a count conflates ten sequential
   * one-minute sessions with ten simultaneous ones). A session is
   * active over [start, end] (closed: still active at its last event);
   * concurrency at instant t is the number of covering sessions. Output
   * (hour, entering, peak): the hour bucket (epoch hours), the
   * concurrency entering the hour (constant until its first boundary —
   * also the hour's level throughout if it has no boundaries), and the
   * hour's maximum.
   *
   * Shape — the distributed prefix-sum pattern ([[graft.operators.Corpus.budgetSample]]'s
   * two-level cumulative sum, on time buckets instead of hash buckets):
   * sessions emit ±1 boundary deltas (+1 at start, −1 at end+1µs, so
   * the closed interval counts through its last instant), deltas net
   * per distinct timestamp in one partial-agg groupBy (no tie-ordering
   * ambiguity can exist after netting), per-hour sums roll up to
   * O(hours) rows whose global running sum is the only unpartitioned
   * window (tiny at any scale — a century is &lt; 10⁶ rows), and the
   * row-level running concurrency sorts only WITHIN each hour. Every
   * value is an exact BIGINT; no floats anywhere. */
  def peakConcurrency(s: SparkSession, dir: String): DataFrame = {
    // persisted: the sessionize pipeline feeds BOTH halves of the
    // enter/leave union, and the per-timestamp net feeds the bucket
    // rollup AND the in-bucket running join — both relations are two
    // narrow columns; unpersisted, the full sessionization replayed
    // per consumer (four events scans)
    val sess = sessionizeEvents(s, dir)
      .select(unix_micros(col("session_start")).as("s_us"),
        (unix_micros(col("session_end")) + 1L).as("e_us"))
      .persist()
    val bounds = sess.select(col("s_us").as("ts_us"), lit(1L).as("delta"))
      .unionByName(sess.select(col("e_us").as("ts_us"), lit(-1L).as("delta")))
    val net = bounds.groupBy(col("ts_us")).agg(sum(col("delta")).as("d"))
      .withColumn("hb", expr(s"ts_us div $HourUs"))
      .persist()
    val enter = net.groupBy(col("hb")).agg(sum(col("d")).as("bd"))
      .withColumn("cum", sum(col("bd")).over(
        Window.orderBy("hb").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("hb").as("e_hb"), (col("cum") - col("bd")).as("entering"))
    net.join(enter, col("hb") === col("e_hb"))
      .withColumn("run", col("entering") + sum(col("d")).over(
        Window.partitionBy("hb").orderBy("ts_us")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("hb"))
      .agg(max(col("entering")).as("en"), max(col("run")).as("mx"))
      .select(col("hb").as("hour"), col("en").cast("bigint").as("entering"),
        greatest(col("en"), col("mx")).cast("bigint").as("peak"))
  }

  /** Oracle: the single-level global running sum (fine at oracle scale)
   * — integer-identical to the two-level form — with the same
   * bucket-level entering values. */
  def peakConcurrencySql: String =
    s"""WITH sessions AS (${sessionizeEventsSql}),
       |b AS (
       |  SELECT epoch_us(session_start) AS ts_us, 1 AS delta FROM sessions
       |  UNION ALL
       |  SELECT epoch_us(session_end) + 1, -1 FROM sessions),
       |net AS (
       |  SELECT ts_us, ts_us // $HourUs AS hb, CAST(sum(delta) AS BIGINT) AS d
       |  FROM b GROUP BY ts_us),
       |hb_enter AS (
       |  SELECT hb, CAST(sum(bd) OVER (ORDER BY hb) - bd AS BIGINT) AS entering
       |  FROM (SELECT hb, sum(d) AS bd FROM net GROUP BY hb)),
       |r AS (SELECT ts_us, hb, CAST(sum(d) OVER (ORDER BY ts_us) AS BIGINT) AS run
       |      FROM net)
       |SELECT r.hb AS hour, e.entering AS entering,
       |       greatest(e.entering, max(r.run)) AS peak
       |FROM r JOIN hb_enter e ON e.hb = r.hb
       |GROUP BY r.hb, e.entering""".stripMargin

  /** Z-score cut for [[eventRateOutliers]]. */
  val RateOutlierZ = 2.0

  /** Hourly ingestion-rate anomalies per event type — the pipeline-health
   * monitor ("did clicks crater at 3am? did errors spike?"): each
   * (type, hour) volume scored against the type's own hourly
   * distribution, flagged at |z| ≥ [[RateOutlierZ]]. The time-bucketed
   * twin of [[graft.operators.Corpus.lengthOutliers]]'s exact-moment
   * z-score.
   *
   * Shape: one partial-agg pass to O(types · hours) hourly counts; the
   * per-type moments (count, Σc, Σc² as DECIMAL(38,0) — overflow-proof)
   * reduce that to O(types) rows which broadcast back over the hourly
   * relation. z is a fixed IEEE sequence over exact integers, so the
   * flagged set hash-compares cross-engine. Output
   * (event_type, hour, n_events, z) for flagged hours only. */
  def eventRateOutliers(s: SparkSession, dir: String): DataFrame = {
    val n = col("nh").cast("double")
    val mu = col("s1").cast("double") / n
    val sigma = sqrt(col("s2").cast("double") / n - mu * mu)
    val z = (col("n_events").cast("double") - mu) / sigma
    val hourly = Tables.events(s, dir)
      // `div`, not `/`: Spark's `/` on BIGINT is true division (DOUBLE)
      .select(col("event_type"),
        expr(s"unix_micros(ts) div $HourUs").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    val stats = hourly.groupBy(col("event_type").as("s_type"))
      .agg(count(lit(1)).as("nh"), sum(col("n_events")).as("s1"),
        sum((col("n_events") * col("n_events")).cast("decimal(38,0)")).as("s2"))
    hourly.join(broadcast(stats), col("event_type") === col("s_type"))
      .withColumn("z", z)
      .filter(abs(col("z")) >= lit(RateOutlierZ))
      .select(col("event_type"), col("hour"), col("n_events"), col("z"))
  }

  /** Oracle note: `unix_micros(ts) / HourUs` floor-divides in Spark
   * (integral `/` on BIGINT) and `//` floor-divides in DuckDB —
   * identical on the positive epoch range. */
  def eventRateOutliersSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_us(ts) // $HourUs AS hour, count(*) AS n_events
       |  FROM events GROUP BY 1, 2),
       |st AS (
       |  SELECT event_type AS s_type, count(*) AS nh, sum(n_events) AS s1,
       |         sum(CAST(n_events * n_events AS DECIMAL(38,0))) AS s2
       |  FROM hourly GROUP BY 1)
       |SELECT event_type, hour, n_events,
       |       (CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE))
       |         / sqrt(CAST(s2 AS DOUBLE) / CAST(nh AS DOUBLE)
       |                - (CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE))
       |                  * (CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE))) AS z
       |FROM hourly JOIN st ON s_type = event_type
       |WHERE abs((CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE))
       |         / sqrt(CAST(s2 AS DOUBLE) / CAST(nh AS DOUBLE)
       |                - (CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE))
       |                  * (CAST(s1 AS DOUBLE) / CAST(nh AS DOUBLE)))) >= $RateOutlierZ""".stripMargin

  // ---- rollup --------------------------------------------------------------

  /** Customer counts with region/nation subtotals (ROLLUP). */
  def customerRollup(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(s, dir).select("r_regionkey", "r_name")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"))
  }

  def customerRollupSql: String =
    """SELECT r_name, n_name, count(*) AS n_cust
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)""".stripMargin

  // ---- distinct aggregate --------------------------------------------------

  /** Distinct customers per order status. */
  def distinctCustomers(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"))

  def distinctCustomersSql: String =
    "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust FROM orders GROUP BY 1"

  // ---- key-skew profiling --------------------------------------------------

  /** Top-[[SkewTopN]] heavy-hitter keys of `keyCol` with their share of
   * the table — the diagnostic run BEFORE a big join or aggregation to
   * decide the skew strategy (salt, AQE skew split, broadcast, or
   * nothing): a top key holding >1% of a 100 TB table means its shuffle
   * partition alone is ~1 TB and the plan needs salting.
   *
   * Scale shape: the per-key count is a partial (map-side combining)
   * aggregate — the hot key itself never concentrates rows before being
   * reduced to ONE (key, n) row per map task — and the top-N is
   * `TakeOrdered` (per-partition heap + driver merge of N·P rows), never
   * a global sort. The only non-distributed piece is the final N-row
   * share/rank projection. The table total comes from ONE plan-time
   * count (the `corpusSize` precedent — metadata-cheap on parquet),
   * mirrored by the oracle's scalar subquery; share is a single IEEE
   * divide of two exact integers, bit-identical cross-engine. */
  val SkewTopN = 20

  def keySkew(df: DataFrame, keyCol: String, topN: Int = SkewTopN): DataFrame = {
    val total = ScanMemo.exactCount(df)
    // asc_nulls_last pins the tiebreak for NULL keys: Spark's bare ASC is
    // NULLS FIRST, DuckDB's is NULLS LAST — a NULL key tied at the top-N
    // boundary would otherwise rank differently per engine (the checked
    // events.user_id is non-null, but keySkew is a generic helper)
    df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("key").asc_nulls_last).limit(topN)
      .select(col("key"), col("n"),
        (col("n").cast("double") / lit(total).cast("double")).as("share"),
        row_number().over(Window.orderBy(col("n").desc, col("key").asc_nulls_last))
          .cast("bigint").as("rank"))
  }

  /** The checked profile: event counts per user — the LJOT join key,
   * i.e. exactly the skew that would land on the flagship join. */
  def eventKeySkew(s: SparkSession, dir: String): DataFrame =
    keySkew(Tables.events(s, dir), "user_id")

  def eventKeySkewSql: String =
    s"""WITH counts AS (SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1),
       |top AS (SELECT key, n FROM counts ORDER BY n DESC, key ASC NULLS LAST LIMIT $SkewTopN)
       |SELECT key, n,
       |       CAST(n AS DOUBLE) / CAST((SELECT count(*) FROM events) AS DOUBLE) AS share,
       |       CAST(row_number() OVER (ORDER BY n DESC, key ASC NULLS LAST) AS BIGINT) AS rank
       |FROM top""".stripMargin

  // ---- skew-mitigated join (salting) ---------------------------------------

  /** Salt fan-out for [[saltedSegmentJoin]] — the number of sub-keys a
   * hot key's rows spread across. S × the dim's row count is the whole
   * replication cost; a 16-way salt turns a 1 TB hot partition into
   * 16 × 64 GB ones. */
  val JoinSaltFactor = 8

  /** Customer-segment rollup of events via an explicitly SALTED fact⋈dim
   * equi-join — the mitigation for exactly the skew [[eventKeySkew]]
   * diagnoses: one key holding >1% of a 100 TB events table means the
   * plain shuffle join sends ~1 TB to ONE reducer. Salting rewrites
   * `fact ⋈ dim ON k` as `fact+salt ⋈ (dim × salts) ON (k, salt)`: every
   * fact row gets a uniform salt in [0, S), the dim replicates S ways
   * (cheap — dims are orders of magnitude smaller than facts), and the
   * hot key's rows now hash to S distinct reducers. The join result is
   * IDENTICAL to the unsalted join under ANY salt assignment — each fact
   * row still meets exactly its key's dim rows, exactly once — which is
   * what the oracle checks (the DuckDB side is the PLAIN join). The
   * shuffle-hash hint keeps the demo honest: a broadcast would bypass
   * the shuffle entirely (the right fix when the dim fits in executor
   * memory; salting is for when it doesn't). Salt derives from xxhash64
   * of the fact's unique id — deterministic, uniform, independent of the
   * join key. AQE's skew-join split solves the same problem at runtime
   * for sort-merge plans; the explicit salt is the portable form (works
   * under any join strategy and in streaming, where AQE can't re-plan). */
  def saltedSegmentJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("__salt",
        pmod(xxhash64(col("event_id")), lit(JoinSaltFactor)).cast("int"))
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("__salt", explode(sequence(lit(0), lit(JoinSaltFactor - 1))))
      .hint("shuffle_hash")
    fact.join(dim,
        fact("user_id") === dim("c_custkey") && fact("__salt") === dim("__salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
  }

  def saltedSegmentJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // ---- KMV (bottom-k) distinct sketch --------------------------------------

  /** Sketch size. Relative standard error ≈ 1/√(k−1) ≈ 12.6%. Sized so
   * the shared sf0.01 data (150 distinct users per event type) takes the
   * ESTIMATOR branch under the driver's oracle gate — k=256 left hk null
   * everywhere the oracle looked and the estimator went to production
   * untested (it overflowed at sf0.1; see [[hexVal13]]). */
  val KmvK = 64

  /** First 13 hex chars of `h` as an exact BIGINT (52 bits — exact in
   * double too). Pure `instr`/`substring` arithmetic, valid verbatim in
   * BOTH Spark SQL and DuckDB — the one string is the cross-engine
   * contract. Each positional weight is CAST to
   * BIGINT: Spark parses sub-2³¹ literals as INT, and digit × 2²⁸
   * overflows INT under ANSI mode (DuckDB silently promotes — the
   * divergence only bites when hk is non-null). */
  private[operators] def hexVal13(h: String): String =
    (1 to 13).map { i =>
      s"(instr('0123456789abcdef', substring($h, $i, 1)) - 1) * " +
        s"CAST(${1L << (4 * (13 - i))} AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** KMV estimate from (m = |bottom-k|, hk = k-th smallest hash or null):
   * fewer than k distinct hashes → m IS the exact count; otherwise
   * (k−1) / (hk as a fraction of the hash space). Two correctly-rounded
   * IEEE divisions, identical text on both engines. */
  private def kmvEstimator: String =
    s"""CASE WHEN hk IS NULL OR ${hexVal13("hk")} = 0 THEN CAST(m AS DOUBLE)
       |ELSE CAST(${KmvK - 1} AS DOUBLE) /
       |     (CAST(${hexVal13("hk")} AS DOUBLE) / ${1L << 52}.0) END""".stripMargin

  /** Distinct users per event type by a KMV (bottom-k) sketch — the
   * deterministic, engine-portable alternative to
   * `approx_count_distinct`: HyperLogLog internals differ per engine, so
   * that query can only ever be rows-checked, while the k minima of
   * md5(user_id) are a pure function of the data (Beyer et al. 2007,
   * "On synopses for distinct-value estimation under multiset
   * operations").
   *
   * Scale shape: one distinct on the uniform (event_type, h) pair, then
   * bottom-k in two levels — k minima within each (event_type, 2-hex-char
   * salt) sub-partition first, so no single reducer ever sorts a whole
   * event type's hash set; the global pass ranks at most 256·k
   * survivors per group (the global bottom-k is a subset of the union of
   * salt-local bottom-ks, so the result is IDENTICAL to the oracle's
   * single-window form — the salt level exists only to bound sort
   * memory). */
  def kmvDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    val uh = Tables.events(s, dir)
      .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
      .distinct()
    val wLocal = Window.partitionBy(col("event_type"), substring(col("h"), 1, 2))
      .orderBy(col("h"))
    val wGlobal = Window.partitionBy(col("event_type")).orderBy(col("h"))
    uh.withColumn("rn1", row_number().over(wLocal)).filter(col("rn1") <= KmvK)
      .withColumn("rn", row_number().over(wGlobal)).filter(col("rn") <= KmvK)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"), max(when(col("rn") === KmvK, col("h"))).as("hk"))
      .select(col("event_type"), expr(kmvEstimator).as("n_users_kmv"))
  }

  def kmvDistinctUsersSql: String =
    s"""WITH uh AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |bot AS (SELECT event_type, h,
       |               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |        FROM uh),
       |agg AS (SELECT event_type, count(*) AS m,
       |               max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |        FROM bot WHERE rn <= $KmvK GROUP BY event_type)
       |SELECT event_type, ${kmvEstimator.replace("\n", " ")} AS n_users_kmv FROM agg""".stripMargin

  /** [[kmvDistinctUsers]] recomputed by the native
   * [[graft.plans.KmvDistinctAgg]] TypedImperativeAggregate — the
   * raw-scale form: the window twin pays a DISTINCT shuffle plus two
   * window sorts over the distinct hash set, while this is ONE
   * ObjectHashAggregate pass whose exchange carries one ≤[[KmvK]]-entry
   * sketch per (task, event_type) at ANY corpus size. Because KMV
   * bottom-k is a pure function of the input SET (insert/union-trim are
   * order-independent, unlike Misra-Gries counts), the output is
   * deterministic under any merge order and the driver gate is the FULL
   * hash check against the window-form oracle — exports
   * (event_type, m, hk, n_users_kmv) so the sketch interior (bottom-k
   * size + k-th minimum) is value-pinned cross-engine too, not just the
   * final estimate. */
  def kmvDistinctAggUsers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val h = md5(col("user_id").cast("string"))
    val sk = toCol(graft.plans.KmvDistinctAgg(toExpr(h), KmvK).toAggregateExpression())
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(sk.as("sk"))
      .select(col("event_type"), col("sk.m").as("m"), col("sk.hk").as("hk"),
        col("sk.est").as("n_users_kmv"))
  }

  def kmvDistinctAggUsersSql: String =
    s"""WITH uh AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |bot AS (SELECT event_type, h,
       |               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |        FROM uh),
       |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
       |               max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |        FROM bot WHERE rn <= $KmvK GROUP BY event_type)
       |SELECT event_type, m, hk, ${kmvEstimator.replace("\n", " ")} AS n_users_kmv FROM agg""".stripMargin

  /** Sketch size for the PER-DAY grouped KMV: sized so the shared sf0.01
   * data (42–67 distinct users per (event_type, day)) exercises BOTH
   * branches under the driver's oracle gate — groups below 48 report the
   * exact count, groups at/above it the estimator (the [[KmvK]] = 64
   * global lesson applied to the finer grouping). */
  val KmvDayK = 48

  /** Distinct users per (event_type, day) by the native
   * [[graft.plans.KmvDistinctAgg]] — the GROUPED sketch form next to the
   * global [[kmvDistinctAggUsers]]: the everyday "distinct users per
   * segment per day" report, where the raw-scale win is largest (an
   * exact per-group DISTINCT shuffles O(users·groups) rows; this ships
   * one ≤k sketch per (task, group)). Merge-order-free like the global
   * form, so the driver gate is the FULL hash check against the
   * window-form oracle. Output (event_type, day, m, hk, n_users_kmv). */
  def kmvUsersByDay(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val h = md5(col("user_id").cast("string"))
    val sk = toCol(graft.plans.KmvDistinctAgg(toExpr(h), KmvDayK).toAggregateExpression())
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(sk.as("sk"))
      .select(col("event_type"), col("day"), col("sk.m").as("m"), col("sk.hk").as("hk"),
        col("sk.est").as("n_users_kmv"))
  }

  /** [[kmvEstimator]] at sketch size `k` (the shared text is pinned to
   * [[KmvK]]; the grouped/audit forms parameterize it). */
  private[operators] def kmvEstimatorAt(k: Int): String =
    s"""CASE WHEN hk IS NULL OR ${hexVal13("hk")} = 0 THEN CAST(m AS DOUBLE)
       |ELSE CAST(${k - 1} AS DOUBLE) /
       |     (CAST(${hexVal13("hk")} AS DOUBLE) / ${1L << 52}.0) END""".stripMargin

  // DuckDB's date_trunc('day'|'week', TIMESTAMP) is a DATE, Spark's a TIMESTAMP
  def kmvUsersByDaySql: String =
    s"""WITH uh AS (SELECT DISTINCT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |                   md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |bot AS (SELECT event_type, day, h,
       |               row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
       |        FROM uh),
       |agg AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS m,
       |               max(CASE WHEN rn = $KmvDayK THEN h END) AS hk
       |        FROM bot WHERE rn <= $KmvDayK GROUP BY event_type, day)
       |SELECT event_type, day, m, hk,
       |       ${kmvEstimatorAt(KmvDayK).replace("\n", " ")} AS n_users_kmv
       |FROM agg""".stripMargin

  /** KMV estimator-error audit — the `ann_recall`-style measurement for
   * the sketch family: per event_type, the exact distinct user count
   * next to the [[KmvK]]-sketch estimate and the absolute/relative
   * error. The design-point check a pipeline runs BEFORE trusting the
   * sketch at raw scale, where exact distinct is unaffordable but a
   * sampled audit tier like this stays cheap. Everything is
   * deterministic (exact BIGINT count; the estimator's two IEEE
   * divisions over the exact 52-bit hash prefix), so the driver gate is
   * the full hash check. Output (event_type, n_exact, n_kmv, abs_err,
   * rel_err); rel_err ≈ RSE 1/√(k−1) ≈ 12.6% at k = [[KmvK]].
   *
   * Scale shape: ONE distinct-exchange on the uniform (event_type, h)
   * pair feeds both the exact count and the window bottom-k — the
   * audit costs what the exact side costs, as any audit must. */
  def kmvErrorAudit(s: SparkSession, dir: String): DataFrame = {
    // persist: the distinct exchange — the query's dominant cost at any
    // scale — feeds BOTH the bottom-k sketch side and the exact count
    val uh = Tables.events(s, dir)
      .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
      .distinct().persist()
    val wLocal = Window.partitionBy(col("event_type"), substring(col("h"), 1, 2))
      .orderBy(col("h"))
    val wGlobal = Window.partitionBy(col("event_type")).orderBy(col("h"))
    uh.withColumn("rn1", row_number().over(wLocal)).filter(col("rn1") <= KmvK)
      .withColumn("rn", row_number().over(wGlobal))
      .groupBy(col("event_type"))
      .agg(sum(when(col("rn") <= KmvK, 1L).otherwise(0L)).as("m"),
        max(when(col("rn") === KmvK, col("h"))).as("hk"))
      .join(uh.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact")), "event_type")
      .select(col("event_type"), col("n_exact"),
        expr(kmvEstimator).as("n_kmv"))
      .select(col("event_type"), col("n_exact"), col("n_kmv"),
        abs(col("n_kmv") - col("n_exact").cast("double")).as("abs_err"),
        (abs(col("n_kmv") - col("n_exact").cast("double")) /
          col("n_exact").cast("double")).as("rel_err"))
  }

  def kmvErrorAuditSql: String =
    s"""WITH uh AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |bot AS (SELECT event_type, h,
       |               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |        FROM uh),
       |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
       |               max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |        FROM bot WHERE rn <= $KmvK GROUP BY event_type),
       |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM uh GROUP BY event_type),
       |est AS (SELECT a.event_type, e.n_exact,
       |               ${kmvEstimator.replace("\n", " ")} AS n_kmv
       |        FROM agg a JOIN ex e ON a.event_type = e.event_type)
       |SELECT event_type, n_exact, n_kmv,
       |       abs(n_kmv - CAST(n_exact AS DOUBLE)) AS abs_err,
       |       abs(n_kmv - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM est""".stripMargin

  /** HLL++ relative-sd design point of `approx_distinct_users` (Spark's
   * `approx_count_distinct` default) and the audited 3σ envelope. */
  val HllRsd = 0.05
  val HllErrBound: Double = 3 * HllRsd

  /** HLL estimator-error audit — the oracle-checkable twin of
   * `approx_distinct_users` in the [[kmvErrorAudit]] family: per
   * event_type, the exact distinct count (SQL-derivable), the audited
   * relative-error envelope (3× the configured rsd — the standard-error
   * bound HLL++ is designed to), and whether the estimate landed inside
   * it. The estimate itself is engine-specific sketch interior and NOT
   * emitted; `within_bound` is deterministic on fixed data (HLL++ is
   * hash-deterministic and merge-order-free), so the driver's hash
   * check makes the sketch's accuracy visible every round. Output
   * (event_type, n_exact, rel_err_bound, within_bound).
   *
   * Scale shape: the exact side is the distinct exchange any audit tier
   * pays; the sketch side rides the SAME aggregation (two aggregate
   * expressions, one pass each after Spark's distinct expansion). */
  def hllErrorAudit(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), HllRsd).as("n_hll"))
      .select(col("event_type"), col("n_exact"),
        lit(HllErrBound).as("rel_err_bound"),
        (abs(col("n_hll").cast("double") - col("n_exact").cast("double")) /
          col("n_exact").cast("double") <= lit(HllErrBound)).as("within_bound"))

  def hllErrorAuditSql: String =
    s"""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       |       CAST($HllErrBound AS DOUBLE) AS rel_err_bound,
       |       true AS within_bound
       |FROM events GROUP BY event_type""".stripMargin

  /** Set-operation estimation from KMV sketches (Beyer et al. 2007 §4 —
   * the "multiset operations" half of the paper the distinct estimator
   * comes from): the bottom-k of A ∪ B is computable from the two
   * per-side bottom-k's alone, and the fraction ρ of those union minima
   * present in BOTH sides estimates |A ∩ B| as ρ · est(|A ∪ B|). This
   * is how an optimizer prices a join's output (or a pipeline prices an
   * incremental-dedup pass) WITHOUT touching raw data twice: per-side
   * sketches are O(k), the set arithmetic is driver-free column math on
   * two ≤k arrays. One corpus pass builds BOTH side sketches
   * (conditional child — NULLs skip the update), the exact
   * union/overlap ride the same pass's distinct relation for the audit
   * columns. Everything is deterministic → full hash check. Output one
   * row: (m, hk, n_both, est_union, est_intersect, n_union_exact,
   * n_intersect_exact). */
  def kmvOverlapAudit(s: SparkSession, dir: String): DataFrame =
    overlapAuditOf(Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "error")), "purchase", "error")

  /** The set-operation arithmetic over any (event_type, user_id)-shaped
   * input — separated so the spec can drive PARTIAL-overlap sets (the
   * shared tables' user sets overlap fully at every SF, which exercises
   * the ρ = 1 edge but not the estimator's interior). */
  private[graft] def overlapAuditOf(ev: DataFrame,
                                        sideA: String, sideB: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val h = md5(col("user_id").cast("string"))
    def sideSketch(t: String) = toCol(graft.plans.KmvMinsAgg(
      toExpr(when(col("event_type") === t, h)), KmvK).toAggregateExpression())
    val sketchRow = ev
      .agg(sideSketch(sideA).as("a"), sideSketch(sideB).as("b"))
      // materialize ku as a real column FIRST: element_at over an inline
      // array expression re-evaluates the whole expression per access
      .select(col("a"), col("b"),
        slice(array_sort(array_union(col("a"), col("b"))), 1, KmvK).as("ku"))
      .select(
        size(col("ku")).cast("bigint").as("m"),
        when(size(col("ku")) === KmvK, element_at(col("ku"), KmvK)).as("hk"),
        size(array_intersect(array_intersect(col("ku"), col("a")), col("b")))
          .cast("bigint").as("n_both"))
    val exactRow = ev
      .select(col("event_type"), h.as("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("sides"))
      .agg(count(lit(1)).as("n_union_exact"),
        sum(when(col("sides") === 2, 1L).otherwise(0L)).as("n_intersect_exact"))
    sketchRow.crossJoin(exactRow) // two 1-row relations
      .select(col("m"), col("hk"), col("n_both"),
        expr(kmvEstimator).as("est_union"),
        expr(s"CAST(n_both AS DOUBLE) * (${kmvEstimator.replace("\n", " ")}) / CAST(m AS DOUBLE)")
          .as("est_intersect"),
        col("n_union_exact"), col("n_intersect_exact"))
  }

  def kmvOverlapAuditSql: String =
    s"""WITH uh AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
       |            FROM events WHERE event_type IN ('purchase', 'error')),
       |a AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
       |                     FROM (SELECT DISTINCT h FROM uh WHERE event_type = 'purchase'))
       |      WHERE rn <= $KmvK),
       |b AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
       |                     FROM (SELECT DISTINCT h FROM uh WHERE event_type = 'error'))
       |      WHERE rn <= $KmvK),
       |ku AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
       |                      FROM (SELECT h FROM a UNION SELECT h FROM b))
       |       WHERE rn <= $KmvK),
       |sk AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ku) AS m,
       |              (SELECT CASE WHEN count(*) = $KmvK THEN max(h) END FROM ku) AS hk,
       |              (SELECT CAST(count(*) AS BIGINT)
       |               FROM ku JOIN a USING (h) JOIN b USING (h)) AS n_both),
       |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_union_exact,
       |              CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_intersect_exact
       |       FROM (SELECT h, count(*) AS sides FROM uh GROUP BY h))
       |SELECT m, hk, n_both, ${kmvEstimator.replace("\n", " ")} AS est_union,
       |       CAST(n_both AS DOUBLE) * (${kmvEstimator.replace("\n", " ")}) / CAST(m AS DOUBLE) AS est_intersect,
       |       n_union_exact, n_intersect_exact
       |FROM sk CROSS JOIN ex""".stripMargin

  /** Trailing window width for [[kmvRollingUsers]] (days, inclusive). */
  val RollDays = 7

  /** Rolling trailing-[[RollDays]]-day distinct users per day via KMV
   * sketch COMPOSITION — the query exact methods cannot survive at raw
   * scale: an exact rolling distinct either re-scans every window
   * ([[RollDays]]× the data) or holds per-(user, window) state
   * (O(users·windows) exchange). Here ONE aggregate pass builds a
   * per-day bottom-k hash array ([[graft.plans.KmvMinsAgg]]), and every
   * window is a RELATIONAL merge over O(days·k) rows: the bottom-k of a
   * set union is the bottom-k of the concatenated per-set bottom-k's
   * (every global minimum is a minimum of its own day — Beyer et al.
   * 2007), so explode + re-rank over the tiny sketch relation
   * reconstructs each window's sketch EXACTLY as if built from raw
   * data. The window fan-out is an `explode(sequence(...))` +
   * equi-semi-join on observed days — never a range join. Everything
   * downstream of the one corpus pass is deterministic, so the driver
   * gate is the full hash check. Output (day_end, m, hk, n_users_7d);
   * day_end is the epoch-day of the trailing window's last day. */
  def kmvRollingUsers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val h = md5(col("user_id").cast("string"))
    val sk = toCol(graft.plans.KmvMinsAgg(toExpr(h), KmvK).toAggregateExpression())
    val daySk = Tables.events(s, dir)
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).cast("bigint").as("day"))
      .agg(sk.as("mins"))
      .persist() // feeds the window fan-out AND the observed-day list
    val contrib = daySk
      .select(col("day"), explode(col("mins")).as("h"))
      .select(explode(sequence(col("day"), col("day") + lit(RollDays - 1).cast("bigint")))
        .as("day_end"), col("h"))
      // trailing windows end only on OBSERVED days (equi semi-join — a
      // BETWEEN range join would be a BNLJ)
      .join(daySk.select(col("day").as("day_end")), Seq("day_end"), "left_semi")
      // a user hash can sit in several days' sketches within one window
      .distinct()
    val w = Window.partitionBy(col("day_end")).orderBy(col("h"))
    contrib.withColumn("rn", row_number().over(w)).filter(col("rn") <= KmvK)
      .groupBy(col("day_end"))
      .agg(count(lit(1)).as("m"), max(when(col("rn") === KmvK, col("h"))).as("hk"))
      .select(col("day_end"), col("m"), col("hk"),
        expr(kmvEstimator).as("n_users_7d"))
  }

  def kmvRollingUsersSql: String =
    s"""WITH uh AS (SELECT DISTINCT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
       |                   md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |day_bot AS (SELECT day, h,
       |                   row_number() OVER (PARTITION BY day ORDER BY h) AS rn
       |            FROM uh),
       |day_sk AS (SELECT day, h FROM day_bot WHERE rn <= $KmvK),
       |days AS (SELECT DISTINCT day FROM uh),
       |contrib AS (SELECT DISTINCT d.day AS day_end, s.h
       |            FROM day_sk s JOIN days d
       |            ON d.day BETWEEN s.day AND s.day + ${RollDays - 1}),
       |ranked AS (SELECT day_end, h,
       |                  row_number() OVER (PARTITION BY day_end ORDER BY h) AS rn
       |           FROM contrib),
       |agg AS (SELECT day_end, CAST(count(*) AS BIGINT) AS m,
       |               max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |        FROM ranked WHERE rn <= $KmvK GROUP BY day_end)
       |SELECT day_end, m, hk, ${kmvEstimator.replace("\n", " ")} AS n_users_7d
       |FROM agg""".stripMargin

  // ---- pivot (wide cross-tab) ----------------------------------------------

  /** The document sources, pinned so [[docSourcePivot]] runs as a SINGLE
   * aggregation pass: `pivot(col)` without explicit values launches a
   * driver-side distinct-collect job first (and its column set would
   * float with the data). */
  val PivotSources: Seq[String] = (0 until 20).map(i => s"src$i")

  /** Cross-tab of document counts, languages × sources — the reshape step
   * of every mixture report. With the value list pinned this is one
   * hash aggregate on `lang` (5 groups) whose buffer holds 20 counters —
   * map-side combining reduces the shuffle to rows × sources, O(langs)
   * rows total, at any corpus size. Absent combinations are 0 (not
   * null) to match the oracle's `count(*) FILTER`. */
  def docSourcePivot(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("lang"), col("source"))
      .groupBy(col("lang"))
      .pivot("source", PivotSources)
      .agg(count(lit(1)))
      .na.fill(0L, PivotSources)

  def docSourcePivotSql: String = {
    val cols = PivotSources.map(v => s"count(*) FILTER (WHERE source = '$v') AS $v")
    s"SELECT lang, ${cols.mkString(", ")} FROM documents GROUP BY lang"
  }

  // ---- cube (all grouping-set subtotals) -----------------------------------

  /** Order counts and exact revenue with subtotals over EVERY subset of
   * (status, priority) — CUBE. Spark expands the cube in one aggregate
   * (grouping-set expansion rides the partial aggregate, so the shuffle
   * carries ≤ 4× the 15 base groups, not 4× the input); revenue is
   * summed as DECIMAL for cross-engine determinism, like every double
   * aggregate here. */
  def ordersCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec("o_totalprice")).cast("double").as("revenue"))

  def ordersCubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  // ---- funnel (staged sequential conversion) -------------------------------

  /** Three-stage conversion funnel over the event stream: users who
   * viewed, users who then clicked strictly after their first view, and
   * users who then purchased strictly after that first qualifying click.
   * The product-analytics staple (every "did the feature convert"
   * dashboard) — and a sequence pattern the reference's per-key joiner
   * could only express with three chained topologies.
   *
   * Shape: ONE shuffle on `user_id`, then three window passes over the
   * same partitioning (Catalyst plans a single Exchange for all three
   * `Window` nodes — each stage's first-qualifying timestamp is a
   * conditional `min` over the user's partition referencing the previous
   * stage's column), a per-user collapse riding the same partitioning,
   * and a final all-to-one partial-aggregated count. Per-user state is
   * three timestamps — no event list is ever materialized, so a user
   * with millions of events costs the same as one with three. */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("vt", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("ct", min(when(col("event_type") === "click" && col("ts") > col("vt"),
        col("ts"))).over(w))
      .withColumn("pt", min(when(col("event_type") === "purchase" && col("ts") > col("ct"),
        col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("vt")).as("uvt"), min(col("ct")).as("uct"), min(col("pt")).as("upt"))
      .agg(count(col("uvt")).as("n_view"),
        count(col("uct")).as("n_view_click"),
        count(col("upt")).as("n_full_funnel"))
  }

  def funnelStagesSql: String =
    """WITH v AS (
      |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS vt
      |  FROM events GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS ct
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS pt
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id)
      |SELECT (SELECT count(vt) FROM v) AS n_view,
      |       (SELECT count(*) FROM c) AS n_view_click,
      |       (SELECT count(*) FROM p) AS n_full_funnel""".stripMargin

  // ---- shipping priority (TPC-H Q3 shape) ----------------------------------

  /** The classic Q3 plan shape — the suite's deepest relational join: a
   * selective dimension filter (BUILDING customers, explicitly
   * broadcast — the fact tables never shuffle for it), two date-pruned
   * fact scans joined on the order key (AQE's choice: broadcast at test
   * scale where filtered orders fit, degrading to the orderkey-keyed
   * shuffle join at cluster scale), a partial-agg revenue rollup, and a
   * TakeOrdered top-10 (per-partition
   * heap + driver merge — no global sort). Revenue is exact DECIMAL
   * arithmetic per the file convention (price × (1 − discount) as
   * decimals, summed exactly, ONE final cast to double), and the
   * (revenue, date, orderkey) ordering has a unique tiebreak so both
   * engines select the identical 10 rows. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("1998-06-01 00:00:00")
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit(cutoff))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit(cutoff))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
  }

  def shippingPrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  // ---- event-value histogram -----------------------------------------------

  /** Equi-width histogram bin size for [[eventValueHistogram]]. */
  val HistBinWidth = 10.0

  /** Per-type equi-width value histogram — the distribution profile a
   * monitoring/anomaly layer reads (a payments stream whose `value`
   * histogram shifts a bin is worth an alert long before a mean moves).
   * Fixed-width bins (`floor(value / w)`) rather than data-derived
   * bounds, so the aggregate is ONE partial-agg pass with no prior
   * min/max job and bins are append-stable across runs. `floor` before
   * the BIGINT cast on BOTH engines (Spark's double→BIGINT cast
   * truncates, DuckDB's rounds — floor makes the value integral first,
   * so the casts agree). Output O(types · occupied bins) rows; min/max
   * per bin are exact (no float accumulation). */
  def eventValueHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_type"), col("value"))
      .withColumn("bin", floor(col("value") / lit(HistBinWidth)).cast("bigint"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"))

  def eventValueHistogramSql: String =
    s"""SELECT event_type, CAST(floor(value / $HistBinWidth) AS BIGINT) AS bin,
       |       count(*) AS n, min(value) AS min_v, max(value) AS max_v
       |FROM events GROUP BY event_type, CAST(floor(value / $HistBinWidth) AS BIGINT)""".stripMargin

  /** Robust dispersion profile per event type: exact median and MAD
   * (median absolute deviation) of `value` — the outlier-resistant
   * (median, MAD) pair that replaces (mean, σ) when the stream carries
   * fat-tailed or corrupted values (a z-score screen built on moments is
   * itself dragged by the outliers it hunts; the MAD is not).
   *
   * Shape: per-type exact `percentile` (Spark and DuckDB share the R-7
   * interpolation — the [[Corpus]] length-quantiles precedent), the
   * deviation join broadcasts the O(|event_type|) median table over the
   * scan, and a second per-type percentile over deviations. Groups are
   * low-cardinality event types, so the exact percentile's per-group
   * buffering is bounded by the biggest type's row count — the same
   * documented memory trade as `length_quantiles`, with the same
   * `approx_percentile` swap at raw-100 TB scale. */
  def eventValueMad(s: SparkSession, dir: String): DataFrame = {
    val med = Tables.events(s, dir).groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    Tables.events(s, dir)
      .join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"), abs(col("value") - col("med")).as("ad"))
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"),
        percentile(col("ad"), lit(0.5)).as("mad"),
        count(lit(1)).as("n"))
  }

  def eventValueMadSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
      |  FROM events e JOIN med m ON e.event_type = m.event_type)
      |SELECT event_type, max(med) AS med, quantile_cont(ad, 0.5) AS mad,
      |       count(*) AS n
      |FROM dev GROUP BY event_type""".stripMargin

  /** Lifetime-value deciles: every user's exact total event value
   * (DECIMAL-summed — the [[pricingSummary]] determinism note) with
   * their NTILE(10) bucket, ordered by value descending — the
   * "top 10% of spenders" segmentation.
   *
   * Scale note: ntile needs a TOTAL order, so the window is
   * single-partition BY DESIGN — but it runs over the per-user
   * AGGREGATE (one row per user), not the event stream; the heavy
   * relation is reduced by a partial-capable hash aggregate first. At
   * 10⁹ users the single sort partition becomes the bottleneck and the
   * decile boundary should come from `approx_percentile` over the same
   * aggregate instead; for any bounded user population the exact form
   * holds. Ties broken by user_id. */
  def userLtvDeciles(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    val w = Window.orderBy(col("total_value").desc, col("user_id"))
    u.withColumn("decile", ntile(10).over(w))
  }

  def userLtvDecilesSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY user_id)
      |SELECT user_id, total_value,
      |       ntile(10) OVER (ORDER BY total_value DESC, user_id) AS decile
      |FROM u""".stripMargin

  /** Time-weighted average of `value` per user — the step-function
   * integral ∑ vᵢ·Δtᵢ / (tₙ−t₀) over each user's event sequence (the
   * metric that answers "what level was held over time", where a plain
   * mean over-weights bursts of rapid events). Output
   * (user_id, twa_value, span_us); single-event users (zero span) are
   * excluded by definition.
   *
   * Exactness: segment weights accumulate as BIGINT cent-microseconds
   * (`value` is a 2-decimal price, so cents are exact integers) — NOT
   * as a wide DECIMAL: a DECIMAL(38,·) → DOUBLE conversion double-rounds
   * once the scaled integer passes 2⁵³ (DuckDB converts the int128 to
   * double BEFORE dividing by 10^scale; Java's BigDecimal rounds the
   * exact rational once) and the engines disagree in the last ulp —
   * measured on exactly this query. Every step here is a single
   * IEEE-defined rounding (int64→double, one multiply by exact 100.0,
   * one divide), so the result is bit-identical cross-engine. Headroom:
   * cents·µs sums reach ~3·10¹⁷ for a 10-year max-price span — inside
   * BIGINT. Shape: one shuffle on user_id serves the `lead` window and
   * the aggregate. */
  def timeWeightedValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t"))
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    Tables.events(s, dir)
      .select(col("user_id"), cents.as("cents"), unix_micros(col("ts")).as("t"))
      .withColumn("t_next", lead(col("t"), 1).over(w))
      .filter(col("t_next").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        sum(col("cents") * (col("t_next") - col("t"))).as("wsum"),
        (max(col("t_next")) - min(col("t"))).as("span_us"))
      .filter(col("span_us") > 0)
      .select(col("user_id"),
        (col("wsum").cast("double") / (col("span_us").cast("double") * lit(100.0)))
          .as("twa_value"),
        col("span_us"))
  }

  def timeWeightedValueSql: String =
    """WITH seg AS (
      |  SELECT user_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |         epoch_us(ts) AS t,
      |         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS t_next
      |  FROM events),
      |agg AS (
      |  SELECT user_id,
      |         sum(cents * (t_next - t)) AS wsum,
      |         max(t_next) - min(t) AS span_us
      |  FROM seg WHERE t_next IS NOT NULL GROUP BY user_id)
      |SELECT user_id,
      |       CAST(wsum AS DOUBLE) / (CAST(span_us AS DOUBLE) * 100.0) AS twa_value,
      |       span_us FROM agg WHERE span_us > 0""".stripMargin

  /** Result size for [[orderPriceAudit]]. */
  val AuditTopN = 50

  /** Order-total reconciliation: recompute every order's total from its
   * line items (extended price × (1−discount) × (1+tax) — the TPC-H
   * pricing identity) and report the [[AuditTopN]] largest absolute
   * discrepancies against the stored `o_totalprice` — the financial
   * audit join every order system runs.
   *
   * Exactness: each line's net lands in a ≤6-decimal exact DECIMAL
   * (price 2dp × discount 2dp × tax 2dp), scaled to an exact BIGINT
   * micro-unit before summing — the accumulation never passes through a
   * wide DECIMAL→DOUBLE conversion (the [[timeWeightedValue]] last-ulp
   * trap); per-order micro-totals stay under 2⁵³, so the final
   * int64→double + one divide is bit-identical cross-engine, and
   * `delta` with it. Ranking ties break by order key. Shape (guide
   * §2.3 "aggregate before you shuffle", round 16): lineitem reduces
   * to one row per order BEFORE the join — the partial aggregate
   * collapses the orderkey-clustered parquet rows map-side, so the
   * exchange and the join move O(orders) rows instead of O(lineitems)
   * — then an equi-join onto the pre-projected orders and a
   * TakeOrdered; never a global sort. Value-identical to aggregating
   * after the join: orders.o_orderkey is unique, so the per-(order,
   * total) groups ARE the per-l_orderkey groups restricted to keys
   * present in orders, and the inner join performs that restriction
   * either way. */
  def orderPriceAudit(s: SparkSession, dir: String): DataFrame = {
    // pure BIGINT per-line product: cents × (100−discount%) × (100+tax%)
    // = net in 10⁻⁶ currency units, exact at every step
    def pct(c: Column) = (c.cast("decimal(18,2)") * 100).cast("long")
    val micro = pct(col("l_extendedprice")) *
      (lit(100L) - pct(col("l_discount"))) * (lit(100L) + pct(col("l_tax")))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), micro.as("net_micro"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("net_micro")).as("micro_total"), count(lit(1)).as("n_lines"))
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
        (col("micro_total").cast("double") / lit(1000000.0)).as("computed_total"),
        col("n_lines"))
      .withColumn("delta", col("o_totalprice") - col("computed_total"))
      .orderBy(abs(col("delta")).desc, col("o_orderkey"))
      .limit(AuditTopN)
  }

  def orderPriceAuditSql: String =
    s"""SELECT o_orderkey, o_totalprice,
       |       CAST(micro_total AS DOUBLE) / 1000000.0 AS computed_total,
       |       n_lines,
       |       o_totalprice - CAST(micro_total AS DOUBLE) / 1000000.0 AS delta
       |FROM (
       |  SELECT o.o_orderkey AS o_orderkey, o.o_totalprice AS o_totalprice,
       |         sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |             * (100 - CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
       |             * (100 + CAST(CAST(l.l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)))
       |           AS micro_total,
       |         count(*) AS n_lines
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1, 2)
       |ORDER BY abs(delta) DESC, o_orderkey LIMIT $AuditTopN""".stripMargin

  /** Daily/weekly active users with the DAU/WAU stickiness ratio — the
   * engagement read of every event pipeline (a day where most of the
   * week's actives show up = sticky product; stickiness near 1/7 =
   * drive-by traffic). Output (day, dau, wau, stickiness).
   *
   * Shape: two partial-capable distinct aggregates (per-day and
   * per-week), each reduced map-side to its distinct (period, user)
   * relation before the exchange, then a broadcast-sized join of
   * O(days) rows onto O(weeks) rows. The ratio is one IEEE division of
   * two exact BIGINTs — deterministic cross-engine. */
  def activeUsersRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dau = ev.select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .groupBy(col("day")).agg(count_distinct(col("user_id")).as("dau"))
    val wau = ev.select(date_trunc("WEEK", col("ts")).as("wk"), col("user_id"))
      .groupBy(col("wk")).agg(count_distinct(col("user_id")).as("wau"))
    dau.join(wau, date_trunc("WEEK", col("day")) === col("wk"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  // DuckDB's date_trunc('day'|'week', TIMESTAMP) is a DATE, Spark's a TIMESTAMP
  def activeUsersRollupSql: String =
    """WITH dau AS (
      |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(DISTINCT user_id) AS dau
      |  FROM events GROUP BY 1),
      |wau AS (
      |  SELECT date_trunc('week', ts) AS wk, count(DISTINCT user_id) AS wau
      |  FROM events GROUP BY 1)
      |SELECT d.day AS day, d.dau AS dau, w.wau AS wau,
      |       CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
      |FROM dau d JOIN wau w ON date_trunc('week', d.day) = w.wk""".stripMargin

  /** Gaps-and-islands run collapsing — the SCD2 build: merge each
   * user's CONSECUTIVE same-type events into one validity row
   * (user_id, event_type, valid_from, valid_to, n_events), where
   * `valid_to` is the next island's start (the half-open [from, to)
   * convention) and NULL for the user's current state — turning an
   * event log into a slowly-changing-dimension table a point-in-time
   * join can consume.
   *
   * The island id is the classic two-row-number difference: a global
   * per-user sequence minus a per-(user, type) sequence is constant
   * exactly within a consecutive run. Shape: ONE shuffle on user_id
   * serves all three windows (both row_numbers and the final `lead` —
   * same partitioning; the (user, type) ordering is a SORT difference
   * only, no exchange) plus the island aggregate. */
  def valueIslands(s: SparkSession, dir: String): DataFrame =
    islandsFrom(Tables.events(s, dir))

  /** The gaps-and-islands core over any (user_id, event_type, ts,
   * event_id) relation — shared by [[valueIslands]] (full log) and
   * [[pitStateLookup]] (non-purchase state machine). */
  private def islandsFrom(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val byUserType = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val islands = ev
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(byUser))
      .withColumn("rnt", row_number().over(byUserType))
      .withColumn("isl", col("rn") - col("rnt"))
      .groupBy(col("user_id"), col("event_type"), col("isl"))
      .agg(min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val nextStart = Window.partitionBy("user_id").orderBy(col("valid_from"))
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(nextStart))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("n_events"))
  }

  def valueIslandsSql: String = islandsSqlFrom("events")

  private def islandsSqlFrom(source: String): String =
    s"""WITH seq AS (
      |  SELECT user_id, event_type, ts,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           - row_number() OVER (PARTITION BY user_id, event_type
      |                                ORDER BY ts, event_id) AS isl
      |  FROM $source),
      |islands AS (
      |  SELECT user_id, event_type, isl,
      |         min(ts) AS valid_from, count(*) AS n_events
      |  FROM seq GROUP BY 1, 2, 3)
      |SELECT user_id, event_type, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
      |         AS valid_to,
      |       n_events
      |FROM islands""".stripMargin

  /** Point-in-time join against an SCD2 state table: the user's
   * BROWSING state (islands built from the non-purchase event log) at
   * the instant of each purchase — the leakage-free feature lookup of
   * every training pipeline ("what state was the user in WHEN the label
   * event happened", never after). Output (user_id, ts, state_type,
   * state_since); NULL state for a purchase before the user's first
   * non-purchase event.
   *
   * Shape: NOT an interval join — an interval-containment probe
   * (`valid_from ≤ ts < valid_to`) would plan as an inequality join and
   * explode; instead the probe rides the [[AsOfJoin.backward]] union+
   * window shape (latest island start ≤ probe ts — which IS the
   * containing island, since islands are contiguous): ONE shuffle over
   * |probes|+|islands| rows, the same salting escape available for hot
   * users. The islands build itself shares the probe's user_id
   * partitioning, so the whole query is two exchanges end-to-end. */
  def pitStateLookup(s: SparkSession, dir: String): DataFrame = {
    val islands = islandsFrom(
        Tables.events(s, dir).filter(col("event_type") =!= "purchase"))
      .select(col("user_id"), col("event_type").as("state_type"),
        col("valid_from"))
    val probes = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    // union+window as-of: latest island start at or before the probe
    val tagged = probes
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("side"),
        lit(null).cast("string").as("st"), lit(null).cast("timestamp").as("sf"))
      .unionByName(islands.select(col("user_id"),
        col("valid_from").as("ts"), lit(Long.MinValue).as("event_id"),
        lit(0).as("side"), col("state_type").as("st"),
        col("valid_from").as("sf")))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("state_type", last(col("st"), ignoreNulls = true).over(w))
      .withColumn("state_since", last(col("sf"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("user_id"), col("ts"), col("state_type"), col("state_since"))
  }

  def pitStateLookupSql: String =
    s"""WITH islands AS (${islandsSqlFrom(
           "(SELECT * FROM events WHERE event_type <> 'purchase')")})
       |SELECT p.user_id AS user_id, p.ts AS ts,
       |       (SELECT i.event_type FROM islands i
       |        WHERE i.user_id = p.user_id AND i.valid_from <= p.ts
       |        ORDER BY i.valid_from DESC LIMIT 1) AS state_type,
       |       (SELECT i.valid_from FROM islands i
       |        WHERE i.user_id = p.user_id AND i.valid_from <= p.ts
       |        ORDER BY i.valid_from DESC LIMIT 1) AS state_since
       |FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p""".stripMargin

  /** Debounce refractory window (microseconds): a same-type event inside
   * this window of the PREVIOUS KEPT event of the same (user, type) is a
   * duplicate delivery / double-click, not a new action. */
  val DebounceUs: Long = 60L * 1000 * 1000

  /** Event debouncing — keep an event iff no SAME-(user, type) event was
   * KEPT within the preceding [[DebounceUs]]: duplicate-click and
   * at-least-once-delivery suppression, the event-stream hygiene pass
   * run before any funnel/count analytics.
   *
   * BURST-COLLAPSE semantics: a burst is a CHAIN of same-(user, type)
   * events each within [[DebounceUs]] of its predecessor; the burst's
   * FIRST event is kept, the rest are suppressed — so a sustained
   * drizzle (every repeat inside the window) collapses to one action,
   * the standard double-click/redelivery reading. (The alternative —
   * re-keep one event per elapsed window during a sustained burst — is
   * a sequential recurrence on the KEPT set that plain windows cannot
   * express; if that's wanted, it's the LJOT faithful-variant state
   * machine, not a batch filter.) The chain id is the sessionization
   * gap-flag running sum, here per (user, type): one Exchange serves
   * both windows and the first-of-burst filter. Output = the kept rows
   * (event_id, user_id, event_type, ts).
   *
   * A 100 TB note: partitioning is (user, type)-keyed, per-key history
   * is time-ordered once; no self-join, no range join. */
  def debounceEvents(s: SparkSession, dir: String): DataFrame =
    debounce(Tables.events(s, dir))

  /** The debounce core over any (event_id, user_id, event_type, ts)
   * relation — exposed for fixture-driven tests (the corpus fixture's
   * organic gaps are hours-scale, so suppression only shows on planted
   * bursts). */
  private[operators] def debounce(ev: DataFrame,
                                  windowUs: Long = DebounceUs): DataFrame = {
    val order = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(order))
      .withColumn("new_burst",
        when(col("gap_us").isNull || col("gap_us") > windowUs, 1L).otherwise(0L))
      .withColumn("burst_id", sum(col("new_burst")).over(run))
      .withColumn("rn_in_burst", row_number().over(
        Window.partitionBy(col("user_id"), col("event_type"), col("burst_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn_in_burst") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
  }

  def debounceEventsSql: String =
    s"""WITH flagged AS (
       |  SELECT event_id, user_id, event_type, ts,
       |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > $DebounceUs
       |              OR lag(epoch_us(ts)) OVER w IS NULL
       |              THEN 1 ELSE 0 END AS new_burst
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
       |bursts AS (
       |  SELECT event_id, user_id, event_type, ts,
       |         sum(new_burst) OVER (PARTITION BY user_id, event_type
       |           ORDER BY ts, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst_id
       |  FROM flagged)
       |SELECT event_id, user_id, event_type, ts FROM (
       |  SELECT event_id, user_id, event_type, ts,
       |         row_number() OVER (PARTITION BY user_id, event_type, burst_id
       |                            ORDER BY ts, event_id) AS rn
       |  FROM bursts)
       |WHERE rn = 1""".stripMargin

  /** Latest order per customer with its value — top-1-per-group WITHOUT
   * a window: `max_by(struct(date, key, price))` is a partial-capable
   * aggregate, so each map task reduces its slice to ONE row per
   * customer before the exchange — for top-1 this strictly dominates
   * the row_number window (which must co-locate and sort EVERY order of
   * a customer). The struct ordering (date, then key) gives the
   * deterministic tie-break. Output
   * (o_custkey, last_orderdate, last_orderkey, last_totalprice).
   *
   * Oracle note: DuckDB's `arg_max` does not take a composite ordering
   * key, so the mirror uses the row_number formulation — slower shape,
   * same rows (the cross-engine check is on VALUES, not plans). */
  def latestOrderProfile(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice")))
        .as("m"))
      .select(col("o_custkey"),
        col("m.o_orderdate").as("last_orderdate"),
        col("m.o_orderkey").as("last_orderkey"),
        col("m.o_totalprice").as("last_totalprice"))

  def latestOrderProfileSql: String =
    """SELECT o_custkey, o_orderdate AS last_orderdate,
      |       o_orderkey AS last_orderkey, o_totalprice AS last_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1""".stripMargin

  /** Behavioral diversity per user: Gini impurity of the user's
   * event-type mix — `1 − Σ cᵢ²/N²`, 0 for a single-type user, →1−1/k
   * for a uniform k-type mix. The diversity score entropy would give,
   * chosen as GINI deliberately: it is a pure rational function of
   * exact integer counts (ONE final division), where entropy's
   * per-term `log` diverges cross-engine in the last ulps. Output
   * (user_id, n_events, n_types, gini).
   *
   * Shape: partial-agg to (user, type) counts, second partial-agg to
   * users; Σc² accumulates in BIGINT (a user needs 3·10⁹ events of one
   * type to overflow — not a user, a firehose; DECIMAL(38,0) is the
   * documented swap then). */
  def userTypeGini(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (lit(1.0) - col("ss").cast("double")
          / (col("n_events") * col("n_events")).cast("double")).as("gini"))

  def userTypeGiniSql: String =
    """WITH tc AS (
      |  SELECT user_id, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events, count(*) AS n_types,
      |       1.0 - CAST(sum(c * c) AS DOUBLE)
      |             / CAST(sum(c) * sum(c) AS DOUBLE) AS gini
      |FROM tc GROUP BY user_id""".stripMargin

  /** Benford first-significant-digit profile of line-item prices — the
   * classic fabricated-numbers screen (organic monetary values follow
   * log₁₀(1+1/d); uniform or truncated generators do not). Digit
   * extraction goes through exact CENTS (BIGINT) rendered as a string —
   * never through the double's own formatting, which differs between
   * engines. Output (digit, n, share) for digits 1-9; the reader
   * compares `share` against Benford's expectation (kept OUT of the
   * query — its log is exactly the cross-engine divergence this family
   * avoids).
   *
   * Shape: scan-projection digit + one partial-agg to ≤9 rows + a
   * 1-row total broadcast (budgeted PlanGuard shape). */
  def benfordProfile(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    val digits = Tables.lineitem(s, dir)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1) // zero-price lines carry no leading digit
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("t"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("t").cast("double")).as("share"))
  }

  def benfordProfileSql: String =
    """WITH d AS (
      |  SELECT CAST(substring(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |              AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM lineitem),
      |dc AS (SELECT digit, count(*) AS n FROM d WHERE digit >= 1 GROUP BY digit),
      |tot AS (SELECT sum(n) AS t FROM dc)
      |SELECT digit, n, CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS share
      |FROM dc, tot""".stripMargin

  /** Traffic seasonality profile: event counts by (day-of-week,
   * hour-of-day) cell with each cell's load factor vs the uniform
   * expectation — the capacity/batch-scheduling heatmap ("Tuesday 14:00
   * runs 2.1× the average hour"). Output (dow, hod, n_events, load);
   * `load = n·168 / N` stays exact-integer until ONE final division.
   * ISO day numbering (1 = Monday) on both engines.
   *
   * Shape: one partial-capable hash aggregate to ≤ 168 cells —
   * map-side combine makes the exchange negligible at any scale — and
   * the global N rides the same relation via a second tiny aggregate
   * joined broadcast (168 × 1 rows). */
  def hourlySeasonality(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(dayofweek(col("ts")).as("dow_raw"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"))
      // Spark dayofweek: 1=Sunday..7=Saturday -> ISO 1=Monday..7=Sunday
      .select((pmod(col("dow_raw") + lit(5), lit(7)) + 1).as("dow"),
        col("hod").cast("long").as("hod"), col("n_events"))
    val total = cells.agg(sum(col("n_events")).as("n_total"))
    cells.crossJoin(broadcast(total))
      .select(col("dow"), col("hod"), col("n_events"),
        ((col("n_events") * 168).cast("double") / col("n_total").cast("double"))
          .as("load"))
  }

  def hourlySeasonalitySql: String =
    """WITH cells AS (
      |  SELECT isodow(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hod,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT sum(n_events) AS n_total FROM cells)
      |SELECT dow, hod, n_events,
      |       CAST(n_events * 168 AS DOUBLE) / CAST(n_total AS DOUBLE) AS load
      |FROM cells, tot""".stripMargin

  // ---- weekly cohort retention ---------------------------------------------

  /** Classic cohort-retention matrix over the events table: users
   * grouped by first-seen week, counted in every week they return.
   * The engagement table every growth dashboard draws, and a second
   * multi-level temporal aggregate (beyond [[funnelStages]]) exercising
   * truncation + self-alignment at scale.
   *
   * Shape: ALL heavy shuffles are keyed on `user_id` — the per-user
   * cohort aggregate, then the events-side join back (co-partitioned;
   * AQE picks the join strategy), then the (cohort, week, user) distinct
   * whose keys are user-uniform. The final (cohort, week) rollup is
   * O(weeks²) rows. `week_offset` is an integer day difference DIV 7 —
   * no float anywhere. Week truncation is ISO-Monday in both engines. */
  def userRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    ev.join(cohort, "user_id")
      .select(col("user_id"), col("cohort_week"), col("wk").as("active_week"))
      .distinct()
      .groupBy(col("cohort_week"), col("active_week"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn("week_offset",
        expr("CAST(datediff(CAST(active_week AS DATE), CAST(cohort_week AS DATE)) DIV 7 AS BIGINT)"))
  }

  // DuckDB's date_trunc('day'|'week', TIMESTAMP) is a DATE, Spark's a TIMESTAMP
  def userRetentionSql: String =
    """WITH w AS (SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY user_id),
      |d AS (SELECT DISTINCT w.user_id, c.cohort_week, w.wk AS active_week
      |      FROM w JOIN c ON w.user_id = c.user_id)
      |SELECT cohort_week, active_week, count(*) AS n_users,
      |       CAST(datediff('day', CAST(cohort_week AS DATE), CAST(active_week AS DATE)) // 7 AS BIGINT) AS week_offset
      |FROM d GROUP BY cohort_week, active_week""".stripMargin

  // ---- inter-event gap profile (lag) ---------------------------------------

  /** Per-type arrival-gap profile: for each event type, the count, mean
   * and max of the gap between a user's consecutive events of that type.
   * The cadence fingerprint that sizes session windows, rate limits and
   * watermark delays (LJOT's Δ itself would be read off this table).
   *
   * Shape: one shuffle on (user, type), a `lag` window pass, then a
   * partial-aggregated rollup to O(types) rows. Gaps are exact BIGINT
   * microsecond differences; the mean is a single IEEE division at the
   * end (sum and count stay exact), so both engines agree bitwise. */
  def intereventGaps(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir).select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(ord))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        (sum(col("gap_us")).cast("double") / count(lit(1)).cast("double") / lit(1000000.0))
          .as("avg_gap_s"),
        (max(col("gap_us")).cast("double") / lit(1000000.0)).as("max_gap_s"))
  }

  def intereventGapsSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type, count(*) AS n_gaps,
      |       CAST(sum(gap_us) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0 AS avg_gap_s,
      |       CAST(max(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s
      |FROM g WHERE gap_us IS NOT NULL GROUP BY event_type""".stripMargin

  // ---- range-frame window (trailing-hour value) ----------------------------

  /** Trailing frame width for [[trailingHourValue]]: one hour in
   * microseconds (the table's resolution after the ns→µs truncation). */
  val TrailUs: Long = 3600L * 1000 * 1000

  /** Per-user trailing-one-hour spend — the RANGE-frame window, the
   * capability [[runningRevenue]]'s ROWS frame does not cover: the frame
   * is selected by the ORDER value (every event of the user in
   * [ts − 1h, ts]), so same-timestamp peers land in each other's frames
   * and the frame slides by TIME — which is what "spend in the last
   * hour" rate caps and rolling-exposure features mean.
   *
   * Shape: one shuffle on user_id, one sort, one sliding-frame pass
   * (Spark maintains the range frame incrementally — two moving
   * endpoints, not a per-row rescan). The frame sum accumulates exact
   * DECIMAL and surfaces as one double cast; ordering is on the exact
   * BIGINT microsecond value on both engines. */
  def trailingHourValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-TrailUs, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("hour_value"))
  }

  def trailingHourValueSql: String =
    s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
       |   PARTITION BY user_id ORDER BY epoch_us(ts)
       |   RANGE BETWEEN $TrailUs PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_value
       |FROM events""".stripMargin

  // ---- snowflake multi-join market share (TPC-H Q8 shape) ------------------

  /** Part-type slice and customer region pinning the market-share query.
   * PROMO/ASIA are arbitrary members of the generated domains — the plan
   * shape is what the query exists to prove. */
  val SharePartType = "PROMO"
  val ShareRegion = "ASIA"

  /** Supplier-nation market share per order year: of the revenue from
   * [[SharePartType]] parts sold to [[ShareRegion]] customers, what
   * fraction came through each supplier nation (TPC-H Q8's shape — the
   * deepest join tree in the suite: lineitem ⨝ part ⨝ supplier ⨝ nation
   * ⨝ orders ⨝ customer ⨝ nation ⨝ region, 2 facts + 5 dimension arms).
   *
   * Shape — the scale story is WHICH joins shuffle: every dimension arm
   * (part slice, supplier→nation, customer→region) is broadcast, so the
   * two FACT tables each get scanned once with their filters/projections
   * pushed and meet in the plan's single shuffle join on l_orderkey =
   * o_orderkey — the join a 100 TB deployment would co-partition via
   * bucketing on orderkey, turning this plan shuffle-free. The broadcast
   * part slice prunes ~5/6 of lineitem BEFORE that exchange (AQE sees
   * the post-filter size, not the scan size). Revenue accumulates as
   * exact DECIMAL through the partial-agg groupBy to O(years × nations)
   * rows; the share denominator is a per-year window sum over that tiny
   * relation — one IEEE division at the very end, so both engines agree
   * bitwise. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables.part(s, dir)
      .filter(col("p_type") === SharePartType).select("p_partkey")
    val supNation = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    val regionCust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(s, dir).select(
        col("n_nationkey").as("cn_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("cn_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === ShareRegion)
        .select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val regionOrders = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(broadcast(regionCust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("bigint").as("o_year"))
    val rev = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .join(regionOrders, col("l_orderkey") === col("o_orderkey")) // the one fact-fact shuffle
      .groupBy(col("o_year"), col("nation"))
      .agg(sum(dec("l_extendedprice") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
        .as("rev"))
    rev.select(col("o_year"), col("nation"), col("rev").cast("double").as("revenue"),
        (col("rev").cast("double") /
          sum(col("rev")).over(Window.partitionBy("o_year")).cast("double")).as("share"))
  }

  def marketShareSql: String =
    s"""WITH rev AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, sn.n_name AS nation,
       |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |             (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev
       |  FROM lineitem
       |  JOIN part     ON l_partkey = p_partkey AND p_type = '$SharePartType'
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |  JOIN orders   ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = '$ShareRegion'
       |  GROUP BY 1, sn.n_name)
       |SELECT o_year, nation, CAST(rev AS DOUBLE) AS revenue,
       |       CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY o_year) AS DOUBLE) AS share
       |FROM rev""".stripMargin

  // ---- level-shift change detection (before/after window contrast) --------

  /** Half-window (hours) contrasted on each side of a candidate change
   * point, and the number of shifts reported per event type. */
  val ShiftWindow = 6
  val ShiftTopN = 3

  /** Step-change detection over each event type's hourly arrival series:
   * at every observed hour, contrast the total count of the next
   * [[ShiftWindow]] observed hours against the previous [[ShiftWindow]],
   * and report the [[ShiftTopN]] largest absolute shifts per type — the
   * "did the crawler die / did a source go live" monitor over ingestion
   * telemetry. Windows are over OBSERVED hours (an all-empty hour emits
   * no row; a data outage therefore surfaces as the shift around the
   * gap's edges, which is the useful reading). Boundary rows without a
   * full window on both sides are excluded rather than diluted.
   *
   * Shape: one partial-agg hash aggregate to O(types × hours) rows, one
   * shuffle on event_type for the four ROWS-frame window passes (a
   * single sort serves all four — same partition, same order), then a
   * WindowGroupLimit-prunable row_number top-N. Counts stay BIGINT
   * end-to-end — no floating point anywhere, bit-identical cross-engine. */
  def levelShiftDetect(s: SparkSession, dir: String): DataFrame =
    levelShiftFrom(Tables.events(s, dir))

  private[operators] def levelShiftFrom(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"))
    val ord = Window.partitionBy("event_type").orderBy("hour_ts")
    val before = ord.rowsBetween(-ShiftWindow, -1)
    val after = ord.rowsBetween(Window.currentRow, ShiftWindow - 1)
    hourly
      .select(col("event_type"), col("hour_ts"),
        sum(col("n")).over(before).as("before_n"),
        count(lit(1)).over(before).as("nb"),
        sum(col("n")).over(after).as("after_n"),
        count(lit(1)).over(after).as("na"))
      .filter(col("nb") === ShiftWindow && col("na") === ShiftWindow)
      .withColumn("shift", abs(col("after_n") - col("before_n")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("shift").desc, col("hour_ts"))).cast("bigint"))
      .filter(col("rn") <= ShiftTopN)
      .select("event_type", "hour_ts", "before_n", "after_n", "shift", "rn")
  }

  def levelShiftDetectSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |w AS (
       |  SELECT event_type, hour_ts,
       |         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hour_ts
       |           ROWS BETWEEN $ShiftWindow PRECEDING AND 1 PRECEDING) AS BIGINT) AS before_n,
       |         count(*) OVER (PARTITION BY event_type ORDER BY hour_ts
       |           ROWS BETWEEN $ShiftWindow PRECEDING AND 1 PRECEDING) AS nb,
       |         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY hour_ts
       |           ROWS BETWEEN CURRENT ROW AND ${ShiftWindow - 1} FOLLOWING) AS BIGINT) AS after_n,
       |         count(*) OVER (PARTITION BY event_type ORDER BY hour_ts
       |           ROWS BETWEEN CURRENT ROW AND ${ShiftWindow - 1} FOLLOWING) AS na
       |  FROM hourly),
       |sh AS (
       |  SELECT event_type, hour_ts, before_n, after_n,
       |         CAST(abs(after_n - before_n) AS BIGINT) AS shift,
       |         CAST(row_number() OVER (PARTITION BY event_type
       |           ORDER BY abs(after_n - before_n) DESC, hour_ts) AS BIGINT) AS rn
       |  FROM w WHERE nb = $ShiftWindow AND na = $ShiftWindow)
       |SELECT event_type, hour_ts, before_n, after_n, shift, rn
       |FROM sh WHERE rn <= $ShiftTopN""".stripMargin

  // ---- referential-integrity audit (FK orphan counts) ----------------------

  /** The star schema's FK edges: (edge label, child table, child FK
   * column, parent table, parent key column). `events.user_id` rides
   * along — the stream table's implicit user reference is exactly the
   * edge a real pipeline forgets to audit. */
  private val FkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"))

  private def tableOf(s: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "lineitem" => Tables.lineitem(s, dir)
      case "orders"   => Tables.orders(s, dir)
      case "customer" => Tables.customer(s, dir)
      case "supplier" => Tables.supplier(s, dir)
      case "part"     => Tables.part(s, dir)
      case "nation"   => Tables.nation(s, dir)
      case "region"   => Tables.region(s, dir)
      case "events"   => Tables.events(s, dir)
    }

  /** Referential-integrity audit over every FK edge of the star schema —
   * the load-time data-quality gate a warehouse runs after each ingest:
   * per edge, the child row count, the number of child rows whose FK
   * matches no parent (orphans — a NULL FK never matches and counts as
   * one), and the number of DISTINCT dangling key values (one bad key
   * referenced a million times is one upstream bug, not a million).
   * Output (edge, n_children, n_orphans, n_orphan_keys); a clean load is
   * all-zero orphan columns with exact child counts.
   *
   * Scale shape, per edge: the child side pre-aggregates to (key, cnt) —
   * O(distinct keys) rows — BEFORE any join, so the join never moves
   * child rows; the parent side is its distinct key set. AQE broadcasts
   * whichever side is small (dimension parents always; fact-key sets
   * degrade to a co-partitioned shuffle join, never a driver OOM). The
   * final per-edge rollup is a partial-capable 1-row aggregate; the
   * 8-edge union is 8 independent tiny plans. Integer counts end-to-end. */
  def fkOrphans(s: SparkSession, dir: String): DataFrame =
    FkEdges.map { case (edge, child, fk, parent, pk) =>
      fkEdgeAudit(edge, tableOf(s, dir, child), fk, tableOf(s, dir, parent), pk)
    }.reduce(_.unionAll(_))

  /** One FK edge's audit row — see [[fkOrphans]] for the shape. */
  private[operators] def fkEdgeAudit(edge: String, child: DataFrame,
      fk: String, parent: DataFrame, pk: String): DataFrame = {
    val keyed = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("cnt"))
    val parents = parent.select(col(pk).as("pk")).distinct()
    keyed.join(parents, col("k") === col("pk"), "left")
      .agg(sum(col("cnt")).as("n_children"),
        sum(when(col("pk").isNull, col("cnt")).otherwise(0L)).as("n_orphans"),
        sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphan_keys"))
      .select(lit(edge).as("edge"), col("n_children"),
        col("n_orphans"), col("n_orphan_keys"))
  }

  def fkOrphansSql: String =
    FkEdges.map { case (edge, child, fk, parent, pk) =>
      s"""SELECT '$edge' AS edge,
         |       CAST(sum(cnt) AS BIGINT) AS n_children,
         |       CAST(sum(CASE WHEN pk IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_orphans,
         |       CAST(sum(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys
         |FROM (SELECT $fk AS k, count(*) AS cnt FROM $child GROUP BY 1) c
         |LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $parent) p ON c.k = p.pk""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ---- hourly arrival autocorrelation (time-series persistence) ------------

  /** Lag-1 Pearson autocorrelation of each event type's hourly arrival
   * series — the persistence diagnostic that separates traffic regimes
   * before any forecasting or anomaly model is chosen: r₁ near 1 means
   * smooth diurnal load (model the trend), near 0 memoryless arrivals
   * (model the rate), negative means alternating/bursty ingestion (fix
   * the upstream batching). Consecutive OBSERVED hours only (the
   * [[levelShiftDetect]] convention — an empty hour emits no row and a
   * gap reads as one regular lag step; the useful reading for telemetry
   * whose gaps ARE outages). Output (event_type, n_pairs, r1), r1 NULL
   * when a series has no variance or fewer than 2 pairs.
   *
   * Determinism: the hourly counts and all five moment sums
   * (Σx, Σy, Σx², Σy², Σxy over the lag pairs) are exact BIGINTs; r₁
   * is ONE fixed IEEE sequence over those exact integers (cast each to
   * double, then the textbook k·Σxy − Σx·Σy form), mirrored verbatim
   * by the oracle — no order-dependent float accumulation anywhere.
   *
   * Shape: partial-agg to O(types × hours) rows, ONE exchange on
   * event_type whose single sort serves the lag window, then a
   * partial-capable moment aggregate to O(types) rows. At raw scale the
   * exchange carries hours × types rows — bytes. */
  def hourlyAutocorr(s: SparkSession, dir: String): DataFrame =
    hourlyAutocorrFrom(Tables.events(s, dir))

  private[operators] def hourlyAutocorrFrom(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"))
    val lagW = Window.partitionBy("event_type").orderBy("hour_ts")
    val pairs = hourly
      .withColumn("x", lag(col("n"), 1).over(lagW))
      .filter(col("x").isNotNull)
    val d = (c: Column) => c.cast("double")
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"),
        sum(col("x")).as("sx"), sum(col("n")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("n") * col("n")).as("syy"),
        sum(col("x") * col("n")).as("sxy"))
      .select(col("event_type"), col("k").as("n_pairs"),
        when(col("k") >= 2 &&
          (d(col("k")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) > 0.0 &&
          (d(col("k")) * d(col("syy")) - d(col("sy")) * d(col("sy"))) > 0.0,
          (d(col("k")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            (sqrt(d(col("k")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
             sqrt(d(col("k")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("r1"))
  }

  def hourlyAutocorrSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, n,
      |         lag(n, 1) OVER (PARTITION BY event_type ORDER BY hour_ts) AS x
      |  FROM hourly),
      |m AS (
      |  SELECT event_type, count(*) AS k,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(n * n) AS BIGINT) AS syy,
      |         CAST(sum(x * n) AS BIGINT) AS sxy
      |  FROM p WHERE x IS NOT NULL GROUP BY event_type)
      |SELECT event_type, k AS n_pairs,
      |       CASE WHEN k >= 2
      |                 AND CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |                 AND CAST(k AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
      |            THEN (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |                 / (sqrt(CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |                    * sqrt(CAST(k AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |            ELSE NULL END AS r1
      |FROM m""".stripMargin
}
