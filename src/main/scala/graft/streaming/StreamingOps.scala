package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Misra–Gries sketch state for one token shard of
 * [[StreamingOps.trendingTokens]]: at most `k` live counters plus the
 * counted tokens already alerted in their current stay among the counters
 * (`alerted ⊆ counters.keySet`, so at most 2k entries). */
case class MgState(counters: Map[String, Long], alerted: Set[String])

/** One trend alert: the token whose Misra–Gries estimate crossed the
 * threshold in this micro-batch, with the estimate at crossing. */
case class TrendAlert(token: String, est_count: Long)

/**
 * Streaming sketch operators plus the streaming catalog's shared keyed-state
 * stage. All operators take/return streaming DataFrames with an event-time
 * `ts` column and compose with `writeStream`; Spark's own `window`,
 * `session_window`, `dropDuplicatesWithinWatermark` and stream-static joins
 * cover the plain windowed, session, dedup and enrichment shapes.
 *
 * Scale: every operator is watermarked and its scaladoc states its own
 * state bound as a formula in rate and retention (`StreamingCatalogPropertySpec`
 * checks each one). Aggregations run partial → shuffle-by-key → final.
 */
object StreamingOps {

  /** Idempotent `foreachBatch` parquet sink — the exactly-once leg of
   * the fault-tolerance story (the reference gets effective
   * exactly-once from the changelog + Kafka transactions; Spark's file
   * sinks are at-least-once on foreachBatch REPLAY after a crash
   * between sink write and offset commit). Each micro-batch lands in
   * its own `batch_id=N` partition directory with dynamic partition
   * OVERWRITE, so a replayed batch replaces its own previous (possibly
   * partial) output instead of appending duplicates — batchId is the
   * idempotence key, exactly as Spark's docs prescribe for
   * transactional-ish file delivery. Readers see the union of
   * partitions; the batch_id column is also the audit trail of which
   * trigger produced each row.
   *
   * Usage: `ds.writeStream.foreachBatch(StreamingOps.idempotentParquet(path) _)`
   * (+ checkpointLocation). */
  def idempotentParquet(path: String)(batch: DataFrame, batchId: Long): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      // per-write option: only batch_id=N is replaced, sibling batches stay
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** Counters per shard and default alert threshold for
   * [[trendingTokens]]. */
  val MgK = 64

  /** Pure Misra–Gries transition for one shard: fold a batch of tokens
   * into at most `k` counters (classic MG'82: increment a live counter,
   * open one if a slot is free, otherwise decrement ALL and drop
   * zeros), returning the new state and the tokens whose ESTIMATE
   * crossed `threshold` for the first time in their current stay among
   * the counters: a dropped counter takes its token out of `alerted` too,
   * so the token alerts again if it re-enters and crosses again. The
   * sketch guarantee — true_count ≥ estimate ≥ true_count − n/(k+1) over
   * the shard's n tokens — makes an alert a certified lower bound on the
   * true count. Extracted from the streaming operator so the sketch
   * semantics are unit-testable without driving the engine. */
  private[streaming] def mgTransition(tokens: IterableOnce[String], s: MgState,
                                      k: Int, threshold: Long): (MgState, List[TrendAlert]) = {
    var counters = s.counters
    var alerted = s.alerted
    var out = List.empty[TrendAlert]
    tokens.iterator.foreach { t =>
      counters.get(t) match {
        case Some(c) => counters = counters.updated(t, c + 1)
        case None if counters.size < k => counters = counters.updated(t, 1L)
        case None =>
          counters = counters.view.mapValues(_ - 1).filter(_._2 > 0).toMap
          alerted = alerted.filter(counters.contains)
      }
      counters.get(t).foreach { c =>
        if (c >= threshold && !alerted(t)) {
          alerted += t
          out ::= TrendAlert(t, c)
        }
      }
    }
    (MgState(counters, alerted), out.reverse)
  }

  /** Streaming trending-token detection: a Misra–Gries heavy-hitter
   * sketch per token shard, alerting when a token's estimate crosses
   * `threshold` — once for each stay of the token among the shard's
   * counters ([[mgTransition]]) — the bursty-vocabulary monitor (breaking
   * topics, spam floods, scraper loops) that exact windowed counts
   * cannot provide at vocabulary scale. With `threshold` above n/(k+1)
   * for a shard's n tokens, no alerted counter can be decremented away,
   * so each token alerts at most once per shard lifetime. Sharding by
   * token hash spreads sketch work across partitions; each token always
   * lands in the same shard, so its counter is coherent. Each shard is one
   * [[bucketStage]] bucket, so a shard idle for `retention` behind its
   * newest event clears — a quiet topic re-trends later rather than
   * holding state forever.
   *
   * State: at most `shards` rows, each ≤ k counters and ≤ k alerted
   * tokens — O(shards · k) at any rate, vocabulary and retention, where
   * exact per-token state is O(vocabulary).
   *
   * Input needs (ts, text); output is a stream of [[TrendAlert]]s. */
  def trendingTokens(in: DataFrame, shards: Int, threshold: Long,
                     watermarkDelay: String, retention: Duration,
                     k: Int = MgK): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    // keep the WATERMARKED ts column itself through to the state op —
    // projecting it into a bigint would strip the event-time marker and
    // EventTimeTimeout needs it
    val toks = in.withWatermark("ts", watermarkDelay)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"),
        col("ts"))
      .select(pmod(xxhash64(col("token")), lit(shards.toLong)).as("shard"),
        col("token"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
    // the state's Long is the shard's running maximum event time
    bucketStage(toks, (_: (Long, String, java.sql.Timestamp))._1, retention,
        (MgState(Map.empty, Set.empty), Long.MinValue))(
        _._2, _._1.counters.isEmpty) { (recs, s) =>
      val recList = recs.toList
      val maxTs = recList.iterator.map(_._3.getTime).foldLeft(s._2)(math.max)
      val (mg, alerts) = mgTransition(recList.map(_._2), s._1, k, threshold)
      ((mg, maxTs), alerts.iterator)
    }
  }

  /** The streaming catalog's one idle-bucket rule, as ONE
   * `flatMapGroupsWithState(Append, EventTimeTimeout)` over `arrivals`
   * grouped by `key`: a bucket starts from `empty` (or its `standing` row,
   * applied in the query's first micro-batch), `step` folds its arrivals
   * into it, a state that `isEmpty` is dropped, and the timer is the
   * state's running maximum event time (`maxEventTs`) plus `retention`,
   * so a bucket idle that long behind its newest event is removed. The
   * engine drops rows below the watermark before `step` runs, so the
   * timer is always ahead of the watermark and a late row never reaches a
   * bucket (`StreamingCatalogPropertySpec` counts the dropped rows). */
  private[graft] def bucketStage[K: Encoder, V, S: Encoder, U: Encoder](
      arrivals: Dataset[V], key: V => K, retention: Duration, empty: S,
      standing: Option[Dataset[(K, S)]] = None)(
      maxEventTs: S => Long, isEmpty: S => Boolean)(
      step: (Iterator[V], S) => (S, Iterator[U])): DataFrame = {
    val initial = standing.getOrElse(arrivals.sparkSession.emptyDataset(
      Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[S]])))
    arrivals.groupByKey(key)
      .flatMapGroupsWithState[S, U](OutputMode.Append, GroupStateTimeout.EventTimeTimeout,
        initial.groupByKey(_._1).mapValues(_._2)) { (_: K, recs: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val (s, out) = step(recs, state.getOption.getOrElse(empty))
          if (isEmpty(s)) state.remove()
          else {
            state.update(s)
            state.setTimeoutTimestamp(maxEventTs(s) + retention.toMillis)
          }
          out
        }
      }
      .toDF()
  }

  /** A bucket's retained entries and stream time (running maximum event
   * time): the per-arrival step of the [[bucketStage]] transitions that
   * pair an arrival with its bucket's recent entries. */
  private[graft] final class BucketWindow[E](var entries: List[E], var streamTime: Long,
                                             retMs: Long)(id: E => Long, ts: E => Long) {
    def horizon: Long = streamTime - retMs

    /** Advance the stream time to `t`, evict the entries below the new
     * horizon BEFORE probing (even within one trigger), and return the
     * entries within `retMs` of `t` itself, `self` excluded: an
     * out-of-order arrival pairs with exactly the entries within
     * retention of it. */
    def arrive(self: Long, t: Long): Iterator[E] = {
      streamTime = math.max(streamTime, t)
      entries = entries.filter(ts(_) >= horizon)
      entries.iterator.filter(e => id(e) != self && math.abs(ts(e) - t) <= retMs)
    }
  }

  /** Windowed distinct-count sketch: per tumbling window, the
   * deterministic KMV bottom-k estimate of distinct `key` values —
   * the streaming form of the batch `kmv_distinct` aggregate
   * ([[graft.plans.KmvDistinctAgg]]). An exact streaming
   * `approx_count_distinct` twin exists in Spark, but its HLL state is
   * engine-internal; KMV's state is a pure function of the input SET,
   * so (a) the streaming answer is bit-identical to the batch answer
   * over the same rows under any micro-batch schedule and (b) per-window
   * state is O(k) FOREVER (an exact windowed distinct holds every key
   * seen in the window — unbounded per-user state at scale). State:
   * [[windowedSketch]]'s bound.
   * Output: (window_start, window_end, m, hk, n_distinct_kmv). */
  def windowedKmvDistinct(in: DataFrame, windowDur: String,
                          watermarkDelay: String, k: Int): DataFrame =
    windowedSketch(in, windowDur, watermarkDelay, md5(col("key").cast("string")))(
        graft.plans.KmvDistinctAgg(_, k))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("sk.m").as("m"), col("sk.hk").as("hk"),
        col("sk.est").as("n_distinct_kmv"))

  /** Windowed Misra-Gries heavy-hitter candidates over a document
   * stream — the third native sketch through the streaming state store
   * (after KMV here and the GK/HLL batch forms): per event-time window,
   * the merged MG sketch's ≤ k retained (token, est) counters plus the
   * window's exact stream length. Unlike KMV, MG is merge-ORDER-
   * dependent, so streaming output need not equal the batch sketch
   * bit-for-bit; what survives ANY merge schedule — micro-batch
   * partials merged incrementally into state included — is the Agarwal
   * et al. 2012 bound: est ≤ true ≤ est + n/(k+1), hence every token
   * with true in-window frequency > n/(k+1) is RETAINED, the same
   * contract the batch `mg_heavy_hitters` closure certifies with an
   * exact re-count. State: [[windowedSketch]]'s bound, O(k) counters per
   * row. */
  def windowedMgHitters(in: DataFrame, windowDur: String,
                        watermarkDelay: String, k: Int): DataFrame =
    windowedSketch(in, windowDur, watermarkDelay,
        graft.functions.TextFunctions.tokens(col("text")))(graft.plans.MisraGriesAgg(_, k))
      .select(col("window.start").as("window_start"), explode(col("sk")).as("e"))
      .select(col("window_start"), col("e.token").as("token"),
        col("e.est").as("est"), col("e.n").as("n_stream"))

  /** Windowed Count-Min frequency grid over a document stream — the
   * fourth native sketch through the streaming state store. Per
   * event-time window: the merged CM grid (point-frequency estimates
   * for ANY token, not just retained heavy hitters) plus the exact
   * in-window token count. Count-Min is LINEAR — counters are sums —
   * so unlike MG the streaming answer is BIT-IDENTICAL to the batch
   * aggregate over the same rows under any micro-batch schedule. State:
   * [[windowedSketch]]'s bound, one depth × width grid per row
   * regardless of vocabulary or stream rate.
   * Output: (window_start, window_end, n_tokens, counters). */
  def windowedCmGrid(in: DataFrame, windowDur: String, watermarkDelay: String,
                     depth: Int, width: Int): DataFrame =
    windowedSketch(
        in.select(col("ts"), explode(graft.functions.TextFunctions.tokens(col("text"))).as("token")),
        windowDur, watermarkDelay, col("token"))(graft.plans.CountMinAgg(_, depth, width))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("sk.n").as("n_tokens"), col("sk.counters").as("counters"))

  /** The windowed-sketch step: `in` watermarked at `watermarkDelay` when it
   * streams — a batch DataFrame runs the identical plan minus the
   * watermark, the backfill path of the same metric and its batch twin —
   * and grouped by a tumbling `window(ts, windowDur)` into ONE `sketch`
   * aggregate of `input`, named `sk`.
   *
   * State: one row per window that ends after the watermark, i.e. the
   * windows of the rows within `watermarkDelay + windowDur` of the newest
   * event time — at most (watermarkDelay + a micro-batch's event-time
   * advance) / windowDur + 2 rows at any rate. */
  private def windowedSketch(in: DataFrame, windowDur: String, watermarkDelay: String,
                             input: Column)(sketch: Expression => AggregateFunction): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val wm = if (in.isStreaming) in.withWatermark("ts", watermarkDelay) else in
    wm.groupBy(window(col("ts"), windowDur))
      .agg(toCol(sketch(toExpr(input)).toAggregateExpression()).as("sk"))
  }
}
