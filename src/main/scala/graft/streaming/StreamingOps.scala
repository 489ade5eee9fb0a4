package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Misra–Gries sketch state for one token shard of
 * [[StreamingOps.trendingTokens]]: at most `k` live counters plus the
 * tokens already alerted (so a trend fires once). */
case class MgState(counters: Map[String, Long], alerted: Set[String])

/** One trend alert: the token whose Misra–Gries estimate crossed the
 * threshold in this micro-batch, with the estimate at crossing. */
case class TrendAlert(token: String, est_count: Long)

/**
 * Streaming aggregation surface (SURVEY.md §2.2 "streaming windows" —
 * absent from the reference, built-in in Spark) plus the streaming face of
 * the dedup family. All operators take/return streaming DataFrames with
 * an event-time `ts` column and compose with `writeStream`.
 *
 * Scale: every operator is watermarked, so state is bounded by
 * (watermark delay × key cardinality) and Spark ages it out — the same
 * discipline the LJOT core applies (retention → watermark,
 * SURVEY.md §2.1-O5). Aggregations run partial → shuffle-by-key → final.
 */
object StreamingOps {

  /** Tumbling event-time window counts+sums of `value` per key.
   * Output: (key, window_start, window_end, n, total). */
  def tumblingAgg(in: DataFrame, windowDur: String, watermarkDelay: String): DataFrame =
    in.withWatermark("ts", watermarkDelay)
      .groupBy(col("key"), window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("key"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("total"))

  /** Sliding event-time window counts per key. */
  def slidingAgg(in: DataFrame, windowDur: String, slideDur: String,
                 watermarkDelay: String): DataFrame =
    in.withWatermark("ts", watermarkDelay)
      .groupBy(col("key"), window(col("ts"), windowDur, slideDur))
      .agg(count(lit(1)).as("n"))
      .select(col("key"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"))

  /** Session windows: events for a key within `gap` of each other merge
   * into one session. Output: (key, session_start, session_end, n). */
  def sessionAgg(in: DataFrame, gap: String, watermarkDelay: String): DataFrame =
    in.withWatermark("ts", watermarkDelay)
      .groupBy(col("key"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"))
      .select(col("key"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n"))

  /** Streaming exact dedup on arbitrary key columns: drops records whose
   * key was already seen within the watermark horizon — the streaming
   * face of `TextDedup.exact`. State is bounded by the watermark (late
   * duplicates beyond it pass through, documented). */
  def dedupWithinWatermark(in: DataFrame, watermarkDelay: String,
                           keys: Seq[String]): DataFrame =
    in.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

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
   * crossed `threshold` for the first time. The sketch guarantee —
   * true_count ≥ estimate ≥ true_count − batch/k — makes an alert a
   * certified lower bound on the true count. Extracted from the
   * streaming operator so the sketch semantics are unit-testable
   * without driving the engine. */
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
   * sketch per token shard, alerting the first time a token's estimate
   * crosses `threshold` — the bursty-vocabulary monitor (breaking
   * topics, spam floods, scraper loops) that exact windowed counts
   * cannot provide at vocabulary scale: exact per-token state is
   * O(vocabulary); this is O(shards · k) FOREVER, the sketch's whole
   * point. Sharding by token hash spreads sketch work across
   * partitions; each token always lands in the same shard, so its
   * counter is coherent. Each shard is one [[bucketStage]] bucket, so a
   * shard idle for `retention` behind its newest event clears — a quiet
   * topic re-trends later rather than holding state forever.
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
        _._2, s => s._1.counters.isEmpty && s._1.alerted.isEmpty) { (recs, s) =>
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
   * bucket (StreamingDedupSpec's late-record test pins it). */
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
   * over the same rows — pinned in `StreamingOpsSpec` — and (b) per-
   * window state is O(k) FOREVER (an exact windowed distinct holds
   * every key seen in the window — unbounded per-user state at scale).
   * Output: (window_start, window_end, m, hk, n_distinct_kmv). */
  def windowedKmvDistinct(in: DataFrame, windowDur: String,
                          watermarkDelay: String, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val h = md5(col("key").cast("string"))
    val sk = toCol(graft.plans.KmvDistinctAgg(toExpr(h), k).toAggregateExpression())
    // batch DataFrames run the identical plan minus the watermark — the
    // backfill path of the same metric (and the spec's equality oracle)
    val wm = if (in.isStreaming) in.withWatermark("ts", watermarkDelay) else in
    wm.groupBy(window(col("ts"), windowDur))
      .agg(sk.as("sk"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("sk.m").as("m"), col("sk.hk").as("hk"),
        col("sk.est").as("n_distinct_kmv"))
  }

  /** Windowed Misra-Gries heavy-hitter candidates over a document
   * stream — the third native sketch through the streaming state store
   * (after KMV here and the GK/HLL batch forms): per event-time window,
   * the merged MG sketch's ≤ k retained (token, est) counters plus the
   * window's exact stream length. Unlike KMV, MG is merge-ORDER-
   * dependent, so streaming output need not equal the batch sketch
   * bit-for-bit; what survives ANY merge schedule — micro-batch
   * partials merged incrementally into state included — is the Agarwal
   * et al. 2012 bound: est ≤ true ≤ est + n/(k+1), hence every token
   * with true in-window frequency > n/(k+1) is RETAINED. The spec
   * asserts exactly that guarantee against per-window truth, the same
   * contract the batch `mg_heavy_hitters` closure certifies with an
   * exact re-count. State per window is O(k) counters — bounded at any
   * stream rate. */
  def windowedMgHitters(in: DataFrame, windowDur: String,
                        watermarkDelay: String, k: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val sk = toCol(graft.plans.MisraGriesAgg(
      toExpr(graft.functions.TextFunctions.tokens(col("text"))), k)
      .toAggregateExpression())
    val wm = if (in.isStreaming) in.withWatermark("ts", watermarkDelay) else in
    wm.groupBy(window(col("ts"), windowDur))
      .agg(sk.as("sk"))
      .select(col("window.start").as("window_start"), explode(col("sk")).as("e"))
      .select(col("window_start"), col("e.token").as("token"),
        col("e.est").as("est"), col("e.n").as("n_stream"))
  }

  /** Windowed Count-Min frequency grid over a document stream — the
   * fourth native sketch through the streaming state store. Per
   * event-time window: the merged CM grid (point-frequency estimates
   * for ANY token, not just retained heavy hitters) plus the exact
   * in-window token count. Count-Min is LINEAR — counters are sums —
   * so unlike MG the streaming answer is BIT-IDENTICAL to the batch
   * aggregate over the same rows under any micro-batch schedule
   * (pinned in `StreamingOpsSpec`), and per-window state is a fixed
   * depth × width grid regardless of vocabulary or stream rate.
   * Output: (window_start, window_end, n_tokens, counters). */
  def windowedCmGrid(in: DataFrame, windowDur: String, watermarkDelay: String,
                     depth: Int, width: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val toks = in.select(col("ts"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
    val wm = if (toks.isStreaming) toks.withWatermark("ts", watermarkDelay) else toks
    val sk = toCol(graft.plans.CountMinAgg(toExpr(col("token")), depth, width)
      .toAggregateExpression())
    wm.groupBy(window(col("ts"), windowDur))
      .agg(sk.as("cm"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("cm.n").as("n_tokens"), col("cm.counters").as("counters"))
  }

  /** Stream-static enrichment: join a streaming fact stream to a STATIC
   * dimension on `key` — the lookup-join every event pipeline runs
   * (user profile, device registry, doc metadata onto its stream).
   * Left join keeps facts whose dimension row is missing (dim columns
   * NULL) rather than silently dropping them.
   *
   * Scale: a stream-static join is STATELESS — no watermark, no state
   * store; each micro-batch plans a fresh batch join, so a small
   * dimension broadcasts (AQE decides per-batch) and the stream side
   * never shuffles. The static side is re-read per trigger: at scale,
   * point it at a snapshot path (or persist it) so a concurrent
   * dimension rewrite cannot tear mid-batch. */
  def enrich(stream: DataFrame, dim: DataFrame, dimCols: Seq[String]): DataFrame =
    stream.join(dim.select((col("key") +: dimCols.map(col)): _*), Seq("key"), "left")
}
