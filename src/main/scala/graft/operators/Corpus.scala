package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, TextSql}

/**
 * Corpus-management operators for a training-data pipeline: rule-based
 * quality filtering (the Gopher-style pre-filter every LLM data pipeline
 * runs before dedup) and deterministic hash-based dataset splitting.
 *
 * Both are pure codegen'd projections — no shuffle, no UDF, no state —
 * so at 100 TB they run at scan speed and partition trivially. Every
 * value is integer arithmetic, string ops, or a single IEEE double
 * division, with exactly mirrored DuckDB SQL for the oracle compare.
 */
object Corpus {
  import TextFunctions.tokens

  // ---- 1. quality filter ---------------------------------------------------

  /** Gopher-style rule thresholds (Rae et al. 2021, table A1 — the public
   * heuristic family; constants tuned to this corpus's scale). */
  val QfMinTokens = 20
  val QfMaxTokens = 100000
  val QfMinMeanWordLen = 3.0
  val QfMaxMeanWordLen = 12.0
  val QfMaxSymbolRatio = 0.1
  val QfMinStopHits = 2

  /** Per-document quality signals + the composite pass/fail verdict:
   * (doc_id, n_tokens, mean_word_len, symbol_ratio, stop_hits, passes).
   *
   * Signals: token count window, mean word length window (too low =
   * character soup, too high = machine strings), symbol ratio (non-
   * alphanumeric-space characters over all characters), and a minimum
   * stopword count (natural prose contains function words). Divisions
   * are zero-guarded so empty documents fail cleanly instead of
   * propagating NaN (which would also diverge between engines). */
  def qualityFilter(docs: DataFrame): DataFrame = {
    // token array materialized ONCE through a Generate barrier — the flat
    // composition re-tokenized per signal after CollapseProject inlining
    val toks = col("toks")
    val nTok = TextFunctions.tokenCountFromToks(toks)
    // total token chars via the joined token string: an exact integer,
    // so the mean is ONE double division (deterministic cross-engine)
    val meanWl = when(nTok === 0, lit(0.0))
      .otherwise(length(array_join(toks, "")).cast("double") / nTok.cast("double"))
    val symRatio = when(length(col("text")) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")).cast("double") /
          length(col("text")).cast("double"))
    val stops = TextFunctions.stopHitsFromToks(toks)
    TextFunctions.withTokens(docs, "text", "toks")
      .select(col("doc_id"), nTok.as("n_tokens"), meanWl.as("mean_word_len"),
        symRatio.as("symbol_ratio"), stops.as("stop_hits"))
      .withColumn("passes",
        col("n_tokens").between(QfMinTokens, QfMaxTokens) &&
          col("mean_word_len").between(QfMinMeanWordLen, QfMaxMeanWordLen) &&
          col("symbol_ratio") <= QfMaxSymbolRatio &&
          col("stop_hits") >= QfMinStopHits)
  }

  def qualityFilterSql(table: String): String = {
    val toks = TextSql.tokens("text")
    val nTok = s"len($toks)"
    val meanWl = s"(CASE WHEN $nTok = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
      s"CAST(length(array_to_string($toks, '')) AS DOUBLE) / CAST($nTok AS DOUBLE) END)"
    val symR = "(CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
      "CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) " +
      "/ CAST(length(text) AS DOUBLE) END)"
    s"""SELECT doc_id, n_tokens, mean_word_len, symbol_ratio, stop_hits,
       |  (n_tokens BETWEEN $QfMinTokens AND $QfMaxTokens
       |   AND mean_word_len BETWEEN $QfMinMeanWordLen AND $QfMaxMeanWordLen
       |   AND symbol_ratio <= $QfMaxSymbolRatio
       |   AND stop_hits >= $QfMinStopHits) AS passes
       |FROM (
       |  SELECT doc_id, CAST($nTok AS BIGINT) AS n_tokens, $meanWl AS mean_word_len,
       |         $symR AS symbol_ratio, CAST(${TextSql.stopHits("text")} AS BIGINT) AS stop_hits
       |  FROM $table)""".stripMargin
  }

  /** The [[qualityFilter]] rules in their cascade order — (stage, name,
   * per-doc pass predicate builder). Single source of truth for
   * [[filterFunnel]] on both engines. */
  private val QfRules: Seq[(Int, String, String)] = Seq(
    (1, "min_tokens", s"n_tokens >= $QfMinTokens"),
    (2, "max_tokens", s"n_tokens <= $QfMaxTokens"),
    (3, "word_len", s"mean_word_len >= $QfMinMeanWordLen AND mean_word_len <= $QfMaxMeanWordLen"),
    (4, "symbol_ratio", s"symbol_ratio <= $QfMaxSymbolRatio"),
    (5, "stop_hits", s"stop_hits >= $QfMinStopHits"))

  /** Filter-cascade attrition audit — the ablation table every data
   * paper publishes for its cleaning pipeline (C4, Gopher, RefinedWeb
   * all report per-rule removal rates): for each [[qualityFilter]] rule
   * in cascade order, how many docs fail it IN ISOLATION
   * (`n_fail_alone`), how many are dropped AT this stage (passed every
   * earlier rule, fail this one — `n_dropped_here`), and how many
   * survive rules 1..i (`n_surviving`). Σ n_dropped_here + final
   * n_surviving = corpus size, and the last n_surviving equals
   * `qualityFilter`'s pass count — the cascade is a partition of the
   * corpus, which the spec asserts.
   *
   * Scale shape: the per-doc signals are [[qualityFilter]]'s one
   * codegen'd projection; all 15 funnel cells come from ONE map-side-
   * combining aggregate over it (conditional sums — no per-rule scan,
   * no join), reshaped to the 5-row table by exploding a literal
   * struct array over the single aggregate row. One scan, one
   * exchange of one row, at any corpus size. */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val sig = qualityFilter(docs)
    val pass = QfRules.map { case (_, _, pred) => expr(pred) }
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L)).cast("bigint")
    val cells = QfRules.indices.flatMap { i =>
      val upTo = pass.take(i + 1).reduce(_ && _)
      val before = if (i == 0) lit(true) else pass.take(i).reduce(_ && _)
      Seq(cnt(!pass(i)).as(s"fa$i"),
        cnt(before && !pass(i)).as(s"dh$i"),
        cnt(upTo).as(s"sv$i"))
    }
    val one = sig.agg(cells.head, cells.tail: _*)
    val rows = QfRules.map { case (stage, name, _) =>
      val i = stage - 1
      struct(lit(stage).as("stage"), lit(name).as("rule"),
        col(s"fa$i").as("n_fail_alone"), col(s"dh$i").as("n_dropped_here"),
        col(s"sv$i").as("n_surviving"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.stage").cast("int").as("stage"), col("r.rule"),
        col("r.n_fail_alone"), col("r.n_dropped_here"), col("r.n_surviving"))
  }

  def filterFunnelSql(table: String): String = {
    val cellDefs = QfRules.indices.flatMap { i =>
      val upTo = QfRules.take(i + 1).map(r => s"(${r._3})").mkString(" AND ")
      val before = if (i == 0) "TRUE" else QfRules.take(i).map(r => s"(${r._3})").mkString(" AND ")
      Seq(
        s"CAST(sum(CASE WHEN NOT (${QfRules(i)._3}) THEN 1 ELSE 0 END) AS BIGINT) AS fa$i",
        s"CAST(sum(CASE WHEN ($before) AND NOT (${QfRules(i)._3}) THEN 1 ELSE 0 END) AS BIGINT) AS dh$i",
        s"CAST(sum(CASE WHEN $upTo THEN 1 ELSE 0 END) AS BIGINT) AS sv$i")
    }.mkString(",\n       ")
    val arms = QfRules.map { case (stage, name, _) =>
      val i = stage - 1
      s"SELECT $stage AS stage, '$name' AS rule, fa$i AS n_fail_alone, " +
        s"dh$i AS n_dropped_here, sv$i AS n_surviving FROM a"
    }.mkString("\n       |", "\n       |UNION ALL ", "")
    s"""WITH q AS (${qualityFilterSql(table)}),
       |a AS (SELECT $cellDefs FROM q)$arms""".stripMargin
  }

  // ---- 2. deterministic split ----------------------------------------------

  /** Split thresholds over the 256 md5-prefix buckets:
   * [0, TrainUpto) = train (~89.8%), [TrainUpto, ValUpto) = val (~5.1%),
   * [ValUpto, 256) = test (~5.1%). */
  val TrainUpto = 230
  val ValUpto = 243

  /** Content-addressed bucket in [0, 256): the first two hex chars of
   * md5 of the STRING rendering of the id — pure projection, identical
   * in any engine with md5, and stable under appends/reshuffles (the
   * property per-partition `rand()` splits lack: a row's split never
   * depends on what other rows exist). `salt` decorrelates independent
   * uses (splitting vs sampling must not share buckets, or the sample
   * would draw only from one split's id population). `idCol` is a column
   * NAME on both sides; `salt` rides as a `lit` on the Spark side and is
   * quote-escaped on the DuckDB side, so arbitrary salt strings are
   * safe. */
  private def hashBucket(idCol: String, salt: String = ""): Column =
    conv(substring(
      md5(concat(lit(salt), col(idCol).cast("string")).cast("binary")), 1, 2),
      16, 10).cast("int")

  /** Single-quote doubling for a DuckDB string literal. */
  private[operators] def sqlLit(s: String): String = s"'${s.replace("'", "''")}'"

  private def hashBucketSqlDuck(idCol: String, salt: String = ""): String =
    s"CAST((instr('0123456789abcdef', substring(md5(${sqlLit(salt)} || $idCol::VARCHAR), 1, 1)) - 1) * 16 " +
      s"+ (instr('0123456789abcdef', substring(md5(${sqlLit(salt)} || $idCol::VARCHAR), 2, 1)) - 1) AS INT)"

  /** (doc_id, split_bucket, split): deterministic train/val/test
   * assignment. */
  def sampleSplit(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), hashBucket("doc_id").as("split_bucket"))
      .withColumn("split",
        when(col("split_bucket") < TrainUpto, lit("train"))
          .when(col("split_bucket") < ValUpto, lit("val"))
          .otherwise(lit("test")))

  def sampleSplitSql(table: String): String =
    s"""SELECT doc_id, split_bucket,
       |  CASE WHEN split_bucket < $TrainUpto THEN 'train'
       |       WHEN split_bucket < $ValUpto THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, ${hashBucketSqlDuck("doc_id")} AS split_bucket FROM $table)""".stripMargin

  /** Salt decorrelating cluster-level split buckets from the doc-level
   * ones. */
  val ClusterSplitSalt = "csplit:"

  /** Leakage-safe split: train/val/test assignment hashed on the
   * near-dup CLUSTER id, not the document id — near-duplicates that a
   * doc-level split would scatter across train and test (the classic
   * eval-contamination bug: the model "generalizes" to a near-copy of a
   * training doc) land in the SAME split by construction. Input is
   * [[DedupClusters.assign]]'s (doc_id, cluster_id) labeling; singleton
   * docs hash on their own id (cluster_id = doc_id). Pure projection
   * past the labeling — same append-stable, engine-portable assignment
   * as [[sampleSplit]]. Output (doc_id, cluster_id, split_bucket,
   * split). */
  def clusterSafeSplit(labeled: DataFrame): DataFrame =
    labeled.select(col("doc_id"), col("cluster_id"),
        hashBucket("cluster_id", ClusterSplitSalt).as("split_bucket"))
      .withColumn("split",
        when(col("split_bucket") < TrainUpto, lit("train"))
          .when(col("split_bucket") < ValUpto, lit("val"))
          .otherwise(lit("test")))

  def clusterSafeSplitSql(labeledSql: String): String =
    s"""SELECT doc_id, cluster_id, split_bucket,
       |  CASE WHEN split_bucket < $TrainUpto THEN 'train'
       |       WHEN split_bucket < $ValUpto THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, cluster_id,
       |        ${hashBucketSqlDuck("cluster_id", ClusterSplitSalt)} AS split_bucket
       |      FROM ($labeledSql))""".stripMargin

  /** Labeling-once dedup pipeline: near-dup pair generation + connected
   * components — the expensive stages — run ONE time, and the persisted
   * (doc_id, cluster_id) labeling feeds BOTH the canonical-keeper
   * selection and the leakage-safe split. The three checked queries
   * (`dedup_clusters` / `cluster_keepers` / `cluster_safe_split`) stay
   * independent by harness contract and each recompute the labeling from
   * scratch (~2.2 s × 3 at sf0.1 — hours × 3 at 100 TB); THIS is the
   * composition a production pipeline calls instead. On a cluster,
   * substitute `labeled.write.parquet(...)` for the in-memory persist to
   * also survive executor loss and to feed later incremental runs.
   * Returns (labeled, keepers, split); `labeled` is persisted — callers
   * unpersist when done. */
  def dedupPipeline(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val labeled = DedupClusters.assign(docs, TextDedup.minhashLsh(docs)).persist()
    (labeled,
      DedupClusters.keepersFromLabeled(labeled, docs),
      clusterSafeSplit(labeled))
  }

  // ---- 2b. deterministic global shuffle ------------------------------------

  /** Salt decorrelating shuffle-order hashes from split/sample buckets. */
  val ShuffleSalt = "shuf:"
  /** Docs-per-shard target and the derived shard-count clamp. Shards are
   * a POWER OF TWO in [[[ShuffleShardsMin]], [[ShuffleShardsMax]]] so a
   * shard is exactly a contiguous range of the 16-bit hash-prefix space
   * (shard = prefix DIV (65536/S)) — the shard id preserves the global
   * hash order, which is what lets the per-shard position windows
   * reconstruct a total order without a global sort. */
  val ShuffleTargetShard = 4096L
  val ShuffleShardsMin = 16
  val ShuffleShardsMax = 65536

  /** Power-of-two shard count for a corpus of `n` docs: next pow2 of
   * ceil(n/target), clamped. Bit-length form — integer-exact, the
   * `lshPlanesFor` contract. */
  def shuffleShardsFor(n: Long, target: Long = ShuffleTargetShard): Int = {
    val m = (math.max(n, 1L) + target - 1) / target
    val w = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(ShuffleShardsMin, math.min(ShuffleShardsMax, 1 << math.min(w, 16)))
  }

  /** Deterministic global training-order shuffle: every doc gets a
   * (shard, pos) address such that reading shard 0 in pos order, then
   * shard 1, … replays the corpus in md5-hash order — the
   * randomized-but-reproducible example order a training run shards its
   * input into. Id-addressed (md5 of the salted id), so the order
   * is engine-portable and append-stable per doc-id (a rerun after adding
   * docs keeps every old doc in the same global position RELATIVE to the
   * other old docs — `rand()`-based shuffles restart from nothing).
   *
   * Scale shape: NO GLOBAL SORT. One projection computes the hash and
   * its 16-bit prefix; shard = prefix DIV (65536/S) with S a derived
   * power of two ([[shuffleShardsFor]]), so shards are contiguous
   * hash-prefix ranges and ordering by (shard, pos) ≡ ordering by the
   * full hash. The only exchange is the hash-partition by shard; `pos`
   * is a per-shard window over ~n/S rows. At 100 TB the same plan holds
   * with S at the 65536 ceiling (≈1.5 GB of docs per shard at 100 TB) —
   * the practical alternative, a range-partitioned `ORDER BY h` sort,
   * pays a sampling pass plus a full sort; this is one cheap projection
   * and one shuffle. Output (doc_id, shard, pos). */
  def globalShuffle(docs: DataFrame): DataFrame = {
    val shards = shuffleShardsFor(ScanMemo.exactCount(docs))
    val width = 65536 / shards
    val W = org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"),
        md5(concat(lit(ShuffleSalt), col("doc_id").cast("string")).cast("binary")).as("h"))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 4), 16, 10).cast("int") / lit(width)).cast("int"))
      .withColumn("pos", row_number().over(
        W.partitionBy("shard").orderBy(col("h"), col("doc_id"))).cast("bigint"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Per-shard source-mix audit over [[globalShuffle]]'s deterministic
   * shard assignment — the data-loader bias check: a training run reads
   * shards sequentially, so a shard dominated by one source feeds the
   * model a correlated stretch of data (the failure mode a shuffle
   * exists to prevent). Output per shard: n_docs, n_sources, max_cnt
   * and max_share (largest single-source fraction, one IEEE divide of
   * exact BIGINTs). The dominant source NAME is deliberately not
   * emitted — only counts — so the output is engine-orderable without
   * a struct-max whose tie rules differ across engines.
   *
   * Scale shape: shard is a pure projection of doc_id (no window — the
   * positions aren't needed for the mix), so this is one scan, a
   * map-side-combining (shard, source) aggregate — ≤ shards·sources
   * rows — and a shard-level rollup to O(shards) ≤ 65536 rows. */
  def shardMixAudit(docs: DataFrame): DataFrame = {
    val shards = shuffleShardsFor(ScanMemo.exactCount(docs))
    val width = 65536 / shards
    val bySrc = docs
      .select(col("source"),
        md5(concat(lit(ShuffleSalt), col("doc_id").cast("string")).cast("binary")).as("h"))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 4), 16, 10).cast("int") / lit(width)).cast("int"))
      .groupBy(col("shard"), col("source")).agg(count(lit(1)).as("c"))
    bySrc.groupBy(col("shard"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        max(col("c")).as("max_cnt"))
      .select(col("shard"), col("n_docs"), col("n_sources"), col("max_cnt"),
        (col("max_cnt").cast("double") / col("n_docs").cast("double")).as("max_share"))
  }

  def shardMixAuditSql(table: String): String = {
    val m = s"((n + ${ShuffleTargetShard - 1}) // $ShuffleTargetShard)"
    // integer-exact bit-length (length(bin(m-1))), never CEIL(LOG2(m)):
    // an inexact libm log2 at a power-of-two m could read one bit high
    // and double the shard count vs the Scala side's numberOfLeadingZeros
    val w = s"(CASE WHEN $m <= 1 THEN 0 ELSE CAST(length(bin($m - 1)) AS INT) END)"
    val shards = s"GREATEST($ShuffleShardsMin, LEAST($ShuffleShardsMax, (1 << LEAST($w, 16))))"
    s"""WITH params AS (SELECT 65536 // $shards AS width
       |               FROM (SELECT count(*) AS n FROM $table)),
       |hashed AS (SELECT source, md5(${sqlLit(ShuffleSalt)} || doc_id::VARCHAR) AS h
       |           FROM $table),
       |bysrc AS (
       |  SELECT CAST(${hexPrefix16SqlDuck("h")} // (SELECT width FROM params) AS INT) AS shard,
       |         source, CAST(count(*) AS BIGINT) AS c
       |  FROM hashed GROUP BY 1, 2)
       |SELECT shard, CAST(sum(c) AS BIGINT) AS n_docs,
       |       CAST(count(*) AS BIGINT) AS n_sources,
       |       CAST(max(c) AS BIGINT) AS max_cnt,
       |       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS max_share
       |FROM bysrc GROUP BY shard""".stripMargin
  }

  /** 16-bit hash-prefix value — four chained hex-digit extractions, the
   * [[hashBucketSqlDuck]] arithmetic widened to 4 chars. */
  private def hexPrefix16SqlDuck(h: String): String =
    (1 to 4).map { i =>
      s"(instr('0123456789abcdef', substring($h, $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
    }.mkString("CAST(", " + ", " AS INT)")

  def globalShuffleSql(table: String): String = {
    // the oracle derives the identical shard count from its own count(*)
    // with the SAME integer bit-length the Scala side computes
    // (length(bin(m-1)) ≡ 64 − numberOfLeadingZeros(m−1)) — no libm log2
    val m = s"((n + ${ShuffleTargetShard - 1}) // $ShuffleTargetShard)"
    val w = s"(CASE WHEN $m <= 1 THEN 0 ELSE CAST(length(bin($m - 1)) AS INT) END)"
    val shards = s"GREATEST($ShuffleShardsMin, LEAST($ShuffleShardsMax, (1 << LEAST($w, 16))))"
    s"""WITH params AS (SELECT 65536 // $shards AS width
       |               FROM (SELECT count(*) AS n FROM $table)),
       |hashed AS (SELECT doc_id, md5(${sqlLit(ShuffleSalt)} || doc_id::VARCHAR) AS h
       |           FROM $table),
       |sharded AS (SELECT doc_id, h,
       |                   CAST(${hexPrefix16SqlDuck("h")} // (SELECT width FROM params) AS INT) AS shard
       |            FROM hashed)
       |SELECT doc_id, shard,
       |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM sharded""".stripMargin
  }

  // ---- 3. stratified sampling ----------------------------------------------

  /** Salt decorrelating the sampling buckets from the split buckets. */
  val StratSalt = "strat:"
  /** Default stratum keep-rates in buckets-of-256: downsample the
   * dominant language to a quarter, keep the long-tail languages whole —
   * the classic multilingual rebalance. */
  val StratKeep: Map[String, Int] = Map("en" -> 64)

  /** Deterministic per-stratum downsampling: keep a row iff its salted
   * content bucket falls under its stratum's threshold (buckets of 256).
   * Same append-stability story as [[sampleSplit]]; the salt keeps the
   * sample independent of the split assignment. Pure projection+filter —
   * scan-speed at any scale, exact expected rates per stratum. */
  def stratifiedSample(docs: DataFrame,
                       keep: Map[String, Int] = StratKeep,
                       defaultKeep: Int = 256): DataFrame = {
    val thr = keep.foldLeft(lit(defaultKeep): Column) { case (acc, (k, v)) =>
      when(col("lang") === k, lit(v)).otherwise(acc)
    }
    docs.select(col("doc_id"), col("lang"),
        hashBucket("doc_id", StratSalt).as("b"))
      .filter(col("b") < thr)
      .select(col("doc_id"), col("lang"))
  }

  def stratifiedSampleSql(table: String,
                          keep: Map[String, Int] = StratKeep,
                          defaultKeep: Int = 256): String = {
    // an empty keep map must not emit a zero-WHEN CASE (a parse error);
    // the Spark twin handles the same configuration as a plain literal
    val thr =
      if (keep.isEmpty) defaultKeep.toString
      else "(CASE " + keep.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN lang = ${sqlLit(k)} THEN $v" }.mkString(" ") +
        s" ELSE $defaultKeep END)"
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, ${hashBucketSqlDuck("doc_id", StratSalt)} AS b FROM $table)
       |WHERE b < $thr""".stripMargin
  }

  // ---- sequence packing ----------------------------------------------------

  /** Token budget per packed bin (a context-window's worth). */
  val PackBinTokens = 512
  /** Pack parallelism: documents hash into independent streams and pack
   * within each — the dial that avoids a GLOBAL sort. The stream count
   * DERIVES from a plan-time corpus count (ceil(n / docs-per-bucket),
   * clamped) so each stream's window sort stays bounded at any corpus
   * size — a fixed count would sort corpus/16 per task at 100 TB, the
   * same fixed-cardinality trap the round-5 verdict flagged for the
   * embedding banding. Packing quality loss from more streams is
   * negligible (bins fragment only at each stream's tail). Note the
   * size-derived count means bucket assignment is stable only within a
   * bucket-count tier — acceptable for a physical-layout op, unlike the
   * split/sample assignments which stay strictly content-addressed. */
  val PackDocsPerBucket = 4096
  val PackBucketsMin = 16
  val PackBucketsMax = 65536
  private val PackSalt = "pack:"

  def packBucketsFor(n: Long): Int =
    math.max(PackBucketsMin.toLong, math.min(PackBucketsMax.toLong,
      (math.max(n, 1L) + PackDocsPerBucket - 1) / PackDocsPerBucket)).toInt

  /** Sequence packing: assign each document a (bucket, bin, offset) under
   * a running token budget — the pack-documents-into-context-windows
   * step a training pipeline runs between corpus assembly and
   * tokenization. Greedy by running total in a content-addressed order:
   * docs hash into [[PackBuckets]] independent streams (no global sort —
   * each bucket's window sorts in parallel), within a bucket they order
   * by (md5, doc_id) — append-stable like every split in this file — and
   * a doc starts in the bin where its cumulative token count begins.
   * Output (doc_id, pack_bucket, bin_idx, tok_offset, n_tokens); one
   * shuffle on the bucket key. */
  def packSequences(docs: DataFrame): DataFrame = {
    val buckets = packBucketsFor(ScanMemo.exactCount(docs))
    val h = md5(concat(lit(PackSalt), col("doc_id").cast("string")).cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pack_bucket")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"), h.as("h"),
        coalesce(TextFunctions.tokenCount(col("text")), lit(0L)).as("n_tokens"))
      // 4 hex chars = 16 bits of key space, enough for PackBucketsMax
      .withColumn("pack_bucket",
        (conv(substring(col("h"), 1, 4), 16, 10).cast("int") % buckets))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("pack_bucket"),
        expr(s"CAST((cum - n_tokens) DIV $PackBinTokens AS BIGINT)").as("bin_idx"),
        expr(s"CAST((cum - n_tokens) % $PackBinTokens AS BIGINT)").as("tok_offset"),
        col("n_tokens"))
  }

  def packSequencesSql(table: String): String = {
    val hex4 = (1 to 4).map { i =>
      s"(instr('0123456789abcdef', substring(h, $i, 1)) - 1) * CAST(${1L << (4 * (4 - i))} AS BIGINT)"
    }.mkString("(", " + ", ")")
    s"""WITH params AS (
       |  SELECT GREATEST($PackBucketsMin, LEAST($PackBucketsMax,
       |           (count(*) + ${PackDocsPerBucket - 1}) // $PackDocsPerBucket)) AS nb
       |  FROM $table),
       |t AS (
       |  SELECT doc_id, md5('$PackSalt' || doc_id::VARCHAR) AS h,
       |         COALESCE(${TextSql.tokenCount("text")}, 0) AS n_tokens
       |  FROM $table),
       |b AS (
       |  SELECT doc_id, n_tokens, h, CAST($hex4 % nb AS INT) AS pack_bucket
       |  FROM t CROSS JOIN params),
       |c AS (
       |  SELECT doc_id, pack_bucket, n_tokens,
       |         SUM(n_tokens) OVER (PARTITION BY pack_bucket ORDER BY h, doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM b)
       |SELECT doc_id, pack_bucket,
       |       CAST((cum - n_tokens) // $PackBinTokens AS BIGINT) AS bin_idx,
       |       CAST((cum - n_tokens) % $PackBinTokens AS BIGINT) AS tok_offset,
       |       CAST(n_tokens AS BIGINT) AS n_tokens
       |FROM c""".stripMargin
  }

  /** Packing audit — the efficiency table for [[packSequences]]'s
   * continuous greedy packer: per pack bucket, how many documents cross
   * a bin boundary (`n_split_docs` — each split is a truncation the
   * model trains through; THE number a packing strategy is judged by),
   * how many bins the bucket fills, and the tail bin's fill. The
   * continuous packer wastes nothing except each bucket's tail
   * (`last_fill < PackBinTokens`), so utilization is read off n_bins +
   * last_fill; the split rate is the price paid for that zero waste —
   * the audit quantifies exactly the trade a padded packer would
   * invert. Output (pack_bucket, n_docs, n_split_docs, n_bins,
   * last_fill, split_frac).
   *
   * Shape: [[packSequences]] unchanged (its plan is pinned in its own
   * entry), then ONE partial aggregate already co-partitioned on
   * pack_bucket — the window shuffle is the only exchange; output is
   * O(buckets) rows at any corpus size. A doc is split iff its span
   * crosses a boundary: tok_offset + n_tokens > [[PackBinTokens]]
   * (ending exactly on the boundary is not a split); n_bins and
   * last_fill derive from the bucket's exact token total. */
  def packAudit(docs: DataFrame): DataFrame = {
    val b = PackBinTokens
    packSequences(docs)
      .groupBy(col("pack_bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("tok_offset") + col("n_tokens") > b, 1L).otherwise(0L))
          .cast("bigint").as("n_split_docs"),
        sum(col("n_tokens")).cast("bigint").as("tot"))
      .select(col("pack_bucket"), col("n_docs"), col("n_split_docs"),
        expr(s"CAST((tot + ${b - 1}) DIV $b AS BIGINT)").as("n_bins"),
        when(col("tot") % b === 0, when(col("tot") === 0, 0L).otherwise(lit(b.toLong)))
          .otherwise(col("tot") % b).cast("bigint").as("last_fill"),
        (col("n_split_docs").cast("double") / col("n_docs").cast("double"))
          .as("split_frac"))
  }

  def packAuditSql(table: String): String =
    s"""WITH p AS (${packSequencesSql(table)})
       |SELECT pack_bucket,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN tok_offset + n_tokens > $PackBinTokens
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
       |       CAST((sum(n_tokens) + ${PackBinTokens - 1}) // $PackBinTokens AS BIGINT) AS n_bins,
       |       CAST(CASE WHEN sum(n_tokens) % $PackBinTokens = 0
       |                 THEN (CASE WHEN sum(n_tokens) = 0 THEN 0 ELSE $PackBinTokens END)
       |                 ELSE sum(n_tokens) % $PackBinTokens END AS BIGINT) AS last_fill,
       |       CAST(sum(CASE WHEN tok_offset + n_tokens > $PackBinTokens
       |                     THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |         AS split_frac
       |FROM p GROUP BY pack_bucket""".stripMargin

  // ---- PII scan ------------------------------------------------------------

  /** RE2-safe ASCII patterns, identical semantics in Spark (java.util
   * .regex) and DuckDB (RE2): no lookaround, no backreferences. */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Pattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhonePattern = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** Per-document PII surface counts — the scan a redaction stage runs
   * before training. Pure regexp projection (codegen'd `regexp_count`,
   * no shuffle, scan speed at any corpus size). Output
   * (doc_id, n_emails, n_ipv4, n_phones, has_pii). */
  def piiScan(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(EmailPattern)).cast("bigint").as("n_emails"),
        regexp_count(col("text"), lit(Ipv4Pattern)).cast("bigint").as("n_ipv4"),
        regexp_count(col("text"), lit(PhonePattern)).cast("bigint").as("n_phones"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ipv4") + col("n_phones") > 0)

  def piiScanSql(table: String): String = {
    // DuckDB single-quoted literals pass backslashes through verbatim —
    // only quotes need escaping (same convention as tokenCountBpe's SQL)
    def cnt(p: String) = s"CAST(len(regexp_extract_all(text, '${p.replace("'", "''")}')) AS BIGINT)"
    s"""SELECT doc_id, n_emails, n_ipv4, n_phones,
       |       (n_emails + n_ipv4 + n_phones > 0) AS has_pii
       |FROM (SELECT doc_id, ${cnt(EmailPattern)} AS n_emails,
       |             ${cnt(Ipv4Pattern)} AS n_ipv4,
       |             ${cnt(PhonePattern)} AS n_phones
       |      FROM $table)""".stripMargin
  }

  /** The redaction stage [[piiScan]] scouts for: every PII match replaced
   * by a typed placeholder, in a FIXED category order (email → IPv4 →
   * phone — order matters where matches overlap, e.g. an IPv4 inside an
   * email's domain is consumed by the email replacement, so both engines
   * apply the identical sequence). `n_redacted` counts matches per
   * category on the ORIGINAL text (the scan view — under overlaps this
   * can exceed the placeholders actually inserted; both engines compute
   * it identically). Pure codegen'd `regexp_replace` projection — no
   * shuffle, scan speed at any corpus size, same RE2-safe patterns as
   * the scan. Output (doc_id, text_redacted, n_redacted). */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailPattern, "[EMAIL]"),
          Ipv4Pattern, "[IP]"),
        PhonePattern, "[PHONE]").as("text_redacted"),
      (regexp_count(col("text"), lit(EmailPattern)) +
        regexp_count(col("text"), lit(Ipv4Pattern)) +
        regexp_count(col("text"), lit(PhonePattern))).cast("bigint").as("n_redacted"))

  def piiRedactSql(table: String): String = {
    def esc(p: String) = p.replace("'", "''")
    def cnt(p: String) = s"CAST(len(regexp_extract_all(text, '${esc(p)}')) AS BIGINT)"
    s"""SELECT doc_id,
       |       regexp_replace(
       |         regexp_replace(
       |           regexp_replace(text, '${esc(EmailPattern)}', '[EMAIL]', 'g'),
       |           '${esc(Ipv4Pattern)}', '[IP]', 'g'),
       |         '${esc(PhonePattern)}', '[PHONE]', 'g') AS text_redacted,
       |       ${cnt(EmailPattern)} + ${cnt(Ipv4Pattern)} + ${cnt(PhonePattern)} AS n_redacted
       |FROM $table""".stripMargin
  }

  // ---- within-document repetition ------------------------------------------

  /** Within-document repetition signals (the remaining Gopher family:
   * machine-generated and boilerplate text repeats itself):
   * `dup_token_frac` = 1 − distinct/total as an exact ratio of bigints,
   * `top_token_frac` = occurrences of the most frequent token / total.
   * One materialized-token pass; the top-token count is a LINEAR
   * run-length fold over the sorted array (a naive
   * per-distinct-token `filter` count would be O(n·d) interpreted
   * lambda evaluations per row). DuckDB mirror counts relationally
   * (its lambdas cannot nest). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val n = TextFunctions.tokenCountFromToks(toks)
    val nd = size(array_distinct(toks)).cast("bigint")
    val top = {
      val sorted = sort_array(toks)
      val step = (acc: Column, x: Column) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      }
      aggregate(sorted,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        step, acc => acc.getField("best"))
    }
    TextFunctions.withTokens(docs, "text", "toks")
      .filter(size(toks) > 0)
      .select(col("doc_id"), n.as("n_tokens"), nd.as("n_distinct"),
        ((n - nd).cast("double") / n.cast("double")).as("dup_token_frac"),
        (top.cast("double") / n.cast("double")).as("top_token_frac"))
  }

  def repetitionStatsSql(table: String): String = {
    val toks = TextSql.tokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM $table),
       |tf AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
       |tok AS (SELECT doc_id, unnest(toks) AS tk FROM tf),
       |cnts AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2),
       |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |               CAST(count(*) AS BIGINT) AS nd,
       |               CAST(max(c) AS BIGINT) AS top
       |        FROM cnts GROUP BY doc_id)
       |SELECT doc_id, n AS n_tokens, nd AS n_distinct,
       |       (CAST(n - nd AS DOUBLE) / CAST(n AS DOUBLE)) AS dup_token_frac,
       |       (CAST(top AS DOUBLE) / CAST(n AS DOUBLE)) AS top_token_frac
       |FROM agg""".stripMargin
  }

  // ---- training-mixture profile ----------------------------------------------

  /** Training-mixture profile: per (source, lang) document counts, token
   * budgets (whitespace + BPE-ish subword proxy) and the stratum's share
   * of corpus documents — the table a mixture-weighting stage consumes to
   * plan "what do we train on, and how many tokens does each slice cost".
   *
   * Shape: one codegen'd token-count projection feeding a partial-agg
   * groupBy — the grouped relation is (sources × langs), a few hundred
   * rows at ANY corpus size, so the unpartitioned window computing the
   * share total is a single trivially-small final stage, not a scale
   * hazard. Shares are one double division of exact bigint sums —
   * bit-deterministic cross-engine. */
  def sourceMix(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("source"), col("lang"),
        TextFunctions.tokenCount(col("text")).as("tw"),
        TextFunctions.tokenCountBpe(col("text")).as("tb"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tw")).as("tokens_ws"),
        sum(col("tb")).as("tokens_bpe"))
      .withColumn("doc_share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy()).cast("double"))
  }

  def sourceMixSql(table: String): String =
    s"""SELECT source, lang, n_docs, tokens_ws, tokens_bpe,
       |       (CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE)) AS doc_share
       |FROM (
       |  SELECT source, lang, count(*) AS n_docs,
       |         CAST(sum(${TextSql.tokenCount("text")}) AS BIGINT) AS tokens_ws,
       |         CAST(sum(${TextSql.tokenCountBpe("text")}) AS BIGINT) AS tokens_bpe
       |  FROM $table GROUP BY source, lang)""".stripMargin

  /** Per-language tokenizer fertility profile: characters per BPE-ish
   * subword and subwords per whitespace word — the cost table behind
   * multilingual mixture decisions (a language whose fertility is 2×
   * pays 2× the context budget for the same text; the signal that a
   * tokenizer underserves a script). CJK text shows the characteristic
   * signature: few-to-no whitespace words (the `[a-z0-9]` word tokenizer
   * sees only embedded latin/digit runs) while the BPE-ish count still
   * bills every character run.
   *
   * Shape: ONE codegen'd projection into a partial-agg groupBy to
   * O(langs) rows — scan speed at any corpus size. Ratios are single
   * IEEE divides of exact BIGINT sums; zero denominators (a language
   * with no whitespace words, or an empty-text stratum) yield NULL
   * identically in both engines. */
  def tokenFertility(docs: DataFrame): DataFrame = {
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    docs
      .select(col("lang"), length(col("text")).cast("bigint").as("nc"),
        TextFunctions.tokenCount(col("text")).as("tw"),
        TextFunctions.tokenCountBpe(col("text")).as("tb"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("tw")).as("words_ws"),
        sum(col("tb")).as("tokens_bpe"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("words_ws"),
        col("tokens_bpe"),
        ratio(col("n_chars"), col("tokens_bpe")).as("chars_per_token"),
        ratio(col("tokens_bpe"), col("words_ws")).as("tokens_per_word"))
  }

  def tokenFertilitySql(table: String): String =
    s"""SELECT lang, n_docs, n_chars, words_ws, tokens_bpe,
       |       CASE WHEN tokens_bpe = 0 THEN NULL
       |            ELSE CAST(n_chars AS DOUBLE) / CAST(tokens_bpe AS DOUBLE) END AS chars_per_token,
       |       CASE WHEN words_ws = 0 THEN NULL
       |            ELSE CAST(tokens_bpe AS DOUBLE) / CAST(words_ws AS DOUBLE) END AS tokens_per_word
       |FROM (
       |  SELECT lang, count(*) AS n_docs,
       |         CAST(sum(length(text)) AS BIGINT) AS n_chars,
       |         CAST(sum(${TextSql.tokenCount("text")}) AS BIGINT) AS words_ws,
       |         CAST(sum(${TextSql.tokenCountBpe("text")}) AS BIGINT) AS tokens_bpe
       |  FROM $table GROUP BY lang)""".stripMargin

  /** Per-source exact-duplication profile — which crawls/feeds are
   * redundant BEFORE paying for near-dup machinery (a source with a 40%
   * exact-dup rate is re-serving cached pages; the near-dup families
   * then only need to run on what survives). Keyed on the same
   * normalized content fingerprint as [[TextDedup.exact]], so the rates
   * here are exactly the rows that pass would drop, per source.
   *
   * Shape: Spark plans the count+countDistinct pair as the standard
   * two-phase distinct aggregate — partial distinct on (source, fp)
   * (uniform 128-bit keys, no skew) then the per-source rollup; output
   * is O(sources) rows and `dup_rate` is one IEEE divide of exact
   * BIGINTs. */
  def dupRateBySource(docs: DataFrame): DataFrame =
    docs.select(col("source"), TextFunctions.fingerprint(col("text")).as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (col("n_docs") - col("n_distinct")).as("n_dup_docs"),
        ((col("n_docs") - col("n_distinct")).cast("double") /
          col("n_docs").cast("double")).as("dup_rate"))

  def dupRateBySourceSql(table: String): String =
    s"""SELECT source, n_docs, n_distinct,
       |       n_docs - n_distinct AS n_dup_docs,
       |       CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate
       |FROM (SELECT source, count(*) AS n_docs,
       |             count(DISTINCT ${TextSql.fingerprint("text")}) AS n_distinct
       |      FROM $table GROUP BY source)""".stripMargin

  /** Declared-vs-detected language confusion matrix — the label-quality
   * audit for a multilingual corpus (a `lang` column from a crawler's
   * HTTP header routinely disagrees with the text itself; rows off the
   * diagonal are the mislabeled mass that poisons per-language sampling
   * and quantile profiles). Reuses the same n-gram heuristic as
   * `text_stats` ([[TextFunctions.langId]]), so the matrix explains
   * exactly what every langId-consuming stage will see. One tokenize +
   * detect projection, one partial-agg to O(langs²) rows; share is a
   * single IEEE divide against the declared-language row total. */
  def langConfusion(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("lang").as("declared"),
        TextFunctions.langId(col("text")).as("detected"))
      .groupBy(col("declared"), col("detected"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("row_share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy(col("declared"))).cast("double"))
  }

  def langConfusionSql(table: String): String =
    s"""SELECT declared, detected, n_docs,
       |       CAST(n_docs AS DOUBLE) /
       |       CAST(sum(n_docs) OVER (PARTITION BY declared) AS DOUBLE) AS row_share
       |FROM (SELECT lang AS declared, ${TextSql.langId("text")} AS detected,
       |             count(*) AS n_docs
       |      FROM $table GROUP BY 1, 2)""".stripMargin

  // ---- temperature-scaled source mixing weights ------------------------------

  /** Per-source sampling weights for temperature-rebalanced training
   * mixes at τ = 0.5 (the sqrt smoothing of multilingual-pretraining
   * practice: a source's sampling probability ∝ its natural share
   * raised to τ, so head sources are down-weighted and tail sources
   * up-weighted without the uniform-mix extreme). Emits RELATIVE
   * weights anchored to the largest source rather than normalized
   * shares: `weight = sqrt(tokens / tokens_max)` ∈ (0, 1] (the largest
   * source gets exactly 1) and the per-document upsampling factor
   * `boost = sqrt(tokens_max / tokens)` ≥ 1 — downstream samplers
   * normalize however they batch. Output (source, n_docs, tokens,
   * weight, boost).
   *
   * Determinism note (why relative, not normalized): normalizing needs
   * Σ_s sqrt(tokens_s) — a float SUM whose value depends on addition
   * order, which differs between engines. The anchored form needs only
   * exact BIGINT token sums, one IEEE divide, and one IEEE sqrt per
   * row — both correctly rounded, so the doubles hash-compare.
   * Sources with zero tokens are dropped (their boost is unbounded and
   * a source of empty documents has nothing to sample).
   *
   * Shape: a map-side-combining groupBy on `source` (a few hundred
   * groups at ANY corpus size), then a single-row max broadcast onto
   * the tiny grouped relation — no scale hazard anywhere. */
  def mixWeights(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), TextFunctions.tokenCount(col("text")).as("tw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tw")).as("tokens"))
      .filter(col("tokens") > 0)
    val mx = counts.agg(max(col("tokens")).as("max_tokens"))
    counts.crossJoin(broadcast(mx))
      .select(col("source"), col("n_docs"), col("tokens"),
        sqrt(col("tokens").cast("double") / col("max_tokens").cast("double")).as("weight"),
        sqrt(col("max_tokens").cast("double") / col("tokens").cast("double")).as("boost"))
  }

  def mixWeightsSql(table: String): String =
    s"""WITH counts AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(${TextSql.tokenCount("text")}) AS BIGINT) AS tokens
       |  FROM $table GROUP BY source),
       |filtered AS (SELECT * FROM counts WHERE tokens > 0),
       |p AS (SELECT max(tokens) AS max_tokens FROM filtered)
       |SELECT source, n_docs, tokens,
       |       sqrt(CAST(tokens AS DOUBLE) / CAST(max_tokens AS DOUBLE)) AS weight,
       |       sqrt(CAST(max_tokens AS DOUBLE) / CAST(tokens AS DOUBLE)) AS boost
       |FROM filtered CROSS JOIN p""".stripMargin

  // ---- vocabulary heavy hitters ----------------------------------------------

  /** Result size for [[vocabTopK]]. */
  val VocabK = 20

  /** Corpus-wide token heavy hitters: the top-k tokens by total
   * occurrences, with document frequency — the vocabulary/boilerplate
   * profile (a token whose df approaches the corpus size is template
   * text; the frequency head drives tokenizer and stopword choices).
   *
   * Shape: explode tokens → hash-aggregate on the token. The partial
   * aggregate combines map-side, so the shuffle carries one row per
   * (partition, distinct token) — vocabulary-sized, not corpus-sized —
   * and a natural-language vocabulary follows Zipf's law into a few
   * million entries no matter how many petabytes feed it. The final
   * top-k is a TakeOrdered over the vocabulary relation. Deterministic:
   * ties broken by token, so the k-set is total-ordered. The df count
   * (exact distinct) rides the same aggregate via Spark's two-phase
   * distinct expansion; still vocabulary-keyed. */
  def vocabTopK(docs: DataFrame, k: Int = VocabK): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  def vocabTopKSql(table: String, k: Int = VocabK): String =
    s"""SELECT token, count(*) AS n, count(DISTINCT doc_id) AS df
       |FROM (SELECT doc_id, unnest(${TextSql.tokens("text")}) AS token FROM $table)
       |GROUP BY token ORDER BY n DESC, token LIMIT $k""".stripMargin

  /** Per-language token-LENGTH histogram — the fine-grained companion
   * of [[tokenFertility]]'s chars/token average: how token mass spreads
   * over lengths per language (a language whose mass sits in long
   * tokens fragments hardest under a subword tokenizer; the curve is
   * the input to vocabulary-size and fertility planning). Output
   * (lang, len, n, share) with share = n / language token total.
   *
   * Shape: one tokenize scan partial-aggregates to O(langs × distinct
   * lengths) rows — token length is bounded by word length in practice
   * (≤ a few dozen), so the grouped relation is tiny at any corpus
   * size; the share is a window divide over that tiny relation and two
   * exact BIGINTs per cell. */
  def tokenLenHist(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("lang"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("lang"), length(col("t")).cast("bigint").as("len"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("lang"))).cast("double"))
  }

  def tokenLenHistSql(table: String): String =
    s"""WITH tok AS (SELECT lang, unnest(${TextSql.tokens("text")}) AS t FROM $table),
       |g AS (SELECT lang, CAST(length(t) AS BIGINT) AS len,
       |             CAST(count(*) AS BIGINT) AS n
       |      FROM tok GROUP BY 1, 2)
       |SELECT lang, len, n,
       |       CAST(n AS DOUBLE) /
       |       CAST(CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS DOUBLE) AS share
       |FROM g""".stripMargin

  /** The bounded normalized-text alphabet for [[charEntropy]]:
   * [[TextFunctions.normText]] emits only [a-z0-9] and spaces. */
  private val EntropyAlphabet: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString) :+ " "

  /** Per-document character-distribution entropy — the gibberish /
   * encoding-junk / base64-blob detector (natural English ≈ 4 bits per
   * char; uniform noise over this alphabet ≈ 5.2; single-char runs ≈ 0).
   * Entropy in [[docSurprisal]]'s integer floor-log2 discretization:
   * bits = Σ_c cnt_c · (⌊log₂ n⌋ − ⌊log₂ cnt_c⌋) over the normalized
   * text's chars, so the per-doc totals are exact BIGINTs and the mean
   * is ONE IEEE divide — hash-identical cross-engine where a
   * transcendental log2 would drift. Output (doc_id, n_norm_chars,
   * char_bits, mean_char_bits).
   *
   * Scale shape — the suite's only per-char profile, and it needs NO
   * char explode: the alphabet is bounded (37 symbols), so each count
   * is `length(nt) − length(replace(nt, c, ''))` — 37 codegen'd string
   * ops inside ONE scan projection, zero exchanges, zero state. A
   * 100 TB corpus runs this at scan speed; the per-char relation a
   * naive explode would shuffle never exists. */
  def charEntropy(docs: DataFrame): DataFrame = {
    def flog2(c: Column): Column = (length(bin(c.cast("bigint"))) - 1).cast("bigint")
    val nt = TextFunctions.normText(col("text"))
    val n = length(nt).cast("bigint")
    val bits = EntropyAlphabet.map { ch =>
      val cnt = (length(nt) - length(replace(nt, lit(ch), lit("")))).cast("bigint")
      when(cnt > 0L, cnt * (flog2(n) - flog2(cnt))).otherwise(0L)
    }.reduce(_ + _)
    docs.select(col("doc_id"), n.as("n_norm_chars"), bits.as("char_bits"))
      .withColumn("mean_char_bits",
        when(col("n_norm_chars") > 0L,
          col("char_bits").cast("double") / col("n_norm_chars").cast("double")))
  }

  def charEntropySql(table: String): String = {
    val nt = TextSql.normText("text")
    val terms = EntropyAlphabet.map { ch =>
      val lit = if (ch == " ") "' '" else s"'$ch'"
      val cnt = s"(length(nt) - length(replace(nt, $lit, '')))"
      s"CASE WHEN $cnt > 0 THEN CAST($cnt AS BIGINT) * " +
        s"CAST((length(bin(n)) - 1) - (length(bin(CAST($cnt AS BIGINT))) - 1) AS BIGINT) " +
        "ELSE 0 END"
    }.mkString("(", " + ", ")")
    s"""WITH base AS (
       |  SELECT doc_id, $nt AS nt, CAST(length($nt) AS BIGINT) AS n FROM $table)
       |SELECT doc_id, n AS n_norm_chars,
       |       CAST($terms AS BIGINT) AS char_bits,
       |       CASE WHEN n > 0
       |            THEN CAST($terms AS DOUBLE) / CAST(n AS DOUBLE) END AS mean_char_bits
       |FROM base""".stripMargin
  }

  /** Length-bucket width and cap for [[curriculumStages]] — ≤ 4096
   * buckets at any corpus size. */
  val CurrTokPerBucket = 16
  val CurrMaxBucket = 4095
  /** Number of curriculum stages (quartiles). */
  val CurrStages = 4

  /** Length-based curriculum schedule: every document gets a global
   * position in (n_tokens, doc_id) order and a stage = exact position
   * quartile — the easy→hard ordering a sequence-length curriculum
   * trains through (short docs first), deterministic and append-stable
   * in the id-addressed sense the suite's splits share. Output
   * (doc_id, n_tokens, global_pos, stage).
   *
   * Scale shape — NO GLOBAL SORT (the [[budgetSample]] two-level move
   * applied to the difficulty axis): docs bucket by n_tokens DIV
   * [[CurrTokPerBucket]] (≤ 4096 buckets); per-bucket counts roll up
   * map-side to O(buckets) rows whose running totals place every
   * bucket's position range; each doc's in-bucket rank is a window
   * over ONE bucket (~n/4096 rows per group — the globalShuffle
   * per-shard window cost), and global_pos = bucket range start +
   * in-bucket rank, which equals the (n_tokens, doc_id) row_number
   * because the bucket id is monotone in n_tokens. stage =
   * (CurrStages·(global_pos−1)) DIV n — pure integer arithmetic off
   * one plan-time exact count, so the quartile boundaries are
   * cross-engine exact at any n. */
  def curriculumStages(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = ScanMemo.exactCount(docs)
    val base = docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      // integer DIV, not `/`: Spark's `/` on integers is a DOUBLE divide,
      // which drifts from exact bucketing once products pass 2^53
      .withColumn("db", least(expr(s"n_tokens DIV $CurrTokPerBucket"),
        lit(CurrMaxBucket.toLong)).cast("bigint"))
    val bcum = base.groupBy(col("db")).agg(count(lit(1)).as("bc"))
      .withColumn("cum_start",
        sum(col("bc")).over(Window.orderBy("db")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("bc"))
      .select(col("db"), col("cum_start"))
    base.join(broadcast(bcum), "db")
      .withColumn("global_pos", col("cum_start") + row_number().over(
        Window.partitionBy("db").orderBy(col("n_tokens"), col("doc_id"))).cast("bigint"))
      .select(col("doc_id"), col("n_tokens"), col("global_pos"),
        expr(s"CAST((global_pos - 1) * $CurrStages DIV ${n}L AS INT)").as("stage"))
  }

  def curriculumStagesSql(table: String): String =
    s"""WITH base AS (
       |  SELECT doc_id, ${TextSql.tokenCount("text")} AS n_tokens FROM $table),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
       |ranked AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS global_pos
       |  FROM base)
       |SELECT doc_id, n_tokens, global_pos,
       |       CAST((global_pos - 1) * $CurrStages // n AS INT) AS stage
       |FROM ranked CROSS JOIN n""".stripMargin

  /** Frequency-head size for [[zipfSlope]] — bounded, so the rank pass
   * is a partial top-R, never a full vocabulary sort. */
  val ZipfR = 1024

  /** Per-language Zipf exponent estimate — the corpus-naturalness dial
   * (natural language's rank-frequency law: log f ≈ −s·log r + c with
   * s ≈ 1; template-flooded or synthetic slices bend the curve).
   * OLS slope over (⌊log₂ rank⌋, ⌊log₂ count⌋) of the top-[[ZipfR]]
   * frequency head, using [[docSurprisal]]'s integer floor-log2
   * discretization so every regression sum is an exact BIGINT and the
   * slope is ONE final IEEE divide — bit-identical cross-engine, where
   * a transcendental log would drift in the last ulp. Output (lang,
   * r_used, sx, sy, sxy, sxx, zipf_slope); slope NULL when the head is
   * too small to span two rank octaves (zero x-variance).
   *
   * Shape: one tokenize scan to the vocabulary-keyed (lang, token, cnt)
   * relation; the rank-≤-R filter over row_number rides Spark's
   * WindowGroupLimit rewrite, so each task forwards at most R rows per
   * language to the rank exchange — the head is O(langs·R) everywhere
   * past the first aggregate, and the regression is a partial-agg
   * rollup to O(langs) rows. */
  def zipfSlope(docs: DataFrame, r: Int = ZipfR): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def flog2(c: Column): Column = (length(bin(c.cast("bigint"))) - 1).cast("bigint")
    val tf = docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("token"))
    val pts = tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= r)
      .select(col("lang"), flog2(col("rank")).as("x"), flog2(col("cnt")).as("y"))
    val s = pts.groupBy(col("lang")).agg(
      count(lit(1)).as("r_used"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val den = s("r_used") * s("sxx") - s("sx") * s("sx")
    val num = s("r_used") * s("sxy") - s("sx") * s("sy")
    s.select(col("lang"), col("r_used"), col("sx"), col("sy"), col("sxy"), col("sxx"),
      when(den =!= 0L, num.cast("double") / den.cast("double")).as("zipf_slope"))
  }

  def zipfSlopeSql(table: String, r: Int = ZipfR): String =
    s"""WITH tf AS (
       |  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT lang, unnest(${TextSql.tokens("text")}) AS token FROM $table)
       |  GROUP BY 1, 2),
       |head AS (
       |  SELECT lang, cnt,
       |         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
       |  FROM tf QUALIFY rank <= $r),
       |pts AS (
       |  SELECT lang, CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
       |         CAST(length(bin(cnt)) - 1 AS BIGINT) AS y
       |  FROM head),
       |s AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS r_used,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM pts GROUP BY 1)
       |SELECT lang, r_used, sx, sy, sxy, sxx,
       |       CASE WHEN r_used * sxx - sx * sx = 0 THEN NULL
       |            ELSE CAST(r_used * sxy - sx * sy AS DOUBLE) /
       |                 CAST(r_used * sxx - sx * sx AS DOUBLE) END AS zipf_slope
       |FROM s""".stripMargin

  /** Result size for [[bpeMergeCandidates]]. */
  val BpePairK = 20

  /** First-iteration BPE merge candidates: the top-[[BpePairK]] adjacent
   * CHARACTER pairs inside tokens, weighted by token frequency — the
   * statistic byte-pair-encoding tokenizer training greedily merges
   * (Sennrich et al. 2016). The char-level twin of [[bigramTopK]]'s
   * token-level successor pairs.
   *
   * Shape — the Sennrich implementation detail that makes BPE training
   * feasible at corpus scale, here made relational: pairs are counted
   * over the WORD-FREQUENCY relation, not the raw character stream. One
   * tokenize scan partial-aggregates to the O(vocab) (token, cnt)
   * relation; each distinct token then explodes into its ≤ len−1 pairs
   * ON THAT RELATION (map-local, no second corpus scan) weighted by
   * cnt; the pair alphabet is bounded (≤ |charset|² groups), so the
   * final aggregate is a map-side-combining groupBy to O(pairs) rows
   * plus a TakeOrdered — no stage sees more than vocabulary-sized data
   * after the first exchange. Ties at the cut broken by pair, so the
   * k-set is total-ordered at any parallelism. */
  def bpeMergeCandidates(docs: DataFrame, k: Int = BpePairK): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("token")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  def bpeMergeCandidatesSql(table: String, k: Int = BpePairK): String =
    s"""WITH tok AS (SELECT unnest(${TextSql.tokens("text")}) AS token FROM $table),
       |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
       |pairs AS (
       |  SELECT cnt, unnest(list_transform(range(1, length(token)),
       |                i -> substring(token, CAST(i AS INT), 2))) AS pair
       |  FROM tf WHERE length(token) >= 2)
       |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
       |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT $k""".stripMargin

  /** Iterations of the BPE merge loop in [[bpeMerges]]. */
  val BpeIters = 3

  /** Iterated BPE merge schedule — the actual tokenizer-training loop
   * ([[bpeMergeCandidates]] is its first iteration's statistics): for
   * k = 1..[[BpeIters]], count adjacent SYMBOL pairs over the
   * word-frequency relation, take the top pair (ties by pair — total
   * order at any parallelism), APPLY the merge to every word's symbol
   * sequence, recount. Output (iter, pair, n) — the merge table a BPE
   * tokenizer persists, in creation order.
   *
   * Relational mechanics: a word's symbol sequence is a SPACE-JOINED
   * STRING (symbols never contain spaces: they start as single
   * [a-z0-9] chars and merges concatenate), so applying merge (p₁,p₂)
   * is `replace(syms, 'p₁ p₂', 'p₁p₂')` — string replace is
   * left-to-right non-overlapping in both engines, which IS the BPE
   * greedy scan (after a merge the new symbol can't re-match: p₂ is
   * non-empty, so 'p₁p₂' ≠ 'p₁'). The winning pair reaches the next
   * iteration as a BROADCAST 1-row frame (the [[filterFunnel]]-style
   * plan-side scalar — no driver collect), so the whole k-step loop is
   * ONE lazy plan.
   *
   * Scale shape — the Sennrich trick squared: the corpus tokenizes
   * ONCE into the persisted O(vocab) (cnt, syms) relation; every
   * iteration's recount explodes ≤ len−1 pairs per DISTINCT word on
   * that relation (map-local), aggregates over the bounded pair
   * alphabet, and closes with a TakeOrdered(1). Iteration k's plan
   * re-derives merges 1..k−1 over the persisted relation — O(k²·vocab)
   * total work, never a second corpus scan. */
  def bpeMerges(docs: DataFrame, iters: Int = BpeIters): DataFrame = {
    val tf = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), concat_ws(" ",
        transform(sequence(lit(1), length(col("token"))),
          i => col("token").substr(i, lit(1)))).as("syms"))
      .persist() // reused by every iteration's recount (caller-lazy; one-shot mains drop the session)
    def bestPair(v: DataFrame): DataFrame = {
      val a = split(col("syms"), " ")
      v.filter(size(split(col("syms"), " ")) >= 2)
        .select(col("cnt"), explode(transform(sequence(lit(1), size(a) - 1),
          j => concat(element_at(a, j), lit(" "), element_at(a, j + 1)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(1)
    }
    def applyMerge(v: DataFrame, best: DataFrame): DataFrame =
      v.crossJoin(broadcast(best.select(col("pair"))))
        .select(col("cnt"),
          replace(col("syms"), col("pair"), replace(col("pair"), lit(" "), lit(""))).as("syms"))
    val (_, outs) = (1 to iters).foldLeft((tf, Vector.empty[DataFrame])) {
      case ((v, acc), it) =>
        val best = bestPair(v)
        (applyMerge(v, best),
          acc :+ best.select(lit(it.toLong).as("iter"), col("pair"), col("n")))
    }
    outs.reduce(_ unionByName _)
  }

  def bpeMergesSql(table: String, iters: Int = BpeIters): String = {
    def pairCte(src: String): String =
      s"""(SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(a)), j -> a[j] || ' ' || a[j+1])) AS pair
         |    FROM (SELECT cnt, string_split(syms, ' ') AS a FROM $src) WHERE len(a) >= 2)
         |  GROUP BY 1 ORDER BY n DESC, pair LIMIT 1)""".stripMargin
    val ctes = new StringBuilder(
      s"""WITH tok AS (SELECT unnest(${TextSql.tokens("text")}) AS token FROM $table),
         |tf AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
         |v1 AS (SELECT cnt, array_to_string(
         |         [substring(token, CAST(i AS INT), 1) for i in range(1, length(token) + 1)],
         |         ' ') AS syms FROM tf),
         |p1 AS ${pairCte("v1")}""".stripMargin)
    for (k <- 2 to iters) {
      ctes.append(s""",
         |v$k AS (SELECT cnt, replace(syms, (SELECT pair FROM p${k - 1}),
         |          replace((SELECT pair FROM p${k - 1}), ' ', '')) AS syms FROM v${k - 1}),
         |p$k AS ${pairCte(s"v$k")}""".stripMargin)
    }
    val sel = (1 to iters)
      .map(k => s"SELECT CAST($k AS BIGINT) AS iter, pair, n FROM p$k")
      .mkString("\nUNION ALL ")
    ctes.append("\n" + sel).toString
  }

  /** Vocabulary size for [[oovRate]] — small enough to broadcast at any
   * corpus size, large enough that the Zipf head carries most token
   * mass on this corpus. */
  val OovVocabV = 200

  /** Per-language out-of-vocabulary profile against a corpus-derived
   * top-[[OovVocabV]] vocabulary: (lang, total_tokens, oov_tokens,
   * oov_rate). The tokenizer-coverage metric a training pipeline tracks
   * per slice — a language whose oov_rate spikes is under-served by the
   * shared vocabulary head and will fragment into long fallback
   * tokenizations at training time.
   *
   * Shape: the vocabulary is the same vocabulary-keyed map-side-
   * combining aggregate as [[vocabTopK]] closed by a TakeOrdered(V)
   * (ties broken by token, so the V-set is total-ordered at any
   * parallelism), yielding a V-row relation BROADCAST back onto the
   * token stream — the membership probe costs NO exchange on the
   * corpus-sized side, and the per-language rollup partial-aggregates
   * to O(languages) rows. The token stream is PERSISTED between its two
   * consumers (vocabulary derivation, membership probe), so the corpus
   * tokenizes once; a cache-starved cluster can instead derive the head
   * from the [[graft.plans.MisraGriesAgg]] sketch (O(k) state per task,
   * one pass) and accept its deterministic error bound. oov_rate is ONE
   * IEEE division of two exact BIGINTs — bit-identical cross-engine. */
  def oovRate(docs: DataFrame, v: Int = OovVocabV): DataFrame = {
    // persisted: the token stream feeds BOTH the vocabulary derivation and
    // the membership probe — without it the corpus tokenizes twice (the
    // scaladoc's raw-100 TB note, now the default: spill-backed cache of
    // the exploded stream beats a second scan+tokenize pass, which is what
    // a production pipeline does by materializing its tokenized corpus)
    val tok = docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .persist()
    val vocab = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(v)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("total_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("lang"), col("total_tokens"), col("oov_tokens"),
        (col("oov_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("oov_rate"))
  }

  def oovRateSql(table: String, v: Int = OovVocabV): String =
    s"""WITH tok AS (
       |  SELECT lang, unnest(${TextSql.tokens("text")}) AS token FROM $table),
       |vocab AS (
       |  SELECT token FROM tok GROUP BY token
       |  ORDER BY count(*) DESC, token LIMIT $v)
       |SELECT t.lang,
       |       CAST(count(*) AS BIGINT) AS total_tokens,
       |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS oov_rate
       |FROM tok t LEFT JOIN vocab v ON t.token = v.token
       |GROUP BY t.lang""".stripMargin

  /** Candidate vocabulary sizes for [[vocabCoverage]] — the standard
   * power-of-four sweep a tokenizer-size decision reads. */
  val CoverageSizes: Seq[Long] = Seq(256L, 1024L, 4096L, 16384L)

  /** Vocabulary-coverage curve — the tokenizer-size dial: for each
   * candidate vocabulary size V, the exact share of corpus token MASS a
   * top-V vocabulary covers (rank by count desc, ties by token asc).
   * Read together with [[oovRate]]: this chooses V; that audits the
   * chosen head per language. Output (vocab_size, n_vocab_terms,
   * covered_tokens, total_tokens, coverage) — one row per V,
   * n_vocab_terms = min(V, distinct terms).
   *
   * Scale shape — NO ranked sort over the vocabulary: group the vocab
   * relation by COUNT VALUE (the [[budgetSample]] two-level-prefix-sum
   * move applied to the Zipf axis — O(distinct count values) rows,
   * ~√mass by Zipf), running totals over that tiny relation, and a V
   * cut inside its boundary count-group needs no per-term resolution
   * at all: every term there carries the SAME count, so the covered
   * mass is (V − terms_before) · count regardless of which terms the
   * tie-break picks. All 4+1 cells come from ONE conditional aggregate
   * over the count-value relation, reshaped by exploding a literal
   * struct array over the single agg row (the [[filterFunnel]]
   * pattern — no driver-side relation in the plan). */
  def vocabCoverage(docs: DataFrame,
                    sizes: Seq[Long] = CoverageSizes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCount = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt")).agg(count(lit(1)).as("n_terms"))
      .withColumn("mass", col("cnt") * col("n_terms"))
      .withColumn("terms_end", sum(col("n_terms")).over(
        Window.orderBy(col("cnt").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("terms_start", col("terms_end") - col("n_terms"))
    def covered(v: Long): Column = sum(
      when(col("terms_end") <= v, col("mass"))
        .when(col("terms_start") < v, (lit(v) - col("terms_start")) * col("cnt"))
        .otherwise(lit(0L))).cast("bigint")
    val cells =
      sizes.zipWithIndex.flatMap { case (v, i) =>
        Seq(covered(v).as(s"cov$i"),
          least(sum(col("n_terms")), lit(v)).cast("bigint").as(s"nt$i"))
      } :+ sum(col("mass")).cast("bigint").as("tot")
    val one = byCount.agg(cells.head, cells.tail: _*)
    val rows = sizes.zipWithIndex.map { case (v, i) =>
      struct(lit(v).as("vocab_size"), col(s"nt$i").as("n_vocab_terms"),
        col(s"cov$i").as("covered_tokens"), col("tot").as("total_tokens"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.vocab_size"), col("r.n_vocab_terms"),
        col("r.covered_tokens"), col("r.total_tokens"),
        (col("r.covered_tokens").cast("double") / col("r.total_tokens").cast("double"))
          .as("coverage"))
  }

  def vocabCoverageSql(table: String,
                       sizes: Seq[Long] = CoverageSizes): String = {
    val cells = sizes.zipWithIndex.flatMap { case (v, i) =>
      Seq(
        s"""CAST(sum(CASE WHEN terms_end <= $v THEN mass
           |              WHEN terms_start < $v THEN ($v - terms_start) * cnt
           |              ELSE 0 END) AS BIGINT) AS cov$i""".stripMargin,
        s"CAST(least(sum(n_terms), $v) AS BIGINT) AS nt$i")
    }.mkString(",\n       ")
    val arms = sizes.zipWithIndex.map { case (v, i) =>
      s"SELECT CAST($v AS BIGINT) AS vocab_size, nt$i AS n_vocab_terms, " +
        s"cov$i AS covered_tokens, tot AS total_tokens, " +
        s"CAST(cov$i AS DOUBLE) / CAST(tot AS DOUBLE) AS coverage FROM a"
    }.mkString("\n       |", "\n       |UNION ALL ", "")
    s"""WITH vc AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(${TextSql.tokens("text")}) AS token FROM $table)
       |  GROUP BY token),
       |bc AS (
       |  SELECT cnt, CAST(count(*) AS BIGINT) AS n_terms,
       |         CAST(cnt * count(*) AS BIGINT) AS mass
       |  FROM vc GROUP BY cnt),
       |cum AS (
       |  SELECT cnt, n_terms, mass,
       |         CAST(sum(n_terms) OVER (ORDER BY cnt DESC
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS terms_end,
       |         CAST(sum(n_terms) OVER (ORDER BY cnt DESC
       |           ROWS UNBOUNDED PRECEDING) - n_terms AS BIGINT) AS terms_start
       |  FROM bc),
       |a AS (SELECT $cells, CAST(sum(mass) AS BIGINT) AS tot FROM cum)$arms""".stripMargin
  }

  /** Result size for [[bigramTopK]]. */
  val BigramK = 20

  /** Corpus-wide bigram heavy hitters — the 2-gram extension of
   * [[vocabTopK]]: collocation mining, boilerplate-phrase detection, and
   * the count table a bigram LM smooths. Ties broken by bigram text so
   * the k-set is total-ordered.
   *
   * Shape: tokenize once ([[TextFunctions.withTokens]] Generate
   * barrier), pair each token with its successor INSIDE the array
   * (`transform` over the n−1 prefix — 0-based `toks[i+1]` is the
   * successor; no self-join, no per-token rows until the single
   * explode), then the same vocabulary-keyed hash aggregate as
   * vocabTopK: map-side combining shrinks the shuffle to the distinct-
   * bigram relation, which Zipf-flattens far below corpus size, and the
   * top-k is a TakeOrdered, never a global sort. */
  def bigramTopK(docs: DataFrame, k: Int = BigramK): DataFrame =
    TextFunctions.withTokens(docs.select(col("doc_id"), col("text")), "text", "toks")
      .select(explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), (t, i) -> concat(t, ' ', toks[i + 1]))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** DuckDB mirror: lambdas cannot nest across an index capture, so the
   * successor pairing is relational — unnest the 1..len−1 index range
   * and index the SAME doc's list at i and i+1 (1-based in DuckDB). */
  def bigramTopKSql(table: String, k: Int = BigramK): String =
    s"""WITH tf AS (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table),
       |idx AS (SELECT doc_id, CAST(unnest(range(1, len(toks))) AS INT) AS i FROM tf),
       |bg AS (SELECT concat(t.toks[x.i], ' ', t.toks[x.i + 1]) AS bigram
       |       FROM idx x JOIN tf t ON t.doc_id = x.doc_id)
       |SELECT bigram, count(*) AS n FROM bg
       |GROUP BY bigram ORDER BY n DESC, bigram LIMIT $k""".stripMargin

  /** Minimum joint count and result size for [[collocLift]]. */
  val LiftMinCount = 5
  val LiftK = 20

  /** Collocation mining by LIFT — observed/expected co-occurrence,
   * `lift(a,b) = c_ab · T / (c_a · c_b)` over the corpus token stream
   * (T total tokens, c_x unigram counts, c_ab bigram count): the
   * association score under PMI's exponential (Church & Hanks '90 —
   * PMI = log₂ lift), kept UN-logged so the whole computation is exact
   * integer products with ONE final IEEE division — bit-identical
   * cross-engine, where a log would diverge in the last ulps. Top
   * [[LiftK]] bigrams with joint count ≥ [[LiftMinCount]] (raw PMI/lift
   * is notoriously dominated by hapax pairs — the floor is standard
   * practice), ties broken by bigram text.
   *
   * Shape: ONE tokenize pass feeds both count tables — bigrams via the
   * in-array successor pairing ([[bigramTopK]]'s zero-self-join shape),
   * unigrams via the vocabulary-keyed hash aggregate; the lift join
   * brokers the Zipf-flattened vocab relation (AQE broadcasts it at any
   * realistic vocabulary), and the k-set is a TakeOrdered, never a
   * global sort. Products accumulate in DECIMAL(38,0) — overflow-proof
   * past 10¹⁸-token corpora where `c_ab · T` exceeds BIGINT. */
  def collocLift(docs: DataFrame, k: Int = LiftK): DataFrame = {
    // persisted twice over: `toks` feeds the unigram AND bigram counts
    // (one tokenize pass instead of two), and `uni` — O(types) rows — has
    // THREE consumers (the total and both lift joins); unpersisted, the
    // whole tokenize+count pipeline replayed per consumer (4 corpus scans)
    val toks = TextFunctions.withTokens(
      docs.select(col("doc_id"), col("text")), "text", "toks").persist()
    val uni = toks.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .persist()
    val bi = toks.select(explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), (t, i) -> struct(t AS a, toks[i + 1] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= LiftMinCount)
    val total = uni.agg(sum(col("c")).as("t"))
    bi
      .join(uni.select(col("token").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("token").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(total))
      .select(concat(col("a"), lit(" "), col("b")).as("bigram"),
        col("c_ab"),
        (( col("c_ab").cast("decimal(38,0)") * col("t") ).cast("double")
          / ( col("c_a").cast("decimal(38,0)") * col("c_b") ).cast("double"))
          .as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(k)
  }

  def collocLiftSql(table: String, k: Int = LiftK): String =
    s"""WITH tf AS (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table),
       |uni AS (SELECT token, count(*) AS c
       |        FROM (SELECT unnest(toks) AS token FROM tf) GROUP BY token),
       |idx AS (SELECT doc_id, CAST(unnest(range(1, len(toks))) AS INT) AS i FROM tf),
       |bi AS (SELECT a, b, count(*) AS c_ab FROM (
       |         SELECT t.toks[x.i] AS a, t.toks[x.i + 1] AS b
       |         FROM idx x JOIN tf t ON t.doc_id = x.doc_id)
       |       GROUP BY a, b HAVING count(*) >= $LiftMinCount),
       |tot AS (SELECT sum(c) AS t FROM uni)
       |SELECT concat(bi.a, ' ', bi.b) AS bigram, bi.c_ab AS c_ab,
       |       CAST(CAST(bi.c_ab AS DECIMAL(38,0)) * tot.t AS DOUBLE)
       |         / CAST(CAST(ua.c AS DECIMAL(38,0)) * ub.c AS DOUBLE) AS lift
       |FROM bi, tot
       |JOIN uni ua ON ua.token = bi.a
       |JOIN uni ub ON ub.token = bi.b
       |ORDER BY lift DESC, bigram LIMIT $k""".stripMargin

  /** Per-group result size for [[topDocsPerSource]]. */
  val TopPerSource = 3

  /** The [[TopPerSource]] longest documents of EVERY source — per-group
   * top-k, the "best exemplars per slice" query of corpus curation
   * (inspection samples, per-domain length caps, quota picks).
   *
   * Shape: rank-limit inside each group. Spark plans the
   * `row_number ≤ k` filter as WindowGroupLimit (asserted in the spec):
   * each map task keeps only its local top-k PER GROUP before the
   * exchange, so the shuffle carries ≤ k·|sources| rows per task — the
   * grouped analog of TakeOrdered — and the full window sort never
   * materializes. Ties (equal n_chars) break by doc_id for a total
   * order. */
  def topDocsPerSource(docs: DataFrame, k: Int = TopPerSource): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
  }

  def topDocsPerSourceSql(table: String, k: Int = TopPerSource): String =
    s"""SELECT source, rk, doc_id, n_chars FROM (
       |  SELECT source, doc_id, n_chars,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY n_chars DESC, doc_id) AS rk
       |  FROM $table)
       |WHERE rk <= $k""".stripMargin

  /** Prefix length (tokens) and minimum repetition for
   * [[boilerplatePrefixes]]. */
  val PrefixTokens = 6
  val PrefixMinDocs = 3

  /** Boilerplate opening detection: document PREFIXES (first
   * [[PrefixTokens]] tokens) repeated across ≥ [[PrefixMinDocs]] docs of
   * the same source — the scraped-site signature (cookie banners,
   * navigation headers, license preambles) that line-level dedup only
   * catches when the line breaks align; a token prefix is
   * punctuation- and wrapping-invariant. Output
   * (source, prefix, n_docs) for qualifying prefixes.
   *
   * Shape: tokenize once, slice the head (pure projection — the
   * Generate barrier never fires since no explode is needed), then one
   * partial-capable hash aggregate on (source, prefix): map-side
   * combine reduces to the distinct-prefix relation, which repetition
   * makes FAR smaller than the corpus (that's the point of the query).
   * Docs shorter than the prefix window are skipped (a 3-token doc is
   * not a "repeated opening"). */
  def boilerplatePrefixes(docs: DataFrame): DataFrame =
    TextFunctions.withTokens(docs.select(col("source"), col("text")), "text", "toks")
      .filter(size(col("toks")) >= PrefixTokens)
      .select(col("source"),
        array_join(slice(col("toks"), 1, PrefixTokens), " ").as("prefix"))
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= PrefixMinDocs)

  def boilerplatePrefixesSql(table: String): String =
    s"""SELECT source, prefix, count(*) AS n_docs FROM (
       |  SELECT source,
       |         array_to_string(list_slice(${TextSql.tokens("text")}, 1, $PrefixTokens), ' ')
       |           AS prefix,
       |         len(${TextSql.tokens("text")}) AS n
       |  FROM $table)
       |WHERE n >= $PrefixTokens
       |GROUP BY source, prefix HAVING count(*) >= $PrefixMinDocs""".stripMargin

  /** Per-stratum sample size for [[samplePerSource]]. */
  val SamplePerStratum = 5

  /** Fixed-n uniform sample per source — the "n inspection docs per
   * domain" pick, complementing the FRACTION-based [[stratifiedSample]]:
   * a fixed quota per stratum regardless of stratum size. Rank by the
   * content md5 (not `rand()`): the pick is deterministic, uniform over
   * content, and APPEND-STABLE in expectation — a doc's hash never
   * changes, so re-running after an append only swaps quota slots where
   * new hashes genuinely rank earlier ([[sampleSplit]]'s
   * content-addressing argument). Output (source, pick_rank, doc_id).
   *
   * Shape: same WindowGroupLimit rank-pushdown as [[topDocsPerSource]]
   * — each map task keeps ≤ n rows PER SOURCE before the exchange; the
   * full per-source sort never materializes. */
  def samplePerSource(docs: DataFrame, n: Int = SamplePerStratum): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("text")), col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("text"))
      .withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= n)
      .select(col("source"), col("pick_rank"), col("doc_id"))
  }

  def samplePerSourceSql(table: String, n: Int = SamplePerStratum): String =
    s"""SELECT source, pick_rank, doc_id FROM (
       |  SELECT source, doc_id,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY md5(text), doc_id) AS pick_rank
       |  FROM $table)
       |WHERE pick_rank <= $n""".stripMargin

  // ---- length-outlier flagging ---------------------------------------------

  /** Z-score cut for [[lengthOutliers]]. */
  val OutlierZ = 2.0

  /** Documents whose length is a per-language statistical outlier
   * (|z| ≥ [[OutlierZ]] against the language's length distribution) —
   * the screen for truncated fragments and concatenation blobs that
   * length-window filters with global constants miss on multilingual
   * corpora (Chinese runs short in chars, German long).
   *
   * Shape: per-language moments from EXACT integer sums (count, Σx,
   * Σx² as DECIMAL(38,0) — overflow-proof to ~10¹⁸ docs) — a partial
   * aggregate to O(langs) rows, broadcast back over the scan; z is then
   * a fixed sequence of correctly-rounded IEEE ops identical on both
   * engines, so even the |z| ≥ cut boundary is deterministic. Two scans
   * of the corpus, zero wide shuffles. */
  def lengthOutliers(docs: DataFrame): DataFrame = {
    val x = col("n_chars").cast("double")
    val n = col("n").cast("double")
    val mu = col("s1").cast("double") / n
    val sigma = sqrt(col("s2").cast("double") / n - mu * mu)
    val z = (x - mu) / sigma
    val stats = docs.groupBy(col("lang").as("s_lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("s1"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)")).as("s2"))
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(stats), col("lang") === col("s_lang"))
      .withColumn("z", z)
      .filter(abs(col("z")) >= lit(OutlierZ))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("z"))
  }

  def lengthOutliersSql(table: String): String =
    s"""WITH st AS (
       |  SELECT lang AS s_lang, count(*) AS n, sum(n_chars) AS s1,
       |         sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS s2
       |  FROM $table GROUP BY lang)
       |SELECT doc_id, lang, n_chars,
       |       (CAST(n_chars AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |         / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS z
       |FROM $table JOIN st ON s_lang = lang
       |WHERE abs((CAST(n_chars AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
       |         / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
       |                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) >= $OutlierZ""".stripMargin

  // ---- 3a-bis. robust (median/MAD) length scoring ---------------------------

  /** Modified z-score cut for [[robustLengthScore]]'s outlier flag
   * (Iglewicz–Hoaglin's recommended 3.5). */
  val RobustZ = 3.5
  /** Consistency constant: 0.6745 ≈ Φ⁻¹(0.75) scales the MAD to the
   * normal σ, making the modified z comparable to [[lengthOutliers]]'s
   * moment z. */
  val MadScale = 0.6745

  /** Robust per-language length score: the modified z-score
   * `0.6745·(x − median) / MAD` per document, plus the |z| ≥ [[RobustZ]]
   * outlier flag — the median/MAD twin of [[lengthOutliers]]. Moment
   * z-scores are themselves dragged by the outliers they hunt (one 1 GB
   * concatenation blob inflates σ enough to hide every other blob);
   * median and MAD have a 50% breakdown point, so the verdict is stable
   * no matter how polluted the feed. Emits EVERY document's score (the
   * flag alone would under-evidence the math on a clean corpus).
   *
   * Shape: two partial-aggregating passes to O(langs) rows — the
   * per-language median (exact `percentile`, R-7 interpolation, the
   * [[lengthQuantiles]]-verified DuckDB `quantile_cont` twin), then the
   * median of |x − median| over a broadcast-joined second scan — and a
   * final broadcast join back over the scan. Group state is the
   * language's value multiset (bounded per group like length_quantiles;
   * the raw-100 TB swap is `approx_percentile`, same trade documented in
   * PLANS.md §length_quantiles). The score is a fixed IEEE sequence
   * (subtract, scale by [[MadScale]], one divide) over the two exact
   * aggregates, so the hash compare is deterministic; a zero MAD
   * (degenerate: >50% of a language at one exact length) yields NULL
   * rather than ±Inf, identically CASE-guarded in the oracle. */
  def robustLengthScore(docs: DataFrame): DataFrame = {
    val x = col("n_chars").cast("double")
    val med = docs.groupBy(col("lang").as("m_lang"))
      .agg(percentile(col("n_chars"), lit(0.5)).as("med"))
    // persisted: dev feeds the MAD rollup AND the final score join —
    // three narrow columns plus the broadcast median, cached once
    // instead of re-scanning per consumer
    val dev = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(med), col("lang") === col("m_lang"))
      .withColumn("adev", abs(x - col("med")))
      .persist()
    val mad = dev.groupBy(col("lang").as("s_lang"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), col("lang") === col("s_lang"))
      .withColumn("mz", when(col("mad") === 0.0, lit(null).cast("double"))
        .otherwise(lit(MadScale) * (x - col("med")) / col("mad")))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("mz"),
        (abs(col("mz")) >= lit(RobustZ)).as("is_outlier"))
  }

  def robustLengthScoreSql(table: String): String =
    s"""WITH med AS (
       |  SELECT lang AS m_lang, quantile_cont(n_chars, 0.5) AS med
       |  FROM $table GROUP BY lang),
       |dev AS (
       |  SELECT doc_id, lang, n_chars, med,
       |         abs(CAST(n_chars AS DOUBLE) - med) AS adev
       |  FROM $table JOIN med ON m_lang = lang),
       |mad AS (SELECT lang AS s_lang, quantile_cont(adev, 0.5) AS mad
       |        FROM dev GROUP BY lang),
       |scored AS (
       |  SELECT doc_id, lang, n_chars,
       |         CASE WHEN mad = 0.0 THEN NULL
       |              ELSE CAST($MadScale AS DOUBLE) * (CAST(n_chars AS DOUBLE) - med) / mad END AS mz
       |  FROM dev JOIN mad ON s_lang = lang)
       |SELECT doc_id, lang, n_chars, mz, abs(mz) >= $RobustZ AS is_outlier
       |FROM scored""".stripMargin

  // ---- 3b. token-budget sampling -------------------------------------------

  /** Salt decorrelating budget-priority buckets from split/sample uses. */
  val BudgetSalt = "budget:"
  /** Per-language token budget for the checked query — binds for every
   * language of the shared corpus (smallest language mass ≈ 3.5k
   * tokens), so both keeps and drops exercise at the oracle gate. */
  val LangTokenBudget = 3000L

  /** Token-budget-aware sampling: walk each language's documents in a
   * deterministic content-addressed priority order (md5 bucket, then
   * doc_id) and keep a document iff the language's token budget is not
   * yet exhausted when its turn comes (`tokens-before-doc < budget` —
   * kept docs form an order prefix since the running total is
   * monotone). The standard "cap each language at N tokens" rebalance,
   * append-stable like every split here.
   *
   * Scale shape: a naive per-language running sum is ONE window sort
   * over the whole corpus — the dominant language lands in one sort
   * partition. Instead the cumulative sum runs at TWO levels: per
   * (lang, bucket) token sums first (a partial-aggregating groupBy —
   * ≤ 256 rows per language), the bucket-level running total over that
   * tiny relation, and a row-level sort ONLY inside the single boundary
   * bucket that straddles the budget (~corpus/256 rows); every other
   * bucket resolves to keep-all or drop-all by its bucket-level bounds
   * alone. The oracle computes the equivalent single-level running sum
   * — fine at oracle scale — over the same (bucket, doc_id) order.
   * Output (doc_id, lang, n_tokens, keep). */
  def budgetSample(docs: DataFrame, budget: Long = LangTokenBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: base feeds the bucket rollup AND the verdict join, and
    // the joined frame j fans into THREE disjoint verdict branches —
    // unpersisted, the tokenize scan replayed per branch (six scans)
    val base = docs.select(col("doc_id"), col("lang"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      hashBucket("doc_id", BudgetSalt).as("pb"))
      .persist()
    val bcum = base.groupBy(col("lang"), col("pb")).agg(sum(col("n_tokens")).as("bt"))
      .withColumn("cum_end", sum(col("bt")).over(
        Window.partitionBy("lang").orderBy("pb")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_start", col("cum_end") - col("bt"))
      .select(col("lang"), col("pb"), col("cum_start"), col("cum_end"))
    val j = base.join(bcum, Seq("lang", "pb")).persist()
    val out = Seq(col("doc_id"), col("lang"), col("n_tokens"), col("keep"))
    // keep-all needs cum_end < budget STRICTLY: a zero-token doc at the
    // exact budget edge belongs to the boundary bucket's row-level check
    val keepAll = j.filter(col("cum_end") < budget)
      .withColumn("keep", lit(true)).select(out: _*)
    val dropAll = j.filter(col("cum_start") >= budget)
      .withColumn("keep", lit(false)).select(out: _*)
    val boundary = j.filter(col("cum_start") < budget && col("cum_end") >= budget)
      .withColumn("start", col("cum_start") - col("n_tokens") +
        sum(col("n_tokens")).over(
          Window.partitionBy("lang", "pb").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("keep", col("start") < budget).select(out: _*)
    keepAll.unionByName(dropAll).unionByName(boundary)
  }

  /** Oracle: the equivalent single-level running sum per language over
   * the identical (bucket, doc_id) priority order. */
  def budgetSampleSql(table: String, budget: Long = LangTokenBudget): String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, ${TextSql.tokenCount("text")} AS n_tokens,
       |         ${hashBucketSqlDuck("doc_id", BudgetSalt)} AS pb
       |  FROM $table),
       |c AS (SELECT doc_id, lang, n_tokens,
       |        sum(n_tokens) OVER (PARTITION BY lang ORDER BY pb, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM base)
       |SELECT doc_id, lang, n_tokens, (cum - n_tokens) < $budget AS keep FROM c""".stripMargin

  // ---- 3c. TF-IDF distinctive terms ----------------------------------------

  /** Top terms per document. */
  val TfIdfK = 3

  /** Per-document top-[[TfIdfK]] distinctive terms by TF-IDF (the raw
   * `tf · N/df` variant — monotone in any idf dampening for ranking
   * purposes, and exactly computable cross-engine: `tf·N` is exact
   * BIGINT, the single divide by `df` is one correctly-rounded IEEE op,
   * so the emitted score hash-compares). Ties break on the term.
   * Output (doc_id, term, tf, df, rank, score).
   *
   * Scale shape: tokenize→explode→(doc_id, term) count is the classic
   * map-side-combining aggregate; document frequency is a second
   * vocabulary-keyed aggregate OVER the tf relation (never re-reads the
   * corpus); the join back is vocabulary × corpus-terms on the term key;
   * the per-doc top-k is a rank window that WindowGroupLimit partials
   * before the exchange. N comes from one plan-time count, the
   * [[Relational.keySkew]] precedent, mirrored by the oracle's scalar
   * subquery. */
  def tfidfTopK(docs: DataFrame, k: Int = TfIdfK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = ScanMemo.exactCount(docs)
    // persisted: tf feeds BOTH the document-frequency rollup and the score
    // join — without it the tokenize+aggregate pipeline runs twice. The
    // cache is the (doc_id, term, tf) aggregate, already collapsed below
    // the raw token stream.
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist()
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfr, "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf") * lit(nDocs)).cast("double") / col("df").cast("double")).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc))
        .cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"), col("score"))
  }

  def tfidfTopKSql(table: String, k: Int = TfIdfK): String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${TextSql.tokens("text")}) AS term FROM $table)
       |  GROUP BY 1, 2),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |         CAST(tf * (SELECT count(*) FROM $table) AS DOUBLE) / CAST(df AS DOUBLE) AS score
       |  FROM tf JOIN dfr USING (term))
       |SELECT doc_id, term, tf, df, rank, score FROM (
       |  SELECT doc_id, term, tf, df, score,
       |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  // ---- 3e. unigram-surprisal quality scoring --------------------------------

  /** Per-document unigram-LM surprisal profile — the deterministic twin
   * of the CCNet-style language-model quality filter (Wenzek et al.
   * 2020: docs whose words are improbable under a reference LM are
   * noise; docs of nothing but high-probability words are template
   * boilerplate). A float `Σ −log p(w)` is order-sensitive across
   * partitions, so the per-token surprisal is QUANTIZED to whole bits
   * via integer floor-log2: `bits(w) = ⌊log₂ total⌋ − ⌊log₂ count(w)⌋`
   * (both from the binary digit length of an exact BIGINT — no
   * transcendental whose last ulp could differ between libm and the
   * JVM), making sums exact integers and the whole result
   * hash-comparable cross-engine. Output per doc: token count, total and
   * mean bits (one IEEE divide), and the rarest token's bits (`max_bits`
   * — a single hapax in boilerplate is a strong junk signal).
   *
   * Shape: the [[tfidfTopK]] relation chain — per-doc tf (map-side-
   * combining groupBy, (doc, distinct-term) rows, NOT corpus positions),
   * vocabulary-keyed corpus counts derived FROM tf (no second tokenize
   * pass), a vocab-keyed equi-join back (counts side Zipf-flattens to
   * vocabulary size; AQE broadcasts it when small, shuffles when not),
   * and one doc-keyed partial aggregate. The corpus total rides a
   * single-row crossJoin broadcast (the [[mixWeights]] max-row
   * precedent — no driver-side count action). Docs with zero tokens
   * have no tf rows and are absent, identically in the oracle. */
  def docSurprisal(docs: DataFrame): DataFrame = {
    def flog2(c: Column): Column = (length(bin(c)) - 1).cast("bigint")
    // persisted: tf feeds the corpus count chain AND the bits join —
    // without it the tokenize+aggregate pipeline runs twice (tfidfTopK's
    // trade, same shape)
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist()
    val cnts = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("total"))
    tf.join(cnts, "term")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        (flog2(col("total")) - flog2(col("cnt"))).as("bits"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("bigint").as("n_tokens"),
        sum(col("tf") * col("bits")).cast("bigint").as("sum_bits"),
        max(col("bits")).cast("bigint").as("max_bits"))
      .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_tokens").cast("double")).as("mean_bits"),
        col("max_bits"))
  }

  def docSurprisalSql(table: String): String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(${TextSql.tokens("text")}) AS term FROM $table)
       |  GROUP BY 1, 2),
       |cnts AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnts),
       |bits AS (
       |  SELECT doc_id, tf,
       |         (length(bin(total)) - 1) - (length(bin(cnt)) - 1) AS bits
       |  FROM tf JOIN cnts USING (term) CROSS JOIN tot)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |       CAST(sum(tf * bits) AS BIGINT) AS sum_bits,
       |       CAST(sum(tf * bits) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS mean_bits,
       |       CAST(max(bits) AS BIGINT) AS max_bits
       |FROM bits GROUP BY doc_id""".stripMargin

  /** Bigram-LM conditional surprisal — [[docSurprisal]]'s unigram filter
   * upgraded to the CCNet shape (Wenzek et al. 2020 score with a 5-gram
   * KenLM; a bigram model is the largest order whose count tables stay
   * relational): per adjacent token pair the conditional bits
   * `−log2 P(w2|w1) = log2 c(w1·) − log2 c(w1 w2)` with both counts from
   * THIS corpus (`c(w1·)` = bigrams starting with w1, so the
   * distribution is properly normalized and bits ≥ 0). Repetitive
   * machine text scores near 0 bits/pair; incoherent token soup scores
   * high — the two tails an LM filter cuts. Output (doc_id, n_pairs,
   * sum_bits, mean_bits, max_bits); single-token docs have no pair and
   * drop out, exactly as zero-token docs do in [[docSurprisal]].
   *
   * Cross-engine exactness: integer floor-log2 (binary digit length)
   * per count — the [[docSurprisal]] discretization — so sum/max are
   * BIGINTs and the mean is ONE IEEE divide.
   *
   * Scale shape: ONE tokenize scan; the per-(doc, bigram) tf relation
   * persists and feeds (a) the corpus bigram counts, (b) the prefix
   * counts derived from those (vocabulary-sized relations that
   * Zipf-flatten far below corpus size — AQE broadcasts them at any
   * realistic vocabulary), and (c) the final per-doc partial-agg
   * rollup. No window, no global sort, nothing driver-side. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    def flog2(c: Column): Column = (length(bin(c)) - 1).cast("bigint")
    val tfb = TextFunctions.withTokens(
        docs.select(col("doc_id"), col("text")), "text", "toks")
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), (t, i) -> concat(t, ' ', toks[i + 1]))"))
        .as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).cast("bigint").as("tf"))
      .persist()
    val cbg = tfb.groupBy(col("bigram")).agg(sum(col("tf")).as("c_bg"))
    val cw1 = cbg.groupBy(substring_index(col("bigram"), " ", 1).as("w1"))
      .agg(sum(col("c_bg")).as("c_w1"))
    tfb.join(cbg, "bigram")
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(cw1, "w1")
      .select(col("doc_id"), col("tf"),
        (flog2(col("c_w1")) - flog2(col("c_bg"))).as("bits"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("bigint").as("n_pairs"),
        sum(col("tf") * col("bits")).cast("bigint").as("sum_bits"),
        max(col("bits")).cast("bigint").as("max_bits"))
      .select(col("doc_id"), col("n_pairs"), col("sum_bits"),
        (col("sum_bits").cast("double") / col("n_pairs").cast("double")).as("mean_bits"),
        col("max_bits"))
  }

  def bigramSurprisalSql(table: String): String =
    s"""WITH tf AS (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table),
       |idx AS (SELECT doc_id, CAST(unnest(range(1, len(toks))) AS INT) AS i FROM tf),
       |tfb AS (
       |  SELECT x.doc_id, concat(t.toks[x.i], ' ', t.toks[x.i + 1]) AS bigram,
       |         CAST(count(*) AS BIGINT) AS tf
       |  FROM idx x JOIN tf t ON t.doc_id = x.doc_id
       |  GROUP BY 1, 2),
       |cbg AS (SELECT bigram, CAST(sum(tf) AS BIGINT) AS c_bg FROM tfb GROUP BY 1),
       |cw1 AS (SELECT string_split(bigram, ' ')[1] AS w1,
       |               CAST(sum(c_bg) AS BIGINT) AS c_w1 FROM cbg GROUP BY 1),
       |bits AS (
       |  SELECT f.doc_id, f.tf,
       |         (length(bin(w.c_w1)) - 1) - (length(bin(b.c_bg)) - 1) AS bits
       |  FROM tfb f
       |  JOIN cbg b ON b.bigram = f.bigram
       |  JOIN cw1 w ON w.w1 = string_split(f.bigram, ' ')[1])
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_pairs,
       |       CAST(sum(tf * bits) AS BIGINT) AS sum_bits,
       |       CAST(sum(tf * bits) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS mean_bits,
       |       CAST(max(bits) AS BIGINT) AS max_bits
       |FROM bits GROUP BY doc_id""".stripMargin

  // ---- 4. benchmark decontamination ----------------------------------------

  /** Minimum shared sampled grams before a (train doc, benchmark doc)
   * pair counts as contamination — one shared 16-char window can be a
   * idiom; two is a lifted passage. */
  val ContamMinShared = 2

  /** Benchmark decontamination: flag training documents sharing character
   * n-gram content with an evaluation/benchmark set — the leakage check
   * every LLM data pipeline runs before training. Output
   * (doc_id, bench_id, n_shared) for corpus docs sharing ≥
   * [[ContamMinShared]] sampled grams with a benchmark doc.
   *
   * Shape: both sides run the SAME native sampled-gram pass as the
   * n-gram dedup ([[graft.plans.CharGramSeq]] — per-doc-distinct,
   * content-defined 1-in-4 sampling, so a lifted passage samples the
   * same grams on both sides), then an equi-join on the gram. The
   * benchmark side is an eval suite — thousands of docs against a
   * 100 TB corpus — so AQE broadcasts it and the corpus never shuffles;
   * no hint, so a genuinely huge benchmark degrades to a shuffle join
   * instead of a driver OOM. */
  def decontaminate(docs: DataFrame, benchSource: String = "src0"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(toCol(graft.plans.CharGramSeq(toExpr(col("text")),
        TextDedup.CharGram, TextDedup.SampleHexMax))).as("gr"))
    val bench = grams(docs.filter(col("source") === benchSource))
      .withColumnRenamed("doc_id", "bench_id")
    val corpus = grams(docs.filter(col("source") =!= benchSource))
    // grams are per-doc distinct, so the per-pair count is the number of
    // DISTINCT shared sampled grams — no double counting
    corpus.join(bench, "gr")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContamMinShared)
  }

  def decontaminateSql(table: String, benchSource: String = "src0"): String =
    s"""SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS n_shared
       |FROM ${TextDedup.sampledGramPostingsSql(table, s"source <> '$benchSource'")} c
       |JOIN ${TextDedup.sampledGramPostingsSql(table, s"source = '$benchSource'")} b ON c.gr = b.gr
       |GROUP BY 1, 2
       |HAVING count(*) >= $ContamMinShared""".stripMargin

  /** Bloom filter sizing for [[bloomDecontaminate]]: expected distinct
   * benchmark grams and filter bits (8 bits/item ≈ 2% false-positive
   * rate at capacity — Bloom'70; Spark's own runtime-filter default
   * ratio). An eval suite is bounded (thousands of docs), so these are
   * static, not corpus-derived. */
  val BloomExpectedItems: Long = 1L << 20
  val BloomNumBits: Long = 1L << 23

  /** Approximate decontamination via a Bloom-filter membership
   * pre-filter — the 100 TB-shaped variant of [[decontaminate]]: instead
   * of equi-joining every corpus gram against the benchmark gram set,
   * build ONE Bloom filter over the (small) benchmark side with Spark's
   * native `bloom_filter_agg` and test corpus grams with
   * `BloomFilterMightContain` INSIDE the scan projection — the corpus is
   * never shuffled, never joined; non-matching grams (the overwhelming
   * majority) die at scan speed in whole-stage codegen, exactly the
   * plan shape Spark's own `InjectRuntimeFilter` builds for bloom joins.
   * Output (doc_id, n_hits): corpus docs with ≥ [[ContamMinShared]]
   * sampled grams hitting the benchmark filter.
   *
   * Guarantee: NO false negatives — every doc [[decontaminate]] flags is
   * flagged here (a truly shared gram always hits the filter); false
   * positives add docs at the filter's FP rate, the right direction for
   * a leakage screen (over-flag, then exact-verify the tiny remainder
   * with [[decontaminate]] restricted to the flagged set). Asserted as a
   * superset property in `CorpusSpec`.
   *
   * The one-row `.head()` materializes the serialized filter (~1 MB) on
   * the driver and embeds it as a foldable literal — the same O(1)-rows
   * driver action precedent as the CC convergence checksum
   * (`DedupClusters`): the aggregation itself is distributed; only the
   * finished sketch crosses to the driver, and the literal ships to
   * executors once via the task closure. No SQL oracle (DuckDB has no
   * matching filter implementation) — registered rows-only, twinned with
   * the hash-checked exact [[decontaminate]]. */
  def bloomDecontaminate(docs: DataFrame, benchSource: String = "src0"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(toCol(graft.plans.CharGramSeq(toExpr(col("text")),
        TextDedup.CharGram, TextDedup.SampleHexMax))).as("gr"))
    val benchAgg = grams(docs.filter(col("source") === benchSource))
      .agg(toCol(new BloomFilterAggregate(
        toExpr(xxhash64(col("gr"))),
        Literal(BloomExpectedItems), Literal(BloomNumBits))
        .toAggregateExpression()).as("bf"))
    val bf = benchAgg.head().getAs[Array[Byte]](0)
    grams(docs.filter(col("source") =!= benchSource))
      .filter(toCol(new BloomFilterMightContain(
        Literal(bf, BinaryType), toExpr(xxhash64(col("gr"))))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= ContamMinShared)
  }

  /** Bloom pre-screen + exact verify — the CHECKED closure of
   * [[bloomDecontaminate]] (round-11 advice: the KMV/MG
   * find-then-verify move applied to the Bloom stage): the scan-speed
   * Bloom membership pass flags candidate corpus docs, then the exact
   * [[decontaminate]] gram join runs restricted to the flagged set
   * (left-semi on doc_id BEFORE the gram explode). Output is equal, row
   * for row, to [[decontaminate]]'s (doc_id, bench_id, n_shared):
   * Bloom filters have NO false negatives, so every doc carrying
   * ≥ [[ContamMinShared]] truly-shared grams with some benchmark doc
   * hits the filter that many times and is flagged — no qualifying pair
   * escapes the pre-screen — while false positives only enlarge the set
   * the exact join then prunes. Deterministic, so this is oracle-checked
   * against the exact decontamination SQL.
   *
   * Scale shape: this is how the 100 TB pipeline actually runs the
   * leakage check — the full corpus pays ONE codegen'd scan-side filter
   * (no shuffle, no join), and the exact gram join processes only the
   * flagged sliver (truly contaminated docs plus the filter's ~2%-rate
   * coincidences that reach [[ContamMinShared]] hits). The semi-join's
   * flagged side is unhinted like [[decontaminate]]'s bench side — AQE
   * broadcasts the normal tiny case, a pathological flag-set degrades
   * to a shuffle join instead of a driver OOM. */
  def bloomDecontaminateVerified(docs: DataFrame,
                                 benchSource: String = "src0"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val flagged = bloomDecontaminate(docs, benchSource).select(col("doc_id"))
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(toCol(graft.plans.CharGramSeq(toExpr(col("text")),
        TextDedup.CharGram, TextDedup.SampleHexMax))).as("gr"))
    val bench = grams(docs.filter(col("source") === benchSource))
      .withColumnRenamed("doc_id", "bench_id")
    val corpus = grams(docs.filter(col("source") =!= benchSource)
      .join(flagged, Seq("doc_id"), "left_semi"))
    corpus.join(bench, "gr")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContamMinShared)
  }

  // ---- context-window chunking ---------------------------------------------

  /** Chunk window (tokens) and stride for [[docChunks]]; the overlap
   * [[ChunkTokens]] − [[ChunkStride]] carries boundary context between
   * consecutive windows. */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** Fixed-token-window chunking with overlap — the context-window
   * splitting step of retrieval and long-document pipelines: each
   * document becomes windows of [[ChunkTokens]] tokens advancing by
   * [[ChunkStride]], the LAST window being the first one that reaches the
   * final token (`1 + ceil((n − C)/S)` windows — no trailing window that
   * would carry only overlap). Output (doc_id, chunk_id, chunk_text,
   * n_chunk_tokens); the id is the window ordinal so chunks reassemble in
   * order.
   *
   * Shape: tokenize ONCE through the [[TextFunctions.withTokens]]
   * Generate barrier, derive the window count arithmetically, explode one
   * `sequence` per doc — rows = total chunks, ZERO shuffles, scan-speed
   * parallel at any corpus size. The token count of a window is
   * arithmetic (`least(C, n − k·S)`), not a second slice. */
  def docChunks(docs: DataFrame): DataFrame = {
    val c = ChunkTokens
    val s = ChunkStride
    TextFunctions.withTokens(docs.select(col("doc_id"), col("text")), "text", "toks")
      .withColumn("n", size(col("toks")).cast("bigint"))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), expr(s"(greatest(n - $c, 0L) + ${s - 1}) div $s"))))
      .select(col("doc_id"), col("chunk_id"),
        array_join(slice(col("toks"), (col("chunk_id") * s + 1).cast("int"), lit(c)), " ")
          .as("chunk_text"),
        least(lit(c.toLong), col("n") - col("chunk_id") * s).as("n_chunk_tokens"))
  }

  def docChunksSql(table: String): String = {
    val c = ChunkTokens
    val s = ChunkStride
    s"""WITH t AS (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table),
       |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
       |k AS (SELECT doc_id, toks, n,
       |             unnest(range(0, (greatest(n - $c, 0) + ${s - 1}) // $s + 1)) AS chunk_id
       |      FROM n)
       |SELECT doc_id, chunk_id,
       |       array_to_string(list_slice(toks, CAST(chunk_id * $s + 1 AS BIGINT),
       |                                  CAST(chunk_id * $s + $c AS BIGINT)), ' ') AS chunk_text,
       |       CAST(least($c, n - chunk_id * $s) AS BIGINT) AS n_chunk_tokens
       |FROM k""".stripMargin
  }

  // ---- domain-level quality profile ----------------------------------------

  /** Per-document quality bar and the source-level keep bar for
   * [[sourceQuality]]. */
  val DocPassQuality = 0.5
  val SourceKeepRate = 0.6

  /** Domain-level quality profile and filter verdict — the "drop bad
   * domains wholesale" stage (the domain blocklists of C4/RefinedWeb-
   * style pipelines are exactly this table): per source, document count,
   * count and rate of docs passing the quality bar, mean tokens, and a
   * keep verdict at [[SourceKeepRate]].
   *
   * Shape: tokenize once, ONE partial-aggregating pass to O(sources)
   * rows. All aggregates are exact BIGINT sums; the per-doc quality
   * scalar is the same bit-identical IEEE sequence [[TextFunctions]]
   * proves green in `text_stats`, and the two rates are one final
   * divide each — so even the keep boundary is cross-engine
   * deterministic. */
  def sourceQuality(docs: DataFrame): DataFrame = {
    val perDoc =
      TextFunctions.withTokens(docs.select(col("source"), col("text")), "text", "toks")
        .select(col("source"),
          TextFunctions.tokenCountFromToks(col("toks")).as("n_toks"),
          (TextFunctions.qualityScoreFromToks(col("text"), col("toks")) >= DocPassQuality)
            .cast("long").as("pass"))
    val rate = col("n_pass").cast("double") / col("n_docs").cast("double")
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pass")).as("n_pass"),
        sum(col("n_toks")).as("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_pass"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double")).as("mean_tokens"),
        rate.as("pass_rate"),
        (rate >= SourceKeepRate).as("keep"))
  }

  def sourceQualitySql(table: String): String =
    s"""WITH d AS (
       |  SELECT source, ${TextSql.tokenCount("text")} AS n_toks,
       |         CASE WHEN ${TextSql.qualityScore("text")} >= $DocPassQuality
       |              THEN 1 ELSE 0 END AS pass
       |  FROM $table),
       |a AS (SELECT source, count(*) AS n_docs,
       |             CAST(sum(pass) AS BIGINT) AS n_pass,
       |             CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |      FROM d GROUP BY source)
       |SELECT source, n_docs, n_pass, n_tokens,
       |       CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
       |       CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pass_rate,
       |       (CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)) >= $SourceKeepRate AS keep
       |FROM a""".stripMargin

  // ---- order-independent corpus audit checksum -----------------------------

  /** Modulus for the additive checksum: 2^52, so each summand (a 52-bit
   * content-hash value) and the reduced sum are exact in BIGINT — and in
   * DOUBLE, should a consumer round-trip the artifact through JSON. */
  val ChecksumMod: Long = 1L << 52

  /** Per-source corpus audit fingerprint — the cheap answer to "is the
   * copy of the corpus on THAT cluster byte-identical to this one?"
   * after every migration, backfill or format rewrite: doc count,
   * DISTINCT content count (exact-dup mass rides along for free), total
   * chars, and two order-independent content checksums — an additive
   * mod-2^52 sum and an XOR fold of the 52-bit md5 prefix of each
   * document. Equal tuples ⇒ corpora almost surely content-identical
   * PER SOURCE, regardless of row order, file layout or partitioning;
   * the two folds back each other up (XOR is blind to an even number of
   * copies of the same doc, the additive sum is not).
   *
   * Shape: pure per-row projection (one md5 per doc) into ONE
   * partial-aggregating hash aggregate to O(sources) rows — every fold
   * (sum, xor, min, max) is commutative-associative, so map-side combine
   * does essentially all the work and the exchange carries O(sources)
   * bytes at any corpus size; nothing here ever sorts or collects. The
   * additive fold accumulates DECIMAL(38,0) (a BIGINT sum would
   * overflow ANSI arithmetic past ~2^11 docs) and reduces mod
   * [[ChecksumMod]] once at the end. */
  def corpusChecksum(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("n_chars"),
        md5(col("text").cast("binary")).as("h"))
      .withColumn("hv", expr(Relational.hexVal13("h")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_unique"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("hv").cast("decimal(38,0)")) % lit(ChecksumMod))
          .cast("bigint").as("checksum_add"),
        expr("bit_xor(hv)").as("checksum_xor"))

  def corpusChecksumSql(table: String): String =
    s"""WITH h0 AS (
       |  SELECT source, n_chars, md5(text) AS h FROM $table),
       |h AS (
       |  SELECT source, n_chars, h, ${Relational.hexVal13("h")} AS hv FROM h0)
       |SELECT source, count(*) AS n_docs,
       |       count(DISTINCT h) AS n_unique,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(sum(CAST(hv AS DECIMAL(38,0))) % $ChecksumMod AS BIGINT) AS checksum_add,
       |       bit_xor(hv) AS checksum_xor
       |FROM h GROUP BY source""".stripMargin

  // ---- Misra-Gries heavy hitters (mergeable sketch vocabulary screen) ------

  /** Counter budget for [[mgHeavyHitters]] — certification threshold is
   * n/(MgK+1) of the total token stream. */
  val MgK = 48

  /** Certified vocabulary heavy hitters via the native Misra-Gries
   * aggregate ([[graft.plans.MisraGriesAgg]]) — the raw-scale form of
   * [[vocab_topk]]'s exact count: O([[MgK]]) state per task instead of
   * an O(vocab) shuffle, the third mergeable sketch next to HLL
   * (`approx_distinct_users`) and GK (`length_quantiles_approx`), and
   * the batch/Catalyst twin of the streaming trending-token detector.
   * Output (token, est, n_stream) for the CERTIFIED hitters only —
   * est·(MgK+1) > n proves true_freq > n/(MgK+1) because MG only ever
   * underestimates. Like the other two sketches the interior counts are
   * merge-order-dependent within the ±n/(MgK+1) bound, so the driver
   * check is rows-only — and that check must tolerate ROW-COUNT drift
   * too, not just value drift: a token whose true frequency sits inside
   * (n/(MgK+1), 2n/(MgK+1)] can flip in/out of the certified set
   * between shuffle-fetch orders (its est straddles the threshold by
   * less than the error bound). Every row that IS emitted is a true
   * heavy hitter (soundness is order-independent); the sbt spec pins
   * the deterministic guarantees (exact n, underestimate-only, bounded
   * error, no missed hitter above 2n/(MgK+1)) against exact counts at
   * two different parallelisms. The DETERMINISTIC, hash-checked form is
   * [[mgHeavyHitters]] — sketch candidates + one exact re-count join.
   *
   * Shape: ONE ObjectHashAggregate pass — each task folds its document
   * arrays into a ≤MgK-entry sketch map-side, the exchange carries one
   * sketch per task (O(MgK · tasks) bytes at ANY corpus size), one
   * merge chain, then a ≤MgK-row explode + filter. Compare the exact
   * `vocab_topk`: correct but its exchange is O(vocab) rows — this is
   * the 100 TB degradation path. */
  def mgHittersSketch(docs: DataFrame): DataFrame =
    mgSketchEntries(docs)
      .filter(col("est") * lit(MgK + 1L) > col("n_stream"))
      .orderBy(col("est").desc, col("token"))

  /** The unfiltered ≤[[MgK]]-entry sketch as rows (token, est,
   * n_stream) — every counter the merged sketch retained, certified or
   * not. Shared by [[mgHittersSketch]] (threshold on est) and
   * [[mgHeavyHitters]] (candidate set for the exact re-count). */
  private def mgSketchEntries(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val sk = toCol(graft.plans.MisraGriesAgg(toExpr(tokens(col("text"))), MgK)
      .toAggregateExpression())
    docs.agg(sk.as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.token").as("token"), col("e.est").as("est"),
        col("e.n").as("n_stream"))
  }

  /** Certified vocabulary heavy hitters with EXACT counts — the
   * deterministic, oracle-checked closure of [[mgHittersSketch]]:
   * (1) one MG sketch pass yields the ≤[[MgK]] candidate tokens plus
   * the exact stream length n; (2) ONE broadcast re-count join back
   * over the token stream computes each candidate's exact frequency;
   * (3) certification runs on the EXACT count (cnt·(MgK+1) > n).
   * Output (token, cnt, n_stream) — equal, row for row, to the exact
   * "all tokens with freq > n/(MgK+1)" query, because the merged MG
   * sketch retains EVERY token whose true frequency exceeds n/(MgK+1)
   * (est ≥ true − n/(MgK+1) > 0 under any merge order — Agarwal et al.
   * 2012's merge bound, which [[graft.plans.MGSketch.merge]]
   * implements), so no qualifying candidate is missing and the exact
   * re-count is merge-order-FREE. This is the same move that made the
   * KMV family hash-checkable: the sketch finds, exactness certifies.
   *
   * Scale shape: two corpus scans, NO O(vocab) exchange anywhere — the
   * sketch pass ships O(MgK · tasks) bytes, the re-count joins the
   * token stream against a BROADCAST ≤MgK-row candidate relation
   * (non-candidates die map-side) and partial-aggregates to ≤MgK
   * groups. Compare `vocab_topk`'s exact pass: one scan but an
   * O(vocab)-row exchange — at raw-corpus scale the two-scan
   * sketch-then-verify wins. */
  def mgHeavyHitters(docs: DataFrame): DataFrame = {
    val cand = mgSketchEntries(docs).select(col("token"), col("n_stream"))
    docs.select(explode(tokens(col("text"))).as("token"))
      .join(broadcast(cand), "token")
      .groupBy(col("token"), col("n_stream"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(MgK + 1L) > col("n_stream"))
      .select(col("token"), col("cnt"), col("n_stream"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Oracle: the exact heavy-hitter definition the sketch-then-verify
   * plan provably equals — every token whose frequency strictly exceeds
   * n/(MgK+1) of the total token stream, with its exact count. */
  def mgHeavyHittersSql(table: String): String =
    s"""WITH toks AS (SELECT unnest(${TextSql.tokens("text")}) AS token FROM $table),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_stream FROM toks),
       |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1)
       |SELECT token, cnt, n_stream FROM c CROSS JOIN n
       |WHERE cnt * ${MgK + 1} > n_stream
       |ORDER BY cnt DESC, token""".stripMargin

  /** Per-language raw-sketch heavy hitters — the GROUPED form of
   * [[mgHittersSketch]] (per-stratum stopword / domain-term discovery
   * for multilingual mixes): one sketch per language key, certification
   * against each language's OWN stream length. Same O(MgK) state per
   * (task, language) and rows-only check; the keyed ObjectHashAggregate
   * still partial-aggregates map-side, so the exchange carries
   * O(langs · MgK · tasks) bytes — never token rows. Deterministic
   * closure: [[mgHittersByLang]]. */
  def mgHittersByLangSketch(docs: DataFrame): DataFrame =
    mgSketchEntriesByLang(docs)
      .filter(col("est") * lit(MgK + 1L) > col("n_stream"))
      .orderBy(col("lang"), col("est").desc, col("token"))

  private def mgSketchEntriesByLang(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val sk = toCol(graft.plans.MisraGriesAgg(toExpr(tokens(col("text"))), MgK)
      .toAggregateExpression())
    docs.groupBy(col("lang")).agg(sk.as("sk"))
      .select(col("lang"), explode(col("sk")).as("e"))
      .select(col("lang"), col("e.token").as("token"), col("e.est").as("est"),
        col("e.n").as("n_stream"))
  }

  /** Per-language certified heavy hitters with EXACT counts — the
   * grouped [[mgHeavyHitters]]: per-language sketches nominate ≤MgK
   * candidates each (with that language's exact stream length), one
   * broadcast re-count join on (lang, token) restores exact
   * frequencies, certification runs on the exact count against the
   * language's own n. Deterministic by the same merge-bound argument —
   * each language's sketch retains every token above ITS n/(MgK+1).
   * Exchange: O(langs · MgK · tasks) sketch bytes + a ≤langs·MgK-group
   * rollup; the token stream itself never shuffles. */
  def mgHittersByLang(docs: DataFrame): DataFrame = {
    val cand = mgSketchEntriesByLang(docs)
      .select(col("lang"), col("token"), col("n_stream"))
    docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(cand), Seq("lang", "token"))
      .groupBy(col("lang"), col("token"), col("n_stream"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(MgK + 1L) > col("n_stream"))
      .select(col("lang"), col("token"), col("cnt"), col("n_stream"))
      .orderBy(col("lang"), col("cnt").desc, col("token"))
  }

  def mgHittersByLangSql(table: String): String =
    s"""WITH toks AS (SELECT lang, unnest(${TextSql.tokens("text")}) AS token FROM $table),
       |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_stream FROM toks GROUP BY 1),
       |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1, 2)
       |SELECT c.lang AS lang, c.token AS token, cnt, n_stream
       |FROM c JOIN n ON c.lang = n.lang
       |WHERE cnt * ${MgK + 1} > n_stream
       |ORDER BY lang, cnt DESC, token""".stripMargin

  // ---- sketch error audits (design-point guarantees, oracle-checkable) -----

  /** Misra-Gries guarantee audit — the [[graft.operators.Relational.kmvErrorAudit]]
   * pattern for the MG family: for every TRUE heavy hitter (exact
   * freq · (MgK+1) > n, a set the oracle computes exactly in SQL), emit
   * the deterministic guarantees the sketch must satisfy under ANY merge
   * order (Agarwal et al. 2012): the token is PRESENT in the merged
   * sketch, and its estimate lies in [f − ⌊n/(MgK+1)⌋, f]. The exact
   * frequencies and the bound are SQL-derivable; the two booleans are
   * sketch-dependent but provably true, so the driver's hash check
   * verifies the sketch's accuracy every round — the round-12 verdict's
   * "bounds, not interior counts" design. Output (token, f_exact,
   * max_underestimate, present_in_sketch, est_within_bound).
   *
   * Scale shape: the exact side is [[vocab_topk]]'s O(vocab) exchange —
   * an audit costs what its exact twin costs, run on a sampled tier in
   * production; the sketch side is the same O(MgK·tasks) pass as
   * [[mgHittersSketch]]. The persisted exact-count relation feeds both
   * the stream length (one O(1)-row plan-time action, the
   * [[DedupClusters]] checksum pattern) and the heavy filter, so the
   * corpus scans exactly twice. */
  def mgErrorAudit(docs: DataFrame): DataFrame = {
    val c = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("f_exact"))
      .persist()
    val nStream = c.agg(sum(col("f_exact"))).head().getLong(0)
    val maxUnder = nStream / (MgK + 1L)
    val heavy = c.filter(col("f_exact") * lit(MgK + 1L) > lit(nStream))
    val sk = mgSketchEntries(docs).select(col("token"), col("est"))
    heavy.join(broadcast(sk), Seq("token"), "left")
      .select(col("token"), col("f_exact"),
        lit(maxUnder).as("max_underestimate"),
        col("est").isNotNull.as("present_in_sketch"),
        (col("est").isNotNull && col("est") <= col("f_exact") &&
          col("est") >= col("f_exact") - lit(maxUnder)).as("est_within_bound"))
      .orderBy(col("f_exact").desc, col("token"))
  }

  def mgErrorAuditSql(table: String): String =
    s"""WITH toks AS (SELECT unnest(${TextSql.tokens("text")}) AS token FROM $table),
       |c AS (SELECT token, CAST(count(*) AS BIGINT) AS f_exact FROM toks GROUP BY 1),
       |n AS (SELECT CAST(sum(f_exact) AS BIGINT) AS n_stream FROM c)
       |SELECT token, f_exact,
       |       CAST(n_stream // ${MgK + 1} AS BIGINT) AS max_underestimate,
       |       true AS present_in_sketch, true AS est_within_bound
       |FROM c CROSS JOIN n
       |WHERE f_exact * ${MgK + 1} > n_stream
       |ORDER BY f_exact DESC, token""".stripMargin

  /** `approx_percentile` accuracy parameter shared by
   * `length_quantiles_approx` and its audit — rank error ≤ n/accuracy. */
  val GkAccuracy = 10000
  /** Audited rank-error budget: 2× the single-summary ε, because merged
   * GK summaries can compound toward ε₁+ε₂ (Greenwald-Khanna merge
   * bound) — the audit checks the MERGED design point a cluster runs. */
  val GkEps: Double = 2.0 / GkAccuracy
  private val GkQuantiles = Seq(0.25, 0.5, 0.9)

  /** GK quantile-sketch guarantee audit — per (lang, q): the returned
   * quantile's exact rank interval [count(<v)+1, count(≤v)] must
   * intersect the allowed band [⌊(q−ε)n⌋ ∨ 1, ⌈(q+ε)n⌉ ∧ n]. The band
   * endpoints are pure arithmetic over the exact per-language count
   * (oracle-derivable); `within_bound` is sketch-dependent but
   * guaranteed true at the audited ε, so the hash check pins the
   * sketch's accuracy. The sketch value v itself is interior state and
   * deliberately NOT emitted. Output (lang, q, n_docs, rank_lo,
   * rank_hi, within_bound).
   *
   * Scale shape: one GK aggregation pass + one rank-counting pass
   * against the ≤ langs·3-row broadcast of (lang, q, v) — two corpus
   * scans, no sort, no window. */
  def gkErrorAudit(docs: DataFrame): DataFrame = {
    val qArr = array(GkQuantiles.map(lit): _*)
    val agg = docs.groupBy(col("lang"))
      .agg(approx_percentile(col("n_chars"), qArr, lit(GkAccuracy)).as("vs"),
        count(lit(1)).as("n_docs"))
    val qv = agg.select(col("lang"), col("n_docs"),
        posexplode(col("vs")).as(Seq("i", "v")))
      .select(col("lang"), col("n_docs"),
        element_at(qArr, col("i") + 1).as("q"), col("v"))
    docs.select(col("lang"), col("n_chars"))
      .join(broadcast(qv), "lang")
      .groupBy(col("lang"), col("q"), col("n_docs"), col("v"))
      .agg(sum(when(col("n_chars") <= col("v"), 1L).otherwise(0L)).as("r_le"),
        sum(when(col("n_chars") < col("v"), 1L).otherwise(0L)).as("r_lt"))
      .withColumn("rank_lo",
        greatest(floor((col("q") - lit(GkEps)) * col("n_docs")).cast("long"), lit(1L)))
      .withColumn("rank_hi",
        least(ceil((col("q") + lit(GkEps)) * col("n_docs")).cast("long"), col("n_docs")))
      .select(col("lang"), col("q"), col("n_docs"), col("rank_lo"), col("rank_hi"),
        (col("r_lt") + 1L <= col("rank_hi") && col("r_le") >= col("rank_lo"))
          .as("within_bound"))
  }

  def gkErrorAuditSql(table: String): String =
    s"""WITH pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM $table GROUP BY 1),
       |qs AS (SELECT unnest([${GkQuantiles.map(q => s"CAST($q AS DOUBLE)").mkString(", ")}]) AS q)
       |SELECT lang, q, n_docs,
       |       greatest(CAST(floor((q - $GkEps) * n_docs) AS BIGINT), 1) AS rank_lo,
       |       least(CAST(ceil((q + $GkEps) * n_docs) AS BIGINT), n_docs) AS rank_hi,
       |       true AS within_bound
       |FROM pl CROSS JOIN qs""".stripMargin

  // ---- Count-Min sketch + value-level audit ---------------------------------

  /** Count-Min grid shape: 4 rows × 512 buckets — 16 KB of state per
   * (task, group), point-estimate overcount ≤ e/512 · n ≈ 0.53% of the
   * stream per failed row, failure e⁻⁴ ≈ 1.8% per row per query. */
  val CmDepth = 4
  val CmWidth = 512
  /** Audited candidate set size (the frequency head, ties by token). */
  val CmAuditK = 30

  /** Row i's Count-Min bucket of the md5 hex string held in column/expr
   * `h` — ONE string, valid verbatim in BOTH Spark SQL and DuckDB (the
   * `Relational.hexVal13` contract pattern): hex chars 8i+1..8i+8 read
   * as a 32-bit integer via instr-arithmetic, mod [[CmWidth]]. Each
   * positional weight CAST to BIGINT (Spark ANSI: digit × 2²⁸ overflows
   * INT; DuckDB silently promotes — the divergence class hexVal13
   * documents). The native [[graft.plans.CMSketch.bucket]] computes the
   * same value from the raw digest bytes. */
  private[operators] def cmBucketSql(i: Int, h: String): String = {
    val sum = (1 to 8).map { j =>
      s"(instr('0123456789abcdef', substring($h, ${8 * i + j}, 1)) - 1) * " +
        s"CAST(${1L << (4 * (8 - j))} AS BIGINT)"
    }.mkString("(", " + ", ")")
    s"($sum % $CmWidth)"
  }

  /** Count-Min sketch audit with VALUE-level oracle coverage — the only
   * sketch in the family besides KMV whose interior state the DuckDB
   * oracle reproduces exactly, because the sketch is LINEAR: each grid
   * cell is the plain sum of the exact frequencies of the tokens
   * hashing into it, so the oracle rebuilds the whole grid relationally
   * (group the token-frequency relation by bucket) and derives the
   * SAME point estimates the native one-pass aggregate produced —
   * est, overcount, and the never-undercount guarantee all hash-check,
   * where the HLL/GK/MG audits could only pin guarantee bounds.
   *
   * Output (token, cnt, est, overcount, never_under) for the top-
   * [[CmAuditK]] tokens by exact count: est = min over the four grid
   * rows of the token's bucket counter, overcount = est − cnt ≥ 0.
   *
   * Scale shape: the sketch side is ONE ObjectHashAggregate pass with
   * O(depth·width) state per task (the exchange ships one 16 KB grid
   * per task at ANY corpus size); the exact side is [[vocabTopK]]'s
   * vocabulary-keyed exchange. The exploded token stream is PERSISTED
   * between its two consumers, so the corpus scans once; the finished
   * single-row grid broadcasts onto the [[CmAuditK]]-row candidate
   * relation where the probe is pure expression arithmetic.
   *
   * The persist lives until evicted: like [[dedupPipeline]]'s labeled
   * frame, a long-lived session that runs repeated audits should
   * `spark.catalog.clearCache()` (or rebuild the session) after
   * materializing the result — the cached relation is corpus-scale.
   * The one-shot Verify/Bench mains tear the session down instead. */
  def cmErrorAudit(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val tok = docs.select(explode(tokens(col("text"))).as("token")).persist()
    val grid = tok.agg(toCol(graft.plans.CountMinAgg(
      toExpr(col("token")), CmDepth, CmWidth).toAggregateExpression()).as("cm"))
    val cand = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(CmAuditK)
      .withColumn("h", md5(col("token")))
    val est = least((0 until CmDepth).map { i =>
      element_at(col("cm.counters"),
        (expr(cmBucketSql(i, "h")) + lit(i * CmWidth + 1)).cast("int"))
    }: _*)
    cand.crossJoin(broadcast(grid))
      .select(col("token"), col("cnt"), est.as("est"))
      .withColumn("overcount", col("est") - col("cnt"))
      .withColumn("never_under", col("overcount") >= 0L)
      .orderBy(col("cnt").desc, col("token"))
  }

  def cmErrorAuditSql(table: String): String = {
    val rows = s"(SELECT unnest([${(0 until CmDepth).mkString(", ")}]) AS i) r"
    // bucket of row r.i: the same instr-arithmetic as cmBucketSql, with
    // the slice start folded per-i on the Spark side but variable here
    val bucketVar = (1 to 8).map { j =>
      s"(instr('0123456789abcdef', substring(h, 8 * r.i + $j, 1)) - 1) * " +
        s"CAST(${1L << (4 * (8 - j))} AS BIGINT)"
    }.mkString("(", " + ", ")") + s" % $CmWidth"
    s"""WITH toks AS (SELECT unnest(${TextSql.tokens("text")}) AS token FROM $table),
       |tf AS (SELECT token, md5(token) AS h, CAST(count(*) AS BIGINT) AS cnt
       |       FROM toks GROUP BY 1),
       |cells AS (
       |  SELECT r.i AS i, $bucketVar AS b, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM tf CROSS JOIN $rows GROUP BY 1, 2),
       |cand AS (SELECT token, h, cnt FROM tf
       |         ORDER BY cnt DESC, token LIMIT $CmAuditK),
       |probe AS (
       |  SELECT cand.token, cand.cnt, r.i AS i, $bucketVar AS b
       |  FROM cand CROSS JOIN $rows)
       |SELECT p.token, p.cnt, CAST(min(c.c) AS BIGINT) AS est,
       |       CAST(min(c.c) AS BIGINT) - p.cnt AS overcount,
       |       (CAST(min(c.c) AS BIGINT) >= p.cnt) AS never_under
       |FROM probe p JOIN cells c ON c.i = p.i AND c.b = p.b
       |GROUP BY p.token, p.cnt
       |ORDER BY p.cnt DESC, p.token""".stripMargin
  }

  // ---- column null/blank/distinct profile (schema-health audit) ------------

  /** The documents table's columns with their blank predicate — BLANK is
   * a string that trims to empty (a NULL in disguise after a bad CSV
   * hop); non-string columns have no blank notion and report 0. */
  private val ProfileCols: Seq[(String, Boolean)] = Seq(
    ("doc_id", false), ("text", true), ("lang", true),
    ("source", true), ("n_chars", false))

  /** Per-column schema-health profile of the documents table — the
   * first query run against ANY newly landed dataset: per column, the
   * NULL count, the blank count (strings trimming to '' — the classic
   * silent-corruption mode of CSV/JSON hops), and the exact distinct
   * cardinality (a `lang` column whose distinct count jumped 50×
   * yesterday is a parser regression, not new languages). Output
   * (col_name, n_rows, n_null, n_blank, n_distinct), one row per column.
   *
   * Scale shape: ONE corpus scan — the NULL/blank tallies are plain
   * partial-agg sums and the per-column DISTINCT counts ride Spark's
   * multi-distinct Expand rewrite (each input row fans to |cols|+1
   * tagged rows INSIDE the map task, partial-aggregated before the
   * single exchange — the scan itself is not repeated). Expand's fan-out
   * is the documented price of EXACT cardinalities in one pass; the
   * raw-100 TB swap is `approx_count_distinct` (HLL, no Expand), which
   * drops this to a pure scan — kept exact here because exactness is
   * what the oracle certifies. Unpivot to rows is a literal 5-way
   * `stack` on the 1-row aggregate — driver-side-free and O(cols). */
  def nullProfile(docs: DataFrame): DataFrame = {
    val aggs = ProfileCols.flatMap { case (c, isStr) =>
      val blank = if (isStr) sum(when(trim(col(c)) === "", 1L).otherwise(0L))
                  else lit(0L)
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_null"),
        blank.as(s"${c}_blank"),
        countDistinct(col(c)).as(s"${c}_distinct"))
    }
    val stacked = ProfileCols.map { case (c, _) =>
      s"'$c', ${c}_null, ${c}_blank, ${c}_distinct"
    }.mkString(", ")
    val all = count(lit(1)).as("n_rows") +: aggs
    docs.agg(all.head, all.tail: _*)
      .select(col("n_rows"), expr(
        s"stack(${ProfileCols.size}, $stacked) AS (col_name, n_null, n_blank, n_distinct)"))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_blank"), col("n_distinct"))
  }

  def nullProfileSql(table: String): String =
    ProfileCols.map { case (c, isStr) =>
      val blank = if (isStr) s"CAST(sum(CASE WHEN trim($c) = '' THEN 1 ELSE 0 END) AS BIGINT)"
                  else "CAST(0 AS BIGINT)"
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |       $blank AS n_blank,
         |       count(DISTINCT $c) AS n_distinct
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  // ---- epoch plan (the end-to-end assembly capstone) -------------------------

  /** Salt for the epoch sampler's keep hash (independent of every other
   * hash family in the suite). */
  val EpochSalt = "mix:"

  /** The end-to-end "assemble one training epoch" composition — the
   * chain every stage in this engine exists to serve, in one checked
   * dataflow: (1) Gopher-style quality pass ([[qualityFilter]]);
   * (2) exact-dedup collapse to the smallest-id keeper per content
   * fingerprint ([[TextDedup.exact]]); (3) temperature-mixed source
   * sampling — keep a doc iff its salted-ID hash fraction falls below
   * the source's τ=0.5 [[mixWeights]] weight (id-addressed, the
   * [[globalShuffle]] convention: the epoch is reproducible and
   * append-stable for STABLE ids — a re-crawled doc that keeps its id
   * keeps its sampling verdict even if its text changed, while identical
   * content under a new id resamples independently; stage 2's dedup is
   * what stays content-addressed); (4) deterministic
   * training-order addresses from [[globalShuffle]]'s salted-id
   * (shard, pos) scheme, derived over the KEPT set. Output
   * (doc_id, source, shard, pos).
   *
   * Scale shape: every stage is the already-audited plan of its
   * standalone query — tokenize-once projections, one fingerprint
   * aggregate, a broadcast O(sources) weight join, and the two-level
   * shard/pos scheme with NO corpus-wide ordered window. The sampler
   * hash fraction is the exact 52-bit prefix over 2⁵², compared against
   * the weight double — one deterministic comparison per doc. */
  def epochPlan(docs: DataFrame): DataFrame = {
    val kept1 = docs.join(
      qualityFilter(docs).filter(col("passes")).select("doc_id"), "doc_id")
    val keepers = TextDedup.exact(kept1).select(col("keeper_id").as("doc_id"))
    // persist: the filtered+deduped corpus feeds BOTH the weight
    // derivation and the sampler — without it Catalyst replays the
    // quality+dedup pipeline once per consumer (and a real pipeline
    // materializes this exact relation anyway: it is the epoch's input)
    val kept2 = kept1.join(keepers, Seq("doc_id"), "left_semi").persist()
    val weights = mixWeights(kept2).select(col("source"), col("weight"))
    val frac = expr(graft.operators.Relational.hexVal13("h")).cast("double") /
      lit((1L << 52).toDouble)
    // persist: the kept (doc_id, source) set feeds BOTH the address
    // derivation and the final join-back — narrow columns, so the cache
    // is two thin columns of the epoch's rows
    val kept3 = kept2
      .select(col("doc_id"), col("source"),
        md5(concat(lit(EpochSalt), col("doc_id").cast("string")).cast("binary")).as("h"))
      .join(broadcast(weights), "source")
      .filter(frac < col("weight"))
      .select(col("doc_id"), col("source"))
      .persist()
    globalShuffle(kept3).join(kept3, "doc_id")
      .select(col("doc_id"), col("source"), col("shard"), col("pos"))
  }

  /** Oracle: the same four stages as nested WITH blocks — each stage's
   * SQL is the standalone query's oracle text over the previous stage's
   * CTE, so any drift in ANY stage shows up here too. */
  def epochPlanSql(table: String): String =
    s"""WITH q AS (${qualityFilterSql(table)}),
       |kept1 AS (SELECT d.* FROM $table d JOIN q ON q.doc_id = d.doc_id AND q.passes),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM kept1
       |            GROUP BY ${TextSql.fingerprint("text")}),
       |kept2 AS (SELECT k.* FROM kept1 k JOIN keepers USING (doc_id)),
       |mw AS (${mixWeightsSql("kept2")}),
       |kept3 AS (
       |  SELECT k.doc_id, k.source
       |  FROM (SELECT doc_id, source, md5('$EpochSalt' || doc_id::VARCHAR) AS h
       |        FROM kept2) k
       |  JOIN mw ON mw.source = k.source
       |  WHERE CAST(${graft.operators.Relational.hexVal13("h")} AS DOUBLE) / ${1L << 52}.0
       |        < mw.weight),
       |addressed AS (${globalShuffleSql("kept3")})
       |SELECT a.doc_id, k.source, a.shard, a.pos
       |FROM addressed a JOIN kept3 k USING (doc_id)""".stripMargin

  // ---- exact quantiles via value histogram (the scale-correct exact path) ---

  /** Per-language EXACT length quantiles WITHOUT per-group buffering —
   * the third leg of the quantile story: the checked `length_quantiles`
   * uses Spark's `percentile`, which buffers EVERY group value in the
   * aggregation state (a memory hazard when a group holds billions of
   * rows at 100 TB); `length_quantiles_approx` degrades to a GK sketch;
   * THIS form stays exact at any row count for bounded-cardinality
   * numeric columns (lengths, ages, counts, quantized scores — most
   * profiling targets): ONE partial-agg pass builds the per-(lang,
   * value) histogram — state is O(distinct values), not O(rows) — and
   * the R-7 interpolated quantile is read off the cumulative counts of
   * that tiny relation. The interpolation replicates Spark's
   * `Percentile.getPercentile` IEEE sequence exactly ((hiIdx − pos)·vLo
   * + (pos − loIdx)·vHi with the equal-index/equal-value early-outs),
   * so the output is bit-identical to `length_quantiles` — the two
   * queries share ONE oracle text, and the spec pins plan-equivalence
   * directly. */
  def lengthQuantilesHist(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs.groupBy(col("lang"), col("n_chars")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
    // hi = count of values <= this one; lo = count strictly below: the
    // value at 0-based sorted index k is the row with lo <= k < hi
    val cum = hist
      .withColumn("hi", sum(col("c")).over(wCum))
      .withColumn("lo", col("hi") - col("c"))
      .withColumn("n_docs", sum(col("c")).over(Window.partitionBy(col("lang"))))
    val qs = Seq(0.25 -> "25", 0.5 -> "50", 0.9 -> "90")
    def pos(q: Double): Column = (col("n_docs") - 1).cast("double") * lit(q)
    val aggs = qs.flatMap { case (q, tag) =>
      val (loIdx, hiIdx) = (floor(pos(q)), ceil(pos(q)))
      Seq(
        max(when(col("lo").cast("double") <= loIdx &&
          loIdx < col("hi").cast("double"), col("n_chars"))).as(s"v${tag}lo"),
        max(when(col("lo").cast("double") <= hiIdx &&
          hiIdx < col("hi").cast("double"), col("n_chars"))).as(s"v${tag}hi"))
    }
    val allAggs = max(col("n_docs")).as("n_docs") +: aggs
    val byLang = cum.groupBy(col("lang")).agg(allAggs.head, allAggs.tail: _*)
    val outQs = qs.map { case (q, tag) =>
      val p = pos(q)
      val (loIdx, hiIdx) = (floor(p), ceil(p))
      val (vLo, vHi) = (col(s"v${tag}lo").cast("double"), col(s"v${tag}hi").cast("double"))
      // Percentile.getPercentile's exact branch + IEEE sequence
      when(loIdx === hiIdx || vLo === vHi, vLo)
        .otherwise((hiIdx - p) * vLo + (p - loIdx) * vHi)
        .as(s"q$tag")
    }
    byLang.select(col("lang") +: outQs :+ col("n_docs"): _*)
  }

  // ---- one-scan sketch profile (the raw-scale cardinality audit) ------------

  /** Sketch size for [[sketchProfile]] — small enough that the low-
   * cardinality columns (lang, source) stay in the EXACT m < k branch
   * at sf0.01 while the per-row columns (doc_id, text, n_chars) pin
   * the estimator branch. */
  val SketchProfileK = 64

  /** Per-column string rendering for the sketch profile — the hashed
   * value must be byte-identical across engines, so non-strings go
   * through the shared integer CAST and strings ride raw. */
  private val SketchCols: Seq[(String, String)] = Seq(
    ("doc_id", "CAST(doc_id AS STRING)"), ("text", "text"),
    ("lang", "lang"), ("source", "source"),
    ("n_chars", "CAST(n_chars AS STRING)"))

  /** The raw-100 TB twin of [[nullProfile]]'s exact distinct column:
   * per-column distinct-cardinality ESTIMATES from the deterministic
   * KMV bottom-k sketch ([[graft.plans.KmvDistinctAgg]]), ONE corpus
   * scan for every column at once. `nullProfile`'s exact counts ride a
   * multi-distinct Expand — each row fans out once per column AND the
   * exchange carries every distinct value; here the fan-out feeds a
   * map-side ObjectHashAggregate whose exchange is O(k) PER COLUMN at
   * any corpus size, which is what a daily whole-schema cardinality
   * monitor over 100 TB actually runs. Output one row per column:
   * (col_name, m, hk, n_distinct_kmv) — m is the exact count while a
   * column has < k distinct values (lang/source land here), hk/est the
   * sketch evidence past it. Unlike the HLL swap `nullProfile`
   * documents, the KMV output is a pure function of the input set, so
   * this stays FULLY hash-checked against the window-form oracle. */
  def sketchProfile(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val stacked = SketchCols.map { case (c, render) => s"'$c', $render" }
      .mkString(", ")
    val sk = toCol(graft.plans.KmvDistinctAgg(
      toExpr(md5(col("value"))), SketchProfileK).toAggregateExpression())
    docs
      .select(expr(s"stack(${SketchCols.size}, $stacked) AS (col_name, value)"))
      .groupBy(col("col_name"))
      .agg(sk.as("sk"))
      .select(col("col_name"), col("sk.m").as("m"), col("sk.hk").as("hk"),
        col("sk.est").as("n_distinct_kmv"))
  }

  /** DuckDB twin: per-column bottom-k of md5(value) via the shared
   * window form, the same estimator text as the grouped KMV oracle. */
  def sketchProfileSql(table: String): String = {
    val k = SketchProfileK
    val vals = SketchCols.map { case (c, render) =>
      s"SELECT '$c' AS col_name, ${render.replace(" AS STRING", " AS VARCHAR")} AS value FROM $table"
    }.mkString("\nUNION ALL ")
    s"""WITH vals AS ($vals),
       |uh AS (SELECT DISTINCT col_name, md5(value) AS h FROM vals WHERE value IS NOT NULL),
       |bot AS (SELECT col_name, h,
       |               row_number() OVER (PARTITION BY col_name ORDER BY h) AS rn
       |        FROM uh),
       |agg AS (SELECT col_name, CAST(count(*) AS BIGINT) AS m,
       |               max(CASE WHEN rn = $k THEN h END) AS hk
       |        FROM bot WHERE rn <= $k GROUP BY col_name)
       |SELECT col_name, m, hk,
       |       ${Relational.kmvEstimatorAt(k).replace("\n", " ")} AS n_distinct_kmv
       |FROM agg""".stripMargin
  }

  // ---- DSIR importance weights (target-domain data selection) ---------------

  /** Hashed-feature space size for [[dsirWeights]] — 2^12 buckets, the
   * paper's hashed n-gram trick at a width where the 16-bit md5 prefix
   * folds evenly (65536 = 16 × 4096). Fixed, not corpus-derived: the
   * feature space is part of the MODEL (weights learned at one scale
   * apply at another), so it must not move with n. */
  val DsirBuckets = 4096

  /** Target-domain source for [[dsirWeights]] — the curated slice the
   * raw corpus is scored against (same role src0 plays as the benchmark
   * side of [[decontaminate]]). */
  val DsirTargetSource = "src0"

  /** DSIR importance weights — Data Selection via Importance Resampling
   * (Xie et al., NeurIPS 2023): score every raw-corpus document by how
   * target-domain-like its hashed-bigram distribution is, the modern
   * replacement for binary quality classifiers when assembling a
   * pretraining mix. Features are bigrams hashed into [[DsirBuckets]]
   * buckets; per bucket the log-likelihood ratio
   * `λ_b = log p_target(b) − log p_raw(b)` (Laplace +1 smoothing), per
   * document `weight = Σ_b count_d(b) · λ_b`; `keep` = the doc's
   * per-bigram affinity exceeds the raw corpus's own mean
   * (`w_d·N > W·n_d`, exact cross-multiply in DECIMAL(38,0)) — the
   * RELATIVE cut that mirrors resampling's bias toward above-average
   * importance (an absolute `w > 0` degenerates on a homogeneous
   * corpus where every doc sits slightly off the raw baseline).
   * Output (doc_id, n_bigrams, weight_bits, keep) for every non-target
   * doc — docs too short for a bigram score 0 and are not kept.
   *
   * Cross-engine exactness: each log2 factor is the integer bit-length
   * discretization ([[docSurprisal]]'s floor-log2 convention applied
   * per factor, so every term stays a BIGINT at any corpus size —
   * `bitlen(t_b+1) − bitlen(T+B) − bitlen(r_b+1) + bitlen(R+B)`), never
   * a transcendental the two engines could round apart.
   *
   * Scale shape: ONE tokenize+explode scan builds the per-(doc, bucket)
   * count relation (map-side combining; ≤ min(doc_len, 4096) rows per
   * doc); the bucket LLR table aggregates that relation to EXACTLY
   * [[DsirBuckets]] rows (conditional sums — the one-pass
   * target/raw split, no second scan) and broadcasts; per-doc weights
   * are one more partial-agg pass over the count relation. The only
   * full-width exchanges are keyed aggregates; nothing driver-side, no
   * vocabulary-sized state — the bucket table is O(4096) at 100 TB. */
  def dsirWeights(docs: DataFrame,
                  targetSource: String = DsirTargetSource,
                  buckets: Int = DsirBuckets): DataFrame = {
    val cnts = TextFunctions.withTokens(
        docs.select(col("doc_id"), col("source"), col("text")), "text", "toks")
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), (t, i) -> concat(t, ' ', toks[i + 1]))"))
        .as("bigram"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("bigram").cast("binary")), 1, 4), 16, 10)
          .cast("int") % buckets).as("bucket"))
      .groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("cnt"))
      .persist()
    val byBucket = cnts.groupBy(col("bucket")).agg(
      sum(when(col("source") === targetSource, col("cnt")).otherwise(lit(0L)))
        .cast("bigint").as("t_cnt"),
      sum(when(col("source") =!= targetSource, col("cnt")).otherwise(lit(0L)))
        .cast("bigint").as("r_cnt"))
    val tots = byBucket.agg(
      sum(col("t_cnt")).cast("bigint").as("tt"),
      sum(col("r_cnt")).cast("bigint").as("rt"))
    def flog2(c: Column): Column = (length(bin(c)) - 1).cast("bigint")
    // O(buckets) rows, persisted: referenced by the per-doc weight join
    // AND the corpus-mean cut below (Σ_b r_cnt·λ_b ≡ Σ_d w_d, so the
    // raw totals never need the per-doc relation a second time)
    val lambda = byBucket.crossJoin(broadcast(tots))
      .select(col("bucket"), col("r_cnt"),
        (flog2(col("t_cnt") + 1) - flog2(col("tt") + buckets)
          - flog2(col("r_cnt") + 1) + flog2(col("rt") + buckets))
          .as("lambda_bits"))
      .persist()
    val perDoc = cnts.filter(col("source") =!= targetSource)
      .join(broadcast(lambda.select(col("bucket"), col("lambda_bits"))), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("lambda_bits")).cast("bigint").as("weight_bits"),
        sum(col("cnt")).cast("bigint").as("n_bigrams"))
    val rawTots = lambda.agg(
      coalesce(sum(col("r_cnt") * col("lambda_bits")), lit(0L))
        .cast("bigint").as("w_tot"),
      coalesce(sum(col("r_cnt")), lit(0L)).cast("bigint").as("n_tot"))
    val dec = "decimal(38,0)"
    docs.filter(col("source") =!= targetSource).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(rawTots))
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("weight_bits"), lit(0L)).as("weight_bits"),
        (coalesce(col("weight_bits"), lit(0L)).cast(dec) * col("n_tot").cast(dec)
          > col("w_tot").cast(dec) * coalesce(col("n_bigrams"), lit(0L)).cast(dec))
          .as("keep"))
  }

  def dsirWeightsSql(table: String,
                     targetSource: String = DsirTargetSource,
                     buckets: Int = DsirBuckets): String = {
    val tgt = sqlLit(targetSource)
    s"""WITH tf AS (SELECT doc_id, source, ${TextSql.tokens("text")} AS toks FROM $table),
       |idx AS (SELECT doc_id, CAST(unnest(range(1, len(toks))) AS INT) AS i FROM tf),
       |bg AS (SELECT x.doc_id, t.source,
       |              md5(concat(t.toks[x.i], ' ', t.toks[x.i + 1])) AS h
       |       FROM idx x JOIN tf t ON t.doc_id = x.doc_id),
       |cnts AS (SELECT doc_id, source,
       |                ${hexPrefix16SqlDuck("h")} % $buckets AS bucket,
       |                CAST(count(*) AS BIGINT) AS cnt
       |         FROM bg GROUP BY 1, 2, 3),
       |byb AS (SELECT bucket,
       |               CAST(sum(CASE WHEN source = $tgt THEN cnt ELSE 0 END) AS BIGINT) AS t_cnt,
       |               CAST(sum(CASE WHEN source <> $tgt THEN cnt ELSE 0 END) AS BIGINT) AS r_cnt
       |        FROM cnts GROUP BY 1),
       |tots AS (SELECT CAST(sum(t_cnt) AS BIGINT) AS tt,
       |                CAST(sum(r_cnt) AS BIGINT) AS rt FROM byb),
       |lam AS (SELECT bucket,
       |               CAST((length(bin(t_cnt + 1)) - 1) - (length(bin(tt + $buckets)) - 1)
       |                  - (length(bin(r_cnt + 1)) - 1) + (length(bin(rt + $buckets)) - 1)
       |                 AS BIGINT) AS lambda_bits
       |        FROM byb CROSS JOIN tots),
       |pd AS (SELECT c.doc_id,
       |              CAST(sum(c.cnt * l.lambda_bits) AS BIGINT) AS weight_bits,
       |              CAST(sum(c.cnt) AS BIGINT) AS n_bigrams
       |       FROM cnts c JOIN lam l USING (bucket)
       |       WHERE c.source <> $tgt GROUP BY 1),
       |rawtots AS (SELECT CAST(sum(weight_bits) AS BIGINT) AS w_tot,
       |                   CAST(sum(n_bigrams) AS BIGINT) AS n_tot FROM pd)
       |SELECT d.doc_id AS doc_id,
       |       coalesce(pd.n_bigrams, 0) AS n_bigrams,
       |       coalesce(pd.weight_bits, 0) AS weight_bits,
       |       CAST(coalesce(pd.weight_bits, 0) AS HUGEINT) * r.n_tot
       |         > CAST(r.w_tot AS HUGEINT) * coalesce(pd.n_bigrams, 0) AS keep
       |FROM $table d LEFT JOIN pd ON pd.doc_id = d.doc_id
       |CROSS JOIN rawtots r
       |WHERE d.source <> $tgt""".stripMargin
  }

  // ---- snapshot diff (dataset-version audit between two crawls) -------------

  /** Classify every doc_id across two corpus snapshots as added /
   * removed / changed / unchanged and roll up per (source, status) —
   * the audit a pipeline runs between crawl N and crawl N+1 before
   * retraining (a `changed` spike = upstream re-render; a `removed`
   * spike = a feed silently dropped).
   *
   * Scale shape: each side collapses to (doc_id, md5 fingerprint,
   * source) IN THE SCAN — the full-outer join on doc_id then shuffles
   * 32-byte fingerprints, never text. One exchange per side, partial-
   * agg rollup to O(sources × 4) rows.
   *
   * Presence is keyed off the side's SOURCE column (non-null whenever
   * the row exists — it is a partition key upstream), NOT off the
   * fingerprint: md5(NULL) is NULL on both engines, so a doc with NULL
   * text present in both snapshots would otherwise misclassify as
   * `added`. The changed/unchanged split is null-safe (`<=>`) for the
   * same reason: two NULL-text rows are `unchanged`, a NULL↔non-NULL
   * flip is `changed`. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"), md5(col("text")).as("old_fp"),
      col("source").as("old_source"))
    val n = newDocs.select(col("doc_id"), md5(col("text")).as("new_fp"),
      col("source").as("new_source"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(coalesce(col("new_source"), col("old_source")).as("source"),
        when(col("old_source").isNull, lit("added"))
          .when(col("new_source").isNull, lit("removed"))
          .when(!(col("old_fp") <=> col("new_fp")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Deterministic synthetic snapshot pair over the shared table (the
   * driver harness has ONE documents table, so the two "crawls" derive
   * from it by doc_id arithmetic, mirrored exactly in the oracle):
   * old = docs with doc_id % 10 ≠ 3, where every doc_id % 7 = 0 doc is
   * truncated to its first 100 chars (the pre-re-render form);
   * new = docs with doc_id % 10 ≠ 4, text as stored. So % 10 = 3 docs
   * are `added`, % 10 = 4 `removed`, % 7 = 0 (minus those) `changed`. */
  def corpusDiff(docs: DataFrame): DataFrame = {
    val old = docs.filter(col("doc_id") % 10 =!= 3)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        substring(col("text"), 1, 100)).otherwise(col("text")))
    val nw = docs.filter(col("doc_id") % 10 =!= 4)
    snapshotDiff(old, nw).orderBy(col("source"), col("status"))
  }

  def corpusDiffSql(table: String): String =
    s"""WITH old AS (SELECT doc_id, source,
       |         md5(CASE WHEN doc_id % 7 = 0 THEN substr(text, 1, 100) ELSE text END) AS fp
       |       FROM $table WHERE doc_id % 10 <> 3),
       |nw AS (SELECT doc_id, source, md5(text) AS fp FROM $table WHERE doc_id % 10 <> 4)
       |SELECT coalesce(nw.source, old.source) AS source,
       |       CASE WHEN old.source IS NULL THEN 'added'
       |            WHEN nw.source IS NULL THEN 'removed'
       |            WHEN old.fp IS DISTINCT FROM nw.fp THEN 'changed'
       |            ELSE 'unchanged' END AS status,
       |       count(*) AS n_docs
       |FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
       |GROUP BY 1, 2 ORDER BY source, status""".stripMargin
}
