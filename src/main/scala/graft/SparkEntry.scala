package graft

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, TextSql}
import graft.ljot.{LeftJoinOnTimeout, LeftJoinOnTimeoutConfig}
import graft.operators.{AsOfJoin, Corpus, DedupClusters, Multimodal, Relational, TextDedup, VectorOps}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * Every operator from SURVEY.md §2 (and the training-data extension set,
 * §7.2-M7) is exposed as a named batch query over the shared parquet
 * tables, with an ANSI-SQL oracle for the driver's DuckDB compare. Column
 * names are aliased identically on both sides (the compare sorts columns
 * by name before hashing). */
object SparkEntry {

  /** Join band D for the flagship left-join-on-timeout queries. */
  private val D = Duration.ofMinutes(5)
  private val ljotCfg = LeftJoinOnTimeoutConfig(D, Duration.ofMinutes(15))
  /** Lookback horizon for the as-of join query. */
  private val AsOfHorizon = Duration.ofMinutes(10)

  /** lhs/rhs of the flagship query: purchases left-joined to errors by user
   * within ±D (FIXTURES.md §2). value = event_id as string — mirrors the
   * reference's opaque string values (`LeftJoinOnTimeoutTest.java:201-208`)
   * with deterministic cross-engine formatting. */
  private def eventsSide(s: SparkSession, dir: String, eventType: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === eventType)
      .select(col("user_id").as("key"),
              col("event_id").cast("string").as("value"),
              col("ts"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
   * The driver builds this session itself, so the nanos-timestamp read
   * flag (see [[Tables.events]]) is set here — the one entry point whose
   * session build graft does not own. */
  def entry(spark: SparkSession): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Queries.ljotEvents(spark, "/root/testdata/sf0.001")
  }

  object Queries {
    /** O5: the novel operator, batch restatement — left-join-on-timeout of
     * purchase events to error events per user within ±D. */
    def ljotEvents(s: SparkSession, dir: String): DataFrame =
      LeftJoinOnTimeout(
        eventsSide(s, dir, "purchase"),
        eventsSide(s, dir, "error"),
        LeftJoinOnTimeout.testJoiner, ljotCfg)

    /** O4: windowed interval equi-join, inner form. */
    def intervalJoinInner(s: SparkSession, dir: String): DataFrame =
      LeftJoinOnTimeout.innerJoin(
        eventsSide(s, dir, "purchase"),
        eventsSide(s, dir, "error"),
        LeftJoinOnTimeout.testJoiner, ljotCfg)

    /** The anti-join (timeout-only) branch in isolation: lefts with NO
     * in-window right — semantically NOT EXISTS (SURVEY.md §2.1-O5). */
    def timeoutOnly(s: SparkSession, dir: String): DataFrame =
      LeftJoinOnTimeout.bandJoin(
        eventsSide(s, dir, "purchase"),
        eventsSide(s, dir, "error"), ljotCfg, "left_anti")
        .select(col("lkey").as("key"),
                concat(col("lvalue"), lit("+")).as("joined"),
                col("lts").as("ts"))

    /** Text-analysis scalar pipeline (language-ID, quality, whitespace +
     * BPE-ish token counts, fingerprint) — no shuffle. The token array is
     * materialized ONCE through a Generate barrier
     * ([[TextFunctions.withTokens]]); the naive flat projection
     * re-tokenized per derived column after CollapseProject inlining. */
    def textStats(s: SparkSession, dir: String): DataFrame =
      TextFunctions.withTokens(Tables.documents(s, dir), "text", "toks").select(
        col("doc_id"),
        TextFunctions.tokenCountFromToks(col("toks")).as("n_tokens"),
        TextFunctions.tokenCountBpe(col("text")).as("n_tokens_bpe"),
        TextFunctions.langIdFromToks(col("toks")).as("lang_id"),
        TextFunctions.qualityScoreFromToks(col("text"), col("toks")).as("quality"),
        TextFunctions.fingerprintFromToks(col("toks")).as("fp"))

    /** Rolling-hash winnowing fingerprint per document — the
     * shift-invariant near-dup sketch (no shuffle; a dedup would
     * groupBy any shared minimal hash). */
    def fingerprintRolling(s: SparkSession, dir: String): DataFrame =
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.rollingFingerprint(col("text")).as("rolling_fp"))
  }

  private val dMin = D.toMinutes

  private def eventsSideSql(eventType: String): String =
    s"SELECT user_id AS key, CAST(event_id AS VARCHAR) AS value, ts " +
      s"FROM events WHERE event_type = '$eventType'"

  type Build = (SparkSession, String) => DataFrame

  /** One registered query: its name, its Spark build over an sf
   * directory, and the ANSI SQL DuckDB runs on the same parquet tables —
   * None for the algorithm-specific ops the driver only rows-checks. The
   * SQL is built on first read: only Verify reads it, and building all of
   * it took ~0.25 s of a fresh JVM that Bench and perfbench never use. */
  final class Query(val name: String, val build: Build, oracleSql: => Option[String]) {
    lazy val oracle: Option[String] = oracleSql
  }

  object Query {
    def apply(name: String, build: Build): Query = new Query(name, build, None)
    def apply(name: String, build: Build, oracle: => String): Query = new Query(name, build, Some(oracle))
  }

  /** The queries in registration order; a repeated name fails, where a
   * `Map` literal would silently keep its last binding. */
  private[graft] def registry(qs: Query*): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Same oracle for both length-quantile plans: the histogram one must be
   * value-indistinguishable from the buffering one. */
  private def lengthQuantilesSql: String =
    """SELECT lang, quantile_cont(n_chars, 0.25) AS q25,
      | quantile_cont(n_chars, 0.5) AS q50,
      | quantile_cont(n_chars, 0.9) AS q90,
      | count(*) AS n_docs
      |FROM documents GROUP BY lang""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2 + §7.2-M7. */
  val table: Seq[Query] = registry(
    // reference operator surface (LJOT)
    Query("ljot_events", (s, d) => Queries.ljotEvents(s, d),
      s"""SELECT l.key AS key, concat(l.value, '+', coalesce(r.value, '')) AS joined, l.ts AS ts
         |FROM (${eventsSideSql("purchase")}) l
         |LEFT JOIN (${eventsSideSql("error")}) r
         |ON l.key = r.key AND r.ts BETWEEN l.ts - INTERVAL $dMin MINUTE AND l.ts + INTERVAL $dMin MINUTE""".stripMargin),
    Query("interval_join_inner", (s, d) => Queries.intervalJoinInner(s, d),
      s"""SELECT l.key AS key, concat(l.value, '+', r.value) AS joined, l.ts AS ts
         |FROM (${eventsSideSql("purchase")}) l
         |JOIN (${eventsSideSql("error")}) r
         |ON l.key = r.key AND r.ts BETWEEN l.ts - INTERVAL $dMin MINUTE AND l.ts + INTERVAL $dMin MINUTE""".stripMargin),
    // symmetric completion of the interval family: right-side orphans too
    Query("interval_join_full", (s, d) => LeftJoinOnTimeout.fullOuterJoin(
      eventsSide(s, d, "purchase"), eventsSide(s, d, "error"), ljotCfg),
      s"""SELECT coalesce(l.key, r.key) AS key, l.value AS lvalue, r.value AS rvalue,
         |       l.ts AS lts, r.ts AS rts
         |FROM (${eventsSideSql("purchase")}) l
         |FULL JOIN (${eventsSideSql("error")}) r
         |ON l.key = r.key AND r.ts BETWEEN l.ts - INTERVAL $dMin MINUTE AND l.ts + INTERVAL $dMin MINUTE""".stripMargin),
    Query("timeout_only", (s, d) => Queries.timeoutOnly(s, d),
      s"""SELECT l.key AS key, concat(l.value, '+') AS joined, l.ts AS ts
         |FROM (${eventsSideSql("purchase")}) l
         |WHERE NOT EXISTS (SELECT 1 FROM (${eventsSideSql("error")}) r
         |  WHERE r.key = l.key AND r.ts BETWEEN l.ts - INTERVAL $dMin MINUTE AND l.ts + INTERVAL $dMin MINUTE)""".stripMargin),
    Query("asof_purchase_error", (s, d) => AsOfJoin.backward(
      eventsSide(s, d, "purchase"), eventsSide(s, d, "error"), AsOfHorizon),
      AsOfJoin.backwardSql(eventsSideSql("purchase"), eventsSideSql("error"), AsOfHorizon)),
    // forward mirror: each error's NEXT purchase within the horizon
    // (time-to-recovery alignment)
    Query("asof_error_recovery", (s, d) => AsOfJoin.forward(
      eventsSide(s, d, "error"), eventsSide(s, d, "purchase"), AsOfHorizon),
      AsOfJoin.forwardSql(eventsSideSql("error"), eventsSideSql("purchase"), AsOfHorizon)),
    // approximate aggregate — algorithm-specific, no SQL oracle (driver
    // records the weaker rows-only check)
    Query("approx_distinct_users", (s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("n_users_approx"))),
    // deterministic KMV bottom-k sketch — the oracle-checkable
    // approximate-distinct (Relational.kmvDistinctUsers)
    Query("kmv_distinct_users", (s, d) => Relational.kmvDistinctUsers(s, d), Relational.kmvDistinctUsersSql),
    // the same sketch as a native TypedImperativeAggregate: one
    // partial-agg pass, O(k) state, no distinct shuffle or window sort —
    // and still FULLY hash-checked (KMV bottom-k is merge-order-free)
    Query("kmv_distinct_agg", (s, d) => Relational.kmvDistinctAggUsers(s, d),
      Relational.kmvDistinctAggUsersSql),
    // the grouped sketch form: distinct users per (event_type, day) —
    // k = 48 so sf0.01 groups (42-67 distinct) exercise BOTH branches
    Query("kmv_users_by_day", (s, d) => Relational.kmvUsersByDay(s, d), Relational.kmvUsersByDaySql),
    // estimator-error audit: exact distinct vs the KMV estimate per
    // event_type (the ann_recall-style design-point check of the sketch)
    Query("kmv_error_audit", (s, d) => Relational.kmvErrorAudit(s, d), Relational.kmvErrorAuditSql),
    // design-point guarantee audits for the three rows-only sketches:
    // SQL-derivable exact values + bounds, sketch-dependent booleans that
    // the sketch's deterministic guarantee forces true — the hash-green
    // accuracy gate for HLL / GK / MG (round-12 verdict item #3)
    Query("hll_error_audit", (s, d) => Relational.hllErrorAudit(s, d), Relational.hllErrorAuditSql),
    Query("gk_error_audit", (s, d) => Corpus.gkErrorAudit(Tables.documents(s, d)),
      Corpus.gkErrorAuditSql("documents")),
    Query("mg_error_audit", (s, d) => Corpus.mgErrorAudit(Tables.documents(s, d)),
      Corpus.mgErrorAuditSql("documents")),
    // Count-Min point-frequency sketch: LINEAR, so the oracle rebuilds
    // the exact grid relationally and hash-checks the sketch's INTERIOR
    // estimates — value-level coverage the HLL/GK/MG audits can't have
    Query("cm_error_audit", (s, d) => Corpus.cmErrorAudit(Tables.documents(s, d)),
      Corpus.cmErrorAuditSql("documents")),
    // trailing-7-day rolling distinct users: per-day KMV sketches merged
    // RELATIONALLY per window (bottom-k of a union = bottom-k of the
    // per-day bottom-k's) — exact rolling distinct is unaffordable at
    // raw scale; this is one corpus pass + an O(days*k)-row merge
    Query("kmv_rolling_users", (s, d) => Relational.kmvRollingUsers(s, d), Relational.kmvRollingUsersSql),
    // set-operation estimation from per-side sketches: |A∪B| and |A∩B|
    // of purchase-vs-error user sets from two O(k) arrays (the
    // join-cardinality pricing primitive), with exact audit columns
    Query("kmv_overlap_audit", (s, d) => Relational.kmvOverlapAudit(s, d), Relational.kmvOverlapAuditSql),
    // corpus distribution profiling: EXACT per-language length quantiles
    // (Spark `percentile` and DuckDB `quantile_cont` share the R-7
    // linear-interpolation definition — verified value-identical)
    Query("length_quantiles", (s, d) =>
      Tables.documents(s, d).groupBy(col("lang"))
        .agg(percentile(col("n_chars"), lit(0.25)).as("q25"),
          percentile(col("n_chars"), lit(0.5)).as("q50"),
          percentile(col("n_chars"), lit(0.9)).as("q90"),
          count(lit(1)).as("n_docs")),
      lengthQuantilesSql),
    // the EXACT scale path for bounded-cardinality columns: one
    // histogram pass (state O(distinct values), not O(rows)), quantiles
    // read off the cumulative counts — bit-identical to length_quantiles
    Query("length_quantiles_hist", (s, d) =>
      Corpus.lengthQuantilesHist(Tables.documents(s, d)),
      lengthQuantilesSql),
    // the raw-scale form of length_quantiles: `approx_percentile` is a
    // mergeable GK sketch with bounded per-group state (vs `percentile`
    // buffering every group value — a memory hazard when a group holds
    // billions of rows at 100 TB). Sketch results are engine-specific, so
    // no SQL oracle (rows-only check); exactness is pinned by the sbt
    // spec asserting accuracy-bound agreement with the exact query.
    Query("length_quantiles_approx", (s, d) =>
      Tables.documents(s, d).groupBy(col("lang"))
        .agg(approx_percentile(col("n_chars"), lit(0.25), lit(10000)).as("q25"),
          approx_percentile(col("n_chars"), lit(0.5), lit(10000)).as("q50"),
          approx_percentile(col("n_chars"), lit(0.9), lit(10000)).as("q90"),
          count(lit(1)).as("n_docs"))),
    // text analysis + dedup (training-data pipeline ops)
    Query("text_stats", (s, d) => Queries.textStats(s, d),
      s"""SELECT doc_id, ${TextSql.tokenCount("text")} AS n_tokens,
         | ${TextSql.tokenCountBpe("text")} AS n_tokens_bpe,
         | ${TextSql.langId("text")} AS lang_id,
         | ${TextSql.qualityScore("text")} AS quality,
         | ${TextSql.fingerprint("text")} AS fp
         |FROM documents""".stripMargin),
    Query("fingerprint_rolling", (s, d) => Queries.fingerprintRolling(s, d),
      TextSql.rollingFingerprintSql("documents")),
    Query("dedup_exact", (s, d) => TextDedup.exact(Tables.documents(s, d)), TextDedup.exactSql("documents")),
    Query("dedup_minhash_lsh", (s, d) => TextDedup.minhashLsh(Tables.documents(s, d)),
      TextDedup.minhashLshSql("documents")),
    Query("minhash_sig_audit", (s, d) => TextDedup.minhashSigAudit(Tables.documents(s, d)),
      TextDedup.minhashSigAuditSql("documents")),
    // threshold-tuning curve: exact-Jaccard histogram of surviving pairs
    Query("neardup_sim_hist", (s, d) => TextDedup.neardupSimHist(Tables.documents(s, d)),
      TextDedup.neardupSimHistSql("documents")),
    Query("dedup_simhash", (s, d) => TextDedup.simhashDedupAuto(Tables.documents(s, d)),
      TextDedup.simhashDedupSql("documents")),
    Query("dedup_ngram_jaccard", (s, d) => TextDedup.ngramJaccard(Tables.documents(s, d)),
      TextDedup.ngramJaccardSql("documents")),
    // asymmetric overlap: catches a short doc lifted into a long one,
    // which union-normalized Jaccard scores near zero
    Query("ngram_containment", (s, d) => TextDedup.ngramContainment(Tables.documents(s, d)),
      TextDedup.ngramContainmentSql("documents")),
    // incremental (cross-corpus) dedup: new crawl vs existing corpus
    Query("dedup_incremental", (s, d) => TextDedup.incremental(Tables.documents(s, d)),
      TextDedup.incrementalSql("documents")),
    // sub-document (line-level) boilerplate removal
    Query("line_dedup", (s, d) => TextDedup.lineDedup(Tables.documents(s, d)),
      TextDedup.lineDedupSql("documents")),
    // shift-invariant substring dedup (winnowing / MOSS sketch)
    Query("dedup_winnow", (s, d) => TextDedup.winnowDedup(Tables.documents(s, d)),
      TextDedup.winnowDedupSql("documents")),
    // EXACT duplicated-substring spans at arbitrary alignment (stride-1
    // windows — the Lee et al. 2022 ExactSubstr half next to line_dedup)
    Query("dedup_substr", (s, d) => TextDedup.substrDedup(Tables.documents(s, d)),
      TextDedup.substrDedupSql("documents")),
    Query("ngram_novelty", (s, d) => TextDedup.ngramNovelty(Tables.documents(s, d)),
      TextDedup.ngramNoveltySql("documents")),
    // cluster assignment over the minhash pair graph (connected
    // components); the four cluster-family queries share the
    // session-memoized labeling (DedupClusters.minhashLabels) — same
    // audited plan on a cold session, no recompute per consumer
    Query("dedup_clusters", (s, d) => DedupClusters.minhashLabels(Tables.documents(s, d)),
      DedupClusters.assignSql("documents", TextDedup.minhashLshSql("documents"))),
    Query("cluster_keepers", (s, d) => DedupClusters.keepersFromLabeled(
      DedupClusters.minhashLabels(Tables.documents(s, d)), Tables.documents(s, d)),
      DedupClusters.keepersSql("documents", TextDedup.minhashLshSql("documents"))),
    // leakage-safe split: train/val/test hashed on the dup CLUSTER id
    Query("cluster_safe_split", (s, d) => Corpus.clusterSafeSplit(
      DedupClusters.minhashLabels(Tables.documents(s, d))),
Corpus.clusterSafeSplitSql(
      DedupClusters.assignSql("documents", TextDedup.minhashLshSql("documents")))),
    // per-source token-mass savings forecast of cluster-collapse dedup
    Query("dedup_savings", (s, d) => DedupClusters.dedupSavingsFromLabeled(
      DedupClusters.minhashLabels(Tables.documents(s, d)), Tables.documents(s, d)),
      DedupClusters.dedupSavingsSql("documents", TextDedup.minhashLshSql("documents"))),
    // corpus management: quality pre-filter + deterministic splits
    Query("quality_filter", (s, d) => Corpus.qualityFilter(Tables.documents(s, d)),
      Corpus.qualityFilterSql("documents")),
    // the end-to-end capstone: quality pass -> exact-dedup keeper ->
    // temperature-mixed source sampling -> (shard, pos) training order
    Query("epoch_plan", (s, d) => Corpus.epochPlan(Tables.documents(s, d)), Corpus.epochPlanSql("documents")),
    Query("sample_split", (s, d) => Corpus.sampleSplit(Tables.documents(s, d)),
      Corpus.sampleSplitSql("documents")),
    // deterministic global training-order shuffle -> (shard, pos) addresses
    Query("global_shuffle", (s, d) => Corpus.globalShuffle(Tables.documents(s, d)),
      Corpus.globalShuffleSql("documents")),
    Query("stratified_sample", (s, d) => Corpus.stratifiedSample(Tables.documents(s, d)),
      Corpus.stratifiedSampleSql("documents")),
    Query("decontaminate", (s, d) => Corpus.decontaminate(Tables.documents(s, d)),
      Corpus.decontaminateSql("documents")),
    // Bloom pre-screen + exact gram-join verify on the flagged sliver —
    // deterministic (no false negatives => equals `decontaminate`), checked
    // against the exact decontamination oracle (superset screen -> exact
    // prune = same rows)
    Query("bloom_decontaminate", (s, d) => Corpus.bloomDecontaminateVerified(Tables.documents(s, d)),
      Corpus.decontaminateSql("documents")),
    // the raw scan-side membership screen — approximate (no-false-negative
    // superset of `decontaminate`), rows-only like the HLL twin
    Query("bloom_screen_raw", (s, d) => Corpus.bloomDecontaminate(Tables.documents(s, d))),
    // sequence packing: docs -> (bucket, bin, offset) under a token budget
    Query("pack_sequences", (s, d) => Corpus.packSequences(Tables.documents(s, d)),
      Corpus.packSequencesSql("documents")),
    Query("pii_scan", (s, d) => Corpus.piiScan(Tables.documents(s, d)), Corpus.piiScanSql("documents")),
    Query("pii_redact", (s, d) => Corpus.piiRedact(Tables.documents(s, d)), Corpus.piiRedactSql("documents")),
    Query("repetition_stats", (s, d) => Corpus.repetitionStats(Tables.documents(s, d)),
      Corpus.repetitionStatsSql("documents")),
    // corpus profiling: training-mixture table + vocabulary heavy hitters
    Query("source_mix", (s, d) => Corpus.sourceMix(Tables.documents(s, d)), Corpus.sourceMixSql("documents")),
    // per-language tokenizer fertility (chars/token, tokens/word)
    Query("token_fertility", (s, d) => Corpus.tokenFertility(Tables.documents(s, d)),
      Corpus.tokenFertilitySql("documents")),
    // per-doc duplicated-content fraction over the shared sampled grams
    Query("doc_dup_fraction", (s, d) => TextDedup.dupFraction(Tables.documents(s, d)),
      TextDedup.dupFractionSql("documents")),
    Query("dup_rate_by_source", (s, d) => Corpus.dupRateBySource(Tables.documents(s, d)),
      Corpus.dupRateBySourceSql("documents")),
    // mirror-vs-repost: near-dup pairs classified by their source pair
    Query("neardup_source_mix", (s, d) => TextDedup.neardupSourceMix(Tables.documents(s, d)),
      TextDedup.neardupSourceMixSql("documents")),
    Query("lang_confusion", (s, d) => Corpus.langConfusion(Tables.documents(s, d)),
      Corpus.langConfusionSql("documents")),
    Query("vocab_topk", (s, d) => Corpus.vocabTopK(Tables.documents(s, d)), Corpus.vocabTopKSql("documents")),
    // first-iteration BPE merge statistics: adjacent char pairs weighted
    // by token frequency, counted over the O(vocab) word-frequency
    // relation (the Sennrich trick) — never the raw character stream
    Query("bpe_merge_topk", (s, d) => Corpus.bpeMergeCandidates(Tables.documents(s, d)),
      Corpus.bpeMergeCandidatesSql("documents")),
    // the iterated merge LOOP: top pair applied relationally to the
    // O(vocab) symbol relation, recounted, k times — no corpus re-scan
    Query("bpe_merges_iter", (s, d) => Corpus.bpeMerges(Tables.documents(s, d)),
      Corpus.bpeMergesSql("documents")),
    // per-language Zipf exponent over the bounded frequency head —
    // integer floor-log2 regression sums, one final IEEE divide
    Query("zipf_slope", (s, d) => Corpus.zipfSlope(Tables.documents(s, d)), Corpus.zipfSlopeSql("documents")),
    // sequence-length curriculum: exact quartile stages in (n_tokens,
    // doc_id) order with NO global sort (two-level bucket positions)
    Query("curriculum_stages", (s, d) => Corpus.curriculumStages(Tables.documents(s, d)),
      Corpus.curriculumStagesSql("documents")),
    // per-doc char-distribution entropy (gibberish/base64 detector) —
    // bounded-alphabet length-replace counts, zero explode, zero shuffle
    Query("char_entropy", (s, d) => Corpus.charEntropy(Tables.documents(s, d)),
      Corpus.charEntropySql("documents")),
    // per-shard source balance of the deterministic training shuffle —
    // the data-loader order-bias audit; O(shards) output
    Query("shard_mix_audit", (s, d) => Corpus.shardMixAudit(Tables.documents(s, d)),
      Corpus.shardMixAuditSql("documents")),
    // per-language token-length histogram (subword fragmentation curve)
    Query("token_len_hist", (s, d) => Corpus.tokenLenHist(Tables.documents(s, d)),
      Corpus.tokenLenHistSql("documents")),
    // dup-cluster size distribution over the memoized CC labeling;
    // includes singletons so the histogram conserves the corpus size
    Query("cluster_size_hist", (s, d) => DedupClusters.clusterSizeHist(Tables.documents(s, d)),
      DedupClusters.clusterSizeHistSql("documents", TextDedup.minhashLshSql("documents"))),
    // tokenizer coverage: per-language OOV rate vs the broadcast top-V vocab
    Query("oov_rate", (s, d) => Corpus.oovRate(Tables.documents(s, d)), Corpus.oovRateSql("documents")),
    // per-language token-budget rebalance + per-doc TF-IDF distinctive terms
    Query("budget_sample", (s, d) => Corpus.budgetSample(Tables.documents(s, d)),
      Corpus.budgetSampleSql("documents")),
    Query("tfidf_topk", (s, d) => Corpus.tfidfTopK(Tables.documents(s, d)), Corpus.tfidfTopKSql("documents")),
    // collocation mining: corpus-wide bigram heavy hitters
    Query("bigram_topk", (s, d) => Corpus.bigramTopK(Tables.documents(s, d)),
      Corpus.bigramTopKSql("documents")),
    // observed/expected collocation score (un-logged PMI — integer-exact)
    Query("colloc_lift", (s, d) => Corpus.collocLift(Tables.documents(s, d)),
      Corpus.collocLiftSql("documents")),
    // per-group top-k via WindowGroupLimit rank pushdown
    Query("top_docs_per_source", (s, d) => Corpus.topDocsPerSource(Tables.documents(s, d)),
      Corpus.topDocsPerSourceSql("documents")),
    // per-language length-distribution outliers (exact-moment z-score)
    Query("length_outliers", (s, d) => Corpus.lengthOutliers(Tables.documents(s, d)),
      Corpus.lengthOutliersSql("documents")),
    // τ=0.5 temperature source-mixing weights (sqrt smoothing)
    Query("mix_weights", (s, d) => Corpus.mixWeights(Tables.documents(s, d)),
      Corpus.mixWeightsSql("documents")),
    // context-window chunking with overlap (retrieval / long-doc splitting)
    Query("doc_chunks", (s, d) => Corpus.docChunks(Tables.documents(s, d)), Corpus.docChunksSql("documents")),
    // domain-level quality profile + keep verdict (drop bad domains wholesale)
    Query("source_quality", (s, d) => Corpus.sourceQuality(Tables.documents(s, d)),
      Corpus.sourceQualitySql("documents")),
    // robust (median/MAD) per-language length score + outlier flag
    Query("robust_length_score", (s, d) => Corpus.robustLengthScore(Tables.documents(s, d)),
      Corpus.robustLengthScoreSql("documents")),
    // quantized unigram-LM surprisal quality profile (CCNet-style filter)
    Query("doc_surprisal", (s, d) => Corpus.docSurprisal(Tables.documents(s, d)),
      Corpus.docSurprisalSql("documents")),
    // exact shingle-Jaccard top-k document retrieval (bounded query set)
    Query("text_simsearch", (s, d) => TextDedup.simSearch(Tables.documents(s, d)),
      TextDedup.simSearchSql("documents")),
    // vector similarity
    Query("emb_neardup", (s, d) => VectorOps.embeddingNearDup(Tables.embeddings(s, d)),
      VectorOps.embeddingNearDupSql("embeddings")),
    // incremental (new-batch x standing-corpus) semantic dedup: cross-
    // side-only band candidates, old buckets capped — the vector twin
    // of dedup_incremental
    Query("semantic_incremental", (s, d) => VectorOps.semanticIncremental(Tables.embeddings(s, d)),
      VectorOps.semanticIncrementalSql("embeddings")),
    // semantic dedup: cluster-then-prune per-vector keep verdict (SemDeDup)
    Query("semantic_dedup", (s, d) => VectorOps.semanticDedup(Tables.embeddings(s, d)),
      VectorOps.semanticDedupSql("embeddings")),
    Query("ann_brute_topk", (s, d) => VectorOps.annBruteTopK(Tables.embeddings(s, d)),
      VectorOps.annBruteTopKSql("embeddings")),
    // kNN majority-vote auto-labeling over the bounded query set
    Query("knn_label", (s, d) => VectorOps.knnLabel(Tables.embeddings(s, d)),
      VectorOps.knnLabelSql("embeddings")),
    Query("hard_negatives", (s, d) => VectorOps.hardNegatives(Tables.embeddings(s, d)),
      VectorOps.hardNegativesSql("embeddings")),
    Query("ann_lsh_topk", (s, d) => VectorOps.annLshTopK(Tables.embeddings(s, d)),
      VectorOps.annLshTopKSql("embeddings")),
    Query("ann_ivf_topk", (s, d) => VectorOps.annIvfTopK(Tables.embeddings(s, d)),
      VectorOps.annIvfTopKSql("embeddings")),
    // ANN QA: measured recall of the LSH path vs the brute ground truth
    Query("ann_recall", (s, d) => VectorOps.annRecall(Tables.embeddings(s, d)),
      VectorOps.annRecallSql("embeddings")),
    // storage-precision audit: int8-grade vs full-precision top-k overlap
    Query("quant_recall_audit", (s, d) => VectorOps.quantRecallAudit(Tables.embeddings(s, d)),
      VectorOps.quantRecallAuditSql("embeddings")),
    // k-means E-step over the seed centroids (curriculum / mixture partitioning)
    Query("kmeans_assign", (s, d) => VectorOps.kmeansAssign(Tables.embeddings(s, d)),
      VectorOps.kmeansAssignSql("embeddings")),
    // k-means M-step: refined per-cell centroids over the E-step labeling
    Query("kmeans_refine", (s, d) => VectorOps.kmeansRefine(Tables.embeddings(s, d)),
      VectorOps.kmeansRefineSql("embeddings")),
    // IVF inverted-list balance (probe-latency skew check)
    Query("ivf_balance", (s, d) => VectorOps.ivfBalance(Tables.embeddings(s, d)),
      VectorOps.ivfBalanceSql("embeddings")),
    // embedding QA: per-label norm profile + degenerate-vector counts
    Query("emb_norm_profile", (s, d) => VectorOps.embNormProfile(Tables.embeddings(s, d)),
      VectorOps.embNormProfileSql("embeddings")),
    Query("label_centroids", (s, d) => VectorOps.labelCentroids(Tables.embeddings(s, d)),
      VectorOps.labelCentroidsSql("embeddings")),
    Query("emb_covariance", (s, d) => VectorOps.embCovariance(Tables.embeddings(s, d)),
      VectorOps.embCovarianceSql("embeddings")),
    Query("emb_pca_power", (s, d) => VectorOps.embPcaPower(Tables.embeddings(s, d)),
      VectorOps.embPcaPowerSql("embeddings")),
    Query("emb_pca_topk", (s, d) => VectorOps.embPcaTopk(Tables.embeddings(s, d)),
      VectorOps.embPcaTopkSql("embeddings")),
    Query("pca_residual_outliers", (s, d) => VectorOps.pcaResidualOutliers(Tables.embeddings(s, d)),
      VectorOps.pcaResidualOutliersSql("embeddings")),
    Query("lsh_band_curve", (s, d) => VectorOps.lshBandCurve(Tables.embeddings(s, d)),
      VectorOps.lshBandCurveSql("embeddings")),
    Query("label_spectral_drift", (s, d) => VectorOps.labelSpectralDrift(Tables.embeddings(s, d)),
      VectorOps.labelSpectralDriftSql("embeddings")),
    // embedding-space benchmark decontamination (semantic twin of the gram screen)
    Query("semantic_decontaminate", (s, d) => VectorOps.semanticDecontaminate(Tables.embeddings(s, d)),
      VectorOps.semanticDecontaminateSql("embeddings")),
    // RAG capstone: chunk -> deterministic embed -> IVF build -> bounded
    // cross-document top-k, one lazy plan (the epoch_plan of retrieval)
    Query("retrieval_plan", (s, d) => VectorOps.retrievalPlan(Tables.documents(s, d)),
      VectorOps.retrievalPlanSql("documents")),
    // multimodal plumbing
    Query("mm_features", (s, d) => Multimodal.features(Tables.documents(s, d)),
      Multimodal.featuresSql("documents")),
    // checksum-first exact dedup of binary media payloads
    Query("mm_payload_dedup", (s, d) => Multimodal.payloadDedup(Tables.documents(s, d)),
      Multimodal.payloadDedupSql("documents")),
    // perceptual (histogram-SimHash) near-dup over the binary payload —
    // the near-dup completion of the checksum pass
    Query("mm_phash_neardup", (s, d) => Multimodal.phashNearDup(Tables.documents(s, d)),
      Multimodal.phashNearDupSql("documents")),
    // relational built-in coverage (SURVEY.md §2.2)
    Query("q1_pricing", (s, d) => Relational.pricingSummary(s, d), Relational.pricingSummarySql),
    Query("shipping_priority", (s, d) => Relational.shippingPriority(s, d), Relational.shippingPrioritySql),
    Query("topk_orders", (s, d) => Relational.topOrdersPerSegment(s, d), Relational.topOrdersPerSegmentSql),
    Query("revenue_nation", (s, d) => Relational.revenueByNation(s, d), Relational.revenueByNationSql),
    Query("semi_big_spenders", (s, d) => Relational.bigSpenders(s, d), Relational.bigSpendersSql),
    Query("anti_no_orders", (s, d) => Relational.customersWithoutOrders(s, d),
      Relational.customersWithoutOrdersSql),
    Query("setop_intersect", (s, d) => Relational.activeHighBalance(s, d), Relational.activeHighBalanceSql),
    Query("setop_except", (s, d) => Relational.inactiveHighBalance(s, d), Relational.inactiveHighBalanceSql),
    Query("scalar_part", (s, d) => Relational.partScalars(s, d), Relational.partScalarsSql),
    Query("orders_by_month", (s, d) => Relational.ordersByMonth(s, d), Relational.ordersByMonthSql),
    Query("json_event_props", (s, d) => Relational.eventProps(s, d), Relational.eventPropsSql),
    Query("window_running_rev", (s, d) => Relational.runningRevenue(s, d), Relational.runningRevenueSql),
    // RANGE-frame window: per-user trailing-hour spend
    Query("window_trailing_hour", (s, d) => Relational.trailingHourValue(s, d),
      Relational.trailingHourValueSql),
    // gap-based sessionization (batch twin of the streaming session_window)
    Query("sessionize_events", (s, d) => Relational.sessionizeEvents(s, d), Relational.sessionizeEventsSql),
    // session-local Markov transition matrix over event types
    Query("session_transitions", (s, d) => Relational.sessionTransitions(s, d),
      Relational.sessionTransitionsSql),
    // duplicate-click / redelivery suppression (burst collapse)
    Query("debounce_events", (s, d) => Relational.debounceEvents(s, d), Relational.debounceEventsSql),
    // feature-store densification: per-user daily grid with LOCF fill
    Query("gap_fill_locf", (s, d) => Relational.gapFillLocf(s, d), Relational.gapFillLocfSql),
    // per-hour peak concurrent sessions (interval sweep, two-level prefix)
    Query("peak_concurrency", (s, d) => Relational.peakConcurrency(s, d), Relational.peakConcurrencySql),
    // hourly ingestion-rate anomalies per event type (pipeline health)
    Query("event_rate_outliers", (s, d) => Relational.eventRateOutliers(s, d),
      Relational.eventRateOutliersSql),
    Query("event_value_hist", (s, d) => Relational.eventValueHistogram(s, d),
      Relational.eventValueHistogramSql),
    Query("user_retention", (s, d) => Relational.userRetention(s, d), Relational.userRetentionSql),
    // robust (median, MAD) dispersion per event type
    Query("event_value_mad", (s, d) => Relational.eventValueMad(s, d), Relational.eventValueMadSql),
    // step-function integral: time-weighted average value per user
    Query("time_weighted_value", (s, d) => Relational.timeWeightedValue(s, d),
      Relational.timeWeightedValueSql),
    // financial reconciliation: stored vs recomputed order totals
    Query("order_price_audit", (s, d) => Relational.orderPriceAudit(s, d), Relational.orderPriceAuditSql),
    // DAU/WAU engagement rollup with stickiness ratio
    Query("active_users_rollup", (s, d) => Relational.activeUsersRollup(s, d),
      Relational.activeUsersRollupSql),
    // (dow, hour) load heatmap with uniform-expectation load factor
    Query("hourly_seasonality", (s, d) => Relational.hourlySeasonality(s, d),
      Relational.hourlySeasonalitySql),
    // gaps-and-islands run collapsing into SCD2 validity intervals
    Query("value_islands", (s, d) => Relational.valueIslands(s, d), Relational.valueIslandsSql),
    // leakage-free point-in-time state lookup over the SCD2 islands
    Query("pit_state_lookup", (s, d) => Relational.pitStateLookup(s, d), Relational.pitStateLookupSql),
    // rational-arithmetic behavioral diversity (Gini, not entropy)
    Query("user_type_gini", (s, d) => Relational.userTypeGini(s, d), Relational.userTypeGiniSql),
    // top-1-per-group via partial-agg struct-max (no window sort)
    Query("latest_order_profile", (s, d) => Relational.latestOrderProfile(s, d),
      Relational.latestOrderProfileSql),
    // fixed-n content-hash sample per stratum (WindowGroupLimit)
    Query("sample_per_source", (s, d) => Corpus.samplePerSource(Tables.documents(s, d)),
      Corpus.samplePerSourceSql("documents")),
    // fabricated-numbers screen over exact cents
    Query("benford_profile", (s, d) => Relational.benfordProfile(s, d), Relational.benfordProfileSql),
    // referential-integrity audit over every FK edge of the star schema
    Query("fk_orphans", (s, d) => Relational.fkOrphans(s, d), Relational.fkOrphansSql),
    // lag-1 Pearson persistence of each type's hourly arrival series
    Query("hourly_autocorr", (s, d) => Relational.hourlyAutocorr(s, d), Relational.hourlyAutocorrSql),
    // per-column null/blank/distinct schema-health profile
    Query("null_profile", (s, d) => Corpus.nullProfile(Tables.documents(s, d)),
      Corpus.nullProfileSql("documents")),
    // raw-scale twin of null_profile's distinct column: per-column KMV
    // cardinality estimates, one scan, O(k)-per-column exchange
    Query("sketch_profile", (s, d) => Corpus.sketchProfile(Tables.documents(s, d)),
      Corpus.sketchProfileSql("documents")),
    // snapshot-diff audit: added/removed/changed/unchanged per source
    // between two (deterministically derived) corpus versions
    Query("corpus_diff", (s, d) => Corpus.corpusDiff(Tables.documents(s, d)),
      Corpus.corpusDiffSql("documents")),
    Query("dsir_weights", (s, d) => Corpus.dsirWeights(Tables.documents(s, d)),
      Corpus.dsirWeightsSql("documents")),
    Query("bigram_surprisal", (s, d) => Corpus.bigramSurprisal(Tables.documents(s, d)),
      Corpus.bigramSurprisalSql("documents")),
    Query("filter_funnel", (s, d) => Corpus.filterFunnel(Tables.documents(s, d)),
      Corpus.filterFunnelSql("documents")),
    Query("pack_audit", (s, d) => Corpus.packAudit(Tables.documents(s, d)), Corpus.packAuditSql("documents")),
    Query("vocab_coverage", (s, d) => Corpus.vocabCoverage(Tables.documents(s, d)),
      Corpus.vocabCoverageSql("documents")),
    // certified vocabulary heavy hitters: MG sketch nominates ≤k candidates,
    // one broadcast re-count join restores exact counts — deterministic,
    // hash-checked (the KMV find-then-verify move applied to Misra-Gries)
    Query("mg_heavy_hitters", (s, d) => Corpus.mgHeavyHitters(Tables.documents(s, d)),
      Corpus.mgHeavyHittersSql("documents")),
    // grouped MG: per-language certified hitters (stopword/domain-term
    // discovery), same sketch-then-exact-recount shape per language
    Query("mg_hitters_by_lang", (s, d) => Corpus.mgHittersByLang(Tables.documents(s, d)),
      Corpus.mgHittersByLangSql("documents")),
    // the raw one-pass sketch forms (est within ±n/(k+1), merge-order-
    // dependent → rows-only check; the sbt spec pins the bounds)
    Query("mg_hitters_raw", (s, d) => Corpus.mgHittersSketch(Tables.documents(s, d))),
    Query("mg_hitters_by_lang_raw", (s, d) => Corpus.mgHittersByLangSketch(Tables.documents(s, d))),
    // repeated document openings per source (scraped-site boilerplate)
    Query("boilerplate_prefixes", (s, d) => Corpus.boilerplatePrefixes(Tables.documents(s, d)),
      Corpus.boilerplatePrefixesSql("documents")),
    // top-spender segmentation: exact totals + NTILE decile
    Query("user_ltv_deciles", (s, d) => Relational.userLtvDeciles(s, d), Relational.userLtvDecilesSql),
    // staged conversion funnel (view -> click -> purchase, strictly ordered)
    Query("funnel_stages", (s, d) => Relational.funnelStages(s, d), Relational.funnelStagesSql),
    // per-type inter-arrival gap profile (lag window + rollup)
    Query("interevent_gaps", (s, d) => Relational.intereventGaps(s, d), Relational.intereventGapsSql),
    // wide cross-tab: languages x pinned source list, single agg pass
    Query("doc_source_pivot", (s, d) => Relational.docSourcePivot(s, d), Relational.docSourcePivotSql),
    // CUBE subtotals over (status, priority)
    Query("orders_cube", (s, d) => Relational.ordersCube(s, d), Relational.ordersCubeSql),
    Query("rollup_customers", (s, d) => Relational.customerRollup(s, d), Relational.customerRollupSql),
    Query("distinct_customers", (s, d) => Relational.distinctCustomers(s, d),
      Relational.distinctCustomersSql),
    // key-skew profile: heavy hitters on the flagship join key
    Query("skew_profile", (s, d) => Relational.eventKeySkew(s, d), Relational.eventKeySkewSql),
    Query("skew_join_salted", (s, d) => Relational.saltedSegmentJoin(s, d), Relational.saltedSegmentJoinSql),
    Query("format_roundtrip", (s, d) => graft.sources.TextFormats.formatRoundtrip(s, d),
      graft.sources.TextFormats.formatRoundtripSql),
    // deepest join tree in the suite: 2 facts + 5 broadcast dimension arms
    Query("market_share", (s, d) => Relational.marketShare(s, d), Relational.marketShareSql),
    // before/after window contrast: step changes in hourly arrival rates
    Query("level_shift", (s, d) => Relational.levelShiftDetect(s, d), Relational.levelShiftDetectSql),
    // order-independent per-source corpus audit fingerprint
    Query("corpus_checksum", (s, d) => Corpus.corpusChecksum(Tables.documents(s, d)),
      Corpus.corpusChecksumSql("documents")),
    // edit-distance near-dup pairs over normalized document openings
    Query("fuzzy_prefix_dedup", (s, d) => TextDedup.fuzzyPrefixDedup(Tables.documents(s, d)),
      TextDedup.fuzzyPrefixDedupSql("documents")),
  )

  /** Name -> build view of [[table]]. */
  val queries: Map[String, Build] = table.map(q => q.name -> q.build).toMap

  /** The queries named in `names`, a comma-separated list (names trimmed,
   * blanks skipped), or every query when None; in name order. A name not
   * in the table, or a list naming none, fails: a short run would still
   * write an artifact a reader could take for a full one. */
  def select(names: Option[String]): Seq[Query] = names match {
    case None => table.sortBy(_.name)
    case Some(list) =>
      val wanted = list.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSet
      require(wanted.nonEmpty, s"query list '$list' names no query")
      val unknown = wanted.diff(queries.keySet)
      require(unknown.isEmpty, s"not registered queries: ${unknown.toSeq.sorted.mkString(", ")}")
      table.filter(q => wanted(q.name)).sortBy(_.name)
  }
}
