package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.{TextFunctions, TextSql}

/** One banded posting of a streaming document (see
 * [[TextDedup.streamingMinhashCandidates]]). */
private[operators] case class BandRec(
    bv: String, doc_id: Long, sig: Seq[String], ts: java.sql.Timestamp)

/** Per-band-bucket streaming state: recent docs (newest first, capped at
 * [[TextDedup.MaxBucket]]) + the bucket's max event time for eviction. */
private[operators] case class BucketState(
    entries: List[(Long, Seq[String], Long)], maxEventTs: Long)

/** Streaming candidate pair with the signature-agreement Jaccard estimate. */
private[operators] case class CandPair(
    id_a: Long, id_b: Long, est_jaccard: Double, ts: java.sql.Timestamp)

/**
 * Document deduplication for a training-data pipeline, at four levels of
 * fuzziness (SURVEY.md §7.2-M7): exact (hash groupBy), MinHash+LSH,
 * SimHash, and blocked character-n-gram Jaccard.
 *
 * Scale design (the 100 TB story):
 *  - nothing ever collects to the driver; every stage is a shuffle on a
 *    content-derived key (fingerprint, LSH band, SimHash chunk, length
 *    block) — exactly the keys a 1000-executor cluster would partition on;
 *  - candidate generation is always *blocked* (LSH bands / bit chunks /
 *    length buckets), so the quadratic verify step only runs inside
 *    buckets — all-pairs never materializes;
 *  - the per-doc signature computation is a narrow codegen'd projection
 *    (higher-order array functions, no UDFs) that runs before any shuffle,
 *    so each doc is hashed exactly once, map-side.
 *
 * Determinism (the oracle story): signatures are built from md5 hex
 * strings and integer arithmetic only; Jaccard/Hamming emit one IEEE
 * double division per pair — every value is bit-identical in DuckDB, so
 * each variant ships an exactly mirrored oracle in its `*Sql` method.
 */
object TextDedup {
  import TextFunctions.{normText, tokens, fingerprint}

  // ---- shared shingling ----------------------------------------------------

  /** Word-trigram shingles (distinct) from a MATERIALIZED token-array
   * column. The argument must be an attribute, not an expression: Spark
   * cannot eliminate common subexpressions inside lambda bodies, so
   * `element_at(<full tokenize expr>, i)` would re-tokenize the document
   * once per shingle per position — materializing the tokens first makes
   * each `element_at` a cheap row read.
   *
   * Word n-grams, not unigrams: the synthetic corpus shares a tiny
   * vocabulary, so unigram Jaccard is ~0.8 between unrelated docs while
   * trigram Jaccard is ~0 (measured at sf0.01) — trigram sets separate
   * planted near-dups cleanly. */
  def shinglesFromToks(toks: Column): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))
    array_distinct(when(size(toks) >= 3, grams).otherwise(array().cast("array<string>")))
  }

  /** (doc_id, sh) via the native [[graft.plans.WordShingles]] pass —
   * value-identical to [[shinglesFromToks]] over materialized tokens, but
   * immune to Catalyst re-inlining the tokenizer into the shingle lambda
   * (which re-ran regex split ~380× per document). */
  private[operators] def shingleDf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    docs.select(col("doc_id"),
        toCol(graft.plans.WordShingles(toExpr(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** DuckDB: shingles from a `toks` list column (comprehension references
   * the column — single-level lambda, supported). */
  private def shinglesFromToksSql(toks: String): String =
    s"list_distinct(CASE WHEN len($toks) >= 3 THEN " +
      s"[$toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2] for i in range(1, len($toks) - 1)] " +
      s"ELSE [] END)"

  /** Jaccard from an intersect-size column and the two pre-distinct set
   * sizes: |∩| / (|a| + |b| − |∩|) — one double division (deterministic),
   * and the expensive `array_intersect` is evaluated once upstream. */
  private def jaccardFrom(ji: Column, na: Column, nb: Column): Column =
    ji.cast("double") / (na + nb - ji).cast("double")

  /** Native intersect-size over per-doc-distinct arrays
   * ([[graft.plans.ArrayIntersectSize]]) — value-identical to
   * `size(array_intersect(a, b))` here, ~20× cheaper per candidate pair. */
  private def intersectSize(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.ArrayIntersectSize(toExpr(a), toExpr(b)))
  }

  private def jaccardSql(a: String, b: String): String =
    s"(CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE))"

  /** Candidate pairs from an inverted-index bucket relation (bucket, doc_id):
   * group by bucket, collect the (deduplicated-upstream) doc ids, expand the
   * in-bucket pairs with id_a < id_b via a sorted-array nested transform.
   * Identical to the classic posting self-join `a JOIN b ON a.bk = b.bk AND
   * a.doc_id < b.doc_id` — but ONE shuffle (the groupBy) instead of the
   * join's two sorted exchanges over persisted postings, and no persist of
   * exploded rows at all. `maxBucket` bounds the collected list — callers
   * must have bounded bucket sizes UPSTREAM (a df filter, or
   * [[boundedBucketPairs]]): the collect_list itself is O(bucket) memory,
   * so this filter is a correctness backstop, not the memory bound. */
  private def bucketPairs(postings: DataFrame, bucketCol: String,
                          minBucket: Int, maxBucket: Int): DataFrame =
    rawBucketPairs(postings, bucketCol, minBucket, maxBucket).distinct()

  /** [[bucketPairs]] WITHOUT the cross-band distinct: emits each in-bucket
   * pair once PER BUCKET it co-occurs in. For callers whose per-candidate
   * verify is a cheap map-side expression — there, deduplicating the few
   * survivors after the verify beats shuffling the full candidate set
   * through a distinct first (emb_neardup sf1: 57M distinct candidates for
   * 169k survivors; the duplication factor across its bands is only ~1.3×,
   * so the re-verified work is far cheaper than the saved exchange). */
  private def rawBucketPairs(postings: DataFrame, bucketCol: String,
                             minBucket: Int, maxBucket: Int): DataFrame = {
    val ids = col("ids")
    val grouped = postings.groupBy(col(bucketCol))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(ids) >= minBucket && size(ids) <= maxBucket)
    // pair expansion via two codegen'd generators (posexplode + slice) —
    // a nested transform-into-structs lambda here evaluated interpreted,
    // tens of CPU-seconds at a few hundred thousand buckets
    grouped
      .select(ids, posexplode(ids).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(ids, col("i") + 2, size(ids) - col("i") - 1)).as("id_b"))
  }

  /** Sentinel rows carry drop statistics through the candidate-pair
   * relation (see [[boundedBucketPairs]]), flagged by a DEDICATED
   * `is_sentinel` boolean column — never by the id value space, so every
   * doc_id domain (negative ids included) is safe. Within the sentinel
   * rows, `id_a` discriminates which metric the row carries. */
  private val SentinelOversizeBuckets = 0L
  private val SentinelOversizeDocs    = 1L

  private[operators] def isSentinel: Column = col("is_sentinel")

  /** [[bucketPairs]] with a HARD bucket-size bound enforced BEFORE any list
   * is collected. An adversarial corpus — a million byte-identical crawl
   * pages — puts every copy in the same signature bucket: collect_list
   * would buffer the whole bucket on one task and the pair expansion would
   * emit O(n²) rows. Here a count aggregate (codegen'd, map-side partial)
   * sizes each bucket first; oversize buckets are dropped before the
   * collect, and the join back to postings keeps the bucket key's hash
   * partitioning, so the following groupBy adds no exchange.
   *
   * Returns the candidate pairs PLUS two sentinel rows
   * (`is_sentinel` = true, `id_a` = the metric discriminator,
   * `id_b` = the drop count — always present, 0 when nothing dropped),
   * persisted: the caller consumes the pairs for candidate verification
   * and re-unions the sentinels onto its FINAL result via
   * [[observeDrops]]. The sentinel rows must travel to the very top of
   * the query before being observed: round 3 attached `observe` below the
   * cache boundary (swallowed — Spark substitutes `InMemoryRelation` into
   * the analyzed plan, hiding the `CollectMetrics` from
   * `qe.observedMetrics`), and a first fix above the cache was still
   * eliminated by AQE's `AQEPropagateEmptyRelation` precisely in the
   * adversarial all-dropped case (empty filtered branch → the whole
   * metrics-bearing subtree replaced by `EmptyRelation`). A top-level
   * union with an always-2-row sentinel branch can never be
   * empty-propagated away.
   *
   * Semantics note: a dropped bucket means "these docs are mutually
   * identical at this signature's resolution — beyond the pair budget";
   * run [[exact]] as the pre-pass so byte-identical mass is collapsed
   * before fuzzy matching, leaving genuine near-dup clusters (bounded by
   * construction) in the buckets. */
  private[operators] def boundedBucketPairs(postings: DataFrame, bucketCol: String,
                                 minBucket: Int, maxBucket: Int): DataFrame = {
    // persisted: the postings relation feeds the bucket-size rollup AND
    // the cap join — unpersisted, Catalyst replays the whole posting
    // pipeline (minhash signatures / hyperplane dots upstream) twice for
    // EVERY caller of this helper
    val cached = postings.persist()
    val (ok, sentinels) = bucketBound(cached, bucketCol, minBucket, maxBucket)
    bucketPairs(cached.join(ok, bucketCol), bucketCol, minBucket, maxBucket)
      .withColumn("is_sentinel", lit(false))
      .unionByName(sentinels)
      .persist()
  }

  /** [[boundedBucketPairs]] built on [[rawBucketPairs]]: same cap and
   * sentinel machinery, but candidates are NOT deduplicated across
   * buckets and the output is NOT persisted — for single-consumer
   * callers that verify map-side and distinct the survivors. The
   * verify-then-distinct rewrite is value-identical when the verdict
   * columns are a deterministic function of (id_a, id_b): duplicates of
   * a pair produce byte-identical rows, so a distinct over survivors
   * equals a distinct over candidates followed by the verify. */
  private[operators] def boundedRawBucketPairs(postings: DataFrame, bucketCol: String,
                                 minBucket: Int, maxBucket: Int): DataFrame = {
    val cached = postings.persist()
    val (ok, sentinels) = bucketBound(cached, bucketCol, minBucket, maxBucket)
    rawBucketPairs(cached.join(ok, bucketCol), bucketCol, minBucket, maxBucket)
      .withColumn("is_sentinel", lit(false))
      .unionByName(sentinels)
  }

  /** The size-cap machinery of [[boundedBucketPairs]] alone: (in-bound
   * bucket keys, always-2-row sentinel relation carrying the drop
   * counts). For callers that expand pairs themselves (e.g. with a
   * payload column riding the collect — [[simhashDedup]]). The sizes
   * exchange is shared between the two outputs via ReuseExchange. */
  private[operators] def bucketBound(postings: DataFrame, bucketCol: String,
                                     minBucket: Int, maxBucket: Int): (DataFrame, DataFrame) = {
    val sizes = postings.groupBy(col(bucketCol)).agg(count(lit(1)).as("n"))
    val ok = sizes.filter(col("n") >= minBucket && col("n") <= maxBucket)
      .select(bucketCol)
    // one global row, always present (count over empty input is 0)
    val drops = sizes.filter(col("n") > maxBucket)
      .agg(count(lit(1)).as("ob"), coalesce(sum(col("n")), lit(0L)).as("od"))
    val sentinels = drops.select(explode(array(
        struct(lit(SentinelOversizeBuckets).as("id_a"), col("ob").as("id_b")),
        struct(lit(SentinelOversizeDocs).as("id_a"), col("od").as("id_b")))).as("s"))
      .select(col("s.id_a").as("id_a"), col("s.id_b").as("id_b"),
        lit(true).as("is_sentinel"))
    (ok, sentinels)
  }

  /** Drop-metrics surfacing, attached at the TOP of a finished dedup
   * query: `result` must be the verified pair output with the sentinel
   * rows from [[boundedBucketPairs]] re-unioned on (extra columns null).
   * `observe` publishes `oversize_buckets` / `oversize_docs` as named
   * query metrics (QueryExecutionListener / StreamingQueryProgress
   * surface them; zero driver-side actions, zero cost at scale), then the
   * sentinels are stripped. Catalyst never pushes the strip-filter below
   * the `CollectMetrics` node (that would change observed values), and
   * the sentinel branch guarantees a non-empty input, so AQE cannot
   * empty-propagate the metrics away. */
  private[operators] def observeDrops(result: DataFrame, metricName: String,
                                      discCol: String = "id_a",
                                      countCol: String = "id_b"): DataFrame =
    result
      .observe(metricName,
        max(when(isSentinel && col(discCol) === SentinelOversizeBuckets, col(countCol)))
          .as("oversize_buckets"),
        max(when(isSentinel && col(discCol) === SentinelOversizeDocs, col(countCol)))
          .as("oversize_docs"))
      .filter(!isSentinel)
      .drop("is_sentinel")

  /** DuckDB mirror of the bucket-size cap: keep only buckets whose posting
   * count is within [2, maxBucket] before the candidate self-join. */
  private[operators] def boundedSql(postingsCte: String, bucketCol: String, maxBucket: Int): String =
    s"""(SELECT p.* FROM $postingsCte p JOIN (
       |   SELECT $bucketCol FROM (SELECT $bucketCol, count(*) AS n FROM $postingsCte GROUP BY 1)
       |   WHERE n >= 2 AND n <= $maxBucket) okb USING ($bucketCol))""".stripMargin

  // ---- 1. exact dedup ------------------------------------------------------

  /** Exact dedup by content fingerprint: one row per distinct normalized
   * text, keeping the smallest doc_id. A single hash-aggregate — the
   * canonical 100 TB dedup plan (map-side partial agg, shuffle on the
   * 128-bit fingerprint, no skew: keys are hashes). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(fingerprint(col("text")).as("dup_key"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))

  def exactSql(table: String): String =
    s"SELECT ${TextSql.fingerprint("text")} AS dup_key, min(doc_id) AS keeper_id, " +
      s"count(*) AS n_docs FROM $table GROUP BY 1"

  // ---- 2. MinHash + LSH ----------------------------------------------------

  /** MinHash signature length (K) and LSH banding (B bands × R rows = K).
   * R=2, B=6 puts the s-curve 50% capture point at (1/B)^(1/R) ≈ 0.41 —
   * essentially every pair at the 0.8 verify threshold is caught. */
  val MinHashK = 12
  val LshBands = 6
  val LshRows  = 2
  /** Verified-Jaccard near-dup threshold. */
  val MinHashThreshold = 0.8
  /** Hard per-bucket posting cap for the signature-bucket candidate stages
   * (minhash bands, simhash chunks). A genuine near-dup cluster after the
   * [[exact]] pre-pass is small; a bucket past this size is duplicate MASS
   * (boilerplate, a template crawled a million times) whose O(n²) pair set
   * no downstream consumer wants row-by-row. Oversize buckets are dropped
   * with an observed-metrics count — see [[boundedBucketPairs]]. */
  val MaxBucket = 256

  /** Per-doc minhash signature: sig_j = min over shingles of
   * md5(j ':' shingle), j = 1..K. Hex-string minima are a valid minhash
   * family (uniform 128-bit order) and are engine-portable — no integer
   * hash seeds to mismatch. Native single-pass expression
   * ([[graft.plans.MinHashSig]]); value-identical to the nested
   * transform/array_min/md5 composition it replaces. */
  def minhashSignature(sh: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.MinHashSig(toExpr(sh), MinHashK))
  }

  /** LSH band keys: band_j = md5(j '|' sig_{2j-1} '|' sig_{2j}). The band
   * index is folded into the hash so a flat equality join on the band
   * value is sufficient. Native [[graft.plans.LshBandKeys]] — the
   * `transform`/`element_at` composition re-ran the whole signature
   * pipeline once per element after CollapseProject inlining (see the
   * expression's scaladoc). */
  def lshBands(sig: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.LshBandKeys(toExpr(sig), LshBands, LshRows))
  }

  /** Near-duplicate pairs by MinHash-LSH: shingle → sign → band → bucket
   * join → verify true Jaccard ≥ threshold. Output (id_a, id_b, jaccard),
   * id_a < id_b. */
  def minhashLsh(docs: DataFrame): DataFrame = {
    // Candidate generation: ONE shuffle — group the banded postings by
    // band value and expand in-bucket pairs ([[bucketPairs]]). A bucket is
    // a set of docs agreeing on a band of minhash minima, i.e. a genuine
    // near-dup cluster w.h.p., so bucket sizes are cluster sizes and the
    // quadratic expansion is exactly the pair set any dedup must emit.
    // (An earlier posting self-join computed the same set with two sorted
    // exchanges over a persisted banded relation — the bench outlier.)
    // The signature pipeline runs exactly once, map-side, feeding the
    // groupBy; the verify stage recomputes shingles only for the handful
    // of candidate docs via a join on candidate ids.
    val banded = shingleDf(docs).select(col("doc_id"),
      explode(lshBands(minhashSignature(col("sh")))).as("bv"))
    // persisted: pairs feed the three consumers below, sentinels ride to
    // the top-level observeDrops — all from the cache, computed once
    val staged = boundedBucketPairs(banded, "bv", 2, MaxBucket)
    val cand = staged.filter(!isSentinel)
    val candIds = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id")))
      .distinct()
    // persisted: probed for BOTH pair sides — candidate docs only, so the
    // cache is tiny, and unpersisted the shingle scan would run twice
    val candSh = shingleDf(docs.join(candIds, "doc_id")).persist()
    val verified = cand
      .join(candSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(candSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        intersectSize(col("sh_a"), col("sh_b")).as("ji"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .select(col("id_a"), col("id_b"), jaccardFrom(col("ji"), col("na"), col("nb")).as("jaccard"))
      .filter(col("jaccard") >= MinHashThreshold)
    observeDrops(
      verified.withColumn("is_sentinel", lit(false))
        .unionByName(staged.filter(isSentinel)
          .withColumn("jaccard", lit(null).cast("double"))),
      "graft_minhash_buckets")
  }

  /** Oracle. DuckDB can't nest lambdas (the inner `for s in sh` can't see
   * an outer lambda's `j`), so the signature is computed relationally:
   * unnest shingles × hash index, min per (doc, j), re-listed in j order —
   * identical values, different shape. */
  def minhashLshSql(table: String): String =
    s"""WITH toks AS (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table),
       |sh0 AS (SELECT doc_id, ${shinglesFromToksSql("toks")} AS sh FROM toks),
       |shf AS (SELECT * FROM sh0 WHERE len(sh) > 0),
       |shrow AS (SELECT doc_id, unnest(sh) AS s FROM shf),
       |sigrow AS (
       |  SELECT doc_id, j, min(md5(j::VARCHAR || ':' || s)) AS m
       |  FROM shrow, (SELECT unnest(range(1, ${MinHashK + 1})) AS j)
       |  GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM sigrow GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id,
       |         unnest([md5(j::VARCHAR || '|' || sig[j*$LshRows-1] || '|' || sig[j*$LshRows])
       |                 for j in range(1, ${LshBands + 1})]) AS bv
       |  FROM sig),
       |bok AS ${boundedSql("banded", "bv", MaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bok a JOIN bok b ON a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT c.id_a AS id_a, c.id_b AS id_b,
       |       ${jaccardSql("sa.sh", "sb.sh")} AS jaccard
       |FROM cand c
       |JOIN shf sa ON sa.doc_id = c.id_a
       |JOIN shf sb ON sb.doc_id = c.id_b
       |WHERE ${jaccardSql("sa.sh", "sb.sh")} >= $MinHashThreshold""".stripMargin

  /** Sample stride/budget for [[minhashSigAudit]] — the ANN QueryBudget
   * pattern on the dedup axis: a fixed-size deterministic doc sample at
   * ANY corpus size (ids are dense from 0, so the cutoff binds the
   * count; a sparser id domain just samples fewer). 97 is co-prime to
   * the scale-generator's copy strides, so the sample crosses copies. */
  val SigAuditStride = 97L
  val SigAuditBudget = 512L

  /** MinHash signature audit over a bounded deterministic doc sample —
   * the fourth-decade gate for the WHOLE minhash family: the full pair
   * relations are oracle-proven through sf1, but their DuckDB
   * restatements materialize the corpus-sized (shingle × K) relation
   * (~600M rows at sf10 — oracle-side intractable), so this query pins
   * the family's core primitive (shingle → K md5 minima, the native
   * [[graft.plans.MinHashSig]] one-pass) value-for-value against the
   * relational DuckDB mirror at EVERY scale, for a sample whose oracle
   * cost is O([[SigAuditBudget]]) regardless of corpus size. Output
   * (doc_id, j, sig_j), ≤ Budget × [[MinHashK]] rows.
   *
   * Scale shape: the sample predicate prunes at the scan (row-group
   * stats on the id column), the signature is one map-side expression —
   * no exchange at all past the scan. */
  def minhashSigAudit(docs: DataFrame): DataFrame =
    shingleDf(docs.filter(col("doc_id") % SigAuditStride === 0 &&
        col("doc_id") < SigAuditStride * SigAuditBudget))
      .select(col("doc_id"),
        posexplode(minhashSignature(col("sh"))).as(Seq("jx", "sig_j")))
      .select(col("doc_id"), (col("jx") + 1).cast("bigint").as("j"), col("sig_j"))

  def minhashSigAuditSql(table: String): String =
    s"""WITH toks AS (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table
       |              WHERE doc_id % $SigAuditStride = 0
       |                AND doc_id < ${SigAuditStride * SigAuditBudget}),
       |sh0 AS (SELECT doc_id, ${shinglesFromToksSql("toks")} AS sh FROM toks),
       |shf AS (SELECT * FROM sh0 WHERE len(sh) > 0),
       |shrow AS (SELECT doc_id, unnest(sh) AS s FROM shf)
       |SELECT doc_id, j, min(md5(j::VARCHAR || ':' || s)) AS sig_j
       |FROM shrow, (SELECT unnest(range(1, ${MinHashK + 1})) AS j)
       |GROUP BY doc_id, j""".stripMargin

  /** Streaming MinHash-LSH near-duplicate CANDIDATE detection — the
   * crawl-ingest shape of [[minhashLsh]]: documents arrive as a stream
   * (doc_id, text, ts) and each new document is compared against the
   * recent documents sharing one of its LSH band keys. Emits
   * (id_a, id_b, est_jaccard, ts) where `est_jaccard` is the fraction of
   * agreeing minhash components (the unbiased sketch estimate of true
   * Jaccard, granularity 1/[[MinHashK]]) — exact verification of
   * candidates is a downstream batch join, as in any streaming sketch
   * pipeline.
   *
   * Semantics and bounds:
   *  - a pair is emitted once per band both documents agree on
   *    (at-least-once; de-duplicate downstream or in the sink);
   *  - per-bucket state holds at most [[MaxBucket]] recent docs (newest
   *    kept, oldest dropped — the streaming analog of the batch
   *    mega-bucket cap: duplicate MASS beyond the cap is an exact-dedup
   *    concern, not a pairwise one) and evicts entries older than
   *    `retention` behind the bucket's max event time; pair emission is
   *    additionally guarded per pair by |ts_a − ts_b| ≤ retention, so an
   *    out-of-order arrival pairs with exactly the surviving entries
   *    within retention of ITSELF — no emitted pair ever spans more
   *    than `retention` of event time, and an arrival behind the bucket
   *    horizon does not enter state (the next eviction would remove it
   *    before it could pair);
   *  - a bucket idle past the watermark clears its state entirely via an
   *    event-time timeout — total state is bounded by
   *    (active buckets × MaxBucket).
   *
   * The shuffle key is the band value — identical partitioning to the
   * batch operator, so the 100 TB story carries over unchanged. */
  def streamingMinhashCandidates(docs: DataFrame,
                                 retention: java.time.Duration): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val spark = docs.sparkSession
    import spark.implicits._
    val retMs = retention.toMillis
    val banded = docs
      .withWatermark("ts", s"$retMs milliseconds")
      .select(col("doc_id"), col("ts"),
        toCol(graft.plans.WordShingles(toExpr(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("ts"), minhashSignature(col("sh")).as("sig"))
      .select(col("doc_id"), col("ts"), col("sig"),
        explode(lshBands(col("sig"))).as("bv"))
      .select(col("bv"), col("doc_id"), col("sig"), col("ts"))
      .as[BandRec]
    banded
      .groupByKey(_.bv)
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, recs, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val s0 = state.getOption.getOrElse(BucketState(Nil, Long.MinValue))
            val (s1, out) = bucketTransition(recs, s0, retMs)
            if (s1.entries.isEmpty) state.remove()
            else {
              state.update(s1)
              // Clear the whole bucket once the watermark passes its
              // horizon. With EventTimeTimeout the engine drops
              // later-than-watermark rows BEFORE this function runs
              // (FlatMapGroupsWithStateExec's late-event filter), so
              // every record seen here has ts ≥ watermark and this
              // timestamp is always ahead of it — a document later than
              // the watermark is silently excluded from candidate
              // detection, the documented lateness contract
              // (StreamingDedupSpec's late-record test pins it).
              state.setTimeoutTimestamp(s1.maxEventTs + retMs)
            }
            out.iterator
          }
      }
      .toDF()
  }

  /** The pure per-bucket state transition of
   * [[streamingMinhashCandidates]] — extracted so the out-of-order /
   * eviction / cap semantics are unit-testable without driving the
   * streaming engine (whose within-batch group ordering is not
   * deterministic). Returns (new state, emitted pairs in order). */
  private[operators] def bucketTransition(recs: IterableOnce[BandRec],
                                          s0: BucketState,
                                          retMs: Long): (BucketState, List[CandPair]) = {
    val out = List.newBuilder[CandPair]
    var entries = s0.entries
    var maxTs = s0.maxEventTs
    recs.iterator.foreach { r =>
      val t = r.ts.getTime
      maxTs = math.max(maxTs, t)
      // evict BEFORE comparing: an entry past the horizon of the
      // bucket's current stream time must not pair, even within
      // one trigger (the horizon is event-time, not trigger-time)
      entries = entries.filter(_._3 >= maxTs - retMs)
      // pair emission is guarded PER PAIR by the event-time span: an
      // out-of-order arrival (older than some entries, still >= the
      // watermark) pairs with exactly the entries within `retention` of
      // ITSELF — never with entries farther than retMs away (the
      // advisor-flagged leak), and without losing the pairs that ARE
      // within retention of each other (an earlier blanket skip of
      // horizon-stale arrivals dropped those too)
      entries.foreach { case (oid, osig, ots) =>
        if (oid != r.doc_id && math.abs(ots - t) <= retMs) {
          var agree = 0
          var i = 0
          while (i < MinHashK) {
            if (osig(i) == r.sig(i)) agree += 1
            i += 1
          }
          val (ia, ib) = if (oid < r.doc_id) (oid, r.doc_id) else (r.doc_id, oid)
          out += CandPair(ia, ib, agree.toDouble / MinHashK,
            new java.sql.Timestamp(math.max(ots, t)))
        }
      }
      // the record enters state only inside the bucket horizon — beyond
      // it the next arrival's eviction would remove it before it could
      // ever pair, so inserting would only churn the cap logic
      if (t >= maxTs - retMs) {
        entries = (r.doc_id, r.sig, t) :: entries
        if (entries.lengthCompare(MaxBucket) > 0) {
          // bounded state: drop the oldest by EVENT TIME (arrival
          // order diverges from event order under out-of-order
          // input, and the contract promises the RECENT docs stay)
          val oldest = entries.minBy(_._3)._3
          var dropped = false
          entries = entries.filter { e =>
            if (!dropped && e._3 == oldest) { dropped = true; false } else true
          }
        }
      }
    }
    (BucketState(entries, maxTs), out.result())
  }

  // ---- incremental (cross-corpus) dedup --------------------------------------

  /** The `source` value playing the NEW-crawl role in the checked query. */
  val IncrementalNewSource = "src5"

  /** Incremental dedup: drop documents of a NEW crawl that duplicate the
   * EXISTING corpus — the production shape at 100 TB, where re-running
   * full-corpus dedup per crawl is a non-starter; only new×old work is
   * done, never old×old. Output (doc_id, reason) of DROPPED new docs:
   * `exact` (content fingerprint already in the corpus) wins over `near`
   * (verified trigram Jaccard ≥ [[MinHashThreshold]] against some
   * existing doc via MinHash-LSH band agreement), one row per dropped doc.
   *
   * Scale shape:
   *  - exact pass: a semi-join on the 128-bit content fingerprint —
   *    shuffle on a hash key (skew-free); in a real deployment the old
   *    side is a precomputed fingerprint index read back from storage,
   *    not recomputed (bucketBy the index on `fp` and the join is
   *    exchange-free on the corpus side — see BucketedTables);
   *  - near pass: band postings on BOTH sides, equi-join new→old on the
   *    band value — the same one-shuffle-per-side plan as the batch
   *    self-dedup, but candidates never form within a side. Old-side
   *    band buckets past [[MaxBucket]] are duplicate mass (the existing
   *    corpus is assumed already deduped; a hot band there is template
   *    boilerplate) and are dropped from candidate generation, bounding
   *    the join fan-out per new posting to MaxBucket rows;
   *  - verify recomputes shingles only for candidate docs (a join on
   *    candidate ids), exactly like [[minhashLsh]];
   *  - within-new-crawl duplication is deliberately out of scope: run
   *    [[exact]]/[[minhashLsh]] over the surviving new docs next.
   *
   * Dropping a new doc that matches a CAPPED old band can be missed only
   * if every shared band is oversize — the same documented miss the
   * self-dedup accepts for mega-buckets. */
  def incremental(docs: DataFrame,
                  newSource: String = IncrementalNewSource): DataFrame = {
    val newDocs = docs.filter(col("source") === newSource)
    val oldDocs = docs.filter(col("source") =!= newSource)

    // exact: new fingerprints that already exist in the corpus
    val newFp = newDocs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val oldFp = oldDocs.select(fingerprint(col("text")).as("fp"))
    // persisted: consumed by the output union AND the near-branch anti
    // join — tiny (dropped new ids only)
    val exactDropped = newFp
      .join(oldFp, Seq("fp"), "left_semi")
      .select(col("doc_id"))
      .persist()

    // near: cross-side LSH candidates, old-side buckets bounded.
    // oldBands feeds the bucket-cap rollup AND the candidate join, and
    // cand feeds BOTH shingle re-reads plus the verify join — without the
    // persists Catalyst replays the shingle->signature->band pipeline per
    // consumer (this query planned FIFTEEN corpus scans; now six, one per
    // genuinely distinct pass)
    def bandsOf(side: DataFrame) = shingleDf(side).select(col("doc_id"),
      explode(lshBands(minhashSignature(col("sh")))).as("bv"))
    val newBands = bandsOf(newDocs)
    val oldBands = bandsOf(oldDocs).persist()
    val okOld = oldBands.groupBy(col("bv")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= MaxBucket).select("bv")
    val cand = newBands
      .join(oldBands.join(okOld, "bv").select(col("bv"), col("doc_id").as("old_id")), "bv")
      .select(col("doc_id").as("new_id"), col("old_id"))
      .distinct()
      .persist()
    val newSh = shingleDf(newDocs.join(
      cand.select(col("new_id").as("doc_id")).distinct(), "doc_id"))
    val oldSh = shingleDf(oldDocs.join(
      cand.select(col("old_id").as("doc_id")).distinct(), "doc_id"))
    val nearDropped = cand
      .join(newSh.select(col("doc_id").as("new_id"), col("sh").as("sh_a")), "new_id")
      .join(oldSh.select(col("doc_id").as("old_id"), col("sh").as("sh_b")), "old_id")
      .select(col("new_id"),
        intersectSize(col("sh_a"), col("sh_b")).as("ji"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
      .filter(jaccardFrom(col("ji"), col("na"), col("nb")) >= MinHashThreshold)
      .select(col("new_id").as("doc_id"))
      .distinct()

    exactDropped.withColumn("reason", lit("exact"))
      .unionByName(
        nearDropped.join(exactDropped, Seq("doc_id"), "left_anti")
          .withColumn("reason", lit("near")))
  }

  /** Oracle — same relational minhash shape as [[minhashLshSql]], with
   * the band join restricted to new×old and the old side bucket-capped. */
  def incrementalSql(table: String,
                     newSource: String = IncrementalNewSource): String =
    s"""WITH toks AS (SELECT doc_id, source, ${TextSql.tokens("text")} AS toks FROM $table),
       |fp AS (SELECT doc_id, source, md5(array_to_string(toks, ' ')) AS fp FROM toks),
       |exact_drop AS (
       |  SELECT DISTINCT n.doc_id AS doc_id FROM fp n
       |  WHERE n.source = '$newSource'
       |    AND EXISTS (SELECT 1 FROM fp o WHERE o.source <> '$newSource' AND o.fp = n.fp)),
       |sh0 AS (SELECT doc_id, source, ${shinglesFromToksSql("toks")} AS sh FROM toks),
       |shf AS (SELECT * FROM sh0 WHERE len(sh) > 0),
       |shrow AS (SELECT doc_id, unnest(sh) AS s FROM shf),
       |sigrow AS (
       |  SELECT doc_id, j, min(md5(j::VARCHAR || ':' || s)) AS m
       |  FROM shrow, (SELECT unnest(range(1, ${MinHashK + 1})) AS j)
       |  GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM sigrow GROUP BY doc_id),
       |banded AS (
       |  SELECT s.doc_id, f.source,
       |         unnest([md5(j::VARCHAR || '|' || sig[j*$LshRows-1] || '|' || sig[j*$LshRows])
       |                 for j in range(1, ${LshBands + 1})]) AS bv
       |  FROM sig s JOIN shf f ON f.doc_id = s.doc_id),
       |oldb AS (SELECT doc_id, bv FROM banded WHERE source <> '$newSource'),
       |okb AS (SELECT bv FROM (SELECT bv, count(*) AS n FROM oldb GROUP BY 1)
       |        WHERE n <= $MaxBucket),
       |newb AS (SELECT doc_id, bv FROM banded WHERE source = '$newSource'),
       |cand AS (
       |  SELECT DISTINCT nw.doc_id AS new_id, ob.doc_id AS old_id
       |  FROM newb nw JOIN (SELECT o.* FROM oldb o JOIN okb USING (bv)) ob
       |    ON nw.bv = ob.bv),
       |near_drop AS (
       |  SELECT DISTINCT c.new_id AS doc_id
       |  FROM cand c
       |  JOIN shf sa ON sa.doc_id = c.new_id
       |  JOIN shf sb ON sb.doc_id = c.old_id
       |  WHERE ${jaccardSql("sa.sh", "sb.sh")} >= $MinHashThreshold)
       |SELECT doc_id, 'exact' AS reason FROM exact_drop
       |UNION ALL
       |SELECT doc_id, 'near' AS reason FROM near_drop
       |WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)""".stripMargin

  // ---- 3. SimHash ----------------------------------------------------------

  /** SimHash width in bits (top 64 bits of each token's md5). */
  val SimHashBits = 64
  /** Candidate-blocking chunks: with Hamming ≤ [[HammingMax]] = 10 over 4
   * chunks of 16 bits, pigeonhole guarantees at least one chunk is
   * untouched for any pair with distance ≤ 3 — and ≤ 10 still shares a
   * chunk unless the flips spread 3-3-2-2; recall is high on planted
   * near-dups whose distance is small. */
  val SimHashChunks = 4
  val HammingMax = 10

  /** Chunk count for a corpus of `nDocs` uniform documents, keeping the
   * EXPECTED random-collision bucket at ≤ `targetBucket` docs: a chunk of
   * width w = 64/c hashes a uniform corpus into 2^w buckets, so expected
   * bucket size is n/2^w — solve w ≥ log2(n/targetBucket). Fewer, wider
   * chunks at larger n (less collision mass) at the cost of the pigeonhole
   * recall bound (untouched-chunk guarantee only for distance < c); the
   * [[MaxBucket]] cap in [[simhashDedup]] bounds the residual hot buckets
   * either way. c=4 (w=16) holds to ~16M uniform docs per partition of the
   * corpus at targetBucket=256. */
  def simhashChunksFor(nDocs: Long, targetBucket: Int = MaxBucket): Int = {
    // integer-exact ceil(log2(ceil(n/target))) — bit-length, no floating
    // point; the DuckDB oracle derives the identical value from the
    // identical count with the same integer bit-length (length(bin(m-1)))
    val m = (math.max(nDocs, 1L) + targetBucket - 1) / targetBucket
    val w = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    val clamped = math.max(8, math.min(32, w))       // width within [8, 32] bits
    math.max(2, SimHashBits / clamped)               // at least 2 chunks (pigeonhole)
  }

  /** [[simhashDedup]] with the chunk count derived from the corpus size —
   * the plan the driver checks IS the plan that runs at 100×. One count
   * job at plan build (metadata-cheap on columnar sources) — a one-off
   * plan-time action, not a per-row driver loop. */
  def simhashDedupAuto(docs: DataFrame): DataFrame =
    simhashDedup(docs, simhashChunksFor(corpusSizeEstimate(docs)))

  /** EXACT corpus size, never the optimizer's rowCount estimate: the
   * DuckDB oracle derives the identical parameter from `count(*)`, and a
   * stale catalog statistic on the Spark side (an ANALYZE taken before an
   * append) could land the two engines on different sides of a
   * ceil(log2(...)) boundary — a correctness FAIL on correct code.
   * Served by [[ScanMemo]] so repeat launches over the same immutable
   * scan skip the plan-time count job. */
  def corpusSizeEstimate(docs: DataFrame): Long = ScanMemo.exactCount(docs)

  /** 64-char '0'/'1' SimHash string over the token multiset: bit_j is the
   * sign of Σ_tokens (±1 by bit j of md5(token)). A bit-string, not a
   * BIGINT: lexicographic, overflow-free, identical in both engines.
   *
   * Shape matters for cost: tokens are hashed ONCE, then a single
   * `aggregate` folds each hash into a 64-wide bit-sum vector via
   * `zip_with` — O(tokens·64) integer ops + O(tokens) md5, not the naive
   * O(64) re-tokenize/re-hash per bit. One Spark-SQL expression, fully
   * codegen-free of UDFs; `textCol` is spliced as a column NAME. */
  def simhashStr(textCol: String): Column = expr(
    s"""concat_ws('', transform(
       |  aggregate(
       |    transform(filter(split(lower($textCol), '[^a-z0-9]+'), t -> t != ''), tk -> md5(tk)),
       |    array_repeat(0, $SimHashBits),
       |    (acc, h) -> zip_with(acc, sequence(0, ${SimHashBits - 1}), (a, j) ->
       |      a + 2 * (shiftright(instr('0123456789abcdef', substring(h, (j DIV 4) + 1, 1)) - 1,
       |                          3 - (j % 4)) & 1) - 1)),
       |  s -> CASE WHEN s > 0 THEN '1' ELSE '0' END))""".stripMargin)

  /** Near-duplicate pairs by SimHash: 64-bit signature, chunk blocking
   * (default [[SimHashChunks]]×16-bit; size-derive with
   * [[simhashChunksFor]]), Hamming ≤ [[HammingMax]] verify.
   * Output (id_a, id_b, hamming). */
  def simhashDedup(docs: DataFrame, chunks: Int = SimHashChunks): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val chunkLen = SimHashBits / chunks
    // persist: the (narrow) signature relation feeds chunk blocking AND the
    // two verify joins. Native one-pass signature ([[graft.plans.SimHash64]])
    // — value-identical to [[simhashStr]], ~tokens·64 fewer interpreted
    // lambda evaluations per row.
    val sigs = docs
      .filter(size(tokens(col("text"))) > 0)
      .select(col("doc_id"), toCol(graft.plans.SimHash64(toExpr(col("text")))).as("sig"))
    // Unlike minhash — whose per-doc payload (the shingle set) is far too
    // wide to ride a shuffle, forcing verify-by-join-back — a simhash sig
    // is 64 chars: it travels WITH the posting through the one groupBy
    // shuffle, and Hamming verification happens inline during pair
    // expansion. No verify joins, no second pass over the corpus. Chunk
    // buckets (unlike minhash bands) collide between non-near-dups on a
    // uniform corpus, so at extreme scale the pair expansion within a hot
    // bucket is the quadratic cost any pigeonhole blocking pays — WIDER
    // chunks are the knob ([[simhashChunksFor]] derives the width from the
    // corpus size), and the [[bucketBound]] cap hard-bounds the residue.
    val postings = sigs.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        j => concat(j.cast("string"), lit(":"),
          substr(col("sig"), j * chunkLen + 1, lit(chunkLen))))).as("chunk"))
      .persist() // consumed by the bucket-size aggregate AND the pair expansion
    val (ok, sentinels) = bucketBound(postings, "chunk", 2, MaxBucket)
    val es = col("es")
    val pairs = postings.join(ok, "chunk")
      .groupBy(col("chunk"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("es"))
      .filter(size(es) >= 2 && size(es) <= MaxBucket)
      .select(es, posexplode(es).as(Seq("i", "ea")))
      .select(col("ea"), explode(slice(es, col("i") + 2, size(es) - col("i") - 1)).as("eb"))
      .select(col("ea.doc_id").as("id_a"), col("eb.doc_id").as("id_b"),
        toCol(graft.plans.HammingStr(toExpr(col("ea.sig")), toExpr(col("eb.sig"))))
          .as("hamming"))
      .filter(col("hamming") <= HammingMax) // verify BEFORE the dedup exchange
      .distinct()
    observeDrops(
      pairs.withColumn("is_sentinel", lit(false))
        .unionByName(sentinels.withColumn("hamming", lit(null).cast("long"))),
      "graft_simhash_buckets")
  }

  /** Oracle — relational SimHash (no nested lambdas, see minhash note):
   * token rows × bit index, signed-bit sum per (doc, j), bits re-joined in
   * order with string_agg. Empty-token docs are excluded on both sides.
   * The chunk count is derived from `count(*)` exactly as
   * [[simhashChunksFor]] derives it from the corpus size with the SAME
   * integer bit-length (length(bin(m-1)) ≡ 64 − numberOfLeadingZeros). */
  def simhashDedupSql(table: String): String = {
    s"""WITH params AS (
       |  SELECT GREATEST(2, $SimHashBits // GREATEST(8, LEAST(32,
       |           CASE WHEN m <= 1 THEN 0 ELSE CAST(length(bin(m - 1)) AS INT) END))) AS chunks
       |  FROM (SELECT (count(*) + ${MaxBucket - 1}) // $MaxBucket AS m FROM $table)),
       |idx AS (
       |  SELECT chunks, $SimHashBits // chunks AS chunklen, unnest(range(0, chunks)) AS j
       |  FROM params),
       |toks AS (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table),
       |tokrow AS (SELECT doc_id, md5(unnest(toks)) AS h FROM toks WHERE len(toks) > 0),
       |bitsum AS (
       |  SELECT doc_id, j,
       |         sum(2 * (((instr('0123456789abcdef', substring(h, (j // 4) + 1, 1)) - 1)
       |                   >> (3 - (j % 4))) & 1) - 1) AS sm
       |  FROM tokrow, (SELECT unnest(range(0, $SimHashBits)) AS j)
       |  GROUP BY doc_id, j),
       |sigs AS (
       |  SELECT doc_id, string_agg(CASE WHEN sm > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
       |  FROM bitsum GROUP BY doc_id),
       |chunked AS (
       |  SELECT doc_id, sig, j::VARCHAR || ':' || substring(sig, j*chunklen + 1, chunklen) AS chunk
       |  FROM sigs CROSS JOIN idx),
       |cok AS ${boundedSql("chunked", "chunk", MaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, a.sig AS sig_a, b.doc_id AS id_b, b.sig AS sig_b
       |  FROM cok a JOIN cok b ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT id_a, id_b,
       |         len(list_filter(range(1, ${SimHashBits + 1}),
       |             i -> substring(sig_a, i, 1) <> substring(sig_b, i, 1))) AS hamming
       |  FROM cand)
       |WHERE hamming <= $HammingMax""".stripMargin
  }

  // ---- 4. blocked character-n-gram Jaccard ---------------------------------

  /** Character window length. 16 chars spans ~3 words: short grams (4) are
   * useless as an index key on a small-vocabulary corpus (every gram is
   * common), while 16-char windows behave like character-level shingles —
   * discriminative enough that near-dup-shared grams are globally rare. */
  val CharGram = 16
  val NgramThreshold = 0.6
  /** Document-frequency ceiling for candidate grams: a pair is a candidate
   * iff it shares at least one gram occurring in ≤ DfMax documents. Rare
   * grams are exactly what near-duplicates share and unrelated documents
   * don't; common grams ("the ", " and") would make the inverted index
   * quadratic. Bounds per-gram join fan-out at DfMax·(DfMax−1)/2 pairs. */
  val DfMax = 8

  /** Raw (with duplicates) character 4-grams from a MATERIALIZED
   * normalized-text column (attribute, not expression — see
   * [[shinglesFromToks]]). De-duplication happens relationally. */
  def charGramSeq(nt: Column): Column =
    when(length(nt) >= CharGram,
      transform(sequence(lit(1), length(nt) - (CharGram - 1)),
        i => substr(nt, i, lit(CharGram))))
    .otherwise(array().cast("array<string>"))

  /** Near-duplicate pairs by character-n-gram Jaccard with an
   * inverted-index candidate stage (the scalable shape: an earlier
   * length-blocked all-pairs version was quadratic within blocks —
   * 11 min at sf0.1):
   *
   *  1. explode distinct (doc, gram) postings — one shuffle;
   *  2. keep postings of RARE grams (global df ≤ [[DfMax]]) — the
   *     inverted-index join key; per-key fan-out is bounded, so the
   *     candidate join is linear in postings, never all-pairs;
   *  3. verify true Jaccard (single array_intersect per candidate pair).
   *
   * Output (id_a, id_b, jaccard), id_a < id_b. Documented approximation:
   * a qualifying pair whose every shared gram is globally common is
   * missed — the oracle mirrors the same candidate rule, and planted
   * near-dups always share rare grams. */
  /** Content-defined sampling rate: keep a gram iff its md5 starts with
   * hex 0-3 (1 in 4). Shift-invariant (unlike strided sampling — a one
   * char insertion would desynchronize stride positions), so near-dups
   * sample the same grams from shared runs; Jaccard is then defined over
   * the sampled sets, mirrored exactly by the oracle. */
  val SampleHexMax = 4

  def ngramJaccard(docs: DataFrame): DataFrame =
    ngramCandidatesVerified(docs)
      .select(col("id_a"), col("id_b"),
        jaccardFrom(col("ji"), col("na"), col("nb")).as("jaccard"))
      .filter(col("jaccard") >= NgramThreshold)

  /** Shared candidate+verify pipeline of the n-gram family: emits each
   * rare-gram candidate pair with its exact sampled-gram intersection
   * size and both set sizes — (id_a, id_b, ji, na, nb), id_a < id_b.
   * [[ngramJaccard]] and [[ngramContainment]] are pure projections over
   * this one plan, so the two scores share every shuffle. */
  private def ngramCandidatesVerified(docs: DataFrame): DataFrame = {
    // sampling + per-doc dedup happen inside the native gram pass, so the
    // exploded postings are already DISTINCT (doc_id, gr) — no global
    // distinct shuffle needed. Candidate generation is ONE shuffle: group
    // postings by gram, keep rare grams (df ≤ DfMax — so the collected id
    // list is bounded at DfMax elements), expand in-bucket pairs
    // ([[bucketPairs]]). The posting relation is consumed exactly once —
    // no persist, no self-join. (The earlier rare-filter + posting
    // self-join computed the same candidate set with two extra shuffles
    // over a persisted posting relation; it was the bench outlier at
    // 26.5 s of a 69 s round.)
    val postings = {
      import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
      docs
        .select(col("doc_id"),
          explode(toCol(graft.plans.CharGramSeq(toExpr(col("text")), CharGram, SampleHexMax)))
            .as("gr"))
    }
    // Rare grams FIRST, via a codegen'd count aggregate (partial-agg
    // friendly), so the collect_list in bucketPairs only ever sees
    // df-capped postings. Collecting lists for ALL grams first and
    // filtering after was pathological: ObjectHashAggregate falls back to
    // sort-based aggregation past 128 groups, paying a TimSort over the
    // full posting relation (measured 80 CPU-seconds at sf0.1). The
    // posting pass is recomputed for the join side: an A/B with
    // postings.persist() measured IDENTICAL warm time (2.25 s vs 2.26 s
    // at sf0.1) — the native gram pass is cheaper than caching 7M
    // exploded rows, and the no-persist shape holds at any corpus size.
    val rare = postings.groupBy("gr")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= DfMax)
      .select("gr")
    val cand = bucketPairs(postings.join(rare, "gr"), "gr", 2, DfMax).persist()
    // verify only needs gram ARRAYS for candidate docs: recompute the
    // native gram pass for those few rows instead of collect_list-ing the
    // whole posting relation back into arrays (a full-corpus shuffle)
    val candIds = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id")))
      .distinct()
    // persisted: probed for BOTH pair sides — candidate docs only, so the
    // cache is tiny (unlike the full posting relation above, whose
    // no-persist shape is the measured A/B decision)
    val gArr = {
      import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
      docs.join(candIds, "doc_id")
        .select(col("doc_id"),
          toCol(graft.plans.CharGramSeq(toExpr(col("text")), CharGram, SampleHexMax)).as("g"))
        .persist()
    }
    cand
      .join(gArr.select(col("doc_id").as("id_a"), col("g").as("g_a")), "id_a")
      .join(gArr.select(col("doc_id").as("id_b"), col("g").as("g_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        intersectSize(col("g_a"), col("g_b")).as("ji"),
        size(col("g_a")).as("na"), size(col("g_b")).as("nb"))
  }

  /** Containment threshold and minimum sampled-set size for
   * [[ngramContainment]]. The size floor keeps trivially small sampled
   * sets (2 grams, both shared → containment 1.0) from qualifying. */
  val ContainThreshold = 0.8
  val ContainMinGrams = 4

  /** Sub-document duplication by n-gram CONTAINMENT — |A∩B| / min(|A|,|B|),
   * the asymmetric-overlap score (Broder'97's containment, the CC-pipeline
   * standard for "document A is inside document B"). Jaccard divides by
   * the UNION, so a short doc fully lifted into a 100× longer one scores
   * near zero and survives Jaccard dedup; containment divides by the
   * smaller side and scores it 1.0. Output (id_a, id_b, containment),
   * id_a < id_b, both sampled sets ≥ [[ContainMinGrams]].
   *
   * Same plan as [[ngramJaccard]] via [[ngramCandidatesVerified]] —
   * the score is a projection, so the rare-gram inverted index and the
   * in-bucket pair expansion (the scale machinery) are identical, with
   * the same documented candidate approximation. */
  def ngramContainment(docs: DataFrame): DataFrame =
    ngramCandidatesVerified(docs)
      .filter(least(col("na"), col("nb")) >= ContainMinGrams)
      .select(col("id_a"), col("id_b"),
        (col("ji").cast("double") / least(col("na"), col("nb")).cast("double"))
          .as("containment"))
      .filter(col("containment") >= ContainThreshold)

  def ngramContainmentSql(table: String): String =
    s"""WITH postings AS ${sampledGramPostingsSql(table)},
       |rare AS (SELECT gr FROM (SELECT gr, count(*) AS df FROM postings GROUP BY gr)
       |         WHERE df >= 2 AND df <= $DfMax),
       |rp AS (SELECT p.doc_id, p.gr FROM postings p JOIN rare r ON p.gr = r.gr),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rp a JOIN rp b ON a.gr = b.gr AND a.doc_id < b.doc_id),
       |garr AS (SELECT doc_id, list(gr) AS g FROM postings GROUP BY doc_id)
       |SELECT id_a, id_b, containment FROM (
       |  SELECT c.id_a, c.id_b,
       |         CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
       |           / CAST(least(len(ga.g), len(gb.g)) AS DOUBLE) AS containment
       |  FROM cand c
       |  JOIN garr ga ON ga.doc_id = c.id_a
       |  JOIN garr gb ON gb.doc_id = c.id_b
       |  WHERE least(len(ga.g), len(gb.g)) >= $ContainMinGrams)
       |WHERE containment >= $ContainThreshold""".stripMargin

  /** Complete parenthesized SELECT of the DISTINCT sampled (doc_id, gr)
   * postings of `table` rows matching `cond` — the single relational
   * mirror of [[graft.plans.CharGramSeq]]'s window+sampling pass, shared
   * by this oracle and [[Corpus.decontaminateSql]] so the two cannot
   * silently diverge. */
  private[operators] def sampledGramPostingsSql(table: String,
                                                cond: String = "TRUE"): String =
    s"""(SELECT DISTINCT doc_id, gr FROM (
       |   SELECT doc_id, unnest(CASE WHEN length(nt) >= $CharGram THEN
       |     [substring(nt, i, $CharGram) for i in range(1, length(nt) - ${CharGram - 2})]
       |     ELSE [] END) AS gr
       |   FROM (SELECT doc_id, ${TextSql.normText("text")} AS nt FROM $table WHERE $cond))
       | WHERE instr('0123456789abcdef', substring(md5(gr), 1, 1)) <= $SampleHexMax)""".stripMargin

  def ngramJaccardSql(table: String): String =
    s"""WITH postings AS ${sampledGramPostingsSql(table)},
       |rare AS (SELECT gr FROM (SELECT gr, count(*) AS df FROM postings GROUP BY gr)
       |         WHERE df >= 2 AND df <= $DfMax),
       |rp AS (SELECT p.doc_id, p.gr FROM postings p JOIN rare r ON p.gr = r.gr),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM rp a JOIN rp b ON a.gr = b.gr AND a.doc_id < b.doc_id),
       |garr AS (SELECT doc_id, list(gr) AS g FROM postings GROUP BY doc_id)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT c.id_a, c.id_b, ${jaccardSql("ga.g", "gb.g")} AS jaccard
       |  FROM cand c
       |  JOIN garr ga ON ga.doc_id = c.id_a
       |  JOIN garr gb ON gb.doc_id = c.id_b)
       |WHERE jaccard >= $NgramThreshold""".stripMargin

  // ---- 5. winnowing (shift-invariant substring) dedup ----------------------

  /** Candidate/verify threshold: shared minimal window hashes (of
   * [[TextFunctions.RollingK]] = 4). Min-wise sketches of near-identical
   * character streams share most minima; 2-of-4 tolerates one divergent
   * region. */
  val WinnowShareMin = 2

  /** Near-duplicate pairs by winnowing fingerprint (Schleimer et al.
   * 2003, the MOSS sketch): per doc the [[TextFunctions.RollingK]]
   * MINIMAL [[TextFunctions.RollingW]]-char rolling hashes, pairs
   * sharing ≥ [[WinnowShareMin]]. CHARACTER-stream matching, shift- and
   * token-boundary-invariant: an inserted word shifts every token
   * n-gram and breaks line alignment, but far-from-the-edit windows
   * hash identically — the family member that catches copied prose
   * inside reworked documents (complements minhash's token-set and
   * simhash's token-multiset views).
   *
   * Scale shape: postings are (doc, minimal-hash) — ≤ K per doc — through
   * the same [[boundedBucketPairs]] one-shuffle cap machinery as every
   * other family; verify intersects the two K-element arrays via a hash
   * join back to the narrow sketch relation. Output
   * (id_a, id_b, n_shared), id_a < id_b. */
  def winnowDedup(docs: DataFrame): DataFrame = {
    val fps = docs
      .select(col("doc_id"), TextFunctions.rollingFingerprintArr(col("text")).as("fps"))
      .filter(size(col("fps")) > 0)
      .persist() // feeds postings AND both verify joins
    val postings = fps.select(col("doc_id"), explode(col("fps")).as("wfp"))
    val staged = boundedBucketPairs(postings, "wfp", 2, MaxBucket)
    val verified = staged.filter(!isSentinel)
      .select(col("id_a"), col("id_b"))
      .join(fps.select(col("doc_id").as("id_a"), col("fps").as("fa")), "id_a")
      .join(fps.select(col("doc_id").as("id_b"), col("fps").as("fb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("fa"), col("fb"))).cast("bigint").as("n_shared"))
      .filter(col("n_shared") >= WinnowShareMin)
    observeDrops(
      verified.withColumn("is_sentinel", lit(false))
        .unionByName(staged.filter(isSentinel)
          .withColumn("n_shared", lit(null).cast("bigint"))),
      "graft_winnow_buckets")
  }

  def winnowDedupSql(table: String): String =
    s"""WITH fps AS ${TextSql.rollingHashListSql(table)},
       |postings AS (SELECT doc_id, unnest(hs) AS wfp FROM fps),
       |bok AS ${boundedSql("postings", "wfp", MaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bok a JOIN bok b ON a.wfp = b.wfp AND a.doc_id < b.doc_id)
       |SELECT c.id_a AS id_a, c.id_b AS id_b,
       |       CAST(len(list_intersect(fa.hs, fb.hs)) AS BIGINT) AS n_shared
       |FROM cand c
       |JOIN fps fa ON fa.doc_id = c.id_a
       |JOIN fps fb ON fb.doc_id = c.id_b
       |WHERE len(list_intersect(fa.hs, fb.hs)) >= $WinnowShareMin""".stripMargin

  // ---- 6. line-level (sub-document) dedup ----------------------------------

  /** Pseudo-line width in tokens. The shared corpus is flat prose with no
   * physical newlines, so a "line" is a fixed window of [[LineTokens]]
   * consecutive tokens — the semantics (drop line-granularity text whose
   * fingerprint repeats across the corpus, keep the rest of each
   * document) are exactly the Lee et al. 2022 / CCNet boilerplate-removal
   * pass; on a corpus with real newlines, swap the segmenter for
   * `split(text, '\n')` and nothing downstream changes. */
  val LineTokens = 10
  /** A line present in at least this many DISTINCT documents is dropped
   * as boilerplate. 2 = any cross-document repetition (sub-document
   * dedup); a crawl pipeline removing only true boilerplate would raise
   * it. */
  val LineDfMax = 2

  /** Line-level dedup: segment each document into [[LineTokens]]-token
   * lines, drop every line whose md5 fingerprint appears in ≥
   * [[LineDfMax]] distinct documents, reassemble the surviving lines in
   * order. The document-granularity dedups (exact/minhash/simhash/ngram)
   * cannot do this — a page that is 90% unique prose + 10% shared
   * boilerplate is no near-dup of anything, yet the boilerplate should
   * not be trained on twice.
   *
   * Scale shape, stage by stage: segmentation is a Generate (corpus ×
   * tokens/[[LineTokens]] rows, map-side); document frequency is the
   * two-phase distinct — shuffle once on the UNIFORM (fp, doc_id) pair,
   * then a partial-agg count per fp — never a count-distinct expand over
   * a hot boilerplate key; the drop set (df ≥ threshold) joins back on
   * fp; reassembly is ONE groupBy(doc_id) with a sorted struct collect.
   * Nothing touches the driver. Documents whose every line is dropped
   * disappear from the output (mirrored by the oracle's HAVING).
   *
   * Output (doc_id, clean_text, n_kept, n_dropped). */
  def lineDedup(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val nseg = (size(col("toks")) + lit(LineTokens - 1)).divide(lit(LineTokens)).cast("int")
    val seg = toks
      .select(col("doc_id"), posexplode(transform(sequence(lit(1), nseg),
        s => array_join(slice(col("toks"), (s - 1) * LineTokens + 1, lit(LineTokens)), " ")))
        .as(Seq("i", "line")))
      .select(col("doc_id"), col("i"), col("line"), md5(col("line")).as("fp"))
      .persist() // feeds the df count AND the flag join
    val df = seg.select(col("fp"), col("doc_id")).distinct()
      .groupBy("fp").agg(count(lit(1)).as("df"))
    val dropped = df.filter(col("df") >= LineDfMax).select(col("fp"), lit(true).as("dropped"))
    seg.join(dropped, Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          sort_array(collect_list(when(col("dropped").isNull, struct(col("i"), col("line"))))),
          x => x("line")), " ").as("clean_text"),
        count(when(col("dropped").isNull, lit(1))).as("n_kept"),
        count(when(col("dropped"), lit(1))).as("n_dropped"))
      .filter(col("n_kept") > 0)
  }

  /** Oracle: parallel unnests zip the line index with the token-window
   * list (same length by construction), then the identical df-count /
   * drop / ordered string_agg pipeline. */
  def lineDedupSql(table: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, toks, (len(toks) + ${LineTokens - 1}) // $LineTokens AS nseg
       |  FROM (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table)
       |  WHERE len(toks) > 0),
       |seg AS (
       |  SELECT doc_id, unnest(range(1, nseg + 1)) AS i,
       |         unnest([array_to_string(toks[(k - 1) * $LineTokens + 1 : k * $LineTokens], ' ')
       |                 for k in range(1, nseg + 1)]) AS line
       |  FROM toks),
       |dfc AS (
       |  SELECT fp, count(*) AS df FROM (
       |    SELECT DISTINCT md5(line) AS fp, doc_id FROM seg) GROUP BY fp),
       |flagged AS (
       |  SELECT s.doc_id, s.i, s.line, (d.df >= $LineDfMax) AS dropped
       |  FROM seg s JOIN dfc d ON md5(s.line) = d.fp)
       |SELECT doc_id,
       |       string_agg(CASE WHEN NOT dropped THEN line END, ' ' ORDER BY i) AS clean_text,
       |       count(CASE WHEN NOT dropped THEN 1 END) AS n_kept,
       |       count(CASE WHEN dropped THEN 1 END) AS n_dropped
       |FROM flagged GROUP BY doc_id
       |HAVING count(CASE WHEN NOT dropped THEN 1 END) > 0""".stripMargin

  // ---- 6b. exact-substring dedup (arbitrary alignment) ----------------------

  /** Window width in tokens for [[substrDedup]] — the minimum duplicated
   * substring length the pass detects (Lee et al. 2022's ExactSubstr
   * uses 50 tokens on web crawl; 16 fits the shared corpus's planted
   * duplicate runs while staying above [[lineDedup]]'s 10-token line so
   * the two passes see different structure). */
  val SubstrW = 16
  /** A window present in at least this many DISTINCT documents marks its
   * span as duplicated (cross-document only, like [[LineDfMax]]). */
  val SubstrDfMin = 2

  /** Exact duplicated-SUBSTRING detection at ARBITRARY alignment — the
   * other half of the Lee et al. 2022 exact pipeline next to
   * [[lineDedup]]: that pass only sees duplication that respects its
   * fixed 10-token segmentation, so a copied paragraph starting
   * mid-line is invisible to it, while this pass slides a
   * [[SubstrW]]-token window at STRIDE 1 — a duplicated substring of
   * length ≥ W at any offset makes EVERY interior W-window repeat, so
   * detection is EXACT (no sampling, no candidate approximation; the
   * reference implementation's suffix array finds the same spans — a
   * suffix array just cannot be expressed as a shuffle-friendly,
   * SQL-mirrorable dataflow, and stride-1 fingerprints can). Per
   * affected document: covered-token mass (union of overlapping
   * duplicated windows, merged gaps-and-islands style), the longest
   * single duplicated run, and the duplicated fraction. Output
   * (doc_id, n_tokens, n_dup_windows, n_dup_tokens, max_run,
   * dup_fraction) for docs with ≥ 1 duplicated window.
   *
   * Scale shape, stage by stage: windowing is a Generate (corpus ×
   * ~tokens rows) fed by the native O(n)
   * [[graft.plans.TokenWindowHash]] rolling kernel — each token is
   * md5'd ONCE and every stride-1 window fingerprint is an O(1) rolling
   * update (two independent 61-bit polynomial hashes, ≥122-bit
   * identity), replacing the previous `md5(array_join(slice(...)))`
   * form whose W× transient bytes per position made this the suite's
   * heaviest map stage. The DuckDB oracle keeps the md5-of-slice form:
   * only fingerprint EQUALITY ever reaches the output, and
   * `SubstrKernelSpec` pins that the two fingerprints induce identical
   * equality classes over the shared corpus. Window df
   * is the [[lineDedup]] two-phase distinct — one shuffle on the
   * UNIFORM md5 (fp, doc_id) pair, then a partial-agg count per fp,
   * never a count-distinct expand over a hot key. The duplicated
   * postings semi-join back on fp, and the island/run reduction is ONE
   * doc_id exchange serving the lag window, the running-sum island
   * numbering, the per-island collapse AND the per-doc rollup (all
   * cluster on doc_id — Catalyst plans a single Exchange). Nothing
   * touches the driver; no stage is quadratic anywhere. */
  def substrDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val toks = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= SubstrW)
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
    val win = toks
      .select(col("doc_id"), col("n"),
        posexplode(toCol(graft.plans.TokenWindowHash(toExpr(col("toks")), SubstrW)))
          .as(Seq("p0", "fp")))
      .select(col("doc_id"), col("n"), (col("p0") + 1).as("p"), col("fp"))
      .persist() // feeds the df count AND the duplicated-posting semi-join
    val dupFp = win.select(col("fp"), col("doc_id")).distinct()
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= SubstrDfMin)
      .select("fp")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    // two windows at interval distance ≤ W overlap or touch → same run
    val isl = win.join(dupFp, Seq("fp"), "left_semi")
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(w) <= SubstrW, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(w))
    isl.groupBy(col("doc_id"), col("island"))
      .agg(max(col("n")).as("n"), min(col("p")).as("s"),
        max(col("p")).as("e"), count(lit(1)).as("nw"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("bigint").as("n_tokens"),
        sum(col("nw")).cast("bigint").as("n_dup_windows"),
        // run [s, e+W-1] covers e − s + W tokens
        sum(col("e") - col("s") + lit(SubstrW)).cast("bigint").as("n_dup_tokens"),
        max(col("e") - col("s") + lit(SubstrW)).cast("bigint").as("max_run"))
      .select(col("doc_id"), col("n_tokens"), col("n_dup_windows"),
        col("n_dup_tokens"), col("max_run"),
        (col("n_dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("dup_fraction"))
  }

  def substrDedupSql(table: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id, toks, len(toks) AS n
       |  FROM (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table)
       |  WHERE len(toks) >= $SubstrW),
       |win AS (
       |  SELECT doc_id, n, unnest(range(1, n - $SubstrW + 2)) AS p,
       |         unnest([md5(array_to_string(toks[k : k + ${SubstrW - 1}], ' '))
       |                 for k in range(1, n - $SubstrW + 2)]) AS fp
       |  FROM tk),
       |dupfp AS (
       |  SELECT fp FROM (
       |    SELECT fp, count(*) AS df FROM (SELECT DISTINCT fp, doc_id FROM win) GROUP BY fp)
       |  WHERE df >= $SubstrDfMin),
       |dup AS (SELECT w.doc_id, w.n, w.p FROM win w JOIN dupfp d ON w.fp = d.fp),
       |isl AS (
       |  SELECT doc_id, n, p,
       |         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $SubstrW
       |              THEN 0 ELSE 1 END AS brk
       |  FROM dup),
       |isl2 AS (
       |  SELECT doc_id, n, p,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island
       |  FROM isl),
       |runs AS (
       |  SELECT doc_id, max(n) AS n, min(p) AS s, max(p) AS e, count(*) AS nw
       |  FROM isl2 GROUP BY doc_id, island)
       |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
       |       CAST(sum(nw) AS BIGINT) AS n_dup_windows,
       |       CAST(sum(e - s + $SubstrW) AS BIGINT) AS n_dup_tokens,
       |       CAST(max(e - s + $SubstrW) AS BIGINT) AS max_run,
       |       CAST(CAST(sum(e - s + $SubstrW) AS BIGINT) AS DOUBLE) /
       |       CAST(CAST(max(n) AS BIGINT) AS DOUBLE) AS dup_fraction
       |FROM runs GROUP BY doc_id""".stripMargin

  /** N-gram novelty — the memorization/novelty audit over crawl order
   * (doc_id as arrival order, the same id-as-arrival convention as
   * [[graft.operators.Corpus.corpusDiff]] and the incremental dedups):
   * for each document, how many of its DISTINCT [[SubstrW]]-token
   * windows appear here FIRST (no doc with a smaller id contains the
   * same window) vs how many were already seen. A corpus whose novelty
   * fraction collapses over ids is re-crawling itself; a doc scoring
   * near 0 is assembled from already-seen text (the Carlini-style
   * memorization-risk signal, aggregated per doc). Distinct windows,
   * not positions — internal repetition is [[substrDedup]]'s business,
   * not novelty. Output (doc_id, n_windows, n_distinct, n_first_seen,
   * novelty_frac) for docs with ≥ [[SubstrW]] tokens.
   *
   * Shape: the same stride-1 native rolling-window pass as
   * [[substrDedup]] ([[graft.plans.TokenWindowHash]]; the DuckDB oracle
   * keeps its md5-of-slice form — only fingerprint EQUALITY reaches the
   * output, the `SubstrKernelSpec` contract), collapsed to the distinct
   * (doc, fp) relation ONCE and persisted; the first-owner table is one
   * fp-keyed partial-agg min, and the join back is fp→fp (the exchange
   * is reused), then one doc_id rollup. No window function, nothing
   * quadratic, nothing driver-side — at 100 TB this is two keyed
   * aggregates and one co-partitioned join over the distinct-window
   * relation. */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    val win = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= SubstrW)
      .select(col("doc_id"), size(col("toks")).as("n"),
        explode(toCol(graft.plans.TokenWindowHash(toExpr(col("toks")), SubstrW)))
          .as("fp"))
      .groupBy(col("doc_id"), col("fp"))
      .agg(max(col("n")).as("n"))
      .persist()
    val first = win.groupBy(col("fp")).agg(min(col("doc_id")).as("first_doc"))
    win.join(first, "fp")
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n"),
        count(lit(1)).cast("bigint").as("n_distinct"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .cast("bigint").as("n_first_seen"))
      .select(col("doc_id"),
        (col("n") - lit(SubstrW) + 1).cast("bigint").as("n_windows"),
        col("n_distinct"), col("n_first_seen"),
        (col("n_first_seen").cast("double") / col("n_distinct").cast("double"))
          .as("novelty_frac"))
  }

  def ngramNoveltySql(table: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id, toks, len(toks) AS n
       |  FROM (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table)
       |  WHERE len(toks) >= $SubstrW),
       |win AS (
       |  SELECT DISTINCT doc_id, n,
       |         unnest([md5(array_to_string(toks[k : k + ${SubstrW - 1}], ' '))
       |                 for k in range(1, n - $SubstrW + 2)]) AS fp
       |  FROM tk),
       |fst AS (SELECT fp, min(doc_id) AS first_doc FROM win GROUP BY 1)
       |SELECT w.doc_id AS doc_id,
       |       CAST(max(w.n) - ${SubstrW - 1} AS BIGINT) AS n_windows,
       |       CAST(count(*) AS BIGINT) AS n_distinct,
       |       CAST(sum(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_first_seen,
       |       CAST(CAST(sum(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS novelty_frac
       |FROM win w JOIN fst f ON f.fp = w.fp
       |GROUP BY w.doc_id""".stripMargin

  // ---- 6a-bis. near-dup similarity histogram --------------------------------

  /** Histogram bins per unit of Jaccard in [[neardupSimHist]] (width 0.02). */
  val SimHistBins = 50

  /** Similarity histogram of the verified near-dup pairs — the
   * threshold-tuning curve for the MinHash dedup family: the
   * distribution of exact Jaccard over [[minhashLsh]]'s surviving pairs
   * shows whether [[MinHashThreshold]] sits in a natural valley (a
   * bimodal near-1.0 cluster of true dups vs a shoulder of coincidental
   * overlap) or is cutting through a mode — read it BEFORE moving the
   * dial. Output (bin, bin_lo, n_pairs, min_jaccard, max_jaccard) for
   * 0.02-wide bins; exact 1.0 lands in its own top bin.
   *
   * Shape: the dedup pipeline unchanged (its plan is pinned in its own
   * entry) plus ONE partial-agg groupBy to O([[SimHistBins]]) rows.
   * `floor()` BEFORE the cast pins the Spark-truncate vs DuckDB-round
   * cast divergence; min/max of the one-divide Jaccard doubles are
   * order-free. */
  /** Source-mix of the near-duplicate graph: every minhash near-dup
   * pair classified by its endpoints' (sorted) source pair — the
   * mirror-vs-repost diagnostic: mass ON the diagonal (same source
   * twice) is a feed re-serving its own content; OFF-diagonal mass is
   * cross-site mirroring, which per-source exact-dup rates
   * ([[Corpus.dupRateBySource]]) cannot see at all. Output
   * (source_a, source_b, n_pairs, min_jaccard, max_jaccard),
   * source_a ≤ source_b.
   *
   * Shape: the audited minhash pipeline unchanged, then two
   * broadcast-small joins to the (doc_id, source) projection and one
   * partial-capable aggregate on the O(|sources|²) pair key. The
   * similarity summary is min/max — ORDER-FREE over the one-divide
   * jaccard doubles — not a mean: a double mean is accumulation-order
   * dependent, and rounding a computed double into DECIMAL to fix that
   * diverges between engines (the recipe's shortest-rendering gotcha). */
  def neardupSourceMix(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    minhashLsh(docs)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
  }

  def neardupSourceMixSql(table: String): String =
    s"""WITH pairs AS (${minhashLshSql(table)})
       |SELECT least(da.source, db.source) AS source_a,
       |       greatest(da.source, db.source) AS source_b,
       |       count(*) AS n_pairs,
       |       min(jaccard) AS min_jaccard,
       |       max(jaccard) AS max_jaccard
       |FROM pairs p
       |JOIN $table da ON da.doc_id = p.id_a
       |JOIN $table db ON db.doc_id = p.id_b
       |GROUP BY 1, 2""".stripMargin

  def neardupSimHist(docs: DataFrame): DataFrame =
    minhashLsh(docs)
      .select(col("jaccard"),
        floor(col("jaccard") * SimHistBins).cast("bigint").as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
      .select(col("bin"),
        (col("bin").cast("double") / SimHistBins).as("bin_lo"),
        col("n_pairs"), col("min_jaccard"), col("max_jaccard"))

  def neardupSimHistSql(table: String): String =
    s"""WITH pairs AS (${minhashLshSql(table)}),
       |b AS (SELECT jaccard, CAST(floor(jaccard * $SimHistBins) AS BIGINT) AS bin
       |      FROM pairs)
       |SELECT bin, CAST(bin AS DOUBLE) / $SimHistBins AS bin_lo,
       |       count(*) AS n_pairs,
       |       min(jaccard) AS min_jaccard, max(jaccard) AS max_jaccard
       |FROM b GROUP BY bin""".stripMargin

  // ---- 6b. per-doc duplicated-content fraction ------------------------------

  /** Per-document duplicated-content fraction: what share of THIS doc's
   * sampled character grams also appear in some other document — the
   * doc-granular boilerplate profile (RefinedWeb-style near-dup content
   * accounting: a 0.9 doc is template chrome even if no single whole-doc
   * pair crosses a dedup threshold; [[Corpus.dupRateBySource]] answers
   * the same question per FEED, this per document). Gram universe =
   * the SAME content-defined 1-in-4-sampled, per-doc-distinct grams the
   * n-gram dedup and decontamination stages use
   * ([[graft.plans.CharGramSeq]]), so the three read on one scale.
   * Output (doc_id, n_grams, n_dup, dup_frac); docs too short for one
   * gram carry no row, identically in the oracle.
   *
   * Scale shape: one native gram pass (postings already per-doc
   * distinct — no global distinct shuffle), a vocabulary-keyed
   * map-side-combining df count (gram space Zipf-flattens), the
   * posting→df equi-join back on the gram, and one doc-keyed partial
   * aggregate. dup_frac is one IEEE divide of two exact counts. Unlike
   * the dedup path there is NO df cap here — no pair expansion ever
   * happens, df only feeds a boolean, so a billion-doc boilerplate gram
   * costs one aggregate row, not a bucket. */
  def dupFraction(docs: DataFrame): DataFrame = {
    val postings = {
      import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
      docs.select(col("doc_id"),
        explode(toCol(graft.plans.CharGramSeq(toExpr(col("text")), CharGram, SampleHexMax)))
          .as("gr"))
    }
    val dfr = postings.groupBy("gr").agg(count(lit(1)).as("df"))
    postings.join(dfr, "gr")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_grams"),
        count(when(col("df") >= 2, lit(1))).cast("bigint").as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double")).as("dup_frac"))
  }

  def dupFractionSql(table: String): String =
    s"""WITH postings AS ${sampledGramPostingsSql(table)},
       |dfr AS (SELECT gr, count(*) AS df FROM postings GROUP BY gr)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(count(CASE WHEN df >= 2 THEN 1 END) AS BIGINT) AS n_dup,
       |       CAST(count(CASE WHEN df >= 2 THEN 1 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS dup_frac
       |FROM postings JOIN dfr USING (gr)
       |GROUP BY doc_id""".stripMargin

  // ---- 7. document similarity search ---------------------------------------

  /** Bounded query set for [[simSearch]]: `doc_id % stride = 0 AND
   * doc_id < stride·budget` — at most [[SimQueryBudget]] query documents
   * at ANY corpus size (the [[graft.operators.VectorOps]] ANN query-
   * bound pattern, on doc ids). */
  val SimQueryStride = 50
  val SimQueryBudget = 10
  /** Results per query in [[simSearch]]. */
  val SimSearchK = 5

  /** Document similarity search: the [[SimSearchK]] most similar corpus
   * documents for each query document, by EXACT word-trigram-shingle
   * Jaccard — retrieval over the same similarity the MinHash dedup
   * family approximates ("find the near-copies / templated siblings of
   * THIS doc": attribution, contamination forensics on a specific leaked
   * benchmark item, dedup-threshold tuning against ground truth).
   * Candidates must share ≥ 1 shingle (Jaccard 0 is not a neighbor);
   * rank ties break by candidate id, so the k-set is total-ordered and
   * hash-compares. Output (query_id, cand_id, rank, shared, jaccard).
   *
   * Scale shape: the query side is O(1) rows by construction and
   * broadcasts; scoring is map-side against the one corpus shingle scan
   * (exact, deliberately linear per query — the text twin of
   * [[graft.operators.VectorOps.annBruteTopK]], and the ground truth an
   * LSH-bucketed search would be audited against); the rank-≤-k filter
   * partials through WindowGroupLimit so the only exchange carries
   * ≤ queries × k rows per map task. The one BroadcastNestedLoopJoin
   * multiplies by the bounded query set — PlanGuard budgets it like the
   * ANN brute shape. */
  def simSearch(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleDf(docs).withColumn("n", size(col("sh")))
    val queries = sh
      .filter(col("doc_id") % SimQueryStride === 0 &&
        col("doc_id") < lit(SimQueryStride.toLong * SimQueryBudget))
      .select(col("doc_id").as("query_id"), col("sh").as("qsh"), col("n").as("qn"))
    broadcast(queries).join(sh, col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id").as("cand_id"),
        intersectSize(col("qsh"), col("sh")).as("ji"), col("qn"), col("n"))
      .filter(col("ji") >= 1)
      .select(col("query_id"), col("cand_id"), col("ji").cast("bigint").as("shared"),
        jaccardFrom(col("ji"), col("qn"), col("n")).as("jaccard"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("jaccard").desc, col("cand_id"))).cast("bigint"))
      .filter(col("rank") <= SimSearchK)
      .select(col("query_id"), col("cand_id"), col("rank"), col("shared"), col("jaccard"))
  }

  def simSearchSql(table: String): String =
    s"""WITH toks AS (SELECT doc_id, ${TextSql.tokens("text")} AS toks FROM $table),
       |sh0 AS (SELECT doc_id, ${shinglesFromToksSql("toks")} AS sh FROM toks),
       |shf AS (SELECT doc_id, sh, len(sh) AS n FROM sh0 WHERE len(sh) > 0),
       |q AS (SELECT doc_id AS query_id, sh AS qsh, n AS qn FROM shf
       |      WHERE doc_id % $SimQueryStride = 0
       |        AND doc_id < ${SimQueryStride.toLong * SimQueryBudget}),
       |scored AS (
       |  SELECT query_id, c.doc_id AS cand_id,
       |         CAST(len(list_intersect(qsh, c.sh)) AS BIGINT) AS shared,
       |         ${jaccardSql("qsh", "c.sh")} AS jaccard
       |  FROM q JOIN shf c ON query_id <> c.doc_id
       |  WHERE len(list_intersect(qsh, c.sh)) >= 1)
       |SELECT query_id, cand_id, rank, shared, jaccard FROM (
       |  SELECT query_id, cand_id, shared, jaccard,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY jaccard DESC, cand_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $SimSearchK""".stripMargin

  // ---- 8. fuzzy edit-distance (prefix/title) dedup --------------------------

  /** Raw prefix taken before normalization (bounds the per-row regexp
   * work), and the normalized window actually compared. */
  val FuzzyRawLen = 96
  val FuzzyNormLen = 48
  /** Exact block-key length at each end of the window, max accepted
   * Levenshtein distance, and the shortest norm worth comparing (below
   * it, distance ≤ [[FuzzyMaxDist]] matches near-everything). */
  val FuzzyBlockLen = 8
  val FuzzyMaxDist = 4
  val FuzzyMinLen = 16

  /** Normalized comparison window: first [[FuzzyRawLen]] chars lowercased,
   * every non-alphanumeric run collapsed to one space, trimmed, cut to
   * [[FuzzyNormLen]]. One fixed expression, valid on both engines (the
   * DuckDB form differs only in `regexp_replace`'s explicit 'g' flag). */
  private def fuzzyNorm(text: Column): Column =
    substring(trim(regexp_replace(
      lower(substring(text, 1, FuzzyRawLen)), "[^a-z0-9]+", " ")), 1, FuzzyNormLen)

  /** Fuzzy near-dup pairs by EDIT DISTANCE on the normalized document
   * opening — the family the gram/sketch dedups don't cover: titles and
   * short openings that differ by a typo, a pluralization or a swapped
   * token survive every set-similarity screen (one changed shingle out
   * of five moves Jaccard only to 0.67) but sit at Levenshtein ≤ 4.
   * Candidates block on the EXACT first and last [[FuzzyBlockLen]] chars
   * of the window (two keys per doc — an edit near one end leaves the
   * other end's key intact, so any ≤ [[FuzzyMaxDist]]-edit pair whose
   * edits don't straddle both ends is caught); verification is
   * `levenshtein` on the [[FuzzyNormLen]]-char windows. Output
   * (id_a, id_b, dist), smaller id first.
   *
   * Shape — the simhash payload pattern: the window is ≤ 48 chars, so it
   * RIDES the posting through the one groupBy shuffle and verification
   * happens inline during in-bucket pair expansion — no join-back pass
   * over the corpus. Buckets are hard-capped at [[MaxBucket]] postings
   * via [[bucketBound]] (boilerplate openings — "copyright 2024 all
   * rights reserved" — are exactly the adversarial mass the cap exists
   * for), with drops surfacing as `graft_fuzzy_buckets` observed
   * metrics. Verification uses the THRESHOLD levenshtein — the banded
   * ~(2k+1)·48-cell DP (~430 cells at k=4) instead of the full ~2.3k-cell
   * matrix, per CANDIDATE (not per row); the blocking keeps candidates
   * near-linear in corpus size. */
  def fuzzyPrefixDedup(docs: DataFrame): DataFrame = {
    val norm = docs.select(col("doc_id"), fuzzyNorm(col("text")).as("norm"))
      .filter(length(col("norm")) >= FuzzyMinLen)
    val postings = norm.select(col("doc_id"), col("norm"),
      explode(array(
        concat(lit("p:"), substring(col("norm"), 1, FuzzyBlockLen)),
        concat(lit("s:"), expr(
          s"substring(norm, length(norm) - ${FuzzyBlockLen - 1}, $FuzzyBlockLen)"))))
        .as("blk"))
      .persist() // consumed by the bucket-size aggregate AND the pair expansion
    val (ok, sentinels) = bucketBound(postings, "blk", 2, MaxBucket)
    val es = col("es")
    val pairs = postings.join(ok, "blk")
      .groupBy(col("blk"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("norm")))).as("es"))
      .filter(size(es) >= 2 && size(es) <= MaxBucket)
      .select(es, posexplode(es).as(Seq("i", "ea")))
      .select(col("ea"), explode(slice(es, col("i") + 2, size(es) - col("i") - 1)).as("eb"))
      // THRESHOLD form: banded DP, O((2k+1)·n) per candidate instead of
      // the full O(n²) matrix, with a free abs-length-difference bail —
      // returns the exact distance when ≤ k and -1 otherwise, so the
      // ≥ 0 filter is the same predicate as `dist <= FuzzyMaxDist` (the
      // LevenshteinThresholdRule rewrite, applied by hand on the hot path)
      .select(col("ea.doc_id").as("id_a"), col("eb.doc_id").as("id_b"),
        levenshtein(col("ea.norm"), col("eb.norm"), FuzzyMaxDist)
          .cast("bigint").as("dist"))
      .filter(col("dist") >= 0) // verify BEFORE the dedup exchange
      .distinct()
    observeDrops(
      pairs.withColumn("is_sentinel", lit(false))
        .unionByName(sentinels.withColumn("dist", lit(null).cast("long"))),
      "graft_fuzzy_buckets")
  }

  def fuzzyPrefixDedupSql(table: String): String =
    s"""WITH n0 AS (
       |  SELECT doc_id,
       |         substring(trim(regexp_replace(lower(substring(text, 1, $FuzzyRawLen)),
       |                   '[^a-z0-9]+', ' ', 'g')), 1, $FuzzyNormLen) AS norm
       |  FROM $table),
       |n1 AS (SELECT doc_id, norm FROM n0 WHERE length(norm) >= $FuzzyMinLen),
       |posts AS (
       |  SELECT doc_id, norm, 'p:' || substring(norm, 1, $FuzzyBlockLen) AS blk FROM n1
       |  UNION ALL
       |  SELECT doc_id, norm,
       |         's:' || substring(norm, length(norm) - ${FuzzyBlockLen - 1}, $FuzzyBlockLen) AS blk
       |  FROM n1),
       |pok AS ${boundedSql("posts", "blk", MaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, a.norm AS na, b.doc_id AS id_b, b.norm AS nb
       |  FROM pok a JOIN pok b ON a.blk = b.blk AND a.doc_id < b.doc_id)
       |SELECT DISTINCT id_a, id_b, CAST(levenshtein(na, nb) AS BIGINT) AS dist
       |FROM cand WHERE levenshtein(na, nb) <= $FuzzyMaxDist""".stripMargin
}
