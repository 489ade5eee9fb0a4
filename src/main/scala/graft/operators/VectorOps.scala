package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.storage.StorageLevel

/** One banded vector record of the streaming incremental semantic dedup
 * (band key, id, quantized vector, squared norm, event time). */
private[operators] case class VecBandRec(
    bv: String, vec_id: Long, q: Seq[Long], n2: Long, ts: java.sql.Timestamp)

/** Per-band standing-corpus state: (old_id, q, n2, eventMs) entries +
 * the max event time seen (stream records included) for eviction. */
private[operators] case class VecBucketState(
    entries: List[(Long, Seq[Long], Long, Long)], maxEventTs: Long)

/** One streaming verdict fragment: NEW vector new_id matched OLD vector
 * old_id at `sim` ≥ threshold — the drop evidence; a new vector with no
 * emitted hit in any band is a keeper. */
case class SemIncHit(new_id: Long, old_id: Long, sim: Double, ts: java.sql.Timestamp)

/**
 * Similarity search over the `embeddings` table (`ARRAY<FLOAT>`, dim 64):
 * embedding-cosine near-duplicate detection, brute-force cosine top-k as
 * the correctness baseline, and a random-hyperplane-LSH bucketed variant
 * as the scale path (SURVEY.md §7.2-M7).
 *
 * == Determinism across engines ==
 * Floating-point dot products are summation-order-dependent, which would
 * break the DuckDB oracle hash-compare. Instead every vector is quantized
 * to exact integers: `q_i = floor(x_i * 2^20)` — the float→double widening
 * is exact, multiplying by a power of two is exact, floor is exact — and
 * all dot products / squared norms are then BIGINT arithmetic (≤ 2^46 for
 * dim-64 unit-scale vectors, no overflow). The only floating-point ops are
 * one multiply, one sqrt and one divide per pair — each a single
 * correctly-rounded IEEE op, bit-identical in Spark and DuckDB:
 *
 *   sim(a, b) = dot(qa, qb) / sqrt(double(|qa|²) * double(|qb|²))
 *
 * == Scale design ==
 * The brute-force paths broadcast the (tiny) query set and keep the big
 * side partition-local — no shuffle of the corpus. The LSH path buckets
 * the corpus by an 8-bit hyperplane-sign key (a plain shuffle-by-key), so
 * at 100 TB each bucket is ~1/256 of the corpus and the quadratic probe
 * never crosses buckets. Hyperplane components are ±1 derived from md5 at
 * PLAN TIME in Scala and embedded as literals in both the Spark plan and
 * the oracle SQL — no cross-engine RNG to disagree.
 */
object VectorOps {

  /** Quantization scale 2^20 — exact in double for |x| < 2^32. */
  val QuantScale = 1048576.0
  /** Embedding dimensionality of the shared table (TESTDATA.md). */
  val Dim = 64
  /** Cosine threshold for near-duplicate pairs (data tops out ~0.5 —
   * measured at sf0.01; planted near-dups sit above 0.4). */
  val NearDupSim = 0.4
  /** Query subset stride, query-set budget, and top-k sizes. The query
   * side of every ANN path is `vec_id % QueryStride == 0 AND vec_id <
   * QueryStride * QueryBudget` — at most [[QueryBudget]] rows at ANY
   * corpus size. A fraction-of-the-corpus query set (the pre-round-7
   * `% stride` alone) made the brute baseline's broadcast grow linearly
   * with the corpus — a guaranteed driver OOM at 100×; a fixed id budget
   * keeps all three baselines runnable at any scale (and is a no-op at
   * the shared test scales, whose ids stop well short of the cutoff). */
  val QueryStride = 50
  val QueryBudget = 100
  val BruteK = 5
  val LshK = 3
  /** LSH bucket-key width (hyperplane count) floor, ceiling, and the
   * expected-bucket-size target the derived width aims for. The width is
   * DERIVED from the corpus size ([[lshPlanesFor]]) so each query's probe
   * cost (its bucket, ~n/2^P rows) stays bounded as the corpus grows —
   * a fixed 8-bit key scanned corpus/256 per query, unbounded at 100×.
   * More planes also lower ANN recall (the standard cost dial); the
   * ceiling keeps the key from outrunning the plane pool. */
  val LshPlanes = 8
  val LshPlanesMax = 24
  val LshTargetBucket = 256

  // ---- quantization --------------------------------------------------------

  /** `ARRAY<FLOAT>` → exact `ARRAY<BIGINT>`: floor(x * 2^20). Native
   * [[graft.plans.QuantizeVec]] — value-identical to the `transform`
   * composition it replaces (see the expression's scaladoc). */
  def quantize(emb: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.QuantizeVec(toExpr(emb)))
  }

  private def quantizeSql(emb: String): String =
    s"[CAST(floor(CAST(x AS DOUBLE) * $QuantScale) AS BIGINT) for x in $emb]"

  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  /** Squared norm of a quantized vector (BIGINT, exact). */
  def norm2(q: Column): Column = dot(q, q)

  /** Exact integer dot product of two quantized vectors — native codegen'd
   * expression ([[graft.plans.LongDot]]); value-identical to
   * `aggregate(zip_with(qa, qb, (x,y) -> x*y), 0L, +)` but ~100× cheaper
   * than the interpreted higher-order path on million-pair joins. */
  def dot(qa: Column, qb: Column): Column =
    toCol(graft.plans.LongDot(toExpr(qa), toExpr(qb)))

  /** Cosine similarity from exact integer parts — 3 IEEE ops, deterministic. */
  def cosine(dotQ: Column, n2a: Column, n2b: Column): Column =
    dotQ.cast("double") / sqrt(n2a.cast("double") * n2b.cast("double"))

  /** DuckDB-side exact integer dot. `list_dot_product` returns DOUBLE,
   * but at these magnitudes the double IS the exact integer: every
   * product is an integer ≤ 2^21 × 2^21 = 2^42, every partial sum an
   * integer ≤ [[Dim]] × 2^42 = 2^48 < 2^53, and doubles represent all
   * integers below 2^53 — so the result is order-independent and the
   * BIGINT cast lossless. The previous indexed-comprehension form
   * (`list_sum([qa[i] * qb[i] for i in range ...])`) was semantically
   * identical but ~1000× slower: DuckDB re-evaluates an indexed list
   * EXPRESSION per element access (the engine-side gotcha mirrored),
   * which made the two candidate-verify oracles the multi-hour tail of
   * every full sf0.1 compare (emb_neardup 30 min, semantic_dedup
   * 50 min → seconds). */
  private def dotSql(qa: String, qb: String): String =
    s"CAST(list_dot_product($qa, $qb) AS BIGINT)"

  private def cosineSql(dot: String, n2a: String, n2b: String): String =
    s"(CAST($dot AS DOUBLE) / sqrt(CAST($n2a AS DOUBLE) * CAST($n2b AS DOUBLE)))"

  /** Exact corpus size — deliberately NOT the optimizer's rowCount
   * estimate: the oracle derives the same parameter from `count(*)`, and
   * a stale catalog statistic on the Spark side would silently diverge
   * the two plans. Served by [[ScanMemo]], so only the FIRST operator
   * launch over a given scan pays the plan-time count job. */
  private def corpusSize(df: DataFrame): Long = ScanMemo.exactCount(df)

  /** The bounded ANN query-set predicate (see [[QueryBudget]]) and its
   * verbatim SQL mirror. */
  private def queryBound: Column =
    col("vec_id") % QueryStride === 0 &&
      col("vec_id") < lit(QueryStride.toLong * QueryBudget)

  private def queryBoundSql: String =
    s"vec_id % $QueryStride = 0 AND vec_id < ${QueryStride.toLong * QueryBudget}"

  /** (vec_id, q, n2) projection — the one narrow map-side pass over the
   * corpus that everything else builds on.
   *
   * Memoized per (session, scan) by [[ScanMemo]], like
   * [[DedupClusters.minhashLabels]]: SEVENTEEN registered vector queries
   * each start from this identical pure projection of the immutable
   * embeddings scan, so a session running the family end-to-end used to
   * re-scan + re-quantize the corpus once per query (round-11 verdict
   * item #4). The memo persists the projection once and hands every
   * consumer the same relation — exactly what a production pipeline does
   * explicitly by materializing its quantized embeddings table. Plan
   * shape at scale is unchanged: a cold session's first query still
   * contains the full scan+quantize lineage, and non-scan inputs
   * (test-constructed frames) fall back to a fresh projection per call.
   * A harness `catalog.clearCache()` between queries drops the persist;
   * the next consumer re-registers it (one recompute, then shared
   * again), so the memo never serves a silently-unpersisted frame. */
  private def quantized(embeddings: DataFrame): DataFrame =
    ScanMemo.getOrCompute("quantized", embeddings)(quantizedFresh(embeddings).persist()) match {
      case None => quantizedFresh(embeddings)
      case Some(qn) =>
        if (qn.storageLevel == StorageLevel.NONE) qn.persist()
        qn
    }

  private def quantizedFresh(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .select(col("vec_id"), col("q"), norm2(col("q")).as("n2"))

  private def quantizedSql(table: String): String =
    s"""q0 AS (SELECT vec_id, ${quantizeSql("embedding")} AS q FROM $table),
       |qn AS (SELECT vec_id, q, ${dotSql("q", "q")} AS n2 FROM q0)""".stripMargin

  // ---- 1. embedding-cosine near-dup ----------------------------------------

  /** Banded-LSH near-dup parameters, DERIVED from the corpus size. A pair
   * is a CANDIDATE iff some band's R hyperplane sign bits all agree;
   * candidates are then verified exactly against [[NearDupSim]] — the same
   * s-curve banding as the MinHash dedup (`TextDedup.minhashLsh`).
   *
   * Scaling: a band of R sign bits hashes a corpus of n vectors into 2^R
   * buckets, so the expected in-band bucket is n/2^R — R must GROW with
   * the corpus (fixed R=2 put ~n/4 of a 100 TB corpus in every bucket and
   * the candidate join went quadratic; round-5 verdict item #1).
   * [[nearDupRowsFor]] solves R ≥ log2(n / [[NearDupTargetBucket]]) from
   * ONE plan-time count — the checked plan IS the 100× plan — and the
   * band count B keeps recall: per-plane agreement at cosine c is
   * p = 1 − arccos(c)/π, band-match prob p^R, recall = 1 − (1 − p^R)^B,
   * so [[NearDupBandTable]] holds B(R) = ⌈ln(1−recall)/ln(1−p^R)⌉ at
   * recall [[NearDupRecall]]. The table is computed ONCE in Scala from
   * (threshold, recall) and its INTEGER entries are spliced into both the
   * Spark plan and the oracle SQL — no arccos/ln evaluated cross-engine.
   *
   * R is clamped at [[NearDupRowsMax]]: at this corpus's low operating
   * point (c ≈ 0.4, p ≈ 0.63) each extra plane per band multiplies B by
   * ~1/p, so B(R) grows ~1.6× per step and the plane budget bounds R.
   * A production near-dup at c ≥ 0.9 (p ≈ 0.9) sustains far larger R for
   * the same budget — the table recomputes automatically from the
   * threshold. Beyond the clamp, the [[TextDedup.boundedBucketPairs]] cap
   * drops residual hot buckets with observed drop metrics, exactly as the
   * text dedups do. */
  val NearDupTargetBucket = 256
  /** Hard per-bucket posting cap — oversize buckets are duplicate MASS
   * (run exact dedup first); dropped with observed metrics. */
  val NearDupMaxBucket = 256
  val NearDupRecall = 0.9
  /** Posting-amplification budget: a banding scheme indexes each vector
   * into B buckets, so B is the multiplier on the one candidate shuffle.
   * The deepest affordable R at a given threshold is the largest R whose
   * recall-preserving band count B(R) fits this budget — the budget, not
   * a compile-time constant, is what clamps R ([[bandRowsMaxFor]]). At
   * this corpus's low 0.4 threshold (p ≈ 0.63, B grows ~1.6×/plane) the
   * budget affords R = 8 → non-degenerate buckets to ~16M vectors; at a
   * production c = 0.9 (p ≈ 0.86) it affords R = 24 → ~4×10⁹ vectors.
   * Past the affordable R the hard [[NearDupMaxBucket]] cap still drops
   * residual hot buckets with observed metrics. */
  val BandBudget = 96

  /** Banding table for an arbitrary cosine threshold: R → the minimal
   * band count B reaching [[NearDupRecall]] at the threshold's per-plane
   * agreement probability p = 1 − arccos(c)/π, i.e.
   * B(R) = ⌈ln(1−recall)/ln(1−p^R)⌉ — for every R whose B fits
   * [[BandBudget]]. Computed ONCE in Scala; callers splice the INTEGER
   * entries into both engines' plans, so no arccos/ln ever evaluates
   * cross-engine. At the default threshold this reproduces the pre-
   * round-7 table {2→5, 3→8, 4→14, 5→22, 6→36} and extends it to 8. */
  def bandTableFor(threshold: Double): Map[Int, Int] = {
    require(threshold > 0.0 && threshold < 1.0, s"cosine threshold in (0,1): $threshold")
    val p = 1.0 - math.acos(threshold) / math.Pi
    Iterator.from(1)
      .map { r =>
        val bandMiss = 1.0 - math.pow(p, r)
        r -> math.max(1,
          math.ceil(math.log(1.0 - NearDupRecall) / math.log(bandMiss)).toInt)
      }
      .takeWhile(_._2 <= BandBudget)
      .toMap
  }

  /** Deepest R affordable at `threshold` under [[BandBudget]]. */
  def bandRowsMaxFor(threshold: Double): Int = bandTableFor(threshold).keys.max

  /** The table/clamp at the CHECKED query's threshold [[NearDupSim]]. */
  val NearDupBandTable: Map[Int, Int] = bandTableFor(NearDupSim)
  val NearDupRowsMax: Int = bandRowsMaxFor(NearDupSim)

  /** Hyperplanes per band for a corpus of `n` vectors: integer-exact
   * ceil(log2(ceil(n/target))) via bit-length (the
   * `TextDedup.simhashChunksFor` contract — the oracle derives the
   * identical value with the same length(bin(m-1))), clamped to
   * [2, `rowsMax`] — the caller passes the budget-derived clamp for its
   * own threshold ([[bandRowsMaxFor]]). */
  def nearDupRowsFor(n: Long, targetBucket: Int = NearDupTargetBucket,
                     rowsMax: Int = NearDupRowsMax): Int = {
    val m = (math.max(n, 1L) + targetBucket - 1) / targetBucket
    val w = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(2, math.min(rowsMax, w))
  }

  /** Canonical plane pool: band j (0-based) always uses planes
   * [j·R, (j+1)·R) of [[hyperplanesN]]'s fixed sequence, so the Spark
   * plan (which embeds only the R·B planes it needs) and the oracle
   * (which embeds the full pool and substrings a bit STRING by the
   * SQL-derived R, B) hash every vector into identical band keys. */
  val NearDupMaxPlanes: Int = NearDupRowsMax * NearDupBandTable(NearDupRowsMax)

  /** Band keys ("j:" + sign bits of the band's hyperplanes) for the
   * near-dup blocking at derived (R=`rows`, B=`bands`). Native
   * [[graft.plans.LongDot]] against plan-time literal hyperplanes —
   * codegen'd, no interpreted lambda per element. */
  def nearDupBandKeys(q: Column, rows: Int, bands: Int): Column = {
    val planes = hyperplanesN(rows * bands)
    array((0 until bands).map { j =>
      val bits = (0 until rows).map { k =>
        val h = typedLit(planes(j * rows + k).map(_.toLong))
        when(dot(q, h) >= 0, lit("1")).otherwise(lit("0"))
      }
      concat(lit(s"$j:") +: bits: _*)
    }: _*)
  }

  /** Near-duplicate pairs with cosine ≥ `threshold`, candidates blocked
   * by banded hyperplane LSH with corpus-derived (R, B) — see
   * [[bandTableFor]]. The threshold is the OPERATING POINT, not a
   * constant: it fixes the per-plane agreement probability, hence the
   * band table AND the deepest affordable R ([[bandRowsMaxFor]]) — the
   * checked query runs at this corpus's measured [[NearDupSim]] = 0.4,
   * a production crawl dedup at c ≥ 0.9 gets R up to 24 and
   * non-degenerate buckets to ~4×10⁹ vectors from the same plane budget.
   * Candidate generation is [[TextDedup.boundedBucketPairs]]: ONE
   * groupBy shuffle on the band key with the [[NearDupMaxBucket]] cap
   * enforced before any list is collected, oversize drops surfacing as
   * observed metrics (`graft_embneardup_buckets`). Only in-bucket pairs
   * pay the exact-cosine verify. Documented approximation (mirrored
   * exactly by the oracle): a qualifying pair agreeing on no band is
   * missed — 1 − recall ≈ 10% worst-case AT the threshold, much less
   * above it. Output (id_a, id_b, sim), id_a < id_b. */
  /** Broadcast budget for the verify side's (vec_id, q, n2) relation, in
   * rows: a row is ~550 B (64 longs + hash-map overhead), so 49152 rows
   * ≈ 27 MB — comfortably broadcastable. Below the budget both verify
   * joins broadcast the vector relation, so the RAW candidate stream is
   * never exchanged (it pipelines generate → hash-probe → sim filter in
   * one stage); above it they build a shuffled-hash join on the vector
   * side — the exchanges then cost O(candidates), the honest price once
   * the corpus outgrows every executor. The branch derives from the SAME
   * cached count as (R, B), so the checked plan is the 100× plan modulo
   * one planner-grade size gate — the [[IvfCentroidBudget]] pattern.
   * Explicit because the raw pair stream (post-generate) has no usable
   * stats: left alone, the planner mis-broadcasts the 74M-row PAIR side. */
  val NearDupBroadcastRows = 49152L

  /** The verify-join build side for a raw (unpersisted, stats-free)
   * candidate pair stream: broadcast the quantized-vector relation under
   * the [[NearDupBroadcastRows]] budget, shuffled-hash build above it —
   * shared by [[embeddingNearDup]] and [[semanticDedup]]. */
  private def vecJoinSide(n: Long): DataFrame => DataFrame =
    d => if (n <= NearDupBroadcastRows) broadcast(d) else d.hint("shuffle_hash")

  def embeddingNearDup(embeddings: DataFrame,
                       threshold: Double = NearDupSim): DataFrame = {
    val table = bandTableFor(threshold)
    val n = corpusSize(embeddings)
    val rows = nearDupRowsFor(n, rowsMax = table.keys.max)
    val bands = table(rows)
    // persist: the narrow (id, q, n2) projection feeds band generation AND
    // both verify joins.
    val qn = quantized(embeddings).persist()
    val banded = qn.select(col("vec_id").as("doc_id"),
      explode(nearDupBandKeys(col("q"), rows, bands)).as("bv"))
    // verify-then-distinct: candidates come out of the buckets RAW (a pair
    // repeats once per agreeing band, ~1.3× duplication here) and the
    // cross-band dedup runs over the sim-filtered SURVIVORS. Value-identical
    // — sim is a deterministic function of the pair — but the exchanges now
    // scale with the OUTPUT, not the candidate set (sf1: 169k survivors vs
    // 57M distinct candidates; the old plan shuffled the candidate set three
    // times — distinct + two verify joins — before filtering anything).
    val staged = TextDedup.boundedRawBucketPairs(banded, "bv", 2, NearDupMaxBucket)
    val vecSide = vecJoinSide(n)
    val verified = staged.filter(!TextDedup.isSentinel)
      .select(col("id_a"), col("id_b"))
      .join(vecSide(qn.select(col("vec_id").as("id_a"), col("q").as("qa"), col("n2").as("na"))), "id_a")
      .join(vecSide(qn.select(col("vec_id").as("id_b"), col("q").as("qb"), col("n2").as("nb"))), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
    TextDedup.observeDrops(
      verified.withColumn("is_sentinel", lit(false))
        .unionByName(staged.filter(TextDedup.isSentinel)
          .withColumn("sim", lit(null).cast("double"))),
      "graft_embneardup_buckets")
  }

  /** Oracle: the full [[NearDupMaxPlanes]]-plane pool is embedded as
   * literals, each vector's sign bits concatenate into one bit STRING,
   * and the SQL-derived (r, b) — same count, same formula, same integer
   * band table — select band substrings. Identical keys, identical cap,
   * identical verify. */
  def embeddingNearDupSql(table: String): String = {
    val planes = hyperplanesN(NearDupMaxPlanes)
    // variadic concat, not a ||-chain: DuckDB's binder recurses per ||
    // and 216 planes blow its 128-deep recursion limit
    val bitStr = planes.map { h =>
      val lit = h.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(q, $lit) >= 0 THEN '1' ELSE '0' END)"
    }.mkString("concat(", ", ", ")")
    val bandCase = NearDupBandTable.toSeq.sorted
      .map { case (r, b) => s"WHEN $r THEN $b" }.mkString(" ")
    s"""WITH ${quantizedSql(table)},
       |params AS (
       |  SELECT r, CASE r $bandCase END AS b FROM (
       |    SELECT GREATEST(2, LEAST($NearDupRowsMax,
       |             CASE WHEN m <= 1 THEN 0 ELSE CAST(length(bin(m - 1)) AS INT) END)) AS r
       |    FROM (SELECT (count(*) + ${NearDupTargetBucket - 1}) // $NearDupTargetBucket AS m
       |          FROM $table))),
       |bits AS (SELECT vec_id, $bitStr AS bs FROM qn),
       |banded AS (
       |  SELECT vec_id AS doc_id,
       |         unnest([(j - 1)::VARCHAR || ':' || substr(bs, (j - 1) * r + 1, r)
       |                 for j in range(1, b + 1)]) AS bv
       |  FROM bits CROSS JOIN params),
       |bok AS ${TextDedup.boundedSql("banded", "bv", NearDupMaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bok a JOIN bok b ON a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT c.id_a AS id_a, c.id_b AS id_b,
       |       ${cosineSql(dotSql("a.q", "b.q"), "a.n2", "b.n2")} AS sim
       |FROM cand c
       |JOIN qn a ON a.vec_id = c.id_a
       |JOIN qn b ON b.vec_id = c.id_b
       |WHERE ${cosineSql(dotSql("a.q", "b.q"), "a.n2", "b.n2")} >= $NearDupSim""".stripMargin
  }

  /** New-crawl share for [[semanticIncremental]]'s deterministic split:
   * vec_id % this == 0 plays the freshly-embedded batch, the rest the
   * standing corpus (the [[TextDedup.incremental]] convention applied
   * to vectors). */
  val SemIncNewMod = 5

  /** Incremental (new-batch × standing-corpus) semantic dedup — the
   * vector twin of [[TextDedup.incremental]]: every NEW vector is
   * dropped iff some OLD vector sits within cosine `threshold`. The
   * everyday shape of SemDeDup in production is exactly this — a fresh
   * crawl's embeddings screened against the corpus WITHOUT re-clustering
   * the corpus itself.
   *
   * Scale shape: candidates are CROSS-SIDE ONLY — new postings equi-join
   * old postings on the derived-(R, B) hyperplane band key, so no
   * old×old or new×new pair is ever enumerated; old-side buckets are
   * capped at [[NearDupMaxBucket]] (an oversize old bucket is duplicate
   * mass the standing corpus should have collapsed already); one
   * groupBy-free band shuffle + two narrow verify joins. Output
   * (vec_id, keep) over the new batch. */
  def semanticIncremental(embeddings: DataFrame,
                          threshold: Double = SemDedupSim): DataFrame = {
    val table = bandTableFor(threshold)
    val rows = nearDupRowsFor(corpusSize(embeddings), rowsMax = table.keys.max)
    val bands = table(rows)
    val qn = quantized(embeddings).persist() // bands + both verify sides
    val isNew = col("vec_id") % SemIncNewMod === 0
    val banded = qn.select(col("vec_id"),
      explode(nearDupBandKeys(col("q"), rows, bands)).as("bv"), isNew.as("is_new"))
    val oldB = banded.filter(!col("is_new")).select(col("vec_id").as("old_id"), col("bv"))
    val okOld = oldB.groupBy(col("bv")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= NearDupMaxBucket).select("bv")
    val cand = banded.filter(col("is_new")).select(col("vec_id").as("new_id"), col("bv"))
      .join(oldB.join(okOld, "bv"), "bv")
      .select(col("new_id"), col("old_id")).distinct()
    val dropped = cand
      .join(qn.select(col("vec_id").as("new_id"), col("q").as("qa"), col("n2").as("na")), "new_id")
      .join(qn.select(col("vec_id").as("old_id"), col("q").as("qb"), col("n2").as("nb")), "old_id")
      .filter(cosine(dot(col("qa"), col("qb")), col("na"), col("nb")) >= threshold)
      .select(col("new_id")).distinct()
    qn.filter(isNew).select(col("vec_id"))
      .join(dropped.select(col("new_id").as("vec_id"), lit(true).as("hit")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("hit").isNull.as("keep"))
  }

  /** Oracle: [[embeddingNearDupSql]]'s bit-string/derived-(r, b)
   * machinery with the band join restricted to new×old and the old side
   * bucket-capped — the [[TextDedup.incrementalSql]] shape on vectors.
   * Takes the SAME threshold parameter as [[semanticIncremental]] and
   * derives its band table / R clamp / plane pool from it, so a
   * non-default operating point cannot silently diverge from the oracle
   * that checks it (round-11 advice). At the default the emitted text is
   * unchanged ([[SemDedupSim]] == [[NearDupSim]] → same tables). */
  def semanticIncrementalSql(table: String,
                             threshold: Double = SemDedupSim): String = {
    val bandTable = bandTableFor(threshold)
    val rowsMax = bandTable.keys.max
    val planes = hyperplanesN(rowsMax * bandTable(rowsMax))
    val bitStr = planes.map { h =>
      val lit = h.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(q, $lit) >= 0 THEN '1' ELSE '0' END)"
    }.mkString("concat(", ", ", ")")
    val bandCase = bandTable.toSeq.sorted
      .map { case (r, b) => s"WHEN $r THEN $b" }.mkString(" ")
    s"""WITH ${quantizedSql(table)},
       |params AS (
       |  SELECT r, CASE r $bandCase END AS b FROM (
       |    SELECT GREATEST(2, LEAST($rowsMax,
       |             CASE WHEN m <= 1 THEN 0 ELSE CAST(length(bin(m - 1)) AS INT) END)) AS r
       |    FROM (SELECT (count(*) + ${NearDupTargetBucket - 1}) // $NearDupTargetBucket AS m
       |          FROM $table))),
       |bits AS (SELECT vec_id, $bitStr AS bs FROM qn),
       |banded AS (
       |  SELECT vec_id, vec_id % $SemIncNewMod = 0 AS is_new,
       |         unnest([(j - 1)::VARCHAR || ':' || substr(bs, (j - 1) * r + 1, r)
       |                 for j in range(1, b + 1)]) AS bv
       |  FROM bits CROSS JOIN params),
       |oldb AS (SELECT vec_id AS old_id, bv FROM banded WHERE NOT is_new),
       |okb AS (SELECT bv FROM (SELECT bv, count(*) AS n FROM oldb GROUP BY 1)
       |        WHERE n <= $NearDupMaxBucket),
       |cand AS (
       |  SELECT DISTINCT nw.vec_id AS new_id, ob.old_id
       |  FROM (SELECT vec_id, bv FROM banded WHERE is_new) nw
       |  JOIN (SELECT o.* FROM oldb o JOIN okb USING (bv)) ob ON nw.bv = ob.bv),
       |dropped AS (
       |  SELECT DISTINCT c.new_id
       |  FROM cand c
       |  JOIN qn a ON a.vec_id = c.new_id
       |  JOIN qn b ON b.vec_id = c.old_id
       |  WHERE ${cosineSql(dotSql("a.q", "b.q"), "a.n2", "b.n2")} >= $threshold)
       |SELECT q.vec_id AS vec_id, (d.new_id IS NULL) AS keep
       |FROM qn q LEFT JOIN dropped d ON q.vec_id = d.new_id
       |WHERE q.vec_id % $SemIncNewMod = 0""".stripMargin
  }

  /** Streaming form of [[semanticIncremental]] — the standing corpus's
   * band postings live in the STATE STORE (loaded as
   * `flatMapGroupsWithState` initial state), freshly-embedded vectors
   * stream in, and every new×old band collision within `retention` is
   * cosine-verified in place. Emits [[SemIncHit]] drop evidence
   * (append mode): a new vector with NO hit across its bands is a
   * keeper — exactly the batch operator's `keep = false` set, pinned
   * streaming ≡ batch by `StreamingDedupSpec`.
   *
   * Cross-side-only, as the batch twin: new vectors NEVER enter state
   * (no new×new pairs, no state growth with the stream — per-bucket
   * state is bounded by the standing corpus's capped postings), and
   * oversize standing buckets (> [[NearDupMaxBucket]]) are dropped at
   * initial-state build exactly like the batch `okOld` filter.
   * Event-time retention: standing entries stop matching once the
   * bucket's stream time passes their horizon and are physically
   * evicted on the next access ([[TextDedup.streamingMinhashCandidates]]'
   * eviction contract applied to the vector state).
   *
   * `rows`/`bands` must be the SAME derived banding the batch run uses
   * ([[nearDupRowsFor]] + [[bandTableFor]] over the corpus count) — the
   * caller owns the derivation because a stream has no plan-time
   * count. */
  def streamingSemanticIncremental(newVecs: DataFrame, standing: DataFrame,
                                   retention: java.time.Duration,
                                   rows: Int, bands: Int,
                                   threshold: Double = SemDedupSim): DataFrame = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val retMs = retention.toMillis
    def banded(df: DataFrame): Dataset[VecBandRec] =
      df.select(col("vec_id"), col("ts"), quantize(col("embedding")).as("q"))
        .withColumn("n2", norm2(col("q")))
        .withColumn("bv", explode(nearDupBandKeys(col("q"), rows, bands)))
        .select(col("bv"), col("vec_id"), col("q"), col("n2"), col("ts"))
        .as[VecBandRec]
    val initPairs: Dataset[(String, VecBucketState)] = banded(standing)
      .groupByKey(_.bv)
      .mapGroups { (bv, it) =>
        val es = it.map(r => (r.vec_id, r.q, r.n2, r.ts.getTime)).toList
        // an oversize OLD bucket is duplicate mass the standing corpus
        // should already have collapsed — dropped whole, the batch okOld cap
        val s = if (es.lengthCompare(NearDupMaxBucket) > 0)
          VecBucketState(Nil, Long.MinValue)
        else VecBucketState(es, es.iterator.map(_._4).max)
        (bv, s)
      }
    banded(newVecs.withWatermark("ts", s"$retMs milliseconds"))
      .groupByKey(_.bv)
      .flatMapGroupsWithState[VecBucketState, SemIncHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout,
        initPairs.groupByKey(_._1).mapValues(_._2)) {
        (_, recs, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val s0 = state.getOption.getOrElse(VecBucketState(Nil, Long.MinValue))
            val (s1, out) = semIncTransition(recs, s0, retMs, threshold)
            if (s1.entries.isEmpty) state.remove()
            else {
              state.update(s1)
              // horizon cleanup once the watermark passes the bucket's
              // newest event (streamingMinhashCandidates' contract)
              state.setTimeoutTimestamp(s1.maxEventTs + retMs)
            }
            out.iterator
          }
      }
      .toDF()
  }

  /** Pure per-bucket transition of [[streamingSemanticIncremental]] —
   * extracted for unit tests (the engine's within-batch group order is
   * not deterministic). Evicts horizon-stale standing entries BEFORE
   * matching, guards each pair by the event-time span, verifies with
   * the exact integer dot + 3-IEEE-op cosine, and never admits a new
   * vector into state. */
  private[operators] def semIncTransition(recs: IterableOnce[VecBandRec],
                                          s0: VecBucketState,
                                          retMs: Long,
                                          threshold: Double): (VecBucketState, List[SemIncHit]) = {
    val out = List.newBuilder[SemIncHit]
    var entries = s0.entries
    var maxTs = s0.maxEventTs
    recs.iterator.foreach { r =>
      val t = r.ts.getTime
      maxTs = math.max(maxTs, t)
      entries = entries.filter(_._4 >= maxTs - retMs)
      entries.foreach { case (oid, oq, on2, ots) =>
        if (oid != r.vec_id && math.abs(ots - t) <= retMs) {
          var d = 0L
          var i = 0
          while (i < oq.length && i < r.q.length) { d += oq(i) * r.q(i); i += 1 }
          // degenerate zero vectors give sim NaN, which never ≥ threshold
          val sim = d.toDouble / math.sqrt(on2.toDouble * r.n2.toDouble)
          if (sim >= threshold)
            out += SemIncHit(r.vec_id, oid, sim,
              new java.sql.Timestamp(math.max(ots, t)))
        }
      }
    }
    (VecBucketState(entries, maxTs), out.result())
  }

  /** The exact all-pairs baseline the bucketed [[embeddingNearDup]] is
   * measured against (recall test in OperatorsSpec — NOT a checked query:
   * the O(n²) cartesian compare dies at 100× scale). */
  private[graft] def embeddingNearDupBrute(embeddings: DataFrame,
                                           threshold: Double = NearDupSim): DataFrame = {
    val qn = quantized(embeddings)
    val a = qn.select(col("vec_id").as("id_a"), col("q").as("qa"), col("n2").as("na"))
    val b = qn.select(col("vec_id").as("id_b"), col("q").as("qb"), col("n2").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(dot(col("qa"), col("qb")), col("na"), col("nb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  // ---- 2. brute-force cosine top-k -----------------------------------------

  /** Top-[[BruteK]] cosine neighbors for every query vector under the
   * [[QueryBudget]] id bound, self excluded; ties broken by neighbor id.
   * The query side is O(1) by construction (≤ [[QueryBudget]] rows at any
   * corpus size) → the explicit broadcast is always safe and the corpus
   * never shuffles; ranking shuffles only (query × k) candidate rows. */
  def annBruteTopK(embeddings: DataFrame): DataFrame = {
    val qn = quantized(embeddings)
    val queries = qn.filter(queryBound)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("nq"))
    val scored = broadcast(queries).join(qn, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(dot(col("qq"), col("q")), col("nq"), col("n2")).as("sim"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= BruteK)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"), col("sim"))
  }

  def annBruteTopKSql(table: String): String =
    s"""WITH ${quantizedSql(table)},
       |queries AS (SELECT vec_id AS query_id, q AS qq, n2 AS nq FROM qn WHERE $queryBoundSql),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |         ${cosineSql(dotSql("qq", "c.q"), "nq", "c.n2")} AS sim
       |  FROM queries JOIN qn c ON query_id <> c.vec_id)
       |SELECT query_id, neighbor_id, rank, sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $BruteK""".stripMargin

  // ---- 2b. kNN majority-vote labeling --------------------------------------

  /** Neighbors consulted per query in [[knnLabel]]. */
  val KnnK = 10

  /** kNN auto-labeling: each query vector (the [[QueryBudget]]-bounded
   * set) takes the majority label of its [[KnnK]] nearest labeled
   * neighbors by exact cosine — the label-propagation / classifier-free
   * auto-annotation step of an embedding-curated training pipeline
   * (predict a quality/domain/topic tag for new vectors from the
   * already-labeled corpus). Vote ties break to the SMALLEST label,
   * neighbor-rank ties to the smallest neighbor id — fully ordered, so
   * the result hash-compares cross-engine. Output (query_id, pred_label,
   * votes, best_sim) where `best_sim` is the winning label's closest
   * neighbor (an auditable confidence signal).
   *
   * Scale: the labeled corpus is scanned ONCE (label rides the quantize
   * projection — no self-join) and never shuffles: queries broadcast
   * (O(1) rows by construction), scoring is map-side, and
   * WindowGroupLimit partials the rank-≤-k filter before the exchange,
   * so the ranking shuffle carries ≤ queries × k rows per map task —
   * the [[annBruteTopK]] shape with a vote aggregate (queries × ≤ k
   * rows, trivially final) on top. For full-corpus labeling swap the
   * scoring stage for [[annIvfTopK]]'s cell-local candidates; the vote
   * stage is unchanged. */
  def knnLabel(embeddings: DataFrame, k: Int = KnnK): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val corpus = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("q"), col("label"))
      .select(col("vec_id"), col("q"), norm2(col("q")).as("n2"), col("label"))
    val queries = corpus.filter(queryBound)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("nq"))
    val scored = broadcast(queries).join(corpus, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        cosine(dot(col("qq"), col("q")), col("nq"), col("n2")).as("sim"))
    val topk = scored
      .withColumn("rank", row_number().over(
        W.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
    topk.groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), max(col("sim")).as("best_sim"))
      .withColumn("vr", row_number().over(
        W.partitionBy("query_id").orderBy(col("votes").desc, col("label").asc)))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("label").cast("bigint").as("pred_label"),
        col("votes"), col("best_sim"))
  }

  def knnLabelSql(table: String, k: Int = KnnK): String =
    s"""WITH ${quantizedSql(table)},
       |corpus AS (SELECT qn.vec_id, qn.q, qn.n2, e.label
       |           FROM qn JOIN $table e USING (vec_id)),
       |queries AS (SELECT vec_id AS query_id, q AS qq, n2 AS nq
       |            FROM corpus WHERE $queryBoundSql),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id, c.label,
       |         ${cosineSql(dotSql("qq", "c.q"), "nq", "c.n2")} AS sim
       |  FROM queries JOIN corpus c ON query_id <> c.vec_id),
       |topk AS (
       |  SELECT query_id, label, sim FROM (
       |    SELECT query_id, label, sim,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY sim DESC, neighbor_id) AS rank
       |    FROM scored)
       |  WHERE rank <= $k),
       |votes AS (
       |  SELECT query_id, label, count(*) AS votes, max(sim) AS best_sim
       |  FROM topk GROUP BY query_id, label)
       |SELECT query_id, CAST(label AS BIGINT) AS pred_label, votes, best_sim
       |FROM (SELECT query_id, label, votes, best_sim,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY votes DESC, label ASC) AS vr
       |      FROM votes)
       |WHERE vr = 1""".stripMargin

  // ---- 2c. hard-negative mining ---------------------------------------------

  /** Hard negatives returned per query in [[hardNegatives]]. */
  val HardNegK = 5

  /** Hard-negative mining — the training-pair construction step of a
   * contrastive retrieval/embedding pipeline (DPR, Contriever family):
   * for each query vector the [[HardNegK]] MOST-similar vectors with a
   * DIFFERENT label (the negatives that actually move the loss), each
   * with the query's best same-label similarity (`pos_sim`) and the
   * margin `pos_sim − sim` alongside — a NEGATIVE margin means some
   * other-label vector sits closer than every positive, the
   * mislabel/hard-case signal a curation pass reviews first. A query
   * whose label is unique in the corpus has no positive: pos_sim and
   * margin are NULL on both engines. Output (query_id, neighbor_id,
   * rank, sim, pos_sim, margin).
   *
   * Scale: the [[knnLabel]] shape exactly — labels ride the one corpus
   * scan, the O(1)-bounded query set broadcasts, scoring is map-side,
   * WindowGroupLimit partials the rank before the exchange; the
   * positive side is one query-keyed partial-agg max over the same
   * scored relation (persisted, so the corpus is scanned once), and
   * the final join brokers queries × k rows. */
  def hardNegatives(embeddings: DataFrame, k: Int = HardNegK): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val corpus = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("q"), col("label"))
      .select(col("vec_id"), col("q"), norm2(col("q")).as("n2"), col("label"))
    val queries = corpus.filter(queryBound)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("n2").as("nq"), col("label").as("qlabel"))
    val scored = broadcast(queries).join(corpus, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("label") === col("qlabel")).as("same"),
        cosine(dot(col("qq"), col("q")), col("nq"), col("n2")).as("sim"))
      .persist()
    val pos = scored.filter(col("same"))
      .groupBy(col("query_id")).agg(max(col("sim")).as("pos_sim"))
    scored.filter(!col("same"))
      .withColumn("rank", row_number().over(
        W.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .join(pos, Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), col("sim"),
        col("pos_sim"), (col("pos_sim") - col("sim")).as("margin"))
  }

  def hardNegativesSql(table: String, k: Int = HardNegK): String =
    s"""WITH ${quantizedSql(table)},
       |corpus AS (SELECT qn.vec_id, qn.q, qn.n2, e.label
       |           FROM qn JOIN $table e USING (vec_id)),
       |queries AS (SELECT vec_id AS query_id, q AS qq, n2 AS nq, label AS qlabel
       |            FROM corpus WHERE $queryBoundSql),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id, (c.label = qlabel) AS same,
       |         ${cosineSql(dotSql("qq", "c.q"), "nq", "c.n2")} AS sim
       |  FROM queries JOIN corpus c ON query_id <> c.vec_id),
       |pos AS (SELECT query_id, max(sim) AS pos_sim FROM scored WHERE same GROUP BY 1),
       |negs AS (
       |  SELECT query_id, neighbor_id, sim, rank FROM (
       |    SELECT query_id, neighbor_id, sim,
       |           CAST(row_number() OVER (PARTITION BY query_id
       |             ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
       |    FROM scored WHERE NOT same)
       |  WHERE rank <= $k)
       |SELECT n.query_id AS query_id, n.neighbor_id AS neighbor_id, n.rank AS rank,
       |       n.sim AS sim, p.pos_sim AS pos_sim, p.pos_sim - n.sim AS margin
       |FROM negs n LEFT JOIN pos p ON p.query_id = n.query_id""".stripMargin

  // ---- 3. LSH-bucketed ANN (the scale path) --------------------------------

  /** Deterministic ±1 hyperplanes: component (j, i) is +1 when the first
   * md5 byte of "j:i" is non-negative (high hex nibble 0-7). Computed once
   * at plan time, embedded as literals on both engines. */
  def hyperplanesN(n: Int): Seq[Seq[Int]] = {
    val mdt = MessageDigest.getInstance("MD5")
    (1 to n).map { j =>
      (1 to Dim).map { i =>
        val d = mdt.digest(s"$j:$i".getBytes(StandardCharsets.UTF_8))
        if (d(0) >= 0) 1 else -1
      }
    }
  }
  /** Canonical LSH plane pool — plane k is [[hyperplanesN]]'s k-th
   * element on both engines, so a derived width P always means "the
   * first P canonical planes". */
  lazy val lshPlanePool: Seq[Seq[Int]] = hyperplanesN(LshPlanesMax)

  /** Bucket-key width for a corpus of `n` vectors: integer-exact
   * ceil(log2(ceil(n/target))) via bit-length (the
   * `TextDedup.simhashChunksFor` contract — the oracle derives the
   * identical value with the same length(bin(m-1))), clamped to
   * [[[LshPlanes]], [[LshPlanesMax]]]. */
  def lshPlanesFor(n: Long, targetBucket: Int = LshTargetBucket): Int = {
    val m = (math.max(n, 1L) + targetBucket - 1) / targetBucket
    val w = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.max(LshPlanes, math.min(LshPlanesMax, w))
  }

  /** `planes`-char '0'/'1' bucket key: sign bits of the hyperplane dot
   * products (integer-exact on quantized vectors). Native
   * [[graft.plans.LongDot]] against literal planes — value-identical to
   * the `aggregate`/`zip_with` composition it replaces, but codegen'd. */
  def lshBucket(q: Column, planes: Int = LshPlanes): Column = {
    val bits = lshPlanePool.take(planes).map { h =>
      val d = dot(q, typedLit(h.map(_.toLong)))
      when(d >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Full-pool bit string; the oracle substrings it by the SQL-derived
   * width (variadic concat — see [[embeddingNearDupSql]]). */
  private def lshBitsSql(q: String): String =
    lshPlanePool.map { h =>
      val lit = h.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($q, $lit) >= 0 THEN '1' ELSE '0' END)"
    }.mkString("concat(", ", ", ")")

  /** Approximate top-[[LshK]]: rank only within the query's hyperplane
   * bucket. The bucket key is the shuffle key — its width derives from a
   * plan-time corpus count ([[lshPlanesFor]]), holding the expected
   * bucket at ≤ [[LshTargetBucket]] vectors, and buckets are probed
   * independently.
   * No broadcast hint on the query side: the [[QueryBudget]] bound keeps
   * it O(1) so a hint WOULD be safe, but the bucket equi-join needs no
   * forcing — the planner broadcasts below `autoBroadcastJoinThreshold`
   * and falls back to a shuffle join (AQE picks shuffled-hash) when the
   * user disables broadcast, which a hint would override.
   * Output (query_id, neighbor_id, rank, sim). */
  def annLshTopK(embeddings: DataFrame): DataFrame = {
    val planes = lshPlanesFor(corpusSize(embeddings))
    val qb = quantized(embeddings).withColumn("bucket", lshBucket(col("q"), planes))
    val queries = qb.filter(queryBound)
      .select(col("vec_id").as("query_id"), col("q").as("qq"),
        col("n2").as("nq"), col("bucket"))
    val scored = queries
      .join(qb, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(dot(col("qq"), col("q")), col("nq"), col("n2")).as("sim"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= LshK)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("bigint").as("rank"), col("sim"))
  }

  // ---- 4. IVF-flat ANN (the cluster-structure scale path) ------------------

  /** Every `stride`-th corpus vector serves as a coarse centroid —
   * deterministic seed selection, no cross-engine RNG. A production index
   * would refine these with k-means offline; seed centroids keep the
   * whole index SQL-expressible for the oracle while exercising the
   * identical query plan (assignment, probe, in-list search are unchanged
   * by centroid quality — only recall moves). */
  val IvfCentroidStride = 37
  /** Broadcast-byte budget on the centroid count, expressed in rows: a
   * (cid, q[64], n2) centroid row is ~530 B, so 32768 rows ≈ 17 MB —
   * comfortably broadcastable on any executor profile. Below the budget
   * the centroid count scales with √n ([[ivfCentroidsFor]]): the classic
   * IVF balance point where index-build cost (N·C) and per-probe list
   * length (n/C) meet at n^1.5 / √n respectively — a FIXED 4096 ceiling
   * (pre-round-7) made every probe list n/4096 rows, linear in the
   * corpus, and made [[semanticDedup]]'s average cluster unbounded. */
  val IvfCentroidBudget = 32768
  /** Centroid lists probed per query (`nprobe`). */
  val IvfProbes = 4
  val IvfK = 3

  /** Centroid count for a corpus of `n` vectors: ⌈√n⌉ under the
   * [[IvfCentroidBudget]] row cap. `sqrt` over an exact-in-double BIGINT
   * (< 2^53) is a single correctly-rounded IEEE op — bit-identical in
   * the JVM (`Math.sqrt` is required correctly rounded) and DuckDB
   * (libm `sqrt`), so CEIL over it is integer-exact cross-engine, the
   * same contract as the 3-IEEE-op [[cosine]]. */
  def ivfCentroidsFor(n: Long): Long =
    math.min(math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toLong,
      IvfCentroidBudget.toLong)

  /** Centroid stride for a corpus of `n` vectors: the base stride until
   * the √n-scaled centroid count calls for a larger one. Integer-exact —
   * mirrored verbatim by the oracle's
   * GREATEST(stride, (n + c - 1) // c) over the same count. */
  def ivfStrideFor(n: Long): Long = {
    val c = ivfCentroidsFor(n)
    math.max(IvfCentroidStride.toLong, (math.max(n, 1L) + c - 1) / c)
  }

  /** Approximate top-[[IvfK]] by IVF-flat: each corpus vector is assigned
   * to its nearest centroid (inverted lists), a query scans only its
   * [[IvfProbes]] nearest lists. Complements [[annLshTopK]]: hyperplane
   * buckets are data-independent, IVF lists follow the corpus's own
   * cluster structure — the standard trade (FAISS IVF-flat layout).
   *
   * Scale shape: the centroid set is the only broadcast — C =
   * corpus / [[ivfStrideFor]](corpus), √n-scaled under [[IvfCentroidBudget]]
   * narrow rows because the stride is DERIVED from the corpus size (one
   * count at plan build, the [[TextDedup.simhashDedupAuto]] pattern, so
   * the plan the driver checks is the plan that runs at 100×); coarse
   * assignment is the classic N·C one-off index build as a broadcast
   * nested-loop against the C-row side (never corpus×corpus — PlanGuard
   * pins the search join as an equi-join and forbids CartesianProduct);
   * the search itself is a plain equi-join on `cid`, shuffling only
   * probed lists. Output (query_id, neighbor_id, rank, sim). */
  /** Nearest-centroid assignment (vec_id → cid) by cosine, smallest cid on
   * ties: a map-side arg-max over a (sim, −cid) struct — the broadcast
   * join's output is still partitioned by the corpus scan, so the partial
   * aggregate reduces N·C rows to N before any exchange. Shared by the
   * IVF index build and [[semanticDedup]]'s clustering stage. */
  private def nearestCentroid(qn: DataFrame, cents: DataFrame): DataFrame =
    qn.crossJoin(broadcast(cents))
      .select(col("vec_id"), struct(
        cosine(dot(col("q"), col("cq")), col("n2"), col("cn2")).as("sim"),
        (lit(0L) - col("cid")).as("ncid")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("m"))
      .select(col("vec_id"), (lit(0L) - col("m.ncid")).as("cid"))

  /** Oracle CTE chain `params`/`cents`/`assign` shared by
   * [[annIvfTopKSql]] and [[semanticDedupSql]]: the same derived stride,
   * seed centroids, and rn=1 nearest-centroid pick (ORDER BY sim DESC,
   * cid ASC ≡ the Spark struct-max on (sim, −cid)). Expects `qn` in
   * scope. */
  /** Oracle CTE pair `params`/`cents` — the derived stride and the seed
   * centroid set. Shared by [[ivfAssignSql]] and [[kmeansAssignSql]];
   * expects `qn` in scope. */
  private def ivfCentsSql(table: String): String =
    s"""params AS (SELECT GREATEST($IvfCentroidStride, (n + c - 1) // c) AS stride
       |           FROM (SELECT count(*) AS n,
       |                        LEAST(CAST(CEIL(SQRT(count(*))) AS BIGINT),
       |                              $IvfCentroidBudget) AS c
       |                 FROM $table)),
       |cents AS (SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM qn
       |          WHERE vec_id % (SELECT stride FROM params) = 0)""".stripMargin

  private def ivfAssignSql(table: String): String =
    s"""${ivfCentsSql(table)},
       |assign AS (
       |  SELECT vec_id, q, n2, cid FROM (
       |    SELECT v.vec_id, v.q, v.n2, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY ${cosineSql(dotSql("v.q", "c.cq"), "v.n2", "c.cn2")} DESC, c.cid ASC) AS rn
       |    FROM qn v CROSS JOIN cents c)
       |  WHERE rn = 1)""".stripMargin

  def annIvfTopK(embeddings: DataFrame): DataFrame = {
    val stride = ivfStrideFor(corpusSize(embeddings))
    val qn = quantized(embeddings).persist() // feeds centroids, assignment, queries
    val cents = qn.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    val assign = nearestCentroid(qn, cents)
      .join(qn, "vec_id") // recover (q, n2) for the verify stage
    val queries = qn.filter(queryBound)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("nq"))
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(cosine(dot(col("qq"), col("cq")), col("nq"), col("cn2")).desc,
                   col("cid"))))
      .filter(col("rn") <= IvfProbes)
      .select(col("query_id"), col("qq"), col("nq"), col("cid"))
    probed.join(assign, Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(dot(col("qq"), col("q")), col("nq"), col("n2")).as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= IvfK)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), col("sim"))
  }

  def annIvfTopKSql(table: String): String =
    s"""WITH ${quantizedSql(table)},
       |${ivfAssignSql(table)},
       |queries AS (SELECT vec_id AS query_id, q AS qq, n2 AS nq FROM qn
       |            WHERE $queryBoundSql),
       |probes AS (
       |  SELECT query_id, qq, nq, cid FROM (
       |    SELECT qu.query_id, qu.qq, qu.nq, c.cid,
       |           row_number() OVER (PARTITION BY qu.query_id
       |             ORDER BY ${cosineSql(dotSql("qu.qq", "c.cq"), "qu.nq", "c.cn2")} DESC, c.cid ASC) AS rn
       |    FROM queries qu CROSS JOIN cents c)
       |  WHERE rn <= $IvfProbes),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${cosineSql(dotSql("p.qq", "a.q"), "p.nq", "a.n2")} AS sim
       |  FROM probes p JOIN assign a ON p.cid = a.cid AND p.query_id <> a.vec_id)
       |SELECT query_id, neighbor_id, rank, sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $IvfK""".stripMargin

  // ---- 4b. retrieval capstone (chunk → embed → IVF → top-k) ----------------

  /** chunk_vec_id = doc_id · [[RetrChunkIdBase]] + chunk_id — collision-
   * free for any document under 2²⁰ chunks (a 64-token-window chunking
   * of a 50M-token document), and doc_id recoverable by integer DIV for
   * the cross-document filter. */
  val RetrChunkIdBase = 1L << 20
  /** Neighbors returned per query chunk. */
  val RetrK = 3

  /** The RAG-shaped capstone — the retrieval twin of
   * [[Corpus.epochPlan]]: [[Corpus.docChunks]] context windows → a
   * deterministic per-chunk embedding (native
   * [[graft.plans.HashEmbed]] — the feature-hashing stand-in a real
   * encoder replaces) → IVF index build over the chunk vectors →
   * bounded-query cross-document top-[[RetrK]]. Each stage nests the
   * standalone oracle-checked operator; composing them in ONE lazy plan
   * proves chunk/embed/index/search run without a driver hop between
   * stages. Output (query_id, neighbor_id, rank, sim).
   *
   * Scale shape: chunking is scan-speed (zero-shuffle explode), the
   * embedding is a scan projection, and the index/search stages are
   * exactly [[annIvfTopK]]'s — the only broadcast is the centroid set
   * (first chunks of every [[ivfStrideFor]]-strided doc: ~√n_docs rows,
   * derived from one plan-time exact count), assignment is the map-side
   * N·C arg-max partial aggregate, search shuffles only probed lists,
   * and the query set is id-budget-bounded ([[QueryBudget]]) so the
   * probe fan-out is O(1) in the corpus. The chunk relation is
   * PERSISTED across its four consumers (centroids, assignment,
   * queries, verify) — one tokenize+embed pass. */
  def retrievalPlan(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = Corpus.docChunks(docs)
    val qn = chunks.select(
        (col("doc_id") * RetrChunkIdBase + col("chunk_id")).as("cvid"),
        col("doc_id"), col("chunk_id"),
        toCol(graft.plans.HashEmbed(toExpr(col("chunk_text")))).as("q"))
      .withColumn("n2", norm2(col("q")))
      .filter(col("n2") > 0L) // token-free chunks have no direction
      .persist() // four consumers (caller-lazy; one-shot mains drop the session)
    val dstride = ivfStrideFor(ScanMemo.exactCount(docs))
    val cents = qn.filter(col("chunk_id") === 0L && col("doc_id") % dstride === 0)
      .select(col("cvid").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    val assign = nearestCentroid(
        qn.select(col("cvid").as("vec_id"), col("q"), col("n2")), cents)
      .join(qn.select(col("cvid").as("vec_id"), col("doc_id"), col("q"), col("n2")),
        "vec_id")
    val queries = qn.filter(col("chunk_id") === 0L &&
        col("doc_id") % QueryStride === 0 &&
        col("doc_id") < lit(QueryStride.toLong * QueryBudget))
      .select(col("cvid").as("query_id"), col("doc_id").as("qdoc"),
        col("q").as("qq"), col("n2").as("nq"))
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(cosine(dot(col("qq"), col("cq")), col("nq"), col("cn2")).desc,
            col("cid"))))
      .filter(col("rn") <= IvfProbes)
      .select(col("query_id"), col("qdoc"), col("qq"), col("nq"), col("cid"))
    probed.join(assign, Seq("cid"))
      .filter(col("doc_id") =!= col("qdoc")) // retrieval, not self-lookup: exclude the query's own document
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(dot(col("qq"), col("q")), col("nq"), col("n2")).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= RetrK)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("bigint").as("rank"), col("sim"))
  }

  /** Oracle — nests [[Corpus.docChunksSql]] verbatim as the chunk
   * source, rebuilds the embedding relationally (token rows × bit
   * index, the simhashDedupSql bitsum WITHOUT the sign), and mirrors
   * the IVF stages; the nearest-centroid pick is the STREAMING
   * struct-max of [[kmeansAssignSql]], never an N·C window sort. */
  def retrievalPlanSql(table: String): String = {
    val bit = s"(((instr('0123456789abcdef', substring(h, (j // 4) + 1, 1)) - 1)" +
      s" >> (3 - (j % 4))) & 1)"
    s"""WITH chunks AS (
       |  SELECT doc_id * $RetrChunkIdBase + chunk_id AS cvid, doc_id, chunk_id, chunk_text
       |  FROM (${Corpus.docChunksSql(table)}) z),
       |ctok AS (
       |  SELECT cvid, md5(tk) AS h FROM (
       |    SELECT cvid, unnest(string_split(chunk_text, ' ')) AS tk FROM chunks)
       |  WHERE tk <> ''),
       |cbit AS (
       |  SELECT cvid, j, CAST(sum(2 * $bit - 1) AS BIGINT) AS sm
       |  FROM ctok, (SELECT unnest(range(0, $Dim)) AS j)
       |  GROUP BY cvid, j),
       |cq0 AS (SELECT cvid, list(sm ORDER BY j) AS q FROM cbit GROUP BY cvid),
       |qn AS (
       |  SELECT c.cvid, c.doc_id, c.chunk_id, e.q,
       |         CAST(list_dot_product(e.q, e.q) AS BIGINT) AS n2
       |  FROM cq0 e JOIN chunks c USING (cvid)
       |  WHERE CAST(list_dot_product(e.q, e.q) AS BIGINT) > 0),
       |params AS (SELECT GREATEST($IvfCentroidStride, (n + c - 1) // c) AS stride
       |           FROM (SELECT count(*) AS n,
       |                        LEAST(CAST(CEIL(SQRT(count(*))) AS BIGINT),
       |                              $IvfCentroidBudget) AS c
       |                 FROM $table)),
       |cents AS (SELECT cvid AS cid, q AS cq, n2 AS cn2 FROM qn
       |          WHERE chunk_id = 0 AND doc_id % (SELECT stride FROM params) = 0),
       |assign AS (
       |  SELECT s.vec_id, -(s.m.ncid) AS cid FROM (
       |    SELECT v.cvid AS vec_id,
       |           max({'sim': ${cosineSql(dotSql("v.q", "c.cq"), "v.n2", "c.cn2")},
       |                'ncid': -c.cid}) AS m
       |    FROM qn v CROSS JOIN cents c
       |    GROUP BY v.cvid) s),
       |assigned AS (
       |  SELECT a.cid, v.cvid AS vec_id, v.doc_id, v.q, v.n2
       |  FROM assign a JOIN qn v ON v.cvid = a.vec_id),
       |queries AS (
       |  SELECT cvid AS query_id, doc_id AS qdoc, q AS qq, n2 AS nq FROM qn
       |  WHERE chunk_id = 0 AND doc_id % $QueryStride = 0
       |    AND doc_id < ${QueryStride.toLong * QueryBudget}),
       |probes AS (
       |  SELECT query_id, qdoc, qq, nq, cid FROM (
       |    SELECT qu.query_id, qu.qdoc, qu.qq, qu.nq, c.cid,
       |           row_number() OVER (PARTITION BY qu.query_id
       |             ORDER BY ${cosineSql(dotSql("qu.qq", "c.cq"), "qu.nq", "c.cn2")} DESC, c.cid ASC) AS rn
       |    FROM queries qu CROSS JOIN cents c)
       |  WHERE rn <= $IvfProbes),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         ${cosineSql(dotSql("p.qq", "a.q"), "p.nq", "a.n2")} AS sim
       |  FROM probes p JOIN assigned a ON p.cid = a.cid AND a.doc_id <> p.qdoc)
       |SELECT query_id, neighbor_id, rank, sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $RetrK""".stripMargin
  }

  // ---- 5. semantic dedup (cluster-then-prune, SemDeDup) --------------------

  /** Cosine threshold and in-cluster candidate cap for [[semanticDedup]].
   * The threshold matches [[NearDupSim]] (this corpus's planted near-dups
   * sit above 0.4; a production run at the paper's 0.95+ only shrinks the
   * candidate mass). The cap bounds the in-cluster pair expansion exactly
   * as every text dedup bounds its signature buckets. */
  val SemDedupSim: Double = NearDupSim
  val SemMaxBucket = 256
  /** Expected-size target a sub-divided cluster bucket aims for — the
   * width derivation splits a cluster of m vectors into 2^s sub-buckets
   * with s = ⌈log2(⌈m/target⌉)⌉, so the expected sub-bucket lands at or
   * under the target while clusters that already fit UNDER THE HARD CAP
   * get s = 0 (one exact bucket, no recall loss; the s = 0 cut-off is
   * the cap, not this target — see [[semWidthSql]]). The target is HALF
   * the [[SemMaxBucket]] hard cap deliberately: sign bits of the pool's
   * fixed ±1 hyperplanes are pairwise correlated (overlap ~±√d/d), so
   * real sub-bucket sizes skew up to ~2× the uniform expectation —
   * measured 258 vs 134 expected on a 1071-vector cluster — and a target
   * equal to the cap would push every skewed bucket into the drop path.
   * Halving buys the 2× headroom so the cap only clips genuine outlier
   * buckets. */
  val SemTargetBucket = 128

  private lazy val semBandTable: Map[Int, Int] = bandTableFor(SemDedupSim)
  private lazy val semRowsMax: Int = bandRowsMaxFor(SemDedupSim)

  /** Per-cluster sub-band width as a shared expression string: DuckDB and
   * Spark SQL differ only in the integer-division operator, so the ONE
   * string (modulo `intDiv`) is the cross-engine contract — the width is
   * the integer bit-length `length(bin(m−1))` (identical builtins in
   * both engines; m ≥ 3 on this branch since csize > [[SemMaxBucket]]),
   * never a libm CEIL(LOG2(m)) that could read one bit high at a
   * power-of-two m. */
  private def semWidthSql(csize: String, intDiv: String): String = {
    val m = s"(($csize + ${SemTargetBucket - 1}) $intDiv $SemTargetBucket)"
    s"(CASE WHEN $csize <= $SemMaxBucket THEN 0 ELSE LEAST($semRowsMax, " +
      s"GREATEST(1, CAST(length(bin($m - 1)) AS INT))) END)"
  }

  /** Band count for a sub-band width column — the [[bandTableFor]]
   * INTEGER entries as a CASE, identical text on both engines; width 0
   * (cluster fits) means one exact band. */
  private def semBandCaseSql(s: String): String =
    s"(CASE $s " +
      (1 to semRowsMax).map(r => s"WHEN $r THEN ${semBandTable(r)}").mkString(" ") +
      " ELSE 1 END)"

  /** Scala twin of [[semWidthSql]] — used only to size the PLAN-TIME
   * hyperplane prefix (the worst case is one cluster holding the whole
   * corpus, so row-level widths never exceed this). */
  private[operators] def semSubWidthFor(csize: Long): Int =
    if (csize <= SemMaxBucket) 0
    else {
      val m = (csize + SemTargetBucket - 1) / SemTargetBucket
      math.min(semRowsMax,
        math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(m - 1)))
    }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
   * cluster the corpus by embedding, compare cosine only WITHIN a
   * cluster, and drop every vector with a smaller-id in-cluster near-dup
   * (at least one member of each duplicate group survives; see the chain
   * note below for where this is more aggressive than one-per-group).
   * This is the cluster-then-prune complement to the pairwise
   * [[embeddingNearDup]]: instead of emitting the near-dup PAIRS it emits
   * a per-vector verdict — `(vec_id, cid, keep)` where `keep` is false
   * iff some SMALLER-id vector in the same cluster has cosine ≥
   * [[SemDedupSim]] (the deterministic stand-in for the paper's
   * keep-one-per-ε-ball; smallest id survives, matching every other dedup
   * family here). Chain note: the rule is pairwise on ids, not
   * keeper-anchored — in a transitive chain a~b, b~c with a≁c, vector c
   * is still dropped by b even though b itself was dropped by a, so a
   * dropped vector can prune a neighbor that is no near-dup of any KEPT
   * vector (slightly more aggressive than the paper's one-per-ε-ball).
   * `filter($"keep")` IS the deduplicated corpus.
   *
   * Clustering reuses the IVF coarse index verbatim: the same
   * corpus-size-derived centroid stride ([[ivfStrideFor]], broadcast side
   * √n-scaled under the [[IvfCentroidBudget]] row cap), the same N·C one-off
   * assignment, the same (sim, −cid) arg-max. Candidate buckets compose
   * the cluster id with a PER-CLUSTER hyperplane sub-band
   * ([[semWidthSql]]): a cluster that fits [[SemTargetBucket]] keeps one
   * exact bucket (width 0 — no recall loss), an oversize cluster is
   * sub-divided into 2^s sign-bit buckets × B(s) recall-preserving bands
   * from the canonical plane pool, so expected bucket size targets
   * [[SemTargetBucket]] at ANY corpus size — under the pre-round-7
   * cid-only key every √n-sized cluster blew the posting cap past ~10⁶
   * vectors and the operator degenerated to keep-everything. Pairs ride
   * [[TextDedup.boundedBucketPairs]] on the composite key — ONE groupBy
   * shuffle, hard-capped at [[SemMaxBucket]] postings with residual
   * oversize drops surfacing as observed metrics
   * (`graft_semdedup_buckets`) — and only in-bucket candidates pay the
   * exact-cosine verify.
   *
   * Cross-cluster recall (round 11): cluster-only candidates miss any
   * qualifying pair straddling an IVF cluster boundary — the one
   * documented recall gap of the cluster-then-prune family. A SECOND
   * posting branch closes it: every vector also posts
   * [[embeddingNearDup]]'s data-independent hyperplane band keys at
   * this operator's threshold (corpus-derived (R, B) from the same
   * [[bandTableFor]] budget, `x:`-prefixed so the band namespace can
   * never collide with the `cid:`-prefixed cluster buckets), into the
   * SAME bounded-bucket pair stage and the same exact-cosine verify —
   * still ONE groupBy shuffle, still hard-capped. Residual documented
   * approximations (mirrored exactly by the oracle): a cross-cluster
   * pair agreeing on NO band is missed (1 − [[NearDupRecall]] ≈ 10%
   * worst-case AT the threshold, much less above it), and within an
   * OVERSIZE cluster the sub-bands recall [[NearDupRecall]] of
   * qualifying pairs rather than all of them. A consequence of global
   * candidates: a cluster CAN now be emptied when its every member has
   * a smaller-id near-dup in another cluster — the kept
   * representatives live wherever the smallest ids sit, which is the
   * correct global-dedup semantics (the old per-cluster-keeper
   * guarantee was an artifact of the recall gap). */
  def semanticDedup(embeddings: DataFrame): DataFrame =
    semanticDedup(embeddings, crossClusterBands = true)

  /** `crossClusterBands = false` disables the cross-cluster band branch —
   * test-only, for measuring the recall the safety net buys (the checked
   * query always runs with it on). */
  private[operators] def semanticDedup(embeddings: DataFrame,
                                       crossClusterBands: Boolean): DataFrame = {
    val n = corpusSize(embeddings)
    val stride = ivfStrideFor(n)
    val qn = quantized(embeddings).persist() // feeds centroids, assignment, verify
    val cents = qn.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    // persist: the N·C assignment feeds BOTH the candidate postings and
    // the final verdict join — without it the most expensive stage runs
    // twice (boundedBucketPairs' own persist only covers the pair branch)
    val assign = nearestCentroid(qn, cents).persist()
    // per-cluster sub-band parameters: ONE count aggregate over the
    // assignment, ≤ centroid-count rows — always broadcastable
    val sizes = assign.groupBy("cid").agg(count(lit(1)).as("csize"))
      .withColumn("s", expr(semWidthSql("csize", "DIV")))
      .withColumn("b", expr(semBandCaseSql("s")))
    // sign-bit prefix sized by the PLAN-TIME worst case (one cluster =
    // the whole corpus); only rows of oversize clusters evaluate it (the
    // CASE short-circuits), so small-cluster corpora never pay a dot
    val sMaxPlan = semSubWidthFor(n)
    val bitsCol =
      if (sMaxPlan == 0) lit("")
      else concat(hyperplanesN(sMaxPlan * semBandTable(sMaxPlan)).map { h =>
        when(dot(col("q"), typedLit(h.map(_.toLong))) >= 0, lit("1")).otherwise(lit("0"))
      }: _*)
    // two posting branches so the common case stays NARROW: clusters that
    // fit the cap (s = 0, ALL clusters at the shared scales) key straight
    // off the assignment — no join against the wide quantized vectors —
    // while only oversize-cluster rows pay the qn join + sign-bit bands
    val withSz = assign.join(broadcast(sizes), "cid")
    val small = withSz.filter(col("s") === 0)
      .select(col("vec_id").as("doc_id"),
        concat(col("cid").cast("string"), lit(":0:")).as("bv"))
    val big = withSz.filter(col("s") > 0)
      .join(qn, "vec_id")
      .withColumn("bits", bitsCol)
      .select(col("vec_id").as("doc_id"), explode(expr(
        "transform(sequence(0, b - 1), j -> concat(cast(cid as string), ':', " +
          "cast(j as string), ':', substring(bits, j * s + 1, s)))")).as("bv"))
    // cross-cluster safety net: data-independent hyperplane bands at the
    // same threshold, 'x:'-prefixed (cluster keys start with a digit)
    val xRows = nearDupRowsFor(n, rowsMax = semRowsMax)
    val xBands = semBandTable(xRows)
    val cross = qn.select(col("vec_id").as("doc_id"),
        explode(nearDupBandKeys(col("q"), xRows, xBands)).as("bk"))
      .select(col("doc_id"), concat(lit("x:"), col("bk")).as("bv"))
    val postings =
      if (crossClusterBands) small.unionByName(big).unionByName(cross)
      else small.unionByName(big)
    // raw candidates (see [[embeddingNearDup]]): the consumer's dedup is
    // already on the SURVIVING id_b set, so the cross-bucket candidate
    // distinct (and the 1-copy candidate persist) bought nothing — a pair
    // duplicated across buckets yields the same id_b
    val staged = TextDedup.boundedRawBucketPairs(postings, "bv", 2, SemMaxBucket)
    val vecSide = vecJoinSide(n)
    val dropped = staged.filter(!TextDedup.isSentinel)
      .select(col("id_a"), col("id_b"))
      .join(vecSide(qn.select(col("vec_id").as("id_a"), col("q").as("qa"), col("n2").as("na"))), "id_a")
      .join(vecSide(qn.select(col("vec_id").as("id_b"), col("q").as("qb"), col("n2").as("nb"))), "id_b")
      .filter(cosine(dot(col("qa"), col("qb")), col("na"), col("nb")) >= SemDedupSim)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("hit", lit(true))
    val verdict = assign.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("hit").isNull.as("keep"))
    val sentinels = staged.filter(TextDedup.isSentinel)
      .select(col("id_a").as("vec_id"), col("id_b").as("cid"),
        lit(null).cast("boolean").as("keep"), col("is_sentinel"))
    TextDedup.observeDrops(
      verdict.withColumn("is_sentinel", lit(false)).unionByName(sentinels),
      "graft_semdedup_buckets", discCol = "vec_id", countCol = "cid")
  }

  /** Oracle: the shared [[ivfAssignSql]] CTEs, the same per-cluster
   * width/band derivation over the same count ([[semWidthSql]] modulo the
   * int-div operator), the full canonical plane pool substring'd by the
   * SQL-derived width (the [[embeddingNearDupSql]] convention — unused
   * suffix bits are harmless), [[TextDedup.boundedSql]]'s identical
   * bucket cap on the composite key, the same in-bucket smaller-id pair
   * qualification, and a LEFT JOIN verdict. */
  def semanticDedupSql(table: String): String = {
    val planes = hyperplanesN(semRowsMax * semBandTable(semRowsMax))
    val bitStr = planes.map { h =>
      val lit = h.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(q, $lit) >= 0 THEN '1' ELSE '0' END)"
    }.mkString("concat(", ", ", ")")
    s"""WITH ${quantizedSql(table)},
       |${ivfAssignSql(table)},
       |sizes AS (SELECT cid, count(*) AS csize FROM assign GROUP BY 1),
       |widths AS (SELECT cid, s, ${semBandCaseSql("s")} AS b FROM
       |           (SELECT cid, ${semWidthSql("csize", "//")} AS s FROM sizes)),
       |bits AS (SELECT vec_id, $bitStr AS bs FROM qn),
       |xparams AS (
       |  SELECT r, ${semBandCaseSql("r")} AS b FROM (
       |    SELECT GREATEST(2, LEAST($semRowsMax,
       |             CASE WHEN m <= 1 THEN 0 ELSE CAST(length(bin(m - 1)) AS INT) END)) AS r
       |    FROM (SELECT (count(*) + ${NearDupTargetBucket - 1}) // $NearDupTargetBucket AS m
       |          FROM $table))),
       |postings AS (
       |  SELECT a.vec_id AS doc_id,
       |         unnest([CAST(a.cid AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR) || ':' ||
       |                 substr(coalesce(bt.bs, ''), (j - 1) * w.s + 1, w.s)
       |                 for j in range(1, w.b + 1)]) AS bv
       |  FROM assign a JOIN widths w USING (cid)
       |  LEFT JOIN bits bt ON bt.vec_id = a.vec_id
       |  UNION ALL
       |  SELECT b.vec_id AS doc_id,
       |         unnest(['x:' || CAST(j - 1 AS VARCHAR) || ':' ||
       |                 substr(b.bs, (j - 1) * p.r + 1, p.r)
       |                 for j in range(1, p.b + 1)]) AS bv
       |  FROM bits b CROSS JOIN xparams p),
       |bok AS ${TextDedup.boundedSql("postings", "bv", SemMaxBucket)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bok a JOIN bok b ON a.bv = b.bv AND a.doc_id < b.doc_id),
       |dropped AS (
       |  SELECT DISTINCT c.id_b AS vec_id
       |  FROM cand c
       |  JOIN qn a ON a.vec_id = c.id_a
       |  JOIN qn b ON b.vec_id = c.id_b
       |  WHERE ${cosineSql(dotSql("a.q", "b.q"), "a.n2", "b.n2")} >= $SemDedupSim)
       |SELECT s.vec_id AS vec_id, s.cid AS cid, (d.vec_id IS NULL) AS keep
       |FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id""".stripMargin
  }

  def annLshTopKSql(table: String): String =
    s"""WITH ${quantizedSql(table)},
       |params AS (
       |  SELECT GREATEST($LshPlanes, LEAST($LshPlanesMax,
       |           CASE WHEN m <= 1 THEN 0 ELSE CAST(length(bin(m - 1)) AS INT) END)) AS p
       |  FROM (SELECT (count(*) + ${LshTargetBucket - 1}) // $LshTargetBucket AS m
       |        FROM $table)),
       |qb AS (SELECT vec_id, q, n2, substr(${lshBitsSql("q")}, 1, p) AS bucket
       |       FROM qn CROSS JOIN params),
       |queries AS (SELECT vec_id AS query_id, q AS qq, n2 AS nq, bucket FROM qb WHERE $queryBoundSql),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |         ${cosineSql(dotSql("qq", "c.q"), "nq", "c.n2")} AS sim
       |  FROM queries JOIN qb c ON queries.bucket = c.bucket AND query_id <> c.vec_id)
       |SELECT query_id, neighbor_id, rank, sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $LshK""".stripMargin

  // ---- embedding QA profile ------------------------------------------------

  /** Degenerate-vector bar for [[embNormProfile]]: quantized squared norm
   * below this marks a zero/garbage embedding (‖q‖² ≈ ‖x‖²·2⁴⁰, so the
   * bar is ‖x‖ ≲ 2⁻¹⁰ — numerically dead for similarity purposes). */
  val DegenerateN2: Long = 1L << 20

  /** Embedding-table QA profile — the sanity gate run before ANY
   * similarity stage (a batch of zero vectors from a crashed encoder
   * silently poisons every cosine downstream, since sim = 0/0): per
   * label, vector count, degenerate-vector count, and the min / max /
   * mean quantized squared norm.
   *
   * Shape: one narrow scan-speed projection (quantize + exact BIGINT
   * self-dot per row), ONE partial-aggregating pass to O(labels) rows.
   * The per-label norm sum accumulates as DECIMAL(38,0) — ‖q‖² ≤ 2⁴⁶, so
   * a BIGINT sum would overflow past ~10⁵ vectors per label; decimal is
   * overflow-proof to ~10²⁵ — and the mean is one final IEEE divide. */
  def embNormProfile(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), norm2(quantize(col("embedding"))).as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("n2") < DegenerateN2).cast("long")).as("n_degenerate"),
        min(col("n2")).as("min_n2"),
        max(col("n2")).as("max_n2"),
        sum(col("n2").cast("decimal(38,0)")).as("sum_n2"))
      .select(col("label"), col("n_vecs"), col("n_degenerate"),
        col("min_n2"), col("max_n2"),
        (col("sum_n2").cast("double") / col("n_vecs").cast("double")).as("mean_n2"))

  def embNormProfileSql(table: String): String =
    s"""WITH v AS (
       |  SELECT label,
       |         CAST(list_sum([x * x for x in ${quantizeSql("embedding")}]) AS BIGINT) AS n2
       |  FROM $table),
       |a AS (SELECT label, count(*) AS n_vecs,
       |             CAST(sum(CASE WHEN n2 < $DegenerateN2 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
       |             min(n2) AS min_n2, max(n2) AS max_n2,
       |             CAST(sum(n2) AS DECIMAL(38,0)) AS sum_n2
       |      FROM v GROUP BY label)
       |SELECT label, n_vecs, n_degenerate, min_n2, max_n2,
       |       CAST(sum_n2 AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS mean_n2
       |FROM a""".stripMargin

  /** Per-label embedding centroids — the class-prototype / drift profile
   * (compare a new crawl's per-label centroid against the corpus baseline
   * to catch encoder drift or label contamination before any expensive
   * similarity stage; the same aggregate is the k-means M-step and the
   * build side of a nearest-centroid classifier).
   *
   * Output is EXPLODED per dimension — (label, dim, n_vecs, sum_q,
   * centroid) — not an array column: every value is a sortable scalar
   * for the driver's row-hash compare, and the aggregate stays a plain
   * partial-agg. Shape: one scan-speed quantize + posexplode (Dim rows
   * per vector BEFORE map-side combining — each map task reduces to
   * O(labels·Dim) partial rows, so the exchange carries labels·Dim rows
   * per task, NOT corpus·Dim), one (label, dim)-keyed aggregate. Sums
   * accumulate as DECIMAL(38,0) (|q| ≤ 2²⁰ ⇒ a BIGINT sum overflows past
   * ~2⁴² rows per label·dim — not reachable, but decimal costs nothing
   * here and matches [[embNormProfile]]'s convention); the EXPORTED
   * `sum_q` is cast to BIGINT — decimal physical encodings differ
   * across engines/readers, BIGINT is the portable exact integer type
   * and the accumulated value fits it by the bound above; `centroid` is the
   * mean in ORIGINAL embedding units via one fixed IEEE sequence,
   * CAST(sum AS DOUBLE) / (CAST(n AS DOUBLE) * 2²⁰) — cross-engine
   * deterministic. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(quantize(col("embedding"))).as(Seq("dim", "qv")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("qv").cast("decimal(38,0)")).as("sum_q"))
      .select(col("label"), col("dim").cast("bigint").as("dim"),
        col("n_vecs"), col("sum_q").cast("bigint").as("sum_q"),
        (col("sum_q").cast("double") /
          (col("n_vecs").cast("double") * lit(QuantScale))).as("centroid"))

  def labelCentroidsSql(table: String): String =
    s"""WITH q AS (SELECT label, ${quantizeSql("embedding")} AS q FROM $table),
       |e AS (SELECT label, CAST(i - 1 AS BIGINT) AS dim, q[CAST(i AS INT)] AS qv
       |      FROM q CROSS JOIN range(1, ${Dim + 1}) AS r(i)),
       |a AS (SELECT label, dim, count(*) AS n_vecs,
       |             CAST(sum(qv) AS DECIMAL(38,0)) AS sum_q
       |      FROM e GROUP BY label, dim)
       |SELECT label, dim, n_vecs, CAST(sum_q AS BIGINT) AS sum_q,
       |       CAST(sum_q AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * $QuantScale) AS centroid
       |FROM a""".stripMargin

  /** Upper-triangle covariance of the embedding distribution — the
   * E-step input of PCA / whitening / anisotropy QA (a collapsed or
   * rotated embedding space shows up here long before any ANN stage
   * misbehaves). Output one row per dimension pair i ≤ j:
   * (dim_i, dim_j, n_vecs, sum_qq, cov) with
   * cov = E[x_i·x_j] − E[x_i]·E[x_j] in ORIGINAL embedding units.
   *
   * Shape: quantize once, two chained `posexplode`s + an i ≤ j filter
   * expand each vector to Dim·(Dim+1)/2 (= 2 080) product rows — a
   * MAP-LOCAL expansion (Generate → Filter → partial HashAggregate in
   * one stage, no shuffle of expanded rows); the single exchange
   * carries O(Dim²) partial rows per map task regardless of corpus
   * size. All sums are exact: q_i·q_j ≤ 2⁴⁰ accumulated as
   * DECIMAL(38,0) (exported as BIGINT — portable exact integer, fits
   * for corpora below ~2²³ vectors; the accumulation itself never
   * overflows, and the export bound is RUNTIME-GUARDED — a raise_error
   * branch fails the job loudly rather than letting a non-ANSI session
   * NULL the overflowing cast), and `cov` is a FIXED IEEE sequence over the exact
   * sums (each E[..] one divide, then one multiply and subtract),
   * mirrored verbatim by the oracle — cross-engine deterministic, no
   * order-dependent float accumulation anywhere. */
  def embCovariance(embeddings: DataFrame): DataFrame = {
    val scale2 = QuantScale * QuantScale
    val n = col("n_vecs").cast("double")
    embeddings
      .select(quantize(col("embedding")).as("q"))
      .select(col("q"), posexplode(col("q")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"), posexplode(col("q")).as(Seq("j", "qj")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("qi") * col("qj")).cast("decimal(38,0)")).as("sum_qq"),
        sum(col("qi").cast("decimal(38,0)")).as("sum_qi"),
        sum(col("qj").cast("decimal(38,0)")).as("sum_qj"))
      .select(col("i").cast("bigint").as("dim_i"), col("j").cast("bigint").as("dim_j"),
        col("n_vecs"),
        // the BIGINT export bound (~2²³ vectors, see doc above) enforced
        // at runtime: a non-ANSI session would otherwise NULL the cast
        // silently past the bound — fail loudly instead, independent of
        // spark.sql.ansi.enabled. DuckDB's checked HUGEINT→BIGINT cast
        // already errors loudly, so the oracle needs no mirror.
        when(abs(col("sum_qq")) > lit(Long.MaxValue).cast("decimal(38,0)"),
          expr("raise_error('emb_covariance: sum_qq exceeds BIGINT — corpus past the " +
            "~2^23-vector export bound; export DECIMAL and convert driver-side')"))
          .otherwise(col("sum_qq")).cast("bigint").as("sum_qq"),
        (col("sum_qq").cast("double") / (n * lit(scale2)) -
          (col("sum_qi").cast("double") / (n * lit(QuantScale))) *
            (col("sum_qj").cast("double") / (n * lit(QuantScale)))).as("cov"))
  }

  def embCovarianceSql(table: String): String =
    s"""WITH q AS (SELECT ${quantizeSql("embedding")} AS q FROM $table),
       |e AS (SELECT CAST(i - 1 AS BIGINT) AS dim_i, CAST(j - 1 AS BIGINT) AS dim_j,
       |             q[CAST(i AS INT)] AS qi, q[CAST(j AS INT)] AS qj
       |      FROM q CROSS JOIN range(1, ${Dim + 1}) AS r(i)
       |             CROSS JOIN range(1, ${Dim + 1}) AS s(j)
       |      WHERE j >= i),
       |a AS (SELECT dim_i, dim_j, count(*) AS n_vecs,
       |             CAST(sum(qi * qj) AS DECIMAL(38,0)) AS sum_qq,
       |             CAST(sum(qi) AS DECIMAL(38,0)) AS sum_qi,
       |             CAST(sum(qj) AS DECIMAL(38,0)) AS sum_qj
       |      FROM e GROUP BY dim_i, dim_j)
       |SELECT dim_i, dim_j, n_vecs, CAST(sum_qq AS BIGINT) AS sum_qq,
       |       CAST(sum_qq AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * ($QuantScale * $QuantScale)) -
       |       (CAST(sum_qi AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * $QuantScale)) *
       |       (CAST(sum_qj AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * $QuantScale)) AS cov
       |FROM a""".stripMargin

  // ---- 6. ANN QA: recall audit + cluster assignment / index balance --------

  /** Per-query recall@[[LshK]] of the LSH ANN path against the
   * brute-force ground truth — the tuning loop for the LSH width dial
   * ([[lshPlanesFor]]): more planes = cheaper probes AND lower recall,
   * and this query is where that trade is MEASURED instead of guessed.
   * Output (query_id, n_truth, n_hits, recall).
   *
   * Scale shape: both inputs are already queries × k rows (each side's
   * heavy lifting is the audited operator itself, unchanged); the audit
   * adds one join + one aggregate over O(queries·k) rows — noise at any
   * corpus size. At 100 TB the brute side is the expensive leg, which is
   * exactly why it's bounded to the [[QueryBudget]] sample: recall on a
   * fixed random query sample estimates corpus-wide recall (the standard
   * ANN-benchmark protocol), so the audit's cost does NOT grow with the
   * corpus beyond the two scans the audited operators pay anyway. */
  def annRecall(embeddings: DataFrame): DataFrame = {
    val truth = annBruteTopK(embeddings)
      .filter(col("rank") <= LshK)
      .select(col("query_id"), col("neighbor_id"))
    val got = annLshTopK(embeddings)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    truth.join(got, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth").cast("double")).as("recall"))
  }

  def annRecallSql(table: String): String =
    s"""WITH brute AS (${annBruteTopKSql(table)}),
       |lsh AS (${annLshTopKSql(table)}),
       |truth AS (SELECT query_id, neighbor_id FROM brute WHERE rank <= $LshK)
       |SELECT t.query_id, count(*) AS n_truth,
       |       count(l.neighbor_id) AS n_hits,
       |       CAST(count(l.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN lsh l
       |  ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
       |GROUP BY t.query_id""".stripMargin

  /** Coarse ("int8"-grade) quantization scale for [[quantRecallAudit]]:
   * floor(x·2⁷) — 128 levels per unit, the storage precision a
   * product-quantized / int8 index keeps per component. */
  val CoarseScale = 128.0

  /** Quantization-recall audit — the storage-precision decision of an
   * embedding store quantified: for each budget-bounded query, the
   * top-[[BruteK]] neighbor sets under full engine precision (2²⁰
   * quantization — the [[annBruteTopK]] reference) and under coarse
   * 2⁷ "int8" quantization, reported as the per-query overlap and
   * recall. A recall near 1 says int8 storage is safe for this corpus;
   * the queries that drop neighbors are the audit trail. Output
   * (query_id, n_truth, n_kept, recall).
   *
   * Both rankings come off ONE broadcast-scored pass (both dots ride
   * the same joined row — the corpus is scanned and joined once, not
   * twice) and both tie-break identically (sim desc, neighbor_id), so
   * coarse-dot ties — common by construction at 128 levels — resolve
   * the same way in both engines and the result hash-compares. Same
   * scale shape as [[annBruteTopK]]: queries broadcast, corpus never
   * shuffles, per-query k·2 rows survive to the overlap join. */
  def quantRecallAudit(embeddings: DataFrame): DataFrame = {
    val coarse = expr(
      s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $CoarseScale) AS BIGINT))")
    val base = embeddings.select(col("vec_id"),
      quantize(col("embedding")).as("q"), coarse.as("q8"))
    val qn = base.select(col("vec_id"), col("q"), col("q8"),
      norm2(col("q")).as("n2"), norm2(col("q8")).as("m2"))
    val queries = qn.filter(queryBound)
      .select(col("vec_id").as("query_id"),
        col("q").as("qq"), col("n2").as("nq"),
        col("q8").as("qq8"), col("m2").as("mq"))
    val scored = broadcast(queries).join(qn, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(dot(col("qq"), col("q")), col("nq"), col("n2")).as("sim"),
        cosine(dot(col("qq8"), col("q8")), col("mq"), col("m2")).as("sim8"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    val ranked = scored
      .withColumn("rk", row_number().over(w.orderBy(col("sim").desc, col("neighbor_id"))))
      .withColumn("rk8", row_number().over(w.orderBy(col("sim8").desc, col("neighbor_id"))))
      .filter(col("rk") <= BruteK || col("rk8") <= BruteK)
    ranked.groupBy(col("query_id"))
      .agg(sum(when(col("rk") <= BruteK, 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("rk") <= BruteK && col("rk8") <= BruteK, 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("query_id"), col("n_truth"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_truth").cast("double")).as("recall"))
  }

  def quantRecallAuditSql(table: String): String =
    s"""WITH q0 AS (SELECT vec_id, ${quantizeSql("embedding")} AS q,
       |  [CAST(floor(CAST(x AS DOUBLE) * $CoarseScale) AS BIGINT) for x in embedding] AS q8
       |  FROM $table),
       |qn AS (SELECT vec_id, q, q8,
       |  CAST(list_dot_product(q, q) AS BIGINT) AS n2,
       |  CAST(list_dot_product(q8, q8) AS BIGINT) AS m2 FROM q0),
       |queries AS (SELECT vec_id AS query_id, q AS qq, n2 AS nq, q8 AS qq8, m2 AS mq
       |  FROM qn WHERE $queryBoundSql),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |         ${cosineSql(dotSql("qq", "c.q"), "nq", "c.n2")} AS sim,
       |         ${cosineSql(dotSql("qq8", "c.q8"), "mq", "c.m2")} AS sim8
       |  FROM queries JOIN qn c ON query_id <> c.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim8 DESC, neighbor_id) AS rk8
       |  FROM scored)
       |SELECT query_id,
       |       CAST(sum(CASE WHEN rk <= $BruteK THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       |       CAST(sum(CASE WHEN rk <= $BruteK AND rk8 <= $BruteK THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rk <= $BruteK AND rk8 <= $BruteK THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(sum(CASE WHEN rk <= $BruteK THEN 1 ELSE 0 END) AS DOUBLE) AS recall
       |FROM ranked WHERE rk <= $BruteK OR rk8 <= $BruteK
       |GROUP BY query_id""".stripMargin

  /** Full-corpus nearest-centroid assignment with the winning similarity
   * — the k-means E-step over the deterministic seed centroids (and
   * exactly the labeling [[annIvfTopK]] builds its inverted lists from,
   * here exposed as a result: corpus partitioning for curriculum /
   * mixture construction, or the input to an offline centroid
   * refinement). Ties break to the smallest cid. Output
   * (vec_id, cid, sim).
   *
   * Scale shape: identical to the IVF index build — the ONLY broadcast
   * is the √n-capped centroid set, the N·C scoring is map-side against
   * the corpus scan, and the arg-max is a partial aggregate (each map
   * task reduces its N·C rows to N before the one exchange). No
   * corpus-side shuffle of vectors, no cartesian
   * (PlanGuard-style: the struct-max rides the same shape
   * [[nearestCentroid]] pins for [[semanticDedup]]). */
  def kmeansAssign(embeddings: DataFrame): DataFrame = {
    val stride = ivfStrideFor(corpusSize(embeddings))
    val qn = quantized(embeddings)
    val cents = qn.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    qn.crossJoin(broadcast(cents))
      .select(col("vec_id"), struct(
        cosine(dot(col("q"), col("cq")), col("n2"), col("cn2")).as("sim"),
        (lit(0L) - col("cid")).as("ncid")).as("sc"))
      .groupBy("vec_id").agg(max("sc").as("m"))
      .select(col("vec_id"), (lit(0L) - col("m.ncid")).as("cid"),
        col("m.sim").as("sim"))
  }

  /** The arg-max is a STREAMING struct-max group-by — the same
   * (sim, −cid) lexicographic max the Spark plan partial-aggregates —
   * never a row_number window: the window form forces DuckDB to
   * materialize and sort the whole N·C scored relation (the sf10 OOM of
   * round 13), while the group-by pipelines it through O(N) hash-agg
   * state. */
  def kmeansAssignSql(table: String): String =
    s"""WITH ${quantizedSql(table)},
       |${ivfCentsSql(table)}
       |SELECT s.vec_id, -(s.m.ncid) AS cid, s.m.sim AS sim FROM (
       |  SELECT v.vec_id,
       |         max({'sim': ${cosineSql(dotSql("v.q", "c.cq"), "v.n2", "c.cn2")},
       |              'ncid': -c.cid}) AS m
       |  FROM qn v CROSS JOIN cents c
       |  GROUP BY v.vec_id) s""".stripMargin

  /** k-means M-step over [[kmeansAssign]]'s E-step labeling: the refined
   * centroid = mean of each cell's assigned vectors, exploded per
   * dimension as (cid, dim, n_vecs, sum_q, centroid) — one full E+M
   * iteration of offline centroid refinement is therefore a CHECKED
   * composition (assign is oracle-checked, this is oracle-checked; a
   * driver loop re-seeding [[annIvfTopK]]'s index from these means is
   * the production refinement loop). Empty cells (a seed centroid
   * winning no vector) vanish, identically in the oracle.
   *
   * Scale shape: the assignment's partial-agg output (N rows) equi-joins
   * the quantized corpus on vec_id — both sides key on the vector id, so
   * AQE plans one co-partitioned exchange pair and nothing ever
   * multiplies — then the [[labelCentroids]] explode+aggregate: the
   * (cid, dim) partial aggregate reduces each map task to
   * O(cells · Dim) rows before the final exchange. Sums are exact
   * DECIMAL(38,0) (exported as BIGINT per [[labelCentroids]]'s
   * convention); the mean is one IEEE divide per cell-dimension. The
   * corpus is scanned twice (assign + vector fetch) — the independent-
   * query harness cost also documented for the cluster trio; a
   * production loop would cache the quantized scan. */
  def kmeansRefine(embeddings: DataFrame): DataFrame = {
    val qn = quantized(embeddings).select(col("vec_id").as("q_id"), col("q"))
    kmeansAssign(embeddings)
      .join(qn, col("vec_id") === col("q_id"))
      .select(col("cid"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy(col("cid"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("qv").cast("decimal(38,0)")).as("sum_q"))
      .select(col("cid"), col("dim").cast("bigint").as("dim"),
        col("n_vecs"), col("sum_q").cast("bigint").as("sum_q"),
        (col("sum_q").cast("double") /
          (col("n_vecs").cast("double") * lit(QuantScale))).as("centroid"))
  }

  def kmeansRefineSql(table: String): String =
    s"""WITH a AS (${kmeansAssignSql(table)}),
       |${quantizedSql(table)},
       |e AS (SELECT a.cid, CAST(i - 1 AS BIGINT) AS dim, qn.q[CAST(i AS INT)] AS qv
       |      FROM a JOIN qn ON qn.vec_id = a.vec_id
       |      CROSS JOIN range(1, ${Dim + 1}) AS r(i)),
       |g AS (SELECT cid, dim, count(*) AS n_vecs,
       |             CAST(sum(qv) AS DECIMAL(38,0)) AS sum_q
       |      FROM e GROUP BY cid, dim)
       |SELECT cid, dim, n_vecs, CAST(sum_q AS BIGINT) AS sum_q,
       |       CAST(sum_q AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * $QuantScale) AS centroid
       |FROM g""".stripMargin

  /** IVF index-health profile: per-inverted-list vector count and corpus
   * share. The list-balance check run BEFORE trusting IVF probe latency
   * — a skewed list (share ≫ 1/C) means its probes scan far more than
   * n/C vectors, the IVF analog of a skewed shuffle key (and the signal
   * to refine centroids or split the hot cell). Output
   * (cid, n_vecs, share).
   *
   * Scale shape: [[kmeansAssign]]'s partial-agg output (N rows) reduced
   * again to O(C) rows by a map-side-combining count; share is one IEEE
   * divide by the plan-time exact count ([[ScanMemo]], mirrored by the
   * oracle's scalar subquery — the [[Relational.keySkew]] precedent). */
  def ivfBalance(embeddings: DataFrame): DataFrame = {
    val total = corpusSize(embeddings)
    kmeansAssign(embeddings)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(col("cid"), col("n_vecs"),
        (col("n_vecs").cast("double") / lit(total).cast("double")).as("share"))
  }

  def ivfBalanceSql(table: String): String =
    s"""WITH a AS (${kmeansAssignSql(table)})
       |SELECT cid, count(*) AS n_vecs,
       |       CAST(count(*) AS DOUBLE) / CAST((SELECT count(*) FROM $table) AS DOUBLE) AS share
       |FROM a GROUP BY cid""".stripMargin

  // ---- 7. embedding-space decontamination ----------------------------------

  /** Cosine threshold above which a corpus vector counts as semantic
   * leakage of an eval item. Same dial as [[NearDupSim]] — the planted
   * near-dup band of the shared table. */
  val ContamSim = NearDupSim

  /** Embedding-space benchmark decontamination — the semantic twin of
   * [[Corpus.decontaminate]]'s n-gram screen: an eval item leaks into
   * the training corpus not only verbatim (the gram join catches that)
   * but PARAPHRASED, and paraphrases live nowhere in gram space while
   * sitting right next to the original in embedding space. For each
   * eval-set vector (the [[QueryBudget]]-bounded query sample — the
   * benchmark side of a real run), report the nearest-corpus cosine,
   * the count of corpus vectors above [[ContamSim]] (the contamination
   * MASS — one leaked paraphrase is curable, three hundred means the
   * benchmark's domain saturates the corpus), and the verdict. The
   * corpus side is the scan MINUS the whole eval-bounded set (not just
   * the self pair): eval vectors resembling each other is benchmark
   * redundancy, not leakage, and must not count as contamination mass.
   * Output (query_id, max_sim, n_contam, contaminated).
   *
   * Scale shape: the eval side is O(1) by construction and broadcasts;
   * scoring is map-side against the one quantized corpus scan, and the
   * per-query reduction is a partial-capable MAX/SUM aggregate — each
   * map task reduces its corpus slice to O(queries) rows before the
   * single exchange. Unlike [[annBruteTopK]] there is NO window/rank
   * stage at all: the aggregate IS the answer, so this is the cheapest
   * possible full-scan audit (and the shape survives any corpus size —
   * the exchange carries queries × tasks rows, bytes). Exact integer
   * dots, one IEEE divide per pair, max/count folds — cross-engine
   * deterministic, no order-dependent float accumulation (IEEE max is
   * commutative-associative). */
  def semanticDecontaminate(embeddings: DataFrame): DataFrame = {
    val qn = quantized(embeddings)
    val queries = qn.filter(queryBound)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("n2").as("nq"))
    // the corpus side excludes the WHOLE eval-bounded set, not just self:
    // two eval vectors that merely resemble each other are benchmark
    // redundancy, not training-data leakage, and must not inflate
    // n_contam/contaminated. (annBruteTopK deliberately keeps the other
    // convention — eval vectors ARE legitimate nearest neighbors there.)
    broadcast(queries).crossJoin(qn.filter(!queryBound))
      .select(col("query_id"),
        cosine(dot(col("qq"), col("q")), col("nq"), col("n2")).as("sim"))
      .groupBy(col("query_id"))
      .agg(max(col("sim")).as("max_sim"),
        sum(when(col("sim") >= ContamSim, 1L).otherwise(0L)).as("n_contam"))
      .select(col("query_id"), col("max_sim"), col("n_contam"),
        (col("max_sim") >= ContamSim).as("contaminated"))
  }

  def semanticDecontaminateSql(table: String): String =
    s"""WITH ${quantizedSql(table)},
       |queries AS (SELECT vec_id AS query_id, q AS qq, n2 AS nq
       |  FROM qn WHERE $queryBoundSql),
       |scored AS (
       |  SELECT query_id,
       |         ${cosineSql(dotSql("qq", "c.q"), "nq", "c.n2")} AS sim
       |  FROM queries CROSS JOIN (SELECT * FROM qn WHERE NOT ($queryBoundSql)) c)
       |SELECT query_id, max(sim) AS max_sim,
       |       CAST(sum(CASE WHEN sim >= $ContamSim THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
       |       max(sim) >= $ContamSim AS contaminated
       |FROM scored GROUP BY query_id""".stripMargin

  // ---- 8. spectral audit: power-iteration PCA + residual outliers ----------

  /** Exact fixed-point truncating division sign·⌊|a|·2²⁰ / b⌋ building
   * block, b > 0: the (a − a % b) / b form makes the DECIMAL division
   * itself EXACT (the numerator is divisible by b), so no engine's
   * decimal rounding mode ever participates — the floor(double-divide)
   * shortcut is off by one whenever the true quotient sits within the
   * double's rounding error of an integer, which a 2M-row sum divided
   * by a same-magnitude max hits in practice. */
  private def decTruncDiv(a: Column, b: Column): Column = {
    val ad = a.cast("decimal(38,0)")
    val bd = b.cast("decimal(38,0)")
    ((ad - ad % bd) / bd).cast("bigint")
  }

  /** DuckDB mirror of [[decTruncDiv]] — HUGEINT `//` on non-negative
   * operands is the same truncating quotient. */
  private def truncDivSql(a: String, b: String): String =
    s"(CAST($a AS HUGEINT) // CAST($b AS HUGEINT))"

  /** Fixed-point normalization of a 64-row eigvec iterate: sign(w) ·
   * ⌊|w|·2²⁰ / max|w|⌋ ∈ [−2²⁰, 2²⁰] — exact integer output, one exact
   * DECIMAL trunc-div per dim, the same recipe both engines run. */
  private val FxOne = 1048576L // 2^20, QuantScale as an integer

  /** Power-iteration PCA over the embedding table — the top principal
   * component extracted with TWO matrix-free mat-vec passes, every
   * arithmetic step exact integer/DECIMAL so the oracle hash-checks the
   * eigenvector itself (not a tolerance band). The trick that keeps the
   * covariance matrix out of the plan: A·v = Σᵢ cᵢ·(cᵢ·v) over centered
   * rows cᵢ = qᵢ − m needs only the per-row scalar tᵢ = qᵢ·v − m·v and
   * one dim-keyed aggregate Σᵢ qᵢⱼ·tᵢ − mⱼ·Σtᵢ — never a Dim×Dim
   * product, never a driver hop. Centering uses the TRUNCATED quantized
   * mean m = sign(S)·⌊|S|/n⌋ (both engines derive it with the same
   * integer ops; the sub-ULP centering offset changes the extracted
   * direction immeasurably and determinism exactly).
   *
   * Iterates: v₀ = 1⃗ (fixed, embedded in both plans); v₁ = fx(A·v₀);
   * v₂ = fx(A·v₁) with fx the 2²⁰ fixed-point normalization above.
   * Two steps out of a fixed start is an AUDIT of the spectral
   * direction (anisotropy / collapsed-dimension drift shows up as a
   * dominant stable v₂ within two steps), not a converged solver — a
   * caller wanting k digits chains more passes, each the same shape.
   *
   * Output: one row per dimension (dim, mean_q, v1_fx, v2_fx), 64 rows.
   *
   * Scale shape: TWO scans of the memoized quantized projection
   * ([[quantized]] — persisted once for the whole vector family); each
   * pass is map-side partial aggregation onto 64 keys (the exchange
   * carries O(Dim) rows per task at ANY corpus size); the iterate
   * re-enters pass 2 as a broadcast single-row array. The mean pass is
   * FUSED into pass 1 (see [[embPcaPowerFresh]]), and every step
   * between the scans is array-expression arithmetic over one
   * persisted 1-row carry frame — each subtree PLANS AND RUNS ONCE
   * (the round-14 64-row-frame shape re-expanded each pass's lineage
   * per reference; PlanGuard's budget catches exactly this). The
   * 64-row result itself is memoized per (session, scan) like
   * [[quantized]], so the spectral consumer queries share ONE chain
   * computation per session.
   * Overflow headroom (pass 2 is the binding case): |t| = |q·v₁ − k₁|
   * ≤ 2·Dim·2²¹·2²⁰ = 2⁴⁸; the per-term product qv·t ≤ 2⁶⁹ is formed
   * as a DECIMAL(38,0)×DECIMAL(38,0) product — NEVER as a BIGINT
   * multiply, which wraps silently non-ANSI above 2⁶³; the accumulated
   * |w| ≤ n·2⁷⁰ and normalization product |w|·2²⁰ ≤ n·2⁹⁰ stay inside
   * DECIMAL(38,0) to n ≈ 2³⁶ ≈ 7·10¹⁰ vectors (a 100 TB corpus of
   * 4 KB embedding rows is ~2.5·10¹⁰). */
  def embPcaPower(embeddings: DataFrame): DataFrame =
    ScanMemo.getOrCompute("embPcaPower", embeddings)(embPcaPowerFresh(embeddings)) match {
      case None => embPcaPowerFresh(embeddings)._1
      case Some((out, chain)) =>
        // a harness clearCache() drops BOTH the result's persist and the
        // chain intermediates' — re-persist the SAME frames in dependency
        // order (the chain is leaf→root) so each re-compiled cachedPlan
        // substitutes its inner frames again. Not a rebuild: the cache
        // matches by canonicalized plan, so a structurally-identical
        // rebuild shares (and, unpersisted, evicts) the memoized frames'
        // cache entries.
        if (out.storageLevel == StorageLevel.NONE) {
          quantized(embeddings) // re-register the shared projection first
          chain.foreach(f => if (f.storageLevel == StorageLevel.NONE) f.persist())
        }
        out
    }

  /** Sorted-by-dim array collapse of a (dim, v) frame — the 64-row →
   * 1-row-array bridge the whole spectral family rides. */
  private def sortedArrAgg(d: Column, v: Column): Column =
    transform(array_sort(collect_list(struct(d.as("d"), v.as("v")))),
      x => x.getField("v"))

  /** The chain itself; returns (result, every frame this call persisted,
   * leaf→root) so [[embPcaPower]] can re-persist the chain after a
   * `clearCache()`.
   *
   * Round-16 shape (optimization round; output byte-identical to the
   * round-15 three-pass form, proven by the BigInt mirror spec + oracle
   * hash at sf0.01/sf0.1): the mean pass and mat-vec pass 1 FUSE into
   * one scan — with v₀ = 1⃗ fixed, w1 needs only per-dim S = Σ qv and
   * G = Σ qv·(q·1⃗), because Σᵢ qvᵢ·t₁ᵢ = G − sm·S and Σᵢ t₁ᵢ = T − n·sm
   * (T = ΣS, sm = Σm) — so pass 1 costs ZERO extra scans on top of the
   * mean. Everything between the two remaining scans (mean, w1,
   * normalize, k1) is expression arithmetic over ONE 1-row array-column
   * carry frame, not chains of 64-row frames: the round-15 shape
   * materialized each tiny step through its own aggregate + 1-row
   * broadcast, and at 2 000-row bench inputs those ~25 fixed-latency
   * Spark jobs WERE the query's whole cost (guide §1: job-count ×
   * fixed stage latency, not bytes). Two corpus scans (S/G, then w2),
   * two 1-row broadcasts, ~8 jobs total.
   *
   * Overflow headroom (unchanged analysis, now at the array level):
   * per-term qv·r ≤ 2²¹·2²⁷ = 2⁴⁸ BIGINT-safe, G ≤ n·2⁴⁸ in
   * DECIMAL(38,0); sm·S ≤ n·2⁴⁸; m·(T − n·sm) ≤ 2²¹·n·2²⁸ = n·2⁴⁹;
   * pass-2 products qv·t ≤ 2⁶⁹ as DECIMAL(38,0) — all inside
   * DECIMAL(38,0) to n ≈ 2³⁶ ≈ 7·10¹⁰ vectors. */
  private def embPcaPowerFresh(embeddings: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val qn = quantized(embeddings)
    val n = math.max(corpusSize(embeddings), 1L)
    val dec = "decimal(38,0)"
    val ones = typedLit(Seq.fill(Dim)(1L))

    // ONE scan: per-dim S = Σ qv and G = Σ qv·(q·1⃗) — the fused
    // mean + pass-1 aggregate (r = q·1⃗ is the per-row scalar)
    val sg = qn.select(col("q"), dot(col("q"), ones).as("r"))
      .select(posexplode(col("q")).as(Seq("dim", "qv")), col("r"))
      .groupBy(col("dim"))
      .agg(sum(col("qv")).as("s"), // |S| ≤ n·2^21 — BIGINT-safe to n ≈ 2^42
        // qv·r ≤ 2^48 BIGINT-safe per term; widen BEFORE the sum
        sum((col("qv") * col("r")).cast(dec)).as("g"),
        // exploded rows per dim = rows with a non-null vector: Σt must
        // range over exactly the rows pass 1's explode saw, and the
        // plan-time n counts null-embedding rows those sums never did
        count(lit(1)).as("c"))

    // collapse to one row; mean, w1, normalize and k1 are all array
    // expressions — no further aggregates, joins, or corpus work
    val carry1 = sg
      .agg(sortedArrAgg(col("dim"), col("s")).as("s_arr"),
        sortedArrAgg(col("dim"), col("g")).as("g_arr"),
        sortedArrAgg(col("dim"), col("c")).as("c_arr"))
      // m = sign(S)·⌊|S|/n⌋ — same truncating integer division as the
      // round-15 `abs(s) div n` (decTruncDiv is exact on integers)
      .withColumn("m_arr", transform(col("s_arr"), x =>
        signum(x).cast("bigint") * decTruncDiv(abs(x), lit(n))))
      .withColumn("sm", dot(col("m_arr"), ones)) // |Σm| ≤ Dim·2^21 = 2^27
      // T = Σ S as DECIMAL: Σᵢ t₁ᵢ = T − nn·sm (exact; nn = non-null rows)
      .withColumn("tt", aggregate(col("s_arr"), lit(0L).cast(dec),
        (acc, x) => acc + x.cast(dec)))
      .withColumn("ts", col("tt") - array_max(col("c_arr")).cast(dec) * col("sm").cast(dec))
      // w1 = G − sm·S − m·(T − n·sm) per dim
      .withColumn("w1_arr", zip_with(
        zip_with(col("g_arr"), col("s_arr"),
          (g, s) => g - col("sm").cast(dec) * s.cast(dec)),
        col("m_arr"), (x, m) => x - m.cast(dec) * col("ts")))
      .withColumn("wm1",
        greatest(array_max(transform(col("w1_arr"), x => abs(x))), lit(1L).cast(dec)))
      .withColumn("v1_arr", transform(col("w1_arr"), x =>
        signum(x).cast("bigint") * decTruncDiv(abs(x) * lit(FxOne), col("wm1"))))
      .select(col("m_arr"), col("v1_arr"),
        dot(col("m_arr"), col("v1_arr")).as("k1")) // |m·v1| ≤ Dim·2^41 = 2^47
      .persist() // referenced twice: pass-2 scan + the final assembly

    // pass 2: the second (and last) corpus scan. qv·t as a DECIMAL
    // product (ADVICE r14): BIGINT qv*t wraps silently past 2^63,
    // which pass 2's |t| ≤ 2^48 × |qv| ≤ 2^21 can reach
    val out = qn.crossJoin(broadcast(carry1.select(col("v1_arr"), col("k1"))))
      .select(col("q"), (dot(col("q"), col("v1_arr")) - col("k1")).as("t"))
      .select(posexplode(col("q")).as(Seq("dim", "qv")), col("t"))
      .groupBy(col("dim"))
      .agg(sum(col("qv").cast(dec) * col("t").cast(dec)).as("sqt"),
        sum(col("t").cast(dec)).as("st"))
      // st = Σt is dim-independent; max() over 64 identical values
      // survives the collapse without a second carry column
      .agg(sortedArrAgg(col("dim"), col("sqt")).as("sqt_arr"), max(col("st")).as("st"))
      .crossJoin(broadcast(carry1))
      .withColumn("w2_arr", zip_with(col("sqt_arr"), col("m_arr"),
        (sq, m) => sq - m.cast(dec) * col("st")))
      .withColumn("wm2",
        greatest(array_max(transform(col("w2_arr"), x => abs(x))), lit(1L).cast(dec)))
      .withColumn("v2_arr", transform(col("w2_arr"), x =>
        signum(x).cast("bigint") * decTruncDiv(abs(x) * lit(FxOne), col("wm2"))))
      .select(posexplode(arrays_zip(col("m_arr"), col("v1_arr"), col("v2_arr")))
        .as(Seq("dim", "z")))
      .select(col("dim").cast("bigint").as("dim"),
        col("z").getField("m_arr").as("mean_q"),
        col("z").getField("v1_arr").as("v1_fx"),
        col("z").getField("v2_arr").as("v2_fx"))
      .orderBy(col("dim"))
      .persist()
    (out, Seq(carry1, out))
  }

  def embPcaPowerSql(table: String): String = {
    val fx = FxOne
    s"""WITH ${quantizedSql(table)},
       |tot AS (SELECT greatest(count(*), 1) AS n FROM qn),
       |e AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, q[CAST(i AS INT)] AS qv
       |      FROM qn CROSS JOIN range(1, ${Dim + 1}) AS r(i)),
       |s AS (SELECT dim, CAST(sum(qv) AS BIGINT) AS s FROM e GROUP BY dim),
       |m AS (SELECT dim, CASE WHEN s >= 0 THEN 1 ELSE -1 END
       |             * CAST(abs(s) // n AS BIGINT) AS m FROM s CROSS JOIN tot),
       |maux AS (SELECT CAST(sum(m) AS BIGINT) AS sm FROM m),
       |t1 AS (SELECT vec_id, CAST(list_sum(q) AS BIGINT) - sm AS t
       |       FROM qn CROSS JOIN maux),
       |w1 AS (SELECT e.dim,
       |              CAST(sum(CAST(qv AS HUGEINT) * t) AS DECIMAL(38,0)) AS sqt,
       |              CAST(sum(CAST(t AS HUGEINT)) AS DECIMAL(38,0)) AS st
       |       FROM e JOIN t1 USING (vec_id) GROUP BY e.dim),
       |w1m AS (SELECT w1.dim, sqt - CAST(m AS DECIMAL(38,0)) * st AS w
       |        FROM w1 JOIN m USING (dim)),
       |w1x AS (SELECT greatest(CAST(max(abs(w)) AS HUGEINT), 1) AS wm FROM w1m),
       |v1 AS (SELECT dim, (CASE WHEN w >= 0 THEN 1 ELSE -1 END)
       |             * CAST(${truncDivSql(s"abs(CAST(w AS HUGEINT)) * $fx", "wm")} AS BIGINT) AS v1_fx
       |       FROM w1m CROSS JOIN w1x),
       |v1arr AS (SELECT list(v1_fx ORDER BY dim) AS v1a FROM v1),
       |k1 AS (SELECT CAST(sum(m.m * v1.v1_fx) AS BIGINT) AS k1
       |       FROM m JOIN v1 USING (dim)),
       |t2 AS (SELECT vec_id, ${dotSql("q", "v1a")} - k1 AS t
       |       FROM qn CROSS JOIN v1arr CROSS JOIN k1),
       |w2 AS (SELECT e.dim,
       |              CAST(sum(CAST(qv AS HUGEINT) * t) AS DECIMAL(38,0)) AS sqt,
       |              CAST(sum(CAST(t AS HUGEINT)) AS DECIMAL(38,0)) AS st
       |       FROM e JOIN t2 USING (vec_id) GROUP BY e.dim),
       |w2m AS (SELECT w2.dim, sqt - CAST(m AS DECIMAL(38,0)) * st AS w
       |        FROM w2 JOIN m USING (dim)),
       |w2x AS (SELECT greatest(CAST(max(abs(w)) AS HUGEINT), 1) AS wm FROM w2m),
       |v2 AS (SELECT dim, (CASE WHEN w >= 0 THEN 1 ELSE -1 END)
       |             * CAST(${truncDivSql(s"abs(CAST(w AS HUGEINT)) * $fx", "wm")} AS BIGINT) AS v2_fx
       |       FROM w2m CROSS JOIN w2x)
       |SELECT m.dim, m.m AS mean_q, v1.v1_fx, v2.v2_fx
       |FROM m JOIN v1 USING (dim) JOIN v2 USING (dim)
       |ORDER BY m.dim""".stripMargin
  }

  /** Top-2 principal directions — [[embPcaPower]]'s dominant iterate
   * plus a SECOND component extracted by power iteration under exact
   * Gram–Schmidt deflation. One component cannot separate anisotropy
   * from a genuinely multi-modal embedding space; the second direction
   * is what sharpens the residual screen and exposes a two-cluster
   * corpus (two embedding models mixed, a re-embedded slice) that the
   * dominant direction alone renders as "wide".
   *
   * Deflation is DIVISION-FREE and therefore exact: instead of
   * subtracting v̂(v̂·w) (whose unit-normalization needs a lossy
   * divide), each pass orthogonalizes the NORMALIZED iterate wn as
   * w' = (v·v)·wn − (v·wn)·v — a scalar multiple of the true
   * projection-removed vector, so the direction is identical and every
   * operand an exact integer: |v·wn| ≤ Dim·2⁴⁰ = 2⁴⁶ (BIGINT),
   * per-component products ≤ 2⁴⁶·2²⁰ = 2⁶⁶ formed as DECIMAL(38,0) —
   * n-independent, because deflation runs on 64-row normalized frames.
   * Two deflated passes from u₀ = 1⃗ mirror the two-pass audit contract
   * of the first component. Only the 2²⁰ fixed-point normalizations
   * truncate, and both engines truncate identically.
   *
   * Output: one row per dimension (dim, mean_q, pc1_fx, pc2_fx) with
   * pc1 = the chain's v₂ iterate and pc2 = the deflated iterate u₂.
   *
   * Scale shape: the memoized [[embPcaPower]] chain (paid once per
   * session across the whole spectral family) + ONE more mat-vec pass
   * over the persisted quantized projection (map-side partial
   * aggregation onto 64 keys); every broadcast side is one row at ANY
   * corpus size. The iterate lives as a 1-ROW ARRAY COLUMN between
   * steps — normalize/deflate are expressions over materialized array
   * columns, so each plan subtree is referenced ONCE and the logical
   * tree stays linear.
   *
   * Why one pass, not two (round-16 optimization; output
   * byte-identical, proven by the BigInt mirror spec + oracle hash):
   * the FIRST deflated pass starts from u₀ = 1⃗ with ku₀ = Σ mean_q —
   * exactly the chain's pass-1 input (t = q·1⃗ − Σm) — so its mat-vec
   * and normalization reproduce the chain's v₁ iterate VERBATIM. The
   * stored v1_fx therefore IS pass a's normalized iterate, and pass a
   * reduces to the 64-element deflation arithmetic on the persisted
   * chain output: zero corpus scans, zero aggregates. Only pass b
   * (deflating a genuinely new direction) touches the corpus. */
  def embPcaTopk(embeddings: DataFrame): DataFrame = {
    val qn = quantized(embeddings)
    val pca = embPcaPower(embeddings)
    val dec = "decimal(38,0)"

    // pass a, scan-free: deflate the chain's v₁ iterate (== pass a's
    // normalized mat-vec, see scaladoc) against v = v₂ on one row
    val u1 = pca.agg(
      sortedArrAgg(col("dim"), col("mean_q")).as("m_arr"),
      sortedArrAgg(col("dim"), col("v2_fx")).as("v_arr"),
      sortedArrAgg(col("dim"), col("v1_fx")).as("wn_arr"))
      .withColumn("vv", dot(col("v_arr"), col("v_arr"))) // ≤ Dim·2^40 = 2^46
      .withColumn("vw", dot(col("v_arr"), col("wn_arr"))) // ≤ Dim·2^40 = 2^46
      // division-free deflation: w' = (v·v)·wn − (v·wn)·v — exact
      // integers, per-element products ≤ 2^46·2^20 = 2^66 in DECIMAL
      .withColumn("wd_arr", zip_with(col("wn_arr"), col("v_arr"), (a, b) =>
        col("vv").cast(dec) * a.cast(dec) - col("vw").cast(dec) * b.cast(dec)))
      .withColumn("wm2",
        greatest(array_max(transform(col("wd_arr"), x => abs(x))), lit(1L).cast(dec)))
      .select(col("m_arr"), col("v_arr"), col("vv"),
        transform(col("wd_arr"), x =>
          signum(x).cast("bigint") * decTruncDiv(abs(x) * lit(FxOne), col("wm2")))
          .as("u_arr"))
      .withColumn("ku", dot(col("m_arr"), col("u_arr"))) // ≤ Dim·2^41 = 2^47

    // pass b: the one corpus scan. qv·t as a DECIMAL product: |t| ≤
    // 2^48, |qv| ≤ 2^21 — a BIGINT multiply would wrap past 2^63.
    // u1 is re-derived for the closing crossJoin: both references are
    // one tiny aggregate over the PERSISTED 64-row chain output
    val out = qn.crossJoin(broadcast(u1.select(col("u_arr"), col("ku"))))
      .select(col("q"), (dot(col("q"), col("u_arr")) - col("ku")).as("t"))
      .select(posexplode(col("q")).as(Seq("dim", "qv")), col("t"))
      .groupBy(col("dim"))
      .agg(sum(col("qv").cast(dec) * col("t").cast(dec)).as("sqt"),
        sum(col("t").cast(dec)).as("st"))
      // st = Σt is dim-independent; max() survives the collapse
      .agg(sortedArrAgg(col("dim"), col("sqt")).as("sqt_arr"), max(col("st")).as("st"))
      .crossJoin(broadcast(u1))
      .withColumn("w_arr", zip_with(col("sqt_arr"), col("m_arr"),
        (sq, m) => sq - m.cast(dec) * col("st")))
      .withColumn("wm",
        greatest(array_max(transform(col("w_arr"), x => abs(x))), lit(1L).cast(dec)))
      .withColumn("wn_arr", transform(col("w_arr"), x =>
        signum(x).cast("bigint") * decTruncDiv(abs(x) * lit(FxOne), col("wm"))))
      .withColumn("vw", dot(col("v_arr"), col("wn_arr")))
      .withColumn("wd_arr", zip_with(col("wn_arr"), col("v_arr"), (a, b) =>
        col("vv").cast(dec) * a.cast(dec) - col("vw").cast(dec) * b.cast(dec)))
      .withColumn("wm2",
        greatest(array_max(transform(col("wd_arr"), x => abs(x))), lit(1L).cast(dec)))
      .withColumn("u2_arr", transform(col("wd_arr"), x =>
        signum(x).cast("bigint") * decTruncDiv(abs(x) * lit(FxOne), col("wm2"))))
      .select(posexplode(arrays_zip(col("m_arr"), col("v_arr"), col("u2_arr")))
        .as(Seq("dim", "z")))
      .select(col("dim").cast("bigint").as("dim"),
        col("z").getField("m_arr").as("mean_q"),
        col("z").getField("v_arr").as("pc1_fx"),
        col("z").getField("u2_arr").as("pc2_fx"))
      .orderBy(col("dim"))
    out
  }

  def embPcaTopkSql(table: String): String = {
    val fx = FxOne
    // one deflated pass as SQL CTEs; `t` is the per-row scalar CTE text.
    // Every multiply-referenced CTE is AS MATERIALIZED: DuckDB 1.0
    // INLINES plain CTEs per reference, and the pass chain references
    // pca/wm/wn/wd 2-3× each — the un-hinted form re-expands the whole
    // upstream chain exponentially (the same disease the Spark side
    // avoids by carrying the iterate as a 1-row array column), turning
    // a seconds-long oracle into a non-terminating one
    def passSql(tag: String, tExpr: String, prev: String): String =
      s"""t$tag AS MATERIALIZED (SELECT vec_id, $tExpr AS t FROM $prev),
         |w$tag AS (SELECT e.dim,
         |              CAST(sum(CAST(qv AS HUGEINT) * t) AS DECIMAL(38,0)) AS sqt,
         |              CAST(sum(CAST(t AS HUGEINT)) AS DECIMAL(38,0)) AS st
         |       FROM e JOIN t$tag USING (vec_id) GROUP BY e.dim),
         |wm$tag AS MATERIALIZED (SELECT w$tag.dim, sqt - CAST(mean_q AS DECIMAL(38,0)) * st AS w
         |        FROM w$tag JOIN pca ON w$tag.dim = pca.dim),
         |wx$tag AS (SELECT greatest(CAST(max(abs(w)) AS HUGEINT), 1) AS wm FROM wm$tag),
         |wn$tag AS MATERIALIZED (SELECT dim, (CASE WHEN w >= 0 THEN 1 ELSE -1 END)
         |             * CAST(${truncDivSql(s"abs(CAST(w AS HUGEINT)) * $fx", "wm")} AS BIGINT) AS wn
         |       FROM wm$tag CROSS JOIN wx$tag),
         |d$tag AS (SELECT CAST(sum(v2_fx * wn) AS BIGINT) AS vw,
         |                 CAST(sum(v2_fx * v2_fx) AS BIGINT) AS vv
         |          FROM pca JOIN wn$tag ON pca.dim = wn$tag.dim),
         |wd$tag AS MATERIALIZED (SELECT wn$tag.dim,
         |                  CAST(vv AS HUGEINT) * wn - CAST(vw AS HUGEINT) * v2_fx AS w
         |           FROM wn$tag JOIN pca ON wn$tag.dim = pca.dim CROSS JOIN d$tag),
         |wdx$tag AS (SELECT greatest(CAST(max(abs(w)) AS HUGEINT), 1) AS wm FROM wd$tag),
         |u$tag AS MATERIALIZED (SELECT dim, (CASE WHEN w >= 0 THEN 1 ELSE -1 END)
         |             * CAST(${truncDivSql(s"abs(CAST(w AS HUGEINT)) * $fx", "wm")} AS BIGINT) AS u
         |       FROM wd$tag CROSS JOIN wdx$tag)""".stripMargin
    s"""WITH pca AS MATERIALIZED (${embPcaPowerSql(table)}),
       |${quantizedSql(table)},
       |e AS MATERIALIZED (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, q[CAST(i AS INT)] AS qv
       |      FROM qn CROSS JOIN range(1, ${Dim + 1}) AS r(i)),
       |ku0 AS (SELECT CAST(sum(mean_q) AS BIGINT) AS ku FROM pca),
       |p0 AS (SELECT vec_id, q, ku FROM qn CROSS JOIN ku0),
       |${passSql("a", "CAST(list_sum(q) AS BIGINT) - ku", "p0")},
       |u1aux AS (SELECT list(u ORDER BY ua.dim) AS u_arr,
       |                 CAST(sum(mean_q * u) AS BIGINT) AS ku
       |          FROM pca JOIN ua ON pca.dim = ua.dim),
       |p1 AS (SELECT vec_id, q, u_arr, ku FROM qn CROSS JOIN u1aux),
       |${passSql("b", s"${dotSql("q", "u_arr")} - ku", "p1")}
       |SELECT pca.dim, pca.mean_q, pca.v2_fx AS pc1_fx, ub.u AS pc2_fx
       |FROM pca JOIN ub ON pca.dim = ub.dim
       |ORDER BY pca.dim""".stripMargin
  }

  /** Residual-outlier screen: the [[PcaResidK]] vectors FURTHEST from
   * the corpus's dominant direction — residual² after projecting the
   * centered vector onto [[embPcaPower]]'s v₂ iterate. The production
   * read: spectral outliers are the mis-embedded / off-distribution
   * rows a mean-distance screen misses (a vector can sit at average
   * NORM yet point nowhere near the principal mass).
   *
   * Exactness: resid_fx = |c|² − ⌊(c·v)² / |v|²⌋ — every operand an
   * exact integer (|c|² = n2 − 2·q·m + m·m off the memoized
   * projection), the projection term one exact DECIMAL trunc-div, so
   * ranking and hash both pin cross-engine; resid_share is one IEEE
   * divide over two exact integers. Output (vec_id, c2, resid_fx,
   * resid_share), top-[[PcaResidK]] by (resid_fx desc, vec_id).
   *
   * Scale shape: [[embPcaPower]]'s two bounded passes, then ONE more
   * scoring scan against two broadcast single-row arrays feeding a
   * TakeOrderedAndProject top-k — no shuffle of scored rows beyond the
   * per-partition k heads. */
  def pcaResidualOutliers(embeddings: DataFrame, k: Int = PcaResidK): DataFrame = {
    val qn = quantized(embeddings)
    val pca = embPcaPower(embeddings)
    val aux = pca.agg(
      transform(array_sort(collect_list(struct(col("dim").as("d"), col("mean_q").as("v")))),
        x => x.getField("v")).as("m_arr"),
      transform(array_sort(collect_list(struct(col("dim").as("d"), col("v2_fx").as("v")))),
        x => x.getField("v")).as("v_arr"))
      .select(col("m_arr"), col("v_arr"),
        dot(col("m_arr"), col("m_arr")).as("mm"),
        dot(col("m_arr"), col("v_arr")).as("kv"),
        greatest(dot(col("v_arr"), col("v_arr")), lit(1L)).as("den"))
    val scored = qn.crossJoin(broadcast(aux))
      .select(col("vec_id"),
        (col("n2") - lit(2L) * dot(col("q"), col("m_arr")) + col("mm")).as("c2"),
        (dot(col("q"), col("v_arr")) - col("kv")).as("cv"), col("den"))
      .select(col("vec_id"), col("c2"),
        (col("c2") - decTruncDiv(col("cv").cast("decimal(38,0)") * col("cv").cast("decimal(38,0)"),
          col("den"))).as("resid_fx"))
    scored
      .select(col("vec_id"), col("c2"), col("resid_fx"),
        when(col("c2") === 0L, lit(0.0))
          .otherwise(col("resid_fx").cast("double") / col("c2").cast("double"))
          .as("resid_share"))
      .orderBy(col("resid_fx").desc, col("vec_id"))
      .limit(k)
  }

  val PcaResidK = 50

  def pcaResidualOutliersSql(table: String, k: Int = PcaResidK): String =
    s"""WITH pca AS (${embPcaPowerSql(table)}),
       |${quantizedSql(table)},
       |aux AS (SELECT list(mean_q ORDER BY dim) AS m_arr,
       |               list(v2_fx ORDER BY dim) AS v_arr,
       |               CAST(sum(mean_q * mean_q) AS BIGINT) AS mm,
       |               CAST(sum(mean_q * v2_fx) AS BIGINT) AS kv,
       |               greatest(CAST(sum(v2_fx * v2_fx) AS BIGINT), 1) AS den
       |        FROM pca),
       |scored AS (
       |  SELECT vec_id,
       |         n2 - 2 * ${dotSql("q", "m_arr")} + mm AS c2,
       |         ${dotSql("q", "v_arr")} - kv AS cv, den
       |  FROM qn CROSS JOIN aux),
       |resid AS (
       |  SELECT vec_id, c2,
       |         c2 - CAST(${truncDivSql("CAST(cv AS HUGEINT) * cv", "den")} AS BIGINT) AS resid_fx
       |  FROM scored)
       |SELECT vec_id, c2, resid_fx,
       |       CASE WHEN c2 = 0 THEN 0.0
       |            ELSE CAST(resid_fx AS DOUBLE) / CAST(c2 AS DOUBLE) END AS resid_share
       |FROM resid
       |ORDER BY resid_fx DESC, vec_id LIMIT $k""".stripMargin

  /** Per-label spectral drift — each label slice's distribution along
   * the corpus's dominant direction: n, mean/min/max of the exact
   * integer projection proj = (q − m)·v₂ of [[embPcaPower]]'s iterate.
   * The slice-drift monitor: a label whose mean projection walks away
   * from 0 between corpus versions got re-embedded, re-labeled, or
   * drifted — visible here while global norms still look healthy.
   *
   * Exactness: proj is BIGINT (≤ 2⁴⁷); per-label sums accumulate as
   * DECIMAL(38,0); the mean is the same sign·⌊|Σ|/n⌋ trunc-div both
   * engines compute — hash-pinned, no float anywhere. Output one row
   * per label (label, n_vecs, mean_proj, min_proj, max_proj).
   *
   * Scale shape: [[embPcaPower]]'s bounded passes + ONE labeled scan
   * (label rides the same quantize projection) against a 1-row
   * broadcast (v_arr, kv); the final exchange is label-keyed —
   * O(labels) rows. */
  def labelSpectralDrift(embeddings: DataFrame): DataFrame = {
    val pca = embPcaPower(embeddings)
    val aux = pca.agg(
      transform(array_sort(collect_list(struct(col("dim").as("d"), col("mean_q").as("v")))),
        x => x.getField("v")).as("m_arr"),
      transform(array_sort(collect_list(struct(col("dim").as("d"), col("v2_fx").as("v")))),
        x => x.getField("v")).as("v_arr"))
      .select(col("v_arr"), dot(col("m_arr"), col("v_arr")).as("kv"))
    embeddings
      .select(col("label"), quantize(col("embedding")).as("q"))
      .crossJoin(broadcast(aux))
      .select(col("label"), (dot(col("q"), col("v_arr")) - col("kv")).as("proj"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("proj").cast("decimal(38,0)")).as("sp"),
        min(col("proj")).as("min_proj"), max(col("proj")).as("max_proj"))
      .select(col("label"), col("n_vecs"),
        (signum(col("sp")).cast("bigint") *
          decTruncDiv(abs(col("sp")), col("n_vecs"))).as("mean_proj"),
        col("min_proj"), col("max_proj"))
      .orderBy(col("label"))
  }

  def labelSpectralDriftSql(table: String): String =
    s"""WITH pca AS (${embPcaPowerSql(table)}),
       |aux AS (SELECT list(v2_fx ORDER BY dim) AS v_arr,
       |               CAST(sum(mean_q * v2_fx) AS BIGINT) AS kv FROM pca),
       |lp AS (SELECT label,
       |              ${dotSql(quantizeSql("embedding"), "v_arr")} - kv AS proj
       |       FROM $table CROSS JOIN aux),
       |ag AS (SELECT label, count(*) AS n_vecs,
       |              CAST(sum(CAST(proj AS HUGEINT)) AS DECIMAL(38,0)) AS sp,
       |              min(proj) AS min_proj, max(proj) AS max_proj
       |       FROM lp GROUP BY label)
       |SELECT label, n_vecs,
       |       (CASE WHEN sp >= 0 THEN 1 ELSE -1 END)
       |         * CAST(${truncDivSql("abs(CAST(sp AS HUGEINT))", "n_vecs")} AS BIGINT) AS mean_proj,
       |       min_proj, max_proj
       |FROM ag ORDER BY label""".stripMargin

  // ---- 9. LSH design audit: the analytic banding S-curve -------------------

  /** 2²⁰ fixed-point multiply — the one step of the exact S-curve pow:
   * truncating shift, non-negative operands, identical in both engines
   * (`>>` on BIGINT). Products ≤ 2⁴⁰ — BIGINT-safe. */
  private def fxMulCol(a: Column, b: Column): Column = shiftright(a * b, 20)
  private def fxMulSql(a: String, b: String): String = s"(($a * $b) >> 20)"

  /** Shared square-and-multiply recipe (MSB-first) — the SAME structural
   * op order built as a Column tree and as a SQL string, so both
   * engines apply identical intermediate truncations. A plain linear
   * unroll would also agree but doubles the SQL text per level at
   * b ≈ 100 exponents; log-depth keeps both trees small. */
  private def fxPowBits(e: Int): Seq[Char] = {
    require(e >= 1, s"fixed-point pow exponent >= 1: $e")
    Integer.toBinaryString(e).drop(1).toSeq
  }
  private def fxPowCol(base: Column, e: Int): Column =
    fxPowBits(e).foldLeft(base) { (acc, bit) =>
      val sq = fxMulCol(acc, acc)
      if (bit == '1') fxMulCol(sq, base) else sq
    }
  private def fxPowSql(base: String, e: Int): String =
    fxPowBits(e).foldLeft(base) { (acc, bit) =>
      val sq = fxMulSql(acc, acc)
      if (bit == '1') fxMulSql(sq, base) else sq
    }

  /** The analytic detection curve of the near-dup banding ACTUALLY
   * configured for this corpus — P(candidate | band-match prob p) =
   * 1 − (1 − pᴿ)ᴮ evaluated at p = k/32, k = 1..32, in exact 2²⁰
   * fixed-point (s_fx = k·2¹⁵ is exact; every pow step one truncating
   * multiply-shift, identical cross-engine — no float pow anywhere).
   * (R, B) derive from the corpus count exactly as [[embeddingNearDup]]
   * derives them, so the curve is the audit of the LIVE design point:
   * read off expected recall at the operating agreement probability and
   * the false-candidate mass at low p. The [[nearDupBandKeys]] p-axis
   * is per-PLANE agreement probability (1 − θ/π for hyperplane LSH,
   * raw Jaccard for MinHash — same curve family as
   * `TextDedup.minhashLsh`). Output one row per grid point
   * (s_num, s_fx, rows_r, bands_b, p_band_fx, p_detect_fx), 32 rows.
   *
   * Scale shape: a 32-row range + pure expression arithmetic — the only
   * corpus-dependent input is the cached plan-time count that picks
   * (R, B); cost is O(1) at any SF. */
  def lshBandCurve(embeddings: DataFrame): DataFrame = {
    val n = corpusSize(embeddings)
    val r = nearDupRowsFor(n)
    val b = NearDupBandTable(r)
    val spark = embeddings.sparkSession
    val grid = spark.range(1, 33).select(col("id").as("s_num"))
    val sFx = col("s_num") * lit(32768L) // (k/32)·2^20, exact
    val pBand = fxPowCol(sFx, r)
    grid.select(col("s_num"), sFx.as("s_fx"),
        lit(r.toLong).as("rows_r"), lit(b.toLong).as("bands_b"),
        pBand.as("p_band_fx"))
      .select(col("s_num"), col("s_fx"), col("rows_r"), col("bands_b"),
        col("p_band_fx"),
        (lit(FxOne) - fxPowCol(lit(FxOne) - col("p_band_fx"), b)).as("p_detect_fx"))
      .orderBy(col("s_num"))
  }

  def lshBandCurveSql(table: String): String = {
    // the oracle re-derives (R, B) from its own count via the same
    // integer bit-length recipe — but the BAND table is Scala-computed
    // (arccos/ln never cross engines), so B(R) is spliced as a CASE
    // over the full table, exactly the nearDupRowsFor contract
    val caseB = NearDupBandTable.toSeq.sorted
      .map { case (rr, bb) => s"WHEN $rr THEN $bb" }.mkString(" ")
    // R and B are data-derived in SQL, but the pow exponent must be a
    // compile-time integer for the unrolled fixed-point recipe — so the
    // oracle branches over every possible R (2..max), each branch the
    // exact Scala-side unroll at that R/B. At most 7 branches.
    val branches = NearDupBandTable.toSeq.sorted.map { case (rr, _) =>
      s"WHEN r = $rr THEN ${fxPowSql("s_fx", rr)}"
    }.mkString("\n|             ")
    val detect = NearDupBandTable.toSeq.sorted.map { case (rr, bb) =>
      s"WHEN r = $rr THEN ($FxOne - ${fxPowSql(s"($FxOne - p_band_fx)", bb)})"
    }.mkString("\n|             ")
    s"""WITH tot AS (SELECT count(*) AS n FROM $table),
       |cfg AS (SELECT greatest(2, least(${NearDupRowsMax},
       |          CASE WHEN ((n + ${NearDupTargetBucket} - 1) // ${NearDupTargetBucket}) <= 1 THEN 0
       |               ELSE length(bin(((n + ${NearDupTargetBucket} - 1) // ${NearDupTargetBucket}) - 1)) END)) AS r
       |        FROM tot),
       |cfg2 AS (SELECT r, CASE r $caseB END AS b FROM cfg),
       |grid AS (SELECT CAST(k AS BIGINT) AS s_num, CAST(k * 32768 AS BIGINT) AS s_fx
       |         FROM range(1, 33) AS g(k)),
       |c1 AS (SELECT s_num, s_fx, r, b,
       |       CASE $branches END AS p_band_fx
       |       FROM grid CROSS JOIN cfg2)
       |SELECT s_num, s_fx, CAST(r AS BIGINT) AS rows_r, CAST(b AS BIGINT) AS bands_b,
       |       p_band_fx,
       |       CASE $detect END AS p_detect_fx
       |FROM c1 ORDER BY s_num""".stripMargin
  }
}
