package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis scalar pipeline for a large-scale training-data engine:
 * tokenization, language-ID heuristic, quality scoring, token counting and
 * document fingerprinting (SURVEY.md §7.2-M7).
 *
 * The reference library treats values as opaque blobs between serdes
 * (SURVEY.md §1.2) and has no scalar function surface
 * (`LeftJoinOnTimeoutBuilder.java:30` — the user `ValueJoiner` is the whole
 * extension point); these functions are the engine-side library a user
 * would otherwise have to hand-roll in that joiner.
 *
 * Every function is a pure Column expression built from
 * `org.apache.spark.sql.functions._` higher-order array functions — fully
 * codegen'd, no UDFs, no driver-side work — and each has an exactly
 * mirrored DuckDB SQL fragment (in [[TextSql]]) so the driver's oracle
 * hash-compare is bit-deterministic: only integer arithmetic, string ops
 * and single IEEE double ops (one division per ratio) appear, never
 * order-dependent double aggregation.
 */
object TextFunctions {

  /** English stopword list shared by the heuristics. Tiny by design: the
   * synthetic corpus vocabulary is English database jargon. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Minimum stopword ratio for the language-ID heuristic to call `en`. */
  val EnStopRatio = 0.05

  /** Length-score saturation point for the quality score (tokens). */
  val QualityLenNorm = 64.0

  private def stopArray: Column = array(Stopwords.map(lit): _*)

  /** Lowercased alphanumeric tokens; empty strings dropped. Native
   * [[graft.plans.TokenSeq]] pass — value-identical (on ASCII text) to
   * `filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")`, but immune
   * to the interpreted-ICU-Lower cost of evaluating that composition
   * inside higher-order lambdas (see TokenSeq scaladoc). */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.TokenSeq(toExpr(text)))
  }

  /** Materialize the token array ONCE as a real attribute through a
   * Generate barrier. A plain two-step projection does not survive the
   * optimizer — `CollapseProject` re-inlines the `tokens` alias into
   * every consumer, re-running tokenization per derived column (4-6× per
   * row in a stats projection) — but a single-element `explode` is a
   * `Generate` node, whose output attribute is a genuine row slot that
   * downstream projections read instead of recompute. */
  def withTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
                 toksCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn(toksCol, explode(array(tokens(col(textCol)))))

  /** Toks-based twins for stats pipelines that materialized the token
   * array via [[withTokens]]. */
  def tokenCountFromToks(toks: Column): Column = size(toks).cast("bigint")
  def stopHitsFromToks(toks: Column): Column =
    size(filter(toks, t => array_contains(stopArray, t))).cast("bigint")
  def stopRatioFromToks(toks: Column): Column =
    stopHitsFromToks(toks).cast("double") / tokenCountFromToks(toks).cast("double")
  def langIdFromToks(toks: Column): Column =
    when(tokenCountFromToks(toks) === 0, lit("und"))
      .when(stopRatioFromToks(toks) >= EnStopRatio, lit("en"))
      .otherwise(lit("und"))
  def qualityScoreFromToks(text: Column, toks: Column): Column = {
    val lenScore = least(tokenCountFromToks(toks).cast("double") / lit(QualityLenNorm), lit(1.0))
    val alnumRatio =
      length(regexp_replace(lower(text), "[^a-z0-9 ]", "")).cast("double") /
        length(text).cast("double")
    lit(0.5) * lenScore + lit(0.3) * stopRatioFromToks(toks) + lit(0.2) * alnumRatio
  }
  def fingerprintFromToks(toks: Column): Column = md5(array_join(toks, " "))

  /** Whitespace-normalized document text (tokens re-joined). */
  def normText(text: Column): Column = array_join(tokens(text), " ")

  // The text-based forms DELEGATE to the toks-based twins below (each
  // formula lives in exactly one place); use them for single-column
  // contexts, and [[withTokens]] + the twins when several derived
  // columns share one document (the delegates re-tokenize per column).
  def tokenCount(text: Column): Column = tokenCountFromToks(tokens(text))

  /** Stopword hits over the token list (BIGINT). */
  def stopHits(text: Column): Column = stopHitsFromToks(tokens(text))

  /** Stopword ratio in [0, 1]; NaN on empty docs (guarded by callers). */
  def stopRatio(text: Column): Column = stopRatioFromToks(tokens(text))

  /** N-gram-heuristic language ID: `en` when the stopword ratio clears
   * [[EnStopRatio]], else `und` (synthetic corpus is English-jargon soup —
   * the structure, not the lexicon, is what scales). */
  def langId(text: Column): Column = langIdFromToks(tokens(text))

  /** Composite quality score in [0, 1]:
   * 0.5·min(tokens/64, 1) + 0.3·stopRatio + 0.2·alnumRatio. */
  def qualityScore(text: Column): Column = qualityScoreFromToks(text, tokens(text))

  /** Content-defined document fingerprint: md5 of the normalized text.
   * Robust to whitespace/punctuation-only edits. */
  def fingerprint(text: Column): Column = fingerprintFromToks(tokens(text))

  /** BPE-ish subword count: the GPT-2 pre-tokenizer regex family reduced
   * to its ASCII core (contractions | space-prefixed letter runs |
   * space-prefixed digit runs | space-prefixed punctuation runs |
   * whitespace runs). Counts non-overlapping matches — a deterministic
   * proxy for "how many BPE tokens will this document cost" without a
   * merges table. RE2-safe (no lookaround), so DuckDB counts identically. */
  val BpePattern = "(?:'(?:s|t|re|ve|m|ll|d))| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+| +"

  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast("bigint")

  /** Rolling-hash winnowing fingerprint ([[graft.plans.RollingWinnow]]):
   * the [[RollingW]]-char polynomial rolling hash over the normalized
   * text, K = [[RollingK]] minimal distinct window hashes, dash-joined
   * into a portable string. */
  val RollingW = 16
  val RollingK = 4

  def rollingFingerprint(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.RollingWinnow(toExpr(text), RollingW, RollingK, joined = true))
  }

  /** The same winnowing sketch as an ARRAY<BIGINT> — the joinable form
   * [[graft.operators.TextDedup.winnowDedup]] builds postings from. */
  def rollingFingerprintArr(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.plans.RollingWinnow(toExpr(text), RollingW, RollingK, joined = false))
  }
}

/** DuckDB mirrors of [[TextFunctions]] — same constants, same expression
 * shape, for the driver's oracle compare. Each takes the SQL text
 * expression to wrap (usually a column name). */
object TextSql {
  import TextFunctions._

  private def stopList: String =
    Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  def tokens(t: String): String =
    s"list_filter(string_split_regex(lower($t), '[^a-z0-9]+'), x -> x <> '')"

  def normText(t: String): String = s"array_to_string(${tokens(t)}, ' ')"

  def tokenCount(t: String): String = s"len(${tokens(t)})"

  def stopHits(t: String): String =
    s"len(list_filter(${tokens(t)}, t -> list_contains($stopList, t)))"

  def stopRatio(t: String): String =
    s"(CAST(${stopHits(t)} AS DOUBLE) / CAST(${tokenCount(t)} AS DOUBLE))"

  def langId(t: String): String =
    s"""CASE WHEN ${tokenCount(t)} = 0 THEN 'und'
       | WHEN ${stopRatio(t)} >= $EnStopRatio THEN 'en'
       | ELSE 'und' END""".stripMargin.replace("\n", "")

  def qualityScore(t: String): String = {
    val lenScore = s"least(CAST(${tokenCount(t)} AS DOUBLE) / $QualityLenNorm, CAST(1.0 AS DOUBLE))"
    val alnum = s"(CAST(length(regexp_replace(lower($t), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length($t) AS DOUBLE))"
    s"(0.5 * $lenScore + 0.3 * ${stopRatio(t)} + 0.2 * $alnum)"
  }

  def fingerprint(t: String): String = s"md5(${normText(t)})"

  def tokenCountBpe(t: String): String =
    s"CAST(len(regexp_extract_all($t, '${BpePattern.replace("'", "''")}')) AS BIGINT)"

  /** The shared CTE chain (normalized text → per-window polynomial hash →
   * sorted distinct hash list per doc), used by both the fingerprint
   * mirror and the winnow-dedup oracle so the two cannot diverge. */
  private def rollingChainSql(table: String): String = {
    val w = RollingW
    val pows = graft.plans.RollingWinnow.powers(w).mkString("[", ", ", "]")
    val m = graft.plans.RollingWinnow.M
    s"""nt AS (SELECT doc_id, ${normText("text")} AS nt FROM $table),
       |chars AS (
       |  SELECT doc_id, unnest(range(1, length(nt) + 1)) AS i FROM nt),
       |coded AS (
       |  SELECT c.doc_id, c.i, ord(substring(n.nt, CAST(c.i AS INT), 1)) AS cd
       |  FROM chars c JOIN nt n ON n.doc_id = c.doc_id),
       |wstart AS (
       |  SELECT n.doc_id, unnest(range(1, length(n.nt) - ${w - 2})) AS i
       |  FROM nt n WHERE length(n.nt) >= $w),
       |wh AS (
       |  SELECT a.doc_id, a.i,
       |         CAST(sum(CAST(b.cd AS BIGINT) * ($pows)[CAST(b.i - a.i + 1 AS INT)]) % $m AS BIGINT) AS h
       |  FROM wstart a
       |  JOIN coded b ON b.doc_id = a.doc_id AND b.i BETWEEN a.i AND a.i + ${w - 1}
       |  GROUP BY a.doc_id, a.i),
       |sk AS (
       |  SELECT doc_id, list_sort(list_distinct(list(h))) AS hs
       |  FROM wh GROUP BY doc_id)""".stripMargin
  }

  /** Relational mirror of [[TextFunctions.rollingFingerprint]] — DuckDB
   * lambdas cannot nest, so windows × chars is a self-join on position
   * with the SAME precomputed power table as the native expression. Emits
   * a full SELECT over `table`; output (doc_id, rolling_fp). */
  def rollingFingerprintSql(table: String): String =
    s"""WITH ${rollingChainSql(table)}
       |SELECT n.doc_id AS doc_id,
       |       coalesce(array_to_string(sk.hs[1:$RollingK], '-'), '') AS rolling_fp
       |FROM nt n LEFT JOIN sk ON sk.doc_id = n.doc_id""".stripMargin

  /** Parenthesized SELECT of (doc_id, hs = the K minimal window hashes as
   * BIGINT list) — docs with no window (shorter than W chars) excluded,
   * matching the Spark side's size filter. */
  def rollingHashListSql(table: String): String =
    s"""(WITH ${rollingChainSql(table)}
       | SELECT doc_id, hs[1:$RollingK] AS hs FROM sk WHERE len(hs) > 0)""".stripMargin
}
