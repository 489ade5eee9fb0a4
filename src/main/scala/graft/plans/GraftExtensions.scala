package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/**
 * SQL surface for the native expressions: register as
 * `spark.sql.extensions=graft.plans.GraftExtensions` at session build
 * (cluster deployments), or call [[GraftFunctions.register]] on a live
 * session (tests, notebooks). After registration the engine's hot-loop
 * kernels are callable from plain SQL:
 *
 *   SELECT long_dot(qa, qb), minhash_sig(shingles), word_shingles(text),
 *          char_gram_seq(text), simhash64(text) ...
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // plain-SQL set-overlap gets the native count kernel automatically
    // (guarded rewrite — see the rule's soundness note)
    ext.injectOptimizerRule(_ => IntersectKernelRule)
    // plain-SQL bounded edit-distance predicates get the banded DP
    ext.injectOptimizerRule(_ => LevenshteinThresholdRule)
  }
}

/** An optimizer rule [[GraftExtensions]] injects at session build that can
 * also attach to a LIVE session (extension injection only happens at
 * session build; mirrors [[GraftFunctions.register]]). */
private[plans] abstract class SessionRule extends Rule[LogicalPlan] {
  /** Idempotent. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
    }
}

object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** Arity guard: a wrong argument count from SQL surfaces as an analysis
   * error naming the function, not a raw IndexOutOfBoundsException (and
   * extra arguments are never silently ignored). */
  private def arity(name: String, n: Int, es: Seq[Expression])
                   (build: Seq[Expression] => Expression): Expression = {
    if (es.length != n) {
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> es.length.toString, "docroot" -> ""))
    }
    build(es)
  }

  /** Foldable-INT parameter gate shared by the sketch aggregates: the
   * argument must be a literal Int/Long inside [lo, Int.MaxValue] — an
   * out-of-range literal (including a Long that `toInt` would silently
   * truncate) and a non-literal both surface as the same typed
   * AnalysisException the rest of this file emits, never as a raw
   * require() IllegalArgumentException from the aggregate's constructor
   * or a wrapped value at runtime. */
  private def literalIntParam(fn: String, param: String, e: Expression, lo: Int): Int = {
    def bad(v: Any): Nothing = throw new org.apache.spark.sql.AnalysisException(
      errorClass = "INVALID_PARAMETER_VALUE.INTEGER",
      messageParameters = Map("functionName" -> s"`$fn`",
        "parameter" -> s"`$param`", "invalidValue" -> String.valueOf(v)))
    val v: Long = e match {
      case lit if lit.foldable =>
        lit.eval() match {
          case i: Int => i.toLong
          case l: Long => l
          case other => bad(other)
        }
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map("funcName" -> s"`$fn`",
          "paramName" -> s"`$param`", "paramType" -> "\"INT\""))
    }
    if (v < lo || v > Int.MaxValue.toLong) bad(v)
    v.toInt
  }

  /** (name, info, builder) for every SQL-exposed native function. Arity
   * beyond the first argument is fixed to the engine defaults used by the
   * dedup operators (word trigrams, 16-char grams with 1-in-4 sampling,
   * K=12 minhash). */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("long_dot",
      info("long_dot", "long_dot(a, b) - exact integer dot product of two ARRAY<BIGINT>"),
      (es: Seq[Expression]) => arity("long_dot", 2, es)(e => LongDot(e(0), e(1)))),
    ("hamming_str",
      info("hamming_str", "hamming_str(a, b) - Hamming distance of two equal-length strings"),
      (es: Seq[Expression]) => arity("hamming_str", 2, es)(e => HammingStr(e(0), e(1)))),
    ("minhash_sig",
      info("minhash_sig", "minhash_sig(shingles) - K=12 md5-hex minhash signature"),
      (es: Seq[Expression]) => arity("minhash_sig", 1, es)(e => MinHashSig(e(0), 12))),
    ("token_seq",
      info("token_seq", "token_seq(text) - lowercase alphanumeric tokens (duplicates kept)"),
      (es: Seq[Expression]) => arity("token_seq", 1, es)(e => TokenSeq(e(0)))),
    ("word_shingles",
      info("word_shingles", "word_shingles(text) - distinct word trigram shingles"),
      (es: Seq[Expression]) => arity("word_shingles", 1, es)(e => WordShingles(e(0), 3))),
    ("char_gram_seq",
      info("char_gram_seq", "char_gram_seq(text) - sampled distinct 16-char grams"),
      (es: Seq[Expression]) => arity("char_gram_seq", 1, es)(e => CharGramSeq(e(0), 16, 4))),
    ("simhash64",
      info("simhash64", "simhash64(text) - 64-bit SimHash as a '0'/'1' string"),
      (es: Seq[Expression]) => arity("simhash64", 1, es)(e => SimHash64(e(0)))),
    ("hash_embed",
      info("hash_embed",
        "hash_embed(text) - 64-dim integer feature-hash embedding (SimHash bit-sums before the sign)"),
      (es: Seq[Expression]) => arity("hash_embed", 1, es)(e => HashEmbed(e(0)))),
    ("array_intersect_size",
      info("array_intersect_size",
        "array_intersect_size(a, b) - count of common elements of two distinct-element string arrays"),
      (es: Seq[Expression]) => arity("array_intersect_size", 2, es)(e => ArrayIntersectSize(e(0), e(1)))),
    ("quantize_vec",
      info("quantize_vec", "quantize_vec(emb) - exact floor(x*2^20) BIGINT quantization of ARRAY<FLOAT>"),
      (es: Seq[Expression]) => arity("quantize_vec", 1, es)(e => QuantizeVec(e(0)))),
    ("rolling_winnow",
      info("rolling_winnow", "rolling_winnow(text) - K=4 minimal 16-char rolling-hash window values"),
      (es: Seq[Expression]) => arity("rolling_winnow", 1, es)(e => RollingWinnow(e(0), 16, 4))),
    ("misra_gries",
      info("misra_gries",
        "misra_gries(tokens, k) - mergeable k-counter heavy-hitters sketch over ARRAY<STRING> rows"),
      (es: Seq[Expression]) => arity("misra_gries", 2, es) { e =>
        // type/foldability/range misuse gets a type-shaped error class —
        // the arity check above already owns the wrong-count case
        MisraGriesAgg(e(0), literalIntParam("misra_gries", "k", e(1), lo = 1))
          .toAggregateExpression()
      }),
    ("kmv_distinct",
      info("kmv_distinct",
        "kmv_distinct(h, k) - bottom-k KMV distinct sketch over pre-hashed STRING rows; " +
          "returns STRUCT<m BIGINT, hk STRING, est DOUBLE>"),
      (es: Seq[Expression]) => arity("kmv_distinct", 2, es) { e =>
        // lo = 2: the estimator divides by the k-th minimum, so k = 1 is
        // rejected HERE as the typed analysis error, not by the
        // aggregate's require() mid-analysis
        KmvDistinctAgg(e(0), literalIntParam("kmv_distinct", "k", e(1), lo = 2))
          .toAggregateExpression()
      }),
    ("kmv_mins",
      info("kmv_mins",
        "kmv_mins(h, k) - bottom-k KMV sketch over pre-hashed STRING rows as the sorted " +
          "hash ARRAY (relationally mergeable: bottom-k of a union = bottom-k of the " +
          "concatenated per-group arrays)"),
      (es: Seq[Expression]) => arity("kmv_mins", 2, es) { e =>
        KmvMinsAgg(e(0), literalIntParam("kmv_mins", "k", e(1), lo = 2))
          .toAggregateExpression()
      }),
    ("count_min",
      info("count_min",
        "count_min(token, depth, width) - linear Count-Min frequency sketch over STRING " +
          "rows; returns STRUCT<n BIGINT, counters ARRAY<BIGINT>> (row-major grid)"),
      (es: Seq[Expression]) => arity("count_min", 3, es) { e =>
        val depth = literalIntParam("count_min", "depth", e(1), lo = 1)
        // md5 yields exactly four independent 32-bit slices — depth > 4
        // is the same typed analysis error as depth < 1, not a require()
        // IllegalArgumentException from the constructor mid-analysis
        if (depth > 4) {
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INVALID_PARAMETER_VALUE.INTEGER",
            messageParameters = Map("functionName" -> "`count_min`",
              "parameter" -> "`depth`", "invalidValue" -> depth.toString))
        }
        CountMinAgg(e(0), depth,
          literalIntParam("count_min", "width", e(2), lo = 2))
          .toAggregateExpression()
      }),
  )

  /** Register into a LIVE session (extensions can only be injected at
   * session build; this covers the getOrCreate-already-happened case). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, inf, builder) =>
      org.apache.spark.sql.GraftColumnBridge.registerFunction(spark, name, inf, builder)
    }
}
