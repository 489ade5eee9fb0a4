package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Levenshtein, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType}

/**
 * Optimizer rule: rewrite a bounded-distance Levenshtein predicate
 * `levenshtein(a, b) <= k` (and its `<` / mirrored / `=` forms, integer
 * literal k, optionally through an exact INT→BIGINT widening cast) onto
 * Spark's THRESHOLD form `levenshtein(a, b, k) >= 0`.
 *
 * Why this matters at scale: the similarity-join verify stage of any
 * fuzzy dedup ([[graft.operators.TextDedup.fuzzyPrefixDedup]]'s
 * `levenshtein(na, nb) <= 4` shape, and any user writing the same in
 * plain SQL) evaluates the predicate once per CANDIDATE PAIR — the
 * widest row stream in the plan. The unbounded form fills the full
 * O(|a|·|b|) dynamic-programming matrix and only then compares to k;
 * the threshold form runs the banded DP — O((2k+1)·min(|a|,|b|))
 * work — and additionally bails to -1 on the free length test
 * `abs(len(a)-len(b)) > k` before touching the matrix at all. For the
 * typical k of 1–4 against strings of tens-to-hundreds of chars that
 * is an order of magnitude less work in the hot loop, with zero change
 * to the query's text: the rewrite happens in the optimizer, so the
 * SQL surface and the DataFrame surface both get it. (The engine's own
 * operator calls the threshold form directly; this rule is the
 * automatic-substitution path for plain SQL — the
 * [[IntersectKernelRule]] pattern.)
 *
 * Soundness: `levenshtein(a, b, k)` returns the exact distance d when
 * d <= k and -1 otherwise (public Spark semantics since 3.5), so
 *   lev(a,b) <= k  ⟺  lev(a,b,k) >= 0          (k >= 0)
 *   lev(a,b) <  k  ⟺  lev(a,b,k-1) >= 0        (k >= 1)
 *   lev(a,b) =  k  ⟺  lev(a,b,k) = k           (k >= 0)
 * NULL inputs yield NULL on both forms, so three-valued logic is
 * preserved verbatim. The INT→BIGINT cast the DataFrame surface
 * introduces (`.cast("bigint")` on the distance column, pushed through
 * the projection by PushDownPredicates) is order-preserving and
 * total, so comparing the cast distance to a BIGINT literal is the
 * same predicate; a BIGINT bound beyond Int.MaxValue is clamped to
 * Int.MaxValue, which the distance (an INT) can never exceed.
 * Predicates whose bound makes the comparison vacuous (k < 0) are
 * left for constant-folding to handle.
 *
 * Fixpoint-safe by construction: the match requires `threshold = None`
 * and every rewrite produces `threshold = Some(...)`, so a second
 * optimizer pass finds nothing to do.
 */
object LevenshteinThresholdRule extends SessionRule {

  /** `levenshtein(a, b)` with no threshold, bare or under an exact
   * INT→BIGINT widening cast (never lossy, any eval mode). */
  private object UnboundedLev {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Levenshtein(a, b, None)                      => Some((a, b))
      case c @ Cast(Levenshtein(a, b, None), LongType, _, _)
          if c.child.dataType == IntegerType            => Some((a, b))
      case _                                            => None
    }
  }

  /** An INT or BIGINT literal bound, as Long. */
  private object IntBound {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(k: Int, IntegerType) => Some(k.toLong)
      case Literal(k: Long, LongType)   => Some(k)
      case _                            => None
    }
  }

  private def clamp(k: Long): Int = math.min(k, Int.MaxValue.toLong).toInt

  private def banded(a: Expression, b: Expression, k: Long): Expression =
    GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(clamp(k)))), Literal(0))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(UnboundedLev(a, b), IntBound(k)) if k >= 0 => banded(a, b, k)
    case GreaterThanOrEqual(IntBound(k), UnboundedLev(a, b)) if k >= 0 => banded(a, b, k)
    case LessThan(UnboundedLev(a, b), IntBound(k)) if k >= 1 => banded(a, b, k - 1)
    case GreaterThan(IntBound(k), UnboundedLev(a, b)) if k >= 1 => banded(a, b, k - 1)
    // equality keeps the exact-distance comparison; skip bounds the INT
    // distance could never reach (the rewrite would change nothing anyway)
    case EqualTo(UnboundedLev(a, b), IntBound(k)) if k >= 0 && k <= Int.MaxValue =>
      EqualTo(Levenshtein(a, b, Some(Literal(k.toInt))), Literal(k.toInt))
    case EqualTo(IntBound(k), UnboundedLev(a, b)) if k >= 0 && k <= Int.MaxValue =>
      EqualTo(Levenshtein(a, b, Some(Literal(k.toInt))), Literal(k.toInt))
  }
}
