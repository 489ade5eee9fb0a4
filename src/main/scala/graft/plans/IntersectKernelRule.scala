package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayIntersect, Expression, Size, SortArray}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, StringType}

/**
 * Optimizer rule: rewrite `size(array_intersect(a, b))` to the native
 * [[ArrayIntersectSize]] kernel — the automatic-substitution path for
 * users writing PLAIN SQL set-overlap (the verify stage of any
 * hand-rolled dedup), who would otherwise pay `array_intersect`'s full
 * intermediate-array materialization (hash set + result array + copy)
 * to immediately reduce it to a count. The kernel computes the count
 * directly (one hash set, zero output arrays) — same ~20× the operators
 * get by calling it explicitly.
 *
 * The rewrite is NOT universally sound: `array_intersect` dedups its
 * result (`[x,x] ∩ [x]` has size 1) while the kernel counts every
 * occurrence of the larger side found in the smaller (2 for that
 * input). The two agree exactly when BOTH inputs are duplicate-free, so
 * the rule fires only on provably-distinct producers: `array_distinct`,
 * `sort_array` over one, and the engine's distinct-by-construction
 * native passes ([[WordShingles]], [[CharGramSeq]]). An attribute that
 * merely HAPPENS to hold distinct arrays is not provable and stays
 * unrewritten — correctness over speed. `size` under
 * `spark.sql.legacy.sizeOfNull=true` returns −1 for NULL where the
 * kernel returns NULL, so legacy-mode `Size` nodes are also skipped.
 */
object IntersectKernelRule extends SessionRule {

  /** Producers whose output arrays provably contain no duplicates. */
  private def distinctSafe(e: Expression): Boolean = e match {
    case _: ArrayDistinct       => true
    case SortArray(c, _)        => distinctSafe(c)
    case _: WordShingles        => true
    case _: CharGramSeq         => true
    case _                      => false
  }

  private def stringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _                        => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(ArrayIntersect(a, b), false)
        if stringArray(a) && stringArray(b) && distinctSafe(a) && distinctSafe(b) =>
      ArrayIntersectSize(a, b)
  }
}
