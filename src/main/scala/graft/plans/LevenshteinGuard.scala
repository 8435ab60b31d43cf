package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule (the `Rule[LogicalPlan]` extension tier): derive the cheap
  * necessary condition of a bounded edit-distance predicate.
  *
  * `levenshtein(a, b) <= k` implies `abs(length(a) - length(b)) <= k` —
  * every insert/delete changes the length by one, substitutions not at all.
  * The guard costs two length reads and a compare; the DP it short-circuits
  * is O(|a|*|b|) per row. Conjoining the guard FIRST (And short-circuits in
  * generated code) turns a naive fuzzy filter from always-DP into
  * mostly-length-compare — the optimizer does mechanically what q41's
  * Pass-Join formulation does by hand, protecting the queries users write
  * naively. Null semantics are preserved: whenever the guard is false the
  * original predicate is false; when inputs are null both are null.
  *
  * The rule fires on Filter conditions and Join conditions, only for a
  * LITERAL integer bound and only for the un-thresholded 2-arg levenshtein
  * (the 3-arg form already carries its own early-exit bound inside the DP).
  * It is fixed-point-safe: a guard that is already a conjunct (semantically)
  * is never added twice — injected optimizer rules run in a fixed-point
  * batch, so an unguarded rewrite would grow the predicate every pass.
  *
  * Registration: `injectOptimizerRule` via [[graft.functions.GraftExtensions]],
  * so every [[graft.GraftSession]] runs it.
  */
object LevenshteinGuard extends Rule[LogicalPlan] with PredicateHelper {

  /** |length(a) - length(b)|, with a literal side's length already folded
    * the way ConstantFolding folds it. The rule shares its fixed-point
    * batch with ConstantFolding, so an unfolded `length('steel plate')`
    * would become `11` after the guard is added, and the folded guard
    * would no longer semantically equal the next pass's derivation: every
    * pass would add another copy. */
  private def lengthGap(lev: Levenshtein): Expression = {
    def len(e: Expression) =
      if (e.foldable) Literal.create(Length(e).eval(), IntegerType) else Length(e)
    Abs(Subtract(len(lev.left), len(lev.right)))
  }

  private def guards(cond: Expression): Seq[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val derived = conjuncts.collect {
      case LessThanOrEqual(lev: Levenshtein, k @ Literal(_, IntegerType)) if lev.threshold.isEmpty =>
        LessThanOrEqual(lengthGap(lev), k)
      case LessThan(lev: Levenshtein, k @ Literal(_, IntegerType)) if lev.threshold.isEmpty =>
        LessThan(lengthGap(lev), k)
      case GreaterThanOrEqual(k @ Literal(_, IntegerType), lev: Levenshtein) if lev.threshold.isEmpty =>
        LessThanOrEqual(lengthGap(lev), k)
    }
    derived.filterNot(g => conjuncts.exists(_.semanticEquals(g)))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val gs = guards(cond)
      if (gs.isEmpty) f else Filter(And(gs.reduce(And), cond), child)
    case j @ Join(_, _, _, Some(cond), _) =>
      val gs = guards(cond)
      if (gs.isEmpty) j else j.copy(condition = Some(And(gs.reduce(And), cond)))
  }
}
