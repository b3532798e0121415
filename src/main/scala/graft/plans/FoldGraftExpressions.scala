package graft.plans

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.expressions.{DotProduct, PolyHash}

/** Rule-tier extension (SURVEY.md §2.12 ladder, between Expression and
  * SparkStrategy): constant-fold the library's custom expressions when
  * every input is foldable.
  *
  * Catalyst's ConstantFolding only folds expressions whose `foldable` flag
  * is true, and `Expression.foldable` defaults to false for custom
  * expressions — so `WHERE graft_polyhash('spark') = h` re-hashes the
  * literal on EVERY row, and a table that materializes the hash column
  * can't get the `h = <literal>` predicate pushed into its parquet scan
  * (the scan sees an opaque expression, not a comparison with a literal).
  * This rule evaluates such calls once at optimization time — exactly the
  * value row-level eval would produce, so it can never change results.
  *
  * Registration: `spark.sql.extensions=graft.GraftExtensions`
  * (injectOptimizerRule), the one path; the rule runs inside the
  * operator-optimization batch, i.e. BEFORE filter pushdown, which is what
  * makes pushdown win.
  */
object FoldGraftExpressions extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case p: PolyHash if p.child.foldable =>
      Literal.create(p.eval(null), p.dataType)
    case d: DotProduct if d.left.foldable && d.right.foldable =>
      Literal.create(d.eval(null), d.dataType)
  }
}
