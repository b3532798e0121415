package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{DotProduct, NGrams, PolyHash}

/** Session-extension entry point: makes the library's codegen'd expressions
  * available to pure-SQL users at session build time, through the
  * `spark.sql.extensions=graft.GraftExtensions` config that [[GraftSession]]
  * sets on every session of the project.
  *
  * (Per-session registration without the config is
  * `graft.functions.VectorOps.registerSql(spark)` /
  * `graft.plans.FoldGraftExpressions.register(spark)` /
  * `graft.plans.AsOfJoinPlan.register(spark)` — none of which a
  * config-path session needs to call.) EVERY extension tier is injected
  * here: the codegen'd scalar functions, the n-gram Generator, the
  * native TypedImperativeAggregate (`graft_topk_keys`), an optimizer
  * `Rule[LogicalPlan]` that constant-folds graft expressions over
  * literal inputs (SURVEY.md §4: the rule exists because custom
  * expressions are not foldable by default, which blocks literal
  * pushdown), and the as-of join planner strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_polyhash"),
      (exprs: Seq[Expression]) => PolyHash(exprs.head)))
    // table-function tier: the n-gram Generator, usable from LATERAL VIEW
    e.injectFunction((
      FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[NGrams].getName, "graft_ngrams"),
      (exprs: Seq[Expression]) => NGrams(exprs(0), exprs(1))))
    // native-aggregate tier: bounded-state exact top-k
    // (TypedImperativeAggregate — ObjectHashAggregateExec path); the
    // analyzer wraps the returned AggregateFunction in AggregateExpression
    e.injectFunction((
      FunctionIdentifier("graft_topk_keys"),
      new ExpressionInfo(classOf[graft.expressions.TopKKeysAgg].getName, "graft_topk_keys"),
      // the ONE shared builder (numeric coercion included) — see its doc
      // for why every registration path must use it
      (exprs: Seq[Expression]) => graft.expressions.TopKKeysAgg.build(exprs)))
    // rule tier: constant-fold literal-input graft expressions so they
    // compute once at optimization time and comparisons against them
    // become pushdown-eligible literals (see FoldGraftExpressions)
    e.injectOptimizerRule(_ => graft.plans.FoldGraftExpressions)
    // strategy tier: the as-of join physical operator — config-path users
    // get the whole ladder, not just the scalar functions
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
