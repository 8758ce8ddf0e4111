package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, HintInfo, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Catalog knowledge as a Rule[LogicalPlan]: nation (25 rows) and
  * region (5 rows) are FIXED-size dimensions at any corpus scale
  * (TPC-H invariant), so any scan of them is always broadcast-safe.
  * This rule adds the BROADCAST hint automatically — the query author
  * no longer has to know which tables are bounded, and a 100 TB plan
  * can never accidentally shuffle the fact side against a 25-row dim
  * because a size estimate went missing. Injected post-hoc in the
  * analyzer (runs before the optimizer's hint resolution, unlike
  * injectOptimizerRule, whose batch runs after EliminateResolvedHint
  * would have consumed the hint). The `hinted` guard makes the rule
  * idempotent when a plan is re-analyzed.
  */
object FixedDimBroadcastHint extends Rule[LogicalPlan] {
  private val FixedDimFiles = Set("nation.parquet", "region.parquet")

  private def isFixedDim(lr: LogicalRelation): Boolean = lr.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.exists(p => FixedDimFiles.contains(p.getName))
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val hinted = plan.collect { case ResolvedHint(c, _) => c }.toSet
    plan.transformUp {
      case lr: LogicalRelation if isFixedDim(lr) && !hinted.contains(lr) =>
        ResolvedHint(lr, HintInfo(strategy = Some(BROADCAST)))
    }
  }
}

/** Opt-in approximation rewrite, the "sketch pushdown" a 100 TB
  * deployment flips on for dashboards: under
  * `spark.graft.approxCountDistinct=true` (default FALSE — the rule
  * must never silently change exact results), every
  * `count(DISTINCT x)` in the plan is rewritten to HyperLogLog++ with
  * Spark's default 5% relative error. The win at scale is structural,
  * not constant-factor: exact distinct counting re-shuffles the rows
  * once PER DISTINCT AGGREGATE (the Expand/regrouping in
  * RewriteDistinctAggregates), while the HLL sketch is one partial+
  * final pass, mergeable, with fixed-size state per group — the same
  * contract as the explicit `approx_stats`/`hll_user_reach` queries,
  * applied transparently to unmodified user SQL.
  *
  * Guards: single-argument COUNT only, no FILTER clause, and the
  * rewrite keeps the surrounding Alias (dataType LONG is preserved),
  * so plan resolution is untouched.
  */
case class ApproxDistinctRewrite(spark: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get("spark.graft.approxCountDistinct", "false").toBoolean) plan
    else
      plan.transform { case a: Aggregate =>
        a.transformExpressions {
          case ae @ AggregateExpression(Count(children), _, true, None, _)
              if children.size == 1 =>
            ae.copy(
              aggregateFunction = new HyperLogLogPlusPlus(children.head),
              isDistinct = false
            )
        }
      }
}

/** SparkSessionExtensions entry point: makes every one of the engine's
  * native functions (`VectorExpressions.NativeFunctions`) available to
  * ANY session — including plain SQL users — via
  * `--conf spark.sql.extensions=graft.GraftExtensions`, the same
  * mechanism a cluster deployment would use. Each session gets them
  * when it is built, and `newSession`/`cloneSession` copies keep them.
  * A session built without the conf can call
  * `VectorExpressions.register` once instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPostHocResolutionRule(_ => FixedDimBroadcastHint)
    e.injectOptimizerRule(s => ApproxDistinctRewrite(s))
    // whole-operator extension (SURVEY §2C path c): the AS-OF join's
    // logical node plans 1:1 to its distribution-aware merge exec
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    graft.functions.VectorExpressions.NativeFunctions.foreach(e.injectFunction)
  }
}
