package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Walks a FINAL physical plan including AQE internals: the adaptive root
  * hides its executed plan and leaf query stages hide their subtrees from
  * a plain `children` traversal — both are unwrapped here. Shared by the
  * PlanSpec exchange/scan pins and [[graft.tools.Profile.shape]], which
  * must count exactly the same nodes. */
object PlanWalk {
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec        => q +: flatten(q.plan)
    case other                    => other +: other.children.flatMap(flatten)
  }
}
