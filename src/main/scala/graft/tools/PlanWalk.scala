package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The one physical-plan walk behind [[PlanFingerprint]], [[ScanAudit]]
  * and Bench's probe classes: pre-order over `children` and `subqueries`,
  * with two decisions left to the caller.
  *  - `phase`: the shape an unexecuted AdaptiveSparkPlanExec (a leaf until
  *    it runs) stands for, at the top level and inside caches alike:
  *    `_.inputPlan` (before EnsureRequirements, the stable shape) or
  *    `_.initialPlan` (the first shape that carries exchanges).
  *  - `enterCache`: whether to descend into this InMemoryTableScanExec's
  *    `relation.cachedPlan` (the scan itself is always visited). Entering
  *    every consumer repeats a cached subtree once per scan; entering once
  *    per relation counts what executes, one materialization per cache.
  */
object PlanWalk {

  def foreach(root: SparkPlan, phase: AdaptiveSparkPlanExec => SparkPlan,
              enterCache: InMemoryTableScanExec => Boolean)
             (visit: SparkPlan => Unit): Unit = {
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(phase(a))
      case _ =>
        visit(p)
        p match {
          case im: InMemoryTableScanExec if enterCache(im) =>
            walk(im.relation.cachedPlan)
          case _ => ()
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk) // scalar/IN subqueries shuffle too
    }
    walk(root)
  }
}
