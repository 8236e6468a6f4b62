package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Deterministic physical-plan signature for the plan-regression gate
  * (r15 VERDICT item 5): bench noise cannot catch a plan regression — an
  * extra Exchange hides inside 1.3× host drift — but plans ARE
  * deterministic, so their shape is snapshot into a committed fixture
  * asserted by PlanFingerprintSpec.
  *
  * The signature is computed on `queryExecution.sparkPlan` (pre-AQE:
  * AdaptiveSparkPlanExec finalizes only at execution, so the pre-AQE plan
  * is the stable, statically-derivable shape) and captures exactly the
  * properties whose unintended change is a performance bug:
  *   - counts of shuffle/sort/join/aggregate/window operators (an extra
  *     ShuffleExchange, a BroadcastHashJoin degrading to SortMergeJoin);
  *   - every file scan's table, read columns, and pushed-down filters
  *     (a lost column pruning or filter pushdown).
  * Partition counts, sizes, and codegen ids are deliberately excluded —
  * they vary with environment, not with plan intent.
  */
object PlanFingerprint {

  private val interesting = Set(
    "ShuffleExchangeExec", "BroadcastExchangeExec", "SortExec",
    "SortMergeJoinExec", "BroadcastHashJoinExec", "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec",
    "WindowExec", "WindowGroupLimitExec", "ExpandExec", "GenerateExec",
    "HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec",
    "InMemoryTableScanExec")

  def of(df: DataFrame): String = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    val scans = scala.collection.mutable.ArrayBuffer.empty[String]
    // Enter every cache consumer (ADVICE r21: InMemoryTableScan hides the
    // parquet scans of q11, q17, p_pack_* and the fused DSIR/NB paths; the
    // fixture counts a cached subtree once per scan), unwrapping cached
    // AQE plans to inputPlan for the same stability as sparkPlan itself.
    PlanWalk.foreach(df.queryExecution.sparkPlan, _.inputPlan, _ => true) { p =>
      p match {
        case f: FileSourceScanExec =>
          val table = f.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("?")
          val cols = f.requiredSchema.fieldNames.mkString("+")
          val pushed = f.metadata.getOrElse("PushedFilters", "[]")
          scans += s"$table{cols=$cols,pushed=$pushed}"
        case _ => ()
      }
      val cls = p.getClass.getSimpleName
      if (interesting(cls)) counts(cls) = counts.getOrElse(cls, 0) + 1
    }
    val c = counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    (c +: scans.sorted.toSeq).mkString(" | ")
  }
}
