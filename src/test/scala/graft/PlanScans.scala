package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Structural plan checks: the root paths every file scan of an executed
  * plan reads — adaptive stages, subqueries and cached relations
  * included. Specs assert on these instead of the plan STRING: Spark cuts
  * a scan's `Location:` text off at 100 characters, so a string check
  * changes meaning with the length of the path the data lives under (a
  * longer checkout pushes the table name out of the text, and a negative
  * `!contains` then passes vacuously). */
object PlanScans extends AdaptiveSparkPlanHelper {

  /** Root paths of every file scan `df`'s executed plan reads. */
  def roots(df: DataFrame): Seq[String] = roots(df.queryExecution.executedPlan)

  private def roots(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
      case m: InMemoryTableScanExec => roots(m.relation.cachedPlan)
    }.flatten
}
