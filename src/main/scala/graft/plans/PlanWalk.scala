package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** A frame's physical plan seen through adaptive execution. An
  * `AdaptiveSparkPlanExec` and a query stage are LEAVES to `children`,
  * so a plain `collect` over an adaptive plan matches nothing; this
  * walk descends into the adaptive plan's current physical plan and
  * into every stage's plan. Before the frame runs that is the initial
  * plan; after, the final one (with the runtime pruning applied).
  */
object PlanWalk {

  /** `p` and every node below it, adaptive wrappers unwrapped. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** The file scans of `df`'s executed plan. */
  def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    nodes(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }

  /** How many files `df`'s scans read after file pruning — run `df`
    * first to see the final adaptive plan.
    */
  def scannedFiles(df: DataFrame): Int =
    fileScans(df).map(_.relation.location.inputFiles.length).sum
}
