package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Execution observability (SURVEY.md §2.1 S5 — the reference's .dbinfo /
  * file-size reporting, upgraded to per-operator runtime metrics): after an
  * action, surface scan and operator metrics from the executed plan.
  * No query reaches it yet: it stays as the plan-metric reader that the
  * engine's own tracing (ROADMAP, observability) is to build on. */
object Metrics {

  /** Full traversal: AQE wraps materialized stages in QueryStageExec nodes
    * whose subtree hangs off `.plan`, not `children` — a plain collect
    * stops at the stage boundary. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(walk)
  }

  /** All (nodeName, metricName) -> value entries of the executed plan.
    * Call after an action so metrics are populated. */
  def all(df: DataFrame): Map[(String, String), Long] =
    walk(df.queryExecution.executedPlan).flatMap { node =>
      node.metrics.map { case (name, m) => (node.nodeName, name) -> m.value }
    }.toMap

  /** Total rows produced by file scans (input cardinality). */
  def scanOutputRows(df: DataFrame): Long =
    all(df).collect {
      case ((node, "numOutputRows"), v) if node.toLowerCase.contains("scan") => v
    }.sum
}
