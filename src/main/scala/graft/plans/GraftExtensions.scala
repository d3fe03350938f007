package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions

/** graft's planner additions: the strategy for its whole-operator plans
  * (as-of merge join, [[AsOfJoinStrategy]]) and the [[SingleTaskPlan]]
  * optimizer rule.
  *
  * Both go in through [[GraftExtensions.install]], into the session's
  * `spark.experimental` strategies and optimizations. `SingleTaskPlan`
  * must run after filter pushdown and column pruning, and Spark's extension
  * points offer no slot in the optimizer's last, user-provided batch, so a
  * session built with `spark.sql.extensions=graft.plans.GraftExtensions`
  * also installs through it, once, when its analyzer is built (the only
  * check rule below). A session the engine did not build gets the same
  * installation at the engine's read boundaries: `Tables.parquet`,
  * `OsmIngest.readOsm` and `AsOfJoin.asOfMerge` call `install` on the
  * session they read with, so perfbench's sessions and a bare
  * `SparkSession.builder()` plan exactly as an extended session does. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectCheckRule { spark =>
      GraftExtensions.install(spark)
      _ => ()
    }
}

object GraftExtensions {
  /** Runtime installation into an existing session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
    if (!exp.extraOptimizations.contains(SingleTaskPlan))
      exp.extraOptimizations = exp.extraOptimizations :+ SingleTaskPlan
  }
}
