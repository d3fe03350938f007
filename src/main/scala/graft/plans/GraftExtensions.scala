package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point (config:
  * `spark.sql.extensions=graft.plans.GraftExtensions`): the planner
  * strategy for graft's whole-operator plans (as-of merge join). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
}

object GraftExtensions {
  /** Runtime installation into an existing session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
  }
}
