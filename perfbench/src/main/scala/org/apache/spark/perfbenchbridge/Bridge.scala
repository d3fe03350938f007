package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** Spark-internal counters the benchmark reads from outside the engine:
  * the listener bus drain (so every task-end event is counted before the
  * trace is summarized) and the JVM-wide whole-stage-codegen compile
  * histogram. */
object Bridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compiles so far, summed compile ms of the retained samples). The
    * histogram's reservoir keeps every sample until 1028 compiles, which a
    * benchmark run stays well under. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
}
