package graft

import org.apache.spark.sql.SparkSession

/** The engine's session builder, shared by the command-line mains: a
  * local master over `SPARK_GRAFT_CPUS` cores (default 4) with as many
  * shuffle partitions, UTC session time and the UI off. */
object Session {
  def local(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }
}
