package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps the
  * suite fast; tests must not mutate global conf). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  SparkTestSession.spark.sparkContext.setLogLevel("ERROR")

  /** Smallest driver fixture dir; fine to read in tests. */
  val Sf = "/root/testdata/sf0.001"

  /** Runs `body` with the session settings `kv`, then restores each one's
    * previous value, or its absence. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Runs `body` with file splits of at most `bytes` bytes and no open
    * cost, so a scan reads even a small fixture file in several partitions
    * (with no open cost, Spark cuts a file smaller than `bytes` into one
    * split per core). Such a read keeps a query on its distributed plan:
    * `SingleTaskPlan` leaves it alone. */
  def multiSplit[T](bytes: Int = 16384)(body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes" -> bytes.toString,
      "spark.sql.files.openCostInBytes" -> "0")(body)

  /** The Spark jobs started while `body` runs, broadcasts included. */
  def jobsStarted(body: => Unit): Int = {
    val jobs = new JobCounter(spark.sparkContext)
    try { body; jobs.take() } finally spark.sparkContext.removeSparkListener(jobs)
  }
}
