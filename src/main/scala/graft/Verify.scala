package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The optional
  * third argument restricts the dump (and oracle_sql.json) to the named
  * queries; an unknown name is refused, since an empty dump would
  * compare as a silent 0 pass, 0 fail. Each query's wall time and the
  * Spark jobs it started (its parquet write included) go to stderr as
  * `[verify] <name> <seconds>s <n> jobs`. */
object Verify {
  val Usage = "Usage: graft.Verify <sfDir> <outDir> [name,name,...]"

  def main(args: Array[String]): Unit = args match {
    case Array(sfDir, outDir) => run(sfDir, outDir, None)
    case Array(sfDir, outDir, names) =>
      val only = names.split(",").toSet
      val unknown = only -- SparkEntry.allQueries.map(_.name)
      if (unknown.nonEmpty) {
        System.err.println("[verify] unknown query names: " +
          unknown.toSeq.sorted.map(n => s"'$n'").mkString(", "))
        sys.exit(2)
      }
      run(sfDir, outDir, Some(only))
    case _ =>
      System.err.println(Usage)
      sys.exit(2)
  }

  private def run(sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    val spark = Session.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val jobs = new JobCounter(spark.sparkContext)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val s = (System.nanoTime() - t0) / 1e9
      // one line per query, so log lines can be attributed by time
      System.err.println(f"[verify] $name $s%.2fs ${jobs.take()} jobs")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

/** Counts the Spark jobs started on `sc` (Verify's per-query counts, and
  * the tests' `jobsStarted`). Listener events arrive asynchronously but in
  * order, so once a marker job's start has been delivered, every job
  * started before it has been counted. */
private[graft] final class JobCounter(sc: SparkContext) extends SparkListener {
  private val marker = "graft-job-counter-marker"
  private val started = new AtomicInteger()
  @volatile private var markerSeen = new CountDownLatch(1)
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
      markerSeen.countDown()
    else started.incrementAndGet()

  /** The jobs started since the last call (the first call: since creation). */
  def take(): Int = {
    val seen = new CountDownLatch(1)
    markerSeen = seen
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    if (!seen.await(60, TimeUnit.SECONDS)) -1 else started.getAndSet(0)
  }
}
