package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The optional
  * third argument restricts the dump (and oracle_sql.json) to the named
  * queries; an unknown name is refused, since an empty dump would
  * compare as a silent 0 pass, 0 fail. Each query's wall time goes to
  * stderr as `[verify] <name> <seconds>s`. */
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
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // one line per query, so log lines can be attributed by time
      System.err.println(
        f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
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
