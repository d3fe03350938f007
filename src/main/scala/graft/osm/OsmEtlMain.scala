package graft.osm

/** CLI entry point for the OSM ETL — the Spark-native equivalent of running
  * `python amsterdam_map_data_wrangling.py` (EP1, SURVEY.md §3).
  *
  * Usage: runMain graft.osm.OsmEtlMain <input.osm> <outDir>
  */
object OsmEtlMain {
  val Usage = "Usage: graft.osm.OsmEtlMain <input.osm> <outDir>"

  def main(args: Array[String]): Unit = args match {
    case Array(osmPath, outDir) => run(osmPath, outDir)
    case _ =>
      System.err.println(Usage)
      sys.exit(2)
  }

  private def run(osmPath: String, outDir: String): Unit = {
    val spark = graft.Session.local().appName("graft-osm-etl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    OsmIngest.runEtl(spark, osmPath, outDir)
    // the reference prints elapsed time + output sizes (py:240–246)
    val secs = (System.nanoTime() - t0) / 1e9
    val sizes = Seq("nodes", "node_tags", "ways", "way_tags", "way_nodes")
      .map { t =>
        val d = new java.io.File(s"$outDir/$t")
        val bytes = Option(d.listFiles()).map(_.filter(_.getName.endsWith(".csv"))
          .map(_.length()).sum).getOrElse(0L)
        val rows = spark.read.option("header", true).csv(s"$outDir/$t").count()
        s"$t=$rows rows/${bytes}B"
      }.mkString(" ")
    println(f"[osm-etl] done in $secs%.2fs $sizes")
    spark.stop()
  }
}
