package graft

import graft.osm.{OsmCsv, OsmIngest, OsmModel}
import java.nio.file.Files

/** Stage-1 conformance: `runEtl` over a fixed extract writes exactly the
  * five tables the generator derived from it, row for row.
  *
  * The fixture (`src/test/resources/osm/`) was generated once with
  * perfbench's generator, from the `perfbench/` directory:
  * {{{
  * python3 -c "import gen; gen.gen_osm(180, 30, 'out', name='fixture')"
  * python3 -c "import pandas as pd
  * for t in ['nodes', 'node_tags', 'ways', 'way_tags', 'way_nodes']:
  *     pd.read_parquet(f'out/fixture_expected/{t}.parquet').to_csv(f'{t}.csv', index=False)"
  * }}}
  * Seed 180 with 30 ways is the first instance whose node `phone` tags
  * hit every `nlPhone` branch the generator's phone forms reach (7, 9, 10,
  * 11, 12 and 13 digits and the fall-through), whose node postcodes take
  * all four forms and way postcodes all three; it also has colon keys,
  * uppercase keys and relations to drop. 300 nodes, 30 ways, 67 kB.
  */
class OsmConformanceSpec extends SparkTestBase {

  private def resource(p: String) = getClass.getResource(s"/osm/$p").getPath

  private val schemas = Map(
    "nodes" -> OsmModel.nodesSchema, "node_tags" -> OsmModel.tagsSchema,
    "ways" -> OsmModel.waysSchema, "way_tags" -> OsmModel.tagsSchema,
    "way_nodes" -> OsmModel.wayNodesSchema)

  private def rows(path: String, table: String): Seq[String] =
    OsmCsv.read(spark, path, schemas(table)).collect().map(_.mkString("\u0001")).toSeq.sorted

  private def conforms(): Unit = {
    val out = Files.createTempDirectory("graft-conformance").toFile
    out.deleteOnExit()
    OsmIngest.runEtl(spark, resource("fixture.osm"), out.toString)
    for (table <- OsmModel.columnOrder.keys) {
      val want = rows(resource(s"fixture_expected/$table.csv"), table)
      assert(want.nonEmpty, table)
      assert(rows(s"$out/$table", table) === want, table)
    }
  }

  test("runEtl writes exactly the generator's five tables") {
    conforms()
  }

  test("... and the same tables when the file is read in 8 kB splits") {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, 8192L))
    try {
      assert(OsmIngest.readOsm(spark, resource("fixture.osm")).rdd.getNumPartitions > 1)
      conforms()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
