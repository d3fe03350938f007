package graft.osm

import org.apache.spark.sql.types._

/** The reference's 5-table relational model (SURVEY.md §1.1, FIXTURES.md §1;
  * field lists pinned at amsterdam_map_data_wrangling.py:91–96). Column
  * order in the CSVs matches these schemas ("fields order in the csvs
  * matches the column order in the sql table schema", py:91).
  */
object OsmModel {

  val nodesSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("lat", DoubleType),
    StructField("lon", DoubleType), StructField("user", StringType),
    StructField("uid", LongType), StructField("version", IntegerType),
    StructField("changeset", LongType), StructField("timestamp", TimestampType)))

  val tagsSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("key", StringType),
    StructField("value", StringType), StructField("type", StringType)))

  val waysSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("user", StringType),
    StructField("uid", LongType), StructField("version", IntegerType),
    StructField("changeset", LongType), StructField("timestamp", TimestampType)))

  val wayNodesSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("node_id", LongType),
    StructField("position", IntegerType)))

  /** Pinned CSV column order per table (py:91–96). */
  val columnOrder: Map[String, Seq[String]] = Map(
    "nodes" -> Seq("id", "lat", "lon", "user", "uid", "version", "changeset", "timestamp"),
    "node_tags" -> Seq("id", "key", "value", "type"),
    "ways" -> Seq("id", "user", "uid", "version", "changeset", "timestamp"),
    "way_tags" -> Seq("id", "key", "value", "type"),
    "way_nodes" -> Seq("id", "node_id", "position"))
}
