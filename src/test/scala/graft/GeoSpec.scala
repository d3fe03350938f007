package graft

import graft.osm.Geo
import org.apache.spark.sql.functions._

/** Geospatial operator behavior: morton locality, bbox. */
class GeoSpec extends SparkTestBase {

  import spark.implicits._

  test("morton keys preserve locality: nearby points share high bits") {
    val pts = Seq(
      (1L, 52.370, 4.890),   // Amsterdam center
      (2L, 52.371, 4.891),   // ~100m away
      (3L, -33.865, 151.209) // Sydney
    ).toDF("id", "lat", "lon")
    val keys = pts.select(col("id"), Geo.mortonKey(col("lat"), col("lon")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((keys(1L) >> 8) === (keys(2L) >> 8))  // same fine cell
    assert((keys(1L) >> 20) !== (keys(3L) >> 20)) // different coarse cell
  }

  test("bbox filter + morton bucketing compose for spatial scans") {
    val pts = (1 to 1000).map(i => (i.toLong, -90.0 + i * 0.17 % 180, -180.0 + i * 0.31 % 360))
      .toDF("id", "lat", "lon")
    val inBox = pts.filter(Geo.inBbox(col("lat"), col("lon"), 0, 45, 0, 90))
    val viaMorton = inBox.select(Geo.mortonKey(col("lat"), col("lon")).as("m"))
      .distinct().count()
    assert(inBox.count() > 0)
    assert(viaMorton > 0 && viaMorton <= inBox.count())
  }
}
