package graft.osm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial operators over (lat, lon) columns — the north-star's
  * "geospatial UDFs over map data", built as expressions (no UDFs).
  *
  * Scale design: the workhorse is Z-order (Morton) bucketing — interleave
  * quantized lat/lon bits into a single long that preserves spatial
  * locality, then use it as the partition/cluster key. Range scans over a
  * bounding box touch O(box) buckets instead of the whole table; it is the
  * standard layout key for 100 TB geo tables (and is pure integer math, so
  * results are engine-exact). Haversine is per-row trig (libm — fine for
  * compute, not for cross-engine hashing; covered by specs not oracles).
  */
object Geo {

  /** Quantize a coordinate into `bits`-bit cells over [min, max). */
  def quantizeCoord(c: Column, min: Double, max: Double, bits: Int): Column = {
    val cells = (1 << bits).toDouble
    least(
      greatest(floor((c - min) / (max - min) * cells).cast("long"), lit(0L)),
      lit((1L << bits) - 1))
  }

  /** Morton / Z-order key: interleave the bits of the quantized lat and
    * lon (lon in even positions). Pure integer expression. */
  def mortonKey(lat: Column, lon: Column, bits: Int = 16): Column = {
    val qLat = quantizeCoord(lat, -90.0, 90.0, bits)
    val qLon = quantizeCoord(lon, -180.0, 180.0, bits)
    (0 until bits).map { b =>
      val latBit = shiftleft(shiftright(qLat, b).bitwiseAND(lit(1L)), 2 * b + 1)
      val lonBit = shiftleft(shiftright(qLon, b).bitwiseAND(lit(1L)), 2 * b)
      latBit + lonBit
    }.reduce[Column](_ + _)
  }

  /** Bounding-box containment predicate. */
  def inBbox(lat: Column, lon: Column,
             latMin: Double, latMax: Double,
             lonMin: Double, lonMax: Double): Column =
    lat >= latMin && lat <= latMax && lon >= lonMin && lon <= lonMax
}
