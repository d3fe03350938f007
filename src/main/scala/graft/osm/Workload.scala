package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Readme's analytics workload (SURVEY.md §2.5–§2.7) as named queries
  * over the 5 OSM tables. Each is the Spark-first plan shape: two-phase
  * hash agg, TakeOrderedAndProject top-k, ilike for SQLite's ASCII-case-
  * insensitive LIKE (Readme.md:178–210 — published counts require the
  * case-insensitive semantics). */
object Workload {

  /** A1: count(*) (Readme.md:158–165). */
  def tableCount(df: DataFrame): Long = df.count()

  /** A2/U1: distinct contributors over nodes ∪all ways (Readme.md:168–171,
    * published answer 519). */
  def distinctContributors(nodes: DataFrame, ways: DataFrame): DataFrame =
    nodes.select("uid").union(ways.select("uid"))
      .agg(countDistinct("uid").as("n"))

  /** P5+A1: case-insensitive LIKE count (Readme.md:189–200 — 'coffee%'=22,
    * 'coffee%shop%'=13 only under case-insensitive matching). */
  def nameLikeCount(tags: DataFrame, pattern: String): DataFrame =
    tags.filter(col("key") === "name" && col("value").ilike(pattern))
      .agg(count(lit(1)).as("n"))

  /** A4/O1: busiest postcodes — count(distinct id) per postcode value,
    * top-k (Readme.md:205–222). */
  def busiestPostcodes(tags: DataFrame, k: Int = 10): DataFrame =
    tags.filter(col("key") === "postcode")
      .groupBy(col("value"))
      .agg(countDistinct("id").as("num"))
      .orderBy(col("num").desc, col("value"))
      .limit(k)

  /** A3/O1: top amenities (Readme.md:229–246). */
  def topAmenities(tags: DataFrame, k: Int = 10): DataFrame =
    tags.filter(col("key") === "amenity")
      .groupBy(col("value"))
      .agg(count(lit(1)).as("num"))
      .orderBy(col("num").desc, col("value"))
      .limit(k)

  /** A5: share of a value-set among all groups (Readme.md:226 — "37.33% of
    * the amenities are restaurants and fast food"). */
  def valueShare(tags: DataFrame, key: String, values: Seq[String]): DataFrame =
    tags.filter(col("key") === key)
      .agg((count(when(col("value").isin(values: _*), 1)).cast("double") /
        count(lit(1)).cast("double")).as("share"))
}
