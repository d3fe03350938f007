package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in the engine surfaces here as a named query plus (where
  * ANSI-SQL-expressible) a DuckDB oracle; the driver hash-compares them on
  * the same parquet tables.
  */
object SparkEntry {

  private val modules: Seq[Seq[Q]] = Seq(
    operators.Relational.defs,
    operators.CleanerOps.defs,
    operators.TextOps.defs,
    operators.DedupOps.defs,
    operators.SimilarityOps.defs,
    operators.WindowingOps.defs,
    operators.MultimodalOps.defs,
    operators.StatsOps.defs,
    operators.ExtendedOps.defs,
    operators.ChunkingOps.defs,
    operators.Sampling.defs,
    operators.ReleaseOps.defs,
    operators.GeoOps.defs,
    operators.ProfileOps.defs,
    operators.GraphOps.defs,
    operators.OsmOps.defs,
    sources.FormatOps.defs
  )

  val allQueries: Seq[Q] = {
    val qs = modules.flatten
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate query names would be silently dropped by the Map: $dup")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Revenue by region: broadcast-dim star join + two-phase hash agg. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.t(spark, d, "lineitem")
    val ord = Tables.t(spark, d, "orders")
    val cust = Tables.t(spark, d, "customer")
    val nat = Tables.t(spark, d, "nation")
    val reg = Tables.t(spark, d, "region")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1) - col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(18,4)").cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("r_name"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
