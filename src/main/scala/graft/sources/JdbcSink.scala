package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC sink/source — the literal analog of the reference's CSV→SQLite load
  * (Readme.md:11: `.mode csv` + `.import` into a SQLite db; SURVEY.md §2.1
  * S4). The engine's primary SQL surface is temp views over parquet
  * (Tables.registerViews); this path exists for capability parity when the
  * downstream really is an external relational store.
  *
  * No query or main calls it: it stays as the engine's analogue of the
  * reference's "load the CSVs into SQLite" step (PAPER.md), covered by
  * JdbcSinkSpec.
  *
  * Scale note: JDBC writes are per-partition inserts — `numPartitions`
  * bounds the connection count against the target DB. This is an EXPORT
  * path for aggregated results, not a 100 TB data path.
  */
object JdbcSink {

  /** Write a table through JDBC (overwrite = DROP + CREATE, like a fresh
    * `.import`). `columnTypes` overrides the dialect's default DDL types —
    * e.g. Derby maps StringType to CLOB, which its own engine then refuses
    * to compare or GROUP BY; pass "k VARCHAR(64), v VARCHAR(1024)" to keep
    * string columns queryable. */
  def write(df: DataFrame, url: String, table: String,
            numPartitions: Int = 1, columnTypes: Option[String] = None): Unit = {
    val base = df.coalesce(numPartitions)
      .write.mode(SaveMode.Overwrite)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    columnTypes.fold(base)(t => base.option("createTableColumnTypes", t)).save()
  }

  /** Read a table back through JDBC. */
  def read(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .load()

  /** Push a whole SQL query down to the external DB (the reference's
    * `sqlite> SELECT ...` shell against the loaded db, EP3). */
  def readQuery(spark: SparkSession, url: String, sql: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("query", sql)
      .load()
}
