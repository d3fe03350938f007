package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Loaders for the driver's synthetic star schema (TESTDATA.md).
  *
  * One parquet file per table under `dir`. Schemas are fixed (FIXTURES.md §2)
  * so we read without inference; Parquet carries the schema. At 100 TB these
  * reads become partitioned multi-file scans — nothing here assumes a single
  * file, and all downstream operators rely on Catalyst pushdown (filters /
  * column pruning reach the scan).
  *
  * '''Relation cache.''' A plain `spark.read.parquet` lists the path and
  * launches one Spark job (footer schema inference) on every call, and a
  * star query reads up to three tables. So each parquet path is resolved
  * once per session: the resolved `HadoopFsRelation` (schema + file index)
  * is kept, and every later call returns a NEW DataFrame over it
  * (`baseRelationToDataFrame`), with fresh attribute ids — self-joins and
  * unions of one table resolve exactly as over two fresh reads — and no
  * listing or job. The plan is the one a fresh read builds (a fresh read
  * goes through the same `baseRelationToDataFrame`), so filter pushdown and
  * column pruning reach the scan unchanged.
  *
  *  - Key: the session's UUID + the qualified path. The relation holds its
  *    session (whose conf its scans read), so a relation is never served
  *    to another session, `newSession()` included. Entries live as long as
  *    their SparkContext: they are dropped once it has stopped (a session
  *    restarted in the same JVM does not leave its predecessor's behind).
  *  - Staleness stamp: the path's `FileStatus` length and modification
  *    time, one `getFileStatus` per call. A table rewritten under the same
  *    path (a new file, or a directory whose entries changed) re-resolves;
  *    a stale file index is never served.
  *  - Caveat: the stamp sees only the path itself. Object stores (S3, GCS)
  *    report no directory modification time, and files changed inside a
  *    partition subdirectory do not touch the table directory's mtime — a
  *    directory table rewritten that way is served from its old file index
  *    for the rest of the session (a new session re-resolves it).
  *
  * The cache persists no Dataset and holds no RDD storage: an entry is
  * metadata (schema + file listing) only.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped as TIMESTAMP(NANOS) (refused by Spark unless
    // read as long) and as TIMESTAMP(MICROS) NTZ, depending on fixture
    // generation — normalize BOTH to TimestampType so event-time ops
    // (and streaming watermarks, which reject NTZ) always see the same
    // type. The session timezone is UTC, so the NTZ cast preserves wall
    // values exactly — the same instants DuckDB reads either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** A resolved relation and the stamp of the path it was resolved from. */
  private final case class Resolved(rel: HadoopFsRelation, stamp: (Long, Long))

  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Resolved]()

  /** The parquet file or directory at `path` (a literal path, not a glob),
    * resolved once per session — see the relation cache above. */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val stamp = (st.getLen, st.getModificationTime)
    val key = (org.apache.spark.sql.graftbridge.ColumnBridge.sessionUUID(spark),
      fs.makeQualified(p).toString)
    resolved.get(key) match {
      case r: Resolved if r.stamp == stamp =>
        spark.baseRelationToDataFrame(r.rel)
      case _ =>
        // the reader globs its path; escape so it reads what was stat'ed
        val df = spark.read.parquet(escapeGlob(path))
        df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
          .collect { case rel: HadoopFsRelation => rel }
          .foreach { rel =>
            resolved.values.removeIf(_.rel.sparkSession.sparkContext.isStopped)
            resolved.put(key, Resolved(rel, stamp))
          }
        df
    }
  }

  /** `path` with Hadoop glob metacharacters escaped, so a reader that
    * globs its path matches exactly this file (a name like
    * `part-[0].parquet` is otherwise a character class). */
  private[graft] def escapeGlob(path: String): String =
    path.replaceAll("([{}\\[\\]*?,\\\\])", "\\\\$1")

  /** Number of cached relations across all sessions (test seam: the
    * cache-bound tests read it). */
  private[graft] def cachedRelations: Int = resolved.size

  /** Nanos-as-long → floor-divide to micros (DuckDB's truncation);
    * micros-NTZ → cast (value-preserving under the UTC session tz). */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Register every table as a temp view (SQL surface parity with the
    * reference's CSV→SQLite load, SURVEY.md §2.1 S4). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
