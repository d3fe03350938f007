package graft.osm

import graft.functions.Cleaners
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{DataSource, FilePartition, HadoopFsRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** OSM XML → 5 normalized tables, Spark-first (SURVEY.md §2.1 S1/S2, §2.4).
  *
  * The reference stream-parses with iterparse, one pass, one element at a
  * time (py:179–186), each element shaped and written as it is parsed.
  * `runEtl` is the same loop, run in parallel splits. `OsmXml`, the
  * engine's splittable OSM reader, makes one row per `<node>` or `<way>`
  * with a `kind` column, the 8 attributes as strings and the `<tag>`/`<nd>`
  * child lists. A split owns every element whose `<` byte lies inside it,
  * so each element is read once and any split size is correct. `runEtl`
  * sizes the splits itself (`splits`): one per core, at most
  * `spark.sql.files.maxPartitionBytes`. It runs ONE Spark job and plans no
  * query: task i parses split i and pushes each row through the five
  * shapers below into split i's part file of every table
  * (`OsmCsv.writeTables`). No row is stored. The shapers are Column code:
  * codegen'd projections and cleaners, and explode/posexplode for the child
  * lists (G1/G2). They are bound row operators in `runEtl` (`Shaper`) and
  * ordinary frames everywhere else. The pipeline is narrow — no shuffle —
  * so it scales linearly with input splits.
  *
  * Why not Spark's built-in XML source: on Spark 4.1 its `multiLine`
  * option defaults to true, which reads each file in ONE task, and it
  * scans once per row tag, so two full single-task parses per pass.
  * `multiLine=false` does split, but its record reader costs 2–3× more per
  * byte, so the wall time barely moves.
  *
  * Robustness rules (details in `OsmXml`):
  *  - PERMISSIVE: one malformed element must not kill a 100 TB job. An
  *    element the parser rejects becomes a row of nulls and parsing resumes
  *    at the next element; a well-formed but bad value (`lat="bad"`)
  *    becomes null through `try_cast` in the projections.
  *  - `<node>`/`<way>` must be children of the `<osm>` root. An osmChange
  *    file or any other nesting is refused with an error.
  *  - `<relation>` and `<bounds>` elements are not read (S2, py:108/149).
  *
  * `readNodesRaw`/`readWaysRaw` are a `kind` filter plus a projection onto
  * the fixed read schemas below (no inference, so no second pass over the
  * data).
  */
object OsmIngest {

  private val tagArray = ArrayType(StructType(Seq(
    StructField("_k", StringType), StructField("_v", StringType))))

  // Attributes read as strings, typed via try_cast in the projections:
  // try_cast degrades a bad cell to null where a typed parse (or an ANSI
  // cast) would fail the task.
  val nodeReadSchema: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("_lat", StringType),
    StructField("_lon", StringType), StructField("_user", StringType),
    StructField("_uid", StringType), StructField("_version", StringType),
    StructField("_changeset", StringType), StructField("_timestamp", StringType),
    StructField("tag", tagArray)))

  val wayReadSchema: StructType = StructType(Seq(
    StructField("_id", StringType), StructField("_user", StringType),
    StructField("_uid", StringType), StructField("_version", StringType),
    StructField("_changeset", StringType), StructField("_timestamp", StringType),
    StructField("tag", tagArray),
    StructField("nd", ArrayType(StructType(Seq(StructField("_ref", StringType)))))))

  /** One scan of the whole file: every `<node>` and `<way>` (`OsmXml.schema`). */
  def readOsm(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[OsmXml].getName).schema(OsmXml.schema).load(path)

  private def ofKind(raw: DataFrame, kind: String, schema: StructType): DataFrame =
    raw.filter(col("kind") === kind).select(schema.fieldNames.map(col): _*)

  def readNodesRaw(spark: SparkSession, path: String): DataFrame =
    ofKind(readOsm(spark, path), "node", nodeReadSchema)

  def readWaysRaw(spark: SparkSession, path: String): DataFrame =
    ofKind(readOsm(spark, path), "way", wayReadSchema)

  private def tc(c: String, t: String) = expr(s"try_cast($c AS $t)")

  /** P1: node attribute projection (py:108–110). */
  def nodes(raw: DataFrame): DataFrame =
    raw.select(
      tc("_id", "BIGINT").as("id"), tc("_lat", "DOUBLE").as("lat"),
      tc("_lon", "DOUBLE").as("lon"), col("_user").as("user"),
      tc("_uid", "BIGINT").as("uid"), tc("_version", "INT").as("version"),
      tc("_changeset", "BIGINT").as("changeset"),
      tc("_timestamp", "TIMESTAMP").as("timestamp"))

  /** G1 + T1 + node-only T2/T3 cleaning (py:111–147).
    * The postcode/phone branches are exclusive if/elif (py:128,131):
    * postcode matches the POST-split key, phone matches the RAW key. */
  def nodeTags(raw: DataFrame): DataFrame = nodeTags(raw, dropProblemTags = false)

  /** dropProblemTags enables the reference's documented-but-never-enforced
    * PROBLEMCHARS rule (py:33 vs py:88 — SURVEY.md §2.3). Default false =
    * the reference's ACTUAL behavior (nothing dropped). */
  def nodeTags(raw: DataFrame, dropProblemTags: Boolean): DataFrame = {
    val exploded = raw.select(tc("_id", "BIGINT").as("id"), explode(col("tag")).as("t"))
    val (k, v) = (col("t._k"), col("t._v"))
    val key = Cleaners.keyTail(k)
    // one select: every DataFrame step re-analyzes the plan on the driver
    (if (dropProblemTags) exploded.filter(!Cleaners.hasProblemChars(k)) else exploded)
      .select(
        col("id"),
        key.as("key"),
        when(key === "postcode", Cleaners.nlPostcode(v))
          .when(k === "phone", Cleaners.nlPhone(v))
          .otherwise(v).as("value"),
        Cleaners.keyType(k).as("type"))
  }

  /** P2: way attribute projection (py:150–151). */
  def ways(raw: DataFrame): DataFrame =
    raw.select(
      tc("_id", "BIGINT").as("id"), col("_user").as("user"),
      tc("_uid", "BIGINT").as("uid"), tc("_version", "INT").as("version"),
      tc("_changeset", "BIGINT").as("changeset"),
      tc("_timestamp", "TIMESTAMP").as("timestamp"))

  /** G1 + T1 only — the way branch does NO value cleaning (py:160–173;
    * verified in the committed golden output, SURVEY.md §2.3). */
  def wayTags(raw: DataFrame): DataFrame =
    raw.select(tc("_id", "BIGINT").as("id"), explode(col("tag")).as("t"))
      .select(
        col("id"),
        Cleaners.keyTail(col("t._k")).as("key"),
        col("t._v").as("value"),
        Cleaners.keyType(col("t._k")).as("type"))

  /** G2: positional explode of `<nd>` refs — position is the 0-based
    * document order (py:152–159), which posexplode preserves without a
    * window function. */
  def wayNodes(raw: DataFrame): DataFrame =
    raw.select(tc("_id", "BIGINT").as("id"), posexplode(col("nd")).as(Seq("position", "n")))
      .select(col("id"), expr("try_cast(n._ref AS BIGINT)").as("node_id"), col("position"))

  /** Register the 5 shaped tables as temp views — the SQL surface of EP3
    * (the reference's interactive sqlite> shell, SURVEY.md §3). */
  def registerViews(nodesRaw: DataFrame, waysRaw: DataFrame): Unit = {
    nodes(nodesRaw).createOrReplaceTempView("nodes")
    nodeTags(nodesRaw).createOrReplaceTempView("node_tags")
    ways(waysRaw).createOrReplaceTempView("ways")
    wayTags(waysRaw).createOrReplaceTempView("way_tags")
    wayNodes(waysRaw).createOrReplaceTempView("way_nodes")
  }

  /** The splits of one `runEtl` pass over `path` (a file, a directory or a
    * glob, as `readOsm` takes): one per core, of
    * min(`spark.sql.files.maxPartitionBytes`, ⌈input bytes / default
    * parallelism⌉) bytes each, packed as Spark packs a scan's splits. A
    * compressed file is one split (`OsmXml.isSplitable`). */
  private[graft] def splits(spark: SparkSession, path: String): Seq[FilePartition] = {
    // the relation `readOsm` resolves, without analyzing a plan over it
    val rel = DataSource(spark.asInstanceOf[classic.SparkSession], classOf[OsmXml].getName,
      paths = Seq(path), userSpecifiedSchema = Some(OsmXml.schema))
      .resolveRelation().asInstanceOf[HadoopFsRelation]
    val files = rel.location.listFiles(Nil, Nil).flatMap(_.files)
    val cores = spark.sparkContext.defaultParallelism
    val size = math.max(1L, math.min(
      JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes")),
      (files.map(_.getLen).sum + cores - 1) / cores))
    FilePartition.getFilePartitions(spark, files.flatMap(f => PartitionedFileUtil.splitFiles(
      f, f.getPath, rel.fileFormat.isSplitable(spark, rel.options, f.getPath), size,
      InternalRow.empty)), size)
  }

  /** The full ETL (EP1, py:206–236): one XML pass, 5 CSV tables, the
    * equivalent of process_map. ONE Spark job with one task per split
    * (`splits`): task i parses split i once and streams each element
    * through the five shapers into split i's part file of every table. The
    * shapers are bound from their Column code without query planning
    * (`Shaper`), and the five tables are published together or not at all
    * (`OsmCsv.writeTables`). */
  def runEtl(spark: SparkSession, osmPath: String, outDir: String): Unit =
    OsmCsv.writeTables(spark, outDir, splits(spark, osmPath), shapers(spark))

  /** The five tables' shapers of the last session and SQL conf they were
    * bound for. Binding analyzes a dozen plans before the first task can
    * start: over the 9 MB perfbench extract on 4 vCPUs, a pass that binds
    * starts its first task ~85 ms in, one that reuses the shapers ~30 ms
    * in. The analysis depends on the conf: the session time zone
    * enters the timestamp casts, ANSI mode the arithmetic. A pass in
    * another session or under another conf binds anew. */
  private val bound = new AtomicReference[(Any, Seq[(String, Shaper)])]((null, Nil))

  private def shapers(spark: SparkSession): Seq[(String, Shaper)] = {
    val key = (ColumnBridge.sessionUUID(spark), spark.conf.getAll)
    val (k, cached) = bound.get
    if (k == key) cached
    else {
      val none = spark.createDataFrame(java.util.List.of[Row](), OsmXml.schema)
      val n = ofKind(none, "node", nodeReadSchema)
      val w = ofKind(none, "way", wayReadSchema)
      val fresh = Seq("nodes" -> nodes(n), "node_tags" -> nodeTags(n), "ways" -> ways(w),
        "way_tags" -> wayTags(w), "way_nodes" -> wayNodes(w))
        .map { case (t, df) => t -> Shaper(OsmCsv.ordered(df, t)) }
      bound.set((key, fresh))
      fresh
    }
  }
}
