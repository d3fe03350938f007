package graft.osm

import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobID
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.{ColumnBridge, InternalRowBridge}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Pinned-column-order CSV sink/source (SURVEY.md §2.1 S3/S4).
  *
  * Matches the reference's writer behavior: header row, UTF-8, minimal
  * quoting, ISO-8601 `Z` timestamps (ways.csv:2), field order from
  * OsmModel.columnOrder (py:91).
  */
object OsmCsv {

  val TsFormat = "yyyy-MM-dd'T'HH:mm:ss'Z'"

  /** The one CSV option set of every sink: [[write]] and [[writeTables]]
    * pass exactly this map to Spark's CSV writer.
    *
    * pythonCsvDialect=true reproduces the reference writer BYTE-exactly:
    * Python's csv module terminates rows with \r\n (its default
    * lineterminator), while Spark's default is \n. Quoting semantics
    * (minimal quoting, quotes escaped by doubling) already match, asserted
    * byte-for-byte against the committed golden files in GoldenWaysSpec. */
  def options(pythonCsvDialect: Boolean): Map[String, String] = Map(
    "header" -> "true",
    "timestampFormat" -> TsFormat,
    "emptyValue" -> "",
    // Python csv dialect (the reference writer): quotes escaped by
    // doubling (RFC 4180), not backslash.
    "escape" -> "\"",
    // Spark's writer trims field whitespace by default; Python's csv
    // writer never does — keep values verbatim
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false",
    "lineSep" -> (if (pythonCsvDialect) "\r\n" else "\n"))

  private def ordered(df: DataFrame, table: String): DataFrame =
    df.select(OsmModel.columnOrder(table).map(col): _*)

  def write(df: DataFrame, path: String, table: String,
            pythonCsvDialect: Boolean = false): Unit =
    ordered(df, table).write.mode("overwrite")
      .options(options(pythonCsvDialect))
      .csv(path)

  /** Write several tables of one input in ONE Spark job: task i writes
    * partition i of every table (`outDir/<table>/part-0000i-…-c000.csv`),
    * so a scan shared by the tables' plans is computed once per split.
    * Every frame must have the same partition count (the shapers of one
    * scan are narrow). The bytes and file names are those [[write]] gives
    * each table: the same `OutputWriter`, options, column order and
    * empty-partition rule (partition 0 always writes a file, header-only
    * when empty; any other empty partition writes none).
    *
    * All or nothing: one commit protocol rooted at `outDir` covers every
    * table, and a table's old files are deleted only after every task has
    * committed, just before the job commit publishes the new ones. A
    * failed pass aborts its tasks and the job, leaving the old tables as
    * they were and no `_temporary` behind. `_SUCCESS` is written to
    * `outDir`, not to each table directory.
    *
    * The Hadoop conf ships once per pass by broadcast: a conf in the task
    * closure is deserialized by every task, one gzip stream per property. */
  def writeTables(spark: SparkSession, outDir: String,
                  tables: Seq[(String, DataFrame)]): Unit = {
    val names = tables.map(_._1)
    val frames = tables.map { case (t, df) => ordered(df, t) }
    val schemas = frames.map(_.schema)
    val splits = new SplitsRDD(spark.sparkContext, frames.map(InternalRowBridge.toRdd))

    val job = Job.getInstance(ColumnBridge.newHadoopConf(spark))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(outDir))
    val csv = new CSVFileFormat()
    val sinks = names.lazyZip(schemas.map(csv.prepareWrite(spark, job,
      options(pythonCsvDialect = false), _))).lazyZip(schemas).toList
    val committer = FileCommitProtocol.instantiate(
      spark.conf.get("spark.sql.sources.commitProtocolClass"),
      UUID.randomUUID().toString, outDir, dynamicPartitionOverwrite = false)
    val tracker = new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date)
    // Listed before the job: with either committer algorithm the new files
    // are the ones not in this list.
    val fs = new Path(outDir).getFileSystem(job.getConfiguration)
    val old = names.map(new Path(outDir, _)).filter(fs.exists)
      .flatMap(d => fs.listStatus(d).map(_.getPath))

    committer.setupJob(job)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    def writeSplit(ctx: TaskContext, rows: Seq[Iterator[InternalRow]]) = {
      val jobId = new JobID(tracker, ctx.stageId())
      // Spark's writers number an attempt by its unique task attempt id
      val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, ctx.partitionId()),
        ctx.taskAttemptId().toInt & Int.MaxValue)
      val taskConf = new Configuration(conf.value.value)
      taskConf.set("mapreduce.job.id", jobId.toString)
      taskConf.set("mapreduce.task.id", attempt.getTaskID.toString)
      taskConf.set("mapreduce.task.attempt.id", attempt.toString)
      taskConf.setBoolean("mapreduce.task.ismap", true)
      taskConf.setInt("mapreduce.task.partition", 0)
      val tac = new TaskAttemptContextImpl(taskConf, attempt)
      committer.setupTask(tac)
      try {
        for (((table, factory, schema), it) <- sinks.zip(rows)
             if it.hasNext || ctx.partitionId() == 0) {
          val file = committer.newTaskTempFile(tac, Some(table),
            FileNameSpec("", "-c000" + factory.getFileExtension(tac)))
          val out = factory.newInstance(file, schema, tac)
          try it.foreach(out.write) finally out.close()
        }
        committer.commitTask(tac)
      } catch {
        case t: Throwable =>
          try committer.abortTask(tac) catch { case e: Throwable => t.addSuppressed(e) }
          throw t
      }
    }
    try {
      val commits = spark.sparkContext.runJob(splits,
        (ctx: TaskContext, it: Iterator[Seq[Iterator[InternalRow]]]) => writeSplit(ctx, it.next()))
      old.foreach(fs.delete(_, true))
      committer.commitJob(job, commits.toSeq)
    } catch {
      case t: Throwable =>
        try committer.abortJob(job) catch { case e: Throwable => t.addSuppressed(e) }
        throw t
    } finally conf.destroy()
  }

  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", true)
      .option("timestampFormat", TsFormat)
      .option("escape", "\"")
      .schema(schema)
      .csv(path)
}

/** Partition i of every frame, read in one task: a frame's rows of split
  * i. The parents' partitions travel inside the partition, because
  * `rdd.partitions` is not available inside a task. An input with no
  * splits is one empty partition, so partition 0 still writes each
  * table's header, as Spark's own writer does. */
private final class SplitsRDD(sc: SparkContext, frames: Seq[RDD[InternalRow]])
    extends RDD[Seq[Iterator[InternalRow]]](sc, Nil) {

  private val n = frames.head.partitions.length
  require(frames.forall(_.partitions.length == n),
    s"frames differ in partition count: ${frames.map(_.partitions.length).mkString(", ")}")

  override protected def getDependencies =
    if (n == 0) Nil else frames.map(new OneToOneDependency(_))

  override protected def getPartitions: Array[Partition] =
    if (n == 0) Array(SplitsRDD.Part(0, Nil))
    else Array.tabulate(n)(i => SplitsRDD.Part(i, frames.map(_.partitions(i))))

  override def compute(split: Partition, ctx: TaskContext): Iterator[Seq[Iterator[InternalRow]]] = {
    val parts = split.asInstanceOf[SplitsRDD.Part].parents
    Iterator.single(
      if (parts.isEmpty) frames.map(_ => Iterator.empty)
      else frames.zip(parts).map { case (f, p) => f.iterator(p, ctx) })
  }
}

private object SplitsRDD {
  final case class Part(index: Int, parents: Seq[Partition]) extends Partition
}
