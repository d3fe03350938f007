package graft.osm

import java.io.IOException
import java.text.SimpleDateFormat
import java.util.{Date, Locale, UUID}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobID
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.{FileOutputCommitter, FileOutputFormat}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD, OutputWriter}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.{ColumnBridge, TaskMetricsBridge}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

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

  private[osm] def ordered(df: DataFrame, table: String): DataFrame =
    df.select(OsmModel.columnOrder(table).map(col): _*)

  def write(df: DataFrame, path: String, table: String,
            pythonCsvDialect: Boolean = false): Unit =
    ordered(df, table).write.mode("overwrite")
      .options(options(pythonCsvDialect))
      .csv(path)

  /** Write the tables of one OSM XML scan in ONE Spark job, with no query
    * planning. Task i reads split i once with `OsmXml.SplitReader` and
    * pushes each row through every table's [[Shaper]] into that table's
    * part file, `outDir/<table>/part-0000i-…-c000.csv`, opened at its first
    * row. A table's shaper is its Column code over an empty `LocalRelation`
    * of `OsmXml.schema`, in the table's column order ([[ordered]]). An
    * input with no splits is one empty partition. The bytes and file names
    * are those [[write]] gives each table: the same `OutputWriter`,
    * options, column order and empty-partition rule (partition 0 always
    * writes a file, header-only when empty; any other empty partition
    * writes none). Each task reports the data rows and file bytes it wrote
    * as its output metrics.
    *
    * All or nothing: one commit protocol rooted at `outDir` covers every
    * table. Once every task has committed, the tables' published files and
    * `_SUCCESS` move into `outDir/_superseded-<uuid>/`; the job commit
    * publishes the new files, `_SUCCESS` is written, and only then are the
    * superseded files deleted. A failure at any step aborts the tasks and
    * the job, deletes any new file that reached a table and moves the
    * superseded files back, so `outDir` is left as it was, with no
    * `_temporary` behind. `_SUCCESS` is written to `outDir`, not to each
    * table directory.
    *
    * The Hadoop conf travels in the task closure as its plain entries,
    * which each task turns back into a `Configuration`. Broadcasting a
    * `SerializableConfiguration` (one gzip stream per property) took
    * ~15 ms of driver time before the first task, against ~2 ms to
    * serialize the entries. */
  def writeTables(spark: SparkSession, outDir: String, splits: Seq[FilePartition],
                  tables: Seq[(String, Shaper)]): Unit = {
    val job = Job.getInstance(ColumnBridge.newHadoopConf(spark))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, new Path(outDir))
    // written below, after the job commit has succeeded
    job.getConfiguration.setBoolean(FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER, false)
    val csv = new CSVFileFormat()
    val sinks = tables.map { case (t, shaper) =>
      (t, csv.prepareWrite(spark, job, options(pythonCsvDialect = false), shaper.schema), shaper)
    }
    val committer = FileCommitProtocol.instantiate(
      spark.conf.get("spark.sql.sources.commitProtocolClass"),
      UUID.randomUUID().toString, outDir, dynamicPartitionOverwrite = false)
    val tracker = new SimpleDateFormat("yyyyMMddHHmmss", Locale.US).format(new Date)
    val fs = new Path(outDir).getFileSystem(job.getConfiguration)
    def published() = tables.map(t => new Path(outDir, t._1)).filter(fs.exists)
      .flatMap(d => fs.listStatus(d).map(_.getPath))
    // Listed before the job: with either committer algorithm the new files
    // are the ones not in this list.
    val old = published()
    val success = new Path(outDir, "_SUCCESS")
    val superseded = new Path(outDir, s"_superseded-${UUID.randomUUID()}")
    val moved = mutable.ArrayBuffer[(Path, Path)]()

    committer.setupJob(job)
    val entries = job.getConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    def hadoopConf() = {
      val c = new Configuration(false)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
    def writeSplit(ctx: TaskContext, rows: Iterator[InternalRow]) = {
      val jobId = new JobID(tracker, ctx.stageId())
      // Spark's writers number an attempt by its unique task attempt id
      val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, ctx.partitionId()),
        ctx.taskAttemptId().toInt & Int.MaxValue)
      val taskConf = hadoopConf()
      taskConf.set("mapreduce.job.id", jobId.toString)
      taskConf.set("mapreduce.task.id", attempt.getTaskID.toString)
      taskConf.set("mapreduce.task.attempt.id", attempt.toString)
      taskConf.setBoolean("mapreduce.task.ismap", true)
      taskConf.setInt("mapreduce.task.partition", 0)
      val tac = new TaskAttemptContextImpl(taskConf, attempt)
      committer.setupTask(tac)
      val files = new Array[String](sinks.length)
      val writers = new Array[OutputWriter](sinks.length)
      def writer(i: Int) = {
        if (writers(i) == null) {
          val (table, factory, shaper) = sinks(i)
          files(i) = committer.newTaskTempFile(tac, Some(table),
            FileNameSpec("", "-c000" + factory.getFileExtension(tac)))
          writers(i) = factory.newInstance(files(i), shaper.schema, tac)
        }
        writers(i)
      }
      try {
        var records = 0L
        try {
          val push = sinks.indices.map(i =>
            sinks(i)._3.bind(ctx.partitionId(), r => { writer(i).write(r); records += 1 }))
          rows.foreach(r => push.foreach(_(r)))
          if (ctx.partitionId() == 0) sinks.indices.foreach(writer)
        } finally writers.foreach(w => if (w != null) w.close())
        val bytes = files.filter(_ != null).map { f =>
          val p = new Path(f)
          p.getFileSystem(taskConf).getFileStatus(p).getLen
        }.sum
        TaskMetricsBridge.setOutput(ctx, bytes, records)
        committer.commitTask(tac)
      } catch {
        case t: Throwable =>
          try committer.abortTask(tac) catch { case e: Throwable => t.addSuppressed(e) }
          throw t
      }
    }
    try {
      val fields = OsmXml.schema.fieldNames
      val scan = new FileScanRDD(spark, new OsmXml.SplitReader(_, hadoopConf(), fields),
        if (splits.isEmpty) Seq(FilePartition(0, Array.empty)) else splits, OsmXml.schema)
      val commits = spark.sparkContext.runJob(scan, writeSplit _)
      val aside = (old.map(p => p -> new Path(new Path(superseded, p.getParent.getName), p.getName)) :+
        (success -> new Path(superseded, success.getName))).filter(m => fs.exists(m._1))
      aside.map(_._2.getParent).distinct.foreach(fs.mkdirs)
      for ((p, to) <- aside) {
        if (!fs.rename(p, to)) throw new IOException(s"cannot move $p to $to")
        moved += p -> to
      }
      committer.commitJob(job, commits.toSeq)
      fs.create(success).close()
    } catch {
      case t: Throwable =>
        // each step runs even when an earlier one fails
        def attempt(step: => Unit): Unit = try step catch { case e: Throwable => t.addSuppressed(e) }
        attempt(committer.abortJob(job))
        attempt(published().filterNot(old.contains).foreach(fs.delete(_, true)))
        attempt(if (moved.map { case (p, to) => fs.rename(to, p) }.forall(identity)) fs.delete(superseded, true))
        throw t
    }
    // the new tables are published: a failure here leaves only the old
    // files behind, under `superseded`
    fs.delete(superseded, true)
  }

  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", true)
      .option("timestampFormat", TsFormat)
      .option("escape", "\"")
      .schema(schema)
      .csv(path)
}

