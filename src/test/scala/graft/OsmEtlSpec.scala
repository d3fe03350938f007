package graft

import graft.osm.{OsmCsv, OsmIngest, OsmModel, OsmXml, Shaper}
import java.io.{File, IOException}
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.HadoopMapReduceCommitProtocol
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `OsmIngest.runEtl` as a whole: one job that reads the XML once in
  * parallel splits, one per core, and writes all five tables, the same
  * bytes as a per-table `OsmCsv.write`, published all together or not at
  * all, also when a task is retried or the job commit fails. */
class OsmEtlSpec extends SparkTestBase {

  private def fixture = getClass.getResource("/osm/fixture.osm").getPath

  /** Every file under `dir`, by relative path, with its bytes. */
  private def tree(dir: File): Map[String, Seq[Byte]] = {
    val root = dir.toPath
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  /** A table's part files, concatenated in part order. */
  private def parts(tableDir: File): Seq[Byte] =
    tableDir.listFiles().map(_.getName).filter(_.startsWith("part-")).sorted
      .flatMap(n => Files.readAllBytes(new File(tableDir, n).toPath)).toSeq

  test("runEtl on an unusable outDir fails with no job or rows left") {
    // a regular file where the output directory should be: the pass cannot
    // set up its job's output under it
    val out = Files.createTempFile("graft-etl", ".notadir").toFile
    out.deleteOnExit()
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    val rdds = sc.getPersistentRDDs.keySet
    intercept[Exception](OsmIngest.runEtl(spark, fixture, out.toString))
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a sink job is still running")
    val scan = OsmIngest.readOsm(spark, fixture).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    assert(cm.lookupCachedData(scan).isEmpty, "the raw scan stayed cached")
    assert(sc.getPersistentRDDs.keySet === rdds, "persisted blocks stayed behind")
  }

  test("a pass that fails in a task leaves the last good tables intact") {
    val out = Files.createTempDirectory("graft-etl-atomic").toFile
    out.deleteOnExit()
    OsmIngest.runEtl(spark, fixture, out.toString)
    val good = tree(out)
    assert(OsmModel.columnOrder.keys.forall(t => good.keys.exists(_.startsWith(s"$t/part-"))))
    // the reader refuses an osmChange file inside the task that parses it
    val change = Files.createTempFile("graft-etl-change", ".osm").toFile
    change.deleteOnExit()
    Files.writeString(change.toPath, "<?xml version=\"1.0\"?>\n<osmChange version=\"0.6\">\n" +
      "<create>\n<node id=\"1\" lat=\"52.1\" lon=\"4.1\"/>\n</create>\n</osmChange>\n")
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.keySet
    val e = intercept[Exception](OsmIngest.runEtl(spark, change.toString, out.toString))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("osmChange")), e.toString)
    assert(tree(out) === good, "the failed pass changed the published tables")
    assert(!Files.walk(out.toPath).iterator().asScala.exists(_.getFileName.toString == "_temporary"))
    assert(sc.getPersistentRDDs.keySet === rdds, "persisted blocks stayed behind")
    // job ends reach the status store through the listener bus
    eventually(timeout(30.seconds)) {
      assert(sc.statusTracker.getActiveJobIds.isEmpty, "a job is still running")
    }
  }

  test("runEtl writes each table's bytes exactly as OsmCsv.write does") {
    val dir = Files.createTempDirectory("graft-etl-bytes").toFile
    dir.deleteOnExit()
    // an empty file has no splits: both writers give a header-only file
    val empty = new File(dir, "empty.osm")
    assert(empty.createNewFile())
    // Both writers must read the same splits to write the same part files.
    // runEtl sizes its own splits (one per core, at most maxPartitionBytes),
    // so these settings make Spark's sizing give the fixture runEtl's 16 kB
    // splits; the last one holds no table's row and writes no file.
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, 16384L))
    try for (xml <- Seq(fixture, empty.toString)) {
      val etl = new File(dir, s"etl-${new File(xml).getName}")
      OsmIngest.runEtl(spark, xml, etl.toString)
      val n = OsmIngest.readNodesRaw(spark, xml)
      val w = OsmIngest.readWaysRaw(spark, xml)
      for ((table, df) <- Seq("nodes" -> OsmIngest.nodes(n), "node_tags" -> OsmIngest.nodeTags(n),
             "ways" -> OsmIngest.ways(w), "way_tags" -> OsmIngest.wayTags(w),
             "way_nodes" -> OsmIngest.wayNodes(w))) {
        val one = new File(dir, s"$table-${new File(xml).getName}")
        OsmCsv.write(df, one.toString, table)
        val got = parts(new File(etl, table))
        assert(got.nonEmpty, s"$xml $table")
        assert(got === parts(one), s"$xml $table")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The jobs started while `body` runs (job id -> its stages) and the
    * ends of every task, seen by a SparkListener. */
  private def jobsOf(body: => Unit): (Map[Int, Seq[Int]], Seq[SparkListenerTaskEnd]) = {
    val sc = spark.sparkContext
    val marker = s"osm-etl-marker-${java.util.UUID.randomUUID}"
    val markerSeen = new CountDownLatch(1)
    val jobs = mutable.Map[Int, Seq[Int]]()
    val ends = mutable.Buffer[SparkListenerTaskEnd]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { ends += e }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
        else synchronized { jobs(e.jobId) = e.stageIds }
    }
    sc.addSparkListener(listener)
    try {
      body
      // one queue delivers events in order: once the marker job's start
      // arrives, every task of `body` has been counted
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
    } finally sc.removeSparkListener(listener)
    listener.synchronized((jobs.toMap, ends.toSeq))
  }

  test("runEtl reads the XML once, in more than one task") {
    // ~4 MB of nodes and ways: with no split setting, 4 splits on local[4]
    val dir = Files.createTempDirectory("graft-etl-once").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "big.osm")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm version=\"0.6\">")
    for (i <- 1 to 20000) {
      w.println(s"""  <node id="$i" lat="52.${i % 1000}" lon="4.${i % 997}" user="ałice" """ +
        s"""uid="${i % 50}" version="1" changeset="${i * 3}" timestamp="2016-01-01T00:00:00Z">""")
      w.println(s"""    <tag k="name" v="Café $i"/>\n  </node>""")
    }
    for (i <- 1 to 2000) {
      w.println(s"""  <way id="$i" user="bob" uid="7" version="2" changeset="$i" timestamp="2016-01-01T00:00:00Z">""")
      w.println(s"""    <nd ref="$i"/>\n    <nd ref="${i + 1}"/>\n    <tag k="highway" v="path"/>\n  </way>""")
    }
    w.println("</osm>")
    w.close()
    val size = f.length()

    val sc = spark.sparkContext
    // Bytes read from the file come from Hadoop's file-system counters, not
    // the tasks' input bytes: Spark adds a cached block's size to the input
    // bytes of every task that reads it, so a pass that re-read cached rows
    // would not show in the input bytes.
    def fileBytesRead(): Long = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    val cm = spark.sharedState.cacheManager
    val noCache = cm.isEmpty
    val rdds = sc.getPersistentRDDs.keySet
    val splits = OsmIngest.splits(spark, f.toString).length
    val before = fileBytesRead()
    val (jobs, ends) = jobsOf(OsmIngest.runEtl(spark, f.toString, new File(dir, "out").toString))
    val bytesRead = fileBytesRead() - before
    val inputTasks = ends.count(e => Option(e.taskMetrics).exists(_.inputMetrics.bytesRead > 0))
    assert(inputTasks > 1, s"input tasks: $inputTasks")
    // one job: task i parses split i and writes split i of every table
    assert(jobs.size === 1, s"jobs started: $jobs")
    val tasks = ends.count(e => jobs.values.head.contains(e.stageId))
    assert(tasks === splits)
    assert(tasks === 4)
    assert(bytesRead <= 1.2 * size, s"read $bytesRead bytes of a $size-byte file")
    val scan = OsmIngest.readOsm(spark, f.toString).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    assert(cm.lookupCachedData(scan).isEmpty, "the raw scan was cached")
    if (noCache) assert(cm.isEmpty, "runEtl added a CacheManager entry")
    assert(sc.getPersistentRDDs.keySet === rdds, "persisted blocks stayed behind")
  }

  test("runEtl's tasks report the data rows and bytes they write") {
    val out = Files.createTempDirectory("graft-etl-metrics").toFile
    out.deleteOnExit()
    val (_, ends) = jobsOf(OsmIngest.runEtl(spark, fixture, out.toString))
    val n = OsmIngest.readNodesRaw(spark, fixture)
    val w = OsmIngest.readWaysRaw(spark, fixture)
    val rows = Seq(OsmIngest.nodes(n), OsmIngest.nodeTags(n), OsmIngest.ways(w),
      OsmIngest.wayTags(w), OsmIngest.wayNodes(w)).map(_.count()).sum
    assert(ends.map(_.taskMetrics.outputMetrics.recordsWritten).sum === rows)
    val fileBytes = OsmModel.columnOrder.keys.toSeq.map(t => parts(new File(out, t)).length.toLong).sum
    assert(ends.map(_.taskMetrics.outputMetrics.bytesWritten).sum === fileBytes)
  }

  test("a failed job commit leaves the last good tables intact") {
    val out = Files.createTempDirectory("graft-etl-commit").toFile
    out.deleteOnExit()
    OsmIngest.runEtl(spark, fixture, out.toString)
    val good = tree(out)
    assert(good.contains("_SUCCESS"))
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.keySet
    val key = "spark.sql.sources.commitProtocolClass"
    val saved = spark.conf.getOption(key)
    // one commit fails before it publishes anything, one after it has
    // published every new file
    for (protocol <- Seq(classOf[FailingCommitJob], classOf[FailingAfterCommitJob])) {
      spark.conf.set(key, protocol.getName)
      val e = try intercept[Exception](OsmIngest.runEtl(spark, fixture, out.toString))
        finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => String.valueOf(x.getMessage).contains("injected")), e.toString)
      assert(tree(out) === good, s"${protocol.getSimpleName} changed the published tables")
    }
    assert(sc.getPersistentRDDs.keySet === rdds, "persisted blocks stayed behind")
  }

  test("a retried task writes the same tables as a clean pass") {
    val dir = Files.createTempDirectory("graft-etl-retry").toFile
    dir.deleteOnExit()
    val r = ChildJvm.run("graft.EtlRetryCheck", fixture, dir.toString)
    assert(r.exitCode === 0, r.err)
    val Line = """retry thrown=1 same=true parts=(\d+)/(\d+) temporary=false""".r
    val got = r.out.linesIterator.collectFirst { case Line(clean, retried) => (clean, retried) }
    assert(got.exists { case (clean, retried) => clean == retried }, r.out + r.err)
  }

  test("a shaper that is not row-at-a-time is refused") {
    val none = spark.createDataFrame(java.util.List.of[Row](), OsmXml.schema)
    val e = intercept[IllegalArgumentException](Shaper(OsmIngest.nodes(none).orderBy("id")))
    assert(e.getMessage.contains("found Sort"), e.getMessage)
  }
}

/** A commit protocol whose job commit fails before it publishes anything. */
class FailingCommitJob(jobId: String, path: String, dynamic: Boolean)
    extends HadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit =
    throw new IOException("injected commitJob failure")
}

/** A commit protocol whose job commit fails after it has published. */
class FailingAfterCommitJob(jobId: String, path: String, dynamic: Boolean)
    extends HadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(job, commits)
    throw new IOException("injected failure after commitJob")
  }
}

/** A commit protocol that fails the first attempt of partition 1 in its
  * task commit. */
class FailFirstCommitTask(jobId: String, path: String, dynamic: Boolean)
    extends HadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitTask(tac: TaskAttemptContext): TaskCommitMessage = {
    val ctx = TaskContext.get()
    if (ctx.partitionId() == 1 && ctx.attemptNumber() == 0) {
      FailFirstCommitTask.thrown.incrementAndGet()
      throw new IOException("injected commitTask failure")
    }
    super.commitTask(tac)
  }
}

object FailFirstCommitTask {
  val thrown = new AtomicInteger()
}

/** Child-JVM half of the retry test: under `local[4,2]` (one retry per
  * task) a clean pass over `args(0)` and a pass whose partition 1 fails its
  * first task commit, compared table by table. */
object EtlRetryCheck {
  private def parts(table: File): Seq[File] =
    table.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4,2]").appName("graft-etl-retry")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val (clean, retried) = (new File(args(1), "clean"), new File(args(1), "retried"))
      OsmIngest.runEtl(spark, args(0), clean.toString)
      spark.conf.set("spark.sql.sources.commitProtocolClass", classOf[FailFirstCommitTask].getName)
      OsmIngest.runEtl(spark, args(0), retried.toString)
      val tables = OsmModel.columnOrder.keys.toSeq
      def bytes(out: File, t: String) =
        parts(new File(out, t)).flatMap(p => Files.readAllBytes(p.toPath).toSeq)
      val same = tables.forall(t => bytes(clean, t) == bytes(retried, t))
      val counts = Seq(clean, retried).map(o => tables.map(t => parts(new File(o, t)).length).sum)
      val temporary = Files.walk(retried.toPath).iterator().asScala
        .exists(_.getFileName.toString == "_temporary")
      println(s"retry thrown=${FailFirstCommitTask.thrown.get} same=$same " +
        s"parts=${counts.mkString("/")} temporary=$temporary")
    } finally spark.stop()
  }
}
