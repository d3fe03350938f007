package graft

import graft.osm.{OsmCsv, OsmIngest, OsmModel}
import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `OsmIngest.runEtl` as a whole: one job that reads the XML once in
  * parallel splits and writes all five tables, the same bytes as a
  * per-table `OsmCsv.write`, published all together or not at all. */
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
    for (xml <- Seq(fixture, empty.toString)) {
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
    }
  }

  test("runEtl reads the XML once, in more than one task") {
    // ~4 MB of nodes and ways, read in 1 MB splits
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
    val marker = s"osm-etl-marker-${java.util.UUID.randomUUID}"
    val markerSeen = new CountDownLatch(1)
    val inputTasks = mutable.Map[Int, Int]().withDefaultValue(0) // stage -> tasks
    val jobStages = mutable.Map[Int, Seq[Int]]() // job -> its stages
    val tasks = mutable.Map[Int, Int]().withDefaultValue(0) // stage -> tasks
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        tasks(e.stageId) += 1
        if (Option(e.taskMetrics).exists(_.inputMetrics.bytesRead > 0)) inputTasks(e.stageId) += 1
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
        else synchronized { jobStages(e.jobId) = e.stageIds }
    }
    // Bytes read from the file come from Hadoop's file-system counters, not
    // the tasks' input bytes: Spark adds a cached block's size to the input
    // bytes of every task that reads it, so the four sinks that read the
    // cached scan would count as four more reads.
    def fileBytesRead(): Long = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, 1L << 20))
    sc.addSparkListener(listener)
    val cm = spark.sharedState.cacheManager
    val noCache = cm.isEmpty
    val rdds = sc.getPersistentRDDs.keySet
    val (bytesRead, splits) = try {
      val splits = OsmIngest.readOsm(spark, f.toString).rdd.getNumPartitions
      val before = fileBytesRead()
      OsmIngest.runEtl(spark, f.toString, new java.io.File(dir, "out").toString)
      val read = fileBytesRead() - before
      // one queue delivers events in order: once the marker job's start
      // arrives, every task of runEtl has been counted
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
      (read, splits)
    } finally {
      sc.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    listener.synchronized {
      assert(inputTasks.values.max > 1, s"input tasks per stage: $inputTasks")
      // one job: task i parses split i and writes split i of every table
      assert(jobStages.size === 1, s"jobs started: $jobStages")
      assert(jobStages.values.head.map(tasks).sum === splits, s"tasks per stage: $tasks")
    }
    assert(bytesRead <= 1.2 * size, s"read $bytesRead bytes of a $size-byte file")
    val scan = OsmIngest.readOsm(spark, f.toString).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    assert(cm.lookupCachedData(scan).isEmpty, "the raw scan was cached")
    if (noCache) assert(cm.isEmpty, "runEtl added a CacheManager entry")
    assert(sc.getPersistentRDDs.keySet === rdds, "persisted blocks stayed behind")
  }
}
