package graft

import graft.osm.OsmIngest
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `OsmIngest.runEtl` as a whole: one read of the XML in parallel splits,
  * and a failure path that leaves no sink running and no cache behind. */
class OsmEtlSpec extends SparkTestBase {

  private def fixture = getClass.getResource("/osm/fixture.osm").getPath

  test("a failing sink: runEtl waits for every sink, rethrows, and releases " +
    "the cached scan") {
    // a regular file where the output directory should be: no sink can
    // create its table directory under it
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
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (Option(e.taskMetrics).exists(_.inputMetrics.bytesRead > 0)) inputTasks(e.stageId) += 1
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerSeen.countDown()
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
    val bytesRead = try {
      val before = fileBytesRead()
      OsmIngest.runEtl(spark, f.toString, new java.io.File(dir, "out").toString)
      val read = fileBytesRead() - before
      // one queue delivers events in order: once the marker job's start
      // arrives, every task of runEtl has been counted
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
      read
    } finally {
      sc.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    listener.synchronized {
      assert(inputTasks.values.max > 1, s"input tasks per stage: $inputTasks")
    }
    assert(bytesRead <= 1.2 * size, s"read $bytesRead bytes of a $size-byte file")
  }
}
