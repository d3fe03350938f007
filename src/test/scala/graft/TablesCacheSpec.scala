package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The per-session relation cache behind [[Tables.t]]: repeat reads are
  * free, every read is still an independent DataFrame, a rewrite is seen,
  * and no session is ever served another session's relation. Tables are
  * written to temp dirs, so the suite needs no fixture data. */
class TablesCacheSpec extends SparkTestBase {
  import TablesCacheSpec._

  private def items(rows: Int): DataFrame =
    spark.range(rows).select(col("id"), (col("id") / 3).cast("long").as("parent"))

  private def tableDir(rows: Int): String = {
    val dir = TempDirs.create("graft-tables").toString
    writeTable(items(rows), dir, "items")
    dir
  }

  /** Jobs launched while `body` runs, counted by a SparkListener. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-cache-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case `marker` => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // one queue delivers job starts in order: once the marker job's
      // start arrives, every job `body` launched has been counted
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a repeat Tables.t of the same table launches no Spark job") {
    val dir = tableDir(100)
    // the first read resolves the relation: its schema-inference job is
    // what the counter must see for the zero below to mean anything
    assert(jobsLaunchedBy(Tables.t(spark, dir, "items")) >= 1)
    assert(jobsLaunchedBy {
      Tables.t(spark, dir, "items")
      Tables.t(spark, dir, "items").schema
    } === 0)
  }

  test("a parquet stream over a resolved path starts without a Spark job, " +
    "for directory and single-file paths") {
    val dir = tableDir(20)
    val file = new java.io.File(s"$dir/items.parquet").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toString
    for (path <- Seq(s"$dir/items.parquet", file)) {
      val first = streaming.EventStreams.readParquetStream(spark, path)
      assert(jobsLaunchedBy(streaming.EventStreams.readParquetStream(spark, path)) === 0,
        path)
      assert(first.isStreaming, path)
      assert(first.schema.map(_.name) === Seq("id", "parent"), path)
    }
  }

  test("self-join and union of two Tables.t reads equal the same queries " +
    "over plain spark.read.parquet") {
    val dir = tableDir(100)
    def selfJoin(x: DataFrame, y: DataFrame) =
      x.join(y, x("id") === y("parent")).select(x("id"), y("id").as("child"))
    def unioned(x: DataFrame, y: DataFrame) =
      x.union(y.filter(col("id") % 2 === 0))
    Tables.t(spark, dir, "items") // resolve, so both reads below are hits
    val (a, b) = (Tables.t(spark, dir, "items"), Tables.t(spark, dir, "items"))
    val path = s"$dir/items.parquet"
    val (fa, fb) = (spark.read.parquet(path), spark.read.parquet(path))
    assert(relationOf(a) eq relationOf(b))
    // fresh attribute ids per read: the two sides are distinct relations
    // to the analyzer, exactly as two fresh reads are
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) & ids(b)).isEmpty)
    val joined = sorted(selfJoin(a, b))
    assert(joined.size === 100)
    assert(joined === sorted(selfJoin(fa, fb)))
    assert(sorted(unioned(a, b)) === sorted(unioned(fa, fb)))
    assert(unioned(a, b).count() === 150)
  }

  test("a table rewritten under the same path returns the new rows") {
    // directory layout: the rewrite replaces the directory (new mtime)
    val dir = tableDir(10)
    assert(Tables.t(spark, dir, "items").count() === 10)
    assert(Tables.t(spark, dir, "items").count() === 10)
    writeTable(items(25), dir, "items")
    assert(Tables.t(spark, dir, "items").count() === 25)
    assert(Tables.t(spark, dir, "items").agg(max("id")).head().getLong(0) === 24)

    // single-file layout (the fixtures' shape): the file is replaced
    val src = TempDirs.create("graft-tables-src").toString
    val single = TempDirs.create("graft-tables-single")
    def place(rows: Int): Unit = {
      writeTable(items(rows), src, "items")
      val part = new java.io.File(s"$src/items.parquet").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, single.resolve("items.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    place(7)
    assert(Tables.t(spark, single.toString, "items").count() === 7)
    place(40)
    assert(Tables.t(spark, single.toString, "items").count() === 40)
  }

  test("spark.newSession() never gets another session's relation") {
    val dir = tableDir(10)
    val other = spark.newSession()
    val mine = Tables.t(spark, dir, "items")
    val theirs = Tables.t(other, dir, "items")
    assert(relationOf(mine).sparkSession eq spark)
    assert(relationOf(theirs).sparkSession eq other)
    assert(relationOf(Tables.t(other, dir, "items")) eq relationOf(theirs))
    assert(relationOf(Tables.t(spark, dir, "items")) eq relationOf(mine))
    assert(theirs.count() === 10)
  }

  test("stopped-then-recreated sessions get their own relation and the " +
    "cache does not grow across 5 restarts") {
    // stopping a SparkContext would break the suites' shared session, so
    // the restarts run in a child JVM
    val dir = tableDir(100)
    val r = ChildJvm.run("graft.TablesRestartCheck", dir)
    assert(r.exitCode === 0, r.err)
    assert(r.out.linesIterator.contains("cached=1,1,1,1,1"), r.out + r.err)
  }

  test("events.ts is still TimestampType, on the first and a cached read") {
    val dir = TempDirs.create("graft-tables-events").toString
    writeTable(spark.range(3).select(col("id").as("event_id"),
      to_timestamp_ntz(concat(lit("2024-01-01 00:00:0"), col("id"))).as("ts")),
      dir, "events")
    val first = Tables.t(spark, dir, "events")
    val cached = Tables.t(spark, dir, "events")
    assert(first.schema("ts").dataType === TimestampType)
    assert(cached.schema("ts").dataType === TimestampType)
    assert(sorted(cached) === sorted(first))
    assert(cached.agg(max("ts")).head().getTimestamp(0).toInstant ===
      java.time.Instant.parse("2024-01-01T00:00:02Z"))
  }
}

object TablesCacheSpec {
  def writeTable(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get
}

/** Child-JVM half of the restart test: five sessions in turn read the
  * `items` table under `args(0)`; each must be served a relation bound to
  * itself, and the cache size after each read is printed. */
object TablesRestartCheck {
  def main(args: Array[String]): Unit = {
    val sizes = (1 to 5).map { _ =>
      val spark = SparkSession.builder().master("local[1]")
        .appName("graft-tables-restart")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      try {
        val df = Tables.t(spark, args(0), "items")
        require(TablesCacheSpec.relationOf(df).sparkSession eq spark,
          "served a relation bound to another session")
        require(df.count() == 100, "wrong row count")
        Tables.cachedRelations
      } finally spark.stop()
    }
    println(s"cached=${sizes.mkString(",")}")
  }
}
