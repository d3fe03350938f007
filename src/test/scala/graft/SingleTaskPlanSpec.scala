package graft

import graft.osm.{OsmIngest, Workload}
import graft.plans.SingleTaskPlan
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

/** `SingleTaskPlan`: which plans it leaves alone, that it is idempotent
  * and installed the same way with or without `spark.sql.extensions`, and
  * that a query answers the same over one split as over many. */
class SingleTaskPlanSpec extends SparkTestBase {

  private val excluded = "spark.sql.optimizer.excludedRules" -> SingleTaskPlan.ruleName

  /** `df`'s logical plan optimized again, in a new Dataset (so nothing is
    * reused from `df`'s own optimization); without the rule, as in a
    * session that never installed it, when `rule` is false. Compare two
    * such plans canonicalized: each run makes its aliases with new ids. */
  private def optimizedRaw(df: DataFrame, rule: Boolean): LogicalPlan = {
    def run = PlanBridge.ofRows(spark, df.queryExecution.logical).queryExecution.optimizedPlan
    if (rule) run else withConf(excluded)(run)
  }

  private def optimized(df: DataFrame, rule: Boolean = true): LogicalPlan =
    optimizedRaw(df, rule).canonicalized

  private def singleTask(p: LogicalPlan): Boolean =
    p.exists { case Repartition(1, false, _) => true; case _ => false }

  private def lineitem = Tables.t(spark, Sf, "lineitem")

  test("a one-split aggregate gets one partition, and the rule applied twice equals once") {
    val df = lineitem.groupBy("l_returnflag").agg(sum("l_quantity").as("q")).orderBy("l_returnflag")
    assert(singleTask(optimized(df)), optimized(df))
    val without = optimizedRaw(df, rule = false)
    assert(!singleTask(without))
    val once = SingleTaskPlan(without)
    assert(once.canonicalized === optimized(df))
    assert(SingleTaskPlan(once) === once)
    val p = planString(df)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Coalesce 1"), p)
  }

  test("a shuffled self-join of a one-split table keeps its hash exchanges") {
    val l = lineitem.select(col("l_orderkey").as("a"), col("l_linenumber").as("n"))
    val r = lineitem.select(col("l_orderkey").as("b"), col("l_quantity").as("q"))
    for (hint <- Seq("merge", "shuffle_hash")) {
      val df = l.join(r.hint(hint), col("a") === col("b")).groupBy("n").agg(sum("q"))
      assert(optimized(df) === optimized(df, rule = false), hint)
      val p = planString(df)
      assert("Exchange hashpartitioning".r.findAllIn(p).size >= 2, p)
      assert(!p.contains("Coalesce 1"), p)
    }
    // no hint, and neither side under the broadcast threshold
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = l.join(r, col("a") === col("b")).groupBy("n").agg(sum("q"))
      assert(optimized(df) === optimized(df, rule = false))
      assert(planString(df).contains("SortMergeJoin"))
    }
  }

  test("a plan with a generator, or a repartition by column, is left alone") {
    val exploded = lineitem.select(col("l_orderkey"), explode(array(col("l_quantity"),
      col("l_discount"))).as("v")).groupBy("l_orderkey").agg(sum("v"))
    val repartitioned = lineitem.repartition(3, col("l_returnflag"))
      .groupBy("l_returnflag").agg(count(lit(1)))
    val rebalanced = lineitem.hint("rebalance").groupBy("l_returnflag").agg(count(lit(1)))
    for (df <- Seq(exploded, repartitioned, rebalanced)) {
      val p = optimized(df)
      assert(p === optimized(df, rule = false))
      assert(!singleTask(p), p)
    }
    // a plain coalesce is no shuffle: the plan still qualifies
    assert(singleTask(optimized(lineitem.coalesce(1).groupBy("l_returnflag").agg(count(lit(1))))))
  }

  test("a multi-split read plans as in a session without the rule") {
    multiSplit() {
      for (name <- Seq("q01_scan_filter_project", "q03_agg_pricing_summary", "q07_join_star",
          "q12_window_rank", "q28_key_split", "q29_phone_norm")) {
        val df = SparkEntry.queries(name)(spark, Sf)
        val p = optimized(df)
        assert(p === optimized(df, rule = false), name)
        assert(!singleTask(p), s"$name\n$p")
        assert(planString(df).contains("Exchange"), name)
      }
    }
  }

  test("a streaming query is untouched") {
    val dir = Files.createTempDirectory("graft-single-task-stream").toFile
    dir.deleteOnExit()
    lineitem.select("l_returnflag", "l_quantity").limit(50).write.mode("overwrite")
      .parquet(s"$dir/in")
    val stream = spark.readStream.schema("l_returnflag STRING, l_quantity DOUBLE")
      .parquet(s"$dir/in").groupBy("l_returnflag").agg(sum("l_quantity").as("q"))
    val analyzed = stream.queryExecution.analyzed
    assert(SingleTaskPlan(analyzed) eq analyzed)
    val query = stream.writeStream.format("memory").queryName("single_task_stream")
      .outputMode("complete").start()
    try {
      query.processAllAvailable()
      val last = query.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(!singleTask(last.optimizedPlan), last.optimizedPlan)
      assert(last.executedPlan.toString.contains("Exchange"), last.executedPlan)
      assert(spark.table("single_task_stream").count() > 0)
    } finally query.stop()
  }

  test("a session built with GraftExtensions plans as one that installs at a read") {
    val path = s"$Sf/lineitem.parquet"
    val plans = Seq("extension", "read").map { how =>
      val r = ChildJvm.run("graft.SingleTaskPlanCheck", how, path)
      assert(r.exitCode === 0, r.err)
      r.out
    }
    assert(plans.head.contains("Coalesce 1"), plans.head)
    assert(!plans.head.contains("Exchange"), plans.head)
    assert(plans.head === plans(1))
  }

  /** Sorted rows of `df`, as strings. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Each query's sorted rows, and whether it was planned as one task. */
  private def answers(dfs: Seq[DataFrame]): Seq[(Seq[String], Boolean)] =
    dfs.map(df => (rows(df), singleTask(optimized(df))))

  private def sameOverManySplits(one: Seq[(Seq[String], Boolean)],
      many: Seq[(Seq[String], Boolean)]): Unit = {
    assert(one.forall(_._2), "a query over one split was not planned as one task")
    assert(!many.exists(_._2), "a query over many splits was planned as one task")
    assert(one.forall(_._1.nonEmpty))
    assert(one.map(_._1) === many.map(_._1))
  }

  test("the sql_mix star queries answer the same over one split and over many") {
    def run = answers(Seq("q01_scan_filter_project", "q03_agg_pricing_summary",
      "q07_join_star", "q12_window_rank", "q28_key_split", "q29_phone_norm")
      .map(SparkEntry.queries(_)(spark, Sf)))
    sameOverManySplits(run, multiSplit()(run))
  }

  test("the Readme queries answer the same over one split and over many") {
    val fixture = getClass.getResource("/osm/fixture.osm").getPath
    // the tables cached as perfbench's sql_mix caches them: a cache has as
    // many partitions as the scan it was built from
    def run: Seq[(Seq[String], Boolean)] = {
      val n = OsmIngest.readNodesRaw(spark, fixture)
      val w = OsmIngest.readWaysRaw(spark, fixture)
      val t = Seq(OsmIngest.nodes(n), OsmIngest.nodeTags(n), OsmIngest.ways(w),
        OsmIngest.wayTags(w)).map(_.cache())
      try {
        val Seq(nodes, tags, ways, wayTags) = t
        t.foreach(_.count())
        answers(Seq(Workload.distinctContributors(nodes, ways),
          Workload.nameLikeCount(tags, "%a%"),
          Workload.busiestPostcodes(tags.unionByName(wayTags), 5),
          Workload.topAmenities(tags, 5),
          Workload.valueShare(tags, "amenity", Seq("cafe", "restaurant"))) ++
          // Workload.tableCount is `count()`, which runs this plan
          t.map(_.groupBy().count()))
      } finally t.foreach(_.unpersist(blocking = true))
    }
    sameOverManySplits(run, multiSplit(bytes = 8192)(run))
  }

  private def planString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }
}

/** Child-JVM half of the extension test: the executed plan of one
  * aggregate over `args(1)`, expression and plan ids stripped, in a session
  * configured as the test session, which gets graft's planner additions
  * either from `spark.sql.extensions` (`args(0)` = "extension", reading
  * with a plain `spark.read`) or from the engine's read boundary ("read",
  * through `Tables`). */
object SingleTaskPlanCheck {
  def main(args: Array[String]): Unit = {
    val b = SparkSession.builder().master("local[4]").appName("graft-single-task")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (args(0) == "extension")
      b.config("spark.sql.extensions", "graft.plans.GraftExtensions") else b).getOrCreate()
    try {
      val t = if (args(0) == "extension") spark.read.parquet(args(1)) else Tables.parquet(spark, args(1))
      val df = t.filter(col("l_quantity") > 10).groupBy("l_returnflag")
        .agg(sum("l_quantity").as("q"), count(lit(1)).as("n")).orderBy("l_returnflag")
      val answer = df.collect().map(_.toString).mkString(",")
      println(df.queryExecution.executedPlan.toString
        .replaceAll("#\\d+L?|\\[plan_id=\\d+\\]", ""))
      println(answer)
    } finally spark.stop()
  }
}
