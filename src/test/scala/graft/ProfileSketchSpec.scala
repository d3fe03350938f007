package graft

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Count-min sketch semantics: the estimate is an upper bound for EVERY
  * key (not just the gated top-20), and collisions genuinely occur at the
  * gated width — so the q128 gate is exercising the interesting regime,
  * not a collision-free toy. */
class ProfileSketchSpec extends SparkTestBase {

  private def bucket(dep: Column, w: Column): Column =
    conv(substring(md5(concat(dep.cast("string"), lit(":"), w)), 1, 8),
      16, 10).cast("long") % 64

  test("count-min estimate >= true count for the ENTIRE vocabulary") {
    val tf = Tables.t(spark, Sf, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val withDepth = tf.select(col("w"), col("c"),
      explode(sequence(lit(0), lit(2))).as("d"))
    val cells = withDepth
      .groupBy(col("d"), bucket(col("d"), col("w")).as("b"))
      .agg(sum(col("c")).as("cnt"))
    val est = withDepth.withColumn("b", bucket(col("d"), col("w")))
      .join(cells, Seq("d", "b"))
      .groupBy(col("w"), col("c"))
      .agg(min(col("cnt")).as("cms"))
    assert(est.filter(col("cms") < col("c")).count() === 0)
    // at width 64 with a larger vocabulary, some bucket must collide —
    // the sketch is genuinely lossy, not a disguised exact count
    assert(est.filter(col("cms") > col("c")).count() > 0)
  }

  test("percentilesApprox production path: one two-phase agg, no per-group sort") {
    // the plan a multi-split corpus gets: another suite may have cached the
    // documents table in the shared session, as one partition
    spark.sharedState.cacheManager.clearCache()
    val p = multiSplit() {
      val df = graft.operators.Profile.percentilesApprox(
        Tables.t(spark, Sf, "documents"), "source", "n_chars", "doc_id",
        Seq(50, 90, 99))
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    // the production sketch must never rank a group: no Window, no Sort
    // below the aggregation — q115's exact rank formula is the oracle
    // twin, not the path that runs at 100 TB
    assert(!p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(p.contains("partial_percentile_approx") || p.contains("percentile_approx"), p)
    // and the sketch values stay inside the gated tolerance vs exact
    val verdicts = graft.operators.Profile.percentilesApprox(
        Tables.t(spark, Sf, "documents"), "source", "n_chars", "doc_id",
        Seq(50, 90, 99), withVerdict = true)
      .select("sketch_ok").collect().map(_.getBoolean(0))
    assert(verdicts.nonEmpty && verdicts.forall(identity))
  }

  // ---- q199 HLL properties the register-state hash gate can't express ----

  private def regMap(df: org.apache.spark.sql.DataFrame): Map[Int, Int] =
    df.select("reg", "maxrho").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap

  test("HLL estimate from the q199 registers lands within 10% at 10k cardinality") {
    import spark.implicits._
    val keys = spark.range(10000)
      .select(concat(lit("key_"), col("id")).as("w"))
    val regs = regMap(graft.operators.Profile.hllRegisters(keys, $"w"))
    val est = graft.operators.Profile.hllEstimate(regs)
    assert(math.abs(est - 10000.0) / 10000.0 < 0.10,
      s"HLL estimate off: $est vs 10000")
  }

  test("HLL registers are duplicate-invariant and max-merge distributively") {
    import spark.implicits._
    val keys = spark.range(5000)
      .select(concat(lit("key_"), col("id")).as("w"), (col("id") % 4).as("g"))
    val direct = regMap(graft.operators.Profile.hllRegisters(keys, $"w"))
    // duplicate-invariance: the sketch state ignores multiplicity
    val doubled = regMap(graft.operators.Profile.hllRegisters(
      keys.union(keys), $"w"))
    assert(doubled === direct)
    // distributivity: per-group sketches max-merge to the direct sketch —
    // the property that lets 1000 executors sketch independently and
    // combine driver-side
    val merged = (0 until 4)
      .map(g => regMap(graft.operators.Profile.hllRegisters(
        keys.filter($"g" === g), $"w")))
      .reduce { (a, b) =>
        (a.keySet ++ b.keySet)
          .map(k => k -> math.max(a.getOrElse(k, 0), b.getOrElse(k, 0))).toMap
      }
    assert(merged === direct)
  }
}
