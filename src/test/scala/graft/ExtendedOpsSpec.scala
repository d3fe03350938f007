package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** As-of join semantics + sketch accuracy. */
class ExtendedOpsSpec extends SparkTestBase {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("asOf: picks the latest prior right row, ties match, no-prior is null") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3")) // user 2 has no prior click
      .toDF("user_id", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100L),
      (1L, ts("2024-01-01 10:00:00"), 101L), // tie with p1 -> matches (>=)
      (1L, ts("2024-01-01 11:00:00"), 102L),
      (2L, ts("2024-01-01 23:00:00"), 103L)) // after p3 -> not matched
      .toDF("user_id", "ts", "click_id")
    val out = AsOfJoin.asOf(left, right, "user_id", "user_id", "ts", "ts",
        Seq("click_id" -> "click_id"))
      .orderBy("name")
      .collect().map(r => (r.getAs[String]("name"), Option(r.get(r.fieldIndex("click_id")))))
    assert(out.toSeq === Seq(
      ("p1", Some(101L)), ("p2", Some(102L)), ("p3", None)))
  }

  test("asOf: null right timestamps never match (window and merge forms agree)") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (2L, ts("2024-01-01 09:00:00"), "p2"))
      .toDF("user_id", "ts", "name")
    // user 2's ONLY right row has a null ts: under ASOF (ts_r <= ts_l) it
    // can never match — but NULLS FIRST window ordering would sort it
    // before everything and leak click 200 into p2 if left unfiltered
    val right = Seq(
      (1L, Some(ts("2024-01-01 09:30:00")), 100L),
      (1L, None, 199L),
      (2L, None, 200L))
      .toDF("user_id", "ts", "click_id")
    val payload = Seq("click_id" -> "click_id")
    val composed = AsOfJoin.asOf(left, right, "user_id", "user_id", "ts", "ts", payload)
      .orderBy("name")
      .collect().map(r => (r.getAs[String]("name"), Option(r.get(r.fieldIndex("click_id")))))
    assert(composed.toSeq === Seq(("p1", Some(100L)), ("p2", None)))
    val merged = AsOfJoin.asOfMerge(left, right, "user_id", "user_id", "ts", "ts", payload)
      .orderBy("name")
      .collect().map(r => (r.getAs[String]("name"), Option(r.get(r.fieldIndex("click_id")))))
    assert(merged.toSeq === composed.toSeq)
  }

  test("asOfMerge (custom physical op) semantics match the crafted fixture") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3"))
      .toDF("user_id", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100L),
      (1L, ts("2024-01-01 10:00:00"), 101L), // tie -> matches (>=)
      (1L, ts("2024-01-01 11:00:00"), 102L),
      (2L, ts("2024-01-01 23:00:00"), 103L)) // after p3 -> not matched
      .toDF("user_id", "ts", "click_id")
    val out = AsOfJoin.asOfMerge(left, right, "user_id", "user_id", "ts", "ts",
        Seq("click_id" -> "click_id"))
      .orderBy("name")
      .collect().map(r => (r.getAs[String]("name"), Option(r.get(r.fieldIndex("click_id")))))
    assert(out.toSeq === Seq(
      ("p1", Some(101L)), ("p2", Some(102L)), ("p3", None)))
  }

  test("asOfMerge equals the composed window form on the events fixture") {
    val ev = Tables.t(spark, Sf, "events")
    val l = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val r = ev.filter(col("event_type") === "click")
    val payload = Seq("event_id" -> "click_id", "ts" -> "click_ts")
    val composed = AsOfJoin.asOf(l, r, "user_id", "user_id", "ts", "ts", payload)
      .collect().map(_.toSeq).toSet
    val merged = AsOfJoin.asOfMerge(l, r, "user_id", "user_id", "ts", "ts", payload)
      .collect().map(_.toSeq).toSet
    assert(merged === composed)
    assert(merged.nonEmpty)
  }

  test("asOfMerge == composed form on random data with duplicate (key, ts)") {
    val rnd = new scala.util.Random(11)
    // small key/ts domains force collisions: duplicate timestamps per key
    // on BOTH sides exercise the tie-break paths
    val left = Seq.tabulate(300)(i =>
      (rnd.nextInt(8).toLong, ts(f"2024-01-01 10:${rnd.nextInt(10)}%02d:00"), i.toLong))
      .toDF("user_id", "ts", "purchase_id")
    val right = Seq.tabulate(300)(i =>
      (rnd.nextInt(8).toLong, ts(f"2024-01-01 10:${rnd.nextInt(10)}%02d:00"), i.toLong))
      .toDF("user_id", "ts", "click_id")
    val payload = Seq("click_id" -> "click_id")
    val composed = AsOfJoin.asOf(left, right, "user_id", "user_id", "ts", "ts", payload)
      .collect().map(_.toSeq).toSet
    val merged = AsOfJoin.asOfMerge(left, right, "user_id", "user_id", "ts", "ts", payload)
      .collect().map(_.toSeq).toSet
    assert(merged === composed)
    // determinism: a second run of each produces identical rows
    val merged2 = AsOfJoin.asOfMerge(left, right, "user_id", "user_id", "ts", "ts", payload)
      .collect().map(_.toSeq).toSet
    assert(merged2 === merged)
  }

  test("asOf plan: exactly one exchange (single shuffle by key)") {
    // the plan of a multi-split events table (one split is one task)
    val p = multiSplit() {
      val ev = Tables.t(spark, Sf, "events")
      val df = AsOfJoin.asOf(
        ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "click"),
        "user_id", "user_id", "ts", "ts", Seq("event_id" -> "click_id"))
      df.collect()
      // AQE's toString echoes the plan twice (Final + Initial) — count only
      // the final plan section
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, p)
  }

  test("TopKAggregator matches window row_number top-k per group") {
    import graft.functions.TopKAggregator
    val ev = Tables.t(spark, Sf, "events")
      .select(col("event_type"), col("value"), col("event_id"))
    val topk = new TopKAggregator(3).toColumn
    val viaAgg = ev.as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(topk.name("top"))
      .collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    val viaWindow = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getAs[Int]("rn"))
        .map(r => (r.getDouble(1), r.getLong(2))).toSeq).toMap
    assert(viaAgg.keySet === viaWindow.keySet)
    viaAgg.foreach { case (k, v) => assert(v.toSeq === viaWindow(k), k) }
  }

  test("percentiles are ordered and bounded per group") {
    val rows = SparkEntry.queries("q63_percentiles")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, q25, med, q75, mx) = (r.getAs[Double]("min_q"), r.getAs[Double]("q25"),
        r.getAs[Double]("median_qty"), r.getAs[Double]("q75"), r.getAs[Double]("max_q"))
      assert(mn <= q25 && q25 <= med && med <= q75 && q75 <= mx, r.toString)
    }
  }

  test("approx_count_distinct lands within 5% of exact on events") {
    // q57 now emits the tolerance verdict itself (oracle-gated); assert it
    val rows = SparkEntry.queries("q57_approx_distinct")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("approx_ok"),
        s"sketch out of tolerance for ${r.getAs[String]("event_type")}: " +
          s"exact=${r.getAs[Long]("exact_users")}")
    }
  }

  test("asOfForward: earliest at-or-after match; null left ts/key yield null payload") {
    val left = Seq(
      (java.lang.Long.valueOf(1L), ts("2024-01-01 10:00:00"), "p1"),
      (java.lang.Long.valueOf(1L), null.asInstanceOf[Timestamp], "pNullTs"),
      (null.asInstanceOf[java.lang.Long], ts("2024-01-01 10:00:00"), "pNullKey"),
      (java.lang.Long.valueOf(2L), ts("2024-01-01 09:00:00"), "pNoNext"))
      .toDF("user_id", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L), // same instant: matches (>=)
      (1L, ts("2024-01-01 11:00:00"), 101L),
      (2L, ts("2024-01-01 08:00:00"), 200L)) // strictly before: no match
      .toDF("user_id", "ts", "click_id")
    val out = AsOfJoin.asOfForward(left, right, "user_id", "user_id", "ts", "ts",
        Seq("click_id" -> "next_id"))
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[java.lang.Long]("next_id"))).toMap
    assert(out("p1") === Some(100L))       // same-instant right matches
    assert(out("pNullTs") === None)        // NULL ts never compares true
    assert(out("pNullKey") === None)       // NULL key equality never matches
    assert(out("pNoNext") === None)        // only earlier rows exist
  }

  test("events fixture: at most one click per (user_id, ts) — the q53/q169 " +
    "ASOF tie-break assumption (DuckDB's duplicate-match-ts order is " +
    "unspecified, so the hash gates require the fixture to have no ties)") {
    import org.apache.spark.sql.functions._
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val dups = Tables.t(spark, sf, "events")
        .filter(col("event_type") === "click")
        .groupBy("user_id", "ts").count().filter(col("count") > 1).count()
      assert(dups === 0L, s"duplicate (user_id, ts) click rows at $sf")
    }
  }

  test("TopKAggregator orders NaN largest and ties -0.0 with 0.0 (SQL DESC)") {
    import graft.functions.TopKAggregator
    val topk = new TopKAggregator(3)
    val merged = topk.finish(Seq(
      (0.0, 5L), (-0.0, 3L), (Double.NaN, 9L), (1.5, 1L)))
    // SQL ORDER BY value DESC, id: NaN first, then 1.5, then the two
    // zeros tie and break by id (3 before 5 — sign of zero irrelevant)
    assert(merged.map(_._2) === Seq(9L, 1L, 3L))
  }
}
