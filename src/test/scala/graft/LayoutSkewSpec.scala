package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys: salted aggregation and salted join,
  * proven by exact-result equivalence at test scale. */
class LayoutSkewSpec extends SparkTestBase {

  test("salted aggregation matches plain aggregation exactly") {
    val ev = Tables.t(spark, Sf, "events")
    val salted = Skew.saltedCount(ev, "event_type", 16)
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    val plain = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(salted.toSeq === plain.toSeq)
  }

  test("salted join matches plain join row-for-row") {
    val li = Tables.t(spark, Sf, "lineitem").select("l_orderkey", "l_linenumber")
    val ord = Tables.t(spark, Sf, "orders").select("o_orderkey", "o_orderpriority")
    val salted = Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey", 8)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect().map(r => (r.getString(0), r.getLong(1)))
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(salted.toSeq === plain.toSeq)
  }
}
