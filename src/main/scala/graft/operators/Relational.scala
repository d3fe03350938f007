package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator inventory (SURVEY.md §2.1–§2.10) over the driver's
  * star schema: scans, projections, predicate filters (incl. the reference's
  * case-insensitive LIKE, §2.2 P5), hash aggregation, distinct aggregation
  * over UNION ALL (§2.5 A2), group-by top-k (§2.7 O1), joins of every shape
  * the bridge-table schema implies (§2.8), window functions, set ops, date /
  * string / math / JSON / conditional expression coverage.
  *
  * Scale notes (100 TB): dimension joins broadcast explicitly; fact-fact
  * joins shuffle on their equi-keys and rely on AQE for skew; every
  * aggregation is a two-phase hash agg (partial map-side combine) by
  * construction; top-k is TakeOrderedAndProject (per-partition heaps, no full
  * sort); all scans project only needed columns so Parquet pushdown prunes.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** Exact sum of a DOUBLE column via DECIMAL(18,4), returned as DOUBLE. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  val defs: Seq[Q] = Seq(

    // ---- scans / projection / filter pushdown (S1/P1/P2) ----
    Q("q01_scan_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- case-insensitive LIKE — SQLite semantics (P5) ----
    Q("q02_filter_ilike",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_name ILIKE '%RED%' OR p_name ILIKE 'small%'
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      t(s, d, "part")
        .filter(col("p_name").ilike("%RED%") || col("p_name").ilike("small%"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    // ---- TPC-H Q1-shaped hash aggregation (A1/A3) ----
    Q("q03_agg_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base"),
          // product sums renormalize to scale 4 BEFORE the double cast
          // (exact: both factors carry <= 2 fractional digits, so the
          // scale-8 sum ends in 0000): a scale-8 decimal's integer
          // significand passes 2^53 around 9e7 and DuckDB's
          // decimal->double conversion double-rounds there, while scale-4
          // stays int64-exact and division-rounded in both engines
          sum(col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1) - col("l_discount").cast("decimal(18,4)")))
            .cast("decimal(18,4)").cast("double").as("sum_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- COUNT(DISTINCT) over UNION ALL — the reference's A2/U1 ----
    Q("q04_distinct_union",
      """SELECT count(DISTINCT uid) AS n_distinct, count(*) AS n_total
        |FROM (SELECT o_custkey AS uid FROM orders
        |      UNION ALL SELECT c_custkey AS uid FROM customer) alles""".stripMargin) { (s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("uid"))
        .union(t(s, d, "customer").select(col("c_custkey").as("uid")))
        .agg(countDistinct(col("uid")).as("n_distinct"), count(lit(1)).as("n_total"))
    },

    // ---- GROUP BY + top-k with deterministic tie-break (A3/O1) ----
    Q("q05_group_topk",
      """SELECT event_type, count(*) AS num FROM events
        |GROUP BY event_type ORDER BY num DESC, event_type LIMIT 3""".stripMargin) { (s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(count(lit(1)).as("num"))
        .orderBy(col("num").desc, col("event_type"))
        .limit(3)
    },

    // ---- GROUP BY + COUNT(DISTINCT col) (A4) ----
    Q("q06_group_count_distinct",
      """SELECT event_type, count(DISTINCT user_id) AS nusers, count(*) AS num
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("nusers"), count(lit(1)).as("num"))
        .orderBy("event_type")
    },

    // ---- star join over broadcast dimensions ----
    Q("q07_join_star",
      """SELECT r_name, count(*) AS ncust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("ncust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name")
    },

    // ---- fact-fact equi join (shuffle join; AQE handles skew at scale) ----
    Q("q08_join_fact",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          // scale-4 renormalization before the double cast — see q03
          sum(col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1) - col("l_discount").cast("decimal(18,4)")))
            .cast("decimal(18,4)").cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },

    // ---- anti join (tag-absence-style predicate, §2.8) ----
    Q("q09_join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(
          t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- semi join ----
    Q("q10_join_semi",
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    // ---- left outer join with null-aware aggregation ----
    Q("q11_join_left_outer",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  CAST(coalesce(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS spend
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice").cast("decimal(18,4)")), lit(0))
            .cast("double").as("spend"))
        .orderBy("c_custkey")
    },

    // ---- window: ranking within partition (§2.9) ----
    Q("q12_window_rank",
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) x
        |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    },

    // ---- window: running aggregate ----
    Q("q13_window_running_sum",
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
            .cast("double").as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- window: lag/lead ----
    Q("q14_window_lag",
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, d, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- multi-key sort + limit ----
    Q("q15_sort_multi",
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |ORDER BY o_orderpriority DESC, o_totalprice ASC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy(col("o_orderpriority").desc, col("o_totalprice").asc, col("o_orderkey"))
        .limit(100)
    },

    // ---- set ops: INTERSECT (distinct semantics, §2.6 extension) ----
    Q("q16_intersect",
      """SELECT c_custkey AS k FROM customer
        |INTERSECT SELECT o_custkey AS k FROM orders ORDER BY k""".stripMargin) { (s, d) =>
      t(s, d, "customer").select(col("c_custkey").as("k"))
        .intersect(t(s, d, "orders").select(col("o_custkey").as("k")))
        .orderBy("k")
    },

    // ---- set ops: EXCEPT ----
    Q("q17_except",
      """SELECT p_partkey AS k FROM part
        |EXCEPT SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 49
        |ORDER BY k""".stripMargin) { (s, d) =>
      t(s, d, "part").select(col("p_partkey").as("k"))
        .except(t(s, d, "lineitem").filter(col("l_quantity") > 49)
          .select(col("l_partkey").as("k")))
        .orderBy("k")
    },

    // ---- UNION (distinct) ----
    Q("q18_union_distinct",
      """SELECT k FROM (SELECT c_nationkey AS k FROM customer
        |UNION SELECT s_nationkey AS k FROM supplier) t ORDER BY k""".stripMargin) { (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .distinct()
        .orderBy("k")
    },

    // ---- date functions ----
    Q("q19_date_parts",
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin) { (s, d) =>
      t(s, d, "orders")
        .groupBy(
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("yr", "mo")
    },

    Q("q20_date_trunc",
      """SELECT date_trunc('day', l_shipdate) AS ship_day, count(*) AS n
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |GROUP BY 1 ORDER BY ship_day LIMIT 50""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .groupBy(date_trunc("day", col("l_shipdate")).as("ship_day"))
        .agg(count(lit(1)).as("n"))
        .orderBy("ship_day")
        .limit(50)
    },

    // ---- JSON extraction (events.props) ----
    Q("q21_json_extract",
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, d, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")
    },

    // ---- conditional expression / CASE WHEN bucketing ----
    Q("q22_case_bucket",
      """SELECT CASE WHEN l_quantity < 10 THEN 'low'
        |            WHEN l_quantity < 25 THEN 'mid' ELSE 'high' END AS bucket,
        |  count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .groupBy(
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 25, "mid")
            .otherwise("high").as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("bucket")
    },

    // ---- string functions ----
    Q("q23_string_funcs",
      """SELECT c_custkey, upper(c_mktsegment) AS seg_u,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  substr(c_name, 1, 8) AS pref,
        |  c_name || '#' || c_mktsegment AS tagged
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      t(s, d, "customer")
        .select(
          col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_u"),
          length(col("c_name")).as("name_len"),
          substring(col("c_name"), 1, 8).as("pref"),
          concat(col("c_name"), lit("#"), col("c_mktsegment")).as("tagged"))
        .orderBy("c_custkey")
    },

    // ---- math functions (correctly-rounded IEEE ops only) ----
    Q("q24_math_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_quantity) AS BIGINT) AS q_floor,
        |  CAST(ceil(l_quantity) AS BIGINT) AS q_ceil,
        |  abs(l_quantity - 25.0) AS q_dev, sqrt(l_extendedprice) AS p_sqrt,
        |  l_discount * l_discount AS d_sq
        |FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).as("q_floor"),
          ceil(col("l_quantity")).as("q_ceil"),
          abs(col("l_quantity") - 25.0).as("q_dev"),
          sqrt(col("l_extendedprice")).as("p_sqrt"),
          (col("l_discount") * col("l_discount")).as("d_sq"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- ROLLUP (grouping sets) ----
    Q("q25_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // ---- pivot (conditional aggregation) ----
    Q("q26_pivot",
      """SELECT user_id % 10 AS user_bucket,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin) { (s, d) =>
      t(s, d, "events")
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("click", "view", "purchase"))
        .orderBy("user_bucket")
    },

    // ---- summary stats (exact only: min/max/count) ----
    Q("q27_summary_stats",
      """SELECT min(l_quantity) AS min_q, max(l_quantity) AS max_q,
        |  min(l_shipdate) AS min_d, max(l_shipdate) AS max_d,
        |  count(*) AS n, count(DISTINCT l_partkey) AS nparts
        |FROM lineitem""".stripMargin) { (s, d) =>
      t(s, d, "lineitem")
        .agg(
          min("l_quantity").as("min_q"), max("l_quantity").as("max_q"),
          min("l_shipdate").as("min_d"), max("l_shipdate").as("max_d"),
          count(lit(1)).as("n"), countDistinct(col("l_partkey")).as("nparts"))
    }
  )
}
