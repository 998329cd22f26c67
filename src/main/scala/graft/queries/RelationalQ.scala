package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core._
import graft.operators._

import Fixtures._

/** Queries: joins / aggregations / windows / sorts / set ops. */
object RelationalQ extends Family {

  Q("j1_join_agg", (s, dir) => {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name"))
      .agg(round(sum(li("l_extendedprice") * (lit(1.0) - li("l_discount"))), 2).as("revenue"),
        countDistinct(o("o_orderkey")).as("n_orders"))
  },
    """SELECT n.n_name, round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
      |       count(DISTINCT o.o_orderkey) AS n_orders
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name""".stripMargin)

  // TPC-H Q3 shape: selective filters on all three tables, 3-way
  // join, grouped revenue, top-10 — the full declare-and-let-
  // Catalyst-plan pipeline (pushdown + join order + partial agg +
  // WindowGroupLimit-free top-k via sort/limit)
  Q("q3_shipping_priority", (s, dir) => {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp_ntz"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp_ntz"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(li("l_orderkey"), o("o_orderdate"), o("o_orderpriority"))
      .agg(round(sum(li("l_extendedprice") * (lit(1.0) - li("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  },
    """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
      |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1996-01-01'
      |  AND l.l_shipdate > TIMESTAMP '1996-01-01'
      |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l.l_orderkey ASC LIMIT 10""".stripMargin)

  // TPC-H Q5 shape: six-way join through region->nation->customer->
  // orders->lineitem->supplier with the local-supplier predicate
  // (c_nationkey == s_nationkey); small dims broadcast, the fact
  // join shuffles once on orderkey
  Q("q5_local_supplier_volume", (s, dir) => {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz"))
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(round(sum(li("l_extendedprice") * (lit(1.0) - li("l_discount"))), 2)
        .as("revenue"))
  },
    """SELECT n.n_name,
      |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      | AND c.c_nationkey = s.s_nationkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n.n_name""".stripMargin)

  // TPC-H Q4 shape: EXISTS correlated subquery planned as a
  // left-semi join (never a count-materializing inner join)
  Q("q4_order_priority", (s, dir) => {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz"))
      .filter(col("o_orderdate") < lit("1996-07-01").cast("timestamp_ntz"))
    val li = t(s, dir, "lineitem")
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  },
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin)

  // NOT EXISTS as a left-anti join: segments' customers with no
  // order in the window
  Q("anti1_inactive_customers", (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_inactive"))
  },
    """SELECT c_mktsegment, count(*) AS n_inactive
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '1996-01-01')
      |GROUP BY c_mktsegment""".stripMargin)

  // TPC-H Q13 shape: left outer join preserving order-less customers,
  // then the distribution of per-customer order counts (double agg)
  Q("q13_customer_distribution", (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  },
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |      GROUP BY c.c_custkey)
      |GROUP BY c_count""".stripMargin)

  // rank-family window breadth: ntile/percent_rank/cume_dist over
  // one ordered partition spec
  Q("w4_window_ranks", (s, dir) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(10).over(w).cast("long").as("decile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
  },
    """SELECT o_orderkey, o_orderpriority,
      |       ntile(10) OVER w AS decile,
      |       round(percent_rank() OVER w, 6) AS pct_rank,
      |       round(cume_dist() OVER w, 6) AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin)

  // lag/lead navigation: per-customer order timeline with gap days
  // to the previous order and the next order's value
  Q("w5_lag_lead", (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("long").as("days_since_prev"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        round(first(col("o_totalprice")).over(w), 2).as("first_price"))
  },
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       CAST(date_diff('day', lag(o_orderdate, 1) OVER w, o_orderdate)
      |            AS BIGINT) AS days_since_prev,
      |       round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
      |       round(first_value(o_totalprice) OVER w, 2) AS first_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin)

  // TPC-H Q6 shape (forecasting revenue change): tight range
  // predicates only — every filter must reach the parquet scan
  Q("q6_forecast_revenue", (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz"))
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .filter(col("l_discount").between(0.02, 0.06))
      .filter(col("l_quantity") < 10)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue")),
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.06
      |  AND l_quantity < 10""".stripMargin)

  // TPC-H Q12 shape (priority by line status): two-level CASE
  // aggregation — counts of urgent vs non-urgent orders per
  // lineitem group after a join
  Q("q12_priority_count", (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz"))
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("low_line_count")),
    """SELECT l.l_returnflag, l.l_linestatus,
      |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2""".stripMargin)

  // GROUPING SETS through the SQL surface (DataFrame API exposes
  // only rollup/cube); grouping_id() disambiguates the null rows
  Q("gs1_grouping_sets", (s, dir) => {
    t(s, dir, "lineitem").createOrReplaceTempView("gs1_lineitem")
    s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM gs1_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""")
  },
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
      |                        (l_returnflag, l_linestatus))""".stripMargin)

  Q("agg1_pricing_summary", (s, dir) => {
    // TPC-H Q1 shape: filter pushdown + grouped aggregates
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  },
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      |       round(avg(l_quantity), 4) AS avg_qty,
      |       round(avg(l_discount), 4) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin)

  Q("agg2_distinct", (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders")),
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority""".stripMargin)

  Q("w1_window_topn", (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  },
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) WHERE rn = 1""".stripMargin)

  Q("w2_window_running", (s, dir) => {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .withColumn("running_qty", round(sum("l_quantity").over(w), 2))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
  },
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |       round(sum(l_quantity) OVER (PARTITION BY l_suppkey
      |         ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
      |FROM lineitem""".stripMargin)

  Q("sort1_topk", (s, dir) =>
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice"),
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)

  Q("set1_symmetric_difference", (s, dir) => {
    val o = t(s, dir, "orders")
    val y94 = o.filter(year(col("o_orderdate")) === 1994).select("o_custkey").distinct()
    val y95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey").distinct()
    y94.except(y95).unionAll(y95.except(y94))
  },
    """(SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1994
      | EXCEPT
      | SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
      |UNION ALL
      |(SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      | EXCEPT
      | SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1994)""".stripMargin)
}
