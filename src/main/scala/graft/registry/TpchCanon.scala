package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H canon witnesses (Q1 / Q3 / Q5 / Q18 + the decorrelation trio
  * Q17 / Q20 / Q21) over the driver's tables.
  *
  * The reference's KPI job is the fact⋈dim+agg shape
  * (reference: dags/etl/kpi_processor.py:59-92); these generalize it
  * to the canonical decision-support forms: full-scan aggregate (Q1),
  * filtered multi-join top-k (Q3), snowflake (Q5), having-filtered
  * semi-join (Q18). Constants are adapted to the driver testdata's
  * 1995-2001 date range and quantity distribution; shapes and column roles
  * follow the public TPC-H spec (o_shippriority does not exist in this
  * schema — o_orderpriority stands in).
  *
  * Q17/Q20/Q21 are deliberately written through the SQL surface as
  * CORRELATED subqueries — the shapes where Catalyst plans go bad
  * silently. The witness is not just the answer but the plan:
  * PlanShapeSpec pins that each decorrelates to aggregate+join / semi+anti
  * hash joins, never a per-row nested-loop re-execution of the inner
  * query. Schema adaptations: Q17's container predicate → p_size; Q20 has
  * no partsupp table, so a supplier's all-time shipped quantity per part
  * stands in for ps_availqty (same correlated scalar-agg comparison
  * shape); Q21 has no receipt/commit dates, so l_returnflag = 'R' marks
  * the "failed" line (same exists + not-exists double self-correlation).
  *
  * Scale posture:
  *  - Q1 is one hash aggregate over a pushed-down scan (4-ish groups —
  *    partial aggregation collapses it map-side; no skew possible).
  *  - Q3 broadcasts the segment-filtered customer projection (a dim here;
  *    on a cluster where customer outgrows the broadcast threshold, drop
  *    the hint and AQE picks the shuffle join) and shuffle-joins
  *    orders⋈lineitem on the order key.
  *  - Q18 finds big orders with a map-side-combining aggregate and
  *    LEFT SEMI joins it back — never a full-table window; the semi join's
  *    build side is HAVING-filtered, answer-sized.
  */
object TpchCanon {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q1: pricing summary report. One scan, one hash agg; the shipdate
    // predicate reaches the parquet reader as a pushed filter.
    "tpch_q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2000-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Money.sumIntExact("l_quantity").as("sum_qty"),
          Money.sumMoneyExact("l_extendedprice").as("sum_base_price"),
          Money.revenueExact("l_extendedprice", "l_discount")
            .as("sum_disc_price"),
          Money.chargeExact("l_extendedprice", "l_discount", "l_tax")
            .as("sum_charge"),
          Money.avgIntExact("l_quantity").as("avg_qty"),
          Money.avgMoneyExact("l_extendedprice").as("avg_price"),
          expr("""round(cast(sum(cast(round(l_discount * 100) as bigint))
            as double) / 100.0 / count(*), 6)""").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // Q3: shipping priority — revenue of undelivered orders for one market
    // segment. Customer is the dim: filter, project to the single needed
    // column, and join PLAIN — the segment-filtered single-column frame is
    // kilobytes, so the planner's size estimate (and AQE at runtime) picks
    // BroadcastHashJoin on its own; PlanShapeSpec pins that the planner,
    // not a hint, makes that call. On a cluster where customer outgrows
    // the threshold it degrades gracefully to a shuffle join — exactly the
    // behavior a hard hint would have overridden. Orders⋈lineitem shuffles
    // on the order key. Revenue rounded BEFORE the order-by so both
    // engines rank identical values; l_orderkey breaks ties
    // deterministically.
    "tpch_q3_shipping_priority" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .where(col("o_orderdate") < lit("2000-03-15"))
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("2000-03-15"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(Money.revenueExact("l_extendedprice", "l_discount")
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    // Q5: local-supplier revenue — the full 6-table snowflake
    // (lineitem⋈orders⋈customer⋈supplier⋈nation⋈region). The big three
    // shuffle on their keys; the region-filtered nation list (≤ nations)
    // broadcasts; customer/supplier join plain and AQE broadcasts them
    // while they fit. The same-nation constraint rides the supplier join
    // as a second equi-key — no post-join filter, no extra shuffle. Date
    // predicate pushes to the orders scan.
    "tpch_q5_local_supplier" -> ((s, dir) => {
      val r = t(s, dir, "region")
        .where(col("r_name") === "ASIA").select(col("r_regionkey"))
      val n = t(s, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val su = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(Money.revenueExact("l_extendedprice", "l_discount")
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Q18: large-volume customers. The HAVING subquery is an aggregate +
    // LEFT SEMI join (build side is answer-sized), NOT a windowed filter —
    // a full-table window would shuffle and sort every order's lineitems.
    // Customer joins plain: a true dim at test scale (AQE broadcasts it),
    // and a shuffle join when it outgrows the threshold on a cluster.
    "tpch_q18_large_customers" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("__sq"))
        .where(col("__sq") > 300.0)
        .select(col("l_orderkey").as("o_orderkey"))
      val ord = t(s, dir, "orders")
        .join(big, Seq("o_orderkey"), "left_semi")
      ord.join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(Money.sumIntExact("l_quantity").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"),
          col("o_orderkey"))
        .limit(100)
    }),

    // Q17: small-quantity-order revenue — the correlated scalar-agg-per-row
    // shape. The inner avg(l_quantity) is correlated on l_partkey; Catalyst
    // must decorrelate it to ONE aggregate over lineitem grouped by
    // l_partkey joined back to the filtered fact — at 100 TB the difference
    // between that and a per-row re-scan is the whole query. p_size < 15
    // stands in for the spec's container predicate; 0.5x (vs the spec's
    // 0.2x) matches the synthetic uniform quantity distribution.
    "tpch_q17_small_qty_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_q17")
      t(s, dir, "part").createOrReplaceTempView("graft_part_q17")
      s.sql("""SELECT cast((2 * sum(cast(round(l_extendedprice * 100) as bigint))
                 + 7) div 14 as double) / 100.0 AS avg_yearly
               FROM graft_li_q17 l JOIN graft_part_q17 p
                 ON p.p_partkey = l.l_partkey
               WHERE p.p_brand = 'Brand#23' AND p.p_size < 15
                 AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                                     FROM graft_li_q17 l2
                                     WHERE l2.l_partkey = l.l_partkey)""")
    }),

    // Q20: the nested semi chain — suppliers (of one nation) who
    // concentrated their shipments of 'red' parts into 1997. partsupp does
    // not exist in this schema; the all-time (supplier, part) shipped
    // total stands in for ps_availqty, preserving the spec's correlated
    // scalar-agg comparison inside an IN subquery inside a semi join.
    // Catalyst must fold the correlation into a grouped aggregate joined
    // on BOTH correlation keys (l_partkey, l_suppkey) — never re-running
    // the date-windowed sum per candidate row.
    "tpch_q20_part_promotion" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_q20")
      t(s, dir, "part").createOrReplaceTempView("graft_part_q20")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp_q20")
      t(s, dir, "nation").createOrReplaceTempView("graft_nat_q20")
      s.sql("""SELECT s_suppkey, s_name FROM graft_supp_q20
               WHERE s_suppkey IN (
                 SELECT st.l_suppkey FROM (
                   SELECT l_suppkey, l_partkey, sum(l_quantity) AS total_qty
                   FROM graft_li_q20 GROUP BY l_suppkey, l_partkey) st
                 WHERE st.l_partkey IN (SELECT p_partkey FROM graft_part_q20
                                        WHERE p_name LIKE 'red%')
                   AND st.total_qty > (
                     SELECT 1.2 * sum(l.l_quantity) FROM graft_li_q20 l
                     WHERE l.l_partkey = st.l_partkey
                       AND l.l_suppkey = st.l_suppkey
                       AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l.l_shipdate <  TIMESTAMP '1998-01-01'))
                 AND s_nationkey = (SELECT n_nationkey FROM graft_nat_q20
                                    WHERE n_name = 'NATION_3')
               ORDER BY s_suppkey""")
    }),

    // Q21: the exists + not-exists double self-correlation — suppliers who
    // were the SOLE flagged supplier on a multi-supplier finished order.
    // l_returnflag = 'R' marks the failed line (no receipt/commit dates in
    // this schema). Both correlated subqueries reference lineitem again
    // with an equality correlation (l_orderkey) plus an inequality
    // (l_suppkey <>): the pin asserts they become one semi and one anti
    // hash join on the order key — the shape where a planner that only
    // decorrelates equality predicates silently falls back to a per-row
    // nested loop over the 100 TB fact.
    "tpch_q21_waiting_supplier" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_q21")
      t(s, dir, "orders").createOrReplaceTempView("graft_ord_q21")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp_q21")
      t(s, dir, "nation").createOrReplaceTempView("graft_nat_q21")
      s.sql("""SELECT s_name, count(*) AS numwait
               FROM graft_supp_q21, graft_li_q21 l1, graft_ord_q21
               WHERE s_suppkey = l1.l_suppkey
                 AND o_orderkey = l1.l_orderkey
                 AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
                 AND EXISTS (SELECT 1 FROM graft_li_q21 l2
                             WHERE l2.l_orderkey = l1.l_orderkey
                               AND l2.l_suppkey <> l1.l_suppkey)
                 AND NOT EXISTS (SELECT 1 FROM graft_li_q21 l3
                                 WHERE l3.l_orderkey = l1.l_orderkey
                                   AND l3.l_suppkey <> l1.l_suppkey
                                   AND l3.l_returnflag = 'R')
                 AND s_nationkey = (SELECT n_nationkey FROM graft_nat_q21
                                    WHERE n_name = 'NATION_1')
               GROUP BY s_name
               ORDER BY numwait DESC, s_name
               LIMIT 100""")
    }),

    // Q2: minimum-cost supplier — the correlated scalar-MIN whose inner
    // query is itself a multi-relation join (cost⋈supplier⋈nation⋈region).
    // partsupp does not exist in this schema; per-(part, supplier) minimum
    // observed unit price from lineitem stands in for ps_supplycost.
    // Catalyst must decorrelate the inner min to ONE region-filtered
    // aggregate grouped on the correlation key and join it back — a
    // planner that re-runs the 4-relation join per outer row is quadratic
    // in parts. The cost CTE is referenced by both the outer join tree and
    // the subquery; runtime exchange reuse keeps it one computation.
    "tpch_q2_min_cost_supplier" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_q2")
      t(s, dir, "part").createOrReplaceTempView("graft_part_q2")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp_q2")
      t(s, dir, "nation").createOrReplaceTempView("graft_nat_q2")
      t(s, dir, "region").createOrReplaceTempView("graft_reg_q2")
      s.sql("""WITH cost AS (
                 SELECT l_partkey, l_suppkey,
                   round(min(l_extendedprice / l_quantity), 4) AS unit_cost
                 FROM graft_li_q2 GROUP BY l_partkey, l_suppkey)
               SELECT p.p_partkey, s.s_suppkey, c.unit_cost
               FROM graft_part_q2 p, cost c, graft_supp_q2 s,
                    graft_nat_q2 n, graft_reg_q2 r
               WHERE p.p_partkey = c.l_partkey AND c.l_suppkey = s.s_suppkey
                 AND s.s_nationkey = n.n_nationkey
                 AND n.n_regionkey = r.r_regionkey
                 AND r.r_name = 'EUROPE' AND p.p_size < 6
                 AND p.p_type = 'SMALL'
                 AND c.unit_cost = (
                   SELECT min(c2.unit_cost)
                   FROM cost c2, graft_supp_q2 s2, graft_nat_q2 n2,
                        graft_reg_q2 r2
                   WHERE c2.l_partkey = p.p_partkey
                     AND c2.l_suppkey = s2.s_suppkey
                     AND s2.s_nationkey = n2.n_nationkey
                     AND n2.n_regionkey = r2.r_regionkey
                     AND r2.r_name = 'EUROPE')
               ORDER BY p.p_partkey, s.s_suppkey""")
    }),

    // Q15: top supplier. The spec's CTE + scalar-MAX form makes Spark
    // compute the revenue aggregate TWICE — the uncorrelated scalar
    // subquery plans as an independent adaptive plan with its own
    // lineitem scan, and AQE does not unify exchanges across that
    // boundary (verified against the executed plan). The Spark-first
    // re-expression is the max-over-unpartitioned-window form: ONE
    // date-pruned scan, one aggregate, a window over the
    // supplier-count-bounded aggregate output (the repo's accepted
    // bounded-window pattern), equality keeps ties per spec. The DuckDB
    // oracle keeps the spec's CTE text — same fixpoint, different plan.
    "tpch_q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01")
          && col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(Money.revenueExact("l_extendedprice", "l_discount")
          .as("total_revenue"))
      val top = rev.withColumn("mx",
          max(col("total_revenue")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
        .where(col("total_revenue") === col("mx"))
      t(s, dir, "supplier")
        .join(top, col("s_suppkey") === col("supplier_no"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "tpch_q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${Money.sumIntExactSql("l_quantity")} AS sum_qty,
         ${Money.sumMoneyExactSql("l_extendedprice")} AS sum_base_price,
         ${Money.revenueExactSql("l_extendedprice", "l_discount")} AS sum_disc_price,
         ${Money.chargeExactSql("l_extendedprice", "l_discount", "l_tax")} AS sum_charge,
         ${Money.avgIntExactSql("l_quantity")} AS avg_qty,
         ${Money.avgMoneyExactSql("l_extendedprice")} AS avg_price,
         round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
           / 100.0 / count(*), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "tpch_q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         ${Money.revenueExactSql("l_extendedprice", "l_discount")} AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '2000-03-15'
           AND l_shipdate > TIMESTAMP '2000-03-15'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",

    "tpch_q5_local_supplier" ->
      s"""SELECT n_name,
         ${Money.revenueExactSql("l_extendedprice", "l_discount")} AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",

    "tpch_q18_large_customers" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         ${Money.sumIntExactSql("l_quantity")} AS sum_qty
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
         LIMIT 100""",

    "tpch_q17_small_qty_revenue" ->
      """SELECT CAST((2 * sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           + 7) // 14 AS DOUBLE) / 100.0 AS avg_yearly
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#23' AND p.p_size < 15
           AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                               FROM lineitem l2
                               WHERE l2.l_partkey = l.l_partkey)""",

    "tpch_q20_part_promotion" ->
      """SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT st.l_suppkey FROM (
             SELECT l_suppkey, l_partkey, sum(l_quantity) AS total_qty
             FROM lineitem GROUP BY l_suppkey, l_partkey) st
           WHERE st.l_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'red%')
             AND st.total_qty > (
               SELECT 1.2 * sum(l.l_quantity) FROM lineitem l
               WHERE l.l_partkey = st.l_partkey
                 AND l.l_suppkey = st.l_suppkey
                 AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l.l_shipdate <  TIMESTAMP '1998-01-01'))
           AND s_nationkey = (SELECT n_nationkey FROM nation
                              WHERE n_name = 'NATION_3')
         ORDER BY s_suppkey""",

    "tpch_q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey
           AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
           AND s_nationkey = (SELECT n_nationkey FROM nation
                              WHERE n_name = 'NATION_1')
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 100""",

    "tpch_q2_min_cost_supplier" ->
      """WITH cost AS (
           SELECT l_partkey, l_suppkey,
             round(min(l_extendedprice / l_quantity), 4) AS unit_cost
           FROM lineitem GROUP BY l_partkey, l_suppkey)
         SELECT p.p_partkey, s.s_suppkey, c.unit_cost
         FROM part p, cost c, supplier s, nation n, region r
         WHERE p.p_partkey = c.l_partkey AND c.l_suppkey = s.s_suppkey
           AND s.s_nationkey = n.n_nationkey
           AND n.n_regionkey = r.r_regionkey
           AND r.r_name = 'EUROPE' AND p.p_size < 6 AND p.p_type = 'SMALL'
           AND c.unit_cost = (
             SELECT min(c2.unit_cost)
             FROM cost c2, supplier s2, nation n2, region r2
             WHERE c2.l_partkey = p.p_partkey
               AND c2.l_suppkey = s2.s_suppkey
               AND s2.s_nationkey = n2.n_nationkey
               AND n2.n_regionkey = r2.r_regionkey
               AND r2.r_name = 'EUROPE')
         ORDER BY p.p_partkey, s.s_suppkey""",

    "tpch_q15_top_supplier" ->
      s"""WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
             ${Money.revenueExactSql("l_extendedprice", "l_discount")}
               AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate <  TIMESTAMP '1997-04-01'
           GROUP BY l_suppkey)
         SELECT s.s_suppkey, s.s_name, r.total_revenue
         FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
         WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
         ORDER BY s.s_suppkey"""
  )
}
