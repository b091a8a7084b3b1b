package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H canon, second half — Q4 / Q6-Q14 / Q16 / Q19 / Q22. Together with
  * [[TpchCanon]] (Q1/Q2/Q3/Q5/Q15/Q17/Q18/Q20/Q21) this completes the full
  * 22-query decision-support suite over the driver's tables.
  *
  * The reference's KPI job is the fact⋈dim+agg shape
  * (reference: dags/etl/kpi_processor.py:59-92); these generalize it to the
  * remaining canonical forms: EXISTS-filtered priority count (Q4), pure
  * pushed-filter scan agg (Q6), bi-directional nation-pair volume (Q7),
  * market-share ratio-of-conditional-sums (Q8), profit with a derived cost
  * dimension (Q9), returned-item top-k (Q10), uncorrelated-scalar-threshold
  * HAVING (Q11), conditional line counts (Q12), outer-join histogram-of-
  * histograms (Q13), promo ratio (Q14), grouped distinct-count with NOT IN
  * exclusion (Q16), disjunctive-predicate join (Q19), and anti-join +
  * scalar-avg opportunity scan (Q22).
  *
  * Schema adaptations (same policy as TpchCanon — shapes and column roles
  * follow the public spec; constants follow the synthetic data):
  *  - No l_commitdate / l_receiptdate: Q4's "late lineitem" EXISTS marker
  *    is l_returnflag = 'R' (as in Q21); Q12's shipmode classes are the
  *    two non-clean return flags ('R','A') over a shipdate year.
  *  - No partsupp: Q9's ps_supplycost is the observed per-(part, supplier)
  *    minimum unit price derived from lineitem (as in Q2); Q11's stock
  *    value is a nation's shipped l_extendedprice per part; Q16's
  *    supplier-per-part relation comes from shipped lines.
  *  - No o_comment / c_phone: Q13 excludes an o_orderpriority class
  *    instead of the comment LIKE; Q22's country code is c_nationkey and
  *    "no orders" becomes "no orders since 1999" (every synthetic customer
  *    has lifetime orders, none would match the spec's literal form).
  *  - No p_container / l_shipinstruct: Q19's per-branch container lists
  *    become p_size ranges.
  *
  * Scale posture:
  *  - Q4/Q22's correlated EXISTS / NOT EXISTS decorrelate to semi / anti
  *    hash joins on the order key (pinned in PlanShapeSpec) — never a
  *    per-row probe of the 100 TB fact.
  *  - Q6 is the pushdown witness: every predicate reaches the parquet
  *    reader; nothing but the scan and one partial-final agg pair.
  *  - Q7/Q8/Q9 broadcast the nation (and region-filtered nation) dims and
  *    let AQE pick the strategy for customer/supplier/part; the facts
  *    shuffle on their join keys exactly once each.
  *  - Q11's threshold is an uncorrelated scalar subquery: ONE aggregate
  *    over the grouped values, broadcast back — the grouped relation is
  *    computed once per side of the comparison, never per row.
  *  - Q13's outer join keeps the filter on the orders side (it rides the
  *    ON clause, so it prunes before the join, not after).
  *  - Q16's NOT IN over a non-nullable key plans as a null-aware anti
  *    join that degenerates to a plain anti hash join — pinned, because a
  *    nullable-key regression turns it into a cartesian check.
  *  - Q19 registers the FACTORED form (equi-join + OR residual): Catalyst
  *    does not extract the common p_partkey = l_partkey conjunct out of a
  *    disjunction, so the spec's literal OR-of-ANDs join condition plans
  *    as a BroadcastNestedLoopJoin — the factored form is semantically
  *    identical (each disjunct implies the equality) and hash-joins. The
  *    DuckDB oracle keeps the spec's OR text; implied single-table
  *    bounds (brand set, quantity envelope) are pre-filtered so the scans
  *    prune before the join.
  */
object TpchCanon2 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q4: order-priority checking. The EXISTS probe must decorrelate to a
    // LEFT SEMI hash join on o_orderkey — the flagged-line scan is pushed
    // (l_returnflag = 'R') so the build side is a fraction of lineitem.
    "tpch_q4_priority_check" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_ord_q4")
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_q4")
      s.sql("""SELECT o_orderpriority, count(*) AS order_count
               FROM graft_ord_q4
               WHERE o_orderdate >= TIMESTAMP '1996-07-01'
                 AND o_orderdate <  TIMESTAMP '1996-10-01'
                 AND EXISTS (SELECT 1 FROM graft_li_q4
                             WHERE l_orderkey = o_orderkey
                               AND l_returnflag = 'R')
               GROUP BY o_orderpriority
               ORDER BY o_orderpriority""")
    }),

    // Q6: forecasting revenue change — the pure pushdown witness. All
    // three predicates reach the parquet reader; the plan is scan →
    // partial agg → final agg, nothing else.
    "tpch_q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01")
          && col("l_shipdate") < lit("1998-01-01")
          && col("l_discount") >= 0.04 && col("l_discount") <= 0.06
          && col("l_quantity") < 24)
        .agg(Money.priceTimesDiscExact("l_extendedprice", "l_discount")
          .as("revenue"))),

    // Q7: volume shipping between two nations, both directions. The two
    // nation dims are pre-filtered to the pair (2 rows each) and
    // broadcast; the cross-direction constraint is the one residual the
    // pair filter leaves. Facts shuffle once each on their join keys.
    "tpch_q7_volume_shipping" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = t(s, dir, "nation").where(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").where(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") <= lit("1997-12-31"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          Money.revenueUnits("l_extendedprice", "l_discount").as("volume"))
        .join(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(Money.sumUnitsToMoney("volume").as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // Q8: national market share — ratio of conditional sums per order
    // year. The region-filtered customer-side nation broadcasts; the
    // supplier-side nation (all rows, name only) broadcasts; part is
    // type-filtered before the join so the fact⋈part join prunes at scan.
    "tpch_q8_market_share" -> ((s, dir) => {
      val custNat = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .where(col("r_name") === "ASIA").select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val suppNat = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          Money.revenueUnits("l_extendedprice", "l_discount").as("volume"))
        .join(t(s, dir, "part").where(col("p_type") === "ECONOMY")
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01")
            && col("o_orderdate") <= lit("1997-12-31"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNat), col("c_nationkey") === col("c_nk"))
        .join(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNat), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        // both sums are exact int64 unit totals, so the quotient is the
        // SAME double in both engines before the 6dp round
        .agg(round(
          sum(when(col("nation") === "NATION_3", col("volume"))
            .otherwise(0L)).cast("double")
            / sum(col("volume")).cast("double"), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // Q9: product-type profit. The cost dimension is derived ONCE as a
    // grouped aggregate over lineitem (per-(part, supplier) min unit
    // price — the Q2 stand-in for ps_supplycost) and hash-joined back on
    // both keys; nation broadcasts; part's name filter prunes at scan.
    "tpch_q9_product_profit" -> ((s, dir) => {
      val cost = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("c_pk"), col("l_suppkey").as("c_sk"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(t(s, dir, "part").where(col("p_name").like("%blue%"))
          .select(col("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(cost, col("l_partkey") === col("c_pk")
          && col("l_suppkey") === col("c_sk"))
        .join(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        // per-ROW cents rounding, then an exact integer sum: round-after-
        // float-sum put NATION_3/1998 at sf0.1 one summation-order ULP
        // across the 2-dp boundary between engines (the sf0.1 sweep's
        // catch) — each row's amount is computed by the same IEEE op
        // sequence in both engines, so rounding per row is deterministic
        // while the float SUM's grouping order is not
        .agg((sum(round((col("l_extendedprice") * (lit(1) - col("l_discount"))
            - col("unit_cost") * col("l_quantity")) * 100).cast("long"))
          .cast("double") / 100.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year"))
    }),

    // Q10: returned-item reporting — top 20 customers by lost revenue in
    // one quarter. Flag + date predicates push to the two fact scans;
    // nation broadcasts; revenue is rounded BEFORE the rank so both
    // engines order identical values, c_custkey breaks ties.
    "tpch_q10_returned_items" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          Money.revenueUnits("l_extendedprice", "l_discount").as("rev"))
        .join(t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-10-01")
            && col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(Money.sumUnitsToMoney("rev").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),

    // Q11: important stock — grouped values against a whole-relation
    // threshold. The spec's scalar-subquery form would re-plan the
    // grouped CTE on both sides of the comparison and scan the fact twice
    // (the same double-scan Q15's CTE form has — scalar subqueries plan
    // independently and AQE does not unify exchanges across that
    // boundary). The Spark-first form computes the grouped values ONCE
    // and rides the one-row threshold back on a broadcast cross join (the
    // repo's accepted bounded-cross pattern, as in tfIdf's corpus count);
    // ReuseExchange unifies the duplicated aggregate branch so the fact
    // is scanned once — pinned in PlanShapeSpec. Both sides of the
    // comparison are exact integer CENTS (the Money recipe) — the
    // grouped value is a cents sum, the 0.001 threshold is a half-up
    // integer division — so no double-sum ulp or round-half case exists
    // to flip a boundary row in either engine. The DuckDB oracle keeps
    // the spec's scalar-subquery text — same fixpoint, different plan.
    "tpch_q11_important_stock" -> ((s, dir) => {
      val vals = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        .join(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
          .where(col("n_name") === "NATION_5").select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("l_partkey").as("partkey"))
        .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
          .as("value0"))
      val threshold = vals
        .agg(expr("(sum(value0) + 500) div 1000").as("threshold"))
      vals.crossJoin(broadcast(threshold))
        .where(col("value0") > col("threshold"))
        .select(col("partkey"),
          (col("value0").cast("double") / 100.0).as("value"))
        .orderBy(col("value").desc, col("partkey"))
    }),

    // Q12: shipping classes vs order priority — conditional line counts.
    // l_returnflag ('R','A') stands in for the spec's shipmode pair; the
    // flag + date predicates push to the lineitem scan.
    "tpch_q12_ship_class_priority" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_returnflag").isin("R", "A")
          && col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01"))
        .select(col("l_orderkey"), col("l_returnflag"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag").as("ship_class"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
            .otherwise(1)).as("low_line_count"))
        .orderBy(col("ship_class"))),

    // Q13: customer order-count distribution — LEFT OUTER join (the
    // priority filter rides the orders side BEFORE the join, which is
    // what the spec's ON-clause placement means) into a two-level
    // aggregate: per-customer counts, then a histogram of the counts.
    // The second aggregate's input is customer-bounded, the histogram's
    // is count-distinct-bounded.
    "tpch_q13_cust_distribution" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .join(t(s, dir, "orders")
          .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select(col("o_orderkey"), col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // Q14: promotion effect — ratio of conditional revenue over one
    // month. Date predicate pushes to the fact scan; part joins plain
    // (AQE broadcasts it while it fits).
    "tpch_q14_promo_effect" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-09-01")
          && col("l_shipdate") < lit("1997-10-01"))
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0)
          * sum(when(col("p_type") === "PROMO", col("rev")).otherwise(0.0))
          / sum(col("rev")), 6).as("promo_revenue"))),

    // Q16: parts/supplier relationship — distinct suppliers per
    // (brand, type, size) bucket, excluding a complaint set via NOT IN.
    // Registered through SQL: the witness is the null-aware anti join
    // planning as a plain anti hash join (s_suppkey is non-nullable) —
    // pinned, because a nullable-key regression turns NOT IN into a
    // per-row null check over the fact.
    "tpch_q16_supplier_relation" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_li_q16")
      t(s, dir, "part").createOrReplaceTempView("graft_part_q16")
      t(s, dir, "supplier").createOrReplaceTempView("graft_supp_q16")
      s.sql("""SELECT p_brand, p_type, p_size,
                 count(DISTINCT l_suppkey) AS supplier_cnt
               FROM graft_li_q16, graft_part_q16
               WHERE p_partkey = l_partkey
                 AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
                 AND p_size IN (1, 4, 9, 16, 25, 36, 49, 50)
                 AND l_suppkey NOT IN (SELECT s_suppkey FROM graft_supp_q16
                                       WHERE s_name LIKE '%77%')
               GROUP BY p_brand, p_type, p_size
               ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
    }),

    // Q19: discounted revenue over a disjunction of brand/quantity/size
    // envelopes — registered in the factored form (see object doc): the
    // common equality joins, the OR rides as a residual filter, and the
    // implied single-table bounds pre-filter both scans.
    "tpch_q19_disjunct_revenue" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#24")
          && col("p_size") >= 1 && col("p_size") <= 15)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      t(s, dir, "lineitem")
        .where(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12"
            && col("l_quantity").between(1, 11)
            && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23"
            && col("l_quantity").between(10, 20)
            && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#24"
            && col("l_quantity").between(20, 30)
            && col("p_size").between(1, 15)))
        .agg(Money.revenueExact("l_extendedprice", "l_discount")
          .as("revenue"))
    }),

    // Q22: global sales opportunity — wealthy-but-inactive customers.
    // The scalar avg is ONE uncorrelated aggregate broadcast back; the
    // NOT EXISTS decorrelates to a LEFT ANTI hash join against the
    // date-pruned orders scan ("inactive since 1999" — see object doc).
    "tpch_q22_sales_opportunity" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("graft_cust_q22")
      t(s, dir, "orders").createOrReplaceTempView("graft_ord_q22")
      s.sql("""SELECT cntrycode, count(*) AS numcust,
                 cast(sum(cast(round(c_acctbal * 100) as bigint)) as double)
                   / 100.0 AS totacctbal
               FROM (SELECT c_nationkey AS cntrycode, c_acctbal
                     FROM graft_cust_q22
                     WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
                       AND c_acctbal > (SELECT avg(c_acctbal)
                                        FROM graft_cust_q22
                                        WHERE c_acctbal > 0.00
                                          AND c_nationkey IN
                                            (1, 3, 5, 7, 9, 11, 13))
                       AND NOT EXISTS (SELECT 1 FROM graft_ord_q22
                                       WHERE o_custkey = c_custkey
                                         AND o_orderdate >=
                                           TIMESTAMP '1999-01-01')) custsale
               GROUP BY cntrycode
               ORDER BY cntrycode""")
    })
  )

  val oracle: Map[String, String] = Map(
    "tpch_q4_priority_check" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01'
           AND o_orderdate <  TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_returnflag = 'R')
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    "tpch_q6_forecast_revenue" ->
      s"""SELECT ${Money.priceTimesDiscExactSql("l_extendedprice", "l_discount")} AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate <  TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.04 AND 0.06
           AND l_quantity < 24""",

    "tpch_q7_volume_shipping" ->
      s"""SELECT supp_nation, cust_nation, l_year,
           ${Money.sumUnitsToMoneySql("volume")} AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INTEGER) AS l_year,
                 ${Money.revenueUnitsSql("l_extendedprice", "l_discount")} AS volume
               FROM supplier, lineitem, orders, customer,
                    nation n1, nation n2
               WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
                 AND c_custkey = o_custkey
                 AND s_nationkey = n1.n_nationkey
                 AND c_nationkey = n2.n_nationkey
                 AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                 AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                    AND TIMESTAMP '1997-12-31') shipping
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",

    "tpch_q8_market_share" ->
      s"""SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                          ELSE 0 END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
         FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 ${Money.revenueUnitsSql("l_extendedprice", "l_discount")} AS volume,
                 n2.n_name AS nation
               FROM part, supplier, lineitem, orders, customer,
                    nation n1, nation n2, region
               WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
                 AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                 AND c_nationkey = n1.n_nationkey
                 AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
                 AND s_nationkey = n2.n_nationkey
                 AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                     AND TIMESTAMP '1997-12-31'
                 AND p_type = 'ECONOMY') all_nations
         GROUP BY o_year
         ORDER BY o_year""",

    "tpch_q9_product_profit" ->
      """WITH cost AS (
           SELECT l_partkey AS c_pk, l_suppkey AS c_sk,
             min(l_extendedprice / l_quantity) AS unit_cost
           FROM lineitem GROUP BY l_partkey, l_suppkey)
         SELECT nation, o_year,
           sum(CAST(round(amount * 100) AS BIGINT)) / 100.0 AS sum_profit
         FROM (SELECT n_name AS nation,
                 CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount)
                   - co.unit_cost * l_quantity AS amount
               FROM part, supplier, lineitem, orders, nation, cost co
               WHERE s_suppkey = l_suppkey AND co.c_sk = l_suppkey
                 AND co.c_pk = l_partkey AND p_partkey = l_partkey
                 AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
                 AND p_name LIKE '%blue%') profit
         GROUP BY nation, o_year
         ORDER BY nation, o_year""",

    "tpch_q10_returned_items" ->
      s"""SELECT c_custkey, c_name,
           ${Money.revenueExactSql("l_extendedprice", "l_discount")} AS revenue,
           c_acctbal, n_name
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate >= TIMESTAMP '1996-10-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
           AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",

    "tpch_q11_important_stock" ->
      """WITH val AS (
           SELECT l_partkey AS partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS value0
           FROM lineitem, supplier, nation
           WHERE l_suppkey = s_suppkey
             AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
           GROUP BY l_partkey)
         SELECT partkey, CAST(value0 AS DOUBLE) / 100.0 AS value
         FROM val
         WHERE value0 > (SELECT (sum(value0) + 500) // 1000 FROM val)
         ORDER BY value DESC, partkey""",

    "tpch_q12_ship_class_priority" ->
      """SELECT l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM orders, lineitem
         WHERE o_orderkey = l_orderkey AND l_returnflag IN ('R', 'A')
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
         GROUP BY l_returnflag
         ORDER BY ship_class""",

    "tpch_q13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey
                 AND o_orderpriority <> '4-NOT SPECIFIED'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",

    "tpch_q14_promo_effect" ->
      """SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
             THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
           / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= TIMESTAMP '1997-09-01'
           AND l_shipdate <  TIMESTAMP '1997-10-01'""",

    "tpch_q16_supplier_relation" ->
      """SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand <> 'Brand#5' AND p_type <> 'PROMO'
           AND p_size IN (1, 4, 9, 16, 25, 36, 49, 50)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_name LIKE '%77%')
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    "tpch_q19_disjunct_revenue" ->
      s"""SELECT ${Money.revenueExactSql("l_extendedprice", "l_discount")} AS revenue
         FROM lineitem, part
         WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
                AND l_quantity BETWEEN 1 AND 11
                AND p_size BETWEEN 1 AND 5)
            OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
                AND l_quantity BETWEEN 10 AND 20
                AND p_size BETWEEN 1 AND 10)
            OR (p_partkey = l_partkey AND p_brand = 'Brand#24'
                AND l_quantity BETWEEN 20 AND 30
                AND p_size BETWEEN 1 AND 15)""",

    "tpch_q22_sales_opportunity" ->
      """SELECT cntrycode, count(*) AS numcust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS totacctbal
         FROM (SELECT c_nationkey AS cntrycode, c_acctbal
               FROM customer
               WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
                 AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                  WHERE c_acctbal > 0.00
                                    AND c_nationkey IN
                                      (1, 3, 5, 7, 9, 11, 13))
                 AND NOT EXISTS (SELECT 1 FROM orders
                                 WHERE o_custkey = c_custkey
                                   AND o_orderdate >=
                                     TIMESTAMP '1999-01-01')) custsale
         GROUP BY cntrycode
         ORDER BY cntrycode"""
  )
}
