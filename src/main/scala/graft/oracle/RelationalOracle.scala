package graft.oracle

import graft.functions.Exact.ratio4Sql

import Chains._

/** Oracle SQL of the relational/OLAP queries (TPC-H and friends). */
private[oracle] object RelationalOracle {

  val sql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_qty,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_base_price,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS sum_disc_price,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
        | o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "ship_latency" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_fast,
        | CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 30
        |          AND datediff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
        | CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
        | MIN(datediff('day', o_orderdate, l_shipdate))::INT AS min_days,
        | MAX(datediff('day', o_orderdate, l_shipdate))::INT AS max_days
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "quantile_agg" ->
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        | ROUND(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
        | ROUND(quantile_cont(l_extendedprice, 0.99), 2) AS p99,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
        | c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q13_customer_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT
        | CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))
        |     ELSE CAST(0 AS DECIMAL(30,4)) END), 2) AS DOUBLE) AS promo_revenue,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS total_revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,

    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q19_discounted_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |  (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |  OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |  OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))""".stripMargin,

    "topk_per_group" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rnk
        |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                                ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
        |      FROM customer) t
        |WHERE rnk <= 5
        |ORDER BY c_mktsegment, rnk""".stripMargin,

    "running_total" ->
      """SELECT user_id, event_id,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2)))
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_value
        |FROM events
        |WHERE user_id < 10
        |ORDER BY user_id, event_id""".stripMargin,

    "cube_agg" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        | CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        | CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY g_prio, g_status,
        |  o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    "grouping_sets_agg" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        | COALESCE(l_linestatus, 'ALL') AS linestatus,
        | CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        | COUNT(*) AS n_rows,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_qty,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin,

    "rfm_scores" ->
      """WITH per AS (SELECT o_custkey,
        |    date_diff('day', MAX(CAST(o_orderdate AS TIMESTAMP)),
        |      (SELECT MAX(CAST(o_orderdate AS TIMESTAMP)) FROM orders))::BIGINT
        |      AS recency_days,
        |    COUNT(*)::BIGINT AS frequency,
        |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))::BIGINT
        |      AS monetary_cents
        |  FROM orders GROUP BY o_custkey),
        |n AS (SELECT COUNT(*)::BIGINT AS n_cust FROM per),
        |rh AS (SELECT recency_days, COUNT(*)::BIGINT AS c FROM per GROUP BY 1),
        |rc AS (SELECT recency_days, SUM(c) OVER (ORDER BY recency_days) AS cum FROM rh),
        |fh AS (SELECT frequency, COUNT(*)::BIGINT AS c FROM per GROUP BY 1),
        |fc AS (SELECT frequency, SUM(c) OVER (ORDER BY frequency) AS cum FROM fh),
        |mh AS (SELECT monetary_cents, COUNT(*)::BIGINT AS c FROM per GROUP BY 1),
        |mc AS (SELECT monetary_cents, SUM(c) OVER (ORDER BY monetary_cents) AS cum FROM mh),
        |scored AS (SELECT
        |    CAST((4 * rc.cum + n_cust - 1) // n_cust AS BIGINT) AS r_q,
        |    CAST((4 * fc.cum + n_cust - 1) // n_cust AS BIGINT) AS f_q,
        |    CAST((4 * mc.cum + n_cust - 1) // n_cust AS BIGINT) AS m_q,
        |    per.monetary_cents
        |  FROM per
        |  JOIN rc USING (recency_days) JOIN fc USING (frequency)
        |  JOIN mc USING (monetary_cents) CROSS JOIN n)
        |SELECT r_q, f_q, m_q, COUNT(*)::BIGINT AS n_customers,
        | CAST(ROUND(SUM(monetary_cents) / 100.0, 2) AS DOUBLE) AS total_monetary,
        | CAST(ROUND(CAST(SUM(monetary_cents) // COUNT(*) AS BIGINT) / 100.0, 2)
        |   AS DOUBLE) AS avg_monetary
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "spend_deciles" ->
      raw"""WITH per AS (SELECT o_custkey,
        |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS spend_cents
        |  FROM orders GROUP BY o_custkey),
        |n AS (SELECT COUNT(*)::BIGINT AS n_cust,
        |    SUM(spend_cents)::BIGINT AS grand_cents FROM per),
        |h AS (SELECT spend_cents, COUNT(*)::BIGINT AS c FROM per GROUP BY 1),
        |cc AS (SELECT spend_cents, SUM(c) OVER (ORDER BY spend_cents) AS cum FROM h),
        |scored AS (SELECT per.spend_cents,
        |    CAST((10 * cum + n_cust - 1) // n_cust AS BIGINT) AS decile, grand_cents
        |  FROM per JOIN cc USING (spend_cents) CROSS JOIN n)
        |SELECT decile, COUNT(*)::BIGINT AS n_customers,
        | CAST(ROUND(SUM(spend_cents) / 100.0, 2) AS DOUBLE) AS total_spend,
        | CAST(ROUND(MIN(spend_cents) / 100.0, 2) AS DOUBLE) AS min_spend,
        | CAST(ROUND(MAX(spend_cents) / 100.0, 2) AS DOUBLE) AS max_spend,
        | ${ratio4Sql("SUM(spend_cents)", "ANY_VALUE(grand_cents)")}
        |   AS revenue_share
        |FROM scored GROUP BY decile ORDER BY decile""".stripMargin,

    "basket_pairs" ->
      raw"""WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |total AS (SELECT COUNT(DISTINCT l_orderkey)::BIGINT AS n_orders FROM ob),
        |reach AS (SELECT p_brand, COUNT(*)::BIGINT AS n FROM ob GROUP BY 1),
        |pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |    COUNT(*)::BIGINT AS n_both
        |  FROM ob a JOIN ob b USING (l_orderkey)
        |  WHERE a.p_brand < b.p_brand GROUP BY 1, 2)
        |SELECT brand_a, brand_b, ra.n AS n_a, rb.n AS n_b, n_both,
        | ${ratio4Sql("n_both", "n_orders")} AS support,
        | CAST(CAST(ROUND((CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE)) /
        |   ((CAST(ra.n AS DOUBLE) / CAST(n_orders AS DOUBLE)) *
        |    (CAST(rb.n AS DOUBLE) / CAST(n_orders AS DOUBLE))), 4)
        |   AS DECIMAL(28,4)) AS DOUBLE) AS lift
        |FROM pairs
        |JOIN reach ra ON ra.p_brand = brand_a
        |JOIN reach rb ON rb.p_brand = brand_b
        |CROSS JOIN total
        |ORDER BY brand_a, brand_b""".stripMargin,

    "cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    year(CAST(o_orderdate AS TIMESTAMP)) * 12
        |      + month(CAST(o_orderdate AS TIMESTAMP)) AS m,
        |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |fm AS (SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY 1),
        |cs AS (SELECT cohort_m, COUNT(*)::BIGINT AS n_customers FROM fm GROUP BY 1),
        |cell AS (SELECT cohort_m, o.m - cohort_m AS month_offset,
        |    SUM(cents)::BIGINT AS rev_cents
        |  FROM o JOIN fm USING (o_custkey) GROUP BY 1, 2),
        |cum AS (SELECT cohort_m, month_offset, rev_cents,
        |    SUM(rev_cents) OVER (PARTITION BY cohort_m ORDER BY month_offset)
        |      AS cum_cents
        |  FROM cell)
        |SELECT printf('%04d-%02d', (cohort_m - 1) // 12,
        |    cohort_m - 12 * ((cohort_m - 1) // 12)) AS cohort,
        | month_offset, n_customers,
        | CAST(ROUND(rev_cents / 100.0, 2) AS DOUBLE) AS revenue,
        | CAST(ROUND(cum_cents / 100.0, 2) AS DOUBLE) AS cum_revenue,
        | CAST(ROUND(CAST(cum_cents // n_customers AS BIGINT) / 100.0, 2)
        |   AS DOUBLE) AS ltv_per_customer
        |FROM cum JOIN cs USING (cohort_m)
        |ORDER BY cohort, month_offset""".stripMargin,

    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_qty, COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "distinct_agg" ->
      """SELECT o_orderstatus,
        | COUNT(DISTINCT o_custkey) AS n_cust,
        | COUNT(DISTINCT o_orderpriority) AS n_prio,
        | COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "anti_semi_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "set_ops" ->
      """SELECT 'both' AS tag, nationkey
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      INTERSECT SELECT s_nationkey FROM supplier) a
        |UNION ALL
        |SELECT 'cust_only' AS tag, nationkey
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      EXCEPT SELECT s_nationkey FROM supplier) b
        |ORDER BY tag, nationkey""".stripMargin,

    "pivot_manual" ->
      """SELECT o_orderstatus,
        | CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        | CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        | CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
        | CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_unspecified,
        | CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q17_small_qty_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
        |           / COUNT(*) * 0.2e0
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q22_no_order_customers" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        | CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(30,2))), 2) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*)
        |    FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        | CAST(ROUND(
        |   CAST(ROUND(SUM(CASE WHEN nation = 'NATION_2' THEN volume
        |                       ELSE CAST(0 AS DECIMAL(30,4)) END), 2) AS DOUBLE)
        |   / CAST(ROUND(SUM(volume), 2) AS DOUBLE), 6) AS DOUBLE) AS mkt_share,
        | CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS total_volume,
        | COUNT(*) AS n_rows
        |FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)) AS volume,
        |        n2.n_name AS nation
        |      FROM part, lineitem, orders, customer,
        |           supplier, nation n1, nation n2, region
        |      WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
        |        AND o_custkey = c_custkey AND l_suppkey = s_suppkey
        |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |        AND p_type = 'STANDARD'
        |        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') t
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,

    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year, CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)) AS volume
        |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |        AND c_nationkey = n2.n_nationkey
        |        AND n1.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
        |        AND n2.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
        |        AND n1.n_name <> n2.n_name) t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q21_late_suppliers" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,

    "nation_year_growth" ->
      raw"""WITH li AS (SELECT s_nationkey,
        |    year(CAST(l_shipdate AS TIMESTAMP)) AS yr,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
        |cell AS (SELECT s_nationkey, yr, COUNT(*)::BIGINT AS n_lines,
        |    SUM(rev) AS rev_dec FROM li GROUP BY 1, 2),
        |w AS (SELECT *, LAG(rev_dec) OVER (PARTITION BY s_nationkey
        |    ORDER BY yr) AS prev_dec FROM cell)
        |SELECT n_name AS nation, CAST(yr AS INT) AS year, n_lines,
        | CAST(ROUND(rev_dec, 2) AS DOUBLE) AS revenue,
        | ${ratio4Sql("(rev_dec - prev_dec) * 10000", "prev_dec * 10000")}
        |   AS yoy_growth
        |FROM w JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY nation, year""".stripMargin,

    "fk_integrity" ->
      raw"""WITH e1 AS (SELECT 'customer.c_nationkey -> nation' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        |    ON n.n_nationkey = c.c_nationkey),
        |e2 AS (SELECT 'lineitem.l_orderkey -> orders' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON o.o_orderkey = l.l_orderkey),
        |e3 AS (SELECT 'nation.n_regionkey -> region' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM nation n LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
        |    ON r.r_regionkey = n.n_regionkey),
        |e4 AS (SELECT 'orders.o_custkey -> customer' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON c.c_custkey = o.o_custkey),
        |e5 AS (SELECT 'supplier.s_nationkey -> nation' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        |    ON n.n_nationkey = s.s_nationkey),
        |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |  UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |  UNION ALL SELECT * FROM e5)
        |SELECT relationship, n_child, n_orphans,
        |  ${ratio4Sql("n_orphans", "GREATEST(n_child, 1)")}
        |    AS orphan_share
        |FROM u ORDER BY relationship""".stripMargin,

    "table_profile" ->
      """WITH n AS (SELECT COUNT(*)::BIGINT AS n_rows FROM orders)
        |SELECT 'o_custkey' AS "column", n_rows,
        |  (SELECT n_rows - COUNT(o_custkey) FROM orders)::BIGINT AS n_nulls,
        |  (SELECT COUNT(DISTINCT o_custkey) FROM orders)::BIGINT AS n_distinct,
        |  (SELECT CAST(MIN(o_custkey) AS VARCHAR) FROM orders) AS min_value,
        |  (SELECT CAST(MAX(o_custkey) AS VARCHAR) FROM orders) AS max_value
        |FROM n
        |UNION ALL SELECT 'o_orderdate', n_rows,
        |  (SELECT n_rows - COUNT(o_orderdate) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_orderdate) FROM orders)::BIGINT,
        |  (SELECT strftime(MIN(CAST(o_orderdate AS TIMESTAMP)),
        |     '%Y-%m-%d %H:%M:%S') FROM orders),
        |  (SELECT strftime(MAX(CAST(o_orderdate AS TIMESTAMP)),
        |     '%Y-%m-%d %H:%M:%S') FROM orders)
        |FROM n
        |UNION ALL SELECT 'o_orderkey', n_rows,
        |  (SELECT n_rows - COUNT(o_orderkey) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders)::BIGINT,
        |  (SELECT CAST(MIN(o_orderkey) AS VARCHAR) FROM orders),
        |  (SELECT CAST(MAX(o_orderkey) AS VARCHAR) FROM orders)
        |FROM n
        |UNION ALL SELECT 'o_orderpriority', n_rows,
        |  (SELECT n_rows - COUNT(o_orderpriority) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)::BIGINT,
        |  (SELECT MIN(o_orderpriority) FROM orders),
        |  (SELECT MAX(o_orderpriority) FROM orders)
        |FROM n
        |UNION ALL SELECT 'o_orderstatus', n_rows,
        |  (SELECT n_rows - COUNT(o_orderstatus) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_orderstatus) FROM orders)::BIGINT,
        |  (SELECT MIN(o_orderstatus) FROM orders),
        |  (SELECT MAX(o_orderstatus) FROM orders)
        |FROM n
        |UNION ALL SELECT 'o_totalprice', n_rows,
        |  (SELECT n_rows - COUNT(o_totalprice) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_totalprice) FROM orders)::BIGINT,
        |  (SELECT printf('%.2f', MIN(o_totalprice)) FROM orders),
        |  (SELECT printf('%.2f', MAX(o_totalprice)) FROM orders)
        |FROM n
        |ORDER BY "column"""".stripMargin,

    "order_cadence" ->
      """WITH g AS (SELECT o_custkey,
        |    date_diff('day',
        |      lag(CAST(o_orderdate AS TIMESTAMP)) OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY CAST(o_orderdate AS TIMESTAMP), o_orderkey),
        |      CAST(o_orderdate AS TIMESTAMP))::BIGINT AS gap_days
        |  FROM orders),
        |j AS (SELECT c_mktsegment, gap_days FROM g
        |  JOIN customer ON o_custkey = c_custkey WHERE gap_days IS NOT NULL)
        |SELECT c_mktsegment AS segment, COUNT(*)::BIGINT AS n_gaps,
        | CAST(CAST((100 * SUM(gap_days)) // COUNT(*) AS BIGINT) AS DOUBLE)
        |   / CAST(100.0 AS DOUBLE) AS avg_gap_days,
        | MIN(gap_days) AS min_days, MAX(gap_days) AS max_days,
        | quantile_cont(gap_days, 0.5) AS p50_days,
        | SUM(CASE WHEN gap_days = 0 THEN 1 ELSE 0 END)::BIGINT AS n_same_day
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "supplier_dominance" ->
      raw"""WITH li AS (SELECT p_brand, l_suppkey,
        |    CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS q100
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |bys AS (SELECT p_brand, l_suppkey, SUM(q100)::BIGINT AS supp_q
        |  FROM li GROUP BY 1, 2),
        |byb AS (SELECT p_brand, SUM(supp_q)::BIGINT AS brand_q,
        |    COUNT(*)::BIGINT AS n_suppliers,
        |    MAX(supp_q * 1000000000 + (999999999 - l_suppkey))::BIGINT AS max_enc
        |  FROM bys GROUP BY 1)
        |SELECT p_brand AS brand, s_name AS top_supplier, n_suppliers,
        | CAST(ROUND((max_enc // 1000000000) / 100.0, 2) AS DOUBLE) AS top_qty,
        | CAST(ROUND(brand_q / 100.0, 2) AS DOUBLE) AS brand_qty,
        | ${ratio4Sql("(max_enc // 1000000000)", "brand_q")} AS share,
        | ${ratio4Sql("(max_enc // 1000000000) * n_suppliers", "brand_q")}
        |   AS fair_share_multiple
        |FROM byb JOIN supplier ON 999999999 - max_enc % 1000000000 = s_suppkey
        |ORDER BY brand""".stripMargin,

    "balance_matrix" ->
      """WITH c AS (SELECT CAST(c_nationkey AS INT) AS nationkey,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
        |    COUNT(*)::BIGINT AS n_cust,
        |    SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT))::BIGINT AS cust_cents
        |  FROM customer GROUP BY 1, 2),
        |s AS (SELECT CAST(s_nationkey AS INT) AS nationkey,
        |    CAST(FLOOR(s_acctbal / 1000.0) AS BIGINT) AS band,
        |    COUNT(*)::BIGINT AS n_supp,
        |    SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT))::BIGINT AS supp_cents
        |  FROM supplier GROUP BY 1, 2)
        |SELECT n_name AS nation, COALESCE(c.band, s.band) AS band,
        | COALESCE(n_cust, 0) AS n_customers,
        | CAST(ROUND(COALESCE(cust_cents, 0) / 100.0, 2) AS DOUBLE) AS cust_balance,
        | COALESCE(n_supp, 0) AS n_suppliers,
        | CAST(ROUND(COALESCE(supp_cents, 0) / 100.0, 2) AS DOUBLE) AS supp_balance,
        | CASE WHEN n_cust IS NULL THEN 'supplier_only'
        |   WHEN n_supp IS NULL THEN 'customer_only' ELSE 'both' END AS presence
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey AND c.band = s.band
        |JOIN nation ON COALESCE(c.nationkey, s.nationkey) = n_nationkey
        |ORDER BY nation, band""".stripMargin,

    "supplier_concentration" ->
      raw"""WITH s AS (SELECT s_nationkey,
        |    CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |  FROM supplier WHERE CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) > 0),
        |g AS (SELECT SUM(bal_cents)::BIGINT AS grand_cents FROM s),
        |byn AS (SELECT s_nationkey, COUNT(*)::BIGINT AS n_suppliers,
        |    SUM(bal_cents)::BIGINT AS nat_cents FROM s GROUP BY 1)
        |SELECT n_name AS nation, n_suppliers,
        | CAST(ROUND(nat_cents / 100.0, 2) AS DOUBLE) AS total_acctbal,
        | ${ratio4Sql("nat_cents", "grand_cents")} AS share
        |FROM byn CROSS JOIN g
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE nat_cents * 50 > grand_cents
        |ORDER BY share DESC, nation""".stripMargin,

    "brand_cheapest" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_name,
        |    CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_cents
        |  FROM part),
        |best AS (SELECT p_brand, COUNT(*)::BIGINT AS n_parts,
        |    MIN(price_cents * 1000000000 + p_partkey)::BIGINT AS min_enc
        |  FROM p GROUP BY 1)
        |SELECT best.p_brand AS brand, n_parts,
        | CAST(min_enc % 1000000000 AS BIGINT) AS best_partkey,
        | p.p_name AS part_name,
        | CAST(ROUND((min_enc // 1000000000) / 100.0, 2) AS DOUBLE)
        |   AS min_retailprice
        |FROM best JOIN p ON p.p_partkey = min_enc % 1000000000
        |ORDER BY brand""".stripMargin,

    "orders_seasonality" ->
      raw"""WITH o AS (SELECT month(CAST(o_orderdate AS TIMESTAMP)) AS mon,
        |    year(CAST(o_orderdate AS TIMESTAMP)) AS yr,
        |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |my AS (SELECT mon, yr, COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS c
        |  FROM o GROUP BY 1, 2),
        |m AS (SELECT mon, SUM(n)::BIGINT AS n_orders,
        |    SUM(c)::BIGINT AS mon_cents,
        |    MAX(c * 10000 + yr)::BIGINT AS peak_enc FROM my GROUP BY 1),
        |g AS (SELECT SUM(mon_cents)::BIGINT AS grand_cents FROM m)
        |SELECT CAST(mon AS BIGINT) AS month, n_orders,
        | CAST(ROUND(mon_cents / 100.0, 2) AS DOUBLE) AS revenue,
        | ${ratio4Sql("mon_cents", "grand_cents")} AS revenue_share,
        | CAST(peak_enc % 10000 AS INT) AS peak_year
        |FROM m CROSS JOIN g ORDER BY month""".stripMargin
  )
}
