package graft
package queries

import graft.operators._
import graft.sources.Tables

/** TPC-H-shaped relational queries over the order tables (Analytics, Skew). */
private[graft] object RelationalQueries extends Family {

  val queries: Seq[Query] = Seq(
    Query("q1_pricing_summary", (s, d) => Analytics.pricingSummary(Tables(s, d).lineitem),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) + 0.0 AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) + 0.0 AS sum_base_price,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))), 2) AS DOUBLE) + 0.0 AS sum_disc_price,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))), 2) AS DOUBLE) + 0.0 AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q3_shipping_priority", (s, d) => { val t = Tables(s, d); Analytics.shippingPriority(t.customer, t.orders, t.lineitem) },
      """SELECT l_orderkey, CAST(round(revenue, 2) AS DOUBLE) + 0.0 AS revenue, o_orderdate, o_orderpriority
        |FROM (
        |  SELECT l_orderkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS revenue,
        |    CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |  FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |  ORDER BY revenue DESC, l_orderkey LIMIT 10)
        |ORDER BY revenue DESC, l_orderkey""".stripMargin),
    Query("q5_region_revenue", (s, d) => { val t = Tables(s, d); Analytics.regionRevenue(t.region, t.nation, t.customer, t.supplier, t.orders, t.lineitem) },
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) + 0.0 AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |  JOIN supplier ON s_nationkey = n_nationkey
        |  JOIN lineitem ON l_suppkey = s_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    Query("q_filter_project", (s, d) => Analytics.filterProject(Tables(s, d).orders),
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) + 0.0 AS o_totalprice
        |FROM orders WHERE o_totalprice > 400000.0 AND o_orderstatus = 'O'""".stripMargin),
    Query("q_topk_orders", (s, d) => Analytics.topkOrders(Tables(s, d).orders),
      """SELECT o_orderkey,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) + 0.0 AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),
    Query("q_distinct_segments", (s, d) => Analytics.distinctSegments(Tables(s, d).customer),
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"),
    Query("q_case_bucketing", (s, d) => Analytics.caseBucketing(Tables(s, d).orders),
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
        |            WHEN o_totalprice < 300000 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |       o_orderpriority, count(*) AS n
        |FROM orders GROUP BY bucket, o_orderpriority ORDER BY bucket, o_orderpriority""".stripMargin),
    Query("q_union_dedup", (s, d) => Analytics.unionDedup(Tables(s, d).orders),
      """SELECT DISTINCT o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0) ORDER BY o_custkey""".stripMargin),
    Query("q_factfact_pruned", (s, d) => { val t = Tables(s, d); Analytics.factFactPruned(t.orders, t.lineitem) },
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) + 0.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q_semi_urgent", (s, d) => { val t = Tables(s, d); Analytics.existsUrgent(t.customer, t.orders) },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),
    Query("q_above_avg", (s, d) => Analytics.aboveAvg(Tables(s, d).orders),
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) + 0.0 AS o_totalprice,
        |  round(avg_price, 6) + 0.0 AS cust_avg
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
        |          / count(*) OVER (PARTITION BY o_custkey) AS avg_price
        |      FROM orders)
        |WHERE o_totalprice > avg_price ORDER BY o_orderkey""".stripMargin),
    Query("q_set_ops", (s, d) => Analytics.setOpsCustomers(Tables(s, d).orders),
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin),
    Query("q_percent_rank", (s, d) => Analytics.percentRanks(Tables(s, d).orders),
      """WITH t AS (SELECT o_orderkey, o_orderpriority,
        |  CAST(round(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) + 0.0 AS o_totalprice
        |  FROM orders WHERE o_totalprice > 400000.0)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  percent_rank() OVER w + 0.0 AS pct_rank,
        |  cume_dist() OVER w + 0.0 AS cume
        |FROM t WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),
    Query("salted_enrich", (s, d) => { val t = Tables(s, d); Skew.saltedEnrich(t.events, t.customer) },
      """SELECT event_id, user_id, c_name, c_mktsegment, value
        |FROM events JOIN customer ON user_id = c_custkey ORDER BY event_id""".stripMargin),
  )
}
