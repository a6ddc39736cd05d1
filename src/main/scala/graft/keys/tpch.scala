package graft
package keys

import graft.operators._

/** The TPC-H query shapes (SURVEY §2 #19-22 and the #19b breadth pack),
  * adapted to the reduced schema.
  */
object tpch {

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", (s, d) => Analytics.pricingSummary(Tables.lineitem(s, d)),
      Some("""SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("q3_shipping_priority", (s, d) => Analytics.shippingPriority(s, d),
      Some("""SELECT l_orderkey,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | epoch_ms(o_orderdate) AS o_orderdate_ms
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'AUTOMOBILE'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    QueryDef("q5_region_revenue", (s, d) => Analytics.regionRevenue(s, d),
      Some("""SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    QueryDef("q_topk_per_group", (s, d) => Analytics.topKPerGroup(Tables.part(s, d)),
      Some("""SELECT p_brand, p_partkey, p_retailprice, rk FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
        | FROM part) t
        |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin)),
    // TPC-H-shape breadth pack (SURVEY §2 #19b) — the remaining distinctive
    // distributed-plan shapes of the suite, adapted to the reduced schema
    QueryDef("q7_nation_volume", (s, d) => TpchShapes.nationVolume(s, d),
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        | year(l_shipdate) AS l_year,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS volume
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_8')
        |    OR (sn.n_name = 'NATION_8' AND cn.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    QueryDef("q8_mkt_share", (s, d) => TpchShapes.marketShare(s, d),
      Some("""SELECT o_year, nat_volume, total_volume,
        | round(nat_volume / total_volume, 6) AS mkt_share
        |FROM (
        | SELECT year(o_orderdate) AS o_year,
        |  CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_2'
        |        THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS nat_volume,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_volume
        | FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        | WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        | GROUP BY 1) ORDER BY o_year""".stripMargin)),
    QueryDef("q9_profit_by_nation", (s, d) => TpchShapes.profitByNation(s, d),
      Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)),
    QueryDef("q10_returned_top", (s, d) => TpchShapes.returnedTop(s, d),
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    QueryDef("q12_late_priority", (s, d) => TpchShapes.lateLinesByPriority(s, d),
      Some("""SELECT l_linestatus,
        | count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        | count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),
    QueryDef("q13_order_dist", (s, d) => TpchShapes.orderCountDistribution(s, d),
      Some("""SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders
        |  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        | GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    QueryDef("q14_promo_share", (s, d) => TpchShapes.promoShare(s, d),
      Some("""SELECT promo_revenue, total_revenue,
        | round(100.0 * promo_revenue / total_revenue, 6) AS promo_share
        |FROM (
        | SELECT
        |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |        THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01')""".stripMargin)),
    QueryDef("q16_supplier_cnt", (s, d) => TpchShapes.supplierCountByPart(s, d),
      Some("""SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        | JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    QueryDef("q18_large_orders", (s, d) => TpchShapes.largeOrders(s, d),
      Some("""SELECT c_name, c_custkey, o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        | o_totalprice, sum_qty
        |FROM (
        | SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        | FROM lineitem GROUP BY l_orderkey
        | HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250.0) big
        | JOIN orders ON big.l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),
    QueryDef("q19_disjunctive_rev", (s, d) => TpchShapes.disjunctiveRevenue(s, d),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin)),
    QueryDef("q4_priority_check", (s, d) => TpchShapes.priorityCheck(s, d),
      Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("q6_forecast_revenue", (s, d) => TpchShapes.forecastRevenue(s, d),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),
    QueryDef("q15_top_supplier", (s, d) => TpchShapes.topSupplier(s, d),
      Some("""WITH rev AS (
        | SELECT l_suppkey,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1996-04-01'
        | GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    QueryDef("q17_small_qty_revenue", (s, d) => TpchShapes.smallQuantityRevenue(s, d),
      Some("""WITH li AS (
        | SELECT l.* FROM lineitem l
        | JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#13'),
        |a AS (
        | SELECT l_partkey AS ap_partkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty
        | FROM li GROUP BY 1)
        |SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 12) AS avg_yearly
        |FROM li JOIN a ON l_partkey = ap_partkey
        |WHERE l_quantity < 0.2 * avg_qty""".stripMargin)),
    QueryDef("q20_qualified_suppliers", (s, d) => TpchShapes.qualifiedSuppliers(s, d),
      Some("""SELECT s_suppkey, s_name, total_qty FROM (
        | SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE p_name LIKE '%gear%'
        |  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        | GROUP BY l_suppkey) q
        | JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_qty > 380.0
        |ORDER BY s_name""".stripMargin)),
    QueryDef("q21_late_sole_supplier", (s, d) => TpchShapes.soleLateSupplier(s, d),
      Some("""SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        | JOIN orders ON l1.l_orderkey = o_orderkey
        | JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin)),
    QueryDef("q22_idle_customers", (s, d) => TpchShapes.idleRichCustomers(s, d),
      Some("""SELECT c_mktsegment, count(*) AS numcust,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(18,4))
        |       * (SELECT count(*) FROM customer WHERE c_acctbal > 0)
        |      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-08-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    QueryDef("q2_min_cost_supp", (s, d) => TpchShapes.minCostSupplier(s, d),
      Some("""WITH ps AS (
        | SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) /
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 6) AS supply_cost
        | FROM lineitem GROUP BY 1, 2),
        |rs AS (
        | SELECT s_suppkey, s_acctbal, s_name, n_name
        | FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name = 'EUROPE'),
        |rp AS (SELECT ps.* FROM ps JOIN rs ON ps_suppkey = s_suppkey),
        |mc AS (SELECT ps_partkey AS mc_partkey, min(supply_cost) AS min_cost
        |       FROM rp GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, supply_cost
        |FROM rp JOIN mc ON ps_partkey = mc_partkey AND supply_cost = min_cost
        | JOIN part ON ps_partkey = p_partkey
        | JOIN rs ON ps_suppkey = s_suppkey
        |WHERE p_type = 'STANDARD' AND p_size = 15
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)),
    QueryDef("q11_important_stock", (s, d) => TpchShapes.importantStock(s, d),
      Some("""WITH pp AS (
        | SELECT l_partkey,
        |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS part_value
        | FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name = 'NATION_19'
        | GROUP BY 1)
        |SELECT l_partkey, part_value FROM pp
        |WHERE part_value > (SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,4))) AS DOUBLE) * 0.0015
        |                    FROM pp)
        |ORDER BY part_value DESC, l_partkey""".stripMargin))
  )
}
