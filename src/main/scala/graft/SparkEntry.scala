package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gold.GoldWriter
import graft.jsonstat.{Fixtures, JsonStat}
import graft.ops.{DedupOps, EventOps, MultimodalOps, Relational, TextOps, VectorOps}
import graft.quality.QualityChecks
import graft.silver.SilverTransform
import graft.sources.FooterStats
import graft.Tables._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * `queries` entry (Spark DataFrame program) and, where ANSI-SQL-expressible,
  * a matching `oracleSql` entry that DuckDB runs over the same parquet tables.
  * Column names and ordering are aligned on both sides; float aggregates are
  * rounded on both sides to absorb summation-order differences.
  */
object SparkEntry {

  /** One registered query: Spark program + optional DuckDB oracle SQL. */
  final case class Q(name: String,
                     fn: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.regionRevenue(
      lineitem(spark, Sf0001), orders(spark, Sf0001), customer(spark, Sf0001),
      supplier(spark, Sf0001), nation(spark, Sf0001), region(spark, Sf0001))

  private val Sf0001 = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- registry

  private def relationalQueries: Seq[Q] = Seq(
    Q("rel_q1_pricing_summary",
      (s, d) => Relational.pricingSummary(lineitem(s, d)),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  round(avg(l_extendedprice), 4) AS avg_price,
             |  round(avg(l_discount), 4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("rel_q3_top_revenue_orders",
      (s, d) => Relational.topRevenueOrders(
        lineitem(s, d), orders(s, d), customer(s, d), "BUILDING", 10),
      Some("""SELECT l_orderkey,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             |  o_orderpriority
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey
             |LIMIT 10""".stripMargin)),

    Q("rel_q5_region_revenue",
      (s, d) => Relational.regionRevenue(lineitem(s, d), orders(s, d),
        customer(s, d), supplier(s, d), nation(s, d), region(s, d)),
      Some("""SELECT r_name, n_name,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name
             |ORDER BY r_name, n_name""".stripMargin)),

    // Q11 shape: HAVING SUM > multiple·mean-part with the cut line decided
    // in exact integer cross-multiplication (cents·n·1000 > total·1300)
    Q("rel_q11_important_parts",
      (s, d) => Relational.importantParts(lineitem(s, d), part(s, d)),
      Some("""WITH pp AS (
             |  SELECT l_partkey,
             |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
             |      * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |  FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents,
             |        count(*) AS n_parts
             |      FROM pp)
             |SELECT l_partkey, p_name, p_type,
             |  round(CAST(cents AS DOUBLE) / 100.0, 2) AS value,
             |  floor(CAST(cents AS DOUBLE) / total_cents * 1000000 + 0.5)
             |    / 1000000 AS share
             |FROM pp, t
             |JOIN part ON l_partkey = p_partkey
             |WHERE CAST(cents AS HUGEINT) * n_parts * 1000
             |      > CAST(total_cents AS HUGEINT) * 1300
             |ORDER BY value DESC, l_partkey""".stripMargin)),

    // Q22 shape: scalar-subquery average threshold + anti join, grouped
    // into synthetic country buckets
    Q("rel_q22_dormant_customers",
      (s, d) => Relational.dormantHighValueCustomers(customer(s, d), orders(s, d)),
      Some("""WITH a AS (
             |  SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0 AS avg_bal
             |  FROM customer WHERE c_acctbal > 0)
             |SELECT CAST(c_nationkey % 7 AS INTEGER) AS cntry_bucket,
             |  count(*) AS n_customers,
             |  round(CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
             |    AS DOUBLE) / 100.0, 2) AS total_bal
             |FROM customer, a
             |WHERE c_acctbal > a.avg_bal
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey
             |                    AND o_orderdate >= DATE '2000-01-01')
             |GROUP BY 1
             |ORDER BY 1""".stripMargin)),

    // Q21 shape: sole-late-shipper in multi-supplier F orders — Spark side
    // is the per-order-aggregate rewrite (one co-partitioned shuffle), the
    // oracle keeps the literal EXISTS/NOT-EXISTS chain: parity proves the
    // rewrite's equivalence, not just its determinism
    Q("rel_q21_waiting_suppliers",
      (s, d) => Relational.waitingSuppliers(lineitem(s, d), orders(s, d),
        supplier(s, d)),
      Some("""SELECT s_suppkey, s_name, count(*) AS numwait
             |FROM lineitem l1
             |JOIN orders ON o_orderkey = l1.l_orderkey
             |  AND o_orderstatus = 'F'
             |JOIN supplier ON s_suppkey = l1.l_suppkey
             |WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_suppkey <> l1.l_suppkey
             |                    AND l3.l_shipdate
             |                        > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY 1, 2
             |ORDER BY numwait DESC, s_suppkey
             |LIMIT 25""".stripMargin)),

    // Q2 shape: min-cost supplier per part over the DERIVED supply relation
    // — Spark runs the window-min rewrite, the oracle keeps the literal
    // correlated scalar subquery; parity proves the rewrite
    Q("rel_q2_min_cost_supplier",
      (s, d) => Relational.minCostSupplier(lineitem(s, d), part(s, d),
        supplier(s, d), nation(s, d), region(s, d)),
      Some("""WITH supply AS (
             |  SELECT l_partkey, l_suppkey,
             |    min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             |      AS cost_cents
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
             |  p_partkey, p_name,
             |  CAST(cost_cents AS DOUBLE) / 100.0 AS min_cost
             |FROM supply
             |JOIN part ON p_partkey = l_partkey
             |  AND p_type = 'SMALL' AND p_size <= 15
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
             |WHERE cost_cents = (SELECT min(cost_cents) FROM supply s2
             |                    WHERE s2.l_partkey = supply.l_partkey)
             |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
             |LIMIT 100""".stripMargin)),

    // Q4 shape: per-priority count of orders with a LATE lineitem (EXISTS
    // → left-semi; ship>order+30d is the commit/receipt proxy)
    Q("rel_q4_order_priority",
      (s, d) => Relational.orderPriorityCheck(lineitem(s, d), orders(s, d)),
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= DATE '1996-07-01'
             |  AND o_orderdate < DATE '1996-10-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q9 shape: nation×year profit on token-named parts; profit is exact
    // cents minus retail-cents×whole-units (the partsupp cost proxy)
    Q("rel_q9_product_profit",
      (s, d) => Relational.productProfit(lineitem(s, d), orders(s, d),
        part(s, d), supplier(s, d), nation(s, d)),
      Some("""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |  count(*) AS n_lines,
             |  CAST(sum(
             |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             |      AS BIGINT)
             |    - CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
             |      * CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE) / 100.0
             |    AS profit
             |FROM lineitem
             |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |JOIN orders ON o_orderkey = l_orderkey
             |GROUP BY 1, 2
             |ORDER BY n_name, o_year DESC""".stripMargin)),

    // Q12 shape: late-line priority split per return-flag class (the
    // shipmode stand-in), one conditional-count aggregate
    Q("rel_q12_late_priority",
      (s, d) => Relational.latePriorityByFlag(lineitem(s, d), orders(s, d)),
      Some("""SELECT l_returnflag,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |WHERE l_shipdate >= DATE '1997-01-01'
             |  AND l_shipdate < DATE '1998-01-01'
             |  AND l_returnflag IN ('A', 'R')
             |  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q13 is rel_order_count_distribution (registered in the window/agg
    // block below — same shape, predates the TPC-H sweep naming).
    // Q17 shape: small-quantity revenue with the 20%-of-average test as
    // the integer cross-multiply 5*qty*n < sum_qty (no float average)
    Q("rel_q17_small_quantity_revenue",
      (s, d) => Relational.smallQuantityRevenue(lineitem(s, d), part(s, d)),
      Some("""WITH lines AS (
             |  SELECT l_partkey,
             |    CAST(floor(l_quantity) AS BIGINT) AS qty,
             |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             |      AS price_cents
             |  FROM lineitem JOIN part ON p_partkey = l_partkey
             |  WHERE p_brand = 'Brand#3' AND p_size IN (1, 2, 3, 4, 5)),
             |st AS (
             |  SELECT qty, price_cents,
             |    sum(qty) OVER (PARTITION BY l_partkey) AS part_qty_sum,
             |    count(*) OVER (PARTITION BY l_partkey) AS n_lines
             |  FROM lines)
             |SELECT CAST(sum(price_cents) AS DOUBLE) / 100.0 / 7.0
             |    AS avg_yearly,
             |  count(*) AS n_small_lines
             |FROM st WHERE qty * 5 * n_lines < part_qty_sum"""
        .stripMargin)),

    // Q16 shape: distinct-supplier counts per (brand, type, size) cell with
    // brand/type/size exclusions and a NOT-IN flagged-supplier screen
    Q("rel_q16_supplier_part_counts",
      (s, d) => Relational.supplierPartCounts(lineitem(s, d), part(s, d),
        supplier(s, d)),
      Some("""WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey
             |                FROM lineitem)
             |SELECT p_brand, p_type, p_size,
             |  count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM supply
             |JOIN part ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
             |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
             |                        WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""
        .stripMargin)),

    // Q20 shape: suppliers shipping >50% of a part's year volume (integer
    // cross-multiply 2·pair > total), semi-joined to the supplier dim
    Q("rel_q20_majority_suppliers",
      (s, d) => Relational.majorityVolumeSuppliers(lineitem(s, d), part(s, d),
        supplier(s, d), nation(s, d)),
      Some("""WITH pq AS (
             |  SELECT l_partkey, l_suppkey,
             |    CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
             |      AS pair_qty
             |  FROM lineitem
             |  JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
             |  WHERE l_shipdate >= DATE '1998-01-01'
             |    AND l_shipdate < DATE '1999-01-01'
             |  GROUP BY 1, 2),
             |tot AS (SELECT l_partkey,
             |          CAST(sum(pair_qty) AS BIGINT) AS part_qty
             |        FROM pq GROUP BY 1),
             |maj AS (SELECT DISTINCT l_suppkey
             |        FROM pq JOIN tot USING (l_partkey)
             |        WHERE pair_qty * 2 > part_qty)
             |SELECT s_suppkey, s_name, n_name
             |FROM supplier
             |JOIN nation ON n_nationkey = s_nationkey
             |WHERE s_suppkey IN (SELECT l_suppkey FROM maj)
             |ORDER BY s_suppkey""".stripMargin)),

    Q("rel_q7_nation_volume",
      (s, d) => Relational.nationTradeVolume(lineitem(s, d), orders(s, d),
        customer(s, d), supplier(s, d), nation(s, d), "NATION_18", "NATION_19"),
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
             |  round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
             |    * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |JOIN nation cn ON c_nationkey = cn.n_nationkey
             |WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
             |   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
             |GROUP BY 1, 2, 3
             |ORDER BY 1, 2, 3""".stripMargin)),

    Q("rel_q8_market_share",
      (s, d) => Relational.marketShare(lineitem(s, d), orders(s, d),
        customer(s, d), supplier(s, d), nation(s, d), region(s, d),
        part(s, d), "NATION_2", "ASIA", "PROMO"),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |  round(CAST(sum(CASE WHEN sn.n_name = 'NATION_2'
             |                      THEN cents ELSE 0 END) AS DOUBLE)
             |        / CAST(sum(cents) AS DOUBLE), 6) AS mkt_share,
             |  round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS total_revenue
             |FROM (
             |  SELECT o_orderdate, l_suppkey,
             |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             |         AS BIGINT) AS cents
             |  FROM lineitem
             |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation cn ON c_nationkey = cn.n_nationkey
             |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA')
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |GROUP BY 1
             |ORDER BY 1""".stripMargin)),

    Q("rel_q10_returned_items",
      (s, d) => Relational.returnedItemLoss(lineitem(s, d), orders(s, d),
        customer(s, d), nation(s, d), "1996-01-01", "1996-04-01", 20),
      Some("""SELECT c_custkey, c_name, n_name,
             |  round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
             |    * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue,
             |  round(any_value(c_acctbal), 2) AS c_acctbal
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate >= DATE '1996-01-01'
             |  AND o_orderdate < DATE '1996-04-01'
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY revenue DESC, c_custkey
             |LIMIT 20""".stripMargin)),

    Q("rel_q18_large_orders",
      (s, d) => Relational.largeVolumeOrders(lineitem(s, d), orders(s, d),
        customer(s, d), 300.0),
      Some("""SELECT c_custkey, c_name, o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             |  round(o_totalprice, 2) AS o_totalprice, total_qty
             |FROM orders
             |JOIN (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
             |      FROM lineitem GROUP BY l_orderkey
             |      HAVING round(sum(l_quantity), 2) > 300.0) big
             |  ON o_orderkey = big.l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY total_qty DESC, o_orderkey""".stripMargin)),

    // Q6: exact-integer money — cents × discount-hundredths is an exact
    // long product, summed then divided ONCE
    Q("rel_q6_revenue_delta",
      (s, d) => Relational.revenueDelta(lineitem(s, d)),
      Some("""SELECT count(*) AS n_lines,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             |           * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             |    / 10000.0 AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= DATE '1996-01-01'
             |  AND l_shipdate < DATE '1997-01-01'
             |  AND l_quantity < 24
             |  AND CAST(round(l_discount * 100) AS INTEGER) BETWEEN 5 AND 7"""
        .stripMargin)),

    Q("rel_q14_promo_share",
      (s, d) => Relational.promoShare(lineitem(s, d), part(s, d)),
      Some("""SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             |  count(*) AS n_lines,
             |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN
             |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             |      AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS promo_revenue,
             |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             |    AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue,
             |  floor(100.0
             |    * CAST(sum(CASE WHEN p_type = 'PROMO' THEN
             |        CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             |          AS BIGINT) ELSE 0 END) AS DOUBLE)
             |    / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
             |        + 0.5) AS BIGINT)) AS DOUBLE) * 10000 + 0.5) / 10000
             |    AS promo_share_pct
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q15: ties kept via exact-cents equality with the scalar max
    Q("rel_q15_top_supplier",
      (s, d) => Relational.topSupplier(lineitem(s, d), supplier(s, d)),
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
             |      + 0.5) AS BIGINT)) AS BIGINT) AS cents
             |  FROM lineitem
             |  WHERE l_shipdate >= DATE '1996-01-01'
             |    AND l_shipdate < DATE '1996-04-01'
             |  GROUP BY 1)
             |SELECT s_suppkey, s_name, CAST(cents AS DOUBLE) / 100.0
             |    AS total_revenue
             |FROM rev JOIN supplier ON l_suppkey = s_suppkey
             |WHERE cents = (SELECT max(cents) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),

    Q("rel_q19_brackets",
      (s, d) => Relational.disjunctiveBrackets(lineitem(s, d), part(s, d)),
      Some("""WITH j AS (
             |  SELECT l_quantity, p_brand, p_size,
             |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
             |      AS BIGINT) AS cents
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |m AS (
             |  SELECT CASE
             |    WHEN p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             |      AND l_quantity BETWEEN 1 AND 11 THEN 1
             |    WHEN p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 10
             |      AND l_quantity BETWEEN 10 AND 20 THEN 2
             |    WHEN p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
             |      AND l_quantity BETWEEN 20 AND 30 THEN 3
             |    END AS bracket, cents
             |  FROM j)
             |SELECT bracket, count(*) AS n_lines,
             |  CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue
             |FROM m WHERE bracket IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("rel_join_semi",
      (s, d) => Relational.customersWithOrders(customer(s, d), orders(s, d)),
      Some("""SELECT c_mktsegment, count(*) AS n_customers,
             |  round(sum(c_acctbal), 2) AS sum_acctbal
             |FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    Q("rel_join_anti",
      (s, d) => Relational.customersWithoutOrders(customer(s, d), orders(s, d), "P"),
      Some("""SELECT c_custkey, c_name, c_mktsegment
             |FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)),

    Q("rel_window_topk_per_group",
      (s, d) => Relational.topOrdersPerCustomer(orders(s, d), 3),
      Some("""SELECT o_custkey, rn, o_orderkey, round(o_totalprice, 2) AS o_totalprice
             |FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders)
             |WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin)),

    Q("rel_window_running_total",
      (s, d) => Relational.runningQuantity(lineitem(s, d), 3),
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |  strftime(l_shipdate, '%Y-%m-%d') AS shipdate,
             |  l_quantity,
             |  round(sum(l_quantity) OVER (
             |    PARTITION BY l_suppkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
             |FROM lineitem
             |WHERE l_suppkey < 3
             |ORDER BY l_suppkey, shipdate, l_orderkey, l_linenumber""".stripMargin)),

    Q("rel_window_moving_avg",
      (s, d) => Relational.monthlyMovingAvg(orders(s, d)),
      Some("""WITH monthly AS (
             |  SELECT o_orderpriority,
             |    strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             |    round(sum(o_totalprice), 2) AS total
             |  FROM orders
             |  GROUP BY o_orderpriority, date_trunc('month', o_orderdate))
             |SELECT o_orderpriority, month, total,
             |  round(avg(total) OVER (
             |    PARTITION BY o_orderpriority ORDER BY month
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_avg
             |FROM monthly
             |ORDER BY o_orderpriority, month""".stripMargin)),

    Q("rel_agg_rollup",
      (s, d) => Relational.rollupSummary(lineitem(s, d)),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             |  coalesce(l_linestatus, 'ALL') AS linestatus,
             |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)),

    Q("rel_agg_cube",
      (s, d) => Relational.cubeSummary(orders(s, d)),
      Some("""SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
             |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
             |  count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders
             |GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY orderstatus, orderpriority""".stripMargin)),

    Q("rel_agg_grouping_sets",
      (s, d) => Relational.groupingSets(lineitem(s, d)),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             |  coalesce(l_linestatus, 'ALL') AS linestatus,
             |  count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY returnflag, linestatus""".stripMargin)),

    Q("rel_set_ops",
      (s, d) => Relational.setOpsCustomers(orders(s, d)),
      Some("""WITH open AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             |     done AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             |     tagged AS (
             |       SELECT o_custkey, 'open_only' AS set_op FROM (SELECT * FROM open EXCEPT SELECT * FROM done)
             |       UNION ALL
             |       SELECT o_custkey, 'both' AS set_op FROM (SELECT * FROM open INTERSECT SELECT * FROM done))
             |SELECT set_op, count(*) AS n_customers
             |FROM tagged GROUP BY set_op ORDER BY set_op""".stripMargin)),

    Q("rel_distinct_counts",
      (s, d) => Relational.distinctCounts(lineitem(s, d)),
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_suppkey) AS n_suppliers,
             |  count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    Q("rel_asof_join",
      (s, d) => Relational.asOfJoinOrdersEvents(orders(s, d), events(s, d), 15),
      Some("""SELECT o.o_orderkey, o.o_custkey % 15 AS key, e.event_id AS asof_event_id,
             |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS asof_event_time
             |FROM orders o
             |ASOF LEFT JOIN events e
             |  ON o.o_custkey % 15 = e.user_id AND e.ts <= o.o_orderdate
             |ORDER BY o.o_orderkey""".stripMargin)),

    Q("rel_range_join",
      (s, d) => Relational.shippedWithin(lineitem(s, d), orders(s, d), 30),
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |  round(avg(l_quantity), 4) AS avg_qty
             |FROM lineitem JOIN orders
             |  ON l_orderkey = o_orderkey
             | AND l_shipdate >= o_orderdate
             | AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    Q("rel_stats_aggs",
      (s, d) => Relational.statsAggs(lineitem(s, d)),
      Some("""SELECT l_returnflag,
             |  round(stddev_samp(l_quantity), 4) AS sd_qty,
             |  round(var_samp(l_quantity), 4) AS var_qty,
             |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
             |  round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // winsorization: clamp at per-group exact percentiles; the winsorized
    // mean is assembled from exact pieces (in-bounds long sum + count×bound
    // products), so no double ever accumulates in data order
    Q("rel_winsorize",
      (s, d) => Relational.winsorize(lineitem(s, d)),
      Some("""WITH c AS (
             |  SELECT l_returnflag,
             |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS vc
             |  FROM lineitem),
             |b AS (
             |  SELECT l_returnflag,
             |    quantile_cont(vc, 0.05) AS lo, quantile_cont(vc, 0.95) AS hi
             |  FROM c GROUP BY 1),
             |a AS (
             |  SELECT c.l_returnflag, count(*) AS n,
             |    CAST(sum(CASE WHEN CAST(vc AS DOUBLE) < lo THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_clipped_lo,
             |    CAST(sum(CASE WHEN CAST(vc AS DOUBLE) > hi THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_clipped_hi,
             |    CAST(sum(CASE WHEN CAST(vc AS DOUBLE) >= lo
             |                   AND CAST(vc AS DOUBLE) <= hi
             |                  THEN vc ELSE 0 END) AS BIGINT) AS sum_mid,
             |    any_value(lo) AS lo, any_value(hi) AS hi,
             |    CAST(sum(vc) AS BIGINT) AS sum_raw
             |  FROM c JOIN b ON b.l_returnflag = c.l_returnflag
             |  GROUP BY 1)
             |SELECT l_returnflag, n, n_clipped_lo, n_clipped_hi,
             |  floor(lo / 100.0 * 10000 + 0.5) / 10000 AS p_lo,
             |  floor(hi / 100.0 * 10000 + 0.5) / 10000 AS p_hi,
             |  floor(CAST(sum_raw AS DOUBLE) / n / 100.0 * 10000 + 0.5) / 10000
             |    AS mean_raw,
             |  floor((CAST(sum_mid AS DOUBLE)
             |      + CAST(n_clipped_lo AS DOUBLE) * lo
             |      + CAST(n_clipped_hi AS DOUBLE) * hi)
             |    / n / 100.0 * 10000 + 0.5) / 10000 AS mean_winsorized
             |FROM a ORDER BY l_returnflag""".stripMargin)),

    Q("rel_percentiles",
      (s, d) => Relational.percentiles(lineitem(s, d)),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
             |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
             |  round(quantile_cont(l_quantity, 0.75), 4) AS p75,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("rel_approx_percentiles",
      // sketch-based quantiles (approx_percentile / KLL-style) — the
      // constant-memory path at 100 TB. Like rel_approx_distinct, the oracle
      // checks the PROPERTY: the exact median must match and the sketch
      // estimate must land within 5% of it (relative), asserted per group.
      (s, d) => lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx_p50"),
          expr("percentile(l_extendedprice, 0.5)").as("exact_p50"))
        .select(col("l_returnflag"),
          round(col("exact_p50"), 4).as("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50"))
            <= col("exact_p50") * 0.05).as("within_tol"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
             |  true AS within_tol
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    Q("rel_salted_agg",
      (s, d) => Relational.saltedAggregation(lineitem(s, d), 16),
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("rel_pivot",
      (s, d) => Relational.pivotStatus(orders(s, d)),
      Some("""SELECT o_orderpriority,
             |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS F,
             |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS O,
             |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS P
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("rel_unpivot",
      (s, d) => Relational.unpivotStatus(orders(s, d)),
      Some("""WITH wide AS (
             |  SELECT o_orderpriority,
             |    round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS F,
             |    round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS O,
             |    round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS P
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT o_orderpriority, status, total FROM (
             |  SELECT o_orderpriority, 'F' AS status, F AS total FROM wide
             |  UNION ALL SELECT o_orderpriority, 'O', O FROM wide
             |  UNION ALL SELECT o_orderpriority, 'P', P FROM wide)
             |WHERE total IS NOT NULL
             |ORDER BY o_orderpriority, status""".stripMargin)),

    Q("rel_histogram",
      (s, d) => Relational.priceHistogram(orders(s, d), 25000.0),
      Some("""SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
             |  count(*) AS n,
             |  round(min(o_totalprice), 2) AS lo,
             |  round(max(o_totalprice), 2) AS hi
             |FROM orders GROUP BY bin ORDER BY bin""".stripMargin)),

    Q("rel_deterministic_sample",
      (s, d) => Relational.deterministicSample(lineitem(s, d), 10, 3),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  round(avg(l_extendedprice), 4) AS avg_price
             |FROM lineitem WHERE l_orderkey % 10 = 3
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("rel_approx_distinct",
      // HLL-sketch distinct counting — the constant-memory path for distinct
      // cardinalities at 100 TB. Sketch internals differ across engines, so
      // the oracle checks the PROPERTY instead of the estimate: the exact
      // count must match and the HLL estimate (rsd=0.02) must land within
      // 10% of it — DuckDB asserts `within_tol = true` per group.
      (s, d) => lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * 0.1).as("within_tol"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             |  true AS within_tol
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    Q("rel_window_lead_lag",
      (s, d) => Relational.leadLagQuartiles(orders(s, d), 200),
      Some("""SELECT o_custkey, o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             |  round(o_totalprice, 2) AS price,
             |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
             |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
             |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
             |FROM orders WHERE o_custkey < 200
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Q("rel_join_full_outer",
      (s, d) => Relational.fullOuterOrderCounts(customer(s, d), orders(s, d), "F"),
      Some("""SELECT match_type, count(*) AS n_rows,
             |  CAST(coalesce(sum(n_orders), 0) AS BIGINT) AS total_orders
             |FROM (
             |  SELECT CASE WHEN c.c_custkey IS NULL THEN 'order_only'
             |              WHEN o.o_custkey IS NULL THEN 'customer_only'
             |              ELSE 'both' END AS match_type,
             |         o.n_orders
             |  FROM customer c
             |  FULL OUTER JOIN (
             |    SELECT o_custkey, count(*) AS n_orders
             |    FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) o
             |  ON c.c_custkey = o.o_custkey)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("rel_scalar_subquery",
      (s, d) => Relational.belowAvgQuantityRevenue(lineitem(s, d), part(s, d)),
      // correlated scalar subquery in SQL; decorrelated agg+join in Spark —
      // quantities are integer-valued so the 0.2*avg threshold is IEEE-exact
      Some("""SELECT p_brand, count(*) AS n_lines,
             |  round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE l_quantity < (SELECT avg(l2.l_quantity) * 0.2
             |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    Q("rel_window_distribution",
      (s, d) => Relational.distributionWindows(lineitem(s, d), 3),
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
             |  floor((percent_rank() OVER w) * 10000 + 0.5) / 10000 AS pct_rank,
             |  floor((cume_dist() OVER w) * 10000 + 0.5) / 10000 AS cume,
             |  first_value(l_quantity) OVER wf AS min_qty,
             |  last_value(l_quantity) OVER wf AS max_qty,
             |  nth_value(l_quantity, 2) OVER wf AS second_qty
             |FROM lineitem WHERE l_suppkey < 3
             |WINDOW
             |  w AS (PARTITION BY l_suppkey
             |        ORDER BY l_quantity, l_orderkey, l_linenumber),
             |  wf AS (PARTITION BY l_suppkey
             |         ORDER BY l_quantity, l_orderkey, l_linenumber
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY l_suppkey, l_quantity, l_orderkey, l_linenumber""".stripMargin)),

    Q("rel_window_range_frame",
      (s, d) => Relational.trailing30DayRevenue(orders(s, d), 150),
      // RANGE frame on an integer day key: same-day rows share the frame;
      // sums of 2-decimal prices rounded on both sides
      Some("""SELECT o_orderpriority, o_orderkey,
             |  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day,
             |  round(o_totalprice, 2) AS price,
             |  round(sum(o_totalprice) OVER (
             |    PARTITION BY o_orderpriority ORDER BY
             |      date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
             |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS trail30
             |FROM orders WHERE o_custkey < 150
             |ORDER BY o_orderpriority, day, o_orderkey""".stripMargin)),

    Q("rel_string_agg",
      (s, d) => Relational.nationsPerRegion(nation(s, d), region(s, d)),
      Some("""SELECT r_name, count(*) AS n_nations,
             |  string_agg(n_name, ',' ORDER BY n_name) AS nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // null-semantics breadth: nullif / null-safe equality / coalesce / nvl2
    Q("rel_null_semantics",
      (s, d) => customer(s, d)
        .filter(col("c_custkey") <= 200)
        .withColumn("seg_n", expr("nullif(c_mktsegment, 'BUILDING')"))
        .select(col("c_custkey"), col("seg_n"),
          col("seg_n").eqNullSafe(lit(null).cast("string")).as("was_building"),
          coalesce(col("seg_n"), lit("(default)")).as("seg_or_default"),
          expr("nvl2(seg_n, 'kept', 'nulled')").as("nvl2_tag"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey,
             |  nullif(c_mktsegment, 'BUILDING') AS seg_n,
             |  nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL AS was_building,
             |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(default)') AS seg_or_default,
             |  CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
             |       THEN 'kept' ELSE 'nulled' END AS nvl2_tag
             |FROM customer WHERE c_custkey <= 200
             |ORDER BY c_custkey""".stripMargin)),

    // multiset semantics: EXCEPT ALL / INTERSECT ALL keep duplicates, the
    // DISTINCT set ops (rel_set_ops) collapse them
    Q("rel_set_ops_all",
      (s, d) => {
        val open = orders(s, d).filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        val done = orders(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        open.exceptAll(done).agg(count(lit(1)).as("n_except_all"))
          .crossJoin(open.intersectAll(done).agg(count(lit(1)).as("n_intersect_all")))
      },
      Some("""WITH open AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
             |     done AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |SELECT
             |  (SELECT count(*) FROM (SELECT * FROM open EXCEPT ALL SELECT * FROM done)) AS n_except_all,
             |  (SELECT count(*) FROM (SELECT * FROM open INTERSECT ALL SELECT * FROM done)) AS n_intersect_all""".stripMargin)),

    Q("rel_topk_parts",
      (s, d) => Relational.topPartsByQuantity(lineitem(s, d), part(s, d), 10),
      Some("""SELECT l_partkey, p_name, p_brand,
             |  round(sum(l_quantity), 2) AS total_qty, count(*) AS n_lines
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY l_partkey, p_name, p_brand
             |ORDER BY total_qty DESC, l_partkey
             |LIMIT 10""".stripMargin)),

    // Efraimidis–Spirakis weighted sampling without replacement: selection
    // probability ∝ o_totalprice, randomness = md5-derived uniform, so the
    // exact sampled keys reproduce on any engine
    Q("rel_weighted_sample",
      (s, d) => Relational.weightedSample(orders(s, d), 15),
      Some("""WITH s AS (
             |  SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price,
             |    floor(ln((CAST(('0x' || substr(md5('ws:' || CAST(o_orderkey AS VARCHAR)), 1, 8))
             |         AS BIGINT) + 1.0) / 4294967296.0) / o_totalprice * 1e12) AS skey
             |  FROM orders),
             |r AS (
             |  SELECT o_orderpriority, o_orderkey, price,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY skey DESC, o_orderkey) AS rn
             |  FROM s)
             |SELECT o_orderpriority, CAST(rn AS INTEGER) AS rn, o_orderkey, price
             |FROM r WHERE rn <= 15
             |ORDER BY o_orderpriority, rn""".stripMargin)),

    // incremental cumulative-distinct: each customer counts once at their
    // first order month; running total over the month frame
    Q("rel_cumulative_distinct",
      (s, d) => Relational.cumulativeDistinctCustomers(orders(s, d)),
      Some("""WITH fm AS (
             |  SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS month
             |  FROM orders GROUP BY 1),
             |m AS (SELECT month, count(*) AS new_customers FROM fm GROUP BY 1)
             |SELECT strftime(month, '%Y-%m') AS month, new_customers,
             |  CAST(sum(new_customers) OVER (ORDER BY month
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS cum_customers
             |FROM m ORDER BY month""".stripMargin)),

    // exact rolling median over a trailing 3-month band: banded range
    // self-join + one percentile aggregate per anchor (medians don't
    // decompose into partials, so this IS the honest distributed exact form)
    Q("rel_rolling_median",
      (s, d) => Relational.rollingMedianMonthly(orders(s, d), 3),
      Some("""WITH om AS (
             |  SELECT CAST(date_diff('month', DATE '1992-01-01',
             |      date_trunc('month', o_orderdate)) AS INTEGER) AS m,
             |    o_orderpriority,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |a AS (SELECT DISTINCT o_orderpriority, m FROM om)
             |SELECT a.o_orderpriority AS priority, a.m AS m, count(*) AS n_orders,
             |  floor(quantile_cont(v.cents, 0.5) + 0.5) / 100 AS med_price
             |FROM a JOIN om v ON v.o_orderpriority = a.o_orderpriority
             |  AND v.m > a.m - 3 AND v.m <= a.m
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // correlated EXISTS / NOT EXISTS through the SQL front-end; Catalyst
    // decorrelates into LeftSemi + LeftAnti co-keyed on s_suppkey
    Q("rel_exists_subquery",
      (s, d) => Relational.existsSubquery(s, supplier(s, d), lineitem(s, d)),
      Some("""SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
             |FROM supplier s
             |WHERE EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l
             |                  WHERE l.l_suppkey = s.s_suppkey
             |                    AND l.l_returnflag = 'R'
             |                    AND l.l_quantity >= 48 AND l.l_discount > 0.08)
             |ORDER BY s_suppkey""".stripMargin)),

    // NOT IN with a NULLABLE rhs — three-valued logic surfaced in FILTER
    // context (where every engine agrees): the raw NOT IN selects NOTHING
    // (n_not_in_raw = 0, the trap), the null-stripped rewrite is the
    // meaningful anti-join, and IN + clean NOT IN partition the customers;
    // Catalyst plans the raw variant as a null-aware anti join (NAAJ)
    Q("rel_not_in_subquery",
      (s, d) => Relational.notInSubquery(s, customer(s, d), orders(s, d)),
      Some("""WITH nullable_rhs AS (
             |  SELECT CASE WHEN o_orderpriority <> '1-URGENT'
             |              THEN o_custkey END AS k
             |  FROM orders WHERE o_orderstatus = 'F'),
             |base AS (
             |  SELECT c_mktsegment, count(*) AS n_customers
             |  FROM customer GROUP BY c_mktsegment),
             |raw AS (
             |  SELECT c_mktsegment, count(*) AS n
             |  FROM customer
             |  WHERE c_custkey NOT IN (SELECT k FROM nullable_rhs)
             |  GROUP BY c_mktsegment),
             |inn AS (
             |  SELECT c_mktsegment, count(*) AS n
             |  FROM customer
             |  WHERE c_custkey IN (SELECT k FROM nullable_rhs)
             |  GROUP BY c_mktsegment),
             |clean AS (
             |  SELECT c_mktsegment, count(*) AS n
             |  FROM customer
             |  WHERE c_custkey NOT IN
             |    (SELECT k FROM nullable_rhs WHERE k IS NOT NULL)
             |  GROUP BY c_mktsegment)
             |SELECT b.c_mktsegment, b.n_customers,
             |  coalesce(raw.n, 0) AS n_not_in_raw,
             |  coalesce(inn.n, 0) AS n_in,
             |  coalesce(clean.n, 0) AS n_not_in_clean
             |FROM base b
             |LEFT JOIN raw ON raw.c_mktsegment = b.c_mktsegment
             |LEFT JOIN inn ON inn.c_mktsegment = b.c_mktsegment
             |LEFT JOIN clean ON clean.c_mktsegment = b.c_mktsegment
             |ORDER BY b.c_mktsegment""".stripMargin)),

    // correlated scalar aggregates in the SELECT list: COUNT over an empty
    // group must decorrelate to 0 (the "COUNT bug"), SUM to NULL (-1 via
    // coalesce) — exact integer cents, no float drift (DuckDB sum(BIGINT)
    // is HUGEINT — cast the coalesce back to BIGINT for the comparator)
    Q("rel_correlated_select_agg",
      (s, d) => Relational.scalarAggSubquery(s, supplier(s, d), lineitem(s, d)),
      Some("""SELECT s_suppkey, s_name,
             |  (SELECT count(*) FROM lineitem l
             |   WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49) AS n_big,
             |  CAST(coalesce(
             |    (SELECT sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
             |     FROM lineitem l
             |     WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49),
             |    -1) AS BIGINT) AS big_cents
             |FROM supplier s
             |ORDER BY s_suppkey""".stripMargin)),

    // LATERAL subquery with ORDER BY + LIMIT: top-3 lines per supplier,
    // decorrelated by Catalyst into a per-key window rank — one shuffle,
    // no per-row re-scan, no cartesian (PlanGuard)
    Q("rel_lateral_topk",
      (s, d) => Relational.lateralTopPerKey(s, supplier(s, d), lineitem(s, d)),
      Some("""SELECT s.s_suppkey, t.l_orderkey, t.cents
             |FROM supplier s,
             |LATERAL (
             |  SELECT l_orderkey,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem l
             |  WHERE l.l_suppkey = s.s_suppkey
             |  ORDER BY cents DESC, l_orderkey
             |  LIMIT 3) t
             |ORDER BY s.s_suppkey, t.cents DESC, t.l_orderkey""".stripMargin)),

    // TPC-H Q13-shaped: LEFT join keeps zero-order customers at count 0,
    // then the order-count histogram — the classic outer-join-then-agg
    Q("rel_order_count_distribution",
      (s, d) => Relational.customerOrderDistribution(customer(s, d), orders(s, d)),
      Some("""WITH pc AS (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey)
             |SELECT c_count, count(*) AS custdist
             |FROM pc GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // SQL PIVOT: segment × priority revenue matrix in exact integer cents;
    // Catalyst rewrites the pivot to the same five conditional sums the
    // oracle states (DuckDB sum(BIGINT) is HUGEINT — cast back)
    Q("rel_pivot_segment_priority",
      (s, d) => Relational.pivotSegmentPriority(s, customer(s, d), orders(s, d)),
      Some("""SELECT c_mktsegment,
             |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
             |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS urgent,
             |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'
             |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS high,
             |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
             |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS medium,
             |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
             |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS unspec,
             |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
             |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS low
             |FROM orders JOIN customer ON c_custkey = o_custkey
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // schema-evolution union: v1 extract has no priority column, v2 does;
    // unionByName(allowMissingColumns) null-fills — UNION ALL BY NAME twin
    Q("rel_union_by_name",
      (s, d) => Relational.unionByNameEvolution(orders(s, d)),
      Some("""WITH v1 AS (
             |  SELECT o_orderkey, o_totalprice, o_custkey
             |  FROM orders WHERE o_orderdate < DATE '1994-01-01'),
             |v2 AS (
             |  SELECT o_custkey, o_orderkey, o_orderpriority, o_totalprice
             |  FROM orders WHERE o_orderdate >= DATE '1994-01-01'),
             |u AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
             |SELECT coalesce(o_orderpriority, '0-LEGACY') AS priority,
             |  count(*) AS n_orders,
             |  round(sum(o_totalprice), 2) AS total_price
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Morton/z-order layout: per top-4-bit z-range, the min/max envelope of
    // BOTH interleaved dimensions — the parquet data-skipping geometry
    // Customer-concentration deciles (Lorenz/lift table): exact-cents
    // spend, ntile(10) with a unique tie-break, per-decile and cumulative
    // revenue shares — the skew diagnostic for revenue-keyed workloads
    // revenue bridge: price/volume/mix decomposition between the first
    // and last ship month per priority segment — exact BIGINT cents in,
    // three rational effects out, resid audits the identity
    Q("rel_revenue_bridge",
      (s, d) => Relational.revenueBridge(lineitem(s, d), orders(s, d)),
      Some("""WITH seg AS (
             |  SELECT o.o_orderpriority AS seg,
             |    date_trunc('month', l.l_shipdate) AS month,
             |    CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS rc,
             |    CAST(floor(l.l_quantity * 100 + 0.5) AS BIGINT) AS vc
             |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
             |b AS (SELECT min(month) AS m1, max(month) AS m2 FROM seg),
             |per AS (
             |  SELECT seg,
             |    CAST(sum(CASE WHEN month = m1 THEN rc END) AS BIGINT) AS r1,
             |    CAST(sum(CASE WHEN month = m1 THEN vc END) AS BIGINT) AS v1,
             |    CAST(sum(CASE WHEN month = m2 THEN rc END) AS BIGINT) AS r2,
             |    CAST(sum(CASE WHEN month = m2 THEN vc END) AS BIGINT) AS v2
             |  FROM seg CROSS JOIN b
             |  WHERE month = m1 OR month = m2 GROUP BY 1),
             |p AS (
             |  SELECT *,
             |    CAST(r1 AS DOUBLE) / CAST(v1 AS DOUBLE) AS p1,
             |    CAST(r2 AS DOUBLE) / CAST(v2 AS DOUBLE) AS p2
             |  FROM per)
             |SELECT seg,
             |  floor(CAST(r1 AS DOUBLE) / 100.0 * 100 + 0.5) / 100 AS rev_m1,
             |  floor(CAST(r2 AS DOUBLE) / 100.0 * 100 + 0.5) / 100 AS rev_m2,
             |  floor(CAST(r2 - r1 AS DOUBLE) / 100.0 * 100 + 0.5) / 100
             |    AS delta,
             |  floor(p1 * CAST(v2 - v1 AS DOUBLE) / 100.0 * 100 + 0.5) / 100
             |    AS volume_effect,
             |  floor(CAST(v1 AS DOUBLE) * (p2 - p1) / 100.0 * 100 + 0.5) / 100
             |    AS price_effect,
             |  floor((p2 - p1) * CAST(v2 - v1 AS DOUBLE) / 100.0 * 100 + 0.5)
             |    / 100 AS mix_effect,
             |  floor((CAST(r2 - r1 AS DOUBLE)
             |      - p1 * CAST(v2 - v1 AS DOUBLE)
             |      - CAST(v1 AS DOUBLE) * (p2 - p1)
             |      - (p2 - p1) * CAST(v2 - v1 AS DOUBLE))
             |    / 100.0 * 100 + 0.5) / 100 AS resid
             |FROM p ORDER BY seg""".stripMargin)),

    Q("rel_lorenz_deciles",
      (s, d) => Relational.lorenzDeciles(orders(s, d)),
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM orders GROUP BY 1),
             |r AS (SELECT o_custkey, cents,
             |    ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
             |  FROM spend),
             |d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
             |    CAST(sum(cents) AS BIGINT) AS decile_cents
             |  FROM r GROUP BY 1),
             |t AS (SELECT CAST(sum(decile_cents) AS BIGINT) AS total_cents FROM d),
             |c AS (SELECT decile, n_customers, decile_cents,
             |    CAST(sum(decile_cents) OVER (ORDER BY decile
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_cents
             |  FROM d)
             |SELECT decile, n_customers,
             |  CAST(decile_cents AS DOUBLE) / 100 AS decile_revenue,
             |  floor(CAST(decile_cents AS DOUBLE) / total_cents * 10000 + 0.5)
             |    / 10000 AS revenue_share,
             |  floor(CAST(cum_cents AS DOUBLE) / total_cents * 10000 + 0.5)
             |    / 10000 AS cum_share
             |FROM c, t ORDER BY decile""".stripMargin)),

    Q("store_zorder_stats",
      (s, d) => Relational.zOrderLayoutStats(lineitem(s, d)),
      Some("""WITH p AS (
             |  SELECT CAST(l_partkey % 256 AS INTEGER) AS x,
             |         CAST(l_suppkey % 256 AS INTEGER) AS y
             |  FROM lineitem),
             |z AS (
             |  SELECT x, y, CAST(list_sum(list_transform(range(0, 8), i ->
             |    (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
             |    AS INTEGER) AS zkey
             |  FROM p)
             |SELECT CAST(zkey >> 12 AS INTEGER) AS z_range, count(*) AS n,
             |  min(x) AS x_min, max(x) AS x_max,
             |  min(y) AS y_min, max(y) AS y_max,
             |  max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
             |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("store_hilbert_stats",
      (s, d) => Relational.hilbertLayoutStats(lineitem(s, d)),
      Some {
        s"""WITH $duckHilbertPointCtes
           |SELECT CAST(d >> 12 AS INTEGER) AS h_range, count(*) AS n,
           |  min(x) AS x_min, max(x) AS x_max,
           |  min(y) AS y_min, max(y) AS y_max,
           |  max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
           |FROM h0 GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // three layouts, one predicate box: per-layout files hit, rows scanned
    // through surviving min/max envelopes, and scan amplification — the
    // number the hilbert-vs-zorder choice actually turns on
    Q("store_layout_compare",
      (s, d) => Relational.layoutSkippingCompare(lineitem(s, d)),
      Some {
        def layoutSql(name: String, fileExpr: String): String =
          s"""SELECT '$name' AS layout, n_files, files_hit, rows_scanned,
             |  rows_matched,
             |  floor(CAST(rows_scanned AS DOUBLE)
             |    / CAST(NULLIF(rows_matched, 0) AS DOUBLE)
             |    * 10000 + 0.5) / 10000 AS scan_amplification
             |FROM (
             |  SELECT count(*) AS n_files,
             |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
             |      AS files_hit,
             |    CAST(sum(CASE WHEN hit THEN rows ELSE 0 END) AS BIGINT)
             |      AS rows_scanned,
             |    CAST(sum(match_rows) AS BIGINT) AS rows_matched
             |  FROM (
             |    SELECT count(*) AS rows,
             |      sum(CASE WHEN x BETWEEN 0 AND 255 AND y BETWEEN 2 AND 7
             |               THEN 1 ELSE 0 END) AS match_rows,
             |      max(x) >= 0 AND min(x) <= 255
             |        AND max(y) >= 2 AND min(y) <= 7 AS hit
             |    FROM h0 GROUP BY $fileExpr))""".stripMargin
        s"""WITH $duckHilbertPointCtes
           |${layoutSql("hilbert", "(d >> 12)")}
           |UNION ALL
           |${layoutSql("linear", "(x >> 4)")}
           |UNION ALL
           |${layoutSql("zorder", "((" + duckZkeyExpr + ") >> 12)")}
           |ORDER BY layout""".stripMargin
      }),

    // market-share leaders: top supplier per part (deterministic tiebreak),
    // rolled up per supplier; shares are exact integer-sum ratios, q4
    Q("rel_top_supplier_share",
      (s, d) => Relational.topSupplierShare(lineitem(s, d), supplier(s, d)),
      Some("""WITH ps AS (
             |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2),
             |pt AS (
             |  SELECT l_partkey, sum(l_quantity) AS total
             |  FROM lineitem GROUP BY 1),
             |r AS (
             |  SELECT ps.l_partkey, ps.l_suppkey, ps.qty, pt.total,
             |    row_number() OVER (PARTITION BY ps.l_partkey
             |      ORDER BY ps.qty DESC, ps.l_suppkey) AS rn
             |  FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey)
             |SELECT s.s_suppkey, s.s_name, count(*) AS n_top_parts,
             |  max(floor(qty / total * 10000 + 0.5) / 10000) AS best_share
             |FROM r JOIN supplier s ON s.s_suppkey = r.l_suppkey
             |WHERE rn = 1
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // all C(4,2) Pearson coefficients in ONE partial+final aggregate pass,
    // unpivoted to pair rows; 4dp-quantized (corr sums are order-dependent)
    Q("rel_corr_matrix",
      (s, d) => Relational.corrMatrix(lineitem(s, d)),
      Some("""SELECT * FROM (
             |  SELECT 'l_discount' AS col_a, 'l_tax' AS col_b,
             |    floor(corr(l_discount, l_tax) * 10000 + 0.5) / 10000 AS r
             |  FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
             |    floor(corr(l_extendedprice, l_discount) * 10000 + 0.5) / 10000
             |  FROM lineitem
             |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
             |    floor(corr(l_extendedprice, l_tax) * 10000 + 0.5) / 10000
             |  FROM lineitem
             |  UNION ALL SELECT 'l_quantity', 'l_discount',
             |    floor(corr(l_quantity, l_discount) * 10000 + 0.5) / 10000
             |  FROM lineitem
             |  UNION ALL SELECT 'l_quantity', 'l_extendedprice',
             |    floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000
             |  FROM lineitem
             |  UNION ALL SELECT 'l_quantity', 'l_tax',
             |    floor(corr(l_quantity, l_tax) * 10000 + 0.5) / 10000
             |  FROM lineitem)
             |ORDER BY col_a, col_b""".stripMargin)),

    // decile feature binning: exact interpolated edges on integer cents,
    // broadcast back; per-bin population + bounds
    Q("rel_quantile_bins",
      (s, d) => Relational.quantileBins(orders(s, d)),
      Some("""WITH c AS (
             |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |e AS (SELECT quantile_cont(cents,
             |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs FROM c),
             |s AS (
             |  SELECT cents, 1
             |    + CAST(cents > qs[1] AS INTEGER) + CAST(cents > qs[2] AS INTEGER)
             |    + CAST(cents > qs[3] AS INTEGER) + CAST(cents > qs[4] AS INTEGER)
             |    + CAST(cents > qs[5] AS INTEGER) + CAST(cents > qs[6] AS INTEGER)
             |    + CAST(cents > qs[7] AS INTEGER) + CAST(cents > qs[8] AS INTEGER)
             |    + CAST(cents > qs[9] AS INTEGER) AS bin
             |  FROM c CROSS JOIN e)
             |SELECT bin, count(*) AS n,
             |  min(cents) / 100.0 AS min_price, max(cents) / 100.0 AS max_price
             |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // decile binning with GK-sketch edges (the distributed 100-TB edge
    // pass), property-checked against the exact-edge populations: exact
    // bins ride along for hash parity, the flag asserts the approx path
    // lands within 1% per bin
    Q("rel_quantile_bins_approx",
      (s, d) => {
        val exact = Relational.quantileBins(orders(s, d))
        val approx = Relational.quantileBins(orders(s, d), useApprox = true)
          .select(col("bin"), col("n").as("an"))
        val tot = exact.agg(sum(col("n")).as("tot"))
        exact.join(approx, Seq("bin")).crossJoin(broadcast(tot))
          .select(col("bin"), col("n"), col("min_price"), col("max_price"),
            (abs(col("an") - col("n")) <= greatest(col("tot") * 0.01, lit(10.0)))
              .as("within_tol"))
          .orderBy(col("bin"))
      },
      Some("""WITH c AS (
             |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |e AS (SELECT quantile_cont(cents,
             |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs FROM c),
             |s AS (
             |  SELECT cents, 1
             |    + CAST(cents > qs[1] AS INTEGER) + CAST(cents > qs[2] AS INTEGER)
             |    + CAST(cents > qs[3] AS INTEGER) + CAST(cents > qs[4] AS INTEGER)
             |    + CAST(cents > qs[5] AS INTEGER) + CAST(cents > qs[6] AS INTEGER)
             |    + CAST(cents > qs[7] AS INTEGER) + CAST(cents > qs[8] AS INTEGER)
             |    + CAST(cents > qs[9] AS INTEGER) AS bin
             |  FROM c CROSS JOIN e)
             |SELECT bin, count(*) AS n,
             |  min(cents) / 100.0 AS min_price, max(cents) / 100.0 AS max_price,
             |  true AS within_tol
             |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // RFM segmentation against broadcast exact-percentile thresholds (not
    // a global-window ntile); metrics are exact ints so scores are
    // engine-identical
    Q("rel_rfm_segments",
      (s, d) => Relational.rfmSegments(orders(s, d)),
      Some("""WITH pc AS (
             |  SELECT o_custkey, max(o_orderdate) AS last_order,
             |    count(*) AS frequency,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders GROUP BY 1),
             |mx AS (SELECT max(o_orderdate) AS max_date FROM orders),
             |pr AS (
             |  SELECT pc.*, date_diff('day', last_order, max_date) AS recency
             |  FROM pc CROSS JOIN mx),
             |th AS (
             |  SELECT quantile_cont(recency, [0.25, 0.5, 0.75]) AS rq,
             |    quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
             |    quantile_cont(cents, [0.25, 0.5, 0.75]) AS mq
             |  FROM pr),
             |sc AS (
             |  SELECT 5 - (1 + CAST(recency > rq[1] AS INTEGER)
             |        + CAST(recency > rq[2] AS INTEGER)
             |        + CAST(recency > rq[3] AS INTEGER)) AS r,
             |    1 + CAST(frequency > fq[1] AS INTEGER)
             |      + CAST(frequency > fq[2] AS INTEGER)
             |      + CAST(frequency > fq[3] AS INTEGER) AS f,
             |    1 + CAST(cents > mq[1] AS INTEGER)
             |      + CAST(cents > mq[2] AS INTEGER)
             |      + CAST(cents > mq[3] AS INTEGER) AS m,
             |    cents
             |  FROM pr CROSS JOIN th)
             |SELECT r, f, m, count(*) AS n_customers,
             |  sum(cents) / 100.0 AS segment_value
             |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // per-nation OLS (regr_* aggregate family): one partial+final agg pass
    // after broadcast dim joins; slope/intercept/R2 floor-quantized
    Q("rel_regression",
      (s, d) => Relational.regressionByNation(
        lineitem(s, d), supplier(s, d), nation(s, d)),
      Some("""SELECT n_name,
             |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_lines,
             |  floor(regr_slope(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000
             |    AS slope,
             |  floor(regr_intercept(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000
             |    AS intercept,
             |  floor(regr_r2(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000
             |    AS r2
             |FROM lineitem
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // 2-D Pareto frontier via monotone running-max scan (one sort, no
    // self-join): points no other point beats on both price and volume
    Q("rel_skyline",
      (s, d) => Relational.skylineFrontier(lineitem(s, d), part(s, d)),
      Some("""WITH pq AS (
             |  SELECT l_partkey, sum(l_quantity) AS qty FROM lineitem GROUP BY 1),
             |pts AS (
             |  SELECT p.p_partkey, round(p.p_retailprice, 2) AS price, pq.qty
             |  FROM part p JOIN pq ON pq.l_partkey = p.p_partkey),
             |best AS (SELECT price, max(qty) AS qty FROM pts GROUP BY 1),
             |rep AS (
             |  SELECT b.price, b.qty, min(p.p_partkey) AS part_id
             |  FROM best b JOIN pts p ON p.price = b.price AND p.qty = b.qty
             |  GROUP BY 1, 2),
             |f AS (
             |  SELECT price, qty, part_id,
             |    max(qty) OVER (ORDER BY price
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
             |  FROM rep)
             |SELECT price, round(qty, 2) AS qty, part_id FROM f
             |WHERE prevmax IS NULL OR qty > prevmax
             |ORDER BY price""".stripMargin)),

    // bounded-depth hierarchy rollup: ancestor-set explode + ONE groupBy —
    // the Spark-native answer to the recursive-CTE BOM/org-chart aggregate
    // (no per-level shuffle chain); demo tree is parent = custkey >> 1
    Q("rel_hierarchy_rollup",
      (s, d) => Relational.hierarchyRollup(orders(s, d)),
      Some("""WITH a AS (
             |  SELECT o_custkey >> CAST(j.j AS INTEGER) AS node, o_custkey,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders CROSS JOIN (SELECT unnest(range(0, 21)) AS j) j
             |  WHERE (o_custkey >> CAST(j.j AS INTEGER)) >= 1
             |    AND (o_custkey >> CAST(j.j AS INTEGER)) < 16)
             |SELECT node, CAST(floor(log2(node)) AS INTEGER) AS level,
             |  count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders,
             |  CAST(sum(cents) AS BIGINT) / 100.0 AS subtree_revenue
             |FROM a GROUP BY 1 ORDER BY node""".stripMargin)),

    // IGNORE NULLS window surface: gap-carry of a sparse column in both
    // directions — last_value/first_value IGNORE NULLS on both engines
    Q("rel_window_ignore_nulls",
      (s, d) => Relational.windowIgnoreNulls(lineitem(s, d), 5),
      Some("""WITH b AS (
             |  SELECT l_suppkey, l_orderkey, l_linenumber,
             |    strftime(l_shipdate, '%Y-%m-%d') AS shipdate,
             |    CASE WHEN l_returnflag = 'R'
             |         THEN round(l_extendedprice, 2) END AS ret_price
             |  FROM lineitem WHERE l_suppkey < 5)
             |SELECT l_suppkey, l_orderkey, l_linenumber, shipdate, ret_price,
             |  last_value(ret_price IGNORE NULLS) OVER (
             |    PARTITION BY l_suppkey ORDER BY shipdate, l_orderkey, l_linenumber
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_back,
             |  first_value(ret_price IGNORE NULLS) OVER (
             |    PARTITION BY l_suppkey ORDER BY shipdate, l_orderkey, l_linenumber
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS carry_fwd
             |FROM b
             |ORDER BY l_suppkey, shipdate, l_orderkey, l_linenumber""".stripMargin)),

    // incremental aggregate maintenance: base partials + delta batch merge
    // by re-aggregation; the oracle is the NAIVE FULL RECOMPUTE, so the
    // hash compare proves the delta identity
    Q("rel_delta_agg_merge",
      (s, d) => Relational.deltaAggMerge(orders(s, d), "1996-01-01"),
      Some("""SELECT o_orderpriority AS priority, count(*) AS n_orders,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    / 100.0 AS total_price
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // custom DECLARATIVE aggregate: geometric mean with a (sum-ln, n)
    // buffer — expression-tree update/merge/evaluate, so it codegens and
    // partial-aggregates like a built-in (unlike an opaque UDAF/Aggregator)
    Q("rel_geomean",
      (s, d) => {
        graft.functions.GeoMean.register(s)
        orders(s, d)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg((floor(expr("geomean(o_totalprice)") * 10000 + 0.5) / 10000)
            .as("geomean_price"))
          .orderBy(col("priority"))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  floor(exp(avg(ln(o_totalprice))) * 10000 + 0.5) / 10000
             |    AS geomean_price
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // partition-key skew report: the pre-bucketing diagnostic — per-key
    // counts reduced to one row of layout stats + heavy-key census
    Q("store_partition_skew",
      (s, d) => Relational.partitionSkew(events(s, d), "user_id"),
      Some("""WITH s AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
             |t AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
             |  min(n) AS min_rows, max(n) AS max_rows, avg(n) AS avg_raw FROM s)
             |SELECT t.n_keys, t.n_rows, t.min_rows, t.max_rows,
             |  floor(t.avg_raw * 100 + 0.5) / 100 AS avg_rows,
             |  floor(t.max_rows / t.avg_raw * 10000 + 0.5) / 10000 AS skew_ratio,
             |  (SELECT CAST(count(*) AS BIGINT) FROM s
             |     WHERE s.n > t.avg_raw * 1.5) AS n_heavy_keys
             |FROM t""".stripMargin)),

    // rendezvous-hashing shard planner + resize audit: per-key argmax of
    // portable MD5-61 weights; adding a shard moves keys ONLY onto the new
    // shard (cross_moves pinned to 0 by the HRW property, certified here)
    Q("store_rendezvous_shards",
      (s, d) => Relational.rendezvousShards(documents(s, d)),
      Some(s"""WITH a AS (
              |  SELECT
              |    CAST(list_max(list_transform(range(8), s ->
              |      [${duckH61("CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)")},
              |       CAST(s AS BIGINT)]))[2] AS INTEGER) AS before_shard,
              |    CAST(list_max(list_transform(range(9), s ->
              |      [${duckH61("CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)")},
              |       CAST(s AS BIGINT)]))[2] AS INTEGER) AS after_shard
              |  FROM documents),
              |ex AS (
              |  SELECT before_shard AS shard, 1 AS cb, 0 AS ca,
              |    CASE WHEN before_shard = after_shard THEN 1 ELSE 0 END AS st,
              |    0 AS cm
              |  FROM a
              |  UNION ALL
              |  SELECT after_shard, 0, 1, 0,
              |    CASE WHEN before_shard <> after_shard AND after_shard <> 8
              |      THEN 1 ELSE 0 END
              |  FROM a),
              |g AS (SELECT shard, CAST(sum(cb) AS BIGINT) AS cnt_before,
              |        CAST(sum(ca) AS BIGINT) AS cnt_after,
              |        CAST(sum(st) AS BIGINT) AS stayed,
              |        CAST(sum(cm) AS BIGINT) AS cm
              |      FROM ex GROUP BY 1),
              |t AS (SELECT CAST(sum(cm) AS BIGINT) AS cross_moves FROM g)
              |SELECT shard, cnt_before, cnt_after, stayed,
              |  cnt_before - stayed AS moved_out, cross_moves
              |FROM g, t ORDER BY shard""".stripMargin)),

    // scan-order compaction planner: streaming cumsum binning of a file
    // inventory into target-sized output bins (metadata-scale op)
    Q("store_compaction_bins",
      (s, d) => Relational.compactionBins(orders(s, d), 5000L),
      Some("""WITH files AS (
             |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS f,
             |    count(*) AS sz
             |  FROM orders GROUP BY 1),
             |c AS (
             |  SELECT f, sz,
             |    coalesce(sum(sz) OVER (ORDER BY f
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
             |  FROM files)
             |SELECT CAST(floor(before / 5000) AS BIGINT) AS bin,
             |  count(*) AS n_files, CAST(sum(sz) AS BIGINT) AS total_rows,
             |  min(f) AS first_file, max(f) AS last_file
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Bloom-filter data skipping: per-"file" (orderkey-residue bucket)
    // partkey blooms from the portable md5-prefix hash, probed for keys
    // 1..20 — candidate vs true buckets, false-positive overhead, and the
    // measured scan-skip rate; the oracle rebuilds the identical index
    Q("store_bloom_skip",
      (s, d) => Relational.bloomSkipStats(lineitem(s, d)),
      Some("""WITH keys AS (
             |  SELECT DISTINCT l_orderkey % 64 AS bucket, l_partkey AS key
             |  FROM lineitem),
             |bloom AS (
             |  SELECT DISTINCT bucket,
             |    CAST(('0x' || substr(md5('bf' || CAST(r AS VARCHAR) || ':'
             |      || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS bit
             |  FROM keys, (SELECT unnest(range(3)) AS r)),
             |probes AS (SELECT unnest(range(1, 21)) AS key),
             |pb AS (
             |  SELECT key, r,
             |    CAST(('0x' || substr(md5('bf' || CAST(r AS VARCHAR) || ':'
             |      || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS bit
             |  FROM probes, (SELECT unnest(range(3)) AS r)),
             |cand AS (
             |  SELECT key, bucket FROM pb JOIN bloom USING (bit)
             |  GROUP BY key, bucket HAVING count(DISTINCT r) = 3),
             |cc AS (SELECT key, count(DISTINCT bucket) AS n_candidates
             |  FROM cand GROUP BY key),
             |tc AS (SELECT key, count(DISTINCT bucket) AS n_true
             |  FROM keys WHERE key BETWEEN 1 AND 20 GROUP BY key)
             |SELECT p.key,
             |  CAST(coalesce(cc.n_candidates, 0) AS BIGINT) AS n_candidates,
             |  CAST(coalesce(tc.n_true, 0) AS BIGINT) AS n_true,
             |  CAST(coalesce(cc.n_candidates, 0)
             |    - coalesce(tc.n_true, 0) AS BIGINT) AS n_false_pos,
             |  floor((1.0 - CAST(coalesce(cc.n_candidates, 0) AS DOUBLE) / 64)
             |    * 10000 + 0.5) / 10000 AS skip_rate
             |FROM probes p
             |LEFT JOIN cc ON cc.key = p.key
             |LEFT JOIN tc ON tc.key = p.key
             |ORDER BY p.key""".stripMargin)),

    // END-TO-END footer skipping: write a date-bucketed parquet layout,
    // read the REAL row-group footers back (ParquetFileReader, no data
    // pages), and derive per-bucket envelopes + the skip verdict for a
    // H2'95 predicate from footer statistics alone. Oracle parity proves
    // the writer laid out the claimed buckets AND the committed stats are
    // planner-trustworthy — the simulation-free half of the store_ family.
    Q("store_footer_skip",
      (s, d) => FooterStats.dateBucketSkipStats(orders(s, d),
        s"/tmp/graft_footer_skip/${d.replaceAll("[^A-Za-z0-9]", "_")}",
        "1995-06-01", "1995-12-31"),
      Some("""SELECT
             |  CAST(floor(date_diff('day', DATE '1992-01-01', o_orderdate)
             |    / 120.0) AS INTEGER) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
             |  strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
             |  (max(o_orderdate) < DATE '1995-06-01'
             |    OR min(o_orderdate) > DATE '1995-12-31') AS skipped
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** Graph analytics beyond connected components: exact triangle counting
    * with the degree-ordered orientation (SURVEY.md §2 extension). The edge
    * list derives deterministically from lineitem key residues, so the
    * oracle replays the identical graph.
    */
  private def graphQueries: Seq[Q] = {
    // the graph oracles reference every CTE several times over (tri reads
    // oriented 3x, each round of the unrolled iterations re-reads the edge
    // frame); DuckDB INLINES plain CTEs, so the expansions re-run the whole
    // upstream subtree per reference — MATERIALIZED pins each CTE to one
    // execution (pure hint: results identical, and the only reason the
    // sf0.1 parity run stays in bounds — see graph_kcore's note).
    def edgesCte(n: Int): String =
      s"""edges AS MATERIALIZED (
         |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM (
         |    SELECT l_orderkey % $n AS u, l_partkey % $n + $n AS v FROM lineitem
         |    UNION ALL
         |    SELECT l_orderkey % $n, l_suppkey % $n + ${2 * n} FROM lineitem
         |    UNION ALL
         |    SELECT l_partkey % $n + $n, l_suppkey % $n + ${2 * n} FROM lineitem)
         |  WHERE u <> v)""".stripMargin
    // 3-round per-seed BFS over edgesCte(n), seeds = node % seedMod == 0;
    // final frame v3(seed, node, dist) — shared by closeness + harmonic
    def bfsCtes(n: Int, seedMod: Int): String =
      s"""${edgesCte(n)},
         |dir AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION ALL SELECT b, a FROM edges),
         |nodes AS (SELECT DISTINCT src AS node FROM dir),
         |v0 AS (SELECT node AS seed, node, 0 AS dist FROM nodes
         |  WHERE node % $seedMod = 0),
         |n1 AS MATERIALIZED (
         |  SELECT f.seed, f.node, 1 AS dist FROM (
         |    SELECT DISTINCT v.seed, d.dst AS node
         |    FROM dir d JOIN v0 v ON v.node = d.src) f
         |  LEFT JOIN v0 p ON p.seed = f.seed AND p.node = f.node
         |  WHERE p.node IS NULL),
         |v1 AS MATERIALIZED (SELECT * FROM v0
         |  UNION ALL SELECT * FROM n1),
         |n2 AS MATERIALIZED (
         |  SELECT f.seed, f.node, 2 AS dist FROM (
         |    SELECT DISTINCT v.seed, d.dst AS node
         |    FROM dir d JOIN n1 v ON v.node = d.src) f
         |  LEFT JOIN v1 p ON p.seed = f.seed AND p.node = f.node
         |  WHERE p.node IS NULL),
         |v2 AS MATERIALIZED (SELECT * FROM v1
         |  UNION ALL SELECT * FROM n2),
         |n3 AS (
         |  SELECT f.seed, f.node, 3 AS dist FROM (
         |    SELECT DISTINCT v.seed, d.dst AS node
         |    FROM dir d JOIN n2 v ON v.node = d.src) f
         |  LEFT JOIN v2 p ON p.seed = f.seed AND p.node = f.node
         |  WHERE p.node IS NULL),
         |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM n3)""".stripMargin

    // two unrolled LPA rounds over edgesCte(n): l2 = (node, label) final
    // assignment — shared by the community census and the modularity score
    def lpaCtes(n: Int): String =
      s"""${edgesCte(n)},
         |dir AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM edges
         |  UNION ALL SELECT b, a FROM edges),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM dir),
         |c1 AS (SELECT d.src AS node, lp.label AS nl, count(*) AS c
         |  FROM dir d JOIN l0 lp ON lp.node = d.dst GROUP BY 1, 2),
         |l1 AS MATERIALIZED (SELECT node, nl AS label FROM (
         |  SELECT node, nl, row_number() OVER (
         |    PARTITION BY node ORDER BY c DESC, nl ASC) AS rn FROM c1)
         |  WHERE rn = 1),
         |c2 AS (SELECT d.src AS node, lp.label AS nl, count(*) AS c
         |  FROM dir d JOIN l1 lp ON lp.node = d.dst GROUP BY 1, 2),
         |l2 AS MATERIALIZED (SELECT node, nl AS label FROM (
         |  SELECT node, nl, row_number() OVER (
         |    PARTITION BY node ORDER BY c DESC, nl ASC) AS rn FROM c2)
         |  WHERE rn = 1)""".stripMargin
    val duckEdges =
      edgesCte(60) + """,
        |nodes AS MATERIALIZED (SELECT a AS x FROM edges UNION ALL SELECT b FROM edges),
        |degrees AS MATERIALIZED (SELECT x, count(*) AS deg FROM nodes GROUP BY 1),
        |oriented AS MATERIALIZED (
        |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |           THEN e.a ELSE e.b END AS src,
        |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
        |           THEN e.b ELSE e.a END AS dst
        |  FROM edges e
        |  JOIN degrees da ON da.x = e.a
        |  JOIN degrees db ON db.x = e.b),
        |tri AS MATERIALIZED (
        |  SELECT e1.src AS apex, e1.dst AS w1, e2.dst AS w2
        |  FROM oriented e1
        |  JOIN oriented e2 ON e2.src = e1.src AND e1.dst < e2.dst
        |  JOIN oriented e3 ON least(e3.src, e3.dst) = e1.dst
        |                  AND greatest(e3.src, e3.dst) = e2.dst)""".stripMargin
    Seq(
      Q("graph_triangles",
        (s, d) => graft.ops.GraphOps.triangleCount(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 60)),
        Some(s"""WITH $duckEdges
                |SELECT (SELECT count(DISTINCT x) FROM nodes) AS n_nodes,
                |  (SELECT count(*) FROM edges) AS n_edges,
                |  (SELECT count(*) FROM tri) AS n_triangles""".stripMargin)),

      Q("graph_triangle_nodes",
        (s, d) => graft.ops.GraphOps.topTriangleNodes(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 60), 15),
        Some(s"""WITH $duckEdges,
                |credits AS (
                |  SELECT apex AS node FROM tri
                |  UNION ALL SELECT w1 FROM tri
                |  UNION ALL SELECT w2 FROM tri),
                |ranked AS (
                |  SELECT c.node, d.deg, count(*) AS n_triangles
                |  FROM credits c JOIN degrees d ON d.x = c.node
                |  GROUP BY 1, 2)
                |SELECT node, deg, n_triangles FROM ranked
                |ORDER BY n_triangles DESC, node LIMIT 15""".stripMargin)),

      // local clustering-coefficient histogram on the SAMPLED tripartite
      // graph (each kept row plants a triangle, degrees stay bounded —
      // the dense residue graphs saturate every cc into one bucket);
      // oracle enumerates triangles by the a<b edge chain —
      // orientation-independent per-node credits
      Q("graph_clustering_coeff",
        (s, d) => graft.ops.GraphOps.clusteringCoefficients(
          graft.ops.GraphOps.sampledTriEdges(lineitem(s, d))),
        Some(s"""WITH edges AS MATERIALIZED (
                |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM (
                |    SELECT l_orderkey % 5000 AS u, l_partkey % 5000 + 5000 AS v,
                |      l_orderkey AS ok, l_partkey AS pk FROM lineitem
                |    UNION ALL
                |    SELECT l_orderkey % 5000, l_suppkey % 5000 + 10000,
                |      l_orderkey, l_partkey FROM lineitem
                |    UNION ALL
                |    SELECT l_partkey % 5000 + 5000, l_suppkey % 5000 + 10000,
                |      l_orderkey, l_partkey FROM lineitem)
                |  WHERE u <> v AND (ok * 31 + pk) % 97 = 0),
                |deg AS (SELECT node, count(*) AS deg FROM (
                |    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
                |  GROUP BY 1),
                |tri AS (
                |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
                |  FROM edges e1 JOIN edges e2 ON e2.a = e1.b
                |    JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
                |credits AS (
                |  SELECT x AS node FROM tri
                |  UNION ALL SELECT y FROM tri
                |  UNION ALL SELECT z FROM tri),
                |tc AS (SELECT node, count(*) AS t FROM credits GROUP BY 1),
                |cc AS (
                |  SELECT d.node, d.deg, COALESCE(tc.t, 0) AS t,
                |    CASE WHEN d.deg < 2 THEN 0.0
                |      ELSE 2.0 * CAST(COALESCE(tc.t, 0) AS DOUBLE)
                |        / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS cc
                |  FROM deg d LEFT JOIN tc ON tc.node = d.node)
                |SELECT CAST(least(floor(cc * 10), 9) AS INTEGER) AS bucket,
                |  count(*) AS n_nodes, CAST(sum(t) AS BIGINT) AS tri_credits,
                |  CAST(sum(deg) AS BIGINT) AS deg_sum
                |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin)),

      // 4-truss peel on the triangle-planted sampled graph: 3 budget rounds
      // of drop-edges-under-2-triangles + recount; the oracle UNROLLS the
      // identical rounds as generated CTEs (fixpoint early-exit in Spark
      // is a no-op vs the full unroll — the kCore round-control doctrine)
      Q("graph_ktruss",
        (s, d) => graft.ops.GraphOps.kTruss(
          graft.ops.GraphOps.sampledTriCoreEdges(lineitem(s, d)), k = 4),
        Some {
          val base = """WITH e0 AS MATERIALIZED (
            |  SELECT DISTINCT a, b FROM (
            |  SELECT least(u, v) AS a, greatest(u, v) AS b FROM (
            |    SELECT l_orderkey % 5000 AS u, l_partkey % 5000 + 5000 AS v,
            |      l_orderkey AS ok, l_partkey AS pk FROM lineitem
            |    UNION ALL
            |    SELECT l_orderkey % 5000, l_suppkey % 5000 + 10000,
            |      l_orderkey, l_partkey FROM lineitem
            |    UNION ALL
            |    SELECT l_partkey % 5000 + 5000, l_suppkey % 5000 + 10000,
            |      l_orderkey, l_partkey FROM lineitem)
            |  WHERE u <> v AND (ok * 31 + pk) % 97 = 0
            |  UNION ALL
            |  SELECT i.i AS a, j.j AS b
            |  FROM (SELECT unnest(range(10)) AS i) i,
            |       (SELECT unnest(range(10)) AS j) j
            |  WHERE i.i < j.j))""".stripMargin
          val rounds = (0 until 3).map { i =>
            s"""adj$i AS (SELECT a AS src, b AS dst FROM e$i
               |  UNION ALL SELECT b, a FROM e$i),
               |sup$i AS (
               |  SELECT e.a, e.b, count(*) AS sup
               |  FROM e$i e JOIN adj$i n1 ON n1.src = e.a
               |    JOIN adj$i n2 ON n2.src = e.b AND n2.dst = n1.dst
               |  GROUP BY 1, 2),
               |e${i + 1} AS (SELECT a, b FROM sup$i WHERE sup >= 2)"""
              .stripMargin
          }.mkString(",\n", ",\n", "")
          val fin = """,
            |adjF AS (SELECT a AS src, b AS dst FROM e3
            |  UNION ALL SELECT b, a FROM e3),
            |supF AS (
            |  SELECT e.a, e.b, count(*) AS sup
            |  FROM e3 e JOIN adjF n1 ON n1.src = e.a
            |    JOIN adjF n2 ON n2.src = e.b AND n2.dst = n1.dst
            |  GROUP BY 1, 2)
            |SELECT CAST(sup AS BIGINT) AS support,
            |  CAST(count(*) AS BIGINT) AS n_edges
            |FROM supF GROUP BY 1 ORDER BY 1""".stripMargin
          base + rounds + fin
        }),

      // PageRank power iteration (3 rounds, d=0.85) on the n=500 residue
      // graph; oracle unrolls the identical join+agg per round. Ranks are
      // N-scaled and 1e-6-floor-quantized BEFORE the ordering/cut.
      Q("graph_pagerank",
        (s, d) => graft.ops.GraphOps.pageRank(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 500)),
        Some {
          val iters = (1 to 3).map { i =>
            s"""r$i AS MATERIALIZED (
               |  SELECT d.dst AS node,
               |    (CAST(1.0 AS DOUBLE) - 0.85) / (SELECT count(*) FROM deg)
               |      + 0.85 * sum(r.pr / g.deg) AS pr
               |  FROM directed d
               |  JOIN r${i - 1} r ON r.node = d.src
               |  JOIN deg g ON g.src = d.src
               |  GROUP BY 1)""".stripMargin
          }.mkString(",\n")
          s"""WITH ${edgesCte(500)},
             |directed AS MATERIALIZED (
             |  SELECT a AS src, b AS dst FROM edges
             |  UNION ALL SELECT b, a FROM edges),
             |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM directed GROUP BY 1),
             |r0 AS MATERIALIZED (
             |  SELECT src AS node, 1.0 / (SELECT count(*) FROM deg) AS pr
             |  FROM deg),
             |$iters
             |SELECT node,
             |  floor(pr * (SELECT count(*) FROM deg) * 1e6 + 0.5) / 1e6
             |    AS rank_scaled
             |FROM r3 ORDER BY rank_scaled DESC, node LIMIT 25""".stripMargin
        }),

      // personalized PageRank: restart mass on the node%100==0 seed set;
      // same degree build as graph_pagerank
      Q("graph_ppr",
        (s, d) => graft.ops.GraphOps.personalizedPageRank(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 500)),
        Some {
          val iters = (1 to 3).map { i =>
            s"""r$i AS MATERIALIZED (
               |  SELECT sf.node,
               |    (CAST(1.0 AS DOUBLE) - 0.85) * sf.teleport
               |      + 0.85 * coalesce(f.c, CAST(0.0 AS DOUBLE)) AS pr
               |  FROM sf LEFT JOIN (
               |    SELECT d.dst AS node, sum(r.pr / g.deg) AS c
               |    FROM directed d
               |    JOIN r${i - 1} r ON r.node = d.src
               |    JOIN deg g ON g.src = d.src
               |    GROUP BY 1) f ON f.node = sf.node)""".stripMargin
          }.mkString(",\n")
          s"""WITH ${edgesCte(500)},
             |directed AS MATERIALIZED (
             |  SELECT a AS src, b AS dst FROM edges
             |  UNION ALL SELECT b, a FROM edges),
             |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM directed GROUP BY 1),
             |sf AS MATERIALIZED (
             |  SELECT src AS node,
             |    CASE WHEN src % 100 = 0
             |      THEN CAST(1.0 AS DOUBLE)
             |           / (SELECT count(*) FROM deg WHERE src % 100 = 0)
             |      ELSE CAST(0.0 AS DOUBLE) END AS teleport
             |  FROM deg),
             |r0 AS MATERIALIZED (SELECT node, teleport AS pr FROM sf),
             |$iters
             |SELECT node, rank_scaled FROM (
             |  SELECT node,
             |    floor(pr * (SELECT count(*) FROM deg) * 1e6 + 0.5) / 1e6
             |      AS rank_scaled
             |  FROM r3)
             |WHERE rank_scaled > 0
             |ORDER BY rank_scaled DESC, node LIMIT 25""".stripMargin
        }),

      // bounded-round k-core peel on the sparse order/part-bucket bipartite
      // graph; oracle unrolls the identical 5 peel rounds
      Q("graph_kcore",
        (s, d) => graft.ops.GraphOps.kCore(
          graft.ops.GraphOps.orderPartEdges(lineitem(s, d), 1000), k = 4),
        Some {
          // each round references e{i-1} three times and k_i twice; DuckDB
          // INLINES plain CTEs, so without MATERIALIZED the 5-round unroll
          // expands the e0 scan ~4^5 times (observed: >80 GB of temp spill
          // at sf0.1). Materialization is a pure execution hint — results
          // are identical, each round computes once.
          val rounds = (1 to 5).map { i =>
            s"""d$i AS MATERIALIZED (
               |  SELECT x, count(*) AS dg FROM (
               |    SELECT a AS x FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) t
               |  GROUP BY 1),
               |k$i AS MATERIALIZED (SELECT x FROM d$i WHERE dg >= 4),
               |e$i AS MATERIALIZED (
               |  SELECT e.a, e.b FROM e${i - 1} e
               |  JOIN k$i ka ON ka.x = e.a
               |  JOIN k$i kb ON kb.x = e.b)""".stripMargin
          }.mkString(",\n")
          s"""WITH e0 AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey * 2 AS a,
             |    (l_partkey % 1000) * 2 + 1 AS b
             |  FROM lineitem),
             |$rounds,
             |df AS (
             |  SELECT x, count(*) AS dg FROM (
             |    SELECT a AS x FROM e5 UNION ALL SELECT b FROM e5) t
             |  GROUP BY 1)
             |SELECT dg AS deg, count(*) AS n_nodes
             |FROM df GROUP BY 1 ORDER BY 1""".stripMargin
        }),

      // multi-source BFS hop layers (seeds: node % 137 == 0, 4 rounds) on
      // the n=500 residue graph; oracle unrolls the identical frontier
      // expansions; dist = -1 censuses the nodes beyond the horizon
      Q("graph_bfs_layers",
        (s, d) => graft.ops.GraphOps.bfsLayers(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 500),
          seedMod = 137L, rounds = 4),
        Some {
          val layers = (1 to 4).map { r =>
            s"""l$r AS MATERIALIZED (
               |  SELECT DISTINCT d.dst AS node FROM dir d
               |  JOIN l${r - 1} f ON f.node = d.src
               |  WHERE d.dst NOT IN (SELECT node FROM v${r - 1})),
               |v$r AS MATERIALIZED (
               |  SELECT node, dist FROM v${r - 1}
               |  UNION ALL SELECT node, $r FROM l$r)""".stripMargin
          }.mkString(",\n")
          s"""WITH ${edgesCte(500)},
             |dir AS MATERIALIZED (
             |  SELECT a AS src, b AS dst FROM edges
             |  UNION ALL SELECT b, a FROM edges),
             |nd AS MATERIALIZED (SELECT DISTINCT src AS node FROM dir),
             |l0 AS MATERIALIZED (SELECT node FROM nd WHERE node % 137 = 0),
             |v0 AS MATERIALIZED (SELECT node, 0 AS dist FROM l0),
             |$layers,
             |alln AS (
             |  SELECT node, dist FROM v4
             |  UNION ALL
             |  SELECT node, -1 FROM nd
             |  WHERE node NOT IN (SELECT node FROM v4))
             |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(sum(node) AS BIGINT) AS node_sum,
             |  min(node) AS min_node, max(node) AS max_node
             |FROM alln GROUP BY dist ORDER BY dist""".stripMargin
        }),

      // Newman degree assortativity on the n=500 residue graph: Pearson
      // corr of endpoint degrees over both edge orientations — the
      // topology fingerprint; oracle replays degrees + joins + corr
      // label-propagation communities: 2 unrolled mode-of-neighbors rounds
      // (ties to smallest label), census per final community
      // n=2000 keeps the residue graph SPARSE at sf0.01 (avg degree ~20,
      // not tripartite-complete like n=60) so LPA resolves real cores
      // instead of collapsing to one label
      Q("graph_lpa_communities",
        (s, d) => graft.ops.GraphOps.labelPropagation(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 2000), rounds = 2),
        Some(s"""WITH ${lpaCtes(2000)}
                |SELECT label AS community, count(*) AS n_nodes,
                |  min(node) AS min_node, max(node) AS max_node,
                |  CAST(sum(node) AS BIGINT) AS node_sum
                |FROM l2 GROUP BY 1 ORDER BY 1""".stripMargin)),

      // Newman modularity of the LPA partition, pure BIGINT numerators:
      // Q = SUM_c (4*m*e_c - d_c^2) / (4m^2) — one double division per
      // value, q_total divides the exact integer sum
      Q("graph_modularity",
        (s, d) => graft.ops.GraphOps.modularity(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 2000), rounds = 2),
        Some(s"""WITH ${lpaCtes(2000)},
                |mm AS (SELECT count(*) AS m FROM edges),
                |deg AS (SELECT node, count(*) AS deg FROM (
                |  SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
                |  GROUP BY 1),
                |dc AS (SELECT l.label, CAST(sum(deg) AS BIGINT) AS deg_sum,
                |    count(*) AS n_nodes
                |  FROM deg d JOIN l2 l ON l.node = d.node GROUP BY 1),
                |intra AS (SELECT la.label, count(*) AS intra_edges
                |  FROM edges e
                |  JOIN l2 la ON la.node = e.a JOIN l2 lb ON lb.node = e.b
                |  WHERE la.label = lb.label GROUP BY 1),
                |perc AS (SELECT dc.label, n_nodes,
                |    COALESCE(intra_edges, 0) AS intra_edges, deg_sum,
                |    4 * m * COALESCE(intra_edges, 0) - deg_sum * deg_sum
                |      AS num, m
                |  FROM dc LEFT JOIN intra ON intra.label = dc.label
                |  CROSS JOIN mm),
                |tot AS (SELECT CAST(sum(num) AS BIGINT) AS tnum,
                |    max(m) AS tm FROM perc)
                |SELECT label AS community, n_nodes, intra_edges, deg_sum,
                |  floor(CAST(num AS DOUBLE) / CAST(4 * m * m AS DOUBLE)
                |    * 100000000 + 0.5) / 100000000 AS q_contrib,
                |  floor(CAST(tnum AS DOUBLE) / CAST(4 * tm * tm AS DOUBLE)
                |    * 100000000 + 0.5) / 100000000 AS q_total
                |FROM perc CROSS JOIN tot ORDER BY 1""".stripMargin)),

      // sampled-seed closeness centrality: per-seed BFS distances over 3
      // unrolled rounds, closeness = (reached-1)/sum(dist) — one exact
      // integer division per seed
      Q("graph_closeness",
        (s, d) => graft.ops.GraphOps.closenessCentrality(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 2000)),
        Some(s"""WITH ${bfsCtes(2000, 500)}
                |SELECT seed, count(*) AS n_reached,
                |  CAST(sum(dist) AS BIGINT) AS dist_sum,
                |  max(dist) AS ecc_capped,
                |  CASE WHEN CAST(sum(dist) AS BIGINT) = 0 THEN NULL
                |    ELSE floor(CAST(count(*) - 1 AS DOUBLE)
                |      / CAST(sum(dist) AS DOUBLE) * 1000000 + 0.5) / 1000000
                |  END AS closeness
                |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin)),

      // harmonic centrality over the same bounded BFS: per-node 1/d as the
      // exact integer 6/d (lcm(1..3)), one long sum, one final division
      Q("graph_harmonic",
        (s, d) => graft.ops.GraphOps.harmonicCentrality(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 2000)),
        Some(s"""WITH ${bfsCtes(2000, 500)}
                |SELECT seed, count(*) AS n_reached,
                |  floor(CAST(sum(6 // dist) AS DOUBLE) / 6
                |    * 1000000 + 0.5) / 1000000 AS harmonic
                |FROM v3 WHERE dist > 0
                |GROUP BY 1 ORDER BY 1""".stripMargin)),

      // HyperBall (Boldi–Vigna 2013): ALL-nodes harmonic centrality via
      // per-node m=16 HLL ball sketches — the scale path for the seeded
      // family (state O(16·N), per-round cost O(16·E), no seed×ball
      // pairs). Register scheme + estimator arithmetic are the proven
      // ev_hll_distinct twins; per-round estimates 4dp-floored BEFORE the
      // telescoped harmonic sum so both engines difference identical
      // quantized values.
      Q("graph_hyperball",
        (s, d) => graft.ops.GraphOps.hyperballHarmonic(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 2000)),
        Some {
          val estSql = (s: String, np: String) =>
            s"""CASE WHEN 0.673::DOUBLE * 256::DOUBLE / ($s + (16::DOUBLE - $np)) <= 40::DOUBLE
               |      AND $np < 16
               |    THEN 16::DOUBLE * ln(16::DOUBLE / (16::DOUBLE - $np))
               |    ELSE 0.673::DOUBLE * 256::DOUBLE / ($s + (16::DOUBLE - $np))
               |  END""".stripMargin
          val rounds = (1 to 3).map { r =>
            s"""r$r AS MATERIALIZED (
               |  SELECT node, reg, max(mr) AS mr FROM (
               |    SELECT d.dst AS node, x.reg, x.mr
               |    FROM dir d JOIN r${r - 1} x ON x.node = d.src
               |    UNION ALL SELECT node, reg, mr FROM r${r - 1})
               |  GROUP BY 1, 2)""".stripMargin
          }.mkString(",\n")
          val balls = (0 to 3).map { r =>
            s"""b$r AS (
               |  SELECT node,
               |    floor((${estSql("s", "npres")}) * 10000 + 0.5) / 10000 AS b$r
               |  FROM (SELECT node, count(*) AS npres,
               |          sum(power(2.0::DOUBLE, -mr)) AS s
               |        FROM r$r GROUP BY 1))""".stripMargin
          }.mkString(",\n")
          s"""WITH ${edgesCte(2000)},
             |dir AS MATERIALIZED (
             |  SELECT a AS src, b AS dst FROM edges
             |  UNION ALL SELECT b, a FROM edges),
             |n0 AS (SELECT DISTINCT src AS node FROM dir),
             |r0 AS MATERIALIZED (
             |  SELECT node, h // 268435456 AS reg,
             |    CASE WHEN h % 268435456 = 0 THEN 29
             |         ELSE 29 - length(bin(h % 268435456)) END AS mr
             |  FROM (SELECT node,
             |      CAST(('0x' || substr(md5('hb:' || CAST(node AS VARCHAR)), 1, 8))
             |        AS BIGINT) AS h
             |    FROM n0)),
             |$rounds,
             |$balls
             |SELECT b0.node, b0, b1, b2, b3,
             |  floor(((b1 - b0) / 1::DOUBLE + (b2 - b1) / 2::DOUBLE
             |    + (b3 - b2) / 3::DOUBLE) * 10000 + 0.5) / 10000 AS harmonic_est
             |FROM b0 JOIN b1 USING (node) JOIN b2 USING (node)
             |  JOIN b3 USING (node)
             |ORDER BY b0.node""".stripMargin
        }),

      // HITS hubs/authorities: two mutual-reinforcement rounds on the
      // directed order->part graph, L1-normalized + 6dp-quantized per
      // half-step so both engines recurse on identical doubles
      Q("graph_hits",
        (s, d) => graft.ops.GraphOps.hitsBounded(lineitem(s, d), 2000),
        Some("""WITH e AS MATERIALIZED (
                |  SELECT DISTINCT l_orderkey % 2000 AS u,
                |    l_partkey % 2000 + 2000 AS v FROM lineitem),
                |h0 AS (SELECT DISTINCT u, CAST(1.0 AS DOUBLE) AS h FROM e),
                |a1r AS (SELECT e.v, sum(h0.h) AS raw
                |        FROM e JOIN h0 ON h0.u = e.u GROUP BY 1),
                |a1 AS MATERIALIZED (SELECT v,
                |    floor(raw / (SELECT sum(raw) FROM a1r) * 1000000 + 0.5)
                |      / 1000000 AS a FROM a1r),
                |h1r AS (SELECT e.u, sum(a1.a) AS raw
                |        FROM e JOIN a1 ON a1.v = e.v GROUP BY 1),
                |h1 AS MATERIALIZED (SELECT u,
                |    floor(raw / (SELECT sum(raw) FROM h1r) * 1000000 + 0.5)
                |      / 1000000 AS h FROM h1r),
                |a2r AS (SELECT e.v, sum(h1.h) AS raw
                |        FROM e JOIN h1 ON h1.u = e.u GROUP BY 1),
                |a2 AS MATERIALIZED (SELECT v,
                |    floor(raw / (SELECT sum(raw) FROM a2r) * 1000000 + 0.5)
                |      / 1000000 AS a FROM a2r),
                |h2r AS (SELECT e.u, sum(a2.a) AS raw
                |        FROM e JOIN a2 ON a2.v = e.v GROUP BY 1),
                |h2 AS (SELECT u,
                |    floor(raw / (SELECT sum(raw) FROM h2r) * 1000000 + 0.5)
                |      / 1000000 AS h FROM h2r)
                |SELECT 'hub' AS side, u AS node, h AS score FROM h2
                |UNION ALL SELECT 'auth', v, a FROM a2
                |ORDER BY side, node""".stripMargin)),

      // deterministic random-walk corpus (DeepWalk data-gen shape): next
      // hop = sorted-neighbor pick by the pre-reduced Knuth mix — a fixed
      // pseudo-random permutation both engines replay; oracle unrolls the
      // 8 hops over the same adjacency arrays
      Q("graph_random_walks",
        (s, d) => graft.ops.GraphOps.randomWalkCensus(lineitem(s, d), 2000),
        Some {
          val steps = (1 to 8).map { i =>
            s"""w$i AS MATERIALIZED (
               |  SELECT seed,
               |    nbs[CAST(xor(m, m >> 13) % len(nbs) AS INT) + 1] AS cur
               |  FROM (
               |    SELECT w.seed,
               |      ((w.cur % 1000003) * 2654435761 + $i * 40503
               |        + (w.seed % 1000003)) AS m,
               |      adj.nbs
               |    FROM w${i - 1} w JOIN adj ON adj.x = w.cur))""".stripMargin
          }.mkString(",\n")
          val unions = (0 to 8).map(i => s"SELECT cur FROM w$i")
            .mkString("\n  UNION ALL ")
          s"""WITH ${edgesCte(2000)},
             |dir AS MATERIALIZED (
             |  SELECT a AS x, b AS nb FROM edges
             |  UNION ALL SELECT b, a FROM edges),
             |adj AS MATERIALIZED (
             |  SELECT x, list(nb ORDER BY nb) AS nbs FROM dir GROUP BY 1),
             |w0 AS (SELECT x AS seed, x AS cur FROM adj),
             |$steps,
             |v AS ($unions)
             |SELECT cur AS node, count(*) AS n_visits
             |FROM v GROUP BY 1 ORDER BY 1""".stripMargin
        }),

      // full core decomposition via the H-index fixpoint (h^inf = coreness,
      // Lü et al.); engine iterates to the exact-checksum fixpoint, oracle
      // unrolls 48 rounds (measured convergence: 7/20/33/33 at the four
      // SFs — density saturates the mod-2000 graph, so rounds plateau) —
      // extra rounds past the fixpoint are no-ops
      Q("graph_coreness",
        (s, d) => graft.ops.GraphOps.corenessHistogram(lineitem(s, d), 2000),
        Some {
          val rounds = (1 to 48).map { i =>
            s"""h$i AS MATERIALIZED (
               |  SELECT q.x AS x, max(least(q.rn, q.nv)) AS hv
               |  FROM (
               |    SELECT e.x, hb.hv AS nv,
               |      row_number() OVER (PARTITION BY e.x
               |                         ORDER BY hb.hv DESC, e.nb) AS rn
               |    FROM dir e JOIN h${i - 1} hb ON hb.x = e.nb) q
               |  GROUP BY 1)""".stripMargin
          }.mkString(",\n")
          s"""WITH ${edgesCte(2000)},
             |dir AS MATERIALIZED (
             |  SELECT a AS x, b AS nb FROM edges
             |  UNION ALL SELECT b, a FROM edges),
             |h0 AS (SELECT x, count(*) AS hv FROM dir GROUP BY 1),
             |$rounds
             |SELECT hv AS coreness, count(*) AS n_nodes
             |FROM h48 GROUP BY 1 ORDER BY 1""".stripMargin
        }),

      // directed triad MOTIF census on the cyclic digraph: reciprocal
      // pairs, feed-forward triangles, min-rotation 3-cycles — instance
      // counts (not exclusive triad classes), all exact integers
      Q("graph_triad_census",
        (s, d) => graft.ops.GraphOps.triadCensus(lineitem(s, d), 2000),
        Some("""WITH e AS MATERIALIZED (
               |  SELECT DISTINCT l_orderkey % 2000 AS src,
               |    l_partkey % 2000 AS dst
               |  FROM lineitem
               |  WHERE l_quantity <= 2
               |    AND l_orderkey % 2000 <> l_partkey % 2000),
               |ed AS (SELECT count(*) AS n_edges FROM e),
               |rc AS (SELECT count(*) AS n_reciprocal
               |       FROM e x JOIN e y
               |         ON y.src = x.dst AND y.dst = x.src
               |       WHERE x.src < x.dst),
               |w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
               |      FROM e e1 JOIN e e2 ON e2.src = e1.dst
               |      WHERE e1.src <> e2.dst),
               |ff AS (SELECT count(*) AS n_ffl FROM w
               |       WHERE EXISTS (SELECT 1 FROM e
               |                     WHERE e.src = w.a AND e.dst = w.c)),
               |cy AS (SELECT count(*) AS n_cycles FROM w
               |       WHERE a < b AND a < c
               |         AND EXISTS (SELECT 1 FROM e
               |                     WHERE e.src = w.c AND e.dst = w.a))
               |SELECT CAST(n_edges AS BIGINT) AS n_edges,
               |  CAST(n_reciprocal AS BIGINT) AS n_reciprocal,
               |  CAST(n_ffl AS BIGINT) AS n_ffl,
               |  CAST(n_cycles AS BIGINT) AS n_cycles,
               |  CASE WHEN n_cycles = 0 THEN NULL ELSE
               |    floor(CAST(n_ffl AS DOUBLE) / CAST(n_cycles AS DOUBLE)
               |      * 10000 + 0.5) / 10000 END AS ffl_per_cycle
               |FROM ed, rc, ff, cy""".stripMargin)),

      // strongly connected components by FW-BW coloring (multi-pivot): the
      // engine peels SCCs with monotone integer-label fixpoints; the oracle
      // is a completely independent formulation — recursive-CTE transitive
      // closure, scc_id(v) = least mutually-reachable node
      Q("graph_scc",
        (s, d) => graft.ops.GraphOps.sccSummary(lineitem(s, d), 2000),
        Some("""WITH RECURSIVE e AS (
               |  SELECT DISTINCT l_orderkey % 2000 AS src,
               |    l_partkey % 2000 AS dst
               |  FROM lineitem
               |  WHERE l_quantity <= 2
               |    AND l_orderkey % 2000 <> l_partkey % 2000),
               |reach(s, t) AS (
               |  SELECT src, dst FROM e
               |  UNION
               |  SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.t),
               |nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
               |mutual AS (
               |  SELECT r1.s AS v, r1.t AS w
               |  FROM reach r1 JOIN reach r2 ON r2.s = r1.t AND r2.t = r1.s),
               |scc AS (
               |  SELECT n.v, least(n.v, coalesce(min(m.w), n.v)) AS scc_id
               |  FROM nodes n LEFT JOIN mutual m ON m.v = n.v
               |  GROUP BY n.v)
               |SELECT scc_id, count(*) AS n_members
               |FROM scc GROUP BY 1 ORDER BY 1""".stripMargin)),

      // bounded-horizon Brandes betweenness (Brandes-Pich k-bounded): exact
      // integer path counts per unrolled BFS level; dependency accumulation
      // quantized at 6dp per level so both engines recurse on identical
      // doubles (the ts_pacf trick)
      Q("graph_betweenness",
        (s, d) => graft.ops.GraphOps.betweennessBounded(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 2000)),
        Some(s"""WITH ${edgesCte(2000)},
                |dir AS MATERIALIZED (
                |  SELECT a AS src, b AS dst FROM edges
                |  UNION ALL SELECT b, a FROM edges),
                |s0 AS (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
                |  FROM (SELECT DISTINCT src AS node FROM dir
                |        WHERE src % 500 = 0)),
                |s1 AS MATERIALIZED (
                |  SELECT g.seed, g.node, g.sigma FROM (
                |    SELECT v.seed, d.dst AS node,
                |      CAST(sum(v.sigma) AS BIGINT) AS sigma
                |    FROM dir d JOIN s0 v ON v.node = d.src
                |    GROUP BY 1, 2) g
                |  LEFT JOIN s0 p ON p.seed = g.seed AND p.node = g.node
                |  WHERE p.node IS NULL),
                |v1 AS (SELECT seed, node FROM s0
                |  UNION ALL SELECT seed, node FROM s1),
                |s2 AS MATERIALIZED (
                |  SELECT g.seed, g.node, g.sigma FROM (
                |    SELECT v.seed, d.dst AS node,
                |      CAST(sum(v.sigma) AS BIGINT) AS sigma
                |    FROM dir d JOIN s1 v ON v.node = d.src
                |    GROUP BY 1, 2) g
                |  LEFT JOIN v1 p ON p.seed = g.seed AND p.node = g.node
                |  WHERE p.node IS NULL),
                |v2 AS (SELECT * FROM v1 UNION ALL
                |  SELECT seed, node FROM s2),
                |s3 AS MATERIALIZED (
                |  SELECT g.seed, g.node, g.sigma FROM (
                |    SELECT v.seed, d.dst AS node,
                |      CAST(sum(v.sigma) AS BIGINT) AS sigma
                |    FROM dir d JOIN s2 v ON v.node = d.src
                |    GROUP BY 1, 2) g
                |  LEFT JOIN v2 p ON p.seed = g.seed AND p.node = g.node
                |  WHERE p.node IS NULL),
                |d2 AS MATERIALIZED (
                |  SELECT x.seed, x.v AS node,
                |    floor(sum(CAST(x.sv AS DOUBLE) / CAST(x.sw AS DOUBLE)
                |      * (1.0 + 0.0)) * 1000000 + 0.5) / 1000000 AS delta
                |  FROM (SELECT s2.seed, s2.node AS v, s2.sigma AS sv,
                |          s3.sigma AS sw
                |        FROM s2 JOIN dir d ON d.src = s2.node
                |        JOIN s3 ON s3.seed = s2.seed AND s3.node = d.dst) x
                |  GROUP BY 1, 2),
                |l2d AS (SELECT s2.seed, s2.node, s2.sigma,
                |    COALESCE(d2.delta, 0.0) AS delta
                |  FROM s2 LEFT JOIN d2
                |    ON d2.seed = s2.seed AND d2.node = s2.node),
                |d1 AS (
                |  SELECT x.seed, x.v AS node,
                |    floor(sum(CAST(x.sv AS DOUBLE) / CAST(x.sw AS DOUBLE)
                |      * (1.0 + x.dw)) * 1000000 + 0.5) / 1000000 AS delta
                |  FROM (SELECT s1.seed, s1.node AS v, s1.sigma AS sv,
                |          w.sigma AS sw, w.delta AS dw
                |        FROM s1 JOIN dir d ON d.src = s1.node
                |        JOIN l2d w ON w.seed = s1.seed AND w.node = d.dst) x
                |  GROUP BY 1, 2)
                |SELECT node, count(*) AS n_contribs,
                |  floor(sum(delta) * 1000000 + 0.5) / 1000000 AS bc
                |FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
                |GROUP BY 1 ORDER BY 1""".stripMargin)),

      // Jaccard link prediction on the degree-bounded SAMPLED graph:
      // wedge-enumerated candidates, anti-joined against existing edges,
      // scored common/(dx+dy-common) — one exact-integer division
      Q("graph_jaccard_links",
        (s, d) => graft.ops.GraphOps.jaccardLinkPrediction(
          graft.ops.GraphOps.sampledEdges(lineitem(s, d))),
        Some(s"""WITH edges AS MATERIALIZED (
                |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM (
                |    SELECT l_orderkey % 5000 AS u, l_partkey % 5000 + 5000 AS v,
                |      l_orderkey AS ok, l_partkey AS pk FROM lineitem)
                |  WHERE u <> v AND (ok * 31 + pk) % 97 = 0),
                |dir AS MATERIALIZED (
                |  SELECT a AS src, b AS dst FROM edges
                |  UNION ALL SELECT b, a FROM edges),
                |deg AS (SELECT src AS node, count(*) AS deg FROM dir GROUP BY 1),
                |cand AS (
                |  SELECT d1.dst AS x, d2.dst AS y, count(*) AS common
                |  FROM dir d1 JOIN dir d2
                |    ON d1.src = d2.src AND d1.dst < d2.dst
                |  GROUP BY 1, 2),
                |nonedge AS (
                |  SELECT c.* FROM cand c LEFT JOIN edges e
                |    ON e.a = c.x AND e.b = c.y
                |  WHERE e.a IS NULL)
                |SELECT c.x, c.y, c.common, dx.deg AS deg_x, dy.deg AS deg_y,
                |  floor(CAST(c.common AS DOUBLE)
                |    / CAST(dx.deg + dy.deg - c.common AS DOUBLE)
                |    * 1000000 + 0.5) / 1000000 AS jaccard
                |FROM nonedge c
                |  JOIN deg dx ON dx.node = c.x JOIN deg dy ON dy.node = c.y
                |ORDER BY jaccard DESC, x, y LIMIT 25""".stripMargin)),

      // Adamic-Adar link prediction: rarity-weighted common neighbors;
      // per-wedge term quantized to an exact long BEFORE the pair sum, so
      // the score is order-invariant (a float sum of 1/ln would drift)
      Q("graph_adamic_adar",
        (s, d) => graft.ops.GraphOps.adamicAdarLinks(
          graft.ops.GraphOps.sampledEdges(lineitem(s, d))),
        Some(s"""WITH edges AS MATERIALIZED (
                |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM (
                |    SELECT l_orderkey % 5000 AS u, l_partkey % 5000 + 5000 AS v,
                |      l_orderkey AS ok, l_partkey AS pk FROM lineitem)
                |  WHERE u <> v AND (ok * 31 + pk) % 97 = 0),
                |dir AS MATERIALIZED (
                |  SELECT a AS src, b AS dst FROM edges
                |  UNION ALL SELECT b, a FROM edges),
                |deg AS (SELECT src AS node, count(*) AS deg FROM dir GROUP BY 1),
                |wedges AS (
                |  SELECT d1.src AS z, d1.dst AS x, d2.dst AS y
                |  FROM dir d1 JOIN dir d2
                |    ON d1.src = d2.src AND d1.dst < d2.dst),
                |terms AS (
                |  SELECT w.x, w.y,
                |    CAST(floor(1000000.0 / ln(CAST(dz.deg AS DOUBLE)) + 0.5)
                |      AS BIGINT) AS term
                |  FROM wedges w JOIN deg dz ON dz.node = w.z),
                |cand AS (
                |  SELECT x, y, CAST(count(*) AS BIGINT) AS common,
                |    CAST(sum(term) AS BIGINT) AS aa_scaled
                |  FROM terms GROUP BY 1, 2),
                |nonedge AS (
                |  SELECT c.* FROM cand c LEFT JOIN edges e
                |    ON e.a = c.x AND e.b = c.y
                |  WHERE e.a IS NULL)
                |SELECT x, y, common,
                |  CAST(aa_scaled AS DOUBLE) / 1000000.0 AS adamic_adar
                |FROM nonedge
                |ORDER BY adamic_adar DESC, x, y LIMIT 25""".stripMargin)),

      Q("graph_assortativity",
        (s, d) => graft.ops.GraphOps.degreeAssortativity(
          graft.ops.GraphOps.lineitemEdges(lineitem(s, d), 500)),
        Some(s"""WITH ${edgesCte(500)},
                |dir AS MATERIALIZED (
                |  SELECT a AS src, b AS dst FROM edges
                |  UNION ALL SELECT b, a FROM edges),
                |degs AS MATERIALIZED (
                |  SELECT src AS x, count(*) AS deg FROM dir GROUP BY 1)
                |SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
                |  floor(corr(ds.deg, dd.deg) * 10000 + 0.5) / 10000
                |    AS assortativity,
                |  floor(avg(ds.deg) * 10000 + 0.5) / 10000 AS avg_edge_deg
                |FROM dir
                |JOIN degs ds ON ds.x = dir.src
                |JOIN degs dd ON dd.x = dir.dst""".stripMargin))
    )
  }

  /** Shared oracle front for the monthly per-supplier series: observed
    * monthly sums, per-key [min,max] spans, and the exploded month spine.
    */
  private val duckMonthlySpineCtes: String =
    """WITH monthly AS (
      |  SELECT l_suppkey, date_trunc('month', l_shipdate) AS month,
      |    sum(l_quantity) AS qty
      |  FROM lineitem WHERE l_suppkey < 10 GROUP BY 1, 2),
      |spans AS (
      |  SELECT l_suppkey, min(month) AS mn, max(month) AS mx
      |  FROM monthly GROUP BY 1),
      |spine AS (
      |  SELECT l_suppkey, unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS month
      |  FROM spans),
      |f AS (
      |  SELECT s.l_suppkey, s.month, m.qty
      |  FROM spine s LEFT JOIN monthly m
      |    ON m.l_suppkey = s.l_suppkey AND m.month = s.month)""".stripMargin

  /** Time-series queries: month-spine gap fill, linear interpolation across
    * gaps, and year-over-year rates (SURVEY.md §2 extension — the operations
    * the reference's continuity check Q6 implies but never computes).
    */
  private def timeSeriesQueries: Seq[Q] = Seq(
    Q("ts_gap_fill",
      (s, d) => graft.ops.TimeSeriesOps.gapFillTable(lineitem(s, d), 10),
      Some(s"""$duckMonthlySpineCtes
              |SELECT l_suppkey, strftime(month, '%Y-%m-%d') AS month,
              |  round(qty, 2) AS qty, qty IS NULL AS is_gap
              |FROM f ORDER BY 1, 2""".stripMargin)),

    Q("ts_interpolate",
      (s, d) => graft.ops.TimeSeriesOps.interpolateMonthly(lineitem(s, d), 10),
      Some(s"""$duckMonthlySpineCtes,
              |x AS (
              |  SELECT l_suppkey, month, qty,
              |    last_value(qty IGNORE NULLS) OVER wp AS prev_qty,
              |    last_value(CASE WHEN qty IS NOT NULL THEN month END IGNORE NULLS)
              |      OVER wp AS prev_m,
              |    first_value(qty IGNORE NULLS) OVER wn AS next_qty,
              |    first_value(CASE WHEN qty IS NOT NULL THEN month END IGNORE NULLS)
              |      OVER wn AS next_m
              |  FROM f
              |  WINDOW
              |    wp AS (PARTITION BY l_suppkey ORDER BY month
              |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              |    wn AS (PARTITION BY l_suppkey ORDER BY month
              |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
              |SELECT l_suppkey, strftime(month, '%Y-%m-%d') AS month,
              |  qty IS NULL AS was_gap,
              |  floor(CASE WHEN qty IS NOT NULL THEN qty
              |    WHEN prev_qty IS NULL OR next_qty IS NULL THEN NULL
              |    ELSE prev_qty + (next_qty - prev_qty)
              |      * (CAST(date_diff('month', prev_m, month) AS DOUBLE)
              |         / CAST(date_diff('month', prev_m, next_m) AS DOUBLE))
              |    END * 100 + 0.5) / 100 AS qty_filled
              |FROM x ORDER BY 1, 2""".stripMargin)),

    Q("ts_yoy",
      (s, d) => graft.ops.TimeSeriesOps.yoyChange(lineitem(s, d)),
      Some("""WITH monthly AS (
             |  SELECT l_returnflag,
             |    CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             |    sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT m.l_returnflag, strftime(m.month, '%Y-%m-%d') AS month,
             |  round(m.qty, 2) AS qty, round(p.qty, 2) AS prev_qty,
             |  floor((m.qty / p.qty - 1) * 100 * 10000 + 0.5) / 10000 AS yoy_pct
             |FROM monthly m LEFT JOIN monthly p
             |  ON p.l_returnflag = m.l_returnflag
             | AND CAST(p.month + INTERVAL 12 MONTH AS DATE) = m.month
             |ORDER BY 1, 2""".stripMargin)),

    // CUSUM changepoint in exact integers: n*CUSUM_t cumsums longs, so the
    // argmax month can't flip on summation-order ULPs
    // binary segmentation (depth 2): global CUSUM argmax, then the same
    // integer-scaled statistic inside each half — up to 3 changepoints per
    // key; interior-only splits (t < n) so both halves are non-empty
    Q("ts_binseg_changepoints",
      (s, d) => graft.ops.TimeSeriesOps.binsegChangepoints(lineitem(s, d)),
      Some("""WITH monthly AS (
             |  SELECT l_returnflag AS key,
             |    CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             |    CAST(sum(l_quantity) AS BIGINT) AS qty
             |  FROM lineitem GROUP BY 1, 2),
             |st AS (SELECT key, count(*) AS n, sum(qty) AS s
             |       FROM monthly GROUP BY 1),
             |sc AS (
             |  SELECT m.key, m.month, m.qty, st.n,
             |    row_number() OVER (PARTITION BY m.key ORDER BY m.month) AS t,
             |    sum(m.qty * st.n - st.s) OVER (PARTITION BY m.key
             |      ORDER BY m.month
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stat
             |  FROM monthly m JOIN st ON st.key = m.key),
             |cp1 AS (
             |  SELECT key, t AS cp1_t, month AS cp1_month, stat AS stat1,
             |    n AS n_months
             |  FROM (SELECT *, row_number() OVER (PARTITION BY key
             |          ORDER BY abs(stat) DESC, month) AS rn
             |        FROM sc WHERE t < n) WHERE rn = 1),
             |seg AS (
             |  SELECT sc.key, sc.month, sc.qty,
             |    CASE WHEN sc.t <= cp1.cp1_t THEN 0 ELSE 1 END AS seg
             |  FROM sc JOIN cp1 ON cp1.key = sc.key),
             |sst AS (SELECT key, seg, count(*) AS m, sum(qty) AS sig
             |        FROM seg GROUP BY 1, 2),
             |ssc AS (
             |  SELECT g.key, g.seg, g.month, g.qty, sst.m,
             |    row_number() OVER (PARTITION BY g.key, g.seg
             |      ORDER BY g.month) AS t2,
             |    sum(g.qty * sst.m - sst.sig) OVER (PARTITION BY g.key, g.seg
             |      ORDER BY g.month
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stat2
             |  FROM seg g JOIN sst ON sst.key = g.key AND sst.seg = g.seg),
             |cp2 AS (
             |  SELECT key, seg, month AS cp2_month, stat2, m
             |  FROM (SELECT *, row_number() OVER (PARTITION BY key, seg
             |          ORDER BY abs(stat2) DESC, month) AS rn
             |        FROM ssc WHERE t2 < m) WHERE rn = 1)
             |SELECT cp1.key AS key, CAST(n_months AS BIGINT) AS n_months,
             |  strftime(cp1.cp1_month, '%Y-%m-%d') AS cp1_month,
             |  floor(CAST(abs(stat1) AS DOUBLE) / n_months * 10000 + 0.5)
             |    / 10000 AS max_cusum1,
             |  CAST(a.m AS BIGINT) AS seg0_len,
             |  strftime(a.cp2_month, '%Y-%m-%d') AS cp2a_month,
             |  floor(CAST(abs(a.stat2) AS DOUBLE) / a.m * 10000 + 0.5)
             |    / 10000 AS max_cusum2a,
             |  CAST(b.m AS BIGINT) AS seg1_len,
             |  strftime(b.cp2_month, '%Y-%m-%d') AS cp2b_month,
             |  floor(CAST(abs(b.stat2) AS DOUBLE) / b.m * 10000 + 0.5)
             |    / 10000 AS max_cusum2b
             |FROM cp1
             |LEFT JOIN cp2 a ON a.key = cp1.key AND a.seg = 0
             |LEFT JOIN cp2 b ON b.key = cp1.key AND b.seg = 1
             |ORDER BY key""".stripMargin)),

    Q("ts_cusum_changepoint",
      (s, d) => graft.ops.TimeSeriesOps.cusumChangepoint(lineitem(s, d)),
      Some("""WITH monthly AS (
             |  SELECT l_returnflag AS key,
             |    CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             |    CAST(sum(l_quantity) AS BIGINT) AS qty
             |  FROM lineitem GROUP BY 1, 2),
             |st AS (SELECT key, count(*) AS n, sum(qty) AS s
             |       FROM monthly GROUP BY 1),
             |c AS (
             |  SELECT m.key, m.month, st.n,
             |    sum(m.qty * st.n - st.s) OVER (PARTITION BY m.key
             |      ORDER BY m.month
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_n
             |  FROM monthly m JOIN st ON st.key = m.key),
             |r AS (
             |  SELECT key, month, n, cusum_n,
             |    row_number() OVER (PARTITION BY key
             |      ORDER BY abs(cusum_n) DESC, month) AS rn
             |  FROM c)
             |SELECT key, strftime(month, '%Y-%m-%d') AS cp_month,
             |  n AS n_months,
             |  floor(CAST(abs(cusum_n) AS DOUBLE) / n * 10000 + 0.5) / 10000
             |    AS max_cusum
             |FROM r WHERE rn = 1 ORDER BY key""".stripMargin)),

    // seasonal-naive baseline: month-of-year average per key, deviation
    // quantized BEFORE the 20% anomaly threshold
    Q("ts_seasonal_baseline",
      (s, d) => graft.ops.TimeSeriesOps.seasonalBaseline(lineitem(s, d)),
      Some("""WITH monthly AS (
             |  SELECT l_returnflag AS key,
             |    CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             |    sum(l_quantity) AS qty
             |  FROM lineitem GROUP BY 1, 2),
             |base AS (
             |  SELECT key, month(month) AS moy, avg(qty) AS base_qty
             |  FROM monthly GROUP BY 1, 2),
             |j AS (
             |  SELECT m.key, m.month, m.qty, b.base_qty,
             |    floor(abs(m.qty / b.base_qty - 1) * 100 * 10000 + 0.5) / 10000
             |      AS dev_pct
             |  FROM monthly m JOIN base b
             |    ON b.key = m.key AND b.moy = month(m.month))
             |SELECT key, strftime(month, '%Y-%m-%d') AS month,
             |  round(qty, 2) AS qty, round(base_qty, 4) AS base_qty,
             |  dev_pct, dev_pct > 20.0 AS is_anomaly
             |FROM j ORDER BY key, month""".stripMargin)),

    // STL-style additive decomposition: integer-exact centered 2x12 MA
    // trend, common-denominator phase means (no cross-engine double sums),
    // remainder as one division per output cell
    Q("ts_stl_decompose",
      (s, d) => graft.ops.TimeSeriesOps.stlDecompose(orders(s, d)),
      Some("""WITH monthly AS (
             |  SELECT o_orderpriority AS key,
             |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS vc
             |  FROM orders GROUP BY 1, 2),
             |t AS (
             |  SELECT key, month, vc, month(month) AS phase,
             |    sum(vc) OVER w11 AS sum11, count(*) OVER w11 AS cnt11,
             |    lag(vc, 6) OVER w AS lag6, lead(vc, 6) OVER w AS lead6
             |  FROM monthly
             |  WINDOW w AS (PARTITION BY key ORDER BY month),
             |    w11 AS (PARTITION BY key ORDER BY month
             |            ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)),
             |t2 AS (SELECT *, CASE WHEN cnt11 = 11
             |    THEN sum11 * 2 + lag6 + lead6 END AS trend24 FROM t),
             |t3 AS (SELECT *, vc * 24 - trend24 AS d24 FROM t2),
             |sp AS (
             |  SELECT key, phase, CAST(sum(d24) AS BIGINT) AS s_num,
             |    count(*) AS s_cnt
             |  FROM t3 WHERE trend24 IS NOT NULL GROUP BY 1, 2),
             |sp2 AS (SELECT key, phase, s_num * (720720 // s_cnt) AS a FROM sp),
             |pk AS (SELECT key, CAST(sum(a) AS BIGINT) AS sum_a,
             |    count(*) AS p FROM sp2 GROUP BY 1),
             |seas AS (
             |  SELECT sp2.key, phase, p * a - sum_a AS seas_scaled,
             |    p * 720720 AS pd
             |  FROM sp2 JOIN pk USING (key))
             |SELECT t3.key AS key, strftime(t3.month, '%Y-%m-%d') AS month,
             |  CAST(vc AS DOUBLE) / 100 AS revenue,
             |  floor(CAST(trend24 AS DOUBLE) / 2400 * 10000 + 0.5) / 10000
             |    AS trend,
             |  floor(CAST(seas_scaled AS DOUBLE) / (CAST(pd AS DOUBLE) * 2400)
             |    * 10000 + 0.5) / 10000 AS seasonal,
             |  floor((CAST(vc AS DOUBLE) / 100 - CAST(trend24 AS DOUBLE) / 2400
             |    - CAST(seas_scaled AS DOUBLE) / (CAST(pd AS DOUBLE) * 2400))
             |    * 10000 + 0.5) / 10000 AS remainder
             |FROM t3 LEFT JOIN seas ON seas.key = t3.key AND seas.phase = t3.phase
             |ORDER BY t3.key, month""".stripMargin)),

    // Hyndman seasonal/trend strength on the STL output: components
    // rescaled to millions then 4dp-requantized -> exact integer variance
    // moments, no cross-engine double sums
    Q("ts_stl_strength",
      (s, d) => graft.ops.TimeSeriesOps.stlStrength(orders(s, d)),
      Some("""WITH monthly AS (
             |  SELECT o_orderpriority AS key,
             |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS vc
             |  FROM orders GROUP BY 1, 2),
             |t AS (
             |  SELECT key, month, vc, month(month) AS phase,
             |    sum(vc) OVER w11 AS sum11, count(*) OVER w11 AS cnt11,
             |    lag(vc, 6) OVER w AS lag6, lead(vc, 6) OVER w AS lead6
             |  FROM monthly
             |  WINDOW w AS (PARTITION BY key ORDER BY month),
             |    w11 AS (PARTITION BY key ORDER BY month
             |            ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)),
             |t2 AS (SELECT *, CASE WHEN cnt11 = 11
             |    THEN sum11 * 2 + lag6 + lead6 END AS trend24 FROM t),
             |t3 AS (SELECT *, vc * 24 - trend24 AS d24 FROM t2),
             |sp AS (
             |  SELECT key, phase, CAST(sum(d24) AS BIGINT) AS s_num,
             |    count(*) AS s_cnt
             |  FROM t3 WHERE trend24 IS NOT NULL GROUP BY 1, 2),
             |sp2 AS (SELECT key, phase, s_num * (720720 // s_cnt) AS a FROM sp),
             |pk AS (SELECT key, CAST(sum(a) AS BIGINT) AS sum_a,
             |    count(*) AS p FROM sp2 GROUP BY 1),
             |seas AS (
             |  SELECT sp2.key, phase, p * a - sum_a AS seas_scaled,
             |    p * 720720 AS pd
             |  FROM sp2 JOIN pk USING (key)),
             |stl AS (
             |  SELECT t3.key AS key,
             |    floor(CAST(trend24 AS DOUBLE) / 2400 * 10000 + 0.5) / 10000
             |      AS trend,
             |    floor(CAST(seas_scaled AS DOUBLE)
             |      / (CAST(pd AS DOUBLE) * 2400) * 10000 + 0.5) / 10000
             |      AS seasonal,
             |    floor((CAST(vc AS DOUBLE) / 100
             |      - CAST(trend24 AS DOUBLE) / 2400
             |      - CAST(seas_scaled AS DOUBLE) / (CAST(pd AS DOUBLE) * 2400))
             |      * 10000 + 0.5) / 10000 AS remainder
             |  FROM t3 LEFT JOIN seas
             |    ON seas.key = t3.key AND seas.phase = t3.phase
             |  WHERE trend24 IS NOT NULL),
             |q AS (
             |  SELECT key,
             |    CAST(floor(remainder / 1e6 * 10000 + 0.5) AS BIGINT) AS r,
             |    CAST(floor((seasonal + remainder) / 1e6 * 10000 + 0.5)
             |      AS BIGINT) AS sr,
             |    CAST(floor((trend + remainder) / 1e6 * 10000 + 0.5)
             |      AS BIGINT) AS tr
             |  FROM stl),
             |g AS (
             |  SELECT key, count(*) AS n,
             |    CAST(sum(r) AS BIGINT) AS s_r,
             |    CAST(sum(r * r) AS BIGINT) AS ss_r,
             |    CAST(sum(sr) AS BIGINT) AS s_sr,
             |    CAST(sum(sr * sr) AS BIGINT) AS ss_sr,
             |    CAST(sum(tr) AS BIGINT) AS s_tr,
             |    CAST(sum(tr * tr) AS BIGINT) AS ss_tr
             |  FROM q GROUP BY 1)
             |SELECT key, n,
             |  CASE WHEN n * ss_sr - s_sr * s_sr = 0 THEN NULL ELSE
             |    floor(greatest(CAST(0.0 AS DOUBLE),
             |      1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)
             |          / CAST(n * ss_sr - s_sr * s_sr AS DOUBLE))
             |      * 10000 + 0.5) / 10000 END AS seasonal_strength,
             |  CASE WHEN n * ss_tr - s_tr * s_tr = 0 THEN NULL ELSE
             |    floor(greatest(CAST(0.0 AS DOUBLE),
             |      1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)
             |          / CAST(n * ss_tr - s_tr * s_tr AS DOUBLE))
             |      * 10000 + 0.5) / 10000 END AS trend_strength
             |FROM g ORDER BY key""".stripMargin)),

    // EWMA via the closed-form window unroll (no iterative driver loop);
    // α = 0.5 makes every scaled term an exact power-of-two-multiple of an
    // integer, so the window cumsum is bit-identical under ANY summation
    // order (DuckDB's segment tree vs Spark's sequential scan)
    Q("ts_ewma",
      (s, d) => graft.ops.TimeSeriesOps.ewmaMonthly(lineitem(s, d), 0.5),
      Some("""WITH monthly AS (
             |  SELECT l_returnflag,
             |    CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             |    sum(l_quantity) AS qty
             |  FROM lineitem
             |  WHERE l_suppkey < 100 AND l_shipdate >= DATE '1996-01-01'
             |    AND l_shipdate < DATE '1998-01-01'
             |  GROUP BY 1, 2),
             |idx AS (
             |  SELECT l_returnflag, month, qty,
             |    row_number() OVER (PARTITION BY l_returnflag ORDER BY month) - 1 AS t
             |  FROM monthly),
             |c AS (
             |  SELECT l_returnflag, month, qty, t,
             |    sum(qty / power(CAST(0.5 AS DOUBLE), t))
             |      OVER (PARTITION BY l_returnflag
             |      ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    first_value(qty) OVER (PARTITION BY l_returnflag ORDER BY month
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x0
             |  FROM idx)
             |SELECT l_returnflag, strftime(month, '%Y-%m-%d') AS month,
             |  round(qty, 2) AS qty,
             |  floor(power(CAST(0.5 AS DOUBLE), t)
             |    * (CAST(0.5 AS DOUBLE) * cum + CAST(0.5 AS DOUBLE) * x0) * 10000
             |    + 0.5) / 10000 AS ewma
             |FROM c ORDER BY 1, 2""".stripMargin)),

    // per-series autocorrelation at lags 1..6: banded self-join on the
    // shifted month index + one corr aggregate per (key, lag)
    // ESD-style iterative peel: per round, recompute mean/SD over the
    // survivors (DECIMAL(38,0) variance numerator), flag the max deviate
    // past 2.5, remove, repeat — unrolled identically in the oracle
    Q("ts_esd_outliers",
      (s, d) => graft.ops.TimeSeriesOps.esdOutliers(orders(s, d)),
      Some {
        def round(r: Int): String = {
          val prev = if (r == 1) "rem0" else s"rem${r - 1}"
          s"""st$r AS (
             |  SELECT g, count(*) AS n, sum(v) AS sx,
             |    sum(CAST(v AS HUGEINT) * v) AS sxx
             |  FROM $prev GROUP BY 1),
             |sc$r AS (
             |  SELECT p.g, p.month, p.v, s.n,
             |    CASE WHEN s.n * s.sxx - s.sx * s.sx = 0 THEN 0.0 ELSE
             |      floor(CAST(abs(p.v * s.n - s.sx) AS DOUBLE)
             |        / (CAST(s.n AS DOUBLE)
             |           * sqrt(CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
             |                  / CAST(s.n * (s.n - 1) AS DOUBLE)))
             |        * 10000 + 0.5) / 10000 END AS rq
             |  FROM $prev p JOIN st$r s ON s.g = p.g),
             |fl$r AS (
             |  SELECT g, $r AS round, month, v, rq FROM (
             |    SELECT g, month, v, rq,
             |      row_number() OVER (PARTITION BY g
             |                         ORDER BY rq DESC, month) AS rn
             |    FROM sc$r)
             |  WHERE rn = 1 AND rq > 2.5),
             |rem$r AS (
             |  SELECT p.* FROM $prev p
             |  LEFT JOIN fl$r f ON f.g = p.g AND f.month = p.month
             |  WHERE f.g IS NULL)""".stripMargin
        }
        s"""WITH rem0 AS (
           |  SELECT o_orderpriority AS g, date_trunc('month', o_orderdate) AS month,
           |    CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS v
           |  FROM orders GROUP BY 1, 2),
           |${(1 to 3).map(round).mkString(",\n")}
           |SELECT g AS priority, round, strftime(month, '%Y-%m-%d') AS month,
           |  v, rq AS r_stat
           |FROM (SELECT * FROM fl1 UNION ALL SELECT * FROM fl2
           |      UNION ALL SELECT * FROM fl3)
           |ORDER BY priority, round""".stripMargin
      }),

    // Sakoe–Chiba radius-1 DTW: the 3-cell band recursion is a row-local
    // fold in Spark and a recursive CTE in DuckDB — two independent
    // mechanisms over the same exact-int64 algebra, no tolerance needed
    Q("ts_dtw_pairs",
      (s, d) => graft.ops.TimeSeriesOps.dtwPairs(lineitem(s, d)),
      Some("""WITH RECURSIVE m AS (
             |  SELECT l_suppkey,
             |    CAST(date_diff('month', DATE '1992-01-01',
             |      date_trunc('month', l_shipdate)) AS INTEGER) AS mi,
             |    sum(CAST(l_quantity AS BIGINT)) AS q
             |  FROM lineitem WHERE l_suppkey < 5 GROUP BY 1, 2),
             |p AS (
             |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, a.mi,
             |    a.q AS qa, b.q AS qb
             |  FROM m a JOIN m b ON a.mi = b.mi AND a.l_suppkey < b.l_suppkey),
             |s AS (
             |  SELECT sa, sb, qa, qb,
             |    row_number() OVER (PARTITION BY sa, sb ORDER BY mi) AS t,
             |    lag(qb) OVER (PARTITION BY sa, sb ORDER BY mi) AS qbm,
             |    lead(qb) OVER (PARTITION BY sa, sb ORDER BY mi) AS qbp
             |  FROM p),
             |nn AS (SELECT sa, sb, max(t) AS n FROM s GROUP BY 1, 2),
             |rec AS (
             |  SELECT sa, sb, CAST(1 AS BIGINT) AS i,
             |    CAST(1000000000000000 AS BIGINT) AS d0,
             |    abs(qa - qb) AS d1,
             |    CASE WHEN qbp IS NOT NULL THEN abs(qa - qbp) + abs(qa - qb)
             |         ELSE CAST(1000000000000000 AS BIGINT) END AS d2
             |  FROM s WHERE t = 1
             |  UNION ALL
             |  SELECT sa, sb, i, d0, d1,
             |    CASE WHEN qbp IS NOT NULL THEN abs(ai - qbp) + least(d1, pd2)
             |         ELSE CAST(1000000000000000 AS BIGINT) END AS d2
             |  FROM (
             |    SELECT sa, sb, i, ai, qb, qbp, pd1, pd2, d0,
             |      abs(ai - qb) + least(pd2, d0, pd1) AS d1
             |    FROM (
             |      SELECT r.sa, r.sb, r.i + 1 AS i, s.qa AS ai, s.qb, s.qbp,
             |        r.d1 AS pd1, r.d2 AS pd2,
             |        abs(s.qa - s.qbm) + least(r.d0, r.d1) AS d0
             |      FROM rec r
             |      JOIN s ON s.sa = r.sa AND s.sb = r.sb AND s.t = r.i + 1)))
             |SELECT r.sa, r.sb, CAST(nn.n AS INTEGER) AS n,
             |  CAST(r.d1 AS BIGINT) AS dtw,
             |  floor(CAST(r.d1 AS DOUBLE) / nn.n * 10000 + 0.5) / 10000
             |    AS dtw_per_step
             |FROM rec r
             |JOIN nn ON nn.sa = r.sa AND nn.sb = r.sb AND r.i = nn.n
             |ORDER BY r.sa, r.sb""".stripMargin)),

    // rolling Pearson r from five EXACT-long moment sums riding one window
    // frame; only the final formula is floating-point (then q4)
    Q("ts_rolling_corr",
      (s, d) => graft.ops.TimeSeriesOps.rollingCorr(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_suppkey, date_trunc('month', l_shipdate) AS month,
             |    sum(CAST(l_quantity AS BIGINT)) AS q
             |  FROM lineitem WHERE l_suppkey IN (1, 2) GROUP BY 1, 2),
             |p AS (
             |  SELECT month,
             |    CAST(sum(CASE WHEN l_suppkey = 1 THEN q END) AS BIGINT) AS x,
             |    CAST(sum(CASE WHEN l_suppkey = 2 THEN q END) AS BIGINT) AS y
             |  FROM m GROUP BY 1
             |  HAVING x IS NOT NULL AND y IS NOT NULL),
             |r AS (
             |  SELECT month, x, y,
             |    count(*) OVER w AS n,
             |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             |    sum(x * y) OVER w AS sxy,
             |    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
             |  FROM p
             |  WINDOW w AS (ORDER BY month ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
             |SELECT strftime(month, '%Y-%m-%d') AS month, x, y,
             |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |        / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             |        * 10000 + 0.5) / 10000 AS rolling_r
             |FROM r WHERE n = 6
             |ORDER BY month""".stripMargin)),

    // 1-D local-level Kalman filter: the recursion is a row-local fold in
    // Spark and a recursive CTE in DuckDB with IDENTICALLY-ordered IEEE
    // operands (the holt doctrine), so the doubles match bit-for-bit and
    // the 1e-6 quantization is display only
    Q("ts_kalman",
      (s, d) => graft.ops.TimeSeriesOps.kalmanFilter(orders(s, d)),
      Some("""WITH RECURSIVE m0 AS (
             |  SELECT o_orderpriority AS g, date_trunc('month', o_orderdate) AS month,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM orders GROUP BY 1, 2),
             |m AS (
             |  SELECT g, month, CAST(cents AS DOUBLE) / 1e8 AS x,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY month)
             |      AS INTEGER) AS t
             |  FROM m0),
             |rec AS (
             |  SELECT g, t, month, x, x AS l, CAST(1.0 AS DOUBLE) AS p,
             |    CAST(0.0 AS DOUBLE) AS k
             |  FROM m WHERE t = 1
             |  UNION ALL
             |  SELECT m.g, m.t, m.month, m.x,
             |    r.l + ((r.p + 0.25) / ((r.p + 0.25) + 1.0)) * (m.x - r.l),
             |    (1.0 - ((r.p + 0.25) / ((r.p + 0.25) + 1.0))) * (r.p + 0.25),
             |    (r.p + 0.25) / ((r.p + 0.25) + 1.0)
             |  FROM rec r JOIN m ON m.g = r.g AND m.t = r.t + 1)
             |SELECT g AS priority, t, strftime(month, '%Y-%m-%d') AS month,
             |  floor(x * 1000000 + 0.5) / 1000000 AS x,
             |  floor(l * 1000000 + 0.5) / 1000000 AS level,
             |  floor(k * 1000000 + 0.5) / 1000000 AS gain
             |FROM rec ORDER BY priority, t""".stripMargin)),

    // RTS smoother: forward Kalman recursion + backward correction pass,
    // both row-local folds vs two recursive CTEs — identical operand order
    Q("ts_kalman_smooth",
      (s, d) => graft.ops.TimeSeriesOps.kalmanSmooth(orders(s, d)),
      Some("""WITH RECURSIVE m0 AS (
             |  SELECT o_orderpriority AS g, date_trunc('month', o_orderdate) AS month,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM orders GROUP BY 1, 2),
             |m AS (
             |  SELECT g, month, CAST(cents AS DOUBLE) / 1e8 AS x,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY month)
             |      AS INTEGER) AS t
             |  FROM m0),
             |rec AS (
             |  SELECT g, t, month, x, x AS l, CAST(1.0 AS DOUBLE) AS p
             |  FROM m WHERE t = 1
             |  UNION ALL
             |  SELECT m.g, m.t, m.month, m.x,
             |    r.l + ((r.p + 0.25) / ((r.p + 0.25) + 1.0)) * (m.x - r.l),
             |    (1.0 - ((r.p + 0.25) / ((r.p + 0.25) + 1.0))) * (r.p + 0.25)
             |  FROM rec r JOIN m ON m.g = r.g AND m.t = r.t + 1),
             |nn AS (SELECT g, max(t) AS n FROM m GROUP BY 1),
             |back AS (
             |  SELECT r.g, r.t, r.l AS sl
             |  FROM rec r JOIN nn ON nn.g = r.g AND r.t = nn.n
             |  UNION ALL
             |  SELECT r.g, r.t, r.l + (r.p / (r.p + 0.25)) * (b.sl - r.l)
             |  FROM back b JOIN rec r ON r.g = b.g AND r.t = b.t - 1)
             |SELECT r.g AS priority, r.t, strftime(r.month, '%Y-%m-%d') AS month,
             |  floor(r.x * 1000000 + 0.5) / 1000000 AS x,
             |  floor(r.l * 1000000 + 0.5) / 1000000 AS filtered,
             |  floor(b.sl * 1000000 + 0.5) / 1000000 AS smoothed
             |FROM rec r JOIN back b ON b.g = r.g AND b.t = r.t
             |ORDER BY priority, r.t""".stripMargin)),

    // gaps-and-islands: month_index − row_number is constant within a
    // consecutive run — one window pass, one aggregate, no self-join
    Q("ts_islands",
      (s, d) => graft.ops.TimeSeriesOps.activityIslands(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_suppkey,
             |    CAST(date_diff('month', DATE '1992-01-01',
             |      date_trunc('month', l_shipdate)) AS INTEGER) AS mi,
             |    count(*) AS n_lines
             |  FROM lineitem WHERE l_suppkey < 10 GROUP BY 1, 2),
             |g AS (
             |  SELECT l_suppkey, mi, n_lines,
             |    mi - row_number() OVER (PARTITION BY l_suppkey ORDER BY mi) AS grp
             |  FROM m)
             |SELECT l_suppkey, min(mi) AS start_mi, max(mi) AS end_mi,
             |  count(*) AS run_months, CAST(sum(n_lines) AS BIGINT) AS n_lines
             |FROM g GROUP BY l_suppkey, grp
             |ORDER BY l_suppkey, start_mi""".stripMargin)),

    Q("ts_acf",
      (s, d) => graft.ops.TimeSeriesOps.acfMonthly(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_returnflag AS key,
             |    CAST(date_diff('month', DATE '1992-01-01',
             |      date_trunc('month', l_shipdate)) AS INTEGER) AS mi,
             |    sum(l_extendedprice) AS v
             |  FROM lineitem GROUP BY 1, 2),
             |l AS (
             |  SELECT m.key, m.mi - lags.lag_m AS mi_prev, lags.lag_m, m.v AS va
             |  FROM m CROSS JOIN
             |    (SELECT unnest([1, 2, 3, 4, 5, 6]) AS lag_m) lags)
             |SELECT l.key, l.lag_m, count(*) AS n_pairs,
             |  floor(corr(l.va, b.v) * 10000 + 0.5) / 10000 AS acf
             |FROM l JOIN m b ON b.key = l.key AND b.mi = l.mi_prev
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Ljung-Box white-noise test on the QUANTIZED lag correlations (the
    // same 4dp acf both engines already agree on bitwise); k-indexed sum
    // as an ordered fold over the lag-sorted list
    Q("ts_ljung_box",
      (s, d) => graft.ops.TimeSeriesOps.ljungBox(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_returnflag AS key,
             |    CAST(date_diff('month', DATE '1992-01-01',
             |      date_trunc('month', l_shipdate)) AS INTEGER) AS mi,
             |    sum(l_extendedprice) AS v
             |  FROM lineitem GROUP BY 1, 2),
             |l AS (
             |  SELECT m.key, m.mi - lags.lag_m AS mi_prev, lags.lag_m,
             |    m.v AS va
             |  FROM m CROSS JOIN
             |    (SELECT unnest([1, 2, 3, 4, 5, 6]) AS lag_m) lags),
             |a AS (
             |  SELECT l.key, l.lag_m,
             |    floor(corr(l.va, b.v) * 10000 + 0.5) / 10000 AS acf
             |  FROM l JOIN m b ON b.key = l.key AND b.mi = l.mi_prev
             |  GROUP BY 1, 2),
             |nn AS (SELECT key, count(*) AS n FROM m GROUP BY 1),
             |g AS (
             |  SELECT a.key, nn.n, count(*) AS df,
             |    list_sum(list_transform(
             |      list(struct_pack(k := lag_m, r := acf) ORDER BY lag_m),
             |      s -> s.r * s.r
             |        / (CAST(nn.n AS DOUBLE) - CAST(s.k AS DOUBLE))))
             |      AS sq
             |  FROM a JOIN nn USING (key)
             |  WHERE a.acf IS NOT NULL GROUP BY 1, 2)
             |SELECT key, CAST(n AS BIGINT) AS n, CAST(df AS INTEGER) AS df,
             |  floor(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * sq
             |    * 10000 + 0.5) / 10000 AS q_stat,
             |  floor(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * sq
             |    * 10000 + 0.5) / 10000 > 12.5916 AS reject_white_noise
             |FROM g ORDER BY key""".stripMargin)),

    // PACF via unrolled Durbin-Levinson (lags 1..4): classical
    // full-series-mean autocorrelations in exact cents, r_k quantized at
    // 6dp BEFORE the recursion so both engines run identical arithmetic
    Q("ts_pacf",
      (s, d) => graft.ops.TimeSeriesOps.pacfMonthly(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_returnflag AS key,
             |    CAST(date_diff('month', DATE '1992-01-01',
             |      date_trunc('month', l_shipdate)) AS INTEGER) AS mi,
             |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS cents
             |  FROM lineitem GROUP BY 1, 2),
             |st AS (SELECT key, CAST(sum(cents) AS DOUBLE) / count(*)
             |         AS xbar FROM m GROUP BY 1),
             |c AS (SELECT m.key, m.mi, CAST(m.cents AS DOUBLE) - st.xbar
             |        AS c
             |      FROM m JOIN st ON st.key = m.key),
             |den AS (SELECT key, sum(c * c) AS den FROM c GROUP BY 1),
             |nums AS (
             |  SELECT a.key, lags.lag_m, sum(a.c * b.c) AS num
             |  FROM c a CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS lag_m)
             |    lags
             |  JOIN c b ON b.key = a.key AND b.mi = a.mi - lags.lag_m
             |  GROUP BY 1, 2),
             |r AS (SELECT n.key, n.lag_m,
             |        floor(n.num / d.den * 1000000 + 0.5) / 1000000 AS r
             |      FROM nums n JOIN den d ON d.key = n.key),
             |rp AS (SELECT key,
             |    max(CASE WHEN lag_m = 1 THEN r END) AS r1,
             |    max(CASE WHEN lag_m = 2 THEN r END) AS r2,
             |    max(CASE WHEN lag_m = 3 THEN r END) AS r3,
             |    max(CASE WHEN lag_m = 4 THEN r END) AS r4
             |  FROM r GROUP BY 1),
             |d1 AS (SELECT key, r1, r2, r3, r4, r1 AS p11 FROM rp),
             |d2 AS (SELECT *, (r2 - p11 * r1) / (1 - p11 * r1) AS p22
             |       FROM d1),
             |d2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM d2),
             |d3 AS (SELECT *, (r3 - (p21 * r2 + p22 * r1))
             |         / (1 - (p21 * r1 + p22 * r2)) AS p33 FROM d2b),
             |d3b AS (SELECT *, p21 - p33 * p22 AS p31,
             |          p22 - p33 * p21 AS p32 FROM d3),
             |d4 AS (SELECT *, (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
             |         / (1 - (p31 * r1 + p32 * r2 + p33 * r3)) AS p44
             |       FROM d3b)
             |SELECT key, lag_m,
             |  floor(pacf * 10000 + 0.5) / 10000 AS pacf
             |FROM (
             |  SELECT key, 1 AS lag_m, p11 AS pacf FROM d4
             |  UNION ALL SELECT key, 2, p22 FROM d4
             |  UNION ALL SELECT key, 3, p33 FROM d4
             |  UNION ALL SELECT key, 4, p44 FROM d4)
             |ORDER BY key, lag_m""".stripMargin)),

    // Periodogram seasonality scan: normalized DFT power of the centered
    // monthly series at candidate periods 2..12 + per-series peak flag —
    // the frequency-domain complement of ts_acf; 2π is the same IEEE
    // double on both sides and the sums quantize at 4dp
    Q("ts_periodogram",
      (s, d) => graft.ops.TimeSeriesOps.periodogramMonthly(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_returnflag AS key,
             |    CAST(date_diff('month', DATE '1992-01-01',
             |      date_trunc('month', l_shipdate)) AS INTEGER) AS mi,
             |    sum(l_extendedprice) AS v
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT key, mi, v - avg(v) OVER (PARTITION BY key) AS vc,
             |    count(*) OVER (PARTITION BY key) AS n
             |  FROM m),
             |c2 AS (SELECT key, mi, vc, n,
             |    sum(vc * vc) OVER (PARTITION BY key) AS ssq
             |  FROM c),
             |f AS (
             |  SELECT key, n, ssq, p,
             |    sum(vc * cos((2 * pi()) * mi / p)) AS cs,
             |    sum(vc * sin((2 * pi()) * mi / p)) AS ss
             |  FROM c2 CROSS JOIN (SELECT unnest(range(2, 13)) AS p) ps
             |  GROUP BY key, p, n, ssq),
             |g AS (
             |  SELECT key, CAST(p AS INTEGER) AS p, CAST(n AS BIGINT) AS n,
             |    floor((cs * cs + ss * ss) / ssq * 10000 + 0.5) / 10000
             |      AS power_frac
             |  FROM f)
             |SELECT key, p, n, power_frac,
             |  power_frac = max(power_frac) OVER (PARTITION BY key) AS peak
             |FROM g ORDER BY key, p""".stripMargin)),

    // normalized spectral entropy on the periodogram's QUANTIZED 4dp
    // power fractions (identical inputs both engines); total + entropy as
    // ordered sequential folds over the period-sorted list
    Q("ts_spectral_entropy",
      (s, d) => graft.ops.TimeSeriesOps.spectralEntropy(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_returnflag AS key,
             |    CAST(date_diff('month', DATE '1992-01-01',
             |      date_trunc('month', l_shipdate)) AS INTEGER) AS mi,
             |    sum(l_extendedprice) AS v
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT key, mi, v - avg(v) OVER (PARTITION BY key) AS vc,
             |    count(*) OVER (PARTITION BY key) AS n
             |  FROM m),
             |c2 AS (SELECT key, mi, vc, n,
             |    sum(vc * vc) OVER (PARTITION BY key) AS ssq
             |  FROM c),
             |f AS (
             |  SELECT key, n, ssq, p,
             |    sum(vc * cos((2 * pi()) * mi / p)) AS cs,
             |    sum(vc * sin((2 * pi()) * mi / p)) AS ss
             |  FROM c2 CROSS JOIN (SELECT unnest(range(2, 13)) AS p) ps
             |  GROUP BY key, p, n, ssq),
             |g AS (
             |  SELECT key, CAST(p AS INTEGER) AS p,
             |    floor((cs * cs + ss * ss) / ssq * 10000 + 0.5) / 10000
             |      AS power_frac
             |  FROM f),
             |pk AS (
             |  SELECT key, p, power_frac,
             |    power_frac = max(power_frac) OVER (PARTITION BY key)
             |      AS peak
             |  FROM g),
             |agg AS (
             |  SELECT key, count(*) AS n_freqs,
             |    min(CASE WHEN peak THEN p END) AS peak_p,
             |    list(power_frac ORDER BY p) AS pw
             |  FROM pk GROUP BY 1),
             |t AS (
             |  SELECT key, n_freqs, peak_p, pw,
             |    list_sum(list_transform(pw, x -> x)) AS tot
             |  FROM agg)
             |SELECT key, n_freqs, peak_p,
             |  floor(tot * 10000 + 0.5) / 10000 AS power_total,
             |  CASE WHEN tot <= 0 THEN NULL ELSE
             |    floor(-list_sum(list_transform(pw,
             |        x -> CASE WHEN x <= 0 THEN CAST(0.0 AS DOUBLE)
             |          ELSE (x / tot) * ln(x / tot) END))
             |      / ln(CAST(len(pw) AS DOUBLE)) * 10000 + 0.5) / 10000
             |  END AS spectral_entropy,
             |  CASE WHEN tot <= 0 THEN NULL ELSE
             |    floor((1.0 - (CASE
             |      WHEN tot <= 0 THEN NULL ELSE
             |        floor(-list_sum(list_transform(pw,
             |            x -> CASE WHEN x <= 0 THEN CAST(0.0 AS DOUBLE)
             |              ELSE (x / tot) * ln(x / tot) END))
             |          / ln(CAST(len(pw) AS DOUBLE)) * 10000 + 0.5) / 10000
             |      END)) * 10000 + 0.5) / 10000
             |  END AS forecastability
             |FROM t ORDER BY key""".stripMargin)),

    // Holt linear-trend forecast: Spark runs the CLOSED FORM (driver-built
    // A^k coefficient table + one agg per series); the oracle runs the
    // textbook sequential recursion via a recursive CTE — hash equality
    // proves the unrolling identity, l_1 = x1, b_1 = x2 − x1, α=.5, β=.25
    Q("ts_holt_forecast",
      (s, d) => graft.ops.TimeSeriesOps.holtForecast(orders(s, d)),
      Some("""WITH RECURSIVE m AS (
             |  SELECT o_orderpriority AS g, date_trunc('month', o_orderdate) AS month,
             |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 1e8 AS x
             |  FROM orders GROUP BY 1, 2),
             |s AS (SELECT g, x,
             |    row_number() OVER (PARTITION BY g ORDER BY month) AS t FROM m),
             |mx AS (SELECT g, max(t) AS tmax FROM s GROUP BY 1),
             |rec AS (
             |  SELECT s1.g, CAST(1 AS BIGINT) AS t, s1.x AS l, s2.x - s1.x AS b
             |  FROM (SELECT g, x FROM s WHERE t = 1) s1
             |  JOIN (SELECT g, x FROM s WHERE t = 2) s2 USING (g)
             |  UNION ALL
             |  SELECT r.g, r.t + 1,
             |    0.5 * sx.x + 0.5 * (r.l + r.b),
             |    0.25 * (0.5 * sx.x + 0.5 * (r.l + r.b) - r.l) + 0.75 * r.b
             |  FROM rec r JOIN s sx ON sx.g = r.g AND sx.t = r.t + 1)
             |SELECT rec.g AS priority, CAST(mx.tmax AS INTEGER) AS n_obs, h.h,
             |  floor((rec.l + h.h * rec.b) * 1000000 + 0.5) / 1000000 AS forecast
             |FROM rec JOIN mx ON mx.g = rec.g AND rec.t = mx.tmax
             |CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) h
             |ORDER BY priority, h""".stripMargin)),

    // Holt–Winters = classical seasonal indices + the same Holt recursion
    // on the deseasonalized series; indices are single exact-long divisions
    // so only the smoother itself needs the 1e-6 tolerance doctrine
    Q("ts_holt_winters",
      (s, d) => graft.ops.TimeSeriesOps.holtWintersForecast(orders(s, d)),
      Some("""WITH RECURSIVE mc AS (
             |  SELECT o_orderpriority AS g, date_trunc('month', o_orderdate) AS month,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders GROUP BY 1, 2),
             |ph AS (SELECT g, month(month) AS phase,
             |         sum(cents) AS pc, count(*) AS pn
             |       FROM mc GROUP BY 1, 2),
             |ov AS (SELECT g, sum(cents) AS oc, count(*) AS n_all
             |       FROM mc GROUP BY 1),
             |idx AS (SELECT ph.g, phase,
             |          CAST(pc AS DOUBLE) / CAST(pn AS DOUBLE)
             |            - CAST(oc AS DOUBLE) / CAST(n_all AS DOUBLE) AS s_cents
             |        FROM ph JOIN ov ON ov.g = ph.g),
             |adj AS (SELECT mc.g, mc.month,
             |          (CAST(cents AS DOUBLE) - s_cents) / 1e8 AS x
             |        FROM mc JOIN idx
             |          ON idx.g = mc.g AND idx.phase = month(mc.month)),
             |s AS (SELECT g, month, x,
             |        row_number() OVER (PARTITION BY g ORDER BY month) AS t
             |      FROM adj),
             |mx AS (SELECT g, max(t) AS tmax, max(month) AS last_month
             |       FROM s GROUP BY 1),
             |rec AS (
             |  SELECT s1.g, CAST(1 AS BIGINT) AS t, s1.x AS l, s2.x - s1.x AS b
             |  FROM (SELECT g, x FROM s WHERE t = 1) s1
             |  JOIN (SELECT g, x FROM s WHERE t = 2) s2 USING (g)
             |  UNION ALL
             |  SELECT r.g, r.t + 1,
             |    0.5 * sx.x + 0.5 * (r.l + r.b),
             |    0.25 * (0.5 * sx.x + 0.5 * (r.l + r.b) - r.l) + 0.75 * r.b
             |  FROM rec r JOIN s sx ON sx.g = r.g AND sx.t = r.t + 1)
             |SELECT rec.g AS priority, CAST(mx.tmax AS INTEGER) AS n_obs, h.h,
             |  strftime(mx.last_month + to_months(h.h), '%Y-%m-%d') AS target_month,
             |  floor((rec.l + h.h * rec.b + coalesce(i2.s_cents, 0) / 1e8)
             |    * 1000000 + 0.5) / 1000000 AS forecast
             |FROM rec
             |JOIN mx ON mx.g = rec.g AND rec.t = mx.tmax
             |CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS h) h
             |-- LEFT + coalesce(0): mirrors the Spark side — a horizon month
             |-- whose phase is absent from history still emits its row
             |LEFT JOIN idx i2 ON i2.g = rec.g
             |  AND i2.phase = month(mx.last_month + to_months(h.h))
             |ORDER BY priority, h""".stripMargin)),

    // AR(2) via Yule–Walker on exact integer moments (num_k identity in the
    // scaladoc); linear-autoregression baseline beside Holt's smoothing
    Q("ts_ar2_forecast",
      (s, d) => graft.ops.TimeSeriesOps.ar2Forecast(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_suppkey, date_trunc('month', l_shipdate) AS month,
             |    CAST(sum(l_quantity) AS BIGINT) AS x
             |  FROM lineitem WHERE l_suppkey < 10 GROUP BY 1, 2),
             |r AS (
             |  SELECT l_suppkey, x,
             |    row_number() OVER (PARTITION BY l_suppkey ORDER BY month) AS t,
             |    row_number() OVER (PARTITION BY l_suppkey ORDER BY month DESC)
             |      AS rt,
             |    lag(x, 1) OVER (PARTITION BY l_suppkey ORDER BY month) AS x1,
             |    lag(x, 2) OVER (PARTITION BY l_suppkey ORDER BY month) AS x2
             |  FROM m),
             |a AS (
             |  SELECT l_suppkey, count(*) AS n, sum(x) AS s,
             |    sum(x * x) AS xx0, sum(x * x1) AS xx1, sum(x * x2) AS xx2,
             |    sum(CASE WHEN t <= 1 THEN x END) AS head1,
             |    sum(CASE WHEN t <= 2 THEN x END) AS head2,
             |    sum(CASE WHEN rt <= 1 THEN x END) AS tail1,
             |    sum(CASE WHEN rt <= 2 THEN x END) AS tail2,
             |    max(CASE WHEN rt = 1 THEN x END) AS xlast,
             |    max(CASE WHEN rt = 2 THEN x END) AS xprev
             |  FROM r GROUP BY 1),
             |nm AS (
             |  SELECT l_suppkey, n, s, xlast, xprev,
             |    CAST(n * n * xx0 - n * s * s AS DOUBLE) AS num0,
             |    CAST(n * n * xx1 - n * s * (2 * s - tail1 - head1)
             |      + (n - 1) * s * s AS DOUBLE) AS num1,
             |    CAST(n * n * xx2 - n * s * (2 * s - tail2 - head2)
             |      + (n - 2) * s * s AS DOUBLE) AS num2
             |  FROM a),
             |rr AS (
             |  SELECT *,
             |    CASE WHEN num0 = 0.0 THEN NULL ELSE num1 / num0 END AS r1,
             |    CASE WHEN num0 = 0.0 THEN NULL ELSE num2 / num0 END AS r2
             |  FROM nm),
             |ph AS (SELECT *, 1.0 - r1 * r1 AS den FROM rr),
             |p2 AS (
             |  SELECT *,
             |    CASE WHEN den = 0.0 THEN NULL
             |      ELSE r1 * (1.0 - r2) / den END AS phi1,
             |    CASE WHEN den = 0.0 THEN NULL
             |      ELSE (r2 - r1 * r1) / den END AS phi2,
             |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mm
             |  FROM ph)
             |SELECT l_suppkey, n,
             |  floor(r1 * 1000000 + 0.5) / 1000000 AS r1,
             |  floor(r2 * 1000000 + 0.5) / 1000000 AS r2,
             |  floor(phi1 * 1000000 + 0.5) / 1000000 AS phi1,
             |  floor(phi2 * 1000000 + 0.5) / 1000000 AS phi2,
             |  floor((mm + phi1 * (CAST(xlast AS DOUBLE) - mm)
             |    + phi2 * (CAST(xprev AS DOUBLE) - mm)) * 10000 + 0.5) / 10000
             |    AS forecast
             |FROM p2 ORDER BY l_suppkey""".stripMargin)),

    // Theil–Sen: median-of-pairwise-slopes robust trend; medians via
    // explicit middle ranks so both engines average the same two values
    Q("ts_theil_sen",
      (s, d) => graft.ops.TimeSeriesOps.theilSen(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_suppkey, date_trunc('month', l_shipdate) AS month,
             |    CAST(sum(l_quantity) AS BIGINT) AS x
             |  FROM lineitem WHERE l_suppkey < 10 GROUP BY 1, 2),
             |r AS (
             |  SELECT l_suppkey, x,
             |    row_number() OVER (PARTITION BY l_suppkey ORDER BY month) AS t
             |  FROM m),
             |pr AS (
             |  SELECT a.l_suppkey,
             |    CAST(b.x - a.x AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
             |  FROM r a JOIN r b ON a.l_suppkey = b.l_suppkey AND b.t > a.t),
             |sm AS (
             |  SELECT l_suppkey, nv AS n_pairs,
             |    sum(slope) / count(*) AS slope_med
             |  FROM (
             |    SELECT l_suppkey, slope,
             |      row_number() OVER (PARTITION BY l_suppkey ORDER BY slope)
             |        AS rn,
             |      count(*) OVER (PARTITION BY l_suppkey) AS nv
             |    FROM pr) q
             |  WHERE rn = (nv + 1) // 2 OR rn = (nv + 2) // 2
             |  GROUP BY 1, 2),
             |rs AS (
             |  SELECT r.l_suppkey,
             |    CAST(r.x AS DOUBLE) - sm.slope_med * CAST(r.t AS DOUBLE)
             |      AS resid
             |  FROM r JOIN sm ON r.l_suppkey = sm.l_suppkey),
             |im AS (
             |  SELECT l_suppkey, sum(resid) / count(*) AS intercept
             |  FROM (
             |    SELECT l_suppkey, resid,
             |      row_number() OVER (PARTITION BY l_suppkey ORDER BY resid)
             |        AS rn,
             |      count(*) OVER (PARTITION BY l_suppkey) AS nv
             |    FROM rs) q
             |  WHERE rn = (nv + 1) // 2 OR rn = (nv + 2) // 2
             |  GROUP BY 1)
             |SELECT sm.l_suppkey, sm.n_pairs,
             |  floor(slope_med * 1000000 + 0.5) / 1000000 AS slope,
             |  floor(slope_med * 12 * 1000000 + 0.5) / 1000000 AS slope_per_year,
             |  floor(intercept * 10000 + 0.5) / 10000 AS intercept
             |FROM sm JOIN im ON sm.l_suppkey = im.l_suppkey
             |ORDER BY 1""".stripMargin)),

    // split-conformal intervals on the one-step naive forecast: even steps
    // calibrate, odd steps test; the radius is an EXACT k-th order statistic
    // of integer scores at the ceiling rank ((n+1)*4+4) div 5 (α = 1/5 kept
    // in integer arithmetic — neither engine touches binary 0.8)
    Q("ts_conformal_intervals",
      (s, d) => graft.ops.TimeSeriesOps.conformalIntervals(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_suppkey, CAST(date_trunc('month', l_shipdate) AS DATE)
             |      AS month,
             |    CAST(sum(l_quantity) AS BIGINT) AS x
             |  FROM lineitem WHERE l_suppkey < 10 GROUP BY 1, 2),
             |s AS (
             |  SELECT l_suppkey, month, x,
             |    row_number() OVER w AS t, lag(x, 1) OVER w AS xprev
             |  FROM m WINDOW w AS (PARTITION BY l_suppkey ORDER BY month)),
             |sc AS (SELECT l_suppkey, month, t, abs(x - xprev) AS score
             |       FROM s WHERE xprev IS NOT NULL),
             |cal AS (SELECT * FROM sc WHERE t % 2 = 0),
             |cn AS (SELECT l_suppkey, count(*) AS n_cal FROM cal GROUP BY 1),
             |rk AS (
             |  SELECT cal.l_suppkey, score,
             |    row_number() OVER (PARTITION BY cal.l_suppkey
             |                       ORDER BY score, month) AS rn,
             |    ((cn.n_cal + 1) * 4 + 4) // 5 AS k
             |  FROM cal JOIN cn USING (l_suppkey)),
             |rad AS (
             |  SELECT cn.l_suppkey, cn.n_cal, r.score AS radius
             |  FROM cn LEFT JOIN (SELECT l_suppkey, score FROM rk
             |                     WHERE rn = k) r USING (l_suppkey))
             |SELECT sc.l_suppkey, rad.n_cal, count(*) AS n_test, rad.radius,
             |  CAST(sum(CASE WHEN rad.radius IS NULL
             |    OR sc.score <= rad.radius THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_covered,
             |  floor(CAST(sum(CASE WHEN rad.radius IS NULL
             |      OR sc.score <= rad.radius THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) * 10000 + 0.5) / 10000 AS coverage
             |FROM sc JOIN rad USING (l_suppkey)
             |WHERE sc.t % 2 <> 0
             |GROUP BY 1, 2, 4
             |ORDER BY 1""".stripMargin)),

    // pairwise Granger causality (adjacent-supplier pairs, both directions):
    // exact integer sufficient statistics on the aligned month grid, then
    // one identical Cramer-rule expression tree in both engines; degenerate
    // designs (constant lag / singular / perfect fit) surface as NULLs
    Q("ts_granger",
      (s, d) => graft.ops.TimeSeriesOps.grangerCausality(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT CAST(l_suppkey AS BIGINT) AS k,
             |    CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
             |    CAST(sum(l_quantity) AS BIGINT) AS x
             |  FROM lineitem WHERE l_suppkey < 10 GROUP BY 1, 2),
             |p AS (
             |  SELECT a.k, a.month, a.x, b.x AS y
             |  FROM m a JOIN m b ON b.month = a.month
             |    AND b.k = CASE WHEN a.k % 2 = 0 THEN a.k + 1
             |              ELSE a.k - 1 END),
             |l AS (
             |  SELECT k, x, lag(x) OVER w AS u, lag(y) OVER w AS v
             |  FROM p WINDOW w AS (PARTITION BY k ORDER BY month)),
             |g AS (
             |  SELECT k, count(*) AS n,
             |    CAST(sum(x) AS BIGINT) AS sy, CAST(sum(u) AS BIGINT) AS su,
             |    CAST(sum(v) AS BIGINT) AS sv,
             |    CAST(sum(x * x) AS BIGINT) AS syy,
             |    CAST(sum(u * u) AS BIGINT) AS suu,
             |    CAST(sum(v * v) AS BIGINT) AS svv,
             |    CAST(sum(u * x) AS BIGINT) AS suy,
             |    CAST(sum(v * x) AS BIGINT) AS svy,
             |    CAST(sum(u * v) AS BIGINT) AS suv
             |  FROM l WHERE u IS NOT NULL GROUP BY 1),
             |c AS (
             |  SELECT k, n,
             |    CAST(n * syy - sy * sy AS DOUBLE) AS myy,
             |    CAST(n * suu - su * su AS DOUBLE) AS muu,
             |    CAST(n * svv - sv * sv AS DOUBLE) AS mvv,
             |    CAST(n * suy - su * sy AS DOUBLE) AS muy,
             |    CAST(n * svy - sv * sy AS DOUBLE) AS mvy,
             |    CAST(n * suv - su * sv AS DOUBLE) AS muv
             |  FROM g),
             |e AS (
             |  SELECT k, n, myy, muy, mvy,
             |    CASE WHEN muu = 0 THEN NULL
             |      ELSE myy - muy * muy / muu END AS sse_r_s,
             |    muu * mvv - muv * muv AS det,
             |    CASE WHEN muu * mvv - muv * muv = 0 THEN NULL
             |      ELSE (muy * mvv - mvy * muv) / (muu * mvv - muv * muv)
             |      END AS bb,
             |    CASE WHEN muu * mvv - muv * muv = 0 THEN NULL
             |      ELSE (mvy * muu - muy * muv) / (muu * mvv - muv * muv)
             |      END AS cc
             |  FROM c),
             |f AS (
             |  SELECT k, n, sse_r_s,
             |    myy - bb * muy - cc * mvy AS sse_u_s
             |  FROM e),
             |ff AS (
             |  SELECT k, n, sse_r_s, sse_u_s,
             |    CASE WHEN sse_u_s IS NULL OR sse_u_s <= 0 THEN NULL
             |      ELSE floor((sse_r_s - sse_u_s) * CAST(n - 3 AS DOUBLE)
             |        / sse_u_s * 10000 + 0.5) / 10000 END AS f_stat
             |  FROM f)
             |SELECT k AS l_suppkey,
             |  CASE WHEN k % 2 = 0 THEN k + 1 ELSE k - 1 END AS driver_key,
             |  n,
             |  floor(sse_r_s / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000
             |    AS sse_restricted,
             |  floor(sse_u_s / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000
             |    AS sse_unrestricted,
             |  f_stat,
             |  CASE WHEN f_stat IS NULL THEN NULL ELSE f_stat > 4.0 END
             |    AS granger_causal
             |FROM ff ORDER BY l_suppkey""".stripMargin)),

    // matrix-profile motif: closest non-overlapping window pair under exact
    // integer squared distance; lexicographic (dist2, i, j) tie-break
    Q("ts_motif_discovery",
      (s, d) => graft.ops.TimeSeriesOps.motifDiscovery(lineitem(s, d)),
      Some("""WITH m AS (
             |  SELECT l_suppkey, date_trunc('month', l_shipdate) AS month,
             |    CAST(sum(l_quantity) AS BIGINT) AS x
             |  FROM lineitem WHERE l_suppkey < 10 GROUP BY 1, 2),
             |r AS (
             |  SELECT l_suppkey, x,
             |    row_number() OVER (PARTITION BY l_suppkey ORDER BY month) AS t
             |  FROM m),
             |wv AS (
             |  SELECT l_suppkey, t, x AS v0,
             |    lead(x, 1) OVER win AS v1, lead(x, 2) OVER win AS v2,
             |    lead(x, 3) OVER win AS v3, lead(x, 4) OVER win AS v4,
             |    lead(x, 5) OVER win AS v5
             |  FROM r WINDOW win AS (PARTITION BY l_suppkey ORDER BY t)),
             |w2 AS (SELECT * FROM wv WHERE v5 IS NOT NULL),
             |pp AS (
             |  SELECT a.l_suppkey, a.t AS i, b.t AS j,
             |    (a.v0 - b.v0) * (a.v0 - b.v0) + (a.v1 - b.v1) * (a.v1 - b.v1)
             |    + (a.v2 - b.v2) * (a.v2 - b.v2) + (a.v3 - b.v3) * (a.v3 - b.v3)
             |    + (a.v4 - b.v4) * (a.v4 - b.v4) + (a.v5 - b.v5) * (a.v5 - b.v5)
             |      AS dist2
             |  FROM w2 a JOIN w2 b
             |    ON a.l_suppkey = b.l_suppkey AND b.t >= a.t + 6),
             |sel AS (
             |  SELECT l_suppkey, i, j, dist2,
             |    row_number() OVER (PARTITION BY l_suppkey
             |      ORDER BY dist2, i, j) AS rn,
             |    count(*) OVER (PARTITION BY l_suppkey) AS n_pairs
             |  FROM pp)
             |SELECT l_suppkey, n_pairs,
             |  CAST(i AS INTEGER) AS motif_i, CAST(j AS INTEGER) AS motif_j,
             |  CAST(dist2 AS BIGINT) AS dist2,
             |  floor(sqrt(CAST(dist2 AS DOUBLE) / 6) * 10000 + 0.5) / 10000
             |    AS rms_dist
             |FROM sel WHERE rn = 1 ORDER BY l_suppkey""".stripMargin))
  )

  /** Reference-parity queries: JSON-stat densifier + silver transforms
    * (SURVEY.md §2.2 S1–S6). `s2_densify` runs on an embedded fixture cube
    * (the densifier's input is a payload, not a table); its oracle is a VALUES
    * table derived from an independent driver-side enumeration.
    */
  private def parityQueries: Seq[Q] = Seq(
    Q("s2_densify",
      (s, _) => JsonStat.densify(s, Fixtures.sparseCube)
        .select(col("unit"), col("geo"), col("time").as("time_code"), col("value"))
        .orderBy("unit", "geo", "time_code"),
      Some(Fixtures.expectedValuesSql)),

    // the densifier's ERROR contract, oracle-checked: every malformed
    // payload variant (missing keys, id/size drift, short value vector,
    // bad node types — process_hicp_silver.py:70–89, 38, 104) must fail
    // LOUDLY at parse time with a message naming the offense; a silent
    // mis-densification would ship wrong observations downstream. The
    // census row per fixture records that it raised and that the message
    // carried the expected fragment.
    Q("s2_densify_errors",
      (s, _) => {
        import s.implicits._
        Fixtures.errorPayloads.map { case (name, payload, fragment) =>
          val outcome =
            try { JsonStat.parse(payload); ("no_error_raised", false) }
            catch { case e: IllegalArgumentException =>
              ("raised", e.getMessage.contains(fragment))
            }
          (name, outcome._1, outcome._2)
        }.toDF("fixture", "outcome", "message_names_offense")
          .orderBy("fixture")
      },
      Some {
        val rows = Fixtures.errorPayloads.map(_._1).sorted
          .map(n => s"('$n', 'raised', true)").mkString(", ")
        s"""SELECT * FROM (VALUES $rows)
           |AS t(fixture, outcome, message_names_offense)
           |ORDER BY fixture""".stripMargin
      }),

    Q("s3_time_parse",
      (s, d) => {
        val o = orders(s, d)
        val code = when(col("o_orderkey") % 3 === 0,
            date_format(col("o_orderdate"), "yyyy'M'MM"))
          .when(col("o_orderkey") % 3 === 1,
            date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM"))
        o.select(col("o_orderkey"), code.as("time_code"))
          .withColumn("parsed_month",
            date_format(SilverTransform.parseTimeCode(col("time_code")), "yyyy-MM-dd"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%YM%m')
             |       WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m-%d')
             |       ELSE strftime(o_orderdate, '%Y-%m') END AS time_code,
             |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS parsed_month
             |FROM orders
             |ORDER BY o_orderkey""".stripMargin)),

    Q("s6_silver_pipeline",
      (s, _) => SilverTransform.silver(s, Fixtures.sparseCube,
          "2026-01-01T00:00:00+00:00", "raw/hicp/fixture/ts=20260101_000000.json")
        .select(date_format(col("time"), "yyyy-MM-dd").as("time"),
          col("geo"), col("unit"), col("value"),
          col("processed_at_utc"), col("raw_blob"))
        .orderBy("geo", "unit", "time"),
      Some {
        val rows = Fixtures.expectedRows
          .map { case (u, g, t, v) =>
            val month = s"${t.take(4)}-${t.drop(5)}-01"
            (month, g, u, v)
          }
          .sortBy(r => (r._2, r._3, r._1))
          .map { case (m, g, u, v) =>
            val vs = v.map(d => s"CAST($d AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
            s"('$m', '$g', '$u', $vs, '2026-01-01T00:00:00+00:00', 'raw/hicp/fixture/ts=20260101_000000.json')"
          }
        s"""SELECT * FROM (VALUES ${rows.mkString(", ")})
           |AS t(time, geo, unit, value, processed_at_utc, raw_blob)
           |ORDER BY geo, unit, time""".stripMargin
      })
  )

  /** Quality-check queries Q2–Q8 (SURVEY.md §2.3), instantiated over the
    * driver's star schema: lineitem plays the silver table with key
    * (l_orderkey, l_linenumber), time l_shipdate, value l_quantity; orders
    * provides the per-group monthly-continuity workload.
    */
  private def qualityQueries: Seq[Q] = Seq(
    Q("qc_q2_null_counts",
      (s, d) => QualityChecks.nullCounts(lineitem(s, d),
        Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity", "l_returnflag")),
      Some("""SELECT
             |  count(*) FILTER (WHERE l_orderkey IS NULL) AS l_orderkey_nulls,
             |  count(*) FILTER (WHERE l_linenumber IS NULL) AS l_linenumber_nulls,
             |  count(*) FILTER (WHERE l_shipdate IS NULL) AS l_shipdate_nulls,
             |  count(*) FILTER (WHERE l_quantity IS NULL) AS l_quantity_nulls,
             |  count(*) FILTER (WHERE l_returnflag IS NULL) AS l_returnflag_nulls
             |FROM lineitem""".stripMargin)),

    Q("qc_q3_duplicate_keys",
      (s, d) => {
        val li = lineitem(s, d)
        val withDups = li.unionByName(
          li.orderBy("l_orderkey", "l_linenumber").limit(100))
        QualityChecks.duplicateKeyCount(withDups, Seq("l_orderkey", "l_linenumber"))
      },
      Some("""WITH aug AS (
             |  SELECT l_orderkey, l_linenumber FROM lineitem
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber FROM
             |    (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100)),
             |g AS (SELECT count(*) AS c FROM aug GROUP BY l_orderkey, l_linenumber)
             |SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n_dup_rows FROM g""".stripMargin)),

    Q("qc_q4_value_sanity",
      (s, d) => lineitem(s, d).agg(
        QualityChecks.nonPositiveCount(lineitem(s, d), "l_quantity"),
        count(when(col("l_discount") <= 0, 1)).as("l_discount_nonpositive")),
      Some("""SELECT
             |  count(*) FILTER (WHERE l_quantity <= 0) AS l_quantity_nonpositive,
             |  count(*) FILTER (WHERE l_discount <= 0) AS l_discount_nonpositive
             |FROM lineitem""".stripMargin)),

    Q("qc_q5_time_parse_nulls",
      (s, d) => {
        val o = orders(s, d)
        val code = when(col("o_orderkey") % 10 === 0, col("o_orderpriority"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd"))
        val parsed = o.select(SilverTransform.parseTimeCode(code).as("t"))
        parsed.agg(QualityChecks.nullTimeCount(parsed, "t"))
      },
      Some("""SELECT count(*) FILTER (WHERE o_orderkey % 10 = 0) AS time_nulls
             |FROM orders""".stripMargin)),

    Q("qc_q6_continuity",
      (s, d) => QualityChecks.monthlyContinuity(orders(s, d), Seq("o_custkey"), "o_orderdate")
        .select(col("o_custkey"), col("n_months"),
          date_format(col("min_month"), "yyyy-MM-dd").as("min_month"),
          date_format(col("max_month"), "yyyy-MM-dd").as("max_month"),
          col("expected_months"), col("ok"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             |  count(DISTINCT date_trunc('month', o_orderdate)) AS n_months,
             |  strftime(min(date_trunc('month', o_orderdate)), '%Y-%m-%d') AS min_month,
             |  strftime(max(date_trunc('month', o_orderdate)), '%Y-%m-%d') AS max_month,
             |  date_diff('month', min(date_trunc('month', o_orderdate)),
             |            max(date_trunc('month', o_orderdate))) + 1 AS expected_months,
             |  (count(DISTINCT date_trunc('month', o_orderdate)) < 3 OR
             |   count(DISTINCT date_trunc('month', o_orderdate)) =
             |     date_diff('month', min(date_trunc('month', o_orderdate)),
             |               max(date_trunc('month', o_orderdate))) + 1) AS ok
             |FROM orders
             |GROUP BY o_custkey
             |ORDER BY o_custkey""".stripMargin)),

    Q("qc_q7_summary",
      (s, d) => lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_time"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_time"),
        round(min(col("l_quantity")), 2).as("value_min"),
        round(max(col("l_quantity")), 2).as("value_max")),
      Some("""SELECT count(*) AS n_rows,
             |  strftime(min(l_shipdate), '%Y-%m-%d') AS min_time,
             |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_time,
             |  round(min(l_quantity), 2) AS value_min,
             |  round(max(l_quantity), 2) AS value_max
             |FROM lineitem""".stripMargin)),

    // SCD Type-2 merge (the history-keeping upsert next to G4/G5):
    // customers as the open dim slice, a deterministic update set (every
    // 14th key changes segment, every other 7th is a no-op update),
    // summarized per segment
    Q("g5_scd2_merge",
      (s, d) => {
        val c = customer(s, d)
        val dim = c.select(col("c_custkey"), col("c_mktsegment"),
          lit("1990-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        val upd = c.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"),
            when(col("c_custkey") % 14 === 0, lit("MOVED"))
              .otherwise(col("c_mktsegment")).as("c_mktsegment"),
            lit("1996-06-01").cast("date").as("changed_at"))
          // WHEN NOT MATCHED arm: keys guaranteed absent from dim insert
          .unionByName(c.filter(col("c_custkey") % 50 === 0)
            .select((col("c_custkey") + 10000000).as("c_custkey"),
              lit("NEWSEG").as("c_mktsegment"),
              lit("1996-06-01").cast("date").as("changed_at")))
        GoldWriter.scd2Merge(dim, upd, "c_custkey", "c_mktsegment", "changed_at")
          .groupBy(col("c_mktsegment"))
          .agg(count(when(col("valid_to").isNull, 1)).as("n_open"),
            count(when(col("valid_to").isNotNull, 1)).as("n_closed"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH dim AS (
             |  SELECT c_custkey, c_mktsegment,
             |    DATE '1990-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
             |  FROM customer),
             |upd0 AS (
             |  SELECT c_custkey,
             |    CASE WHEN c_custkey % 14 = 0 THEN 'MOVED' ELSE c_mktsegment END AS new_attr,
             |    DATE '1996-06-01' AS changed_at
             |  FROM customer WHERE c_custkey % 7 = 0
             |  UNION ALL
             |  SELECT c_custkey + 10000000, 'NEWSEG', DATE '1996-06-01'
             |  FROM customer WHERE c_custkey % 50 = 0),
             |upd AS (
             |  -- CDC compaction, mirroring the engine: one update per key,
             |  -- latest change_at wins, ties broken on the value. The sf1
             |  -- graduation run caught the un-compacted oracle diverging
             |  -- when synthetic +10M keys collided with scaled real keys.
             |  SELECT c_custkey, new_attr, changed_at FROM (
             |    SELECT *, row_number() OVER (PARTITION BY c_custkey
             |      ORDER BY changed_at DESC, new_attr) AS rn FROM upd0)
             |  WHERE rn = 1),
             |j AS (
             |  SELECT d.c_custkey, d.c_mktsegment, d.valid_from, d.valid_to,
             |    u.new_attr, u.changed_at
             |  FROM dim d LEFT JOIN upd u USING (c_custkey)),
             |merged AS (
             |  SELECT c_mktsegment, valid_to FROM j
             |  WHERE new_attr IS NULL OR new_attr = c_mktsegment
             |  UNION ALL
             |  SELECT c_mktsegment, changed_at FROM j
             |  WHERE new_attr IS NOT NULL AND new_attr <> c_mktsegment
             |  UNION ALL
             |  SELECT new_attr, CAST(NULL AS DATE) FROM j
             |  WHERE new_attr IS NOT NULL AND new_attr <> c_mktsegment
             |  UNION ALL
             |  SELECT u.new_attr, CAST(NULL AS DATE) FROM upd u
             |  WHERE u.c_custkey NOT IN (SELECT c_custkey FROM dim))
             |SELECT c_mktsegment,
             |  count(*) FILTER (WHERE valid_to IS NULL) AS n_open,
             |  count(*) FILTER (WHERE valid_to IS NOT NULL) AS n_closed,
             |  count(*) AS n_rows
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin)),

    // one-pass column profiler: exact distincts, nulls, stringified min/max
    // for four heterogeneous lineitem columns in a single aggregation
    Q("qc_profile",
      (s, d) => QualityChecks.profileColumns(lineitem(s, d),
        Seq("l_returnflag", "l_suppkey", "l_quantity", "l_linenumber")),
      Some("""SELECT col_name, n_distinct, n_nulls, min_value, max_value
             |FROM (
             |  SELECT 'l_returnflag' AS col_name,
             |    count(DISTINCT l_returnflag) AS n_distinct,
             |    count(*) FILTER (WHERE l_returnflag IS NULL) AS n_nulls,
             |    CAST(min(l_returnflag) AS VARCHAR) AS min_value,
             |    CAST(max(l_returnflag) AS VARCHAR) AS max_value
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_suppkey', count(DISTINCT l_suppkey),
             |    count(*) FILTER (WHERE l_suppkey IS NULL),
             |    CAST(min(l_suppkey) AS VARCHAR), CAST(max(l_suppkey) AS VARCHAR)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_quantity', count(DISTINCT l_quantity),
             |    count(*) FILTER (WHERE l_quantity IS NULL),
             |    CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_linenumber', count(DISTINCT l_linenumber),
             |    count(*) FILTER (WHERE l_linenumber IS NULL),
             |    CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR)
             |  FROM lineitem)
             |ORDER BY col_name""".stripMargin)),

    // PSI distribution drift between the pre-/post-1996 order snapshots:
    // fixed-width bins, exact-integer fractions, epsilon floor on empties;
    // psi_term is quantized from the RAW fractions on both sides
    Q("qc_psi_drift",
      (s, d) => {
        val o = orders(s, d)
        QualityChecks.psiDrift(
          o.filter(col("o_orderdate") < lit("1996-01-01")),
          o.filter(col("o_orderdate") >= lit("1996-01-01")),
          "o_totalprice", binWidth = 25000.0)
      },
      Some("""WITH b AS (
             |  SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
             |    count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1996-01-01') AS n_before,
             |    count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1996-01-01') AS n_after
             |  FROM orders GROUP BY 1),
             |t AS (SELECT sum(n_before) AS t_before, sum(n_after) AS t_after FROM b),
             |f AS (
             |  SELECT bin, n_before, n_after,
             |    greatest(CAST(n_before AS DOUBLE) / t_before, 1e-6) AS p_raw,
             |    greatest(CAST(n_after AS DOUBLE) / t_after, 1e-6) AS q_raw
             |  FROM b CROSS JOIN t)
             |SELECT bin, n_before, n_after,
             |  floor(p_raw * 10000 + 0.5) / 10000 AS p_frac,
             |  floor(q_raw * 10000 + 0.5) / 10000 AS q_frac,
             |  floor((p_raw - q_raw) * ln(p_raw / q_raw) * 10000 + 0.5) / 10000 AS psi_term
             |FROM f ORDER BY bin""".stripMargin)),

    // Benford first-digit screen on the money column; leading digit comes
    // from the exact-cents STRING (numeric log10 extraction can flip at
    // powers of ten across engines)
    // embedding-table sanity gate: wrong-dim / non-finite / zero-norm
    // counts (each silently poisons cosine retrieval downstream) + the
    // norm-scale drift signal; per-row norms floor-quantized to exact
    // longs BEFORE the sum, one division at the end
    Q("qc_embedding_sanity",
      (s, d) => QualityChecks.embeddingSanity(embeddings(s, d)),
      Some(s"""WITH e AS (SELECT label, $DuckVec AS v FROM embeddings),
              |r AS (SELECT label,
              |    CASE WHEN len(v) <> 64 THEN 1 ELSE 0 END AS dim_bad,
              |    CASE WHEN len(list_filter(v,
              |        x -> isnan(x) OR isinf(x))) > 0 THEN 1 ELSE 0 END
              |      AS nonfinite,
              |    list_sum(list_transform(v, x -> x * x)) AS sumsq
              |  FROM e),
              |q AS (SELECT label, dim_bad, nonfinite,
              |    CASE WHEN sumsq = 0.0 THEN 1 ELSE 0 END AS zero_norm,
              |    CASE WHEN nonfinite = 0
              |      THEN CAST(floor(sqrt(sumsq) * 10000 + 0.5) AS BIGINT)
              |      ELSE 0 END AS norm_q4
              |  FROM r)
              |SELECT label, count(*) AS n_vecs,
              |  CAST(sum(dim_bad) AS BIGINT) AS n_dim_bad,
              |  CAST(sum(nonfinite) AS BIGINT) AS n_nonfinite,
              |  CAST(sum(zero_norm) AS BIGINT) AS n_zero_norm,
              |  CAST(sum(norm_q4) AS DOUBLE)
              |    / (CAST(nullif(sum(1 - nonfinite), 0) AS DOUBLE) * 10000.0)
              |    AS avg_norm
              |FROM q GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("qc_benford",
      (s, d) => QualityChecks.benfordFirstDigit(orders(s, d), "o_totalprice"),
      Some("""WITH d AS (
             |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
             |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
             |  FROM orders WHERE o_totalprice > 0),
             |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
             |t AS (SELECT sum(n) AS total FROM c),
             |e AS (SELECT unnest(range(1, 10)) AS digit),
             |j AS (
             |  SELECT e.digit, coalesce(c.n, 0) AS n,
             |    CAST(coalesce(c.n, 0) AS DOUBLE) / t.total AS p,
             |    log10(1.0 + 1.0 / e.digit) AS ep
             |  FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t
             |  WHERE coalesce(c.n, 0) > 0)
             |SELECT CAST(digit AS INTEGER) AS digit, n,
             |  floor(p * 10000 + 0.5) / 10000 AS observed_p,
             |  floor(ep * 10000 + 0.5) / 10000 AS expected_p,
             |  floor(abs(p - ep) * 10000 + 0.5) / 10000 AS abs_dev
             |FROM j ORDER BY digit""".stripMargin)),

    // Tukey IQR-fence outlier census over four lineitem measures: exact
    // interpolated quartiles (Spark percentile == DuckDB quantile_cont),
    // 1.5×IQR fences, beyond-fence counts; one quartile pass + one
    // census pass for all columns
    Q("qc_outlier_iqr",
      (s, d) => QualityChecks.iqrOutliers(lineitem(s, d),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")),
      Some {
        val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        val qsel = cols.map(c =>
          s"quantile_cont($c, 0.25) AS q1_$c, quantile_cont($c, 0.75) AS q3_$c")
          .mkString(",\n    ")
        val csel = cols.map(c =>
          s"""CAST(sum(CASE WHEN $c < q1_$c - 1.5 * (q3_$c - q1_$c)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS nb_$c,
             |    CAST(sum(CASE WHEN $c > q3_$c + 1.5 * (q3_$c - q1_$c)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS na_$c""".stripMargin)
          .mkString(",\n    ")
        val rows = cols.map(c =>
          s"""SELECT '$c' AS column_name,
             |  floor(q1_$c * 10000 + 0.5) / 10000 AS q1,
             |  floor(q3_$c * 10000 + 0.5) / 10000 AS q3,
             |  floor((q1_$c - 1.5 * (q3_$c - q1_$c)) * 10000 + 0.5) / 10000
             |    AS lo_fence,
             |  floor((q3_$c + 1.5 * (q3_$c - q1_$c)) * 10000 + 0.5) / 10000
             |    AS hi_fence,
             |  n_rows, nb_$c AS n_below, na_$c AS n_above FROM q, c"""
            .stripMargin).mkString("\nUNION ALL ")
        s"""WITH q AS (SELECT
           |    $qsel
           |  FROM lineitem),
           |c AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |    $csel
           |  FROM lineitem, q)
           |$rows
           |ORDER BY column_name""".stripMargin
      }),

    // the 100-TB quantile path, property-checked: the distributed
    // approx_percentile (GK sketch) fences must reproduce the exact Tukey
    // quartiles and outlier census within tolerance. Exact values ride
    // along for hash parity; the oracle asserts the flags.
    Q("qc_outlier_iqr_approx",
      // r17: fused — one aggregate carries BOTH quartile buffers and one
      // census scan counts both fence sets (was two iqrOutliers legs =
      // four fact-table passes); identical value expressions, same output
      (s, d) => QualityChecks.iqrApproxAudit(lineitem(s, d),
        Seq("l_extendedprice", "l_quantity")),
      Some("""WITH q AS (SELECT
             |    quantile_cont(l_extendedprice, 0.25) AS q1_p,
             |    quantile_cont(l_extendedprice, 0.75) AS q3_p,
             |    quantile_cont(l_quantity, 0.25) AS q1_q,
             |    quantile_cont(l_quantity, 0.75) AS q3_q
             |  FROM lineitem),
             |c AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(sum(CASE WHEN l_extendedprice < q1_p - 1.5 * (q3_p - q1_p)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS nb_p,
             |    CAST(sum(CASE WHEN l_extendedprice > q3_p + 1.5 * (q3_p - q1_p)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS na_p,
             |    CAST(sum(CASE WHEN l_quantity < q1_q - 1.5 * (q3_q - q1_q)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS nb_q,
             |    CAST(sum(CASE WHEN l_quantity > q3_q + 1.5 * (q3_q - q1_q)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS na_q
             |  FROM lineitem, q)
             |SELECT 'l_extendedprice' AS column_name,
             |  floor(q1_p * 10000 + 0.5) / 10000 AS q1,
             |  floor(q3_p * 10000 + 0.5) / 10000 AS q3,
             |  n_rows, nb_p AS n_below, na_p AS n_above,
             |  true AS quartiles_within_tol, true AS census_within_tol
             |FROM q, c
             |UNION ALL SELECT 'l_quantity',
             |  floor(q1_q * 10000 + 0.5) / 10000,
             |  floor(q3_q * 10000 + 0.5) / 10000,
             |  n_rows, nb_q, na_q, true, true
             |FROM q, c
             |ORDER BY column_name""".stripMargin)),

    // categorical dependence screen: per-cell pointwise MI terms (cells
    // sum to MI; per-cell keeps the compare engine-exact)
    // functional-dependency audit over orders column pairs: exact
    // violation census (groups + rows) so near-FDs stay visible
    Q("qc_fd_audit",
      (s, d) => QualityChecks.fdAudit(orders(s, d), Seq(
        ("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority"),
        ("o_orderdate", "o_orderstatus"),
        ("o_orderpriority", "o_orderstatus"))),
      Some {
        def one(det: String, dep: String): String =
          s"""SELECT '$det' AS determinant, '$dep' AS dependent,
             |  count(*) AS n_groups,
             |  CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_violating_groups,
             |  CAST(sum(CASE WHEN ndep > 1 THEN nrows ELSE 0 END) AS BIGINT)
             |    AS n_violating_rows,
             |  CAST(max(ndep) AS BIGINT) AS max_dep_values,
             |  CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0
             |    AS fd_holds
             |FROM (SELECT $det AS k, count(DISTINCT $dep) AS ndep,
             |        count(*) AS nrows
             |      FROM orders GROUP BY 1)""".stripMargin
        Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority"),
          ("o_orderdate", "o_orderstatus"),
          ("o_orderpriority", "o_orderstatus"))
          .map { case (a, b) => one(a, b) }
          .mkString("", " UNION ALL\n", "\nORDER BY determinant, dependent")
      }),

    // Pearson chi-square independence: event_type x epoch-day-of-week
    // contingency, exact integer cells, per-cell (o-e)^2/e, and a
    // SORTED-FOLD total (bit-identical cross-engine) with dof
    Q("qc_chi2",
      (s, d) => QualityChecks.chi2Independence(
        events(s, d).select(col("event_type"),
          (datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
            .cast("long") % 7).as("dow")),
        "event_type", "dow"),
      Some("""WITH j AS (
             |  SELECT event_type AS x,
             |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
             |      AS BIGINT) AS y,
             |    count(*) AS o
             |  FROM events GROUP BY 1, 2),
             |mx AS (SELECT x, CAST(sum(o) AS BIGINT) AS nx FROM j GROUP BY 1),
             |my AS (SELECT y, CAST(sum(o) AS BIGINT) AS ny FROM j GROUP BY 1),
             |t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |    count(DISTINCT x) AS nxd, count(DISTINCT y) AS nyd FROM j),
             |cells AS (
             |  SELECT mx.x, my.y, COALESCE(j.o, 0) AS o,
             |    CAST(mx.nx AS DOUBLE) * CAST(my.ny AS DOUBLE) / t.n AS e,
             |    (CAST(COALESCE(j.o, 0) AS DOUBLE)
             |       - CAST(mx.nx AS DOUBLE) * CAST(my.ny AS DOUBLE) / t.n)
             |    * (CAST(COALESCE(j.o, 0) AS DOUBLE)
             |       - CAST(mx.nx AS DOUBLE) * CAST(my.ny AS DOUBLE) / t.n)
             |    / (CAST(mx.nx AS DOUBLE) * CAST(my.ny AS DOUBLE) / t.n)
             |      AS contrib,
             |    (t.nxd - 1) * (t.nyd - 1) AS dof
             |  FROM mx CROSS JOIN my
             |    LEFT JOIN j ON j.x = mx.x AND j.y = my.y CROSS JOIN t),
             |tot AS (
             |  SELECT list_reduce(list(contrib ORDER BY x, y),
             |      (a, b) -> a + b) AS chi2,
             |    max(dof) AS dof FROM cells)
             |SELECT c.x, c.y, c.o,
             |  floor(c.e * 1000000 + 0.5) / 1000000 AS e_q,
             |  floor(c.contrib * 1000000 + 0.5) / 1000000 AS contrib_q,
             |  floor(t2.chi2 * 1000000 + 0.5) / 1000000 AS chi2_total,
             |  CAST(t2.dof AS BIGINT) AS dof
             |FROM cells c CROSS JOIN tot t2
             |ORDER BY c.x, c.y""".stripMargin)),

    Q("qc_mutual_info",
      (s, d) => QualityChecks.mutualInfoCells(lineitem(s, d),
        "l_returnflag", "l_linestatus"),
      Some("""WITH j AS (
             |  SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS nxy
             |  FROM lineitem GROUP BY 1, 2),
             |mx AS (SELECT x, sum(nxy) AS nx FROM j GROUP BY 1),
             |my AS (SELECT y, sum(nxy) AS ny FROM j GROUP BY 1),
             |t AS (SELECT sum(nxy) AS n FROM j)
             |SELECT j.x, j.y, j.nxy,
             |  floor(CAST(j.nxy AS DOUBLE) / t.n * 10000 + 0.5) / 10000 AS p_xy,
             |  floor((CAST(j.nxy AS DOUBLE) / t.n)
             |    * ln(CAST(j.nxy AS DOUBLE) * t.n / (mx.nx * my.ny))
             |    * 10000 + 0.5) / 10000 AS mi_term
             |FROM j JOIN mx ON mx.x = j.x JOIN my ON my.y = j.y CROSS JOIN t
             |ORDER BY j.x, j.y""".stripMargin)),

    // k-anonymity screen on a quasi-identifier tuple: achieved k, class
    // count, classes and rows below the threshold — one QID aggregation
    Q("qc_k_anonymity",
      (s, d) => QualityChecks.kAnonymity(customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), 5),
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS sz
             |  FROM customer GROUP BY 1, 2)
             |SELECT min(sz) AS k_anonymity, count(*) AS n_classes,
             |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS classes_below_k,
             |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
             |    AS rows_at_risk
             |FROM g""".stripMargin)),

    // two-sample KS: exact integer cross-difference max per pair; only the
    // final D division and the (libm-free) p-exponent touch floats
    Q("qc_ks_test",
      (s, d) => QualityChecks.ksTest(events(s, d)),
      Some("""WITH c AS (SELECT DISTINCT event_type FROM events),
             |p AS (
             |  SELECT a.event_type AS ta, b.event_type AS tb
             |  FROM c a JOIN c b ON a.event_type < b.event_type),
             |tg AS (
             |  SELECT p.ta, p.tb, e.value AS v,
             |    CASE WHEN e.event_type = p.ta THEN 1 ELSE 0 END AS is_a,
             |    CASE WHEN e.event_type = p.tb THEN 1 ELSE 0 END AS is_b
             |  FROM p JOIN events e
             |    ON e.event_type = p.ta OR e.event_type = p.tb),
             |cum AS (
             |  SELECT ta, tb,
             |    sum(is_a) OVER w AS a_le,
             |    sum(is_b) OVER w AS b_le
             |  FROM tg
             |  WINDOW w AS (PARTITION BY ta, tb ORDER BY v
             |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |cnt AS (
             |  SELECT ta, tb, CAST(sum(is_a) AS BIGINT) AS n,
             |    CAST(sum(is_b) AS BIGINT) AS m
             |  FROM tg GROUP BY 1, 2),
             |ds AS (
             |  SELECT cum.ta, cum.tb, n, m,
             |    max(abs(a_le * m - b_le * n)) AS d_scaled
             |  FROM cum JOIN cnt ON cnt.ta = cum.ta AND cnt.tb = cum.tb
             |  GROUP BY 1, 2, 3, 4),
             |dd AS (
             |  SELECT ta, tb, n, m,
             |    floor(CAST(d_scaled AS DOUBLE) / CAST(n * m AS DOUBLE)
             |      * 1000000 + 0.5) / 1000000 AS d_stat
             |  FROM ds)
             |SELECT ta, tb, n, m, d_stat,
             |  floor(-2.0 * d_stat * d_stat
             |    * (CAST(n * m AS DOUBLE) / CAST(n + m AS DOUBLE))
             |    * 1000000 + 0.5) / 1000000 AS ln_p_half
             |FROM dd
             |ORDER BY ta, tb""".stripMargin)),

    // l-diversity beside k-anonymity: same QID classes, min DISTINCT count
    // of the bucketed sensitive attribute per class
    Q("qc_l_diversity",
      (s, d) => QualityChecks.lDiversity(customer(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 2000.0).cast("int"), 3),
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS sz,
             |    count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS INTEGER))
             |      AS n_sensitive
             |  FROM customer GROUP BY 1, 2)
             |SELECT min(n_sensitive) AS l_diversity, count(*) AS n_classes,
             |  CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS classes_below_l,
             |  CAST(sum(CASE WHEN n_sensitive < 3 THEN sz ELSE 0 END) AS BIGINT)
             |    AS rows_at_risk
             |FROM g""".stripMargin)),

    // referential-integrity audit over three FK edges: orphans (anti-join,
    // null FK excluded), null FKs, childless parents — per edge one row
    Q("qc_referential_integrity",
      (s, d) => QualityChecks.referentialIntegrity(Seq(
        ("lineitem.l_orderkey->orders", lineitem(s, d), "l_orderkey",
          orders(s, d), "o_orderkey"),
        ("lineitem.l_partkey->part", lineitem(s, d), "l_partkey",
          part(s, d), "p_partkey"),
        ("orders.o_custkey->customer", orders(s, d), "o_custkey",
          customer(s, d), "c_custkey"))),
      Some("""SELECT * FROM (
             |  SELECT 'lineitem.l_orderkey->orders' AS edge,
             |    (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
             |       AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
             |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_fk,
             |    (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders) o
             |       WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS n_childless_parents
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey->part',
             |    (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
             |       AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
             |    (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
             |    (SELECT count(*) FROM (SELECT DISTINCT p_partkey FROM part) p
             |       WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))
             |  UNION ALL
             |  SELECT 'orders.o_custkey->customer',
             |    (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
             |       AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
             |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
             |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer) c
             |       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)))
             |ORDER BY edge""".stripMargin)),

    Q("qc_report_gate",
      (s, d) => QualityChecks.reportRow(s, QualityChecks.runChecks(
        lineitem(s, d),
        requiredCols = Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"),
        keyCols = Seq("l_orderkey", "l_linenumber"),
        timeCol = "l_shipdate", valueCol = "l_quantity",
        groupCols = Seq("l_suppkey"))),
      Some("""WITH nulls AS (
             |  SELECT count(*) FILTER (WHERE l_orderkey IS NULL)
             |       + count(*) FILTER (WHERE l_linenumber IS NULL)
             |       + count(*) FILTER (WHERE l_shipdate IS NULL)
             |       + count(*) FILTER (WHERE l_quantity IS NULL) AS n FROM lineitem),
             |dup AS (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS n FROM
             |  (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber) g),
             |nonpos AS (SELECT count(*) AS n FROM lineitem WHERE l_quantity <= 0),
             |tnull AS (SELECT count(*) AS n FROM lineitem WHERE l_shipdate IS NULL),
             |cont AS (SELECT count(*) FILTER (WHERE NOT ok) AS failing FROM (
             |  SELECT l_suppkey,
             |    (count(DISTINCT date_trunc('month', l_shipdate)) < 3 OR
             |     count(DISTINCT date_trunc('month', l_shipdate)) =
             |       date_diff('month', min(date_trunc('month', l_shipdate)),
             |                 max(date_trunc('month', l_shipdate))) + 1) AS ok
             |  FROM lineitem GROUP BY l_suppkey) pg)
             |SELECT
             |  (SELECT count(*) FROM lineitem) AS n_rows,
             |  TRUE AS required_columns,
             |  (SELECT n FROM nulls) = 0 AS no_nulls,
             |  (SELECT n FROM dup) = 0 AS no_duplicate_keys,
             |  (SELECT n FROM nonpos) = 0 AS values_positive,
             |  (SELECT n FROM tnull) = 0 AS times_parseable,
             |  (SELECT failing FROM cont) = 0 AS monthly_continuity,
             |  ((SELECT n FROM nulls) = 0 AND (SELECT n FROM dup) = 0 AND
             |   (SELECT n FROM nonpos) = 0 AND (SELECT n FROM tnull) = 0 AND
             |   (SELECT failing FROM cont) = 0) AS passed""".stripMargin)),

    // SRC5 distributed: the latest-blob argmax (storage/blob.py:43–60) over a
    // synthetic inventory listing derived from orders — prefix = priority
    // class, mtime = order date. One map-side-combinable max(struct) per
    // prefix; scales to a cloud-inventory listing where the driver-side
    // listStatus argmax cannot.
    Q("src5_latest_blob",
      (s, d) => GoldWriter.latestPerPrefix(
        orders(s, d).select(
          col("o_orderpriority").as("prefix"),
          concat(lit("blob/hicp/"), col("o_orderpriority"), lit("/part-"),
            col("o_orderkey"), lit(".json")).as("path"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("mtime"))),
      Some("""WITH listing AS (
             |  SELECT o_orderpriority AS prefix,
             |    'blob/hicp/' || o_orderpriority || '/part-' || o_orderkey || '.json' AS path,
             |    epoch_us(o_orderdate) AS mtime
             |  FROM orders)
             |SELECT prefix, path AS latest_path, mtime FROM (
             |  SELECT prefix, path, mtime,
             |    row_number() OVER (PARTITION BY prefix ORDER BY mtime DESC, path DESC) AS rn
             |  FROM listing) ranked
             |WHERE rn = 1 ORDER BY prefix""".stripMargin)),

    Q("g2_gold_projection",
      (s, _) => GoldWriter.goldProjection(
          SilverTransform.silver(s, Fixtures.sparseCube,
            "2026-01-01T00:00:00+00:00", "raw/hicp/fixture/ts=20260101_000000.json"))
        .select(date_format(col("time"), "yyyy-MM-dd").as("time"),
          col("geo"), col("unit"), col("value"),
          col("processed_at_utc"), col("raw_blob"))
        .orderBy("geo", "unit", "time"),
      Some {
        val rows = Fixtures.expectedRows
          .map { case (u, g, t, v) => (s"${t.take(4)}-${t.drop(5)}-01", g, u, v) }
          .sortBy(r => (r._2, r._3, r._1))
          .map { case (m, g, u, v) =>
            val vs = v.map(d => s"CAST($d AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
            s"('$m', '$g', '$u', $vs, '2026-01-01T00:00:00+00:00', 'raw/hicp/fixture/ts=20260101_000000.json')"
          }
        s"""SELECT * FROM (VALUES ${rows.mkString(", ")})
           |AS t(time, geo, unit, value, processed_at_utc, raw_blob)
           |ORDER BY geo, unit, time""".stripMargin
      })
  )

  /** Event-stream operators (batch semantics; streaming variants live in
    * graft.stream and are verified against these in tests). Event-time outputs
    * are strings of `date_trunc` results so the compare is representation-
    * independent across engines and parquet timestamp layouts (see
    * Tables.events for the layout-adaptive ts/ts_ns contract).
    */
  private def eventQueries: Seq[Q] = Seq(
    Q("ev_type_agg",
      (s, d) => EventOps.typeAgg(events(s, d)),
      Some("""SELECT event_type, count(*) AS n_events,
             |  count(DISTINCT user_id) AS n_users,
             |  round(sum(value), 2) AS sum_value,
             |  round(avg(value), 4) AS avg_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("ev_json_extract",
      (s, d) => EventOps.jsonPropAgg(events(s, d)),
      Some("""SELECT event_type,
             |  count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
             |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
             |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
             |  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("ev_window_tumbling",
      (s, d) => EventOps.hourlyTumbling(events(s, d)),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
             |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             |FROM events
             |GROUP BY date_trunc('hour', ts), event_type
             |ORDER BY wstart, event_type""".stripMargin)),

    Q("ev_window_sliding",
      (s, d) => EventOps.slidingCounts(events(s, d)),
      Some("""WITH assigned AS (
             |  SELECT event_type, unnest([
             |    date_trunc('hour', ts),
             |    date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS wstart
             |  FROM events)
             |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
             |  count(*) AS n
             |FROM assigned
             |GROUP BY wstart, event_type
             |ORDER BY wstart, event_type""".stripMargin)),

    // top session paths: same 30-min exact-ns session cut, per-session
    // ordered type sequence joined '>'-delimited, top-20 paths by count
    Q("ev_session_paths",
      (s, d) => EventOps.sessionPaths(events(s, d)),
      Some("""WITH gaps AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sessions AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM gaps),
             |ps AS (
             |  SELECT user_id, session_id,
             |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
             |  FROM sessions GROUP BY 1, 2),
             |pc AS (SELECT path, count(*) AS n_sessions FROM ps GROUP BY 1)
             |SELECT path, CAST(len(string_split(path, '>')) AS BIGINT)
             |    AS path_len, n_sessions
             |FROM pc ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin)),

    Q("ev_sessionize",
      (s, d) => EventOps.sessionize(events(s, d)),
      Some("""WITH gaps AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sessions AS (
             |  SELECT user_id,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM gaps),
             |per_session AS (
             |  SELECT user_id, session_id, count(*) AS session_events
             |  FROM sessions GROUP BY user_id, session_id)
             |SELECT user_id,
             |  CAST(max(session_id) AS BIGINT) AS n_sessions,
             |  CAST(sum(session_events) AS BIGINT) AS n_events,
             |  CAST(max(session_events) AS BIGINT) AS max_session_events
             |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // map-typed access over the JSON props payload: from_json to a map,
    // sorted keys, element_at — against DuckDB's json_keys/extract
    Q("ev_props_map",
      (s, d) => events(s, d)
        .filter(col("event_id") < 200)
        .withColumn("m", expr("from_json(props, 'map<string,string>')"))
        .select(col("event_id"),
          size(col("m")).as("n_keys"),
          concat_ws(",", array_sort(map_keys(col("m")))).as("keys"),
          element_at(col("m"), "k").as("k_value"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
             |  CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
             |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
             |  json_extract_string(props, '$.k') AS k_value
             |FROM events WHERE event_id < 200
             |ORDER BY event_id""".stripMargin)),

    // Spark's NATIVE session_window in batch mode, verified against the
    // classic lag+cumsum formulation in DuckDB on µs-truncated timestamps
    // (session merge rule: same session iff gap < 30min — windows
    // [t, t+gap) must OVERLAP, so an exact-gap successor starts a session)
    Q("ev_session_window_native",
      (s, d) => events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH e AS (
             |  SELECT user_id, make_timestamp(epoch_us(ts)) AS tsu FROM events),
             |g AS (
             |  SELECT user_id, tsu,
             |    CASE WHEN lag(tsu) OVER w IS NULL
             |           OR epoch_us(tsu) - epoch_us(lag(tsu) OVER w) >= 1800000000
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu)),
             |s AS (
             |  SELECT user_id, tsu,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tsu
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM g)
             |SELECT user_id,
             |  strftime(min(tsu), '%Y-%m-%d %H:%M:%S') AS session_start,
             |  count(*) AS n_events
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    Q("ev_date_funcs",
      // temporal scalar-function breadth over order dates: add_months,
      // last_day, dayofweek, datediff, date_trunc to quarter
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          dayofweek(col("o_orderdate")).as("dow"),
          datediff(lit("1998-01-01").cast("date"), to_date(col("o_orderdate"))).as("days_to_98"),
          date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd").as("quarter"))
        .orderBy(col("o_orderkey")).limit(500),
      Some("""SELECT o_orderkey,
             |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
             |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
             |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
             |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INTEGER) AS days_to_98,
             |  strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter
             |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin)),

    Q("ev_dedup_exact",
      (s, d) => EventOps.dedupExact(events(s, d)),
      Some("""SELECT event_type, count(*) AS n
             |FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM (
             |        SELECT event_id, event_type FROM events
             |        UNION ALL
             |        SELECT event_id, event_type FROM events WHERE event_id % 7 = 0))
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // per-user OR-fold of touch bits + converted flag rolled into the
    // (mask, conv) histogram — the user-collapse stage of
    // ev_shapley_attribution, whose exact Shapley values EventOpsSpec folds
    // back from this histogram
    Q("ev_touch_census",
      (s, d) => EventOps.touchCensus(events(s, d)),
      Some("""SELECT mask, conv, count(*) AS n_users
             |FROM (
             |  SELECT user_id,
             |    bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
             |           WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END) AS mask,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
             |  FROM events GROUP BY 1)
             |GROUP BY 1, 2 ORDER BY mask, conv""".stripMargin)),

    Q("ev_retention",
      (s, d) => EventOps.retention(events(s, d)),
      Some("""WITH u AS (
             |  SELECT user_id, min(CAST(ts AS DATE)) AS d0
             |  FROM events GROUP BY 1),
             |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
             |SELECT CAST(date_diff('day', u.d0, a.d) AS INTEGER) AS day_offset,
             |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
             |FROM a JOIN u ON u.user_id = a.user_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // weekly cohort-retention triangle: exact integer week keys on the ns
    // epoch, exact counts, one division per cell
    Q("ev_retention_matrix",
      (s, d) => EventOps.retentionMatrix(events(s, d)),
      Some("""WITH w AS (
             |  SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS wk
             |  FROM events),
             |f AS (SELECT user_id, min(wk) AS w0 FROM w GROUP BY 1),
             |c AS (SELECT w0, count(*) AS cohort_size FROM f GROUP BY 1),
             |a AS (SELECT DISTINCT user_id, wk FROM w),
             |m AS (
             |  SELECT f.w0, CAST(a.wk - f.w0 AS INTEGER) AS offset,
             |    count(DISTINCT a.user_id) AS n_active
             |  FROM a JOIN f ON f.user_id = a.user_id
             |  WHERE a.wk - f.w0 <= 8
             |  GROUP BY 1, 2)
             |SELECT m.w0 AS cohort_week, m.offset,
             |  CAST(m.n_active AS BIGINT) AS n_active,
             |  CAST(c.cohort_size AS BIGINT) AS cohort_size,
             |  floor(CAST(m.n_active AS DOUBLE) / CAST(c.cohort_size AS DOUBLE)
             |    * 10000 + 0.5) / 10000 AS retention
             |FROM m JOIN c ON c.w0 = m.w0
             |ORDER BY cohort_week, m.offset""".stripMargin)),

    // Coarsened Exact Matching ATT: off-support treated bins DROPPED (and
    // counted), within-bin terms exact-integer, cross-bin combination an
    // ordered sequential fold (the kalman/STL doctrine); naive unmatched
    // diff rides along so the selection-bias correction is visible
    Q("ev_cem_att",
      (s, d) => graft.ops.EventOps.cemAtt(events(s, d)),
      Some("""WITH u AS (
             |  SELECT user_id, count(*) AS n_events,
             |    CASE WHEN sum(CASE WHEN event_type = 'signup' THEN 1
             |        ELSE 0 END)
             |      > sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      THEN 1 ELSE 0 END AS treated,
             |    CAST(sum(CASE WHEN event_type = 'purchase'
             |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
             |      ELSE 0 END) AS BIGINT) AS y_cents
             |  FROM events GROUP BY 1),
             |b AS (
             |  SELECT n_events // 5 AS bin,
             |    CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_t,
             |    CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_c,
             |    CAST(sum(CASE WHEN treated = 1 THEN y_cents ELSE 0 END)
             |      AS BIGINT) AS sy_t,
             |    CAST(sum(CASE WHEN treated = 0 THEN y_cents ELSE 0 END)
             |      AS BIGINT) AS sy_c
             |  FROM u GROUP BY 1),
             |m AS (
             |  SELECT CAST(sum(n_t) AS BIGINT) AS n_treated_matched,
             |    CAST(sum(n_c) AS BIGINT) AS n_control_matched,
             |    count(*) AS n_bins_matched,
             |    list_sum(list_transform(
             |      list(struct_pack(bin := bin, n_t := n_t, n_c := n_c,
             |        sy_t := sy_t, sy_c := sy_c) ORDER BY bin),
             |      x -> (CAST(x.sy_t AS DOUBLE) * CAST(x.n_c AS DOUBLE)
             |            - CAST(x.n_t AS DOUBLE) * CAST(x.sy_c AS DOUBLE))
             |           / CAST(x.n_c AS DOUBLE))) AS att_num
             |  FROM b WHERE n_t > 0 AND n_c > 0),
             |d AS (SELECT CAST(coalesce(sum(n_t), 0) AS BIGINT)
             |    AS n_treated_dropped
             |  FROM b WHERE n_t > 0 AND n_c = 0),
             |nv AS (
             |  SELECT
             |    CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nt_all,
             |    CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nc_all,
             |    CAST(sum(CASE WHEN treated = 1 THEN y_cents ELSE 0 END)
             |      AS BIGINT) AS syt_all,
             |    CAST(sum(CASE WHEN treated = 0 THEN y_cents ELSE 0 END)
             |      AS BIGINT) AS syc_all
             |  FROM u)
             |SELECT n_treated_matched, n_control_matched, n_bins_matched,
             |  n_treated_dropped,
             |  floor(att_num / CAST(n_treated_matched AS DOUBLE) / 100.0
             |    * 1000000 + 0.5) / 1000000 AS att,
             |  floor((CAST(syt_all AS DOUBLE) / CAST(nt_all AS DOUBLE)
             |    - CAST(syc_all AS DOUBLE) / CAST(nc_all AS DOUBLE)) / 100.0
             |    * 1000000 + 0.5) / 1000000 AS naive_diff
             |FROM m, d, nv""".stripMargin)),

    // EXACT Shapley channel attribution: v(S) = converted users whose
    // touch set ⊆ S; with 4 players every weight has denominator 24, so
    // 24*phi is an exact integer on both engines — the only doubles are
    // the floor-quantized display division
    Q("ev_shapley_attribution",
      (s, d) => graft.ops.EventOps.shapleyAttribution(events(s, d)),
      Some("""WITH u AS (
             |  SELECT user_id,
             |    bit_or(CASE event_type WHEN 'view' THEN 1
             |      WHEN 'click' THEN 2 WHEN 'signup' THEN 4
             |      WHEN 'error' THEN 8 ELSE 0 END) AS mask,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS conv
             |  FROM events GROUP BY 1),
             |cm AS (SELECT mask, count(*) AS c FROM u WHERE conv = 1
             |       GROUP BY 1),
             |sets AS (SELECT unnest(range(16)) AS s),
             |v AS (
             |  SELECT sets.s,
             |    CAST(coalesce(sum(cm.c), 0) AS BIGINT) AS v
             |  FROM sets LEFT JOIN cm ON (cm.mask & sets.s) = cm.mask
             |  GROUP BY sets.s),
             |ch AS (SELECT unnest(range(4)) AS cbit),
             |ph AS (
             |  SELECT cbit,
             |    CAST(sum((CASE bit_count(v0.s) WHEN 0 THEN 6 WHEN 1 THEN 2
             |      WHEN 2 THEN 2 ELSE 6 END) * (v1.v - v0.v)) AS BIGINT)
             |      AS shapley_x24
             |  FROM ch
             |  JOIN v v0 ON ((v0.s >> cbit) & 1) = 0
             |  JOIN v v1 ON v1.s = v0.s + (1 << cbit)
             |  GROUP BY 1)
             |SELECT CASE cbit WHEN 0 THEN 'view' WHEN 1 THEN 'click'
             |    WHEN 2 THEN 'signup' ELSE 'error' END AS channel,
             |  shapley_x24,
             |  floor(CAST(shapley_x24 AS DOUBLE) / 24.0 * 10000 + 0.5)
             |    / 10000 AS shapley
             |FROM ph ORDER BY channel""".stripMargin)),

    // interval join: clicks within 30min after a view, per user —
    // compared on exact ns timestamps so the interval boundary is tie-free
    Q("ev_attribution",
      (s, d) => {
        val ev = events(s, d)
        val v = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts_ns").as("v_ns"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts_ns").as("c_ns"))
        v.join(c, col("user_id") === col("c_user") &&
            col("c_ns") > col("v_ns") &&
            col("c_ns") <= col("v_ns") + lit(30L * 60L * 1000000000L))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_attributed"),
            countDistinct(col("view_id")).as("n_views_with_click"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT v.user_id, count(*) AS n_attributed,
             |  count(DISTINCT v.event_id) AS n_views_with_click
             |FROM events v JOIN events c
             |  ON c.user_id = v.user_id
             | AND v.event_type = 'view' AND c.event_type = 'click'
             | AND epoch_ns(c.ts) > epoch_ns(v.ts)
             | AND epoch_ns(c.ts) <= epoch_ns(v.ts) + 1800000000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("ev_zscore_anomaly",
      (s, d) => EventOps.zscoreAnomalies(events(s, d)),
      Some("""WITH s AS (
             |  SELECT event_type, avg(value) AS mean, stddev_samp(value) AS sd
             |  FROM events GROUP BY 1),
             |q AS (
             |  SELECT e.event_type,
             |    floor(abs(e.value - s.mean) / s.sd * 10000 + 0.5) / 10000 AS z
             |  FROM events e JOIN s ON s.event_type = e.event_type)
             |SELECT event_type, count(*) AS n_events,
             |  count(*) FILTER (WHERE z > 3.0) AS n_anomalies,
             |  max(z) AS max_z
             |FROM q GROUP BY 1 ORDER BY 1""".stripMargin)),

    // inter-arrival gap profile: lag over TRUNCATED µs (exactly DuckDB's
    // parquet ns→µs conversion), percentiles over long differences
    Q("ev_inter_event_gaps",
      (s, d) => EventOps.interEventGaps(events(s, d)),
      Some("""WITH g AS (
             |  SELECT event_type,
             |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
             |      PARTITION BY event_type, user_id
             |      ORDER BY epoch_us(ts), event_id) AS gap
             |  FROM events)
             |SELECT event_type, count(*) AS n_gaps,
             |  floor(quantile_cont(gap, 0.5) / 1e6 * 10000 + 0.5) / 10000 AS p50_s,
             |  floor(quantile_cont(gap, 0.95) / 1e6 * 10000 + 0.5) / 10000 AS p95_s,
             |  max(gap) AS max_gap_us
             |FROM g WHERE gap IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // sequence-pattern mining: top event-type trigrams over per-user order
    Q("ev_type_trigrams",
      (s, d) => EventOps.typeTrigrams(events(s, d)),
      Some("""WITH s AS (
             |  SELECT event_type AS t1,
             |    lead(event_type, 1) OVER w AS t2,
             |    lead(event_type, 2) OVER w AS t3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
             |SELECT t1, t2, t3, count(*) AS n
             |FROM s WHERE t3 IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY n DESC, t1, t2, t3 LIMIT 15""".stripMargin)),

    // robust (median/MAD) anomalies: exact interpolated medians match
    // quantile_cont; rz floor-quantized BEFORE the 3.5 threshold
    Q("ev_mad_anomaly",
      (s, d) => EventOps.madAnomalies(events(s, d)),
      Some("""WITH m AS (
             |  SELECT event_type, quantile_cont(value, 0.5) AS med
             |  FROM events GROUP BY 1),
             |md AS (
             |  SELECT e.event_type,
             |    quantile_cont(abs(e.value - m.med), 0.5) AS mad,
             |    any_value(m.med) AS med
             |  FROM events e JOIN m ON m.event_type = e.event_type GROUP BY 1),
             |q AS (
             |  SELECT e.event_type, md.med, md.mad,
             |    floor(0.6745 * abs(e.value - md.med) / md.mad * 10000 + 0.5)
             |      / 10000 AS rz
             |  FROM events e JOIN md ON md.event_type = e.event_type)
             |SELECT event_type, count(*) AS n_events,
             |  count(*) FILTER (WHERE rz > 3.5) AS n_anomalies,
             |  max(rz) AS max_rz,
             |  floor(any_value(med) * 10000 + 0.5) / 10000 AS med_q,
             |  floor(any_value(mad) * 10000 + 0.5) / 10000 AS mad_q
             |FROM q GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("ev_funnel",
      (s, d) => EventOps.funnel(events(s, d)),
      // stage comparisons run on the exact ns timestamps in both engines
      // (Spark: ts_ns long; DuckDB: TIMESTAMP_NS), so > is tie-free
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS t2
             |  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
             |  WHERE e.event_type = 'click' GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS t3
             |  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
             |  WHERE e.event_type = 'purchase' GROUP BY 1)
             |SELECT (SELECT count(*) FROM v) AS n_stage1,
             |       (SELECT count(*) FROM c) AS n_stage2,
             |       (SELECT count(*) FROM p) AS n_stage3""".stripMargin)),

    // first-order Markov transition matrix over per-user event order —
    // successor via one lead() pass, probabilities row-normalized per source
    // funnel time-to-convert: first signup -> first later purchase per
    // user, exact-us deltas, rank-based p50/p90 over converted users
    Q("ev_funnel_time",
      (s, d) => EventOps.funnelTime(events(s, d)),
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
             |      AS t_signup
             |  FROM events GROUP BY 1),
             |conv AS (
             |  SELECT e.user_id, pu.t_signup,
             |    min(epoch_us(ts)) AS t_conv
             |  FROM events e JOIN pu ON pu.user_id = e.user_id
             |  WHERE pu.t_signup IS NOT NULL
             |    AND e.event_type = 'purchase' AND epoch_us(ts) > pu.t_signup
             |  GROUP BY 1, 2),
             |dt AS (SELECT user_id, t_conv - t_signup AS dt_us FROM conv),
             |rk AS (SELECT user_id, dt_us,
             |    row_number() OVER (ORDER BY dt_us, user_id) AS rn FROM dt),
             |ns AS (SELECT count(*) AS n_signup FROM pu
             |  WHERE t_signup IS NOT NULL),
             |nc AS (SELECT count(*) AS n_converted FROM rk)
             |SELECT n_signup, n_converted,
             |  CAST(n_converted AS DOUBLE) / CAST(n_signup AS DOUBLE)
             |    AS conversion_rate,
             |  (SELECT max(CASE WHEN rn = ceil(0.5 * n_converted)
             |     THEN dt_us END) FROM rk CROSS JOIN nc) AS p50_us,
             |  (SELECT max(CASE WHEN rn = ceil(0.9 * n_converted)
             |     THEN dt_us END) FROM rk CROSS JOIN nc) AS p90_us,
             |  (SELECT min(dt_us) FROM rk) AS min_us,
             |  (SELECT max(dt_us) FROM rk) AS max_us
             |FROM ns CROSS JOIN nc""".stripMargin)),

    // two-proportion A/B z-test: id-parity arms, distinct-user
    // conversions, pooled z over exact integer counts
    Q("ev_ab_test",
      (s, d) => EventOps.abTest(events(s, d)),
      Some("""WITH u AS (
             |  SELECT user_id,
             |    max(CASE WHEN event_type = 'purchase' AND value > 150
             |      THEN 1 ELSE 0 END) AS converted,
             |    CAST(user_id % 2 AS INTEGER) AS arm
             |  FROM events GROUP BY 1),
             |arms AS (
             |  SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT)
             |    AS conv FROM u GROUP BY 1),
             |w AS (
             |  SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
             |    max(CASE WHEN arm = 0 THEN conv END) AS conv_a,
             |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
             |    max(CASE WHEN arm = 1 THEN conv END) AS conv_b
             |  FROM arms),
             |c AS (
             |  SELECT *,
             |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
             |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
             |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
             |      AS pp
             |  FROM w),
             |zz AS (
             |  SELECT *,
             |    CASE WHEN pp = 0.0 OR pp = 1.0 THEN NULL
             |      ELSE (pa - pb) / sqrt(pp * (1.0 - pp)
             |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
             |    END AS z
             |  FROM c)
             |SELECT n_a, conv_a, n_b, conv_b,
             |  floor(pa * 1000000 + 0.5) / 1000000 AS rate_a,
             |  floor(pb * 1000000 + 0.5) / 1000000 AS rate_b,
             |  floor(z * 10000 + 0.5) / 10000 AS z_stat,
             |  abs(z) > 1.96 AS significant
             |FROM zz""".stripMargin)),

    // CUPED: exact int64-cents per-user metrics; moments are exact integer
    // sums (cross products in DECIMAL(38,0) ↔ DuckDB HUGEINT); θ/ρ²/means
    // are fixed IEEE expressions over them, quantized once
    // segment-wise uplift (T-learner HTE readout): segment = (id div 2)
    // mod 3 is orthogonal to arm = id mod 2; unpooled per-segment z
    Q("ev_uplift_segments",
      (s, d) => EventOps.upliftBySegment(events(s, d)),
      Some("""WITH u0 AS (
             |  SELECT user_id,
             |    max(CASE WHEN event_type = 'purchase' AND value > 150
             |      THEN 1 ELSE 0 END) AS converted
             |  FROM events GROUP BY 1),
             |u AS (SELECT converted, CAST(user_id % 2 AS INTEGER) AS arm,
             |        CAST((user_id // 2) % 3 AS INTEGER) AS segment
             |      FROM u0),
             |c AS (SELECT segment, arm, count(*) AS n,
             |        CAST(sum(converted) AS BIGINT) AS conv
             |      FROM u GROUP BY 1, 2),
             |w AS (SELECT segment,
             |    max(CASE WHEN arm = 0 THEN n END) AS n_c,
             |    max(CASE WHEN arm = 0 THEN conv END) AS conv_c,
             |    max(CASE WHEN arm = 1 THEN n END) AS n_t,
             |    max(CASE WHEN arm = 1 THEN conv END) AS conv_t
             |  FROM c GROUP BY 1),
             |p AS (SELECT *,
             |    CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS p_t,
             |    CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS p_c
             |  FROM w),
             |z AS (SELECT *,
             |    sqrt(p_t * (1.0 - p_t) / CAST(n_t AS DOUBLE)
             |       + p_c * (1.0 - p_c) / CAST(n_c AS DOUBLE)) AS se
             |  FROM p)
             |SELECT segment, n_t, conv_t, n_c, conv_c,
             |  floor(p_t * 1000000 + 0.5) / 1000000 AS rate_t,
             |  floor(p_c * 1000000 + 0.5) / 1000000 AS rate_c,
             |  floor((p_t - p_c) * 1000000 + 0.5) / 1000000 AS uplift,
             |  CASE WHEN se = 0.0 THEN NULL
             |    ELSE floor((p_t - p_c) / se * 10000 + 0.5) / 10000 END
             |    AS z_stat
             |FROM z ORDER BY segment""".stripMargin)),

    Q("ev_cuped",
      (s, d) => EventOps.cupedAbTest(events(s, d)),
      Some("""WITH u AS (
             |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
             |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS x,
             |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
             |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |m AS (
             |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
             |  FROM u),
             |a AS (
             |  SELECT arm, count(*) AS an, sum(x) AS ax, sum(y) AS ay
             |  FROM u GROUP BY 1),
             |w AS (
             |  SELECT max(CASE WHEN arm = 0 THEN an END) AS n_a,
             |    max(CASE WHEN arm = 0 THEN ax END) AS sx_a,
             |    max(CASE WHEN arm = 0 THEN ay END) AS sy_a,
             |    max(CASE WHEN arm = 1 THEN an END) AS n_b,
             |    max(CASE WHEN arm = 1 THEN ax END) AS sx_b,
             |    max(CASE WHEN arm = 1 THEN ay END) AS sy_b
             |  FROM a),
             |c AS (
             |  SELECT w.*, m.n, m.sx,
             |    CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE) AS cov_num,
             |    CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) AS varx_num,
             |    CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE) AS vary_num
             |  FROM w, m),
             |t AS (
             |  SELECT *,
             |    CASE WHEN varx_num = 0.0 THEN NULL
             |      ELSE cov_num / varx_num END AS theta,
             |    CASE WHEN varx_num = 0.0 OR vary_num = 0.0 THEN NULL
             |      ELSE cov_num * cov_num / (varx_num * vary_num) END AS rho2,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mx,
             |    CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS my_a,
             |    CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS my_b,
             |    CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mx_a,
             |    CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mx_b
             |  FROM c),
             |f AS (
             |  SELECT *, my_a - theta * (mx_a - mx) AS adj_a,
             |    my_b - theta * (mx_b - mx) AS adj_b
             |  FROM t)
             |SELECT n_a, n_b,
             |  floor(theta * 1000000 + 0.5) / 1000000 AS theta,
             |  floor(rho2 * 1000000 + 0.5) / 1000000 AS rho2,
             |  floor(my_a * 1000000 + 0.5) / 1000000 AS mean_y_a,
             |  floor(my_b * 1000000 + 0.5) / 1000000 AS mean_y_b,
             |  floor(adj_a * 1000000 + 0.5) / 1000000 AS adj_mean_a,
             |  floor(adj_b * 1000000 + 0.5) / 1000000 AS adj_mean_b,
             |  floor((my_a - my_b) * 1000000 + 0.5) / 1000000 AS lift_raw,
             |  floor((adj_a - adj_b) * 1000000 + 0.5) / 1000000 AS lift_cuped
             |FROM f""".stripMargin)),

    // SRM: exact integer first-exposure counts; χ² = (n_a−n_b)²/n per row
    Q("ev_srm_daily",
      (s, d) => EventOps.srmDaily(events(s, d)),
      Some("""WITH u AS (
             |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
             |    min(CAST(epoch_us(ts) // 86400000000 AS INTEGER)) AS day0
             |  FROM events GROUP BY 1, 2),
             |d AS (
             |  SELECT day0,
             |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS d_a,
             |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS d_b
             |  FROM u GROUP BY 1),
             |c AS (
             |  SELECT day0,
             |    CAST(sum(d_a) OVER (ORDER BY day0) AS BIGINT) AS n_a,
             |    CAST(sum(d_b) OVER (ORDER BY day0) AS BIGINT) AS n_b
             |  FROM d),
             |x AS (
             |  SELECT day0, n_a, n_b,
             |    CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
             |      / CAST(n_a + n_b AS DOUBLE) AS chi2
             |  FROM c)
             |SELECT day0, n_a, n_b,
             |  floor(chi2 * 10000 + 0.5) / 10000 AS chi2,
             |  chi2 > 3.841 AS srm_flag
             |FROM x ORDER BY day0""".stripMargin)),

    // sequential monitor: cumulative exact counts on the all-event day
    // spine; z is the ev_ab_test expression evaluated per row
    Q("ev_sequential_ab",
      (s, d) => EventOps.sequentialAb(events(s, d)),
      Some("""WITH pu AS (
             |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
             |    min(CAST(epoch_us(ts) // 86400000000 AS INTEGER)) AS exp_day,
             |    min(CASE WHEN event_type = 'purchase' AND value > 150
             |      THEN CAST(epoch_us(ts) // 86400000000 AS INTEGER) END)
             |      AS conv_day
             |  FROM events GROUP BY 1, 2),
             |spine AS (
             |  SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS INTEGER)
             |    AS day FROM events),
             |e AS (
             |  SELECT exp_day AS day,
             |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS e_a,
             |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS e_b
             |  FROM pu GROUP BY 1),
             |cv AS (
             |  SELECT conv_day AS day,
             |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c_a,
             |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c_b
             |  FROM pu WHERE conv_day IS NOT NULL GROUP BY 1),
             |j AS (
             |  SELECT spine.day,
             |    coalesce(e.e_a, 0) AS e_a, coalesce(e.e_b, 0) AS e_b,
             |    coalesce(cv.c_a, 0) AS c_a, coalesce(cv.c_b, 0) AS c_b
             |  FROM spine LEFT JOIN e ON spine.day = e.day
             |  LEFT JOIN cv ON spine.day = cv.day),
             |c AS (
             |  SELECT day,
             |    CAST(sum(e_a) OVER win AS BIGINT) AS n_a,
             |    CAST(sum(e_b) OVER win AS BIGINT) AS n_b,
             |    CAST(sum(c_a) OVER win AS BIGINT) AS conv_a,
             |    CAST(sum(c_b) OVER win AS BIGINT) AS conv_b
             |  FROM j WINDOW win AS (ORDER BY day)),
             |p AS (
             |  SELECT *,
             |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
             |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
             |    CAST(conv_a + conv_b AS DOUBLE)
             |      / CAST(n_a + n_b AS DOUBLE) AS pp
             |  FROM c),
             |zz AS (
             |  SELECT *,
             |    CASE WHEN n_a = 0 OR n_b = 0 OR pp = 0.0 OR pp = 1.0
             |      THEN NULL
             |      ELSE (pa - pb) / sqrt(pp * (1.0 - pp)
             |        * (1.0 / CAST(n_a AS DOUBLE)
             |          + 1.0 / CAST(n_b AS DOUBLE))) END AS z
             |  FROM p)
             |SELECT day, n_a, conv_a, n_b, conv_b,
             |  floor(z * 10000 + 0.5) / 10000 AS z_stat,
             |  abs(z) > 1.96 AS significant
             |FROM zz ORDER BY day""".stripMargin)),

    // power analysis: required n per arm from exact int64-cents moments;
    // the z-constant sum is ONE pinned literal squared in double (the
    // decimal-literal-arithmetic trap)
    // association rules over per-user type baskets: exact distinct-user
    // counts, support/confidence/lift as single divisions
    Q("ev_assoc_rules",
      (s, d) => EventOps.assocRules(events(s, d)),
      Some("""WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
             |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM b),
             |tc AS (SELECT event_type, count(*) AS n_type FROM b GROUP BY 1),
             |pc AS (
             |  SELECT x.event_type AS antecedent, y.event_type AS consequent,
             |    count(*) AS n_both
             |  FROM b x JOIN b y ON x.user_id = y.user_id
             |    AND x.event_type <> y.event_type
             |  GROUP BY 1, 2)
             |SELECT antecedent, consequent,
             |  ta.n_type AS n_ante, tcs.n_type AS n_cons, n_both, nu.n_users,
             |  floor(CAST(n_both AS DOUBLE) / CAST(nu.n_users AS DOUBLE)
             |    * 1000000 + 0.5) / 1000000 AS support,
             |  floor(CAST(n_both AS DOUBLE) / CAST(ta.n_type AS DOUBLE)
             |    * 1000000 + 0.5) / 1000000 AS confidence,
             |  floor(CAST(n_both AS DOUBLE) * CAST(nu.n_users AS DOUBLE)
             |    / (CAST(ta.n_type AS DOUBLE) * CAST(tcs.n_type AS DOUBLE))
             |    * 1000000 + 0.5) / 1000000 AS lift
             |FROM pc
             |JOIN tc ta ON ta.event_type = antecedent
             |JOIN tc tcs ON tcs.event_type = consequent
             |CROSS JOIN nu
             |ORDER BY antecedent, consequent""".stripMargin)),

    // IPW (Hájek) under stratum-confounded md5 assignment: per-stratum
    // exact-long terms, deterministic sorted-stratum fold, naive vs
    // corrected difference side by side
    Q("ev_ipw_effect",
      (s, d) => EventOps.ipwEffect(EventOps.ipwFromEvents(events(s, d))),
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
             |  FROM events GROUP BY 1),
             |u AS (
             |  SELECT user_id, cents,
             |    CAST(user_id % 4 AS INTEGER) AS s,
             |    (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
             |       AS BIGINT) % 10000) < 2000 + (user_id % 4) * 1500 AS t
             |  FROM pu),
             |st_all AS (
             |  SELECT s, count(*) AS n,
             |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             |    CAST(sum(CASE WHEN t THEN cents ELSE 0 END) AS BIGINT) AS sy1,
             |    CAST(sum(CASE WHEN NOT t THEN cents ELSE 0 END) AS BIGINT) AS sy0
             |  FROM u GROUP BY 1),
             |st AS (SELECT * FROM st_all WHERE nt > 0 AND nt < n),
             |bad AS (
             |  SELECT count(*) AS n_bad_strata FROM st_all
             |  WHERE nt = 0 OR nt = n),
             |f AS (
             |  SELECT
             |    CAST(list_sum(list(n ORDER BY s)) AS BIGINT) AS n_users,
             |    CAST(list_sum(list(nt ORDER BY s)) AS BIGINT) AS n_treat,
             |    list_sum(list_transform(
             |      list(struct_pack(sy1 := sy1, n := n, nt := nt) ORDER BY s),
             |      x -> CAST(x.sy1 AS DOUBLE) * x.n / x.nt)) AS w1,
             |    list_sum(list_transform(
             |      list(struct_pack(sy0 := sy0, n := n, nt := nt) ORDER BY s),
             |      x -> CAST(x.sy0 AS DOUBLE) * x.n / (x.n - x.nt))) AS w0,
             |    CAST(list_sum(list(sy1 ORDER BY s)) AS BIGINT) AS t1,
             |    CAST(list_sum(list(sy0 ORDER BY s)) AS BIGINT) AS t0
             |  FROM st)
             |SELECT n_users, n_treat, bad.n_bad_strata,
             |  floor((CAST(t1 AS DOUBLE) / CAST(n_treat AS DOUBLE)
             |    - CAST(t0 AS DOUBLE) / CAST(n_users - n_treat AS DOUBLE))
             |    / 100.0 * 1000000 + 0.5) / 1000000 AS naive_diff,
             |  floor((w1 / CAST(n_users AS DOUBLE)
             |    - w0 / CAST(n_users AS DOUBLE))
             |    / 100.0 * 1000000 + 0.5) / 1000000 AS ipw_diff
             |FROM f, bad""".stripMargin)),

    // KMV audience-overlap sketch + accuracy audit: k smallest md5-prefix
    // user hashes per type; pair estimate = |both ∩ k-min(union)| / k;
    // exact Jaccard graded alongside
    Q("ev_audience_overlap",
      (s, d) => EventOps.audienceOverlap(events(s, d)),
      Some("""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
             |uh AS (
             |  SELECT DISTINCT event_type,
             |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) AS h
             |  FROM du),
             |sk AS (
             |  SELECT event_type, h FROM (
             |    SELECT event_type, h,
             |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
             |    FROM uh) WHERE rn <= 32),
             |ty AS (SELECT DISTINCT event_type FROM sk),
             |pairs AS (
             |  SELECT a.event_type AS ta, b.event_type AS tb
             |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
             |uk AS (
             |  SELECT ta, tb, h FROM (
             |    SELECT ta, tb, h,
             |      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
             |    FROM (
             |      SELECT DISTINCT p.ta, p.tb, s.h
             |      FROM pairs p JOIN sk s
             |        ON s.event_type = p.ta OR s.event_type = p.tb))
             |  WHERE rn <= 32),
             |kun AS (SELECT ta, tb, count(*) AS n_union_k FROM uk GROUP BY 1, 2),
             |nb AS (
             |  SELECT uk.ta, uk.tb, count(*) AS n_both
             |  FROM uk
             |  JOIN sk sa ON sa.event_type = uk.ta AND sa.h = uk.h
             |  JOIN sk sb ON sb.event_type = uk.tb AND sb.h = uk.h
             |  GROUP BY 1, 2),
             |inter AS (
             |  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_inter
             |  FROM du a JOIN du b
             |    ON a.user_id = b.user_id AND a.event_type < b.event_type
             |  GROUP BY 1, 2),
             |cnts AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1)
             |SELECT p.ta, p.tb, ca.n AS n_a, cb.n AS n_b,
             |  coalesce(i.n_inter, 0) AS n_inter,
             |  floor(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
             |    / (ca.n + cb.n - coalesce(i.n_inter, 0)) * 10000 + 0.5) / 10000
             |    AS jaccard_exact,
             |  floor(CAST(coalesce(nb.n_both, 0) AS DOUBLE)
             |    / CAST(kun.n_union_k AS DOUBLE) * 10000 + 0.5)
             |    / 10000 AS kmv_est,
             |  abs(floor(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
             |      / (ca.n + cb.n - coalesce(i.n_inter, 0)) * 10000 + 0.5) / 10000
             |    - floor(CAST(coalesce(nb.n_both, 0) AS DOUBLE)
             |        / CAST(kun.n_union_k AS DOUBLE)
             |        * 10000 + 0.5) / 10000) AS abs_err
             |FROM pairs p
             |JOIN cnts ca ON ca.event_type = p.ta
             |JOIN cnts cb ON cb.event_type = p.tb
             |JOIN kun ON kun.ta = p.ta AND kun.tb = p.tb
             |LEFT JOIN inter i ON i.ta = p.ta AND i.tb = p.tb
             |LEFT JOIN nb ON nb.ta = p.ta AND nb.tb = p.tb
             |ORDER BY p.ta, p.tb""".stripMargin)),

    // deterministic Poisson(1) cluster bootstrap: LCG draw per (user, rep)
    // mapped through the Poisson CDF, exact-cent replicate means, order-
    // statistic CI — every step integer-exact until one final division
    Q("ev_bootstrap_ci",
      (s, d) => EventOps.bootstrapCI(events(s, d)),
      Some("""WITH pu AS (
             |  SELECT event_type, user_id,
             |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
             |  FROM events GROUP BY 1, 2),
             |drawn AS (
             |  SELECT event_type, user_id, cents, b.rep,
             |    ((user_id % 1000003) * 2654435761 + b.rep * 40503) % 1000000 AS h
             |  FROM pu CROSS JOIN (SELECT unnest(range(200)) AS rep) b),
             |weighted AS (
             |  SELECT event_type, cents, rep,
             |    CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
             |         WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
             |         ELSE 4 END AS w
             |  FROM drawn),
             |reps AS (
             |  SELECT event_type, rep,
             |    CAST(sum(w * cents) AS DOUBLE)
             |      / CAST(sum(w) AS DOUBLE) / 100.0 AS rep_mean
             |  FROM weighted GROUP BY 1, 2
             |  HAVING sum(w) > 0),
             |ranked AS (
             |  SELECT event_type, rep_mean,
             |    row_number() OVER (PARTITION BY event_type
             |                       ORDER BY rep_mean, rep) AS r
             |  FROM reps),
             |ci AS (
             |  SELECT event_type,
             |    max(CASE WHEN r = 5 THEN rep_mean END) AS ci_lo,
             |    max(CASE WHEN r = 196 THEN rep_mean END) AS ci_hi
             |  FROM ranked WHERE r IN (5, 196) GROUP BY 1),
             |point AS (
             |  SELECT event_type, count(*) AS n_users,
             |    CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
             |      AS mean_val
             |  FROM pu GROUP BY 1)
             |SELECT p.event_type, p.n_users,
             |  floor(p.mean_val * 1000000 + 0.5) / 1000000 AS mean_val,
             |  floor(ci.ci_lo * 1000000 + 0.5) / 1000000 AS ci_lo,
             |  floor(ci.ci_hi * 1000000 + 0.5) / 1000000 AS ci_hi
             |FROM point p JOIN ci ON ci.event_type = p.event_type
             |ORDER BY p.event_type""".stripMargin)),

    Q("ev_power_analysis",
      (s, d) => EventOps.powerAnalysis(events(s, d)),
      Some("""WITH pu AS (
             |  SELECT event_type, user_id,
             |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS m
             |  FROM events GROUP BY 1, 2),
             |a AS (
             |  SELECT event_type, count(*) AS n_users, sum(m) AS s,
             |    sum(m * m) AS ss
             |  FROM pu GROUP BY 1),
             |v AS (
             |  SELECT event_type, n_users,
             |    CAST(n_users * ss - s * s AS DOUBLE) AS var_num,
             |    CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0 AS mean
             |  FROM a),
             |t AS (
             |  SELECT *,
             |    var_num / (CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))
             |      / 10000.0 AS variance,
             |    mean * 0.05 AS mde_abs
             |  FROM v)
             |SELECT event_type, n_users,
             |  floor(mean * 10000 + 0.5) / 10000 AS mean,
             |  floor(variance * 10000 + 0.5) / 10000 AS variance,
             |  floor(mde_abs * 10000 + 0.5) / 10000 AS mde_abs,
             |  CASE WHEN mde_abs = 0.0 THEN NULL
             |    ELSE CAST(ceil(2.0 * variance
             |      * (CAST(2.801585 AS DOUBLE) * CAST(2.801585 AS DOUBLE))
             |      / (mde_abs * mde_abs)) AS BIGINT) END AS n_required
             |FROM t ORDER BY event_type""".stripMargin)),

    // difference-in-differences on per-user post−pre deltas; sample
    // variances from exact integer moments, two-sample z on the deltas
    Q("ev_did",
      (s, d) => EventOps.diffInDiff(events(s, d)),
      Some("""WITH u AS (
             |  SELECT user_id, CAST(user_id % 2 AS INTEGER) AS arm,
             |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS x,
             |    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
             |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS y
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |dd AS (SELECT *, y - x AS dlt FROM u),
             |a AS (
             |  SELECT arm, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(dlt) AS sd, sum(dlt * dlt) AS sdd
             |  FROM dd GROUP BY 1),
             |w AS (
             |  SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
             |    max(CASE WHEN arm = 0 THEN sx END) AS sx_a,
             |    max(CASE WHEN arm = 0 THEN sy END) AS sy_a,
             |    max(CASE WHEN arm = 0 THEN sd END) AS sd_a,
             |    max(CASE WHEN arm = 0 THEN sdd END) AS sdd_a,
             |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
             |    max(CASE WHEN arm = 1 THEN sx END) AS sx_b,
             |    max(CASE WHEN arm = 1 THEN sy END) AS sy_b,
             |    max(CASE WHEN arm = 1 THEN sd END) AS sd_b,
             |    max(CASE WHEN arm = 1 THEN sdd END) AS sdd_b
             |  FROM a),
             |v AS (
             |  SELECT *,
             |    CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS m_pre_a,
             |    CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS m_post_a,
             |    CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS m_pre_b,
             |    CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS m_post_b,
             |    CAST(sd_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0
             |      - CAST(sd_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS did,
             |    CASE WHEN n_a <= 1 THEN NULL
             |      ELSE CAST(n_a * sdd_a - sd_a * sd_a AS DOUBLE)
             |        / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE))
             |        / 10000.0 END AS va,
             |    CASE WHEN n_b <= 1 THEN NULL
             |      ELSE CAST(n_b * sdd_b - sd_b * sd_b AS DOUBLE)
             |        / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE))
             |        / 10000.0 END AS vb
             |  FROM w),
             |se0 AS (
             |  SELECT *,
             |    sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)) AS se
             |  FROM v),
             |zz AS (
             |  SELECT *, CASE WHEN se = 0.0 THEN NULL ELSE did / se END AS z
             |  FROM se0)
             |SELECT n_a, n_b,
             |  floor(m_pre_a * 1000000 + 0.5) / 1000000 AS mean_pre_a,
             |  floor(m_post_a * 1000000 + 0.5) / 1000000 AS mean_post_a,
             |  floor(m_pre_b * 1000000 + 0.5) / 1000000 AS mean_pre_b,
             |  floor(m_post_b * 1000000 + 0.5) / 1000000 AS mean_post_b,
             |  floor(did * 1000000 + 0.5) / 1000000 AS did,
             |  floor(se * 1000000 + 0.5) / 1000000 AS se,
             |  floor(z * 1000000 + 0.5) / 1000000 AS z_stat,
             |  abs(z) > 1.96 AS significant
             |FROM zz""".stripMargin)),

    // circadian concentration: exact-integer hour bins, entropy via the
    // sorted-fold doctrine, ln(24) pinned as a literal on both engines
    Q("ev_circadian",
      (s, d) => EventOps.circadianProfile(events(s, d)),
      Some("""WITH h AS (
             |  SELECT event_type,
             |    CAST((epoch_us(ts) % 86400000000) // 3600000000 AS INTEGER)
             |      AS hour,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
             |  FROM h GROUP BY 1),
             |terms AS (
             |  SELECT h.event_type, h.hour,
             |    -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term,
             |    n, c
             |  FROM h JOIN t ON t.event_type = h.event_type),
             |agg AS (
             |  SELECT event_type, max(n) AS n_events,
             |    count(*) AS active_hours,
             |    list_reduce(list(term ORDER BY hour), (a, b) -> a + b) AS hh
             |  FROM terms GROUP BY 1)
             |SELECT event_type, n_events, active_hours,
             |  floor(hh * 1000000 + 0.5) / 1000000 AS entropy,
             |  floor((1.0 - hh / 3.1780538303479458) * 1000000 + 0.5)
             |    / 1000000 AS concentration
             |FROM agg ORDER BY event_type""".stripMargin)),

    // stationary distribution of the type-transition chain: 3 unrolled
    // power rounds over the QUANTIZED matrix vs the exact empirical share
    Q("ev_markov_stationary",
      (s, d) => EventOps.markovStationary(events(s, d)),
      Some("""WITH pr AS (
             |  SELECT user_id, event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |c AS (
             |  SELECT event_type AS from_type, to_type, count(*) AS n
             |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |tm AS MATERIALIZED (
             |  SELECT from_type, to_type,
             |    floor(CAST(n AS DOUBLE)
             |      / sum(n) OVER (PARTITION BY from_type) * 10000 + 0.5)
             |      / 10000 AS p
             |  FROM c),
             |st AS (SELECT DISTINCT from_type AS state FROM tm),
             |nn AS (SELECT count(*) AS ns FROM st),
             |p0 AS (SELECT state, CAST(1.0 AS DOUBLE) / ns AS pi
             |  FROM st CROSS JOIN nn),
             |p1 AS MATERIALIZED (
             |  SELECT tm.to_type AS state, sum(tm.p * r.pi) AS pi
             |  FROM tm JOIN p0 r ON r.state = tm.from_type GROUP BY 1),
             |p2 AS MATERIALIZED (
             |  SELECT tm.to_type AS state, sum(tm.p * r.pi) AS pi
             |  FROM tm JOIN p1 r ON r.state = tm.from_type GROUP BY 1),
             |p3 AS (
             |  SELECT tm.to_type AS state, sum(tm.p * r.pi) AS pi
             |  FROM tm JOIN p2 r ON r.state = tm.from_type GROUP BY 1),
             |sh AS (SELECT event_type AS state, count(*) AS cnt
             |  FROM events GROUP BY 1),
             |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM sh)
             |SELECT p3.state,
             |  floor(pi * 1000000 + 0.5) / 1000000 AS stationary,
             |  floor(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)
             |    * 1000000 + 0.5) / 1000000 AS empirical,
             |  floor(pi * 1000000 + 0.5) / 1000000
             |    - floor(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)
             |      * 1000000 + 0.5) / 1000000 AS gap
             |FROM p3 JOIN sh ON sh.state = p3.state CROSS JOIN tt
             |ORDER BY p3.state""".stripMargin)),

    Q("ev_markov",
      (s, d) => EventOps.markovTransitions(events(s, d)),
      Some("""WITH p AS (
             |  SELECT user_id, event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS to_type
             |  FROM events),
             |c AS (
             |  SELECT event_type AS from_type, to_type, count(*) AS n
             |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  floor(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)
             |    * 10000 + 0.5) / 10000 AS p
             |FROM c ORDER BY 1, 2""".stripMargin)),

    // Count-Min sketch (depth 4 × width 1024, salted-md5 rows) over the
    // (user, event_type) stream: the oracle rebuilds the identical sketch
    // and probes it for the exact top-20 keys — estimate vs truth, with
    // the CMS overcount guarantee visible in the error column
    Q("ev_cms_heavy_keys",
      (s, d) => EventOps.cmsHeavyKeys(events(s, d)),
      Some("""WITH keyed AS (
             |  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS key
             |  FROM events),
             |sk AS (
             |  SELECT r,
             |    CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || ':' || key),
             |      1, 8)) AS BIGINT) % 1024 AS bucket,
             |    count(*) AS cnt
             |  FROM keyed, (SELECT unnest(range(4)) AS r)
             |  GROUP BY 1, 2),
             |ex AS (
             |  SELECT key, count(*) AS exact FROM keyed
             |  GROUP BY key ORDER BY exact DESC, key LIMIT 20),
             |pr AS (
             |  SELECT key, exact, r,
             |    CAST(('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || ':' || key),
             |      1, 8)) AS BIGINT) % 1024 AS bucket
             |  FROM ex, (SELECT unnest(range(4)) AS r))
             |SELECT p.key, CAST(p.exact AS BIGINT) AS exact,
             |  CAST(min(s.cnt) AS BIGINT) AS cms_est,
             |  CAST(min(s.cnt) - p.exact AS BIGINT) AS overcount
             |FROM pr p JOIN sk s ON s.r = p.r AND s.bucket = p.bucket
             |GROUP BY p.key, p.exact ORDER BY p.exact DESC, p.key""".stripMargin)),

    // Cross-table temporal sanity: lineitems shipped before their order
    // was placed, per priority, with the order→ship lag distribution —
    // the temporal sibling of qc_referential_integrity
    Q("qc_temporal_sanity",
      (s, d) => QualityChecks.temporalSanity(lineitem(s, d), orders(s, d)),
      Some("""SELECT o_orderpriority,
             |  CAST(count(*) AS BIGINT) AS n_lineitems,
             |  CAST(sum(CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 0
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
             |  CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS INTEGER)
             |    AS min_lag_days,
             |  CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS INTEGER)
             |    AS max_lag_days,
             |  floor(avg(date_diff('day', o_orderdate, l_shipdate))
             |    * 10000 + 0.5) / 10000 AS avg_lag_days
             |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Misra-Gries heavy hitters: bounded-memory candidate pass (native
    // misra_gries aggregate, <=1024 counters per task) + exact counts of
    // the candidates; MG's completeness guarantee makes the thresholded
    // output exact, so the oracle is plain SQL — no sketch replay needed
    Q("ev_mg_heavy",
      (s, d) => EventOps.mgHeavyHitters(events(s, d), k = 1024),
      Some("""WITH keyed AS (
             |  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS key
             |  FROM events),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM keyed),
             |c AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt
             |  FROM keyed GROUP BY key)
             |SELECT key, cnt, n_total,
             |  floor(CAST(cnt AS DOUBLE) / n_total * 10000 + 0.5) / 10000
             |    AS share
             |FROM c, t WHERE cnt * 1025 > n_total
             |ORDER BY cnt DESC, key""".stripMargin)),

    // HyperLogLog distinct estimation (m=256, textbook Flajolet with
    // linear-counting small-range correction) audited against exact
    // distincts for four key shapes; every literal pinned DOUBLE on both
    // sides so the arithmetic is pure IEEE — the oracle rebuilds the
    // registers from the identical md5-prefix hash
    // rolling-origin backtest: seasonal-naive vs naive baselines over the
    // last-7-day folds, integer-cent absolute errors, one division per
    // MAE, skill ratio <1 iff weekly seasonality helps
    Q("ev_forecast_backtest",
      (s, d) => EventOps.forecastBacktest(events(s, d)),
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM events GROUP BY 1, 2),
             |mx AS (SELECT max(day) AS dmax FROM daily),
             |t AS (SELECT daily.* FROM daily CROSS JOIN mx
             |  WHERE day > dmax - 7),
             |j AS (
             |  SELECT t.event_type,
             |    abs(t.cents - s.cents) AS es, abs(t.cents - n.cents) AS en
             |  FROM t
             |  JOIN daily s ON s.event_type = t.event_type
             |    AND s.day = t.day - 7
             |  JOIN daily n ON n.event_type = t.event_type
             |    AND n.day = t.day - 1),
             |agg AS (
             |  SELECT event_type, count(*) AS n_folds,
             |    CAST(sum(es) AS BIGINT) AS se, CAST(sum(en) AS BIGINT) AS ne
             |  FROM j GROUP BY 1)
             |SELECT event_type, n_folds,
             |  CAST(se AS DOUBLE) / (100.0 * CAST(n_folds AS DOUBLE))
             |    AS mae_snaive,
             |  CAST(ne AS DOUBLE) / (100.0 * CAST(n_folds AS DOUBLE))
             |    AS mae_naive,
             |  (CAST(se AS DOUBLE) / (100.0 * CAST(n_folds AS DOUBLE)))
             |    / (CAST(ne AS DOUBLE) / (100.0 * CAST(n_folds AS DOUBLE)))
             |    AS skill_vs_naive
             |FROM agg ORDER BY event_type""".stripMargin)),

    // cohort LTV triangle: first-seen-week cohorts, integer epoch-weeks,
    // centi-unit cumulative sums, one exact division per LTV value
    // Kaplan-Meier survival with right-censoring at the horizon: exact
    // integer lifetimes/at-risk counts, cumulative ln-sum windows that walk
    // the same dur order on both engines, ln(0) guarded by a CASE flag
    Q("ev_survival_km",
      (s, d) => EventOps.survivalKm(events(s, d)),
      Some("""WITH days AS (
             |  SELECT user_id, epoch_us(ts) // 86400000000 AS day
             |  FROM events),
             |u AS (SELECT user_id, min(day) AS f, max(day) AS l
             |      FROM days GROUP BY 1),
             |h AS (SELECT max(l) AS e FROM u),
             |bd AS (
             |  SELECT CAST(f // 30 AS BIGINT) AS cohort, l - f AS dur,
             |    count(*) AS n_users,
             |    CAST(sum(CASE WHEN e - l >= 7 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS d_churn
             |  FROM u, h GROUP BY 1, 2),
             |wr AS (
             |  SELECT cohort, dur, n_users, d_churn,
             |    CAST(sum(n_users) OVER (PARTITION BY cohort ORDER BY dur
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |      AS BIGINT) AS at_risk
             |  FROM bd),
             |sv AS (
             |  SELECT *, 1.0 - CAST(d_churn AS DOUBLE)
             |    / CAST(at_risk AS DOUBLE) AS term FROM wr),
             |cm AS (
             |  SELECT cohort, dur, n_users, d_churn, at_risk,
             |    max(CASE WHEN term <= 0 THEN 1 ELSE 0 END) OVER cum AS zs,
             |    sum(CASE WHEN term > 0 THEN ln(term) ELSE 0 END) OVER cum
             |      AS lnsum
             |  FROM sv WINDOW cum AS (PARTITION BY cohort ORDER BY dur
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT cohort, dur, n_users, d_churn, at_risk,
             |  CASE WHEN zs = 1 THEN 0.0
             |    ELSE floor(exp(lnsum) * 10000 + 0.5) / 10000 END AS survival
             |FROM cm ORDER BY cohort, dur""".stripMargin)),

    Q("ev_cohort_ltv",
      (s, d) => EventOps.cohortLtv(events(s, d)),
      Some("""WITH base AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events),
             |fs AS (
             |  SELECT user_id,
             |    CAST(floor(date_diff('day', DATE '1970-01-01', min(day))
             |      / 7.0) AS BIGINT) AS cohort_week
             |  FROM base GROUP BY 1),
             |sizes AS (SELECT cohort_week, count(*) AS cohort_size
             |  FROM fs GROUP BY 1),
             |weekly AS (
             |  SELECT f.cohort_week,
             |    CAST(floor(date_diff('day', DATE '1970-01-01', b.day) / 7.0)
             |      AS BIGINT) - f.cohort_week AS age_week,
             |    CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_active,
             |    CAST(sum(b.vc) AS BIGINT) AS week_cents
             |  FROM base b JOIN fs f ON f.user_id = b.user_id
             |  GROUP BY 1, 2),
             |cum AS (
             |  SELECT w.*, s.cohort_size,
             |    CAST(sum(week_cents) OVER (PARTITION BY w.cohort_week
             |      ORDER BY age_week) AS BIGINT) AS cum_cents
             |  FROM weekly w JOIN sizes s ON s.cohort_week = w.cohort_week)
             |SELECT cohort_week, age_week, cohort_size, n_active,
             |  CAST(week_cents AS DOUBLE) / 100.0 AS week_value,
             |  CAST(cum_cents AS DOUBLE)
             |    / (100.0 * CAST(cohort_size AS DOUBLE)) AS cum_ltv
             |FROM cum ORDER BY cohort_week, age_week""".stripMargin)),

    // step-function time-weighted average per event type: centi-unit
    // values x exact-us durations, BIGINT weighted sums, one division;
    // the plain mean rides along so `bias` shows the burst-sampling gap
    Q("ev_time_weighted",
      (s, d) => EventOps.timeWeightedAvg(events(s, d)),
      Some("""WITH e AS (
             |  SELECT event_type, event_id, epoch_us(ts) AS us,
             |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
             |  FROM events),
             |iv AS (
             |  SELECT event_type, vc, us,
             |    lead(us) OVER (PARTITION BY event_type
             |      ORDER BY us, event_id) AS next_us
             |  FROM e),
             |agg AS (
             |  SELECT event_type, count(*) AS n_intervals,
             |    CAST(sum(next_us - us) AS BIGINT) AS span_us,
             |    CAST(sum(vc * (next_us - us)) AS BIGINT) AS wsum,
             |    CAST(sum(vc) AS BIGINT) AS vsum
             |  FROM iv WHERE next_us IS NOT NULL GROUP BY 1)
             |SELECT event_type, n_intervals, span_us,
             |  CAST(wsum AS DOUBLE) / (100.0 * CAST(span_us AS DOUBLE)) AS twa,
             |  CAST(vsum AS DOUBLE) / (100.0 * CAST(n_intervals AS DOUBLE))
             |    AS mean_plain,
             |  CAST(wsum AS DOUBLE) / (100.0 * CAST(span_us AS DOUBLE))
             |    - CAST(vsum AS DOUBLE) / (100.0 * CAST(n_intervals AS DOUBLE))
             |    AS bias
             |FROM agg ORDER BY event_type""".stripMargin)),

    // rolling W7 percentiles from MERGED DAILY HISTOGRAM SKETCHES — the
    // quantile counterpart of ev_hll_window: per-(day, unit-bucket) exact
    // counts merge by addition, the cumulative walk answers p50/p95/p99;
    // the exact order statistic rides along auditing the <1-bucket bound
    Q("ev_quantile_window",
      (s, d) => EventOps.histQuantileWindow(events(s, d)),
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(floor(value) AS BIGINT) AS bkt, count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |days AS (SELECT DISTINCT day FROM daily),
             |merged AS (
             |  SELECT d.day AS day, r.bkt, sum(r.c) AS c
             |  FROM days d JOIN daily r
             |    ON r.day <= d.day AND r.day >= d.day - 6
             |  GROUP BY 1, 2),
             |cum AS (
             |  SELECT day, bkt,
             |    sum(c) OVER (PARTITION BY day ORDER BY bkt) AS cum,
             |    sum(c) OVER (PARTITION BY day) AS tot
             |  FROM merged),
             |sk AS (
             |  SELECT day, CAST(max(tot) AS BIGINT) AS n,
             |    CAST(min(CASE WHEN cum >= ceil(0.5 * tot) THEN bkt END) + 1
             |      AS DOUBLE) AS p50_est,
             |    CAST(min(CASE WHEN cum >= ceil(0.95 * tot) THEN bkt END) + 1
             |      AS DOUBLE) AS p95_est,
             |    CAST(min(CASE WHEN cum >= ceil(0.99 * tot) THEN bkt END) + 1
             |      AS DOUBLE) AS p99_est
             |  FROM cum GROUP BY 1),
             |ranked AS (
             |  SELECT d.day AS day, e.value,
             |    row_number() OVER (PARTITION BY d.day
             |      ORDER BY e.value, e.event_id) AS rn,
             |    count(*) OVER (PARTITION BY d.day) AS n
             |  FROM days d JOIN
             |    (SELECT CAST(ts AS DATE) AS kday, value, event_id
             |     FROM events) e
             |    ON e.kday <= d.day AND e.kday >= d.day - 6),
             |ex AS (
             |  SELECT day,
             |    max(CASE WHEN rn = ceil(0.5 * n) THEN value END) AS p50_exact,
             |    max(CASE WHEN rn = ceil(0.95 * n) THEN value END) AS p95_exact,
             |    max(CASE WHEN rn = ceil(0.99 * n) THEN value END) AS p99_exact
             |  FROM ranked GROUP BY 1)
             |SELECT strftime(sk.day, '%Y-%m-%d') AS day, n,
             |  p50_est, p50_exact, p95_est, p95_exact, p99_est, p99_exact,
             |  greatest(p50_est - p50_exact, p95_est - p95_exact,
             |    p99_est - p99_exact) AS max_err
             |FROM sk JOIN ex ON ex.day = sk.day
             |ORDER BY day""".stripMargin)),

    // rolling W7 percentiles for ARBITRARY-DOMAIN DOUBLES from merged daily
    // HDR-histogram sketches (native hdr_sketch TypedImperativeAggregate):
    // log-linear buckets in fixed-point — pure integer bucket math, so the
    // oracle replays the sketch exactly where KLL/t-digest never could;
    // within_bound audits the est ≤ exact·(1+2^-7)+2^-20 contract per day
    Q("ev_quantile_sketch_window",
      (s, d) => EventOps.quantileSketchWindow(events(s, d)),
      Some("""WITH fx AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(floor(value * 1048576.0) AS BIGINT) AS v
             |  FROM events),
             |daily AS (
             |  SELECT day,
             |    CASE WHEN v < 256 THEN v
             |      ELSE (v >> (length(bin(v)) - 8)) << (length(bin(v)) - 8)
             |    END AS edge,
             |    count(*) AS c
             |  FROM fx GROUP BY 1, 2),
             |days AS (SELECT DISTINCT day FROM daily),
             |merged AS (
             |  SELECT d.day AS day, r.edge, sum(r.c) AS c
             |  FROM days d JOIN daily r
             |    ON r.day <= d.day AND r.day >= d.day - 6
             |  GROUP BY 1, 2),
             |cum AS (
             |  SELECT day, edge,
             |    edge + (CASE WHEN edge < 256 THEN 1
             |      ELSE 1::BIGINT << (length(bin(edge)) - 8) END) AS upper,
             |    sum(c) OVER (PARTITION BY day ORDER BY edge) AS cum,
             |    sum(c) OVER (PARTITION BY day) AS tot
             |  FROM merged),
             |sk AS (
             |  SELECT day, CAST(max(tot) AS BIGINT) AS n,
             |    CAST(min(CASE WHEN cum >= ceil(0.5 * tot) THEN upper END)
             |      AS DOUBLE) / 1048576.0 AS p50_est,
             |    CAST(min(CASE WHEN cum >= ceil(0.95 * tot) THEN upper END)
             |      AS DOUBLE) / 1048576.0 AS p95_est,
             |    CAST(min(CASE WHEN cum >= ceil(0.99 * tot) THEN upper END)
             |      AS DOUBLE) / 1048576.0 AS p99_est
             |  FROM cum GROUP BY 1),
             |ranked AS (
             |  SELECT d.day AS day, e.value,
             |    row_number() OVER (PARTITION BY d.day
             |      ORDER BY e.value, e.event_id) AS rn,
             |    count(*) OVER (PARTITION BY d.day) AS nn
             |  FROM days d JOIN
             |    (SELECT CAST(ts AS DATE) AS kday, value, event_id
             |     FROM events) e
             |    ON e.kday <= d.day AND e.kday >= d.day - 6),
             |ex AS (
             |  SELECT day,
             |    max(CASE WHEN rn = ceil(0.5 * nn) THEN value END) AS p50_exact,
             |    max(CASE WHEN rn = ceil(0.95 * nn) THEN value END) AS p95_exact,
             |    max(CASE WHEN rn = ceil(0.99 * nn) THEN value END) AS p99_exact
             |  FROM ranked GROUP BY 1)
             |SELECT strftime(sk.day, '%Y-%m-%d') AS day, n,
             |  p50_est, p50_exact, p95_est, p95_exact, p99_est, p99_exact,
             |  (p50_est > p50_exact
             |     AND p50_est - p50_exact <= p50_exact / 128.0 + 1.0 / 1048576.0
             |   AND p95_est > p95_exact
             |     AND p95_est - p95_exact <= p95_exact / 128.0 + 1.0 / 1048576.0
             |   AND p99_est > p99_exact
             |     AND p99_est - p99_exact <= p99_exact / 128.0 + 1.0 / 1048576.0)
             |    AS within_bound
             |FROM sk JOIN ex ON ex.day = sk.day
             |ORDER BY day""".stripMargin)),

    // sketch-rollup: corpus-wide quantiles come from MERGING the per-type
    // bucket maps (counts add), never a second scan — the group-hierarchy
    // face of the same merge algebra the window query shows across time
    Q("ev_quantile_sketch_rollup",
      (s, d) => EventOps.quantileSketchRollup(events(s, d)),
      Some("""WITH fx AS (
             |  SELECT event_type, event_id, value,
             |    CAST(floor(value * 1048576.0) AS BIGINT) AS v
             |  FROM events),
             |bkt AS (
             |  SELECT event_type AS scope,
             |    CASE WHEN v < 256 THEN v
             |      ELSE (v >> (length(bin(v)) - 8)) << (length(bin(v)) - 8)
             |    END AS edge,
             |    count(*) AS c
             |  FROM fx GROUP BY 1, 2),
             |allb AS (
             |  SELECT 'ALL' AS scope, edge, sum(c) AS c FROM bkt GROUP BY 2),
             |merged AS (SELECT * FROM bkt UNION ALL SELECT * FROM allb),
             |cum AS (
             |  SELECT scope, edge,
             |    edge + (CASE WHEN edge < 256 THEN 1
             |      ELSE 1::BIGINT << (length(bin(edge)) - 8) END) AS upper,
             |    sum(c) OVER (PARTITION BY scope ORDER BY edge) AS cum,
             |    sum(c) OVER (PARTITION BY scope) AS tot
             |  FROM merged),
             |sk AS (
             |  SELECT scope, CAST(max(tot) AS BIGINT) AS n,
             |    CAST(min(CASE WHEN cum >= ceil(0.5 * tot) THEN upper END)
             |      AS DOUBLE) / 1048576.0 AS p50_est,
             |    CAST(min(CASE WHEN cum >= ceil(0.95 * tot) THEN upper END)
             |      AS DOUBLE) / 1048576.0 AS p95_est,
             |    CAST(min(CASE WHEN cum >= ceil(0.99 * tot) THEN upper END)
             |      AS DOUBLE) / 1048576.0 AS p99_est
             |  FROM cum GROUP BY 1),
             |raw AS (
             |  SELECT event_type AS scope, value, event_id FROM fx
             |  UNION ALL SELECT 'ALL', value, event_id FROM fx),
             |ranked AS (
             |  SELECT scope, value,
             |    row_number() OVER (PARTITION BY scope
             |      ORDER BY value, event_id) AS rn,
             |    count(*) OVER (PARTITION BY scope) AS nn
             |  FROM raw),
             |ex AS (
             |  SELECT scope,
             |    max(CASE WHEN rn = ceil(0.5 * nn) THEN value END) AS p50_exact,
             |    max(CASE WHEN rn = ceil(0.95 * nn) THEN value END) AS p95_exact,
             |    max(CASE WHEN rn = ceil(0.99 * nn) THEN value END) AS p99_exact
             |  FROM ranked GROUP BY 1)
             |SELECT sk.scope AS scope, n,
             |  p50_est, p50_exact, p95_est, p95_exact, p99_est, p99_exact,
             |  (p50_est > p50_exact
             |     AND p50_est - p50_exact <= p50_exact / 128.0 + 1.0 / 1048576.0
             |   AND p95_est > p95_exact
             |     AND p95_est - p95_exact <= p95_exact / 128.0 + 1.0 / 1048576.0
             |   AND p99_est > p99_exact
             |     AND p99_est - p99_exact <= p99_exact / 128.0 + 1.0 / 1048576.0)
             |    AS within_bound
             |FROM sk JOIN ex ON ex.scope = sk.scope
             |ORDER BY scope""".stripMargin)),

    // DAU/WAU stickiness: exact distinct counts over the day spine, one
    // integer division per day — the exact twin of the HLL window path
    Q("ev_stickiness",
      (s, d) => EventOps.stickiness(events(s, d)),
      Some("""WITH daily AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
             |dau AS (SELECT day, count(*) AS dau FROM daily GROUP BY 1),
             |wau AS (
             |  SELECT d.day AS day,
             |    CAST(count(DISTINCT r.user_id) AS BIGINT) AS wau
             |  FROM dau d JOIN daily r
             |    ON r.day <= d.day AND r.day >= d.day - 6
             |  GROUP BY 1)
             |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau,
             |  floor(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)
             |    * 1000000 + 0.5) / 1000000 AS stickiness
             |FROM dau JOIN wau ON wau.day = dau.day
             |ORDER BY day""".stripMargin)),

    // rolling W7 distinct users from MERGED DAILY HLL SKETCHES — any
    // trailing window answered register-wise from per-day sketches, no
    // event rescan; exact trailing distinct rides along as the audit
    Q("ev_hll_window",
      (s, d) => EventOps.hllRollingDistinct(events(s, d)),
      Some("""WITH daily AS (
             |  SELECT day, h // 16777216 AS reg,
             |    max(CASE WHEN h % 16777216 = 0 THEN 25
             |        ELSE 25 - length(bin(h % 16777216)) END) AS mr
             |  FROM (SELECT CAST(ts AS DATE) AS day,
             |      CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
             |        1, 8)) AS BIGINT) AS h
             |    FROM events)
             |  GROUP BY 1, 2),
             |days AS (SELECT DISTINCT day FROM daily),
             |merged AS (
             |  SELECT d.day AS day, r.reg, max(r.mr) AS mr
             |  FROM days d JOIN daily r
             |    ON r.day <= d.day AND r.day >= d.day - 6
             |  GROUP BY 1, 2),
             |sk AS (SELECT day, count(*) AS npres,
             |    sum(pow(2.0::DOUBLE, -mr)) AS s FROM merged GROUP BY 1),
             |ex AS (
             |  SELECT d.day AS day,
             |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact
             |  FROM days d JOIN
             |    (SELECT CAST(ts AS DATE) AS kday, user_id FROM events) e
             |    ON e.kday <= d.day AND e.kday >= d.day - 6
             |  GROUP BY 1),
             |j AS (
             |  SELECT sk.day AS day, n_exact,
             |    floor((CASE WHEN (0.7213::DOUBLE / (1::DOUBLE
             |        + 1.079::DOUBLE / 256::DOUBLE)) * 65536::DOUBLE
             |        / (s + (256::DOUBLE - npres)) <= 640::DOUBLE
             |        AND npres < 256
             |      THEN 256::DOUBLE * ln(256::DOUBLE / (256::DOUBLE - npres))
             |      ELSE (0.7213::DOUBLE / (1::DOUBLE
             |        + 1.079::DOUBLE / 256::DOUBLE)) * 65536::DOUBLE
             |        / (s + (256::DOUBLE - npres)) END) * 10000 + 0.5) / 10000
             |      AS hll_est
             |  FROM sk JOIN ex ON ex.day = sk.day)
             |SELECT strftime(day, '%Y-%m-%d') AS day, n_exact, hll_est,
             |  floor((hll_est / n_exact - 1) * 10000 + 0.5) / 10000 AS rel_err
             |FROM j ORDER BY day""".stripMargin)),

    Q("ev_hll_distinct",
      (s, d) => EventOps.hllDistinct(events(s, d)),
      Some {
        val cols = Seq(
          ("event_id", "CAST(event_id AS VARCHAR)"),
          ("event_type", "event_type"),
          ("user_id", "CAST(user_id AS VARCHAR)"),
          ("user_type_pair", "CAST(user_id AS VARCHAR) || ':' || event_type"))
        val estE = "(0.7213::DOUBLE / (1::DOUBLE + 1.079::DOUBLE / 256::DOUBLE))" +
          " * 65536::DOUBLE / (s + (256::DOUBLE - npres))"
        val blocks = cols.map { case (tag, ke) =>
          s"""r_$tag AS (
             |  SELECT h // 16777216 AS reg,
             |    max(CASE WHEN h % 16777216 = 0 THEN 25
             |        ELSE 25 - length(bin(h % 16777216)) END) AS mr
             |  FROM (SELECT CAST(('0x' || substr(md5('hll:' || $ke), 1, 8))
             |          AS BIGINT) AS h
             |        FROM events)
             |  GROUP BY 1),
             |f_$tag AS (
             |  SELECT '$tag' AS col_name,
             |    (SELECT CAST(count(DISTINCT $ke) AS BIGINT) FROM events)
             |      AS n_exact,
             |    floor((CASE WHEN $estE <= 640::DOUBLE AND npres < 256
             |      THEN 256::DOUBLE * ln(256::DOUBLE / (256::DOUBLE - npres))
             |      ELSE $estE END) * 10000 + 0.5) / 10000 AS eq
             |  FROM (SELECT count(*) AS npres, sum(power(2.0::DOUBLE, -mr)) AS s
             |        FROM r_$tag))""".stripMargin
        }.mkString(",\n")
        s"""WITH $blocks
           |SELECT col_name, n_exact, eq AS hll_est,
           |  floor((eq / n_exact - 1) * 10000 + 0.5) / 10000 AS rel_err
           |FROM (${cols.map(c => s"SELECT * FROM f_${c._1}").mkString(" UNION ALL ")})
           |ORDER BY col_name""".stripMargin
      })
  )

  /** DuckDB-side normalized token list (must match TextOps.normalize/tokens:
    * lower(trim(collapse-whitespace)) split on single space).
    */
  private val DuckToks =
    "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"

  /** Shared WITH-prefix of the BPE-encode oracles (`txt_bpe_encode`,
    * `txt_fertility_by_lang`): trains the 5-round merge table over the word
    * histogram (p/b/s CTE chain) and segments every DISTINCT word with it
    * (e CTE chain, ending at e5) — DuckDB's independent replay of
    * `TextOps.bpeVocab`.
    */
  private lazy val BpeEncodePrefix: String = {
    val trainRounds = (1 to 5).map { r =>
      s"""p$r AS (
         |  SELECT z[1] AS p1, z[2] AS p2, sum(freq) AS cnt
         |  FROM (SELECT freq, unnest(list_zip(syms[:-1], syms[2:])) AS z
         |        FROM s${r - 1})
         |  WHERE z[2] IS NOT NULL
         |  GROUP BY 1, 2),
         |b$r AS (SELECT p1, p2 FROM p$r ORDER BY cnt DESC, p1, p2 LIMIT 1),
         |s$r AS (
         |  SELECT freq, CASE WHEN b.p1 IS NULL THEN syms
         |    ELSE string_split(list_reduce(syms,
         |      (acc, x) -> CASE
         |        WHEN (acc = b.p1 OR ends_with(acc, ' ' || b.p1)) AND x = b.p2
         |        THEN acc || x ELSE acc || ' ' || x END), ' ') END AS syms
         |  FROM s${r - 1} LEFT JOIN b$r b ON TRUE),
         |e$r AS (
         |  SELECT word, CASE WHEN b.p1 IS NULL THEN syms
         |    ELSE string_split(list_reduce(syms,
         |      (acc, x) -> CASE
         |        WHEN (acc = b.p1 OR ends_with(acc, ' ' || b.p1)) AND x = b.p2
         |        THEN acc || x ELSE acc || ' ' || x END), ' ') END AS syms
         |  FROM e${r - 1} LEFT JOIN b$r b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest($DuckToks) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |s0 AS (
       |  SELECT freq,
       |    [substring(word, CAST(i AS INTEGER), 1)
       |     FOR i IN range(1, length(word) + 1)] AS syms
       |  FROM w),
       |e0 AS (
       |  SELECT word,
       |    [substring(word, CAST(i AS INTEGER), 1)
       |     FOR i IN range(1, length(word) + 1)] AS syms
       |  FROM w),
       |$trainRounds""".stripMargin
  }

  /** 2^61-1: the modulus of the portable hash domain (see Md5Hash61). */
  private val DuckM = "2305843009213693951"

  /** DuckDB list literal of RollingHash's power ladder B^{L-1-j} mod M —
    * the SAME constants the native rolling expression folds with, so the
    * oracle's per-window dot product replays it exactly.
    */
  private def duckRollingPowers(l: Int): String =
    graft.functions.RollingHash.powers(l)
      .mkString("list_value(", ", ", ")")

  /** DuckDB twin of Md5Hash61.hash61: lower-64 of MD5, masked to 61 bits. */
  private def duckH61(sqlExpr: String): String =
    s"CAST((md5_number_lower($sqlExpr) & $DuckM) AS BIGINT)"

  /** DuckDB twin of TextOps.syntheticPages — the deterministic HTML wrapper
    * both engines apply before the txt_html_* operators (same literal
    * fragments, same doc_id % 7 punctuation rule).
    */
  private def duckPagesCte: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |    '<html><head><title>' || source ||
      |    '</title><style>body{margin:0;font:14px serif}</style><script>var tracker=1;</script></head><body><nav><a href="/">Home</a> <a href="/t">' || lang ||
      |    '</a></nav><h1>' || source || ' #' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
      |    CASE WHEN doc_id % 7 <> 0 THEN '.' ELSE '' END ||
      |    '</p><div><a href="#">Share</a> <a href="#">Tweet</a></div><footer>We use cookies and javascript to improve this site ' || source || '</footer></body></html>' AS html
      |  FROM documents)""".stripMargin

  /** DuckDB twin of the C4 blacklist predicate on a line `l`. */
  private def duckBlack: String =
    "contains(lower(l), 'cookie') OR contains(lower(l), 'javascript')"

  /** DuckDB CTEs `t` (tokens) + `sh` (distinct 61-bit 3-gram shingle hashes,
    * docs with ≥3 tokens) — the shared front of the dedup oracles. Matches
    * `shingle_hashes(toks, 3)` exactly (same strings, same hash).
    */
  private def duckShingleCtes: String =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    list_distinct(list_transform(range(len(toks) - 2),
       |      i -> ${duckH61("array_to_string(toks[i + 1:i + 3], ' ')")})) AS hs
       |  FROM t WHERE len(toks) >= 3)""".stripMargin

  /** DuckDB CTE chain replaying the full MinHash-LSH pipeline (signatures →
    * band keys → candidate pairs → verified intersection stats in `j`) —
    * shared by the pair and cluster oracles. Constants come from the SAME
    * Scala tables the native expressions use (k=32, 8 bands × 4 rows).
    */
  private lazy val duckLshCtes: String = {
    // one list_min per seed, constants from the shared table (k=32)
    val sigExprs = graft.functions.Md5Hash61.AB.take(32).map { case (a, b) =>
      s"list_min(list_transform(hs, h -> CAST((CAST($a AS HUGEINT) * h + $b) % $DuckM AS BIGINT)))"
    }.mkString("list_value(\n      ", ",\n      ", ")")
    // per-band key: the same affine fold the native band_hashes computes
    val bandA = graft.functions.Md5Hash61.BandA
    val bandExprs = (0 until 8).map { band =>
      (1 to 4).map(j => s"sig[${band * 4 + j}]")
        .foldLeft("CAST(0 AS BIGINT)") { (acc, v) =>
          s"CAST((CAST($bandA AS HUGEINT) * ($acc) + $v) % $DuckM AS BIGINT)"
        }
    }.mkString("list_value(\n      ", ",\n      ", ")")
    s"""$duckShingleCtes,
       |sigs AS (SELECT doc_id, hs, $sigExprs AS sig FROM sh),
       |bsigs AS (SELECT doc_id, $bandExprs AS bhs FROM sigs),
       |banded AS (
       |  SELECT doc_id, band, bhs[band + 1] AS key
       |  FROM bsigs CROSS JOIN (SELECT unnest(range(0, 8)) AS band)),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.hs, sb.hs)) AS inter,
       |    len(sa.hs) AS na, len(sb.hs) AS nb
       |  FROM cand
       |  JOIN sigs sa ON sa.doc_id = doc_a
       |  JOIN sigs sb ON sb.doc_id = doc_b)""".stripMargin
  }

  /** DuckDB CTE chain computing the per-doc repetition signals (`m`:
    * n_tokens, distinct_ratio, top_bigram_frac) — shared by the repetition
    * stats and filter-decision oracles. Top bigram counted by brute force
    * over the per-doc bigram list.
    */
  private val duckRepetitionCtes: String =
    s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
       |b AS (SELECT doc_id, len(toks) AS n_tokens,
       |    len(list_distinct(toks)) AS n_distinct,
       |    CASE WHEN len(toks) < 2 THEN list_value()
       |         ELSE [toks[i] || ' ' || toks[i + 1] for i in range(1, len(toks))]
       |    END AS bgs
       |  FROM t),
       |a AS (SELECT doc_id, n_tokens, n_distinct, len(bgs) AS n_bigrams,
       |    CASE WHEN len(bgs) = 0 THEN 0
       |         ELSE list_max(list_transform(list_distinct(bgs),
       |                x -> len(list_filter(bgs, y -> y = x))))
       |    END AS top_n
       |  FROM b),
       |m AS (SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       |    floor(CAST(n_distinct AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000 AS distinct_ratio,
       |    CASE WHEN n_bigrams = 0 THEN 0.0
       |         ELSE floor(CAST(top_n AS DOUBLE) / n_bigrams * 10000 + 0.5) / 10000
       |    END AS top_bigram_frac
       |  FROM a)""".stripMargin

  /** Text-analysis + dedup queries (LLM-pipeline extension operators).
    * The MinHash-LSH / SimHash / winnowing oracles replay the exact hash
    * arithmetic in DuckDB: the base hash is `md5_number_lower & (2^61-1)`
    * (= graft.functions.Md5Hash61) and the k MinHash permutations are affine
    * maps mod 2^61-1 whose constants are generated from the SAME Scala table
    * (Md5Hash61.AB) that the native expressions evaluate — identical
    * signatures by construction, verified in Md5Hash61Spec.
    */
  /** DuckDB CTE chain replaying the unigram-LM training (word table ->
    * substring candidates -> initial vocab -> two unrolled hard-EM
    * rounds, ending at cc2 = round-2 Viterbi counts; the round-2
    * per-word pieces stay addressable as p2_1..p2_12) - shared by the
    * txt_unigram_lm and txt_unigram_encode oracles.
    */
  /** Shared Hilbert-transform CTE chain over the (partkey, suppkey) bucket
    * grid: `p` seeds (x, y, hx, hy, d=0), h7..h0 unroll the 8 bit-descent
    * rounds with quadrant rotation; consumers read `h0(x, y, d)`. No
    * leading WITH.
    */
  private lazy val duckHilbertPointCtes: String = {
    val rounds = (7 to 0 by -1).map { i =>
      val s = 1 << i
      val prev = if (i == 7) "p" else s"h${i + 1}"
      s"""h$i AS (
         |  SELECT x, y,
         |    CASE WHEN ry = 0 THEN
         |      CASE WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END
         |    ELSE hx END AS hx,
         |    CASE WHEN ry = 0 THEN
         |      CASE WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END
         |    ELSE hy END AS hy,
         |    d + ${s * s} * xor(3 * rx, ry) AS d
         |  FROM (
         |    SELECT x, y, hx, hy, d,
         |      CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
         |    FROM $prev))""".stripMargin
    }.mkString(",\n")
    s"""p AS (
       |  SELECT CAST(l_partkey % 256 AS INTEGER) AS x,
       |         CAST(l_suppkey % 256 AS INTEGER) AS y,
       |         CAST(l_partkey % 256 AS INTEGER) AS hx,
       |         CAST(l_suppkey % 256 AS INTEGER) AS hy,
       |         0 AS d
       |  FROM lineitem),
       |$rounds""".stripMargin
  }

  /** Morton interleave of the low 8 bits of `x`/`y` — the store_zorder
    * formulation, usable as an expression over any frame exposing x, y. */
  private val duckZkeyExpr: String =
    """CAST(list_sum(list_transform(range(0, 8), i ->
      |  (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
      |  AS INTEGER)""".stripMargin

  private lazy val duckUnigramCtes: String = {

        val maxW = 12
        // one EM pass: score vocab `v`, DP a{r}_0..12, backtrack
        // b/g/p{r}_1..12, Viterbi counts cc{r}
        // every multiply-referenced CTE is MATERIALIZED: the DP chain
        // a_j = a_{j-1} ∪ d_j reads a_{j-1} twice, so plain (inlined)
        // CTEs expand 2^12 copies of the corpus scan
        def emRound(r: Int, v: String): String = {
          val dp = (1 to maxW).map { j =>
            s"""d${r}_$j AS MATERIALIZED (SELECT e.word, $j AS pos,
               |    max(a.key + e.skey * 64 - 1) AS key
               |  FROM e$r e JOIN a${r}_${j - 1} a
               |    ON a.word = e.word AND a.pos = e.i
               |  WHERE e.j = $j GROUP BY e.word),
               |a${r}_$j AS MATERIALIZED (SELECT * FROM a${r}_${j - 1}
               |  UNION ALL SELECT * FROM d${r}_$j)""".stripMargin
          }.mkString(",\n")
          val bt = (1 to maxW).map { t =>
            s"""g${r}_$t AS MATERIALIZED (SELECT b.word, b.freq, b.pos, b.key, min(e.i) AS bi
               |  FROM b${r}_${t - 1} b
               |  JOIN e$r e ON e.word = b.word AND e.j = b.pos
               |  JOIN a${r}_$maxW a ON a.word = b.word AND a.pos = e.i
               |  WHERE b.pos > 0 AND a.key + e.skey * 64 - 1 = b.key
               |  GROUP BY b.word, b.freq, b.pos, b.key),
               |p${r}_$t AS (SELECT word, freq,
               |    substr(word, bi + 1, pos - bi) AS piece FROM g${r}_$t),
               |b${r}_$t AS MATERIALIZED (SELECT g.word, g.freq, g.bi AS pos, a.key
               |  FROM g${r}_$t g JOIN a${r}_$maxW a
               |    ON a.word = g.word AND a.pos = g.bi)""".stripMargin
          }.mkString(",\n")
          val emits = (1 to maxW).map(t => s"SELECT * FROM p${r}_$t")
            .mkString(" UNION ALL ")
          s"""tt$r AS MATERIALIZED (SELECT CAST(sum(cnt + 1) AS BIGINT) AS t FROM $v),
             |e$r AS MATERIALIZED (SELECT o.word, o.i, o.j,
             |    CAST(floor((ln(s.cnt + 1) - ln(tt$r.t)) * 1000000) AS BIGINT)
             |      AS skey
             |  FROM occ o JOIN $v s USING (piece) CROSS JOIN tt$r),
             |a${r}_0 AS MATERIALIZED (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS key FROM wt),
             |$dp,
             |b${r}_0 AS MATERIALIZED (SELECT w.word, w.freq, length(w.word) AS pos, a.key
             |  FROM wt w JOIN a${r}_$maxW a
             |    ON a.word = w.word AND a.pos = length(w.word)),
             |$bt,
             |cc$r AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
             |  FROM ($emits) GROUP BY piece)""".stripMargin
        }
        s"""WITH wt AS MATERIALIZED (
           |  SELECT word, count(*) AS freq FROM (
           |    SELECT unnest($DuckToks) AS word FROM documents)
           |  WHERE length(word) BETWEEN 1 AND $maxW GROUP BY word),
           |occ AS MATERIALIZED (
           |  SELECT word, freq, i, i + l AS j, substr(word, i + 1, l) AS piece
           |  FROM wt,
           |    (SELECT unnest(range(0, $maxW)) AS i) ii,
           |    (SELECT unnest(range(1, 7)) AS l) ll
           |  WHERE i < length(word) AND l <= least(6, length(word) - i)),
           |cz AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM occ GROUP BY piece),
           |v0 AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM (
           |    (SELECT piece, cnt FROM cz ORDER BY cnt DESC, piece LIMIT 40)
           |    UNION ALL
           |    (SELECT piece, cnt FROM cz WHERE length(piece) = 1))),
           |${emRound(1, "v0")},
           |v1 AS MATERIALIZED (SELECT v.piece, coalesce(c.cnt, 0) AS cnt
           |  FROM v0 v LEFT JOIN cc1 c USING (piece)
           |  WHERE c.cnt IS NOT NULL OR length(v.piece) = 1),
           |${emRound(2, "v1")}""".stripMargin
  }

  private def textQueries: Seq[Q] = Seq(
    Q("txt_stats_by_lang",
      (s, d) => TextOps.statsByLang(documents(s, d)),
      Some(s"""SELECT lang, count(*) AS n_docs,
              |  round(avg(n_chars), 4) AS avg_chars,
              |  round(avg(len($DuckToks)), 4) AS avg_tokens,
              |  CAST(sum(len($DuckToks)) AS BIGINT) AS total_tokens
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("txt_token_freq",
      (s, d) => TextOps.tokenFrequency(documents(s, d), 20),
      Some(s"""SELECT token, count(*) AS n
              |FROM (SELECT unnest($DuckToks) AS token FROM documents)
              |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    // HTML/boilerplate extraction (r15 verdict item 6): the preprocessing
    // stage every web corpus runs before anything else in TextOps. The
    // corpus ships clean text, so both engines wrap each doc in the SAME
    // deterministic page (TextOps.syntheticPages / the pages CTE) and the
    // operators under test are the tag-strip + link-density census and the
    // C4 line filter. Every census bucket is populated by construction.
    Q("txt_html_extract",
      (s, d) => TextOps.htmlExtract(TextOps.syntheticPages(documents(s, d))),
      Some(s"""$duckPagesCte,
              |t AS (
              |  SELECT doc_id, html,
              |    trim(regexp_replace(regexp_replace(regexp_replace(html,
              |      '<(script|style)[^>]*>[^<]*</(script|style)>', ' ', 'g'),
              |      '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS text,
              |    regexp_extract_all(html, '<a [^>]*>([^<]*)</a>', 1) AS anchors
              |  FROM pages)
              |SELECT doc_id,
              |  CAST(len(html) AS BIGINT) AS n_html_chars,
              |  CAST(len(text) AS BIGINT) AS n_text_chars,
              |  floor(CAST(len(text) AS DOUBLE) / greatest(len(html), 1)
              |    * 10000 + 0.5) / 10000 AS text_markup_ratio,
              |  CAST(len(anchors) AS BIGINT) AS n_links,
              |  CAST(coalesce(list_sum(list_transform(anchors, x -> len(x))), 0)
              |    AS BIGINT) AS link_chars,
              |  floor(CAST(coalesce(list_sum(list_transform(anchors, x -> len(x))), 0)
              |      AS DOUBLE) / greatest(len(text), 1) * 10000 + 0.5) / 10000
              |    AS link_density
              |FROM t ORDER BY doc_id""".stripMargin)),

    // PII detection + redaction census over a SQL-expressible injection
    // (the corpus is clean text): emails on %3 docs, phones on %5, IPs on
    // %7 — overlapping moduli exercise multi-PII docs; every bucket
    // non-vacuous by construction. Counts are raw-text matches; the
    // fingerprint pins the full redacted payload.
    Q("txt_pii_redact",
      (s, d) => TextOps.piiRedactCensus(
        TextOps.syntheticPiiDocs(documents(s, d))),
      Some("""WITH pii AS (
             |  SELECT doc_id, text ||
             |    CASE WHEN doc_id % 3 = 0 THEN ' Contact user'
             |      || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
             |    CASE WHEN doc_id % 5 = 0
             |      THEN ' or call +352 621 123456 today' ELSE '' END ||
             |    CASE WHEN doc_id % 7 = 0 THEN ' (logged from 10.0.'
             |      || CAST(doc_id % 256 AS VARCHAR) || '.77)' ELSE '' END AS text
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, text,
             |    CAST(len(regexp_extract_all(text,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             |      AS n_email,
             |    CAST(len(regexp_extract_all(text,
             |      '\+[0-9]{1,3} [0-9]{2,4} [0-9]{3,8}')) AS BIGINT) AS n_phone,
             |    CAST(len(regexp_extract_all(text,
             |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT)
             |      AS n_ipv4,
             |    regexp_replace(regexp_replace(regexp_replace(text,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\+[0-9]{1,3} [0-9]{2,4} [0-9]{3,8}', '<PHONE>', 'g'),
             |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g')
             |      AS redacted
             |  FROM pii)
             |SELECT doc_id, n_email, n_phone, n_ipv4,
             |  n_email + n_phone + n_ipv4 AS n_redacted,
             |  CAST(len(redacted) - len(text) AS BIGINT) AS char_delta,
             |  md5(redacted) AS redacted_fp
             |FROM r ORDER BY doc_id""".stripMargin)),

    Q("txt_html_boilerplate",
      (s, d) => TextOps.htmlBoilerplateCensus(
        TextOps.syntheticPages(documents(s, d))),
      Some(s"""$duckPagesCte,
              |t AS (
              |  SELECT doc_id,
              |    list_filter(list_transform(
              |      string_split(regexp_replace(regexp_replace(regexp_replace(html,
              |        '<(script|style)[^>]*>[^<]*</(script|style)>', ' ', 'g'),
              |        '</?(html|head|body|title|nav|footer|header|h[1-6]|p|div|li|ul|ol|br|tr|td|table)[^>]*>', chr(10), 'g'),
              |        '<[^>]*>', ' ', 'g'), chr(10)),
              |      l -> trim(regexp_replace(l, '\\s+', ' ', 'g'))),
              |      l -> len(l) > 0) AS lines
              |  FROM pages),
              |c AS (
              |  SELECT doc_id,
              |    CAST(len(lines) AS BIGINT) AS n_lines,
              |    CAST(len(list_filter(lines, l -> $duckBlack)) AS BIGINT)
              |      AS n_blacklist,
              |    CAST(len(list_filter(lines, l -> NOT ($duckBlack)
              |      AND len(string_split(l, ' ')) < 3)) AS BIGINT) AS n_short,
              |    CAST(len(list_filter(lines, l -> NOT ($duckBlack)
              |      AND len(string_split(l, ' ')) >= 3
              |      AND NOT regexp_matches(l, '[.!?]$$'))) AS BIGINT) AS n_nopunct,
              |    CAST(len(list_filter(lines, l -> NOT ($duckBlack)
              |      AND len(string_split(l, ' ')) >= 3
              |      AND regexp_matches(l, '[.!?]$$'))) AS BIGINT) AS n_kept,
              |    CAST(coalesce(list_sum(list_transform(
              |      list_filter(lines, l -> NOT ($duckBlack)
              |        AND len(string_split(l, ' ')) >= 3
              |        AND regexp_matches(l, '[.!?]$$')), x -> len(x))), 0)
              |      AS BIGINT) AS kept_chars
              |  FROM t)
              |SELECT doc_id, n_lines, n_blacklist, n_short, n_nopunct, n_kept,
              |  kept_chars,
              |  floor(CAST(n_lines - n_kept AS DOUBLE) / greatest(n_lines, 1)
              |    * 10000 + 0.5) / 10000 AS boiler_ratio
              |FROM c ORDER BY doc_id""".stripMargin)),

    // exact φ-frequent heavy hitters: output bounded by 100/φ rows at ANY
    // corpus size (support threshold, not a global-sort top-k)
    Q("txt_heavy_hitters",
      (s, d) => TextOps.heavyHitters(documents(s, d), 0.5),
      Some(s"""WITH toks AS (SELECT unnest($DuckToks) AS token FROM documents),
              |c AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
              |t AS (SELECT count(*) AS total FROM toks)
              |SELECT token, n,
              |  floor(CAST(n AS DOUBLE) / total * 1000000 + 0.5) / 10000 AS pct
              |FROM c, t WHERE n > total * 0.5 / 100.0
              |ORDER BY n DESC, token""".stripMargin)),

    // higher-order array-function breadth: exists / forall / position /
    // min-max / negative indexing / flatten, each with a DuckDB list twin
    Q("txt_array_funcs",
      (s, d) => documents(s, d)
        .filter(col("doc_id") < 100)
        .withColumn("toks", split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " "))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          exists(col("toks"), t => length(t) > 8).as("has_long"),
          forall(col("toks"), t => length(t) < 20).as("all_short"),
          array_position(col("toks"), "the").as("the_pos"),
          array_max(col("toks")).as("max_tok"),
          element_at(col("toks"), -1).as("last_tok"),
          size(flatten(array(col("toks"), col("toks")))).as("n_doubled"))
        .orderBy(col("doc_id")),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents WHERE doc_id < 100)
              |SELECT doc_id,
              |  CAST(len(toks) AS INTEGER) AS n_tokens,
              |  len(list_filter(toks, x -> length(x) > 8)) > 0 AS has_long,
              |  len(list_filter(toks, x -> NOT (length(x) < 20))) = 0 AS all_short,
              |  CAST(coalesce(list_position(toks, 'the'), 0) AS BIGINT) AS the_pos,
              |  list_max(toks) AS max_tok,
              |  toks[-1] AS last_tok,
              |  CAST(len(flatten([toks, toks])) AS INTEGER) AS n_doubled
              |FROM t ORDER BY doc_id""".stripMargin)),

    // fixed-size overlapping character chunks (RAG prep): chunk i covers
    // [i*90, i*90+120); payloads compared by md5 fingerprint
    Q("txt_chunk_overlap",
      (s, d) => TextOps.chunkFixedOverlap(documents(s, d)),
      Some("""WITH c AS (
             |  SELECT doc_id, text,
             |    unnest(range(0, CAST(ceil(length(text) / 90.0) AS BIGINT))) AS i
             |  FROM documents WHERE length(text) > 0)
             |SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
             |  length(substr(text, CAST(i * 90 + 1 AS INTEGER), 120)) AS chunk_len,
             |  md5(substr(text, CAST(i * 90 + 1 AS INTEGER), 120)) AS chunk_fp
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // PII scrub (emails/URLs/phones -> placeholders, fixed order): the
    // corpus has no PII, so both sides append the same deterministic
    // contact line first; the rewrite is verified by md5 fingerprint
    Q("txt_pii_scrub",
      (s, d) => TextOps.piiScrub(documents(s, d)),
      Some(s"""WITH a AS (
              |  SELECT doc_id,
              |    text || ' contact user' || CAST(doc_id AS VARCHAR)
              |         || '@mail.example via https://site' || CAST(doc_id AS VARCHAR)
              |         || '.example/p or +1-555-01'
              |         || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS aug
              |  FROM documents),
              |s AS (SELECT doc_id, aug,
              |    regexp_replace(regexp_replace(regexp_replace(aug,
              |      '${TextOps.EmailRe}', '<EMAIL>', 'g'),
              |      '${TextOps.UrlRe}', '<URL>', 'g'),
              |      '${TextOps.PhoneRe}', '<PHONE>', 'g') AS scrubbed
              |  FROM a)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(aug, '${TextOps.EmailRe}')) AS INTEGER) AS n_emails,
              |  CAST(len(regexp_extract_all(aug, '${TextOps.UrlRe}')) AS INTEGER) AS n_urls,
              |  CAST(len(regexp_extract_all(aug, '${TextOps.PhoneRe}')) AS INTEGER) AS n_phones,
              |  length(scrubbed) AS scrub_len, md5(scrubbed) AS scrub_fp
              |FROM s ORDER BY doc_id""".stripMargin)),

    // containment: |A∩B| / min(|A|,|B|) over (lang, source) blocks — the
    // asymmetric member of the dedup family (short doc inside a long one)
    Q("dedup_containment",
      (s, d) => DedupOps.containmentPairs(documents(s, d), threshold = 0.8),
      Some(s"""WITH t AS (SELECT doc_id, lang, source, $DuckToks AS toks FROM documents),
              |sh AS (SELECT doc_id, lang, source,
              |    list_distinct(list_transform(range(len(toks) - 2),
              |      i -> ${duckH61("array_to_string(toks[i + 1:i + 3], ' ')")})) AS hs
              |  FROM t WHERE len(toks) >= 3),
              |p AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang, a.source,
              |    round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
              |      / least(len(a.hs), len(b.hs)), 4) AS containment
              |  FROM sh a JOIN sh b
              |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
              |SELECT doc_a, doc_b, lang, source, containment
              |FROM p WHERE containment >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // C4-style exact block dedup: 10-token non-overlapping blocks, global
    // first-occurrence survivor by (doc_id, block_idx), md5 block keys
    Q("dedup_blocks",
      (s, d) => TextOps.duplicateBlocks(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
              |b AS (SELECT doc_id, toks,
              |    unnest(range(0, CAST(floor((len(toks) - 1) / 10) AS BIGINT) + 1)) AS block_idx
              |  FROM t),
              |h AS (SELECT doc_id, block_idx,
              |    md5(array_to_string(toks[block_idx * 10 + 1:block_idx * 10 + 10], ' ')) AS block_fp
              |  FROM b),
              |r AS (SELECT doc_id,
              |    row_number() OVER (PARTITION BY block_fp ORDER BY doc_id, block_idx) AS rn
              |  FROM h)
              |SELECT doc_id, count(*) AS n_blocks,
              |  count(*) FILTER (WHERE rn > 1) AS n_dup_blocks,
              |  floor(CAST(count(*) FILTER (WHERE rn > 1) AS DOUBLE) / count(*)
              |    * 10000 + 0.5) / 10000 AS dup_frac
              |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // the rewrite that follows the diagnostic: cut every non-first
    // occurrence of a repeated 10-token block, reassemble, fingerprint
    Q("dedup_blocks_rewrite",
      (s, d) => TextOps.rewriteDedupBlocks(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
              |b AS (SELECT doc_id, toks,
              |    unnest(range(0, CAST(floor((len(toks) - 1) / 10) AS BIGINT) + 1)) AS block_idx
              |  FROM t),
              |h AS (SELECT doc_id, block_idx,
              |    md5(array_to_string(toks[block_idx * 10 + 1:block_idx * 10 + 10], ' ')) AS block_fp
              |  FROM b),
              |r AS (SELECT doc_id, block_idx,
              |    row_number() OVER (PARTITION BY block_fp ORDER BY doc_id, block_idx) AS rn
              |  FROM h),
              |l AS (SELECT doc_id, list_sort(list(block_idx)) AS dup_idxs
              |  FROM r WHERE rn > 1 GROUP BY doc_id),
              |k AS (SELECT t.doc_id, t.toks,
              |    coalesce(l.dup_idxs, CAST([] AS BIGINT[])) AS dup_idxs
              |  FROM t LEFT JOIN l ON l.doc_id = t.doc_id),
              |f AS (SELECT doc_id, len(toks) AS n_tokens,
              |    list_filter(toks, (x, i) ->
              |      NOT list_contains(dup_idxs, (i - 1) // 10)) AS kept
              |  FROM k)
              |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
              |  CAST(len(kept) AS INTEGER) AS n_kept,
              |  -- array_to_string([]) is NULL in DuckDB but '' under
              |  -- Spark's concat_ws: align the all-duplicates case
              |  md5(coalesce(array_to_string(kept, ' '), '')) AS clean_fp
              |FROM f ORDER BY doc_id""".stripMargin)),

    // Unigram-LM (SentencePiece-style) tokenizer training: substring
    // candidates → 2 hard-EM rounds (integer-quantized log scores, exact
    // int64 Viterbi DP). Oracle unrolls the identical DP + backtrack
    // rounds per EM pass — same replay discipline as txt_bpe_merges.
    Q("txt_unigram_lm",
      (s, d) => TextOps.unigramLmPieces(documents(s, d)),
      Some(
        s"""$duckUnigramCtes
           |SELECT v.piece, cz.cnt AS c0,
           |  CAST(coalesce(c1.cnt, 0) AS BIGINT) AS c1,
           |  CAST(coalesce(c2.cnt, 0) AS BIGINT) AS c2
           |FROM v0 v JOIN cz USING (piece)
           |  LEFT JOIN cc1 c1 USING (piece)
           |  LEFT JOIN cc2 c2 USING (piece)
           |ORDER BY c2 DESC, v.piece LIMIT 50""".stripMargin)),

    // APPLY the trained unigram tokenizer: per-document fertility stats
    // from the round-2 segmentation (per-word piece counts come from the
    // same unrolled p2_* backtrack emits the trainer oracle verifies)
    // WordPiece greedy longest-match: jump table + row-local walk fold in
    // Spark; identical jump table + recursive-CTE walk in DuckDB
    Q("txt_wordpiece_encode",
      (s, d) => TextOps.wordpieceEncode(documents(s, d)),
      Some(
        s"""WITH RECURSIVE wt AS MATERIALIZED (
           |  SELECT word, count(*) AS freq FROM (
           |    SELECT unnest($DuckToks) AS word FROM documents)
           |  WHERE length(word) BETWEEN 1 AND 12 GROUP BY word),
           |occ AS MATERIALIZED (
           |  SELECT word, freq, i, i + l AS j, substr(word, i + 1, l) AS piece
           |  FROM wt,
           |    (SELECT unnest(range(0, 12)) AS i) ii,
           |    (SELECT unnest(range(1, 7)) AS l) ll
           |  WHERE i < length(word) AND l <= least(6, length(word) - i)),
           |mass AS MATERIALIZED (
           |  SELECT piece, (i = 0) AS init, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM occ GROUP BY 1, 2),
           |vocab AS MATERIALIZED (
           |  SELECT DISTINCT piece, init FROM (
           |    SELECT piece, init FROM (
           |      SELECT piece, init,
           |        row_number() OVER (PARTITION BY init
           |                           ORDER BY cnt DESC, piece) AS rk
           |      FROM mass) WHERE rk <= 30
           |    UNION ALL
           |    SELECT piece, init FROM mass WHERE length(piece) = 1)),
           |jumps AS MATERIALIZED (
           |  SELECT o.word, o.i, (o.i = 0) AS init, max(o.j) AS jmp
           |  FROM occ o JOIN vocab v
           |    ON v.piece = o.piece AND v.init = (o.i = 0)
           |  GROUP BY 1, 2, 3),
           |walk AS (
           |  SELECT word, freq, 0 AS pos, 0 AS n FROM wt
           |  UNION ALL
           |  SELECT w.word, w.freq, j.jmp AS pos, w.n + 1
           |  FROM walk w JOIN jumps j ON j.word = w.word AND j.i = w.pos
           |    AND j.init = (w.pos = 0)
           |  WHERE w.pos < length(w.word)),
           |wp AS (SELECT word, n AS n_pieces FROM walk
           |       WHERE pos = length(word)),
           |dt AS (SELECT doc_id, unnest($DuckToks) AS word FROM documents)
           |SELECT dt.doc_id, count(*) AS n_words,
           |  CAST(sum(wp.n_pieces) AS BIGINT) AS n_pieces,
           |  floor(CAST(sum(wp.n_pieces) AS DOUBLE) / count(*)
           |    * 10000 + 0.5) / 10000 AS pieces_per_word
           |FROM dt JOIN wp ON wp.word = dt.word
           |GROUP BY dt.doc_id
           |ORDER BY dt.doc_id""".stripMargin)),

    Q("txt_unigram_encode",
      (s, d) => TextOps.unigramLmEncode(documents(s, d)),
      Some(
        s"""$duckUnigramCtes,
           |wp AS (SELECT word, count(*) AS n_pieces
           |  FROM (${(1 to 12).map(t => s"SELECT * FROM p2_$t")
                .mkString(" UNION ALL ")})
           |  GROUP BY word),
           |dt AS (SELECT doc_id, unnest($DuckToks) AS word FROM documents)
           |SELECT dt.doc_id, count(*) AS n_words,
           |  CAST(sum(wp.n_pieces) AS BIGINT) AS n_pieces,
           |  floor(CAST(sum(wp.n_pieces) AS DOUBLE) / count(*)
           |    * 10000 + 0.5) / 10000 AS pieces_per_word
           |FROM dt JOIN wp USING (word)
           |WHERE length(dt.word) BETWEEN 1 AND 12
           |GROUP BY dt.doc_id ORDER BY dt.doc_id""".stripMargin)),

    // BPE merge learning (tokenizer training): 5 merge rounds over the
    // word-frequency table; oracle unrolls the identical rounds — pair
    // counting via list_zip, argmax by (cnt DESC, pair ASC), greedy
    // left-to-right merge via list_reduce over space-joined symbols
    Q("txt_bpe_merges",
      (s, d) => TextOps.bpeMerges(documents(s, d)),
      Some {
        val rounds = (1 to 5).map { r =>
          s"""p$r AS (
             |  SELECT z[1] AS p1, z[2] AS p2, sum(freq) AS cnt
             |  FROM (SELECT freq, unnest(list_zip(syms[:-1], syms[2:])) AS z
             |        FROM s${r - 1})
             |  WHERE z[2] IS NOT NULL
             |  GROUP BY 1, 2),
             |b$r AS (SELECT p1, p2, CAST(cnt AS BIGINT) AS cnt
             |  FROM p$r ORDER BY cnt DESC, p1, p2 LIMIT 1),
             |s$r AS (
             |  SELECT freq, CASE WHEN b.p1 IS NULL THEN syms
             |    ELSE string_split(list_reduce(syms,
             |      (acc, x) -> CASE
             |        WHEN (acc = b.p1 OR ends_with(acc, ' ' || b.p1)) AND x = b.p2
             |        THEN acc || x ELSE acc || ' ' || x END), ' ') END AS syms
             |  FROM s${r - 1} LEFT JOIN b$r b ON TRUE)""".stripMargin
        }.mkString(",\n")
        val union = (1 to 5)
          .map(r => s"SELECT $r AS round, p1, p2, p1 || p2 AS merged, cnt FROM b$r")
          .mkString("\nUNION ALL ")
        s"""WITH w AS (
           |  SELECT word, count(*) AS freq FROM (
           |    SELECT unnest($DuckToks) AS word FROM documents)
           |  WHERE length(word) > 0 GROUP BY word),
           |s0 AS (
           |  SELECT freq,
           |    [substring(word, CAST(i AS INTEGER), 1)
           |     FOR i IN range(1, length(word) + 1)] AS syms
           |  FROM w),
           |$rounds
           |$union
           |ORDER BY round""".stripMargin
      }),

    // the vocabulary the 5 learned merges produce: every surviving subword
    // symbol with its frequency-weighted count — the oracle replays the
    // full training unroll and tallies the final segmentation
    Q("txt_bpe_vocab",
      (s, d) => TextOps.bpeVocab(documents(s, d)),
      Some {
        val rounds = (1 to 5).map { r =>
          s"""p$r AS (
             |  SELECT z[1] AS p1, z[2] AS p2, sum(freq) AS cnt
             |  FROM (SELECT freq, unnest(list_zip(syms[:-1], syms[2:])) AS z
             |        FROM s${r - 1})
             |  WHERE z[2] IS NOT NULL
             |  GROUP BY 1, 2),
             |b$r AS (SELECT p1, p2 FROM p$r ORDER BY cnt DESC, p1, p2 LIMIT 1),
             |s$r AS (
             |  SELECT freq, CASE WHEN b.p1 IS NULL THEN syms
             |    ELSE string_split(list_reduce(syms,
             |      (acc, x) -> CASE
             |        WHEN (acc = b.p1 OR ends_with(acc, ' ' || b.p1)) AND x = b.p2
             |        THEN acc || x ELSE acc || ' ' || x END), ' ') END AS syms
             |  FROM s${r - 1} LEFT JOIN b$r b ON TRUE)""".stripMargin
        }.mkString(",\n")
        s"""WITH w AS (
           |  SELECT word, count(*) AS freq FROM (
           |    SELECT unnest($DuckToks) AS word FROM documents)
           |  WHERE length(word) > 0 GROUP BY word),
           |s0 AS (
           |  SELECT freq,
           |    [substring(word, CAST(i AS INTEGER), 1)
           |     FOR i IN range(1, length(word) + 1)] AS syms
           |  FROM w),
           |$rounds
           |SELECT sym, CAST(sum(freq) AS BIGINT) AS n
           |FROM (SELECT freq, unnest(syms) AS sym FROM s5)
           |GROUP BY sym ORDER BY n DESC, sym LIMIT 30""".stripMargin
      }),

    // ENCODE with the trained tokenizer (the inference half of training):
    // the oracle re-learns the 5 merges, applies them to the distinct
    // vocabulary, joins segmentations back to per-doc word positions, and
    // fingerprints the full word-ordered segmentation — one flipped merge
    // boundary anywhere in any document breaks the hash
    Q("txt_bpe_encode",
      (s, d) => TextOps.bpeEncode(documents(s, d)),
      Some {
        s"""$BpeEncodePrefix,
           |t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
           |wd AS (SELECT doc_id, i AS pos, toks[CAST(i AS INTEGER)] AS word
           |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
           |        FROM t)
           |  WHERE length(toks[CAST(i AS INTEGER)]) > 0),
           |seg AS (SELECT wd.doc_id, wd.pos,
           |    array_to_string(e.syms, '|') AS seg, len(e.syms) AS nsub
           |  FROM wd JOIN e5 e ON e.word = wd.word)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(nsub) AS BIGINT) AS n_subwords,
           |  floor(CAST(sum(nsub) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000
           |    AS fertility,
           |  md5(array_to_string(list(seg ORDER BY pos), ' ')) AS enc_fp
           |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // tokenizer fertility/compression per language (the multilingual
    // tokenizer-equity readout): shared BPE encode core, language-grain
    // rollup of exact word/subword/char counts
    Q("txt_fertility_by_lang",
      (s, d) => TextOps.fertilityByLang(documents(s, d)),
      Some {
        s"""$BpeEncodePrefix,
           |t AS (SELECT doc_id, lang, $DuckToks AS toks FROM documents),
           |wd AS (SELECT doc_id, lang, toks[CAST(i AS INTEGER)] AS word
           |  FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks) + 1)) AS i
           |        FROM t)
           |  WHERE length(toks[CAST(i AS INTEGER)]) > 0),
           |seg AS (SELECT wd.doc_id, wd.lang, wd.word, len(e.syms) AS nsub
           |  FROM wd JOIN e5 e ON e.word = wd.word)
           |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |  count(*) AS n_words,
           |  CAST(sum(nsub) AS BIGINT) AS n_subwords,
           |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
           |  floor(CAST(sum(nsub) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000
           |    AS fertility,
           |  floor(CAST(sum(length(word)) AS DOUBLE) / CAST(sum(nsub) AS DOUBLE)
           |    * 10000 + 0.5) / 10000 AS chars_per_subword
           |FROM seg GROUP BY lang ORDER BY lang""".stripMargin
      }),

    // URL → registered-domain census (the C4/RefinedWeb domain filter):
    // deterministic https/http links appended on even doc_ids (mixed-case
    // host + www. prefix make the normalization observable), domain =
    // last two labels of the lowercased bare host; one explode + one
    // domain-keyed aggregation
    Q("txt_url_census",
      (s, d) => TextOps.urlCensus(documents(s, d)),
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 2 = 0 THEN
             |      text || ' https://cdn' || (doc_id % 7) || '.example'
             |        || (doc_id % 13) || '.org/p/' || doc_id
             |        || ' http://WWW.Example' || (doc_id % 13)
             |        || '.ORG/q?id=' || doc_id
             |    ELSE text END AS t
             |  FROM documents),
             |u AS (SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[^ ]+')) AS url
             |  FROM aug),
             |d AS (SELECT doc_id, url,
             |    regexp_replace(lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
             |                   '^www\.', '') AS bare
             |  FROM u),
             |e AS (SELECT doc_id,
             |    array_to_string(string_split(bare, '.')[-2:], '.') AS domain,
             |    CASE WHEN url LIKE 'https://%' THEN 1.0 ELSE 0.0 END AS https
             |  FROM d)
             |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  floor(avg(https) * 10000 + 0.5) / 10000 AS https_share,
             |  domain IN ('example3.org', 'example5.org') AS blocked
             |FROM e GROUP BY domain ORDER BY domain""".stripMargin)),

    // URL canonicalization + frontier dedup: scheme/case/www/port/fragment/
    // tracking-param/trailing-slash normalization with SORTED surviving
    // params; three deterministic obfuscations of the same logical page
    // collapse to one canonical key, the query-less fourth keeps its own
    Q("txt_url_canonical_dedup",
      (s, d) => TextOps.canonicalUrlDedup(documents(s, d)),
      Some("""WITH urls AS (
             |  SELECT doc_id,
             |    CASE doc_id % 4
             |      WHEN 0 THEN 'https://www.Example' || (doc_id // 4 % 500) % 13
             |        || '.org:443/page/' || doc_id // 4 % 500
             |        || '?utm_source=feed&ref=' || (doc_id // 4 % 500) % 7
             |        || '&z=1#top'
             |      WHEN 1 THEN 'http://example' || (doc_id // 4 % 500) % 13
             |        || '.org/page/' || doc_id // 4 % 500
             |        || '/?ref=' || (doc_id // 4 % 500) % 7
             |        || '&z=1&utm_campaign=x'
             |      WHEN 2 THEN 'https://EXAMPLE' || (doc_id // 4 % 500) % 13
             |        || '.org/page/' || doc_id // 4 % 500
             |        || '?z=1&ref=' || (doc_id // 4 % 500) % 7
             |      ELSE 'https://example' || (doc_id // 4 % 500) % 13
             |        || '.org:443/page/' || doc_id // 4 % 500 || '/#sec'
             |    END AS url
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, url,
             |    regexp_replace(regexp_replace(
             |      lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
             |      '^www\.', ''), ':(443|80)$', '') AS host,
             |    regexp_replace(
             |      regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
             |      '/$', '') AS path,
             |    coalesce(array_to_string(list_sort(list_filter(
             |      string_split(coalesce(
             |        regexp_extract(url, '\?([^#]*)', 1), ''), '&'),
             |      x -> NOT regexp_matches(x, '^(utm_|fbclid|gclid)')
             |        AND x <> '')), '&'), '') AS q
             |  FROM urls)
             |SELECT host || path
             |    || CASE WHEN q = '' THEN '' ELSE '?' || q END
             |    AS canonical_url,
             |  count(*) AS n_urls,
             |  count(DISTINCT url) AS n_raw_forms,
             |  count(DISTINCT doc_id) AS n_docs
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // concatenate-and-cut sequence packing: integer-exact running totals,
    // docs straddle sequence boundaries like real pretraining packing
    Q("txt_pack_sequences",
      (s, d) => TextOps.packSequences(documents(s, d)),
      Some(s"""WITH t AS (
              |  SELECT doc_id, len($DuckToks) AS n_tokens FROM documents),
              |c AS (
              |  SELECT doc_id, n_tokens,
              |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              |  FROM t)
              |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
              |  (cum - n_tokens) // 512 AS first_seq,
              |  (cum - 1) // 512 AS last_seq,
              |  (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS n_seqs_spanned
              |FROM c ORDER BY doc_id""".stripMargin)),

    // deterministic training-shuffle audit: MD5-61 position = fixed
    // pseudo-random permutation; shard = pos mod 8; per-shard size/source
    // diversity/char mass/head doc + longest same-source run (interleave
    // quality)
    Q("txt_shuffle_shards",
      (s, d) => TextOps.shuffleShards(documents(s, d)),
      Some(s"""WITH s AS (
              |  SELECT doc_id, source, n_chars,
              |    ${duckH61("'shuf:' || CAST(doc_id AS VARCHAR)")} AS pos
              |  FROM documents),
              |sh AS (SELECT *, CAST(pos % 8 AS INTEGER) AS shard FROM s),
              |r AS (SELECT *, CASE WHEN lag(source) OVER
              |        (PARTITION BY shard ORDER BY pos, doc_id) = source
              |      THEN 0 ELSE 1 END AS new_run
              |      FROM sh),
              |r2 AS (SELECT *, sum(new_run) OVER
              |        (PARTITION BY shard ORDER BY pos, doc_id) AS run_id
              |      FROM r),
              |rl AS (SELECT shard, run_id, count(*) AS rl
              |       FROM r2 GROUP BY 1, 2),
              |m AS (SELECT shard, CAST(max(rl) AS BIGINT) AS max_src_run
              |      FROM rl GROUP BY 1),
              |g AS (SELECT shard, count(*) AS n_docs,
              |        count(DISTINCT source) AS n_sources,
              |        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              |        min([pos, doc_id])[2] AS head_doc
              |      FROM sh GROUP BY 1)
              |SELECT shard, n_docs, n_sources, sum_chars, head_doc,
              |  max_src_run
              |FROM g JOIN m USING (shard) ORDER BY shard""".stripMargin)),

    // deterministic stratified sample: first-N per language in md5 order —
    // reproducible on any engine, balanced across strata
    Q("txt_stratified_sample",
      (s, d) => TextOps.stratifiedSample(documents(s, d)),
      Some("""SELECT lang, CAST(rn AS INTEGER) AS rn, doc_id, n_chars FROM (
             |  SELECT lang, doc_id, n_chars,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY md5('sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 20
             |ORDER BY lang, rn""".stripMargin)),

    // stable md5-bucket train/val/test split: identical assignment on any
    // engine (first 32 md5 bits mod 100), per-split corpus stats
    // source-mixing sampler: per-source keep fractions applied via a
    // salted md5 bucket — src0 upsampled-ish at 90%, src1 kept at 50%,
    // src2 aggressively cut to 5%, everything else at the 75% default
    Q("txt_mixing_sample",
      (s, d) => TextOps.mixingSampleStats(documents(s, d),
        Map("src0" -> 9000, "src1" -> 5000, "src2" -> 500)),
      Some("""WITH b AS (
             |  SELECT source,
             |    CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
             |      AS BIGINT) % 10000 AS bucket,
             |    CASE source WHEN 'src0' THEN 9000 WHEN 'src1' THEN 5000
             |                WHEN 'src2' THEN 500 ELSE 7500 END AS thr
             |  FROM documents)
             |SELECT source, count(*) AS n_total,
             |  CAST(sum(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(any_value(thr) AS DOUBLE) / 10000.0 AS target_frac,
             |  floor(CAST(sum(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) * 10000 + 0.5) / 10000 AS realized_frac
             |FROM b GROUP BY source ORDER BY source""".stripMargin)),

    // Temperature-scaled mixture weights (p_s ∝ n_s^0.5): natural share,
    // flattened sampling probability, boost factor, expected epoch draw.
    // α = 0.5 ⇒ sqrt on both sides (IEEE-exact, no libm pow ulp).
    Q("txt_mixing_temperature",
      (s, d) => TextOps.mixingTemperatureWeights(documents(s, d), alpha = 0.5),
      Some("""WITH s AS (
             |  SELECT source, count(*) AS n_docs,
             |    CAST(sum(length(text)) AS BIGINT) AS n_chars
             |  FROM documents GROUP BY source),
             |t AS (
             |  SELECT *, sqrt(CAST(n_docs AS DOUBLE)) AS mass,
             |    CAST(sum(n_docs) OVER () AS DOUBLE) AS total_docs,
             |    sum(sqrt(CAST(n_docs AS DOUBLE))) OVER () AS total_mass
             |  FROM s)
             |SELECT source, n_docs, n_chars,
             |  floor(CAST(n_docs AS DOUBLE) / total_docs * 10000 + 0.5) / 10000 AS share,
             |  floor(mass / total_mass * 10000 + 0.5) / 10000 AS p_temp,
             |  floor((mass / total_mass) / (CAST(n_docs AS DOUBLE) / total_docs)
             |    * 10000 + 0.5) / 10000 AS boost,
             |  CAST(floor(mass / total_mass * total_docs) AS BIGINT) AS expected_docs
             |FROM t ORDER BY source""".stripMargin)),

    Q("txt_split_stats",
      (s, d) => TextOps.hashSplitStats(documents(s, d)),
      Some("""WITH b AS (
             |  SELECT doc_id, lang, n_chars,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |      % 100 AS bucket
             |  FROM documents)
             |SELECT CASE WHEN bucket < 10 THEN 'test'
             |            WHEN bucket < 20 THEN 'val'
             |            ELSE 'train' END AS split,
             |  count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  count(DISTINCT lang) AS n_langs
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // train/eval decontamination: eval doc flagged when any 5-gram shingle
    // hash appears in the (even-doc_id) train split
    Q("txt_decontamination",
      (s, d) => TextOps.decontaminationScan(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, lang, $DuckToks AS toks FROM documents),
              |sh AS (SELECT doc_id, lang,
              |    list_distinct(list_transform(range(len(toks) - 4),
              |      i -> ${duckH61("array_to_string(toks[i + 1:i + 5], ' ')")})) AS hs
              |  FROM t WHERE len(toks) >= 5),
              |train AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 2 = 0),
              |ev AS (SELECT doc_id, lang, unnest(hs) AS h FROM sh WHERE doc_id % 2 = 1),
              |hit AS (SELECT DISTINCT ev.doc_id FROM ev JOIN train USING (h))
              |SELECT s.lang, count(*) AS n_eval,
              |  count(*) FILTER (WHERE s.doc_id IN (SELECT doc_id FROM hit))
              |    AS n_contaminated,
              |  floor(CAST(count(*) FILTER (WHERE s.doc_id IN (SELECT doc_id FROM hit))
              |      AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS contaminated_frac
              |FROM sh s WHERE s.doc_id % 2 = 1
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // perplexity-proxy: per-doc mean unigram surprisal under the corpus
    // unigram model (sum order can differ between engines; 4dp quantization
    // absorbs the ulp)
    Q("txt_surprisal",
      (s, d) => TextOps.unigramSurprisal(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, unnest($DuckToks) AS token FROM documents),
              |m AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
              |n AS (SELECT count(*) AS n_total FROM t)
              |SELECT doc_id, count(*) AS n_tokens,
              |  floor(sum(-ln(CAST(cnt AS DOUBLE) / n_total)) / count(*)
              |    * 10000 + 0.5) / 10000 AS mean_surprisal
              |FROM t JOIN m USING (token) CROSS JOIN n
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // CCNet-style perplexity terciles (head/middle/tail by mean unigram
    // surprisal): thresholds are exact percentiles over the per-doc
    // aggregate (no corpus-wide sort), labels a broadcast comparison;
    // census per bucket
    Q("txt_perplexity_buckets",
      (s, d) => TextOps.perplexityBuckets(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, unnest($DuckToks) AS token FROM documents),
              |m AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
              |n AS (SELECT count(*) AS n_total FROM t),
              |pd AS (
              |  SELECT doc_id,
              |    floor(sum(-ln(CAST(cnt AS DOUBLE) / n_total)) / count(*)
              |      * 10000 + 0.5) / 10000 AS sm
              |  FROM t JOIN m USING (token) CROSS JOIN n
              |  GROUP BY doc_id),
              |thr AS (SELECT quantile_cont(sm, 0.33) AS lo,
              |               quantile_cont(sm, 0.67) AS hi FROM pd)
              |SELECT CASE WHEN sm <= lo THEN 'head'
              |            WHEN sm <= hi THEN 'middle' ELSE 'tail' END AS bucket,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  floor(avg(sm) * 10000 + 0.5) / 10000 AS mean_surprisal,
              |  floor(min(sm) * 10000 + 0.5) / 10000 AS min_surprisal,
              |  floor(max(sm) * 10000 + 0.5) / 10000 AS max_surprisal
              |FROM pd, thr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // novelty curve: per doc, fraction of distinct 5-grams unseen in any
    // earlier doc; first-seen via min(doc_id) on 61-bit hashes
    Q("txt_ngram_novelty",
      (s, d) => TextOps.ngramNovelty(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
              |sh AS (SELECT doc_id,
              |    list_distinct(list_transform(range(len(toks) - 4),
              |      i -> ${duckH61("array_to_string(toks[i + 1:i + 5], ' ')")})) AS hs
              |  FROM t WHERE len(toks) >= 5),
              |g AS (SELECT doc_id, unnest(hs) AS h FROM sh),
              |f AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY 1)
              |SELECT g.doc_id, count(*) AS n_grams,
              |  count(*) FILTER (WHERE f.first_doc = g.doc_id) AS n_novel,
              |  floor(CAST(count(*) FILTER (WHERE f.first_doc = g.doc_id) AS DOUBLE)
              |    / count(*) * 10000 + 0.5) / 10000 AS novelty
              |FROM g JOIN f ON f.h = g.h
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // bigram conditional surprisal: the sharper perplexity proxy; MLE
    // model p(b|a) = C(a,b)/C(a-) needs no smoothing on observed bigrams
    Q("txt_bigram_surprisal",
      (s, d) => TextOps.bigramSurprisal(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents
              |  WHERE len($DuckToks) >= 2),
              |z AS (SELECT doc_id,
              |    list_transform(range(1, len(toks)), i -> toks[i]) AS aa,
              |    list_transform(range(1, len(toks)), i -> toks[i + 1]) AS bb
              |  FROM t),
              |bg AS (SELECT doc_id, unnest(aa) AS a, unnest(bb) AS b FROM z),
              |pc AS (SELECT a, count(*) AS ca FROM bg GROUP BY 1),
              |bc AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
              |j AS (
              |  SELECT g.doc_id, -ln(CAST(bc.cab AS DOUBLE) / pc.ca) AS s
              |  FROM bg g JOIN bc ON bc.a = g.a AND bc.b = g.b
              |    JOIN pc ON pc.a = g.a)
              |SELECT doc_id, count(*) AS n_bigrams,
              |  floor(sum(s) / count(*) * 10000 + 0.5) / 10000 AS mean_surprisal
              |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // feature-hashing collision census: md5 % 64 dimension map (portable
    // hash doctrine), distinct-token + occupancy per slot, dominant token
    // via the min(struct) argmax
    Q("txt_feature_hashing",
      (s, d) => TextOps.featureHashing(documents(s, d)),
      Some(s"""WITH toks AS (SELECT unnest($DuckToks) AS token FROM documents),
              |pt AS (
              |  SELECT token, count(*) AS n,
              |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 64
              |      AS dim
              |  FROM toks GROUP BY 1),
              |ranked AS (
              |  SELECT dim, token, n, row_number() OVER (
              |    PARTITION BY dim ORDER BY n DESC, token ASC) AS rn
              |  FROM pt)
              |SELECT p.dim, count(*) AS n_tokens,
              |  CAST(sum(p.n) AS BIGINT) AS n_occurrences,
              |  max(CASE WHEN r.rn = 1 THEN r.token END) AS top_token,
              |  CAST(max(CASE WHEN r.rn = 1 THEN r.n END) AS BIGINT) AS top_n
              |FROM pt p JOIN ranked r ON r.dim = p.dim AND r.token = p.token
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // corpus composition diversity: exact token shares + Shannon entropy /
    // effective-source count / inverse Simpson, globals broadcast back
    Q("txt_source_diversity",
      (s, d) => TextOps.sourceDiversity(documents(s, d)),
      Some(s"""WITH bysrc AS (
              |  SELECT source, count(*) AS n_docs,
              |    CAST(sum(len($DuckToks)) AS BIGINT) AS n_tokens
              |  FROM documents GROUP BY 1),
              |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total
              |      FROM bysrc),
              |sh AS (SELECT source, n_docs, n_tokens,
              |    CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE) AS p
              |  FROM bysrc, t),
              |g AS (SELECT sum(-(p * ln(p))) AS h, sum(p * p) AS s2
              |      FROM sh)
              |SELECT source, n_docs, n_tokens,
              |  floor(p * 1000000 + 0.5) / 1000000 AS share,
              |  floor(h * 1000000 + 0.5) / 1000000 AS entropy,
              |  floor(exp(h) * 10000 + 0.5) / 10000 AS eff_sources,
              |  floor(1.0 / s2 * 10000 + 0.5) / 10000 AS inv_simpson
              |FROM sh, g ORDER BY source""".stripMargin)),

    // DSIR importance resampling: hashed-unigram LM ratio target-vs-raw,
    // deterministic Gumbel top-k; keys rounded to 6dp BEFORE the threshold
    // compare so libm ln noise can't flip a selection
    Q("txt_dsir_weights",
      (s, d) => TextOps.dsirWeights(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, lang, unnest($DuckToks) AS tok
              |          FROM documents),
              |db AS (SELECT doc_id, lang,
              |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS b,
              |    count(*) AS n
              |  FROM t GROUP BY 1, 2, 3),
              |cr AS (SELECT b, CAST(sum(n) AS BIGINT) AS cr
              |       FROM db GROUP BY 1),
              |ct AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct
              |       FROM db WHERE lang = 'en' GROUP BY 1),
              |tot AS (SELECT
              |    (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) FROM db
              |     WHERE lang = 'en') AS t_total,
              |    (SELECT CAST(sum(n) AS BIGINT) FROM db) AS r_total),
              |lr AS (SELECT cr.b,
              |    ln(CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
              |       / CAST(t_total + 64 AS DOUBLE))
              |    - ln(CAST(cr.cr + 1 AS DOUBLE)
              |         / CAST(r_total + 64 AS DOUBLE)) AS lr
              |  FROM cr LEFT JOIN ct ON ct.b = cr.b, tot),
              |sc AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_toks,
              |    sum(n * lr) AS raw
              |  FROM db JOIN lr ON lr.b = db.b GROUP BY 1),
              |gk AS (SELECT doc_id, n_toks,
              |    floor(raw * 1000000 + 0.5) / 1000000 AS logw,
              |    floor((raw + -ln(-ln(
              |      (CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
              |         1, 8)) AS BIGINT) % 1000003 AS DOUBLE) + 0.5)
              |      / 1000003.0))) * 1000000 + 0.5) / 1000000 AS g_key
              |  FROM sc),
              |th AS (SELECT min(g_key) AS thresh FROM
              |  (SELECT g_key FROM gk ORDER BY g_key DESC, doc_id LIMIT 100))
              |SELECT doc_id, n_toks, logw, g_key, (g_key >= thresh) AS sel
              |FROM gk, th ORDER BY doc_id""".stripMargin)),

    // fastText-style linear quality classifier: hashed unigram+bigram
    // features, integer fixture weights replayed by the oracle, exact-long
    // margin numerator (order-invariant), one final division; keep = num>=0
    Q("txt_quality_classifier",
      (s, d) => TextOps.qualityClassifier(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
              |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
              |g AS (SELECT doc_id,
              |    list_concat(toks,
              |      CASE WHEN len(toks) >= 2
              |        THEN list_transform(range(1, len(toks)),
              |               i -> toks[i] || ' ' || toks[i + 1])
              |        ELSE CAST([] AS VARCHAR[]) END) AS grams
              |  FROM f),
              |s AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
              |    CAST(list_sum(list_transform(grams,
              |      x -> (CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 64 + 1)
              |             * 2654435761 % 997 - 498)) AS BIGINT) AS num
              |  FROM g)
              |SELECT doc_id, n_grams,
              |  CAST(num AS DOUBLE)
              |    / (997::DOUBLE * CAST(n_grams AS DOUBLE)) AS margin,
              |  num >= 0 AS keep
              |FROM s ORDER BY doc_id""".stripMargin)),

    // Interpolated Kneser-Ney bigram cross-entropy per doc: exact-integer
    // model counts (c_ab, c_a, N1+ fwd/back/total), one mirrored
    // arithmetic expression, -ln summed per doc
    Q("txt_kn_perplexity",
      (s, d) => TextOps.knPerplexity(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents
              |  WHERE len($DuckToks) >= 2),
              |z AS (SELECT doc_id,
              |    list_transform(range(1, len(toks)), i -> toks[i]) AS aa,
              |    list_transform(range(1, len(toks)), i -> toks[i + 1]) AS bb
              |  FROM t),
              |bg AS (SELECT doc_id, unnest(aa) AS a, unnest(bb) AS b FROM z),
              |cab AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
              |ctx AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca,
              |    count(*) AS n1fwd FROM cab GROUP BY 1),
              |cont AS (SELECT b, count(*) AS n1back FROM cab GROUP BY 1),
              |tot AS (SELECT count(*) AS n1tot FROM cab),
              |scored AS (
              |  SELECT g.doc_id,
              |    -ln((greatest(CAST(c.cab AS DOUBLE) - 0.75, 0.0)
              |         + 0.75 * x.n1fwd
              |           * (CAST(n.n1back AS DOUBLE) / t2.n1tot))
              |        / x.ca) AS s
              |  FROM bg g JOIN cab c ON c.a = g.a AND c.b = g.b
              |    JOIN ctx x ON x.a = g.a JOIN cont n ON n.b = g.b
              |    CROSS JOIN tot t2)
              |SELECT doc_id, count(*) AS n_bigrams,
              |  floor(sum(s) / count(*) * 10000 + 0.5) / 10000 AS kn_ce
              |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TextRank keywords: weighted PageRank over the adjacency
    // co-occurrence word graph, 3 unrolled damped rounds, rank scaled to
    // mean 1.0 and 1e-6-quantized before the top-20 cut
    Q("txt_textrank_keywords",
      (s, d) => TextOps.textrankKeywords(documents(s, d)),
      Some(s"""WITH t AS (SELECT $DuckToks AS toks FROM documents
              |  WHERE len($DuckToks) >= 2),
              |z AS (SELECT
              |    list_transform(range(1, len(toks)), i -> toks[i]) AS aa,
              |    list_transform(range(1, len(toks)), i -> toks[i + 1]) AS bb
              |  FROM t),
              |bgr AS (SELECT unnest(aa) AS a, unnest(bb) AS b FROM z),
              |bgf AS (SELECT a, b FROM bgr WHERE a <> b),
              |und AS (SELECT a AS src, b AS dst FROM bgf
              |  UNION ALL SELECT b, a FROM bgf),
              |wedge AS MATERIALIZED (
              |  SELECT src, dst, count(*) AS w FROM und GROUP BY 1, 2),
              |wdeg AS MATERIALIZED (
              |  SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM wedge
              |  GROUP BY 1),
              |nn AS (SELECT count(*) AS n FROM wdeg),
              |r0 AS (SELECT src AS word, 1.0 / n AS pr FROM wdeg CROSS JOIN nn),
              |r1 AS MATERIALIZED (
              |  SELECT e.dst AS word,
              |    (CAST(1.0 AS DOUBLE) - 0.85) / n + 0.85 * sum(e.w * r.pr / d.wdeg) AS pr
              |  FROM wedge e JOIN r0 r ON r.word = e.src
              |    JOIN wdeg d ON d.src = e.src CROSS JOIN nn
              |  GROUP BY e.dst, n),
              |r2 AS MATERIALIZED (
              |  SELECT e.dst AS word,
              |    (CAST(1.0 AS DOUBLE) - 0.85) / n + 0.85 * sum(e.w * r.pr / d.wdeg) AS pr
              |  FROM wedge e JOIN r1 r ON r.word = e.src
              |    JOIN wdeg d ON d.src = e.src CROSS JOIN nn
              |  GROUP BY e.dst, n),
              |r3 AS (
              |  SELECT e.dst AS word,
              |    (CAST(1.0 AS DOUBLE) - 0.85) / n + 0.85 * sum(e.w * r.pr / d.wdeg) AS pr
              |  FROM wedge e JOIN r2 r ON r.word = e.src
              |    JOIN wdeg d ON d.src = e.src CROSS JOIN nn
              |  GROUP BY e.dst, n)
              |SELECT word, floor(pr * n * 1000000 + 0.5) / 1000000 AS rank_scaled
              |FROM r3 CROSS JOIN nn
              |ORDER BY rank_scaled DESC, word LIMIT 20""".stripMargin)),

    // PMI collocations: log-space pointwise mutual information of adjacent
    // token pairs, support >= 5, computed over occurrence (not distinct)
    // bigrams; quantized before the ordering and top-k cut
    Q("txt_collocations_pmi",
      (s, d) => TextOps.collocationsPmi(documents(s, d)),
      Some(s"""WITH t AS (SELECT $DuckToks AS toks FROM documents
              |  WHERE len($DuckToks) >= 2),
              |z AS (SELECT
              |    list_transform(range(1, len(toks)), i -> toks[i]) AS aa,
              |    list_transform(range(1, len(toks)), i -> toks[i + 1]) AS bb
              |  FROM t),
              |bg AS (SELECT unnest(aa) AS w1, unnest(bb) AS w2 FROM z),
              |uni AS (SELECT unnest(toks) AS w FROM t),
              |uc AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
              |nu AS (SELECT count(*) AS nu FROM uni),
              |nb AS (SELECT count(*) AS nb FROM bg),
              |bc AS (SELECT w1, w2, count(*) AS cab FROM bg
              |  GROUP BY 1, 2 HAVING count(*) >= 5)
              |SELECT b.w1, b.w2, b.cab,
              |  floor((ln(b.cab) + 2 * ln(nu.nu) - ln(nb.nb)
              |    - ln(u1.cw) - ln(u2.cw)) * 10000 + 0.5) / 10000 AS pmi
              |FROM bc b
              |JOIN uc u1 ON u1.w = b.w1
              |JOIN uc u2 ON u2.w = b.w2
              |CROSS JOIN nu CROSS JOIN nb
              |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)),

    // Zipf fit: OLS of ln(freq) ~ ln(rank) over the top-100 tokens
    Q("txt_zipf",
      (s, d) => TextOps.zipfFit(documents(s, d)),
      Some(s"""WITH f AS (SELECT unnest($DuckToks) AS token FROM documents),
              |g AS (SELECT token, count(*) AS n FROM f GROUP BY 1),
              |r AS (SELECT token, n,
              |    row_number() OVER (ORDER BY n DESC, token) AS rank FROM g)
              |SELECT count(*) AS n_terms,
              |  floor(regr_slope(ln(n), ln(rank)) * 10000 + 0.5) / 10000 AS slope,
              |  floor(regr_intercept(ln(n), ln(rank)) * 10000 + 0.5) / 10000 AS intercept
              |FROM r WHERE rank <= 100""".stripMargin)),

    // ROUGE-L over the id-bounded audit pair slice: the rolling-row LCS
    // recurrence is a nested HOF fold in Spark and a recursive CTE with an
    // inner list_reduce in DuckDB — exact-integer DP, bitwise parity
    Q("txt_rouge_l",
      (s, d) => TextOps.rougeL(documents(s, d)),
      Some(s"""WITH RECURSIVE t AS (
              |  SELECT doc_id, ($DuckToks)[1:40] AS toks
              |  FROM documents WHERE doc_id < 10),
              |p AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    a.toks AS ta, b.toks AS tb
              |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
              |rec AS (
              |  SELECT doc_a, doc_b, 0 AS i,
              |    list_transform(range(len(tb) + 1), x -> 0) AS row
              |  FROM p
              |  UNION ALL
              |  SELECT r.doc_a, r.doc_b, r.i + 1,
              |    list_reduce(
              |      list_prepend([0], list_transform(range(1, len(p.tb) + 1),
              |        j -> [j])),
              |      (cur, jl) -> list_append(cur,
              |        greatest(r.row[jl[1] + 1], cur[len(cur)],
              |          r.row[jl[1]] + CASE WHEN p.tb[jl[1]] = p.ta[r.i + 1]
              |            THEN 1 ELSE 0 END)))
              |  FROM rec r JOIN p ON p.doc_a = r.doc_a AND p.doc_b = r.doc_b
              |  WHERE r.i < len(p.ta)),
              |n AS (SELECT doc_a, doc_b, len(ta) AS n_a, len(tb) AS n_b FROM p),
              |f AS (
              |  SELECT r.doc_a, r.doc_b, r.row[len(r.row)] AS lcs
              |  FROM rec r JOIN n ON n.doc_a = r.doc_a AND n.doc_b = r.doc_b
              |  WHERE r.i = n.n_a)
              |SELECT f.doc_a, f.doc_b, CAST(n_a AS INTEGER) AS n_a,
              |  CAST(n_b AS INTEGER) AS n_b, CAST(lcs AS INTEGER) AS lcs,
              |  floor(CAST(lcs AS DOUBLE) / n_a * 10000 + 0.5) / 10000
              |    AS rouge_recall,
              |  floor(CAST(lcs AS DOUBLE) / n_b * 10000 + 0.5) / 10000
              |    AS rouge_precision,
              |  CASE WHEN lcs = 0 THEN CAST(0.0 AS DOUBLE)
              |    ELSE floor(2.0 * (CAST(lcs AS DOUBLE) / n_a)
              |        * (CAST(lcs AS DOUBLE) / n_b)
              |      / ((CAST(lcs AS DOUBLE) / n_a) + (CAST(lcs AS DOUBLE) / n_b))
              |      * 10000 + 0.5) / 10000 END AS rouge_f1
              |FROM f JOIN n USING (doc_a, doc_b)
              |ORDER BY f.doc_a, f.doc_b""".stripMargin)),

    // pairwise Jensen–Shannon divergence between source unigram
    // distributions — terms share one full-outer token join; a token
    // missing from one side flows through the same expression with q = 0
    Q("txt_js_divergence",
      (s, d) => TextOps.jsDivergence(documents(s, d)),
      Some(s"""WITH tok AS (
              |  SELECT source, unnest($DuckToks) AS token FROM documents),
              |c AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
              |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
              |pr AS (
              |  SELECT a.source AS sa, b.source AS sb
              |  FROM tot a CROSS JOIN tot b WHERE a.source < b.source),
              |l AS (SELECT pr.sa, pr.sb, c.token, c.n AS na
              |      FROM pr JOIN c ON c.source = pr.sa),
              |r AS (SELECT pr.sa, pr.sb, c.token, c.n AS nb
              |      FROM pr JOIN c ON c.source = pr.sb),
              |u AS (
              |  SELECT coalesce(l.sa, r.sa) AS sa, coalesce(l.sb, r.sb) AS sb,
              |    coalesce(l.token, r.token) AS token, l.na, r.nb
              |  FROM l FULL OUTER JOIN r
              |    ON l.sa = r.sa AND l.sb = r.sb AND l.token = r.token),
              |t AS (
              |  SELECT sa, sb, na, nb,
              |    CAST(na AS DOUBLE) / CAST(ta.tot AS DOUBLE) AS pa,
              |    CAST(nb AS DOUBLE) / CAST(tb.tot AS DOUBLE) AS pb
              |  FROM u
              |  JOIN tot ta ON ta.source = u.sa
              |  JOIN tot tb ON tb.source = u.sb)
              |SELECT sa, sb, count(*) AS n_union,
              |  count(CASE WHEN na IS NOT NULL AND nb IS NOT NULL THEN 1 END)
              |    AS n_shared,
              |  floor(sum(
              |    coalesce(0.5 * pa * ln(2.0 * pa / (pa + coalesce(pb, 0.0))), 0.0)
              |    + coalesce(0.5 * pb * ln(2.0 * pb / (coalesce(pa, 0.0) + pb)), 0.0))
              |    * 10000 + 0.5) / 10000 AS js_nats
              |FROM t GROUP BY 1, 2
              |ORDER BY sa, sb""".stripMargin)),

    // cross-corpus 5-gram repetition (boilerplate / contamination scan):
    // per-doc DISTINCT shingle sets, so count(*) after the explode is the
    // document frequency
    Q("txt_crossdoc_ngrams",
      (s, d) => TextOps.crossDocNgrams(documents(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
              |s AS (SELECT unnest(list_distinct(list_transform(range(len(toks) - 4),
              |        i -> array_to_string(toks[i + 1:i + 5], ' ')))) AS ngram
              |      FROM t WHERE len(toks) >= 5),
              |g AS (SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs FROM s GROUP BY 1)
              |SELECT ngram, n_docs FROM g WHERE n_docs >= 2
              |ORDER BY n_docs DESC, ngram LIMIT 20""".stripMargin)),

    // tf-idf top terms per language; both engines rank on the 4dp
    // floor-quantized score (ties by token) so ordering is engine-stable
    Q("txt_tfidf_top_terms",
      (s, d) => TextOps.tfidfTopTerms(documents(s, d)),
      Some(s"""WITH e AS (SELECT doc_id, lang, unnest($DuckToks) AS token FROM documents),
              |tf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS tf
              |       FROM e GROUP BY 1, 2),
              |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              |       FROM (SELECT DISTINCT doc_id, token FROM e) GROUP BY 1),
              |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
              |s AS (SELECT lang, token,
              |        floor(tf * ln(CAST(n_total AS DOUBLE) / df) * 10000 + 0.5) / 10000 AS score
              |      FROM tf JOIN df USING (token) CROSS JOIN n),
              |r AS (SELECT lang, token, score,
              |        CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, token) AS INTEGER) AS rank
              |      FROM s)
              |SELECT lang, rank, token, score FROM r WHERE rank <= 10
              |ORDER BY lang, rank""".stripMargin)),

    // Okapi BM25 first-stage retrieval for a fixed 3-term query; the oracle
    // replays the Lucene idf + length-normalized tf saturation exactly
    Q("txt_bm25",
      (s, d) => TextOps.bm25Search(documents(s, d),
        Seq("spark", "vector", "merge"), topN = 20),
      Some(s"""WITH e AS (SELECT doc_id, unnest($DuckToks) AS token FROM documents),
              |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM e GROUP BY 1),
              |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM lens),
              |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
              |       FROM e WHERE token IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
              |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
              |s AS (
              |  SELECT tf.doc_id,
              |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
              |      * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS w
              |  FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id) CROSS JOIN stats),
              |sc AS (
              |  SELECT doc_id, floor(sum(w) * 10000 + 0.5) / 10000 AS score,
              |    CAST(count(*) AS BIGINT) AS n_matched
              |  FROM s GROUP BY 1),
              |r AS (
              |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
              |    doc_id, score, n_matched
              |  FROM sc)
              |SELECT rank, doc_id, score, n_matched FROM r
              |WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // vocabulary-coverage / OOV curve: exact cumulative occurrence sums at
    // frequency ranks 5/10/20 (the fixture vocabulary is ~31 words), single-division ratios
    Q("txt_oov_rate",
      (s, d) => TextOps.oovRate(documents(s, d)),
      Some(s"""WITH f AS (
              |  SELECT word, count(*) AS f FROM (
              |    SELECT unnest($DuckToks) AS word FROM documents)
              |  GROUP BY 1),
              |r AS (
              |  SELECT word, f,
              |    row_number() OVER (ORDER BY f DESC, word) AS rk,
              |    sum(f) OVER (ORDER BY f DESC, word
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM f),
              |t AS (SELECT CAST(sum(f) AS BIGINT) AS total,
              |        count(*) AS n_distinct FROM f),
              |kk AS (SELECT unnest([5, 10, 20]) AS k)
              |SELECT kk.k, t.n_distinct,
              |  CAST(max(r.cum) AS BIGINT) AS covered, t.total,
              |  floor(CAST(max(r.cum) AS DOUBLE) / t.total * 10000 + 0.5)
              |    / 10000 AS coverage,
              |  floor(CAST(t.total - max(r.cum) AS DOUBLE) / t.total
              |    * 10000 + 0.5) / 10000 AS oov_rate
              |FROM kk JOIN r ON r.rk <= kk.k CROSS JOIN t
              |GROUP BY kk.k, t.n_distinct, t.total
              |ORDER BY kk.k""".stripMargin)),

    // T5-style span-corruption census: one md5-drawn span per full
    // 20-token block (len 2..4, mean 3 → 15% target), block-local so no
    // sequential sampler sits in the plan
    Q("txt_span_corruption",
      (s, d) => TextOps.spanCorruptionStats(documents(s, d)),
      Some(s"""WITH d AS (
              |  SELECT doc_id, len($DuckToks) AS n_tokens,
              |    len($DuckToks) // 20 AS n_blocks
              |  FROM documents),
              |sp AS (
              |  SELECT doc_id, count(*) AS n_spans,
              |    CAST(sum(span_len) AS BIGINT) AS n_masked
              |  FROM (
              |    SELECT doc_id,
              |      CAST(h % 3 + 2 AS INTEGER) AS span_len
              |    FROM (
              |      SELECT doc_id,
              |        CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR)
              |          || ':' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS h
              |      FROM (SELECT doc_id, unnest(range(n_blocks)) AS b
              |            FROM d WHERE n_blocks > 0)))
              |  GROUP BY 1)
              |SELECT d.doc_id, CAST(d.n_tokens AS INTEGER) AS n_tokens,
              |  CAST(d.n_blocks AS INTEGER) AS n_blocks,
              |  coalesce(sp.n_spans, 0) AS n_spans,
              |  coalesce(sp.n_masked, 0) AS n_masked,
              |  floor(CAST(coalesce(sp.n_masked, 0) AS DOUBLE) / d.n_tokens
              |    * 10000 + 0.5) / 10000 AS corrupt_rate
              |FROM d LEFT JOIN sp ON sp.doc_id = d.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    Q("txt_gopher_rules",
      (s, d) => TextOps.gopherRules(documents(s, d)),
      Some(s"""WITH t AS (
              |  SELECT $DuckToks AS toks, text FROM documents),
              |d AS (
              |  SELECT
              |    len(toks) AS n_tok,
              |    list_sum(list_transform(toks, x -> len(x))) AS sum_len,
              |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
              |    len(list_filter(['the','be','to','of','and','that','have','with'],
              |        s -> list_contains(toks, s))) AS n_stop,
              |    len(regexp_extract_all(text, '#'))
              |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
              |  FROM t),
              |f AS (
              |  SELECT n_tok BETWEEN 50 AND 100000 AS r1,
              |    sum_len >= 3 * n_tok AND sum_len <= 10 * n_tok AS r2,
              |    5 * n_alpha >= 4 * n_tok AS r3,
              |    n_stop >= 2 AS r4,
              |    10 * n_sym <= n_tok AS r5
              |  FROM d),
              |a AS (
              |  SELECT count(*) AS n_docs,
              |    count(*) FILTER (WHERE r1) AS p1,
              |    count(*) FILTER (WHERE r2) AS p2,
              |    count(*) FILTER (WHERE r3) AS p3,
              |    count(*) FILTER (WHERE r4) AS p4,
              |    count(*) FILTER (WHERE r5) AS p5,
              |    count(*) FILTER (WHERE r1 AND r2 AND r3 AND r4 AND r5) AS pk
              |  FROM f)
              |SELECT
              |  unnest(['r1_word_count','r2_mean_word_len','r3_alpha_words',
              |          'r4_stopwords','r5_symbol_ratio','r6_all_rules']) AS rule,
              |  unnest([p1, p2, p3, p4, p5, pk]) AS n_pass,
              |  n_docs,
              |  floor(CAST(unnest([p1, p2, p3, p4, p5, pk]) AS DOUBLE) / n_docs
              |    * 10000 + 0.5) / 10000 AS pass_rate
              |FROM a
              |ORDER BY rule""".stripMargin)),

    Q("txt_quality_score",
      (s, d) => TextOps.qualityScore(documents(s, d)),
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang, n_chars, $DuckToks AS toks,
              |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
              |  FROM documents),
              |s AS (
              |  SELECT doc_id, lang, len(toks) AS n_tokens,
              |    least(n_chars / 500.0, 1.0) AS len_score,
              |    CASE WHEN len(toks) > 0 THEN
              |      CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(toks)
              |      ELSE 0.0 END AS stop_ratio,
              |    CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio
              |  FROM t)
              |SELECT doc_id, lang, n_tokens,
              |  floor(len_score * 10000 + 0.5) / 10000 AS len_score,
              |  floor(stop_ratio * 10000 + 0.5) / 10000 AS stop_ratio,
              |  floor(punct_ratio * 10000 + 0.5) / 10000 AS punct_ratio,
              |  floor((0.4 * len_score + 0.3 * (1.0 - punct_ratio)
              |         + 0.3 * least(stop_ratio * 5.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
              |FROM s ORDER BY doc_id""".stripMargin)),

    Q("txt_langid_confusion",
      (s, d) => TextOps.langIdConfusion(documents(s, d)),
      Some {
        val scores = TextOps.LangMarkers.map { case (lang, markers) =>
          val list = markers.map(m => s"'$m'").mkString("[", ",", "]")
          s"len(list_filter(toks, x -> list_contains($list, x))) AS score_$lang"
        }.mkString(",\n    ")
        val langs = TextOps.LangMarkers.map(_._1)
        val cases = langs.map { lang =>
          val others = langs.filter(_ != lang)
            .map(o => s"score_$lang >= score_$o").mkString(" AND ")
          s"WHEN score_$lang > 0 AND $others THEN '$lang'"
        }.mkString("\n    ")
        s"""WITH t AS (SELECT lang, $DuckToks AS toks FROM documents),
           |s AS (SELECT lang,
           |    $scores
           |  FROM t)
           |SELECT lang, CASE $cases ELSE 'und' END AS guessed, count(*) AS n
           |FROM s GROUP BY lang, guessed ORDER BY lang, guessed""".stripMargin
      }),

    Q("txt_string_funcs",
      // scalar string-function breadth: substring/upper/translate/levenshtein/
      // lpad/reverse — all codegen'd built-ins, oracle-identical semantics
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          upper(substring(col("text"), 1, 12)).as("head12"),
          translate(substring(col("text"), 1, 20), "aeiou", "AEIOU").as("tr20"),
          levenshtein(substring(col("text"), 1, 10), lit("the fast k")).as("lev"),
          lpad(col("lang"), 5, "_").as("lang5"),
          reverse(col("source")).as("rsrc"))
        .orderBy(col("doc_id")).limit(200),
      Some("""SELECT doc_id,
             |  upper(substring(text, 1, 12)) AS head12,
             |  translate(substring(text, 1, 20), 'aeiou', 'AEIOU') AS tr20,
             |  CAST(levenshtein(substring(text, 1, 10), 'the fast k') AS INTEGER) AS lev,
             |  lpad(lang, 5, '_') AS lang5,
             |  reverse(source) AS rsrc
             |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin)),

    Q("txt_fingerprint",
      (s, d) => documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")).limit(100),
      Some("""SELECT doc_id,
             |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
             |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin)),

    Q("dedup_exact",
      (s, d) => DedupOps.exactDupStats(documents(s, d)),
      Some("""WITH fp AS (
             |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
             |    count(*) AS n
             |  FROM documents GROUP BY 1)
             |SELECT count(*) AS n_distinct_texts,
             |  count(*) FILTER (WHERE n > 1) AS n_dup_groups,
             |  CAST(coalesce(sum(n - 1) FILTER (WHERE n > 1), 0) AS BIGINT) AS n_dup_rows
             |FROM fp""".stripMargin)),

    // NON-VACUITY census for the exact-dup family (r15 verdict item 2):
    // the driver's corpus carries no duplicate guarantee (the 2026-08-16
    // regeneration has ZERO exact-dup texts at sf0.001/0.01), so this
    // query INJECTS duplicates by a SQL-expressible transformation both
    // engines replay — every doc_id % 50 == 0 text re-appears under a
    // shifted id — and the engine side hard-fails (assert_true) if the
    // injected dup-group arm ever goes vacuous. dedup_exact stays
    // registered on the raw corpus (whatever structure the driver ships);
    // this twin pins the interesting arm regardless of data degeneracy.
    Q("dedup_exact_injected",
      (s, d) => {
        val docs = documents(s, d)
        val injected = docs.filter(col("doc_id") % 50 === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
        val stats = DedupOps.exactDupStats(docs.unionByName(injected))
        stats.select(col("n_distinct_texts"), col("n_dup_groups"),
          (col("n_dup_rows") + coalesce(
            assert_true(col("n_dup_groups") >= 10,
              lit("dedup_exact_injected: injection produced < 10 dup groups" +
                " — non-vacuity guard")).cast("long"),
            lit(0L))).as("n_dup_rows"))
      },
      Some("""WITH all_docs AS (
             |  SELECT text FROM documents
             |  UNION ALL
             |  SELECT text FROM documents WHERE doc_id % 50 = 0),
             |fp AS (
             |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
             |    count(*) AS n
             |  FROM all_docs GROUP BY 1)
             |SELECT count(*) AS n_distinct_texts,
             |  count(*) FILTER (WHERE n > 1) AS n_dup_groups,
             |  CAST(coalesce(sum(n - 1) FILTER (WHERE n > 1), 0) AS BIGINT) AS n_dup_rows
             |FROM fp""".stripMargin)),

    Q("dedup_ngram_jaccard",
      (s, d) => DedupOps.ngramJaccardPairs(documents(s, d)),
      Some(s"""WITH base AS (
              |  SELECT doc_id, lang, CAST(n_chars // 16 AS BIGINT) AS bucket,
              |    list_distinct(list_transform(range(len($DuckToks) - 2),
              |      i -> array_to_string($DuckToks[i + 1:i + 3], ' '))) AS sh
              |  FROM documents
              |  WHERE len($DuckToks) >= 3),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
              |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
              |  FROM base a JOIN base b
              |    ON a.lang = b.lang
              |    AND b.bucket BETWEEN a.bucket - 1 AND a.bucket + 1
              |    AND a.doc_id < b.doc_id)
              |SELECT doc_a, doc_b, lang, round(j, 4) AS jaccard
              |FROM pairs WHERE round(j, 4) >= 0.5
              |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("dedup_minhash_lsh",
      (s, d) => DedupOps.minhashLshPairs(documents(s, d)),
      Some(s"""$duckLshCtes
              |SELECT doc_a, doc_b,
              |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
              |FROM j
              |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // incremental (delta) dedup: the daily-ingest shape — batch docs
    // (doc_id % 10 = 0) probe the corpus band index; oracle proves the
    // delta identity by running the FULL LSH recompute over the union and
    // filtering to batch-touching pairs
    Q("dedup_incremental",
      (s, d) => {
        val docs = documents(s, d)
        DedupOps.incrementalMinhashPairs(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0))
      },
      Some(s"""$duckLshCtes
              |SELECT doc_a, doc_b,
              |  CASE WHEN doc_a % 10 = 0 AND doc_b % 10 = 0 THEN 'new_new'
              |       ELSE 'new_corpus' END AS pair_kind,
              |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
              |FROM j
              |WHERE (doc_a % 10 = 0 OR doc_b % 10 = 0)
              |  AND round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // LSH band-config sweep: one k=24 signature, four bandings, recall
    // measured against the r=1 loose-config verified reference
    Q("dedup_lsh_tuning",
      (s, d) => DedupOps.lshTuningSweep(documents(s, d)),
      Some {
        val sigExprs = graft.functions.Md5Hash61.AB.take(24).map { case (a, b) =>
          s"list_min(list_transform(hs, h -> CAST((CAST($a AS HUGEINT) * h + $b) % $DuckM AS BIGINT)))"
        }.mkString("list_value(\n      ", ",\n      ", ")")
        val bandA = graft.functions.Md5Hash61.BandA
        def bandExprs(bands: Int): String = {
          val rpb = 24 / bands
          (0 until bands).map { band =>
            (1 to rpb).map(j => s"sig[${band * rpb + j}]")
              .foldLeft("CAST(0 AS BIGINT)") { (acc, v) =>
                s"CAST((CAST($bandA AS HUGEINT) * ($acc) + $v) % $DuckM AS BIGINT)"
              }
          }.mkString("list_value(\n      ", ",\n      ", ")")
        }
        def candCte(bands: Int): String =
          s"""b$bands AS (
             |  SELECT doc_id, band, bhs[band + 1] AS key FROM (
             |    SELECT doc_id, ${bandExprs(bands)} AS bhs FROM sigs)
             |  CROSS JOIN (SELECT unnest(range(0, $bands)) AS band)),
             |c$bands AS MATERIALIZED (
             |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
             |  FROM b$bands l JOIN b$bands r
             |    ON l.band = r.band AND l.key = r.key
             |      AND l.doc_id < r.doc_id)""".stripMargin
        def row(bands: Int): String =
          s"""SELECT $bands AS bands, ${24 / bands} AS rows_per_band,
             |  (SELECT count(*) FROM c$bands) AS n_candidates,
             |  (SELECT count(*) FROM truth) AS n_true,
             |  (SELECT count(*) FROM c$bands c
             |     JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
             |    AS n_captured,
             |  floor(CAST((SELECT count(*) FROM c$bands c JOIN truth t
             |      ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS DOUBLE)
             |    / CAST((SELECT count(*) FROM truth) AS DOUBLE)
             |    * 1000000 + 0.5) / 1000000 AS recall""".stripMargin
        s"""$duckShingleCtes,
           |sigs AS MATERIALIZED (SELECT doc_id, hs, $sigExprs AS sig FROM sh),
           |${Seq(24, 12, 8, 6).map(candCte).mkString(",\n")},
           |truth AS MATERIALIZED (
           |  SELECT doc_a, doc_b FROM (
           |    SELECT c.doc_a, c.doc_b,
           |      len(list_intersect(sa.hs, sb.hs)) AS inter,
           |      len(sa.hs) AS na, len(sb.hs) AS nb
           |    FROM c12 c JOIN sigs sa ON sa.doc_id = c.doc_a
           |      JOIN sigs sb ON sb.doc_id = c.doc_b)
           |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5)
           |${Seq(24, 12, 8, 6).map(row).mkString(" UNION ALL\n")}
           |ORDER BY bands""".stripMargin
      }),

    // degree distribution of the near-dup graph: the boilerplate/mega-
    // cluster early-warning diagnostic, over the same verified pair set
    Q("dedup_degree_hist",
      (s, d) => DedupOps.nearDupDegreeHist(documents(s, d)),
      Some(s"""$duckLshCtes,
              |edges AS (
              |  SELECT doc_a, doc_b FROM j
              |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5),
              |deg AS (
              |  SELECT node, count(*) AS degree FROM (
              |    SELECT doc_a AS node FROM edges
              |    UNION ALL SELECT doc_b FROM edges)
              |  GROUP BY 1)
              |SELECT degree, count(*) AS n_nodes
              |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // near-dup CLUSTERS: connected components of the LSH pair graph by
    // min-label propagation; DuckDB replays it with a recursive CTE
    // (min reachable id == component min, survivor = component min itself)
    Q("dedup_clusters",
      (s, d) => DedupOps.nearDupClusters(documents(s, d)),
      Some("WITH RECURSIVE " + duckLshCtes.stripPrefix("WITH ") +
        s""",
           |pairs AS (
           |  SELECT doc_a, doc_b FROM j
           |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5),
           |nodes AS (SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |r(node, label) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.node)
           |SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id,
           |  (node = min(label)) AS is_survivor
           |FROM r GROUP BY node ORDER BY doc_id""".stripMargin)),

    // cluster resolution: keep the LONGEST member per component (ties to
    // lowest id), price the dropped members/characters — the decision a
    // dedup pipeline ships, over the same recursive-CTE components
    Q("dedup_keep_best",
      (s, d) => DedupOps.keepBestResolution(documents(s, d)),
      Some("WITH RECURSIVE " + duckLshCtes.stripPrefix("WITH ") +
        s""",
           |pairs AS (
           |  SELECT doc_a, doc_b FROM j
           |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.5),
           |nodes AS (SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs),
           |edgs AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |         UNION ALL SELECT doc_b, doc_a FROM pairs),
           |r(node, label) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT e.dst, r.label FROM r JOIN edgs e ON e.src = r.node),
           |comp AS (SELECT node AS doc_id, CAST(min(label) AS BIGINT)
           |    AS cluster_id FROM r GROUP BY node),
           |sized AS (
           |  SELECT c.cluster_id, c.doc_id, d.n_chars
           |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
           |ranked AS (
           |  SELECT cluster_id, doc_id, n_chars, row_number() OVER (
           |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
           |  FROM sized)
           |SELECT s.cluster_id, count(*) AS n_members,
           |  max(CASE WHEN k.rn = 1 THEN k.doc_id END) AS keep_doc,
           |  CAST(max(CASE WHEN k.rn = 1 THEN k.n_chars END) AS BIGINT)
           |    AS keep_chars,
           |  CAST(sum(s.n_chars)
           |    - max(CASE WHEN k.rn = 1 THEN k.n_chars END) AS BIGINT)
           |    AS chars_freed
           |FROM sized s JOIN ranked k
           |  ON k.cluster_id = s.cluster_id AND k.doc_id = s.doc_id
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("dedup_winnowing",
      (s, d) => DedupOps.winnowingFingerprints(documents(s, d)),
      // ordered (non-distinct) shingle-hash sequence, window-4 minima
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
              |sq AS (SELECT doc_id,
              |    list_transform(range(len(toks) - 2),
              |      i -> ${duckH61("array_to_string(toks[i + 1:i + 3], ' ')")}) AS hs
              |  FROM t WHERE len(toks) >= 3),
              |w AS (SELECT doc_id, hs,
              |    list_distinct(list_transform(range(len(hs) - 3),
              |      i -> list_min(list_slice(hs, i + 1, i + 4)))) AS fp
              |  FROM sq WHERE len(hs) >= 4)
              |SELECT doc_id, CAST(len(hs) AS INTEGER) AS n_shingles,
              |  CAST(len(fp) AS INTEGER) AS n_fingerprints,
              |  list_min(fp) AS min_fp
              |FROM w ORDER BY doc_id""".stripMargin)),

    Q("txt_bpe_tokens",
      (s, d) => TextOps.bpeTokenStats(documents(s, d)),
      Some(s"""WITH t AS (
              |  SELECT lang,
              |    len($DuckToks) AS n_ws,
              |    len(regexp_extract_all(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
              |        ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +')) AS n_bpe
              |  FROM documents)
              |SELECT lang, CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
              |  CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
              |  round(avg(n_bpe), 4) AS avg_bpe_tokens
              |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("txt_scrub_digits",
      (s, d) => TextOps.scrubDigits(documents(s, d)),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_digit_runs,
             |  md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS scrubbed_fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("txt_repetition",
      (s, d) => TextOps.repetitionStats(documents(s, d)),
      // Gopher-style repetition signals; the oracle counts the top bigram
      // by brute force over the per-doc bigram list
      Some(s"""$duckRepetitionCtes
              |SELECT doc_id, n_tokens, distinct_ratio, top_bigram_frac,
              |  (top_bigram_frac > 0.18 OR distinct_ratio < 0.5) AS is_repetitive
              |FROM m ORDER BY doc_id""".stripMargin)),

    // composed keep/drop verdict with the FIRST failing rule as the reason —
    // same signal CTEs, one CASE on top
    Q("txt_filter_decisions",
      (s, d) => TextOps.filterDecisions(documents(s, d)),
      Some(s"""$duckRepetitionCtes,
              |r AS (SELECT doc_id, n_tokens,
              |    CASE WHEN n_tokens < 10 THEN 'too_short'
              |         WHEN n_tokens > 100000 THEN 'too_long'
              |         WHEN distinct_ratio < 0.3 THEN 'low_diversity'
              |         WHEN top_bigram_frac > 0.3 THEN 'repetitive'
              |         ELSE 'ok' END AS reason
              |  FROM m)
              |SELECT doc_id, n_tokens, (reason = 'ok') AS keep, reason
              |FROM r ORDER BY doc_id""".stripMargin)),

    // COMPOSED end-to-end training-data pipeline: filter → exact dedup →
    // decontaminate (5-gram vs the doc_id%97 eval slice) → mix → pack.
    // The oracle chains the five per-stage oracle idioms verbatim, so a
    // stage-interface drift anywhere in the chain breaks the hash here
    // even while every per-stage query stays green.
    Q("txt_pipeline_e2e",
      (s, d) => TextOps.pipelineE2E(documents(s, d)),
      Some(s"""$duckRepetitionCtes,
              |keep1 AS (SELECT doc_id FROM m
              |  WHERE n_tokens >= 10 AND n_tokens <= 100000
              |    AND distinct_ratio >= 0.3 AND top_bigram_frac <= 0.3),
              |d1 AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
              |surv AS (SELECT min(doc_id) AS doc_id FROM (
              |    SELECT doc_id,
              |      md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
              |    FROM d1)
              |  GROUP BY fp),
              |d2 AS (SELECT d1.* FROM d1 JOIN surv USING (doc_id)),
              |tk AS (SELECT doc_id, $DuckToks AS toks FROM d2),
              |shp AS (SELECT doc_id,
              |    list_distinct(list_transform(range(len(toks) - 4),
              |      i -> ${duckH61("array_to_string(toks[i + 1:i + 5], ' ')")})) AS hs
              |  FROM tk WHERE len(toks) >= 5),
              |evh AS (SELECT DISTINCT unnest(hs) AS h FROM shp WHERE doc_id % 97 = 0),
              |cont AS (SELECT DISTINCT e.doc_id FROM (
              |    SELECT doc_id, unnest(hs) AS h FROM shp WHERE doc_id % 97 <> 0) e
              |  JOIN evh USING (h)),
              |d3 AS (SELECT * FROM d2
              |  WHERE doc_id % 97 <> 0
              |    AND doc_id NOT IN (SELECT doc_id FROM cont)),
              |d4 AS (SELECT * FROM d3
              |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
              |      AS BIGINT) % 10000
              |    < CASE source WHEN 'src0' THEN 9000 WHEN 'src1' THEN 5000
              |                  WHEN 'src2' THEN 500 ELSE 7500 END),
              |tp AS (SELECT doc_id, len($DuckToks) AS n_tokens FROM d4),
              |cp AS (SELECT doc_id, n_tokens,
              |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              |  FROM tp)
              |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
              |  (cum - n_tokens) // 512 AS first_seq,
              |  (cum - 1) // 512 AS last_seq,
              |  (cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS n_seqs_spanned
              |FROM cp ORDER BY doc_id""".stripMargin)),

    Q("dedup_simhash",
      (s, d) => DedupOps.simhashPairs(documents(s, d)),
      // 61-bit Charikar simhash over per-token hashes: bit b of the signature
      // is set iff strictly more tokens have bit b set than clear; pairs
      // agreeing on any 16-bit band are candidates, reported at hamming <= 3
      // (4 bands guarantee recall only up to radius 3 — pigeonhole)
      Some(s"""WITH t AS (SELECT doc_id, $DuckToks AS toks FROM documents),
              |th AS (SELECT doc_id,
              |    list_transform(toks, tok -> ${duckH61("tok")}) AS hs
              |  FROM t),
              |sg AS (SELECT doc_id,
              |    CAST(list_sum(list_transform(range(0, 61),
              |      b -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
              |                THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
              |  FROM th),
              |bd AS (SELECT doc_id, sig, band, (sig >> CAST(band * 16 AS INTEGER)) & 65535 AS bits
              |  FROM sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
              |cand AS (
              |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
              |    l.sig AS sig_a, r.sig AS sig_b
              |  FROM bd l JOIN bd r
              |    ON l.band = r.band AND l.bits = r.bits AND l.doc_id < r.doc_id)
              |SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
              |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // character-level near-dup: Ed-Join lossless prefix filtering (tagged
    // q-gram multiset bound + rarest-gram prefix equi-join) verified by
    // exact levenshtein over the fixed-width 64-char prefix key. The oracle
    // uses its OWN independent lossless filter — the Pass-Join pigeonhole
    // bound (lev ≤ 4 ⇒ one of 5 key segments survives un-edited and appears
    // EXACTLY in the partner within ±4 positions) — then verifies with
    // exact levenshtein, so both sides define the same full answer while
    // neither inherits the other's candidate generation. (The naive
    // all-pairs oracle is O(docs²) levenshtein calls: 57 s at sf0.1,
    // >80 CPU-min unfinished at sf1; the segment-filtered form is
    // result-identical — A/B'd at sf0.01/sf0.1/sf1 — and runs sf1 in 17 s.)
    Q("dedup_edit_distance",
      (s, d) => DedupOps.editDistancePairs(documents(s, d)),
      Some("""WITH t AS MATERIALIZED (SELECT doc_id, lang,
             |    rpad(substring(text, 1, 64), 64, ' ') AS key FROM documents),
             |segdef AS (SELECT * FROM (VALUES (1, 1, 13), (2, 14, 13),
             |    (3, 27, 13), (4, 40, 13), (5, 53, 12)) AS s(i, st, ln)),
             |seg AS MATERIALIZED (SELECT t.doc_id, t.lang, t.key, s.i,
             |    substring(t.key, s.st, s.ln) AS sg FROM t, segdef s),
             |probe AS MATERIALIZED (SELECT t.doc_id, t.lang, s.i,
             |    substring(t.key, s.st + o.off, s.ln) AS sg
             |  FROM t, segdef s, (SELECT unnest(range(-4, 5)) AS off) o
             |  WHERE s.st + o.off >= 1 AND s.st + o.off + s.ln - 1 <= 64),
             |cand AS MATERIALIZED (SELECT DISTINCT
             |    least(a.doc_id, b.doc_id) AS doc_a,
             |    greatest(a.doc_id, b.doc_id) AS doc_b, a.lang
             |  FROM seg a JOIN probe b
             |    ON a.lang = b.lang AND a.i = b.i AND a.sg = b.sg
             |    AND a.doc_id <> b.doc_id)
             |SELECT c.doc_a, c.doc_b, c.lang,
             |  CAST(levenshtein(ta.key, tb.key) AS INTEGER) AS lev
             |FROM cand c JOIN t ta ON ta.doc_id = c.doc_a
             |  JOIN t tb ON tb.doc_id = c.doc_b
             |WHERE levenshtein(ta.key, tb.key) <= 4
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Exact duplicated-substring spans (char-level ExactSubstr dedup):
    // stride-1 40-char window hashes, ≥2 corpus-wide occurrences = covered,
    // overlapping/touching covered windows merge into maximal removal
    // spans. The engine hashes each window in one native ROLLING pass
    // (Rabin-Karp mod 2^61-1); the oracle replays every window
    // independently as a HUGEINT dot product against the same power
    // ladder, then runs the identical gaps-and-islands walk (ASCII corpus:
    // char offsets == byte offsets).
    Q("dedup_substring_spans",
      (s, d) => DedupOps.duplicatedSubstringSpans(documents(s, d), L = 40),
      Some(s"""WITH pw AS (SELECT ${duckRollingPowers(40)} AS p),
              |w AS MATERIALIZED (
              |  SELECT doc_id,
              |    CAST(unnest(range(length(text) - 39)) AS INTEGER) AS pos,
              |    unnest(list_transform(range(length(text) - 39),
              |      i -> CAST(list_sum(list_transform(range(40),
              |             j -> CAST(p[CAST(j + 1 AS INTEGER)] AS HUGEINT) *
              |                  ord(substring(text, CAST(i + j + 1 AS INTEGER), 1))))
              |           % 2305843009213693951 AS BIGINT))) AS h
              |  FROM documents, pw WHERE length(text) >= 40),
              |q AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
              |c AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM q)),
              |g AS (
              |  SELECT doc_id, pos,
              |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 40
              |         THEN 0 ELSE 1 END AS brk
              |  FROM c),
              |i AS (
              |  SELECT doc_id, pos, sum(brk) OVER (
              |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
              |  FROM g)
              |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
              |  CAST(max(pos) - min(pos) + 40 AS INTEGER) AS span_len,
              |  count(*) AS n_windows
              |FROM i GROUP BY doc_id, grp
              |ORDER BY doc_id, span_start""".stripMargin)),

    // content-defined chunking (pure Rabin rule, no size clamps — every
    // cut an independent per-position predicate): chunk-level cross-doc
    // dedup census; oracle replays each window as the HUGEINT power-ladder
    // dot product and re-cuts the chunks independently
    Q("dedup_cdc_chunks",
      (s, d) => DedupOps.cdcChunkCensus(documents(s, d)),
      Some(s"""WITH pw AS (SELECT ${duckRollingPowers(16)} AS p),
              |w AS MATERIALIZED (
              |  SELECT doc_id, text,
              |    list_filter(list_transform(
              |      range(greatest(length(text) - 15, 0)),
              |      i -> CASE WHEN CAST(list_sum(list_transform(range(16),
              |             j -> CAST(p[CAST(j + 1 AS INTEGER)] AS HUGEINT) *
              |                  ord(substring(text,
              |                    CAST(i + j + 1 AS INTEGER), 1))))
              |           % 2305843009213693951 AS BIGINT) % 64 = 0
              |        THEN CAST(i AS INTEGER) ELSE -1 END),
              |      x -> x > 0) AS cuts
              |  FROM documents, pw),
              |b AS (SELECT doc_id, text, list_concat([0], cuts) AS bs
              |      FROM w),
              |ch AS (
              |  SELECT doc_id,
              |    unnest(list_transform(range(len(bs)), k ->
              |      substring(text, bs[CAST(k + 1 AS INTEGER)] + 1,
              |        (CASE WHEN k + 1 = len(bs) THEN length(text)
              |         ELSE bs[CAST(k + 2 AS INTEGER)] END)
              |        - bs[CAST(k + 1 AS INTEGER)]))) AS chunk
              |  FROM b)
              |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  count(*) AS n_chunks,
              |  CAST(count(DISTINCT ${duckH61("chunk")}) AS BIGINT)
              |    AS n_distinct_chunks,
              |  CAST(sum(length(chunk)) AS BIGINT) AS total_bytes,
              |  CAST(max(length(chunk)) AS INTEGER) AS max_chunk_len,
              |  floor((1.0 - CAST(count(DISTINCT ${duckH61("chunk")})
              |    AS DOUBLE)
              |    / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000
              |    AS dedup_ratio,
              |  floor(CAST(sum(length(chunk)) AS DOUBLE)
              |    / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000
              |    AS avg_chunk_len
              |FROM ch""".stripMargin)),

    // Bloom-filter dedup gate (Bloom, CACM 1970): the corpus's 61-bit
    // content keys set k=3 MD5-derived bits of an m=2^20 filter held as
    // distinct bit POSITIONS; the doc_id%10=0 batch passes where all k
    // bits are set. Census: candidates vs exact truth, realized + IEEE-
    // exact theoretical (bits_set/m)^k FP rates. No false negatives by
    // construction — the oracle replays the identical bit arithmetic, so
    // a nonzero n_false_neg would hash-mismatch both sides independently
    Q("dedup_bloom_gate",
      (s, d) => {
        val docs = documents(s, d)
        DedupOps.bloomDedupGate(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0))
      },
      Some(s"""WITH corpus AS (
              |  SELECT * FROM documents WHERE doc_id % 10 <> 0),
              |batch AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
              |ks AS (SELECT unnest([0, 1, 2]) AS i),
              |cbits AS (SELECT DISTINCT
              |    ${duckH61("concat(i, ':', text)")} % 1048576 AS bit
              |  FROM corpus, ks),
              |bp AS (SELECT doc_id,
              |    ${duckH61("concat(i, ':', text)")} % 1048576 AS bit
              |  FROM batch, ks),
              |gate AS (
              |  SELECT doc_id,
              |    count(*) = sum(CASE WHEN bit IN (SELECT bit FROM cbits)
              |      THEN 1 ELSE 0 END) AS pass
              |  FROM bp GROUP BY 1),
              |ck AS (SELECT DISTINCT ${duckH61("text")} AS h FROM corpus),
              |truth AS (
              |  SELECT doc_id,
              |    CASE WHEN ${duckH61("text")} IN (SELECT h FROM ck)
              |      THEN 1 ELSE 0 END AS dup
              |  FROM batch),
              |j AS (SELECT g.doc_id, g.pass, t.dup
              |  FROM gate g JOIN truth t USING (doc_id)),
              |s AS (SELECT count(*) AS n_batch,
              |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_candidates,
              |    CAST(sum(dup) AS BIGINT) AS n_true_dups,
              |    CAST(sum(CASE WHEN pass AND dup = 0 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_false_pos,
              |    CAST(sum(CASE WHEN NOT pass AND dup = 1 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_false_neg
              |  FROM j),
              |nc AS (SELECT count(*) AS n_corpus FROM corpus),
              |nb AS (SELECT count(*) AS bits_set FROM cbits)
              |SELECT nc.n_corpus, s.n_batch,
              |  1048576 AS m_bits, 3 AS k_hashes,
              |  nb.bits_set, s.n_candidates, s.n_true_dups,
              |  s.n_false_pos, s.n_false_neg,
              |  floor(CAST(s.n_false_pos AS DOUBLE)
              |    / CAST(greatest(s.n_batch - s.n_true_dups, 1) AS DOUBLE)
              |    * 1000000 + 0.5) / 1000000 AS fp_rate_realized,
              |  floor((CAST(nb.bits_set AS DOUBLE) / 1048576.0)
              |    * (CAST(nb.bits_set AS DOUBLE) / 1048576.0)
              |    * (CAST(nb.bits_set AS DOUBLE) / 1048576.0)
              |    * 1000000 + 0.5) / 1000000 AS fp_rate_theoretical
              |FROM s, nc, nb""".stripMargin)),

    // NON-VACUITY twin of the bloom gate (r15 verdict item 2): on the
    // regenerated corpus the %10 batch shares no text with the corpus, so
    // dedup_bloom_gate's n_true_dups/n_candidates arms are all zero at the
    // correctness SF. Here the batch IS 10+ corpus texts under shifted ids
    // (both engines replay the shift), so every true-dup must pass the
    // gate and be confirmed by the exact-key check — n_true_dups ≥ 10 by
    // construction, asserted in-engine. m drops to 4096 so the bit load is
    // realistic rather than ~0 for a 500-doc corpus.
    Q("dedup_bloom_gate_injected",
      (s, d) => {
        val docs = documents(s, d)
        val batch = docs.filter(col("doc_id") % 50 === 0)
          .withColumn("doc_id", col("doc_id") + lit(10000000L))
        val g = DedupOps.bloomDedupGate(docs, batch, mBits = 4096)
        g.select(col("n_corpus"), col("n_batch"), col("m_bits"),
          col("k_hashes"), col("bits_set"), col("n_candidates"),
          (col("n_true_dups") + coalesce(
            assert_true(col("n_true_dups") >= 10,
              lit("dedup_bloom_gate_injected: injected true-dup arm went" +
                " vacuous")).cast("long"),
            lit(0L))).as("n_true_dups"),
          col("n_false_pos"), col("n_false_neg"),
          col("fp_rate_realized"), col("fp_rate_theoretical"))
      },
      Some(s"""WITH corpus AS (SELECT * FROM documents),
              |batch AS (
              |  SELECT doc_id + 10000000 AS doc_id, text
              |  FROM documents WHERE doc_id % 50 = 0),
              |ks AS (SELECT unnest([0, 1, 2]) AS i),
              |cbits AS (SELECT DISTINCT
              |    ${duckH61("concat(i, ':', text)")} % 4096 AS bit
              |  FROM corpus, ks),
              |bp AS (SELECT doc_id,
              |    ${duckH61("concat(i, ':', text)")} % 4096 AS bit
              |  FROM batch, ks),
              |gate AS (
              |  SELECT doc_id,
              |    count(*) = sum(CASE WHEN bit IN (SELECT bit FROM cbits)
              |      THEN 1 ELSE 0 END) AS pass
              |  FROM bp GROUP BY 1),
              |ck AS (SELECT DISTINCT ${duckH61("text")} AS h FROM corpus),
              |truth AS (
              |  SELECT doc_id,
              |    CASE WHEN ${duckH61("text")} IN (SELECT h FROM ck)
              |      THEN 1 ELSE 0 END AS dup
              |  FROM batch),
              |j AS (SELECT g.doc_id, g.pass, t.dup
              |  FROM gate g JOIN truth t USING (doc_id)),
              |s AS (SELECT count(*) AS n_batch,
              |    CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_candidates,
              |    CAST(sum(dup) AS BIGINT) AS n_true_dups,
              |    CAST(sum(CASE WHEN pass AND dup = 0 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_false_pos,
              |    CAST(sum(CASE WHEN NOT pass AND dup = 1 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_false_neg
              |  FROM j),
              |nc AS (SELECT count(*) AS n_corpus FROM corpus),
              |nb AS (SELECT count(*) AS bits_set FROM cbits)
              |SELECT nc.n_corpus, s.n_batch,
              |  4096 AS m_bits, 3 AS k_hashes,
              |  nb.bits_set, s.n_candidates, s.n_true_dups,
              |  s.n_false_pos, s.n_false_neg,
              |  floor(CAST(s.n_false_pos AS DOUBLE)
              |    / CAST(greatest(s.n_batch - s.n_true_dups, 1) AS DOUBLE)
              |    * 1000000 + 0.5) / 1000000 AS fp_rate_realized,
              |  floor((CAST(nb.bits_set AS DOUBLE) / 4096.0)
              |    * (CAST(nb.bits_set AS DOUBLE) / 4096.0)
              |    * (CAST(nb.bits_set AS DOUBLE) / 4096.0)
              |    * 1000000 + 0.5) / 1000000 AS fp_rate_theoretical
              |FROM s, nc, nb""".stripMargin)),

    // Incremental ExactSubstr: the doc_id%10=0 batch probes the corpus
    // window-hash index; oracle = the FULL-union span recompute filtered
    // to batch docs (coverage counted over everything — delta identity)
    Q("dedup_incremental_substr",
      (s, d) => {
        val docs = documents(s, d)
        DedupOps.incrementalSubstringSpans(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), L = 40)
      },
      Some(s"""WITH pw AS (SELECT ${duckRollingPowers(40)} AS p),
              |w AS MATERIALIZED (
              |  SELECT doc_id,
              |    CAST(unnest(range(length(text) - 39)) AS INTEGER) AS pos,
              |    unnest(list_transform(range(length(text) - 39),
              |      i -> CAST(list_sum(list_transform(range(40),
              |             j -> CAST(p[CAST(j + 1 AS INTEGER)] AS HUGEINT) *
              |                  ord(substring(text, CAST(i + j + 1 AS INTEGER), 1))))
              |           % 2305843009213693951 AS BIGINT))) AS h
              |  FROM documents, pw WHERE length(text) >= 40),
              |q AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
              |c AS (SELECT doc_id, pos FROM w
              |  WHERE doc_id % 10 = 0 AND h IN (SELECT h FROM q)),
              |g AS (
              |  SELECT doc_id, pos,
              |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 40
              |         THEN 0 ELSE 1 END AS brk
              |  FROM c),
              |i AS (
              |  SELECT doc_id, pos, sum(brk) OVER (
              |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
              |  FROM g)
              |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
              |  CAST(max(pos) - min(pos) + 40 AS INTEGER) AS span_len,
              |  count(*) AS n_windows
              |FROM i GROUP BY doc_id, grp
              |ORDER BY doc_id, span_start""".stripMargin)),

    // The removal half of the ExactSubstr pass: cut every detected span,
    // report kept length + removal fraction + md5 of the rewritten text.
    // The oracle recomputes the spans, then reconstructs the kept text as
    // the string_agg of the BETWEEN-span segments (head gap via lag,
    // tail segment unioned in) — string surgery verified end-to-end by
    // fingerprint, not just by length.
    Q("dedup_substring_removal",
      (s, d) => DedupOps.duplicatedSubstringRemoval(documents(s, d), L = 40),
      Some(s"""WITH pw AS (SELECT ${duckRollingPowers(40)} AS p),
              |w AS MATERIALIZED (
              |  SELECT doc_id,
              |    CAST(unnest(range(length(text) - 39)) AS INTEGER) AS pos,
              |    unnest(list_transform(range(length(text) - 39),
              |      i -> CAST(list_sum(list_transform(range(40),
              |             j -> CAST(p[CAST(j + 1 AS INTEGER)] AS HUGEINT) *
              |                  ord(substring(text, CAST(i + j + 1 AS INTEGER), 1))))
              |           % 2305843009213693951 AS BIGINT))) AS h
              |  FROM documents, pw WHERE length(text) >= 40),
              |q AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
              |c AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM q)),
              |g AS (
              |  SELECT doc_id, pos,
              |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 40
              |         THEN 0 ELSE 1 END AS brk
              |  FROM c),
              |i AS (
              |  SELECT doc_id, pos, sum(brk) OVER (
              |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
              |  FROM g),
              |sp AS (
              |  SELECT doc_id, CAST(min(pos) AS INTEGER) AS st,
              |    CAST(max(pos) - min(pos) + 40 AS INTEGER) AS ln
              |  FROM i GROUP BY doc_id, grp),
              |seg AS (
              |  SELECT doc_id, lag(st + ln, 1, 0) OVER (
              |      PARTITION BY doc_id ORDER BY st) AS a, st AS b
              |  FROM sp
              |  UNION ALL
              |  SELECT sp.doc_id, max(sp.st + sp.ln) AS a, max(length(d.text)) AS b
              |  FROM sp JOIN documents d USING (doc_id) GROUP BY sp.doc_id),
              |kept AS (
              |  SELECT s.doc_id,
              |    string_agg(substring(d.text, s.a + 1, s.b - s.a), '' ORDER BY s.a) AS kt
              |  FROM seg s JOIN documents d USING (doc_id) GROUP BY s.doc_id),
              |nsp AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n FROM sp GROUP BY 1)
              |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS orig_len,
              |  COALESCE(nsp.n, 0) AS n_spans,
              |  CAST(length(COALESCE(k.kt, d.text)) AS INTEGER) AS kept_len,
              |  floor((length(d.text) - length(COALESCE(k.kt, d.text)))
              |    / greatest(length(d.text), 1) * 10000 + 0.5) / 10000 AS frac_removed,
              |  md5(COALESCE(k.kt, d.text)) AS kept_fp
              |FROM documents d
              |LEFT JOIN kept k ON d.doc_id = k.doc_id
              |LEFT JOIN nsp ON d.doc_id = nsp.doc_id
              |ORDER BY d.doc_id""".stripMargin))
  )

  /** DuckDB-side double-cast embedding list. */
  private val DuckVec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** Shared WITH-prefix of the k-means++ oracles (`vec_kmeanspp_init`,
    * `vec_kmeanspp_quality`): quantized corpus q plus the 8 unrolled
    * farthest-point selection rounds s0..s7.
    */
  private def kmeansppCte: String = {
    val dist = (sel: String) =>
      s"""SELECT q.vec_id, first(q.v) AS v, first(q.cvec) AS cvec,
         |    min(floor(list_sum(list_transform(range(1, 65),
         |      i -> (q.v[i] - s.cvec[i]) * (q.v[i] - s.cvec[i])))
         |      * 1000000 + 0.5) / 1000000) AS mind
         |  FROM q CROSS JOIN ($sel) s GROUP BY q.vec_id""".stripMargin
    val rounds = (1 to 7).map { r =>
      val sel = (0 until r).map(i => s"SELECT cvec FROM s$i")
        .mkString(" UNION ALL ")
      s"""p$r AS (${dist(sel)}),
         |s$r AS (SELECT CAST(vec_id AS INTEGER) AS cid, cvec,
         |    $r AS round, mind AS sel_dist
         |  FROM p$r ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
       |q AS (SELECT vec_id, v,
       |    list_transform(v, x -> floor(x * 10000 + 0.5) / 10000) AS cvec
       |  FROM v),
       |s0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, cvec, 0 AS round,
       |    CAST(0.0 AS DOUBLE) AS sel_dist
       |  FROM q WHERE vec_id = (SELECT min(vec_id) FROM q)),
       |$rounds""".stripMargin
  }

  /** Vector / similarity-search queries. Both sides compute in DOUBLE with
    * identical quantization (floor(x*1e4+0.5)/1e4) and rank on the quantized
    * similarity so ordering is engine-stable.
    */
  private def vectorQueries: Seq[Q] = Seq(
    Q("vec_norms",
      (s, d) => VectorOps.norms(embeddings(s, d)),
      Some(s"""SELECT vec_id, label,
              |  floor(sqrt(list_sum(list_transform($DuckVec, x -> x * x))) * 10000 + 0.5) / 10000 AS l2_norm
              |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // int8 scalar quantization: symmetric scale, round-half-up clamp, and a
    // sequential-fold reconstruction error — every step IEEE-identical in
    // both engines (the quantized values are exact small integers)
    Q("vec_quantize_int8",
      (s, d) => VectorOps.quantizeInt8Stats(embeddings(s, d)),
      Some(s"""WITH e AS (SELECT vec_id, label, $DuckVec AS v FROM embeddings),
              |s AS (SELECT vec_id, label, v,
              |    greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale
              |  FROM e),
              |q AS (SELECT vec_id, label, v, scale,
              |    list_transform(v, x -> greatest(-127.0, least(127.0, floor(x / scale + 0.5)))) AS qv
              |  FROM s)
              |SELECT vec_id, label,
              |  floor(scale * 10000000 + 0.5) / 10000000 AS scale_q,
              |  floor(list_sum(list_transform(range(len(v)),
              |    i -> (v[i + 1] - qv[i + 1] * scale) * (v[i + 1] - qv[i + 1] * scale)))
              |    * 1000000 + 0.5) / 1000000 AS sq_err_q
              |FROM q ORDER BY vec_id""".stripMargin)),

    // MMR diversity re-ranking: greedy k-round argmax of
    // 0.7*sim(q,d) - 0.3*max sim(d, selected) over a top-50 relevance
    // shortlist; the oracle unrolls the same rounds (builder below)
    Q("vec_mmr_rerank",
      (s, d) => VectorOps.mmrRerank(embeddings(s, d)),
      Some {
        def selUnion(r: Int): String =
          (1 until r).map(i => s"SELECT query_id, vec_id FROM s$i")
            .mkString(" UNION ALL ")
        def round(r: Int): String =
          if (r == 1)
            s"""s1 AS (
               |  SELECT query_id, vec_id, 1 AS rank, score FROM (
               |    SELECT query_id, vec_id,
               |      0.7 * simq - (CAST(1.0 AS DOUBLE) - 0.7) * 0.0 AS score,
               |      row_number() OVER (PARTITION BY query_id
               |        ORDER BY 0.7 * simq - (CAST(1.0 AS DOUBLE) - 0.7) * 0.0 DESC, vec_id)
               |        AS rn
               |    FROM pool) WHERE rn = 1)""".stripMargin
          else
            s"""s$r AS (
               |  SELECT query_id, vec_id, $r AS rank, score FROM (
               |    SELECT p.query_id, p.vec_id,
               |      0.7 * p.simq - (CAST(1.0 AS DOUBLE) - 0.7) * COALESCE(m.maxs, 0.0)
               |        AS score,
               |      row_number() OVER (PARTITION BY p.query_id
               |        ORDER BY 0.7 * p.simq
               |          - (CAST(1.0 AS DOUBLE) - 0.7) * COALESCE(m.maxs, 0.0) DESC, p.vec_id)
               |        AS rn
               |    FROM pool p
               |    LEFT JOIN (
               |      SELECT pp.query_id, pp.cand, max(pp.simdd) AS maxs
               |      FROM pp JOIN (${selUnion(r)}) s
               |        ON s.query_id = pp.query_id AND s.vec_id = pp.sel
               |      GROUP BY 1, 2) m
               |      ON m.query_id = p.query_id AND m.cand = p.vec_id
               |    WHERE NOT EXISTS (SELECT 1 FROM (${selUnion(r)}) sx
               |      WHERE sx.query_id = p.query_id AND sx.vec_id = p.vec_id))
               |  WHERE rn = 1)""".stripMargin
        // dots and norms are list_reduce SEQUENTIAL folds, not list_sum:
        // DuckDB's list_sum may combine pairwise, and one ulp near an
        // x.xxxx5 boundary flips the 4dp quantization (bit the MMR score
        // at sf0.1 before this; the PCA oracles set the precedent)
        s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
           |n AS (SELECT vec_id, v,
           |    sqrt(list_reduce(list_transform(v, x -> x * x),
           |      (a, b) -> a + b)) AS nrm FROM e),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
           |  WHERE vec_id < 5),
           |rel AS (
           |  SELECT q.query_id, n.vec_id,
           |    floor((list_reduce(list_transform(range(1, 65),
           |        i -> qv[i] * v[i]), (a, b) -> a + b)
           |           / (qn * n.nrm)) * 10000 + 0.5) / 10000 AS simq,
           |    n.v AS v, n.nrm AS nrm
           |  FROM q JOIN n ON n.vec_id <> q.query_id),
           |pool AS MATERIALIZED (
           |  SELECT query_id, vec_id, simq, v, nrm FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY simq DESC, vec_id) AS prn FROM rel)
           |  WHERE prn <= 50),
           |pp AS MATERIALIZED (
           |  SELECT l.query_id, l.vec_id AS cand, r.vec_id AS sel,
           |    floor((list_reduce(list_transform(range(1, 65),
           |        i -> l.v[i] * r.v[i]), (a, b) -> a + b)
           |      / (l.nrm * r.nrm)) * 10000 + 0.5)
           |      / 10000 AS simdd
           |  FROM pool l JOIN pool r
           |    ON l.query_id = r.query_id AND l.vec_id <> r.vec_id),
           |${(1 to 5).map(round).mkString(",\n")}
           |SELECT query_id, vec_id, rank,
           |  floor(score * 10000 + 0.5) / 10000 AS mmr_score
           |FROM (${(1 to 5).map(i => s"SELECT * FROM s$i")
              .mkString(" UNION ALL ")})
           |ORDER BY query_id, rank""".stripMargin
      }),

    // COMPOSED retrieval pipeline: exact cosine dedup → connected-component
    // survivors → MMR retrieval over the deduped index (queries from the
    // raw set). Oracle chains the three per-stage idioms: the
    // dedup_embedding_cosine pair join, the recursive-CTE components, and
    // the vec_mmr_rerank round unroll over the survivor pool.
    Q("vec_pipeline_e2e",
      (s, d) => VectorOps.vecPipelineE2E(embeddings(s, d)),
      Some {
        def selUnion(r: Int): String =
          (1 until r).map(i => s"SELECT query_id, vec_id FROM s$i")
            .mkString(" UNION ALL ")
        def round(r: Int): String =
          if (r == 1)
            s"""s1 AS (
               |  SELECT query_id, vec_id, 1 AS rank, score FROM (
               |    SELECT query_id, vec_id,
               |      0.7 * simq - (CAST(1.0 AS DOUBLE) - 0.7) * 0.0 AS score,
               |      row_number() OVER (PARTITION BY query_id
               |        ORDER BY 0.7 * simq - (CAST(1.0 AS DOUBLE) - 0.7) * 0.0 DESC, vec_id)
               |        AS rn
               |    FROM pool) WHERE rn = 1)""".stripMargin
          else
            s"""s$r AS (
               |  SELECT query_id, vec_id, $r AS rank, score FROM (
               |    SELECT p.query_id, p.vec_id,
               |      0.7 * p.simq - (CAST(1.0 AS DOUBLE) - 0.7) * COALESCE(m.maxs, 0.0)
               |        AS score,
               |      row_number() OVER (PARTITION BY p.query_id
               |        ORDER BY 0.7 * p.simq
               |          - (CAST(1.0 AS DOUBLE) - 0.7) * COALESCE(m.maxs, 0.0) DESC, p.vec_id)
               |        AS rn
               |    FROM pool p
               |    LEFT JOIN (
               |      SELECT pp.query_id, pp.cand, max(pp.simdd) AS maxs
               |      FROM pp JOIN (${selUnion(r)}) s
               |        ON s.query_id = pp.query_id AND s.vec_id = pp.sel
               |      GROUP BY 1, 2) m
               |      ON m.query_id = p.query_id AND m.cand = p.vec_id
               |    WHERE NOT EXISTS (SELECT 1 FROM (${selUnion(r)}) sx
               |      WHERE sx.query_id = p.query_id AND sx.vec_id = p.vec_id))
               |  WHERE rn = 1)""".stripMargin
        s"""WITH RECURSIVE el AS (SELECT vec_id, label, $DuckVec AS v FROM embeddings),
           |n0 AS (SELECT vec_id, label, v,
           |    sqrt(list_reduce(list_transform(v, x -> x * x),
           |      (a, b) -> a + b)) AS nrm FROM el),
           |prs AS MATERIALIZED (
           |  SELECT a.vec_id AS src, b.vec_id AS dst
           |  FROM n0 a JOIN n0 b ON a.label = b.label AND a.vec_id < b.vec_id
           |  WHERE floor((list_sum(list_transform(range(1, 65),
           |      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm)) * 10000 + 0.5)
           |    / 10000 >= 0.45),
           |nodes AS (SELECT src AS node FROM prs UNION SELECT dst FROM prs),
           |edges2 AS (SELECT src, dst FROM prs
           |           UNION ALL SELECT dst, src FROM prs),
           |rr(node, lbl) AS (
           |  SELECT node, node FROM nodes
           |  UNION
           |  SELECT e2.dst, rr.lbl FROM rr JOIN edges2 e2 ON e2.src = rr.node),
           |dropped AS MATERIALIZED (
           |  SELECT node FROM (SELECT node, min(lbl) AS lbl FROM rr GROUP BY node)
           |  WHERE node <> lbl),
           |n AS (SELECT vec_id, v, nrm FROM n0
           |  WHERE vec_id NOT IN (SELECT node FROM dropped)),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n0
           |  WHERE vec_id < 5),
           |rel AS (
           |  SELECT q.query_id, n.vec_id,
           |    floor((list_reduce(list_transform(range(1, 65),
           |        i -> qv[i] * v[i]), (a, b) -> a + b)
           |           / (qn * n.nrm)) * 10000 + 0.5) / 10000 AS simq,
           |    n.v AS v, n.nrm AS nrm
           |  FROM q JOIN n ON n.vec_id <> q.query_id),
           |pool AS MATERIALIZED (
           |  SELECT query_id, vec_id, simq, v, nrm FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY simq DESC, vec_id) AS prn FROM rel)
           |  WHERE prn <= 50),
           |pp AS MATERIALIZED (
           |  SELECT l.query_id, l.vec_id AS cand, r.vec_id AS sel,
           |    floor((list_reduce(list_transform(range(1, 65),
           |        i -> l.v[i] * r.v[i]), (a, b) -> a + b)
           |      / (l.nrm * r.nrm)) * 10000 + 0.5)
           |      / 10000 AS simdd
           |  FROM pool l JOIN pool r
           |    ON l.query_id = r.query_id AND l.vec_id <> r.vec_id),
           |${(1 to 5).map(round).mkString(",\n")}
           |SELECT query_id, vec_id, rank,
           |  floor(score * 10000 + 0.5) / 10000 AS mmr_score
           |FROM (${(1 to 5).map(i => s"SELECT * FROM s$i")
                .mkString(" UNION ALL ")})
           |ORDER BY query_id, rank""".stripMargin
      }),

    // 1-bit binary quantization: per-dim mean-thresholded sign bits packed
    // into two 32-bit words, Hamming = bit_count(xor) ranking, recall@5
    // audited against exact cosine top-5 — integer-exact end to end
    Q("vec_binary_quant",
      (s, d) => VectorOps.binaryQuantRecall(embeddings(s, d), maxQueryId = 8, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |f AS (SELECT vec_id, CAST(unnest(range(64)) AS INTEGER) AS pos,
              |    unnest(v) AS x FROM e),
              |mu AS (SELECT pos, floor(avg(x) * 10000 + 0.5) / 10000 AS mu
              |  FROM f GROUP BY 1),
              |mul AS (SELECT list(mu ORDER BY pos) AS mu FROM mu),
              |packed AS (
              |  SELECT vec_id,
              |    CAST(list_sum(list_transform(range(0, 32), d ->
              |      CASE WHEN v[d + 1] > mu[d + 1]
              |        THEN (1::BIGINT << d) ELSE 0::BIGINT END)) AS BIGINT) AS w0,
              |    CAST(list_sum(list_transform(range(0, 32), d ->
              |      CASE WHEN v[d + 33] > mu[d + 33]
              |        THEN (1::BIGINT << d) ELSE 0::BIGINT END)) AS BIGINT) AS w1
              |  FROM e CROSS JOIN mul),
              |q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
              |  FROM packed WHERE vec_id < 8),
              |hampairs AS (
              |  SELECT q.query_id, p.vec_id,
              |    CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) AS BIGINT)
              |      AS ham
              |  FROM packed p JOIN q ON p.vec_id <> q.query_id),
              |topham AS (
              |  SELECT query_id, vec_id, ham, rn FROM (
              |    SELECT query_id, vec_id, ham, row_number() OVER (
              |      PARTITION BY query_id ORDER BY ham, vec_id) AS rn
              |    FROM hampairs) WHERE rn <= 5),
              |n AS (SELECT vec_id, v,
              |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |qe AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
              |  WHERE vec_id < 8),
              |cpairs AS (
              |  SELECT qe.query_id, n.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
              |           / (qn * n.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM qe JOIN n ON n.vec_id <> qe.query_id),
              |topex AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT query_id, vec_id, row_number() OVER (
              |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
              |    FROM cpairs) WHERE rn <= 5)
              |SELECT th.query_id,
              |  CAST(sum(CASE WHEN te.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_hits,
              |  CAST(sum(CASE WHEN te.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS DOUBLE) / CAST(5 AS DOUBLE) AS recall,
              |  min(CASE WHEN rn = 1 THEN th.vec_id END) AS top1_id,
              |  min(CASE WHEN rn = 1 THEN ham END) AS top1_ham
              |FROM topham th LEFT JOIN topex te
              |  ON te.query_id = th.query_id AND te.vec_id = th.vec_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // scalar int8 quantization: per-dim min/max affine codes (floor-half-up
    // quantizer — engine-exact), exact-long dot retrieval, recall vs the
    // exact-cosine top-k; the 4x-memory production rung beside 1-bit and PQ
    Q("vec_int8_quant",
      (s, d) => VectorOps.int8QuantRecall(embeddings(s, d), maxQueryId = 8, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |f AS (SELECT vec_id, CAST(unnest(range(64)) AS INTEGER) AS pos,
              |    unnest(v) AS x FROM e),
              |rng AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM f GROUP BY 1),
              |rl AS (SELECT list(lo ORDER BY pos) AS lo,
              |    list(hi ORDER BY pos) AS hi FROM rng),
              |codes AS (
              |  SELECT vec_id,
              |    list_transform(range(0, 64), d ->
              |      CASE WHEN hi[d + 1] = lo[d + 1] THEN 0::BIGINT
              |        ELSE CAST(floor((v[d + 1] - lo[d + 1])
              |               / (hi[d + 1] - lo[d + 1]) * 254.0 + 0.5)
              |             AS BIGINT) - 127 END) AS c
              |  FROM e CROSS JOIN rl),
              |q AS (SELECT vec_id AS query_id, c AS qc FROM codes
              |  WHERE vec_id < 8),
              |pairs AS (
              |  SELECT q.query_id, p.vec_id,
              |    CAST(list_sum(list_transform(range(1, 65),
              |      i -> c[i] * qc[i])) AS BIGINT) AS dot
              |  FROM codes p JOIN q ON p.vec_id <> q.query_id),
              |topq AS (
              |  SELECT query_id, vec_id, dot, rn FROM (
              |    SELECT query_id, vec_id, dot, row_number() OVER (
              |      PARTITION BY query_id ORDER BY dot DESC, vec_id) AS rn
              |    FROM pairs) WHERE rn <= 5),
              |n AS (SELECT vec_id, v,
              |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |qe AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
              |  WHERE vec_id < 8),
              |cpairs AS (
              |  SELECT qe.query_id, n.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
              |           / (qn * n.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM qe JOIN n ON n.vec_id <> qe.query_id),
              |topex AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT query_id, vec_id, row_number() OVER (
              |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
              |    FROM cpairs) WHERE rn <= 5)
              |SELECT tq.query_id,
              |  CAST(sum(CASE WHEN te.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_hits,
              |  CAST(sum(CASE WHEN te.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS DOUBLE) / CAST(5 AS DOUBLE) AS recall,
              |  min(CASE WHEN rn = 1 THEN tq.vec_id END) AS top1_id,
              |  max(dot) AS top1_dot
              |FROM topq tq LEFT JOIN topex te
              |  ON te.query_id = tq.query_id AND te.vec_id = tq.vec_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("vec_centroids",
      (s, d) => VectorOps.centroidTable(embeddings(s, d)),
      Some(s"""SELECT label, pos, floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |FROM (SELECT label,
              |        CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |        unnest($DuckVec) AS v
              |      FROM embeddings)
              |GROUP BY label, pos ORDER BY label, pos""".stripMargin)),

    // embedding drift: per-(label,dim) means under the two vec_id-parity
    // halves and their gap — the PSI analogue for vector columns
    Q("vec_centroid_drift",
      (s, d) => VectorOps.centroidDrift(embeddings(s, d)),
      Some(s"""WITH u AS (
              |  SELECT label, CAST(vec_id % 2 AS INTEGER) AS half,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM embeddings),
              |a AS (
              |  SELECT label, pos,
              |    avg(v) FILTER (WHERE half = 0) AS ce,
              |    avg(v) FILTER (WHERE half = 1) AS co
              |  FROM u GROUP BY 1, 2)
              |SELECT label, pos,
              |  floor(ce * 10000 + 0.5) / 10000 AS c_even,
              |  floor(co * 10000 + 0.5) / 10000 AS c_odd,
              |  floor(abs(ce - co) * 10000 + 0.5) / 10000 AS drift
              |FROM a ORDER BY label, pos""".stripMargin)),

    // embedding-space health: cosine over deterministic adjacent-id pairs,
    // bucketed; count/min/max only (order-independent aggregates)
    Q("vec_pair_cosine_hist",
      (s, d) => VectorOps.pairCosineHistogram(embeddings(s, d)),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |p AS (
              |  SELECT a.v AS va, b.v AS vb
              |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
              |c AS (
              |  SELECT floor((list_sum(list_transform(range(1, 65),
              |      i -> va[i] * vb[i]))
              |    / (sqrt(list_sum(list_transform(va, x -> x * x)))
              |       * sqrt(list_sum(list_transform(vb, x -> x * x)))))
              |    * 10000 + 0.5) / 10000 AS cos
              |  FROM p)
              |SELECT CAST(floor(cos / 0.1) AS INTEGER) AS bin,
              |  count(*) AS n_pairs, min(cos) AS min_cos, max(cos) AS max_cos
              |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("vec_knn_cosine",
      (s, d) => VectorOps.knnBruteForce(embeddings(s, d), maxQueryId = 5, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |n AS (SELECT vec_id, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
              |pairs AS (
              |  SELECT q.query_id, n.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
              |           / (qn * n.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM q JOIN n ON n.vec_id <> q.query_id)
              |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, sim FROM (
              |  SELECT query_id, vec_id, sim,
              |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |  FROM pairs)
              |WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // Embedding covariance matrix (PCA/whitening input) via the native
    // one-pass imperative aggregate; the oracle takes the quadratic road
    // (explode + per-vector self-join + avg identity) — two independent
    // formulations of the same 2,080 upper-triangle cells.
    Q("vec_covariance",
      (s, d) => VectorOps.covarianceMatrix(embeddings(s, d), dim = 64),
      Some(s"""WITH f AS (
              |  SELECT vec_id, CAST(unnest(range(64)) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM embeddings)
              |SELECT a.pos AS i, b.pos AS j,
              |  floor((avg(a.v * b.v) - avg(a.v) * avg(b.v)) * 1000000 + 0.5)
              |    / 1000000 AS cov
              |FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.pos <= b.pos
              |GROUP BY 1, 2 ORDER BY i, j""".stripMargin)),

    // Dominant principal component by POWER ITERATION over the one-pass
    // covariance matrix: both sides start from the SAME 1e-6-quantized
    // matrix, every dot product is a left-to-right fold (identical IEEE
    // order ⇒ identical bits), the iterate is re-quantized at 1e-8 per
    // round, sign fixed by largest-|component| (ties → lowest index);
    // the oracle unrolls all 20 matvec+normalize rounds
    Q("vec_pca_power",
      (s, d) => VectorOps.pcaPowerComponent(embeddings(s, d), dim = 64, iters = 20),
      Some {
        val dotd = (a: String, b: String) =>
          s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (a, b) -> a + b)"
        val iters = (1 to 20).map { k =>
          s"""w$k AS (SELECT m, list_transform(m, row ->
             |    list_reduce(list_transform(range(1, 65), i -> row[i] * v[i]),
             |                (a, b) -> a + b)) AS w FROM it${k - 1}),
             |it$k AS (SELECT m, list_transform(w, x ->
             |    floor(x / sqrt(${dotd("w", "w")}) * 100000000 + 0.5)
             |      / 100000000) AS v FROM w$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH f AS (
           |  SELECT vec_id, CAST(unnest(range(64)) AS INTEGER) AS pos,
           |    unnest($DuckVec) AS x
           |  FROM embeddings),
           |cells AS (
           |  SELECT a.pos AS i, b.pos AS j,
           |    floor((avg(a.x * b.x) - avg(a.x) * avg(b.x)) * 1000000 + 0.5)
           |      / 1000000 AS cov
           |  FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.pos <= b.pos
           |  GROUP BY 1, 2),
           |fullm AS (SELECT i, j, cov FROM cells
           |  UNION ALL SELECT j, i, cov FROM cells WHERE i <> j),
           |mrows AS (SELECT i, list(cov ORDER BY j) AS row FROM fullm GROUP BY i),
           |mat AS (SELECT list(row ORDER BY i) AS m FROM mrows),
           |it0 AS (SELECT m,
           |  list_transform(range(1, 65),
           |    i -> 1.0::DOUBLE / sqrt(64.0::DOUBLE)) AS v FROM mat),
           |$iters,
           |sg AS (SELECT m, v,
           |  CASE WHEN list_reduce(
           |    list_transform(range(1, 65),
           |      i -> {'na': -abs(v[i]), 'i': i, 'x': v[i]}),
           |    (acc, s) -> CASE WHEN s.na < acc.na
           |        OR (s.na = acc.na AND s.i < acc.i)
           |      THEN s ELSE acc END).x < 0
           |  THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END AS sg FROM it20),
           |fin AS (SELECT m, list_transform(v, x -> sg * x) AS v FROM sg),
           |mvv AS (SELECT m, v, list_transform(m, row ->
           |    list_reduce(list_transform(range(1, 65), i -> row[i] * v[i]),
           |                (a, b) -> a + b)) AS mv FROM fin),
           |lam AS (SELECT v,
           |  floor(${dotd("v", "mv")} / ${dotd("v", "v")} * 1000000 + 0.5)
           |    / 1000000 AS lam,
           |  list_reduce(list_transform(range(1, 65), i -> m[i][i]),
           |              (a, b) -> a + b) AS trace FROM mvv)
           |SELECT CAST(i - 1 AS INTEGER) AS pos,
           |  floor(v[CAST(i AS INTEGER)] * 1000000 + 0.5) / 1000000 AS loading,
           |  lam,
           |  floor(lam / trace * 1000000 + 0.5) / 1000000 AS var_explained
           |FROM lam, (SELECT unnest(range(1, 65)) AS i)
           |ORDER BY pos""".stripMargin
      }),

    // 1-D PCA projection of every vector onto that component (dataset
    // cartography / separability probe): score = dot(x, v) − dot(μ, v),
    // a per-row fold against ONE broadcast head row — map-side only
    Q("vec_pca_project",
      (s, d) => VectorOps.pcaProject(embeddings(s, d), dim = 64, iters = 20,
        maxId = 100),
      Some {
        val dotd = (a: String, b: String) =>
          s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (a, b) -> a + b)"
        val iters = (1 to 20).map { k =>
          s"""w$k AS (SELECT m, list_transform(m, row ->
             |    list_reduce(list_transform(range(1, 65), i -> row[i] * v[i]),
             |                (a, b) -> a + b)) AS w FROM it${k - 1}),
             |it$k AS (SELECT m, list_transform(w, x ->
             |    floor(x / sqrt(${dotd("w", "w")}) * 100000000 + 0.5)
             |      / 100000000) AS v FROM w$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH f AS (
           |  SELECT vec_id, CAST(unnest(range(64)) AS INTEGER) AS pos,
           |    unnest($DuckVec) AS x
           |  FROM embeddings),
           |cells AS (
           |  SELECT a.pos AS i, b.pos AS j,
           |    floor((avg(a.x * b.x) - avg(a.x) * avg(b.x)) * 1000000 + 0.5)
           |      / 1000000 AS cov
           |  FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.pos <= b.pos
           |  GROUP BY 1, 2),
           |fullm AS (SELECT i, j, cov FROM cells
           |  UNION ALL SELECT j, i, cov FROM cells WHERE i <> j),
           |mrows AS (SELECT i, list(cov ORDER BY j) AS row FROM fullm GROUP BY i),
           |mat AS (SELECT list(row ORDER BY i) AS m FROM mrows),
           |it0 AS (SELECT m,
           |  list_transform(range(1, 65),
           |    i -> 1.0::DOUBLE / sqrt(64.0::DOUBLE)) AS v FROM mat),
           |$iters,
           |sg AS (SELECT m, v,
           |  CASE WHEN list_reduce(
           |    list_transform(range(1, 65),
           |      i -> {'na': -abs(v[i]), 'i': i, 'x': v[i]}),
           |    (acc, s) -> CASE WHEN s.na < acc.na
           |        OR (s.na = acc.na AND s.i < acc.i)
           |      THEN s ELSE acc END).x < 0
           |  THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END AS sg FROM it20),
           |fin AS (SELECT list_transform(v, x -> sg * x) AS v FROM sg),
           |mu AS (SELECT list(mu ORDER BY pos) AS mu FROM (
           |  SELECT pos, floor(avg(x) * 1000000 + 0.5) / 1000000 AS mu
           |  FROM f GROUP BY pos)),
           |hd AS (SELECT v, ${dotd("mu", "v")} AS c FROM fin, mu),
           |e AS (SELECT vec_id, label, $DuckVec AS ev FROM embeddings
           |  WHERE vec_id < 100)
           |SELECT vec_id, label,
           |  floor((${dotd("ev", "v")} - c) * 10000 + 0.5) / 10000 AS proj
           |FROM e, hd ORDER BY vec_id""".stripMargin
      }),

    // Centroid silhouette per label: a = own-centroid distance, b =
    // nearest-other-centroid distance, s = (b-a)/max(a,b); the oracle
    // replays the quantized centroid arrays + ordered list_sum distances
    Q("vec_silhouette",
      (s, d) => VectorOps.silhouetteByLabel(embeddings(s, d)),
      Some(s"""WITH flat AS (
              |  SELECT vec_id, label AS true_label,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM embeddings),
              |cent AS (
              |  SELECT true_label AS c_label, pos,
              |    floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT c_label, list(c ORDER BY pos) AS cvec
              |  FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, label AS true_label, $DuckVec AS v
              |  FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, e2.true_label, cl.c_label,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i])))
              |      * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |ab AS (
              |  SELECT vec_id, true_label,
              |    sqrt(min(CASE WHEN c_label = true_label THEN dist END)) AS a,
              |    sqrt(min(CASE WHEN c_label <> true_label THEN dist END)) AS b
              |  FROM d GROUP BY 1, 2),
              |sg AS (SELECT true_label,
              |    CASE WHEN greatest(a, b) > 0
              |      THEN (b - a) / greatest(a, b) ELSE 0.0::DOUBLE END AS s
              |  FROM ab)
              |SELECT true_label AS label, CAST(count(*) AS BIGINT) AS n_vectors,
              |  floor(avg(s) * 10000 + 0.5) / 10000 AS mean_silhouette,
              |  floor(min(s) * 10000 + 0.5) / 10000 AS min_silhouette,
              |  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_misplaced
              |FROM sg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Diagonal-Mahalanobis OOD screen: per-dim envelope from the
    // covariance oracle's exact formula (1e-6-quantized), per-vector
    // left-to-right fold, top-25 most anomalous
    Q("vec_mahalanobis_ood",
      (s, d) => VectorOps.mahalanobisOutliers(embeddings(s, d), k = 25),
      Some(s"""WITH f AS (
              |  SELECT vec_id, CAST(unnest(range(64)) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS x
              |  FROM embeddings),
              |st AS (SELECT pos,
              |    floor(avg(x) * 1000000 + 0.5) / 1000000 AS mu,
              |    floor((avg(x * x) - avg(x) * avg(x)) * 1000000 + 0.5)
              |      / 1000000 AS s2
              |  FROM f GROUP BY pos),
              |mus AS (SELECT list(mu ORDER BY pos) AS mu,
              |               list(s2 ORDER BY pos) AS s2 FROM st),
              |e AS (SELECT vec_id, label, $DuckVec AS ev FROM embeddings)
              |SELECT vec_id, label, md2 FROM (
              |  SELECT vec_id, label,
              |    floor(list_reduce(list_transform(range(1, 65),
              |      i -> (ev[i] - mu[i]) * (ev[i] - mu[i]) / s2[i]),
              |      (a, b) -> a + b) * 10000 + 0.5) / 10000 AS md2
              |  FROM e, mus)
              |ORDER BY md2 DESC, vec_id LIMIT 25""".stripMargin)),

    // 2-D PCA map by deflation (C₂ = C − λ₁v₁v₁ᵀ, re-quantized 1e-6 like
    // the original): the oracle unrolls BOTH 20-round power iterations —
    // 40 matvec+normalize rounds replayed end to end
    Q("vec_pca2_map",
      (s, d) => VectorOps.pcaTop2Project(embeddings(s, d), dim = 64,
        iters = 20, maxId = 100),
      Some {
        val dotd = (a: String, b: String) =>
          s"list_reduce(list_transform(range(1, 65), i -> $a[i] * $b[i]), (a, b) -> a + b)"
        def rounds(mCol: String, vCol: String, from: String, pfx: String,
                   n: Int): String =
          (1 to n).map { k =>
            val prev = if (k == 1) from else s"$pfx${k - 1}"
            s"""${pfx}w$k AS (SELECT $mCol, list_transform($mCol, row ->
               |    list_reduce(list_transform(range(1, 65), i -> row[i] * $vCol[i]),
               |                (a, b) -> a + b)) AS w FROM $prev),
               |$pfx$k AS (SELECT $mCol, list_transform(w, x ->
               |    floor(x / sqrt(list_reduce(list_transform(range(1, 65),
               |      i -> w[i] * w[i]), (a, b) -> a + b)) * 100000000 + 0.5)
               |      / 100000000) AS $vCol FROM ${pfx}w$k)""".stripMargin
          }.mkString(",\n")
        def signFix(vCol: String, src: String, out: String): String =
          s"""$out AS MATERIALIZED (SELECT * REPLACE (list_transform($vCol, x ->
             |  (CASE WHEN list_reduce(list_transform(range(1, 65),
             |    i -> {'na': -abs($vCol[i]), 'i': i, 'x': $vCol[i]}),
             |    (acc, s) -> CASE WHEN s.na < acc.na
             |        OR (s.na = acc.na AND s.i < acc.i)
             |      THEN s ELSE acc END).x < 0
             |  THEN -1.0::DOUBLE ELSE 1.0::DOUBLE END) * x) AS $vCol)
             |  FROM $src)""".stripMargin
        s"""WITH f AS MATERIALIZED (
           |  SELECT vec_id, CAST(unnest(range(64)) AS INTEGER) AS pos,
           |    unnest($DuckVec) AS x
           |  FROM embeddings),
           |cells AS MATERIALIZED (
           |  SELECT a.pos AS i, b.pos AS j,
           |    floor((avg(a.x * b.x) - avg(a.x) * avg(b.x)) * 1000000 + 0.5)
           |      / 1000000 AS cov
           |  FROM f a JOIN f b ON a.vec_id = b.vec_id AND a.pos <= b.pos
           |  GROUP BY 1, 2),
           |fullm AS (SELECT i, j, cov FROM cells
           |  UNION ALL SELECT j, i, cov FROM cells WHERE i <> j),
           |mrows AS (SELECT i, list(cov ORDER BY j) AS row FROM fullm GROUP BY i),
           |mat AS MATERIALIZED (SELECT list(row ORDER BY i) AS m FROM mrows),
           |it0 AS (SELECT m,
           |  list_transform(range(1, 65),
           |    i -> 1.0::DOUBLE / sqrt(64.0::DOUBLE)) AS v FROM mat),
           |${rounds("m", "v", "it0", "it", 20)},
           |${signFix("v", "it20", "fin1")},
           |lamc AS (SELECT m, v,
           |  floor(${dotd("v", "mv")} / ${dotd("v", "v")} * 1000000 + 0.5)
           |    / 1000000 AS lam
           |  FROM (SELECT m, v, list_transform(m, row ->
           |    list_reduce(list_transform(range(1, 65), i -> row[i] * v[i]),
           |                (a, b) -> a + b)) AS mv FROM fin1)),
           |defl AS (SELECT v,
           |  list_transform(range(1, 65), i -> list_transform(range(1, 65), j ->
           |    floor((m[i][j] - lam * v[i] * v[j]) * 1000000 + 0.5)
           |      / 1000000)) AS m2
           |  FROM lamc),
           |jt0 AS (SELECT m2,
           |  list_transform(range(1, 65),
           |    i -> 1.0::DOUBLE / sqrt(64.0::DOUBLE)) AS v2 FROM defl),
           |${rounds("m2", "v2", "jt0", "jt", 20)},
           |${signFix("v2", "jt20", "fin2")},
           |mu AS (SELECT list(mu ORDER BY pos) AS mu FROM (
           |  SELECT pos, floor(avg(x) * 1000000 + 0.5) / 1000000 AS mu
           |  FROM f GROUP BY pos)),
           |hd AS (SELECT f1.v AS v, f2.v2 AS v2,
           |    ${dotd("mu", "v")} AS c1, ${dotd("mu", "v2")} AS c2
           |  FROM fin1 f1, fin2 f2, mu),
           |e AS (SELECT vec_id, label, $DuckVec AS ev FROM embeddings
           |  WHERE vec_id < 100)
           |SELECT vec_id, label,
           |  floor((${dotd("ev", "v")} - c1) * 10000 + 0.5) / 10000 AS x,
           |  floor((${dotd("ev", "v2")} - c2) * 10000 + 0.5) / 10000 AS y
           |FROM e, hd ORDER BY vec_id""".stripMargin
      }),

    // Hard-negative mining: per query, top-5 most-similar vectors with a
    // DIFFERENT label — the label-inequality twin of the kNN oracle.
    Q("vec_hard_negatives",
      (s, d) => VectorOps.hardNegatives(embeddings(s, d), maxQueryId = 5, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, label, $DuckVec AS v FROM embeddings),
              |n AS (SELECT vec_id, label, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv, nrm AS qn
              |      FROM n WHERE vec_id < 5),
              |pairs AS (
              |  SELECT q.query_id, n.vec_id, n.label AS neg_label,
              |    floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
              |           / (qn * n.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM q JOIN n ON n.label <> q.q_label)
              |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, neg_label, sim FROM (
              |  SELECT query_id, vec_id, neg_label, sim,
              |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |  FROM pairs)
              |WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    Q("vec_mips_topk",
      (s, d) => VectorOps.mipsTopK(embeddings(s, d), maxQueryId = 5, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
              |pairs AS (
              |  SELECT q.query_id, e.vec_id,
              |    floor(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
              |      * 10000 + 0.5) / 10000 AS ip
              |  FROM q JOIN e ON e.vec_id <> q.query_id)
              |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, ip FROM (
              |  SELECT query_id, vec_id, ip,
              |    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, vec_id) AS rank
              |  FROM pairs)
              |WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // reciprocal-rank fusion of the cosine and MIPS retrievers: rank-space
    // fusion (1/(60+rank) summed per doc) — the oracle replays both
    // retrieval CTEs and the fused ranking
    Q("vec_rrf_fusion",
      (s, d) => VectorOps.rrfFusion(embeddings(s, d), maxQueryId = 5, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |n AS (SELECT vec_id, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |q AS (SELECT vec_id AS query_id, v AS qv, qn FROM
              |       (SELECT vec_id, v, nrm AS qn FROM n WHERE vec_id < 5)),
              |cpairs AS (
              |  SELECT q.query_id, n.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
              |           / (qn * n.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM q JOIN n ON n.vec_id <> q.query_id),
              |cosr AS (
              |  SELECT query_id, vec_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |  FROM cpairs),
              |mpairs AS (
              |  SELECT q.query_id, e.vec_id,
              |    floor(list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
              |      * 10000 + 0.5) / 10000 AS ip
              |  FROM q JOIN e ON e.vec_id <> q.query_id),
              |mipsr AS (
              |  SELECT query_id, vec_id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, vec_id) AS rank
              |  FROM mpairs),
              |u AS (
              |  SELECT query_id, vec_id, rank FROM cosr WHERE rank <= 5
              |  UNION ALL
              |  SELECT query_id, vec_id, rank FROM mipsr WHERE rank <= 5),
              |f AS (
              |  SELECT query_id, vec_id,
              |    floor(sum(1.0 / (60.0 + rank)) * 1e7 + 0.5) / 1e7 AS rrf,
              |    CAST(count(*) AS BIGINT) AS n_lists
              |  FROM u GROUP BY 1, 2),
              |r AS (
              |  SELECT query_id,
              |    CAST(row_number() OVER (PARTITION BY query_id
              |      ORDER BY rrf DESC, vec_id) AS INTEGER) AS fused_rank,
              |    vec_id, rrf, n_lists
              |  FROM f)
              |SELECT query_id, fused_rank, vec_id, rrf, n_lists FROM r
              |WHERE fused_rank <= 5 ORDER BY query_id, fused_rank""".stripMargin)),

    // matryoshka-truncation recall: top-10 by 16-dim-prefix cosine vs top-10
    // by full 64-dim cosine, overlap per query
    Q("vec_matryoshka_recall",
      (s, d) => VectorOps.matryoshkaRecall(embeddings(s, d), maxQueryId = 5, k = 10),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |n AS (SELECT vec_id, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
              |fp AS (
              |  SELECT q.query_id, n.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
              |           / (qn * n.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM q JOIN n ON n.vec_id <> q.query_id),
              |full_k AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT query_id, vec_id,
              |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |    FROM fp) WHERE rank <= 10),
              |t AS (SELECT vec_id, v[1:16] AS v FROM e),
              |tn AS (SELECT vec_id, v,
              |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM t),
              |tq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM tn WHERE vec_id < 5),
              |tp AS (
              |  SELECT tq.query_id, tn.vec_id,
              |    floor((list_sum(list_transform(range(1, 17), i -> qv[i] * v[i]))
              |           / (qn * tn.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM tq JOIN tn ON tn.vec_id <> tq.query_id),
              |trunc_k AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT query_id, vec_id,
              |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |    FROM tp) WHERE rank <= 10),
              |o AS (
              |  SELECT f.query_id, count(*) AS n_overlap
              |  FROM full_k f JOIN trunc_k tk
              |    ON tk.query_id = f.query_id AND tk.vec_id = f.vec_id
              |  GROUP BY 1),
              |fc AS (SELECT query_id, count(*) AS n_full FROM full_k GROUP BY 1)
              |SELECT fc.query_id,
              |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
              |  floor(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / fc.n_full
              |    * 10000 + 0.5) / 10000 AS recall
              |FROM fc LEFT JOIN o ON o.query_id = fc.query_id
              |ORDER BY fc.query_id""".stripMargin)),

    Q("vec_ann_lsh",
      (s, d) => VectorOps.annLsh(embeddings(s, d), maxQueryId = 5, k = 5),
      Some {
        // same multi-table construction: 4 tables x 4 planes, candidates =
        // shared bucket in ANY table (UNION de-dups the pairs)
        val planes = VectorOps.hyperplanes()
        def bucketExpr(t: Int): String = (0 until 4).map { j =>
          val p = planes(t * 4 + j)
          val lits = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
          s"CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * ($lits)[i])) > 0 THEN ${1L << j} ELSE 0 END"
        }.mkString(" + ")
        val bucketCols = (0 until 4).map(t => s"${bucketExpr(t)} AS b$t").mkString(",\n        ")
        val unions = (0 until 4).map(t =>
          s"SELECT q.query_id, b.vec_id FROM q JOIN b ON q.b$t = b.b$t AND b.vec_id <> q.query_id")
          .mkString("\n  UNION\n  ")
        s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
           |b AS (SELECT vec_id, v,
           |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
           |        $bucketCols
           |      FROM e),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, b0, b1, b2, b3
           |      FROM b WHERE vec_id < 5),
           |cand AS (
           |  $unions),
           |pairs AS (
           |  SELECT c.query_id, c.vec_id,
           |    floor((list_sum(list_transform(range(1, 65), i -> q.qv[i] * b.v[i]))
           |           / (q.qn * b.nrm)) * 10000 + 0.5) / 10000 AS sim
           |  FROM cand c
           |  JOIN q ON q.query_id = c.query_id
           |  JOIN b ON b.vec_id = c.vec_id)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, sim FROM (
           |  SELECT query_id, vec_id, sim,
           |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           |  FROM pairs)
           |WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
      }),

    // IVF probe-count sweep: candidate cost + recall@5 vs exact cosine
    // for nProbe in {1,2,4} — the index-tuning curve, one sweep query
    Q("vec_ivf_probe_sweep",
      (s, d) => VectorOps.ivfProbeSweep(embeddings(s, d)),
      Some {
        def cfg(p: Int): String =
          s"""cand$p AS MATERIALIZED (
             |  SELECT DISTINCT pr.query_id, a.vec_id
             |  FROM (SELECT vec_id AS query_id, cell FROM r
             |        WHERE vec_id < 5 AND rn <= $p) pr
             |  JOIN assign a ON pr.cell = a.cell AND a.vec_id <> pr.query_id),
             |top$p AS MATERIALIZED (
             |  SELECT query_id, vec_id FROM (
             |    SELECT c.query_id, c.vec_id, row_number() OVER (
             |      PARTITION BY c.query_id ORDER BY
             |        floor((list_sum(list_transform(range(1, 65),
             |          i -> q.v[i] * b.v[i])) / (q.nrm * b.nrm))
             |          * 10000 + 0.5) / 10000 DESC, c.vec_id) AS rk
             |    FROM cand$p c JOIN n q ON q.vec_id = c.query_id
             |      JOIN n b ON b.vec_id = c.vec_id)
             |  WHERE rk <= 5)""".stripMargin
        def row(p: Int): String =
          s"""SELECT $p AS n_probe,
             |  (SELECT count(*) FROM cand$p) AS n_candidates,
             |  (SELECT count(*) FROM ex) AS n_true,
             |  (SELECT count(*) FROM ex e JOIN top$p t
             |     ON t.query_id = e.query_id AND t.vec_id = e.vec_id)
             |    AS n_captured,
             |  floor(CAST((SELECT count(*) FROM ex e JOIN top$p t
             |      ON t.query_id = e.query_id AND t.vec_id = e.vec_id)
             |      AS DOUBLE)
             |    / CAST((SELECT count(*) FROM ex) AS DOUBLE)
             |    * 1000000 + 0.5) / 1000000 AS recall""".stripMargin
        s"""WITH flat AS (
           |  SELECT vec_id,
           |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
           |    unnest($DuckVec) AS v,
           |    label
           |  FROM embeddings),
           |cent AS (
           |  SELECT label AS cell, pos, floor(avg(v) * 10000 + 0.5) / 10000 AS c
           |  FROM flat GROUP BY 1, 2),
           |cl AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
           |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
           |d AS (
           |  SELECT e2.vec_id, cl.cell,
           |    floor(list_sum(list_transform(range(1, 65),
           |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i])))
           |      * 1000000 + 0.5) / 1000000 AS dist
           |  FROM e2 CROSS JOIN cl),
           |r AS (
           |  SELECT vec_id, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM d),
           |assign AS MATERIALIZED (SELECT vec_id, cell FROM r WHERE rn = 1),
           |n AS (SELECT vec_id, v,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e2),
           |ex AS MATERIALIZED (
           |  SELECT query_id, vec_id FROM (
           |    SELECT q.vec_id AS query_id, b.vec_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        floor((list_sum(list_transform(range(1, 65),
           |          i -> q.v[i] * b.v[i])) / (q.nrm * b.nrm))
           |          * 10000 + 0.5) / 10000 DESC, b.vec_id) AS rk
           |    FROM n q JOIN n b ON b.vec_id <> q.vec_id
           |    WHERE q.vec_id < 5)
           |  WHERE rk <= 5),
           |${Seq(1, 2, 4).map(cfg).mkString(",\n")}
           |${Seq(1, 2, 4).map(row).mkString(" UNION ALL\n")}
           |ORDER BY n_probe""".stripMargin
      }),

    Q("vec_ivf_ann",
      (s, d) => VectorOps.ivfAnn(embeddings(s, d), maxQueryId = 5, k = 5),
      // same coarse-quantize -> probe -> exact-rerank pipeline in SQL: label
      // centroids as cells, nProbe=2, quantized distances + similarities
      Some(s"""WITH flat AS (
              |  SELECT vec_id,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v,
              |    label
              |  FROM embeddings),
              |cent AS (
              |  SELECT label AS cell, pos, floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, cl.cell,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |r AS (
              |  SELECT vec_id, cell,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
              |  FROM d),
              |assign AS (SELECT vec_id, cell FROM r WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM r WHERE vec_id < 5 AND rn <= 2),
              |cand AS (
              |  SELECT DISTINCT p.query_id, a.vec_id
              |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
              |e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |n AS (SELECT vec_id, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |pairs AS (
              |  SELECT c.query_id, c.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
              |           / (q.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM cand c
              |  JOIN n q ON q.vec_id = c.query_id
              |  JOIN n b ON b.vec_id = c.vec_id)
              |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, sim FROM (
              |  SELECT query_id, vec_id, sim,
              |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |  FROM pairs)
              |WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // recall@5 of the IVF index vs exact cosine — retrieval quality as a
    // query; the oracle replays BOTH retrievals and the hit join
    Q("vec_random_projection",
      (s, d) => VectorOps.randomProjectionRecall(embeddings(s, d)),
      Some {
        // same deterministic ±1 JL matrix (LCG seed 77), inlined as literals
        val planes = graft.ops.VectorOps.hyperplanes(16, 64, 77L)
        val projCols = planes.map { p =>
          val lits = p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
          s"floor(list_sum(list_transform(range(1, 65), i -> v[i] * ($lits)[i])) * 10000 + 0.5) / 10000"
        }.mkString("[\n        ", ",\n        ", "]")
        s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
           |p AS (SELECT vec_id, $projCols AS pv FROM e),
           |pn AS (SELECT vec_id, pv,
           |         sqrt(list_sum(list_transform(pv, x -> x * x))) AS nrm FROM p),
           |pq AS (SELECT vec_id AS query_id, pv AS qp, nrm AS qn
           |       FROM pn WHERE vec_id < 5),
           |pp AS (
           |  SELECT pq.query_id, pn.vec_id,
           |    floor(list_sum(list_transform(range(1, 17), i -> qp[i] * pv[i]))
           |          / (qn * pn.nrm) * 10000 + 0.5) / 10000 AS psim
           |  FROM pq JOIN pn ON pn.vec_id <> pq.query_id),
           |cand AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY psim DESC, vec_id) AS r
           |    FROM pp) WHERE r <= 15),
           |n AS (SELECT vec_id, v,
           |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
           |      FROM n WHERE vec_id < 5),
           |rer AS (
           |  SELECT c.query_id, c.vec_id,
           |    floor(list_sum(list_transform(range(1, 65), i -> q.qv[i] * n.v[i]))
           |          / (q.qn * n.nrm) * 10000 + 0.5) / 10000 AS sim
           |  FROM cand c
           |  JOIN n ON n.vec_id = c.vec_id
           |  JOIN q ON q.query_id = c.query_id),
           |ak AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY sim DESC, vec_id) AS r
           |    FROM rer) WHERE r <= 5),
           |fp AS (
           |  SELECT q.query_id, n.vec_id,
           |    floor(list_sum(list_transform(range(1, 65), i -> q.qv[i] * n.v[i]))
           |          / (q.qn * n.nrm) * 10000 + 0.5) / 10000 AS sim
           |  FROM q JOIN n ON n.vec_id <> q.query_id),
           |full_k AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id,
           |      row_number() OVER (PARTITION BY query_id
           |                         ORDER BY sim DESC, vec_id) AS r
           |    FROM fp) WHERE r <= 5),
           |o AS (
           |  SELECT f.query_id, count(*) AS n_overlap
           |  FROM full_k f JOIN ak
           |    ON ak.query_id = f.query_id AND ak.vec_id = f.vec_id
           |  GROUP BY 1),
           |fc AS (SELECT query_id, count(*) AS n_full FROM full_k GROUP BY 1)
           |SELECT fc.query_id,
           |  CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           |  floor(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / fc.n_full
           |    * 10000 + 0.5) / 10000 AS recall
           |FROM fc LEFT JOIN o ON o.query_id = fc.query_id
           |ORDER BY fc.query_id""".stripMargin
      }),

    Q("vec_ann_recall",
      (s, d) => VectorOps.annRecallAudit(embeddings(s, d)),
      Some(s"""WITH flat AS (
              |  SELECT vec_id,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v,
              |    label
              |  FROM embeddings),
              |cent AS (
              |  SELECT label AS cell, pos, floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, cl.cell,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |r AS (
              |  SELECT vec_id, cell,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
              |  FROM d),
              |assign AS (SELECT vec_id, cell FROM r WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM r WHERE vec_id < 5 AND rn <= 2),
              |cand AS (
              |  SELECT DISTINCT p.query_id, a.vec_id
              |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
              |n AS (SELECT vec_id, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e2),
              |ipairs AS (
              |  SELECT c.query_id, c.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
              |           / (q.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM cand c
              |  JOIN n q ON q.vec_id = c.query_id
              |  JOIN n b ON b.vec_id = c.vec_id),
              |ivf_top AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT query_id, vec_id,
              |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |    FROM ipairs) WHERE rank <= 5),
              |xpairs AS (
              |  SELECT q.vec_id AS query_id, b.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
              |           / (q.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM n q JOIN n b ON b.vec_id <> q.vec_id
              |  WHERE q.vec_id < 5),
              |exact_top AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT query_id, vec_id,
              |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |    FROM xpairs) WHERE rank <= 5)
              |SELECT x.query_id,
              |  CAST(count(i.vec_id) AS BIGINT) AS n_hits,
              |  floor(CAST(count(i.vec_id) AS DOUBLE) / 5 * 10000 + 0.5) / 10000
              |    AS recall_at_k
              |FROM exact_top x
              |LEFT JOIN ivf_top i
              |  ON i.query_id = x.query_id AND i.vec_id = x.vec_id
              |GROUP BY x.query_id
              |ORDER BY x.query_id""".stripMargin)),

    // MRR audit: the rank of the FIRST truly-relevant IVF result per
    // query (relevant = exact top-k member); reciprocal is one division
    Q("vec_mrr_audit",
      (s, d) => VectorOps.annMrrAudit(embeddings(s, d)),
      Some(s"""WITH flat AS (
              |  SELECT vec_id,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v,
              |    label
              |  FROM embeddings),
              |cent AS (
              |  SELECT label AS cell, pos, floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, cl.cell,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |r AS (
              |  SELECT vec_id, cell,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
              |  FROM d),
              |assign AS (SELECT vec_id, cell FROM r WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM r WHERE vec_id < 5 AND rn <= 2),
              |cand AS (
              |  SELECT DISTINCT p.query_id, a.vec_id
              |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
              |n AS (SELECT vec_id, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e2),
              |ipairs AS (
              |  SELECT c.query_id, c.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
              |           / (q.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM cand c
              |  JOIN n q ON q.vec_id = c.query_id
              |  JOIN n b ON b.vec_id = c.vec_id),
              |ivf_ranked AS (
              |  SELECT query_id, vec_id, rank FROM (
              |    SELECT query_id, vec_id,
              |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |    FROM ipairs) WHERE rank <= 5),
              |xpairs AS (
              |  SELECT q.vec_id AS query_id, b.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
              |           / (q.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM n q JOIN n b ON b.vec_id <> q.vec_id
              |  WHERE q.vec_id < 5),
              |exact_top AS (
              |  SELECT query_id, vec_id FROM (
              |    SELECT query_id, vec_id,
              |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |    FROM xpairs) WHERE rank <= 5)
              |SELECT i.query_id,
              |  CAST(min(CASE WHEN x.vec_id IS NOT NULL THEN i.rank END)
              |    AS INTEGER) AS first_hit_rank,
              |  CAST(count(x.vec_id) AS BIGINT) AS n_hits,
              |  coalesce(floor(CAST(1.0 AS DOUBLE)
              |      / min(CASE WHEN x.vec_id IS NOT NULL THEN i.rank END)
              |      * 10000 + 0.5) / 10000, 0.0) AS rr
              |FROM ivf_ranked i
              |LEFT JOIN exact_top x
              |  ON x.query_id = i.query_id AND x.vec_id = i.vec_id
              |GROUP BY i.query_id
              |ORDER BY i.query_id""".stripMargin)),

    // nDCG@5 of the IVF path: graded gain k+1-exact_rank, log2 discount,
    // shared ideal-DCG literal — the order-quality member of the
    // recall/MRR/nDCG retrieval-eval triple
    Q("vec_ndcg_audit",
      (s, d) => VectorOps.annNdcgAudit(embeddings(s, d)),
      Some(s"""WITH flat AS (
              |  SELECT vec_id,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v,
              |    label
              |  FROM embeddings),
              |cent AS (
              |  SELECT label AS cell, pos, floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, cl.cell,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |r AS (
              |  SELECT vec_id, cell,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
              |  FROM d),
              |assign AS (SELECT vec_id, cell FROM r WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM r WHERE vec_id < 5 AND rn <= 2),
              |cand AS (
              |  SELECT DISTINCT p.query_id, a.vec_id
              |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
              |n AS (SELECT vec_id, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e2),
              |ipairs AS (
              |  SELECT c.query_id, c.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
              |           / (q.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM cand c
              |  JOIN n q ON q.vec_id = c.query_id
              |  JOIN n b ON b.vec_id = c.vec_id),
              |ivf_ranked AS (
              |  SELECT query_id, vec_id, rank FROM (
              |    SELECT query_id, vec_id,
              |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
              |    FROM ipairs) WHERE rank <= 5),
              |xpairs AS (
              |  SELECT q.vec_id AS query_id, b.vec_id,
              |    floor((list_sum(list_transform(range(1, 65), i -> q.v[i] * b.v[i]))
              |           / (q.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM n q JOIN n b ON b.vec_id <> q.vec_id
              |  WHERE q.vec_id < 5),
              |exact_ranked AS (
              |  SELECT query_id, vec_id, xrank FROM (
              |    SELECT query_id, vec_id,
              |      row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS xrank
              |    FROM xpairs) WHERE xrank <= 5)
              |SELECT i.query_id,
              |  CAST(count(x.xrank) AS BIGINT) AS n_hits,
              |  floor(sum(CAST(coalesce(6 - x.xrank, 0) AS DOUBLE)
              |      / log2(CAST(i.rank + 1 AS DOUBLE))) * 10000 + 0.5) / 10000
              |    AS dcg,
              |  floor(sum(CAST(coalesce(6 - x.xrank, 0) AS DOUBLE)
              |      / log2(CAST(i.rank + 1 AS DOUBLE)))
              |    / ${VectorOps.idealDcg(5)} * 10000 + 0.5) / 10000 AS ndcg
              |FROM ivf_ranked i
              |LEFT JOIN exact_ranked x
              |  ON x.query_id = i.query_id AND x.vec_id = i.vec_id
              |GROUP BY i.query_id
              |ORDER BY i.query_id""".stripMargin)),

    // product-quantization ADC: deterministic k-means sub-codebooks (seeds =
    // first-16 vectors' subvectors, one Lloyd iteration, 4dp centroids),
    // per-subspace nearest-code encoding, reconstruction-L2 scoring — every
    // distance quantized before argmin/ranking so both engines rank
    // identically
    Q("vec_pq_adc",
      (s, d) => VectorOps.pqAdcTopK(embeddings(s, d), maxQueryId = 5, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |ms AS (SELECT unnest(range(0, 8)) AS m),
              |vs AS (SELECT vec_id, m, v[m * 8 + 1:m * 8 + 8] AS vsub
              |       FROM e CROSS JOIN ms),
              |seeds AS (SELECT m, CAST(vec_id AS INTEGER) AS code, vsub AS sub
              |          FROM vs WHERE vec_id < 16),
              |sd AS (
              |  SELECT vs.vec_id, vs.m, s.code, vs.vsub,
              |    floor(list_sum(list_transform(range(1, 9),
              |        i -> (vsub[i] - sub[i]) * (vsub[i] - sub[i]))) * 1000000 + 0.5)
              |      / 1000000 AS d
              |  FROM vs JOIN seeds s ON s.m = vs.m),
              |assigned AS (
              |  SELECT m, code, vsub FROM (
              |    SELECT m, code, vsub,
              |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
              |    FROM sd) WHERE rn = 1),
              |cbl AS (
              |  SELECT m, code, pos, floor(avg(x) * 10000 + 0.5) / 10000 AS c
              |  FROM (SELECT m, code,
              |          CAST(unnest(range(len(vsub))) AS INTEGER) AS pos,
              |          unnest(vsub) AS x
              |        FROM assigned)
              |  GROUP BY 1, 2, 3),
              |cb AS (SELECT m, code, list(c ORDER BY pos) AS sub FROM cbl GROUP BY 1, 2),
              |d AS (
              |  SELECT vs.vec_id, vs.m, cb.code, cb.sub,
              |    floor(list_sum(list_transform(range(1, 9),
              |        i -> (vsub[i] - sub[i]) * (vsub[i] - sub[i]))) * 1000000 + 0.5)
              |      / 1000000 AS d
              |  FROM vs JOIN cb ON cb.m = vs.m),
              |codes AS (
              |  SELECT vec_id, m, sub FROM (
              |    SELECT vec_id, m, sub,
              |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
              |    FROM d) WHERE rn = 1),
              |recon AS (SELECT vec_id, flatten(list(sub ORDER BY m)) AS r
              |          FROM codes GROUP BY 1),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
              |scored AS (
              |  SELECT q.query_id, recon.vec_id,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (qv[i] - r[i]) * (qv[i] - r[i]))) * 1000000 + 0.5)
              |      / 1000000 AS adc
              |  FROM q JOIN recon ON recon.vec_id <> q.query_id)
              |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, adc FROM (
              |  SELECT query_id, vec_id, adc,
              |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
              |  FROM scored)
              |WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    // IVF-PQ composition (FAISS IVFx,PQy shape): IVF bounds WHICH vectors
    // are scored, PQ bounds WHAT is read per vector; the oracle replays
    // coarse assignment + codebook training + ADC scoring end to end
    Q("vec_ivfpq_ann",
      (s, d) => VectorOps.ivfPqAnn(embeddings(s, d), maxQueryId = 5, k = 5),
      Some(s"""WITH flat AS (
              |  SELECT vec_id,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v,
              |    label
              |  FROM embeddings),
              |cent AS (
              |  SELECT label AS cell, pos, floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |cdist AS (
              |  SELECT e.vec_id, cl.cell,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e CROSS JOIN cl),
              |cr AS (
              |  SELECT vec_id, cell,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
              |  FROM cdist),
              |assign AS (SELECT vec_id, cell FROM cr WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM cr WHERE vec_id < 5 AND rn <= 2),
              |cand AS (
              |  SELECT DISTINCT p.query_id, a.vec_id
              |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
              |ms AS (SELECT unnest(range(0, 8)) AS m),
              |vs AS (SELECT vec_id, m, v[m * 8 + 1:m * 8 + 8] AS vsub
              |       FROM e CROSS JOIN ms),
              |seeds AS (SELECT m, CAST(vec_id AS INTEGER) AS code, vsub AS sub
              |          FROM vs WHERE vec_id < 16),
              |sd AS (
              |  SELECT vs.vec_id, vs.m, s.code, vs.vsub,
              |    floor(list_sum(list_transform(range(1, 9),
              |        i -> (vsub[i] - sub[i]) * (vsub[i] - sub[i]))) * 1000000 + 0.5)
              |      / 1000000 AS d
              |  FROM vs JOIN seeds s ON s.m = vs.m),
              |assigned AS (
              |  SELECT m, code, vsub FROM (
              |    SELECT m, code, vsub,
              |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
              |    FROM sd) WHERE rn = 1),
              |cbl AS (
              |  SELECT m, code, pos, floor(avg(x) * 10000 + 0.5) / 10000 AS c
              |  FROM (SELECT m, code,
              |          CAST(unnest(range(len(vsub))) AS INTEGER) AS pos,
              |          unnest(vsub) AS x
              |        FROM assigned)
              |  GROUP BY 1, 2, 3),
              |cb AS (SELECT m, code, list(c ORDER BY pos) AS sub FROM cbl GROUP BY 1, 2),
              |d AS (
              |  SELECT vs.vec_id, vs.m, cb.code, cb.sub,
              |    floor(list_sum(list_transform(range(1, 9),
              |        i -> (vsub[i] - sub[i]) * (vsub[i] - sub[i]))) * 1000000 + 0.5)
              |      / 1000000 AS d
              |  FROM vs JOIN cb ON cb.m = vs.m),
              |codes AS (
              |  SELECT vec_id, m, sub FROM (
              |    SELECT vec_id, m, sub,
              |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
              |    FROM d) WHERE rn = 1),
              |recon AS (SELECT vec_id, flatten(list(sub ORDER BY m)) AS r
              |          FROM codes GROUP BY 1),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
              |scored AS (
              |  SELECT c.query_id, c.vec_id,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (qv[i] - r[i]) * (qv[i] - r[i]))) * 1000000 + 0.5)
              |      / 1000000 AS adc
              |  FROM cand c
              |  JOIN recon ON recon.vec_id = c.vec_id
              |  JOIN q ON q.query_id = c.query_id)
              |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, adc FROM (
              |  SELECT query_id, vec_id, adc,
              |    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
              |  FROM scored)
              |WHERE rank <= 5
              |ORDER BY query_id, rank""".stripMargin)),

    Q("dedup_embedding_cosine",
      (s, d) => VectorOps.cosineNearDupPairs(embeddings(s, d), threshold = 0.45),
      Some(s"""WITH e AS (SELECT vec_id, label, $DuckVec AS v FROM embeddings),
              |n AS (SELECT vec_id, label, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |pairs AS (
              |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
              |    floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              |           / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
              |SELECT label, vec_a, vec_b, sim
              |FROM pairs WHERE sim >= 0.45
              |ORDER BY vec_a, vec_b""".stripMargin)),

    // incremental (delta) embedding dedup: the even-vec_id batch probes
    // the label-blocked corpus via a byte-gated broadcast; oracle = the
    // full-union cosine pair set filtered to batch-touching pairs (the
    // 50% split keeps the tiny sf0.01 near-dup pair set non-vacuous)
    Q("dedup_incremental_cosine",
      (s, d) => {
        val emb = embeddings(s, d)
        VectorOps.incrementalCosinePairs(
          emb.filter(col("vec_id") % 2 =!= 0),
          emb.filter(col("vec_id") % 2 === 0))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, $DuckVec AS v FROM embeddings),
              |n AS (SELECT vec_id, label, v,
              |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |pairs AS (
              |  SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
              |    floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              |           / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
              |SELECT label, vec_a, vec_b,
              |  CASE WHEN vec_a % 2 = 0 AND vec_b % 2 = 0 THEN 'new_new'
              |       ELSE 'new_corpus' END AS pair_kind,
              |  sim
              |FROM pairs
              |WHERE (vec_a % 2 = 0 OR vec_b % 2 = 0) AND sim >= 0.45
              |ORDER BY vec_a, vec_b""".stripMargin)),

    // SemDeDup: cell-bucketed semantic dedup — nearest-centroid assignment
    // (same CTEs as vec_centroid_assign) restricts the cosine pair join to
    // co-celled vectors; the oracle replays assignment + within-cell pairs
    Q("dedup_semantic",
      (s, d) => VectorOps.semanticDupPairs(embeddings(s, d), threshold = 0.45),
      Some(s"""WITH flat AS (
              |  SELECT vec_id,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM embeddings),
              |cent AS (
              |  SELECT e.label AS c_label, f.pos,
              |    floor(avg(f.v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat f JOIN embeddings e USING (vec_id)
              |  GROUP BY 1, 2),
              |cl AS (SELECT c_label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, cl.c_label,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |asg AS (
              |  SELECT vec_id, c_label AS cell,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
              |  FROM d),
              |cellv AS (
              |  SELECT a.cell, e2.vec_id, e2.v,
              |    sqrt(list_sum(list_transform(e2.v, x -> x * x))) AS nrm
              |  FROM e2 JOIN asg a ON a.vec_id = e2.vec_id AND a.rn = 1),
              |pairs AS (
              |  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
              |    floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              |           / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM cellv a JOIN cellv b ON a.cell = b.cell AND a.vec_id < b.vec_id)
              |SELECT cell, vec_a, vec_b, sim
              |FROM pairs WHERE sim >= 0.45
              |ORDER BY vec_a, vec_b""".stripMargin)),

    // SemDeDup over LEARNED cells (Abbas et al. 2023): 2 Lloyd iterations
    // (the vec_kmeans_train recurrence), a third nearest-centroid
    // assignment on the trained cells, then within-cell thresholded
    // cosine pairs — the unsupervised variant of dedup_semantic. The
    // oracle unrolls the identical quantization ladder: 4dp centroids,
    // 1e-6 distances, argmin ties to the lowest cid
    Q("dedup_semantic_kmeans",
      (s, d) => VectorOps.semanticDupPairsKmeans(embeddings(s, d),
        threshold = 0.45),
      Some(s"""WITH v AS (
              |  SELECT vec_id, $DuckVec AS v FROM embeddings),
              |c0 AS (
              |  SELECT CAST(vec_id AS INTEGER) AS cid,
              |    list_transform(v, x -> floor(x * 10000 + 0.5) / 10000) AS cvec
              |  FROM v WHERE vec_id < 8),
              |d1 AS (
              |  SELECT v.vec_id, v.v, c0.cid,
              |    floor(list_sum(list_transform(range(1, 65),
              |      i -> (v.v[i] - c0.cvec[i]) * (v.v[i] - c0.cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM v CROSS JOIN c0),
              |a1 AS (
              |  SELECT vec_id, v, cid,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              |  FROM d1),
              |f1 AS (
              |  SELECT cid, CAST(unnest(range(len(v))) AS INTEGER) AS pos, unnest(v) AS val
              |  FROM a1 WHERE rn = 1),
              |m1 AS (
              |  SELECT cid, pos, floor(avg(val) * 10000 + 0.5) / 10000 AS c
              |  FROM f1 GROUP BY 1, 2),
              |c1 AS (SELECT cid, list(c ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
              |d2 AS (
              |  SELECT v.vec_id, v.v, c1.cid,
              |    floor(list_sum(list_transform(range(1, 65),
              |      i -> (v.v[i] - c1.cvec[i]) * (v.v[i] - c1.cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM v CROSS JOIN c1),
              |a2 AS (
              |  SELECT vec_id, v, cid,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              |  FROM d2),
              |f2 AS (
              |  SELECT cid, CAST(unnest(range(len(v))) AS INTEGER) AS pos, unnest(v) AS val
              |  FROM a2 WHERE rn = 1),
              |m2 AS (
              |  SELECT cid, pos, floor(avg(val) * 10000 + 0.5) / 10000 AS c
              |  FROM f2 GROUP BY 1, 2),
              |c2 AS (SELECT cid, list(c ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
              |d3 AS (
              |  SELECT v.vec_id, v.v, c2.cid,
              |    floor(list_sum(list_transform(range(1, 65),
              |      i -> (v.v[i] - c2.cvec[i]) * (v.v[i] - c2.cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM v CROSS JOIN c2),
              |a3 AS (
              |  SELECT vec_id, v, cid AS cell,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              |  FROM d3),
              |cellv AS (
              |  SELECT cell, vec_id, v,
              |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
              |  FROM a3 WHERE rn = 1),
              |pairs AS (
              |  SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
              |    floor((list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              |           / (a.nrm * b.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM cellv a JOIN cellv b ON a.cell = b.cell AND a.vec_id < b.vec_id)
              |SELECT cell, vec_a, vec_b, sim
              |FROM pairs WHERE sim >= 0.45
              |ORDER BY vec_a, vec_b""".stripMargin)),

    // cell-bounded kNN-graph census: nearest-cell assignment, in-cell
    // top-3 cosine neighbors, reciprocity + similarity range per cell;
    // dots/norms are list_reduce sequential folds (MMR doctrine)
    Q("vec_knn_graph",
      (s, d) => VectorOps.knnGraphCensus(embeddings(s, d)),
      Some(s"""WITH flat AS (
              |  SELECT vec_id, label AS true_label,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM embeddings),
              |cent AS (
              |  SELECT true_label AS c_label, pos,
              |    floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT c_label, list(c ORDER BY pos) AS cvec
              |  FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |dd AS (
              |  SELECT e2.vec_id, cl.c_label,
              |    floor(list_sum(list_transform(range(1, 65),
              |      i -> (v[i] - cvec[i]) * (v[i] - cvec[i])))
              |      * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |asgn AS (
              |  SELECT vec_id, c_label AS cell FROM (
              |    SELECT vec_id, c_label, row_number() OVER (
              |      PARTITION BY vec_id ORDER BY dist, c_label) AS rn
              |    FROM dd) WHERE rn = 1),
              |vv AS MATERIALIZED (
              |  SELECT e2.vec_id, e2.v, a.cell,
              |    sqrt(list_reduce(list_transform(e2.v, x -> x * x),
              |      (x, y) -> x + y)) AS nrm
              |  FROM e2 JOIN asgn a ON a.vec_id = e2.vec_id),
              |pairs AS (
              |  SELECT l.cell, l.vec_id AS u, r.vec_id AS vvid,
              |    floor((list_reduce(list_transform(range(1, 65),
              |        i -> l.v[i] * r.v[i]), (x, y) -> x + y)
              |      / (l.nrm * r.nrm)) * 10000 + 0.5) / 10000 AS sim
              |  FROM vv l JOIN vv r
              |    ON l.cell = r.cell AND l.vec_id <> r.vec_id),
              |knn AS MATERIALIZED (
              |  SELECT cell, u, vvid, sim FROM (
              |    SELECT cell, u, vvid, sim, row_number() OVER (
              |      PARTITION BY u ORDER BY sim DESC, vvid) AS rn
              |    FROM pairs) WHERE rn <= 3),
              |recip AS (
              |  SELECT a.cell, count(*) AS n_reciprocal
              |  FROM knn a JOIN knn b ON a.u = b.vvid AND a.vvid = b.u
              |  GROUP BY 1),
              |members AS (SELECT cell, count(*) AS n_members
              |  FROM asgn GROUP BY 1),
              |edges AS (
              |  SELECT cell, count(*) AS n_edges,
              |    min(sim) AS min_sim, max(sim) AS max_sim
              |  FROM knn GROUP BY 1)
              |SELECT m.cell, m.n_members,
              |  COALESCE(e.n_edges, 0) AS n_edges,
              |  COALESCE(r.n_reciprocal, 0) AS n_reciprocal,
              |  e.min_sim, e.max_sim
              |FROM members m LEFT JOIN edges e ON e.cell = m.cell
              |  LEFT JOIN recip r ON r.cell = m.cell
              |ORDER BY m.cell""".stripMargin)),

    // IVF index health: per-cell population, load factor vs mean, global
    // max/mean imbalance — same aggregate-argmin assignment as vec_ivf_ann
    Q("vec_ivf_balance",
      (s, d) => VectorOps.ivfBalance(embeddings(s, d)),
      Some(s"""WITH flat AS (
              |  SELECT vec_id, label AS true_label,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM embeddings),
              |cent AS (
              |  SELECT true_label AS c_label, pos,
              |    floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT c_label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, cl.c_label,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |a AS (
              |  SELECT vec_id, c_label,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
              |  FROM d),
              |sizes AS (
              |  SELECT c_label AS cell, count(*) AS n FROM a WHERE rn = 1 GROUP BY 1),
              |tot AS (
              |  SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_cells,
              |    max(n) AS max_n
              |  FROM sizes)
              |SELECT cell, n,
              |  floor(CAST(n AS DOUBLE) * n_cells / total * 10000 + 0.5) / 10000
              |    AS load_factor,
              |  floor(CAST(max_n AS DOUBLE) * n_cells / total * 10000 + 0.5) / 10000
              |    AS imbalance
              |FROM sizes, tot ORDER BY cell""".stripMargin)),

    // IVF maintenance census: cells frozen on the corpus (vec_id % 10 <> 0),
    // corpus + batch assigned to them, census anchored on ALL frozen cells
    // (a zero-hit cell still counts toward n_cells)
    Q("vec_ivf_stream_census",
      (s, d) => {
        val emb = embeddings(s, d)
        VectorOps.ivfFrozenCensus(
          emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0))
      },
      Some(s"""WITH corpus AS (
              |  SELECT * FROM embeddings WHERE vec_id % 10 <> 0),
              |flat AS (
              |  SELECT vec_id, label AS c_label,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM corpus),
              |cent AS (
              |  SELECT c_label, pos,
              |    floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT c_label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, cl.c_label,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |a AS (
              |  SELECT vec_id, c_label,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
              |  FROM d),
              |hits AS (
              |  SELECT c_label AS cell, count(*) AS hn FROM a WHERE rn = 1 GROUP BY 1),
              |sizes AS (
              |  SELECT cl.c_label AS cell, CAST(coalesce(hits.hn, 0) AS BIGINT) AS n
              |  FROM cl LEFT JOIN hits ON hits.cell = cl.c_label),
              |tot AS (
              |  SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_cells,
              |    max(n) AS max_n
              |  FROM sizes)
              |SELECT cell, n,
              |  floor(CAST(n AS DOUBLE) * n_cells / total * 10000 + 0.5) / 10000
              |    AS load_factor,
              |  floor(CAST(max_n AS DOUBLE) * n_cells / total * 10000 + 0.5) / 10000
              |    AS imbalance
              |FROM sizes, tot ORDER BY cell""".stripMargin)),

    Q("vec_centroid_assign",
      (s, d) => VectorOps.centroidAssignConfusion(embeddings(s, d)),
      // per-cell centroid ARRAYS + an ordered list_sum: the summation order
      // (i = 1..64) is deterministic and matches the native sq_l2 fold
      Some(s"""WITH flat AS (
              |  SELECT vec_id, label AS true_label,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM embeddings),
              |cent AS (
              |  SELECT true_label AS c_label, pos,
              |    floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT c_label, list(c ORDER BY pos) AS cvec FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, label AS true_label, $DuckVec AS v FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, e2.true_label, cl.c_label,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |a AS (
              |  SELECT vec_id, true_label, c_label,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
              |  FROM d)
              |SELECT true_label, c_label AS assigned, count(*) AS n
              |FROM a WHERE rn = 1
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // clustering-agreement audit: purity + ADJUSTED RAND INDEX in the
    // pair-counting form — every sufficient statistic an exact integer
    // pair count (no cross-engine double sums); margin products formed in
    // DOUBLE with an identical expression tree on both sides
    Q("vec_cluster_ari",
      (s, d) => VectorOps.clusterAgreement(embeddings(s, d)),
      Some(s"""WITH flat AS (
              |  SELECT vec_id, label AS true_label,
              |    CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
              |    unnest($DuckVec) AS v
              |  FROM embeddings),
              |cent AS (
              |  SELECT true_label AS c_label, pos,
              |    floor(avg(v) * 10000 + 0.5) / 10000 AS c
              |  FROM flat GROUP BY 1, 2),
              |cl AS (SELECT c_label, list(c ORDER BY pos) AS cvec
              |       FROM cent GROUP BY 1),
              |e2 AS (SELECT vec_id, label AS true_label, $DuckVec AS v
              |       FROM embeddings),
              |d AS (
              |  SELECT e2.vec_id, e2.true_label, cl.c_label,
              |    floor(list_sum(list_transform(range(1, 65),
              |        i -> (v[i] - cvec[i]) * (v[i] - cvec[i])))
              |      * 1000000 + 0.5) / 1000000 AS dist
              |  FROM e2 CROSS JOIN cl),
              |asg AS (
              |  SELECT vec_id, true_label, c_label,
              |    row_number() OVER (PARTITION BY vec_id
              |                       ORDER BY dist, c_label) AS rn
              |  FROM d),
              |conf AS (
              |  SELECT true_label, c_label AS cell, count(*) AS n
              |  FROM asg WHERE rn = 1 GROUP BY 1, 2),
              |tot AS (
              |  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS pairs_both,
              |    CAST(sum(n) AS BIGINT) AS n_vectors,
              |    count(DISTINCT cell) AS n_cells,
              |    count(DISTINCT true_label) AS n_labels
              |  FROM conf),
              |bl AS (SELECT CAST(sum(a * (a - 1) // 2) AS BIGINT)
              |    AS pairs_label
              |  FROM (SELECT CAST(sum(n) AS BIGINT) AS a FROM conf
              |        GROUP BY true_label)),
              |bc AS (SELECT CAST(sum(b * (b - 1) // 2) AS BIGINT)
              |    AS pairs_cell
              |  FROM (SELECT CAST(sum(n) AS BIGINT) AS b FROM conf
              |        GROUP BY cell)),
              |pn AS (SELECT CAST(sum(top) AS BIGINT) AS purity_num
              |  FROM (SELECT max(n) AS top FROM conf GROUP BY cell)),
              |fin AS (
              |  SELECT *,
              |    CAST(pairs_label AS DOUBLE) * CAST(pairs_cell AS DOUBLE)
              |      / CAST(n_vectors * (n_vectors - 1) // 2 AS DOUBLE)
              |      AS expected,
              |    (CAST(pairs_label AS DOUBLE) + CAST(pairs_cell AS DOUBLE))
              |      / 2.0 AS max_index
              |  FROM tot, bl, bc, pn)
              |SELECT n_vectors, n_cells, n_labels, pairs_both,
              |  floor(CAST(purity_num AS DOUBLE) / CAST(n_vectors AS DOUBLE)
              |    * 10000 + 0.5) / 10000 AS purity,
              |  CASE WHEN n_vectors * (n_vectors - 1) // 2 = 0
              |      OR max_index = expected THEN NULL
              |    ELSE floor((CAST(pairs_both AS DOUBLE) - expected)
              |      / (max_index - expected) * 1000000 + 0.5) / 1000000
              |    END AS ari
              |FROM fin""".stripMargin)),

    // K-means TRAINING (2 Lloyd iterations, k=8, deterministic lowest-id
    // seeds): the engine's argmin is a row-local fold over ONE broadcast
    // centroid row (zero-shuffle assignment — the Lloyd shape that holds at
    // corpus scale); the oracle unrolls both iterations with the same
    // quantization ladder (4dp centroids, 1e-6 distances, ties to lowest
    // cid).
    // deterministic k-means++ seeding (farthest-point traversal): each
    // unrolled oracle round mirrors one TakeOrdered(1) engine round —
    // max of the min 1e-6-quantized sq-L2 to the selected set, ties to
    // the lowest vec_id
    Q("vec_kmeanspp_init",
      (s, d) => VectorOps.kmeansppInit(embeddings(s, d), k = 8),
      Some(
        s"""$kmeansppCte
           |SELECT round, cid,
           |  floor(sel_dist * 1000000 + 0.5) / 1000000 AS sel_dist
           |FROM (SELECT round, cid, sel_dist FROM s0
           |      UNION ALL SELECT round, cid, sel_dist FROM s1
           |      UNION ALL SELECT round, cid, sel_dist FROM s2
           |      UNION ALL SELECT round, cid, sel_dist FROM s3
           |      UNION ALL SELECT round, cid, sel_dist FROM s4
           |      UNION ALL SELECT round, cid, sel_dist FROM s5
           |      UNION ALL SELECT round, cid, sel_dist FROM s6
           |      UNION ALL SELECT round, cid, sel_dist FROM s7)
           |ORDER BY round""".stripMargin)),

    // non-parametric kNN-distance OOD screen: exact micro-unit score sums,
    // interpolated p95 threshold over the bounded scored set
    Q("vec_knn_ood",
      (s, d) => VectorOps.knnOodScores(embeddings(s, d)),
      Some(s"""WITH e AS (SELECT vec_id, $DuckVec AS v FROM embeddings),
              |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 32),
              |p AS (SELECT q.query_id, e.vec_id,
              |    CAST(floor(list_sum(list_transform(range(1, 65),
              |      i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i])))
              |      * 1000000 + 0.5) AS BIGINT) AS dm
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
              |r AS (SELECT query_id, vec_id, dm,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY dm, vec_id) AS rk
              |  FROM p),
              |s AS (SELECT query_id, CAST(sum(dm) AS BIGINT) AS sum_micro
              |  FROM r WHERE rk <= 5 GROUP BY 1),
              |t AS (SELECT quantile_cont(CAST(sum_micro AS DOUBLE), 0.95)
              |    AS thr FROM s)
              |SELECT query_id,
              |  floor(CAST(sum_micro AS DOUBLE) / 5000000.0 * 1000000 + 0.5)
              |    / 1000000 AS knn_dist,
              |  CAST(sum_micro AS DOUBLE) > thr AS is_ood
              |FROM s, t ORDER BY query_id""".stripMargin)),

    // seeding-quality audit: inertia under farthest-point vs lowest-id
    // seeds, in exact micro-unit longs (order-free Σ on both engines)
    Q("vec_kmeanspp_quality",
      (s, d) => VectorOps.kmeansppQuality(embeddings(s, d), k = 8),
      Some(
        s"""$kmeansppCte,
           |seeds AS (${(0 to 7).map(i => s"SELECT cvec FROM s$i")
                        .mkString(" UNION ALL ")}),
           |dp AS (SELECT q.vec_id,
           |    min(floor(list_sum(list_transform(range(1, 65),
           |      i -> (q.v[i] - s.cvec[i]) * (q.v[i] - s.cvec[i])))
           |      * 1000000 + 0.5) / 1000000) AS mind
           |  FROM q CROSS JOIN seeds s GROUP BY 1),
           |ipp AS (SELECT count(*) AS n_vectors,
           |    CAST(sum(CAST(floor(mind * 1000000 + 0.5) AS BIGINT))
           |      AS BIGINT) AS inertia_pp_micro FROM dp),
           |lw AS (SELECT cvec FROM q WHERE vec_id < 8),
           |dl AS (SELECT q.vec_id,
           |    min(floor(list_sum(list_transform(range(1, 65),
           |      i -> (q.v[i] - s.cvec[i]) * (q.v[i] - s.cvec[i])))
           |      * 1000000 + 0.5) / 1000000) AS mind
           |  FROM q CROSS JOIN lw s GROUP BY 1),
           |ilow AS (SELECT CAST(sum(CAST(floor(mind * 1000000 + 0.5)
           |      AS BIGINT)) AS BIGINT) AS inertia_lowid_micro FROM dl)
           |SELECT n_vectors, inertia_pp_micro, inertia_lowid_micro,
           |  floor((1.0 - CAST(inertia_pp_micro AS DOUBLE)
           |      / CAST(inertia_lowid_micro AS DOUBLE)) * 10000 + 0.5) / 10000
           |    AS improvement
           |FROM ipp, ilow""".stripMargin)),

    Q("vec_kmeans_train",
      (s, d) => VectorOps.kmeansLloyd(embeddings(s, d), k = 8, iters = 2),
      Some(s"""WITH v AS (
              |  SELECT vec_id, $DuckVec AS v FROM embeddings),
              |c0 AS (
              |  SELECT CAST(vec_id AS INTEGER) AS cid,
              |    list_transform(v, x -> floor(x * 10000 + 0.5) / 10000) AS cvec
              |  FROM v WHERE vec_id < 8),
              |d1 AS (
              |  SELECT v.vec_id, v.v, c0.cid,
              |    floor(list_sum(list_transform(range(1, 65),
              |      i -> (v.v[i] - c0.cvec[i]) * (v.v[i] - c0.cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM v CROSS JOIN c0),
              |a1 AS (
              |  SELECT vec_id, v, cid,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              |  FROM d1),
              |f1 AS (
              |  SELECT cid, CAST(unnest(range(len(v))) AS INTEGER) AS pos, unnest(v) AS val
              |  FROM a1 WHERE rn = 1),
              |m1 AS (
              |  SELECT cid, pos, floor(avg(val) * 10000 + 0.5) / 10000 AS c
              |  FROM f1 GROUP BY 1, 2),
              |c1 AS (SELECT cid, list(c ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
              |d2 AS (
              |  SELECT v.vec_id, v.v, c1.cid,
              |    floor(list_sum(list_transform(range(1, 65),
              |      i -> (v.v[i] - c1.cvec[i]) * (v.v[i] - c1.cvec[i]))) * 1000000 + 0.5) / 1000000 AS dist
              |  FROM v CROSS JOIN c1),
              |a2 AS (
              |  SELECT vec_id, v, cid,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              |  FROM d2),
              |f2 AS (
              |  SELECT cid, CAST(unnest(range(len(v))) AS INTEGER) AS pos, unnest(v) AS val
              |  FROM a2 WHERE rn = 1)
              |SELECT cid, pos, floor(avg(val) * 10000 + 0.5) / 10000 AS c,
              |  count(*) AS n_members
              |FROM f2 GROUP BY 1, 2 ORDER BY cid, pos""".stripMargin))
  )

  /** Multimodal-column queries: binary payload + metadata plumbing is
    * oracle-checked; the batched decode stub is rows-only (its determinism
    * and batch-shape are covered by MultimodalOpsSpec).
    */
  private def multimodalQueries: Seq[Q] = Seq(
    Q("mm_meta",
      (s, d) => MultimodalOps.attachBinary(documents(s, d))
        .groupBy(col("meta.mime").as("mime"))
        .agg(count(lit(1)).as("n_assets"),
          sum(col("n_bytes")).as("total_bytes"),
          min(col("meta.width")).as("min_width"),
          max(col("meta.height")).as("max_height"))
        .orderBy(col("mime")),
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CASE WHEN source = 'src0' THEN 'image/png'
             |         WHEN source = 'src1' THEN 'audio/wav'
             |         ELSE 'video/mp4' END AS mime,
             |    octet_length(CAST(text AS BLOB)) AS n_bytes
             |  FROM documents)
             |SELECT mime, count(*) AS n_assets,
             |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
             |  CAST(min(n_bytes % 640 + 1) AS INTEGER) AS min_width,
             |  CAST(max(n_bytes % 480 + 1) AS INTEGER) AS max_height
             |FROM m GROUP BY mime ORDER BY mime""".stripMargin)),

    Q("mm_sample_chunks",
      (s, d) => MultimodalOps.sampleChunks(documents(s, d)).orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(ceil(octet_length(CAST(text AS BLOB)) / 16.0) AS INTEGER) AS n_chunks,
             |  CAST(ceil(ceil(octet_length(CAST(text AS BLOB)) / 16.0) / 4.0) AS INTEGER) AS n_sampled
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Scalar-only output (doc_id, n_bytes, feat_idx, feature): the driver's
    // canonicalization sorts rows by every column, which crashes on
    // array-typed cells — so the 8-float vector is posexploded into rows.
    // The stub feature is the MD5-61 hash of each payload octant scaled to
    // [0,1) (float), so DuckDB replays it exactly: char substrings equal
    // byte chunks on this ASCII corpus, and REAL/DOUBLE casts are IEEE on
    // both engines.
    Q("mm_decode_features",
      (s, d) => {
        val ds = MultimodalOps.decodeFeatures(documents(s, d))
        ds.toDF()
          .select(col("doc_id"), col("n_bytes"),
            posexplode(expr(
              "transform(features, f -> floor(CAST(f AS DOUBLE) * 10000 + 0.5) / 10000)"))
              .as(Seq("feat_idx", "feature")))
          .orderBy(col("doc_id"), col("feat_idx"))
      },
      Some(s"""WITH j AS (SELECT unnest(range(0, 8)) AS feat_idx),
              |c AS (
              |  SELECT doc_id, octet_length(encode(text)) AS n_bytes, feat_idx,
              |    substring(text,
              |      CAST(feat_idx * octet_length(encode(text)) // 8 AS BIGINT) + 1,
              |      CAST((feat_idx + 1) * octet_length(encode(text)) // 8
              |        - feat_idx * octet_length(encode(text)) // 8 AS BIGINT)) AS chunk
              |  FROM documents CROSS JOIN j)
              |SELECT doc_id, CAST(n_bytes AS INTEGER) AS n_bytes,
              |  CAST(feat_idx AS INTEGER) AS feat_idx,
              |  floor(CAST(CAST(CAST(${duckH61("chunk")} AS DOUBLE)
              |    / 2305843009213693952.0 AS REAL) AS DOUBLE) * 10000 + 0.5) / 10000 AS feature
              |FROM c ORDER BY doc_id, feat_idx""".stripMargin)),

    // REAL header decode round trip: Spark writes valid PNG/BMP headers
    // (big-/little-endian dims at the public fixed offsets) and JPEG
    // prefixes (marker walk past a VARIABLE-length COM segment to SOF0/2,
    // height-before-width BE u16), then learns the dims ONLY by parsing the
    // bytes back; the oracle states the expected dims from the same doc_id
    // derivation — an endianness, offset, or marker-walk slip on either
    // side breaks the hash match. Opaque sources pin the disclosed
    // null-dim stub path.
    Q("mm_decode_dims",
      (s, d) => MultimodalOps.decodeDims(
          MultimodalOps.attachMediaHeader(documents(s, d)))
        .toDF().orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CASE WHEN source = 'src0' THEN 'png'
             |       WHEN source = 'src1' THEN 'bmp'
             |       WHEN source = 'src2' THEN 'jpeg'
             |       WHEN source = 'src3' THEN 'gif'
             |       ELSE 'opaque' END AS format,
             |  CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
             |       THEN CAST(doc_id % 640 + 1 AS INTEGER) END AS width,
             |  CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
             |       THEN CAST(doc_id % 480 + 1 AS INTEGER) END AS height,
             |  CASE WHEN source = 'src0'
             |       THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INTEGER)
             |       WHEN source = 'src1'
             |       THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 32 END AS INTEGER)
             |       WHEN source = 'src2'
             |       THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 12 END AS INTEGER)
             |       WHEN source = 'src3'
             |       THEN CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 8 END AS INTEGER)
             |       END AS bit_depth
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL audio-container decode round trip: Spark writes valid RIFF/WAVE
    // headers (variable-length odd-sized LIST chunk before fmt — forces a
    // chunk walk with the RIFF even-byte pad rule) and learns the PCM
    // parameters only by parsing the bytes back; the oracle replays the
    // doc_id arithmetic. src0–src9 (4-char sources) are WAV; the rest pin
    // the opaque fallback.
    // signal-level audio census over REAL PCM16 bytes: RIFF chunk walk to
    // the data chunk + LE-int16 sample walk; exact-integer peak/clip/zero-
    // crossings, rms = two correctly-rounded IEEE ops on an exact-long sum
    Q("mm_audio_pcm_census",
      (s, d) => MultimodalOps.pcmCensus(documents(s, d))
        .toDF().orderBy(col("doc_id")),
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id % 1000003 AS e,
             |    CAST(doc_id % 200 + 16 AS INTEGER) AS n
             |  FROM documents WHERE length(source) = 4),
             |idx AS (SELECT doc_id, e, n, unnest(range(n)) AS i FROM d),
             |s AS (SELECT doc_id, n, i,
             |    CASE WHEN i % 37 = 0 THEN 32767
             |      ELSE CAST(xor(e * 2654435761 + i * 40503,
             |             (e * 2654435761 + i * 40503) >> 13) % 60000 - 30000
             |           AS INTEGER)
             |    END AS smp
             |  FROM idx),
             |w AS (SELECT doc_id, n, i, smp,
             |    lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
             |  FROM s),
             |a AS (SELECT doc_id,
             |    CAST(max(n) AS BIGINT) AS n_samples,
             |    CAST(max(abs(smp)) AS INTEGER) AS peak,
             |    CAST(sum(CASE WHEN abs(smp) >= 32767 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_clip,
             |    CAST(sum(CASE WHEN prev IS NOT NULL
             |        AND ((smp < 0) <> (prev < 0)) THEN 1 ELSE 0 END)
             |      AS BIGINT) AS zero_cross,
             |    CAST(sum(CAST(smp AS BIGINT) * smp) AS BIGINT) AS sum_sq
             |  FROM w GROUP BY 1)
             |SELECT doc_id, n_samples, peak, n_clip, zero_cross,
             |  sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE)) AS rms
             |FROM a ORDER BY doc_id""".stripMargin)),

    // silence-run census: the engine's single-pass run-length fold vs an
    // independent set-based gaps-and-islands oracle over the same replayed
    // PCM formula; everything but the ratio is exact integers
    Q("mm_audio_silence_census",
      (s, d) => MultimodalOps.silenceCensus(documents(s, d))
        .toDF().orderBy(col("doc_id")),
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id % 1000003 AS e,
             |    CAST(doc_id % 200 + 16 AS INTEGER) AS n
             |  FROM documents WHERE length(source) = 4),
             |idx AS (SELECT doc_id, e, n, unnest(range(n)) AS i FROM d),
             |s AS (SELECT doc_id, n, i,
             |    CASE WHEN i % 37 = 0 THEN 32767
             |      ELSE CAST(xor(e * 2654435761 + i * 40503,
             |             (e * 2654435761 + i * 40503) >> 13) % 60000 - 30000
             |           AS INTEGER)
             |    END AS smp
             |  FROM idx),
             |f AS (SELECT doc_id, n, i, abs(smp) < 9000 AS sil FROM s),
             |r AS (SELECT doc_id, i, sil,
             |    i - row_number() OVER (PARTITION BY doc_id, sil ORDER BY i)
             |      AS isl
             |  FROM f),
             |runs AS (SELECT doc_id, isl, count(*) AS len
             |         FROM r WHERE sil GROUP BY 1, 2),
             |agg AS (SELECT doc_id, CAST(max(len) AS BIGINT) AS longest_run,
             |    CAST(sum(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_runs
             |  FROM runs GROUP BY 1),
             |base AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
             |    CAST(sum(CASE WHEN sil THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_silent
             |  FROM f GROUP BY 1)
             |SELECT base.doc_id, n_samples, n_silent,
             |  CAST(coalesce(longest_run, 0) AS BIGINT) AS longest_run,
             |  CAST(coalesce(n_runs, 0) AS BIGINT) AS n_runs,
             |  floor(CAST(n_silent AS DOUBLE) / CAST(n_samples AS DOUBLE)
             |    * 10000 + 0.5) / 10000 AS silence_ratio
             |FROM base LEFT JOIN agg USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    Q("mm_audio_meta",
      (s, d) => MultimodalOps.decodeAudioMeta(
          MultimodalOps.attachWavHeader(documents(s, d)))
        .toDF().orderBy(col("doc_id")),
      Some("""WITH p AS (
             |  SELECT doc_id, length(source) = 4 AS is_wav,
             |    CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
             |      WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS rate
             |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN is_wav THEN 'wav' ELSE 'opaque' END AS format,
             |  CASE WHEN is_wav THEN CAST(doc_id % 2 + 1 AS INTEGER) END AS channels,
             |  CASE WHEN is_wav THEN CAST(rate AS INTEGER) END AS sample_rate,
             |  CASE WHEN is_wav THEN CAST((doc_id % 3 + 1) * 8 AS INTEGER) END AS bits_per_sample,
             |  CASE WHEN is_wav THEN CAST(doc_id % 1000 + 1 AS BIGINT) END AS n_frames,
             |  CASE WHEN is_wav THEN CAST((doc_id % 1000 + 1) * 1000 // rate AS BIGINT) END AS duration_ms
             |FROM p ORDER BY doc_id""".stripMargin)),

    // REAL video-container decode round trip: valid ISO-BMFF box layout
    // (ftyp brand check, variable-length free box, NESTED moov→udta→mvhd
    // walk, v0/v1 mvhd field layouts alternating by parity); the oracle
    // replays the doc_id arithmetic. src10–src19 (5-char sources) are MP4.
    Q("mm_video_meta",
      (s, d) => MultimodalOps.decodeVideoMeta(
          MultimodalOps.attachMp4Header(documents(s, d)))
        .toDF().orderBy(col("doc_id")),
      Some("""WITH p AS (
             |  SELECT doc_id, length(source) = 5 AS is_mp4,
             |    CASE doc_id % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
             |      WHEN 2 THEN 44100 ELSE 90000 END AS ts
             |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN is_mp4 THEN 'mp4' ELSE 'opaque' END AS format,
             |  CASE WHEN is_mp4 THEN 'isom' END AS major_brand,
             |  CASE WHEN is_mp4 THEN CAST(ts AS INTEGER) END AS timescale,
             |  CASE WHEN is_mp4 THEN CAST(doc_id % 100000 + 1 AS BIGINT) END AS duration_ticks,
             |  CASE WHEN is_mp4 THEN CAST((doc_id % 100000 + 1) * 1000 // ts AS BIGINT) END AS duration_ms
             |FROM p ORDER BY doc_id""".stripMargin)),

    // visual near-dup: average-hash over REAL encoded-then-decoded 8x8
    // BMP thumbnails (bottom-up row walk; the hash comes from bytes, not
    // the pixel generator), banded Hamming search with exact recall at
    // radius 3. The oracle replays the pixel formula straight to hash
    // words — absolute h1/h2 parity pins the decoder's orientation, which
    // the permutation-invariant hamming alone would not catch.
    // dHash near-dup pairs: 56 horizontal-gradient sign bits from the
    // REAL decoded BMP; oracle recomputes from the fixture pixel formula
    // (independent implementations); 5-band pigeonhole covers Hamming<=4
    Q("mm_image_dhash_dedup",
      (s, d) => MultimodalOps.imageDHashPairs(documents(s, d)),
      Some("""WITH grid AS (
             |  SELECT doc_id, r, c,
             |    16 + (xor(m, m >> 13) % 224) AS base
             |  FROM (
             |    SELECT d.doc_id, r.r AS r, c.c AS c,
             |      ((d.doc_id - (d.doc_id % 2)) % 1000003) * 2654435761
             |        + (r.r * 8 + c.c) * 40503 AS m
             |    FROM documents d,
             |      (SELECT unnest(range(8)) AS r) r,
             |      (SELECT unnest(range(8)) AS c) c)),
             |px AS (
             |  SELECT doc_id, r, c,
             |    CASE WHEN doc_id % 2 = 1 AND (r * 8 + c) IN (0, 23)
             |           THEN base + 8
             |         WHEN doc_id % 2 = 1 AND (r * 8 + c) = 46
             |           THEN base - 16
             |         ELSE base END AS v
             |  FROM grid),
             |g AS (
             |  SELECT a.doc_id, a.r, a.c,
             |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
             |  FROM px a JOIN px b
             |    ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
             |  WHERE a.c < 7),
             |hs AS (
             |  SELECT doc_id,
             |    CAST(sum(CASE WHEN r * 7 + c < 32 AND bit = 1
             |      THEN (1::BIGINT << (r * 7 + c)) ELSE 0 END) AS BIGINT) AS h1,
             |    CAST(sum(CASE WHEN r * 7 + c >= 32 AND bit = 1
             |      THEN (1::BIGINT << (r * 7 + c - 32)) ELSE 0 END) AS BIGINT) AS h2
             |  FROM g GROUP BY 1),
             |bands AS (
             |  SELECT doc_id, h1, h2, b.band,
             |    CASE b.band WHEN 0 THEN h1 % 4096
             |                WHEN 1 THEN (h1 // 4096) % 2048
             |                WHEN 2 THEN (h1 // 8388608)
             |                            + ((h2 // 4194304) % 4) * 512
             |                WHEN 3 THEN h2 % 2048
             |                ELSE (h2 // 2048) % 2048 END AS key
             |  FROM hs, (SELECT unnest(range(5)) AS band) b),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b,
             |  CAST(bit_count(xor(x.h1, y.h1))
             |    + bit_count(xor(x.h2, y.h2)) AS INTEGER) AS hamming,
             |  x.h1 AS h1_a, x.h2 AS h2_a, y.h1 AS h1_b, y.h2 AS h2_b
             |FROM cand JOIN hs x ON x.doc_id = doc_a
             |  JOIN hs y ON y.doc_id = doc_b
             |WHERE bit_count(xor(x.h1, y.h1)) + bit_count(xor(x.h2, y.h2)) <= 4
             |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("mm_image_phash_dedup",
      (s, d) => MultimodalOps.imagePHashPairs(documents(s, d)),
      Some {
        // the fixed-point DCT basis as SQL literals — the SAME hardcoded
        // table the native hash folds (MultimodalOps.DctC)
        val ctRows = (for {
          k <- 0 until 8; n <- 0 until 8
        } yield s"(${k}, ${n}, ${MultimodalOps.DctC(k)(n)})").mkString(", ")
        s"""WITH grid AS (
           |  SELECT doc_id, r, c,
           |    16 + (xor(m, m >> 13) % 224) AS base
           |  FROM (
           |    SELECT d.doc_id, r.r AS r, c.c AS c,
           |      ((d.doc_id - (d.doc_id % 2)) % 1000003) * 2654435761
           |        + (r.r * 8 + c.c) * 40503 AS m
           |    FROM documents d,
           |      (SELECT unnest(range(8)) AS r) r,
           |      (SELECT unnest(range(8)) AS c) c)),
           |px AS (
           |  SELECT doc_id, r, c,
           |    CASE WHEN doc_id % 2 = 1 AND (r * 8 + c) IN (0, 23)
           |           THEN base + 8
           |         WHEN doc_id % 2 = 1 AND (r * 8 + c) = 46
           |           THEN base - 16
           |         ELSE base END AS v
           |  FROM grid),
           |ct(k, n, cc) AS (VALUES $ctRows),
           |uu AS (
           |  SELECT px.doc_id, ct.k AS u, px.c,
           |    CAST(sum(CAST(px.v AS BIGINT) * ct.cc) AS BIGINT) AS uv
           |  FROM px JOIN ct ON ct.n = px.r GROUP BY 1, 2, 3),
           |tt AS (
           |  SELECT uu.doc_id, uu.u, ct.k AS v,
           |    CAST(sum(uv * ct.cc) AS BIGINT) AS tv
           |  FROM uu JOIN ct ON ct.n = uu.c GROUP BY 1, 2, 3),
           |st AS (
           |  SELECT doc_id,
           |    CAST(sum(CASE WHEN u = 0 AND v = 0 THEN 0 ELSE tv END)
           |      AS BIGINT) AS ac_sum
           |  FROM tt GROUP BY 1),
           |hs AS (
           |  SELECT tt.doc_id,
           |    CAST(sum(CASE WHEN u * 8 + v BETWEEN 1 AND 31
           |        AND tv * 63 > ac_sum
           |      THEN (1::BIGINT << (u * 8 + v)) ELSE 0 END) AS BIGINT) AS h1,
           |    CAST(sum(CASE WHEN u * 8 + v >= 32 AND tv * 63 > ac_sum
           |      THEN (1::BIGINT << (u * 8 + v - 32)) ELSE 0 END) AS BIGINT) AS h2
           |  FROM tt JOIN st USING (doc_id) GROUP BY 1),
           |bands AS (
           |  SELECT doc_id, h1, h2, b.band,
           |    CASE b.band WHEN 0 THEN h1 % 8192
           |                WHEN 1 THEN (h1 // 8192) % 8192
           |                WHEN 2 THEN (h1 // 67108864) + (h2 % 128) * 64
           |                WHEN 3 THEN (h2 // 128) % 8192
           |                ELSE h2 // 1048576 END AS key
           |  FROM hs, (SELECT unnest(range(5)) AS band) b),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b,
           |  CAST(bit_count(xor(x.h1, y.h1))
           |    + bit_count(xor(x.h2, y.h2)) AS INTEGER) AS hamming,
           |  x.h1 AS h1_a, x.h2 AS h2_a, y.h1 AS h1_b, y.h2 AS h2_b
           |FROM cand JOIN hs x ON x.doc_id = doc_a
           |  JOIN hs y ON y.doc_id = doc_b
           |WHERE bit_count(xor(x.h1, y.h1)) + bit_count(xor(x.h2, y.h2)) <= 4
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // rescale-robustness census: the oracle replays the WHOLE integer
    // image pipeline (2× replicate → clamped 3×3 box blur → sum-pool for
    // pHash / floor-avg-pool for aHash → DCT + mean thresholds) so the
    // "pHash survives rescaling, aHash doesn't" claim is hash-verified
    Q("mm_image_rescale_census",
      (s, d) => MultimodalOps.imageRescaleRobustness(documents(s, d)),
      Some {
        val ctRows = (for {
          k <- 0 until 8; n <- 0 until 8
        } yield s"(${k}, ${n}, ${MultimodalOps.DctC(k)(n)})").mkString(", ")
        // integer DCT + AC-mean sign hash of a (doc_id, r, c, v) CTE
        def phash(src: String, p: String): String =
          s"""${p}u AS (SELECT s.doc_id, ct.k AS u, s.c,
             |    CAST(sum(CAST(s.v AS BIGINT) * ct.cc) AS BIGINT) AS uv
             |  FROM $src s JOIN ct ON ct.n = s.r GROUP BY 1, 2, 3),
             |${p}t AS (SELECT w.doc_id, w.u, ct.k AS v,
             |    CAST(sum(uv * ct.cc) AS BIGINT) AS tv
             |  FROM ${p}u w JOIN ct ON ct.n = w.c GROUP BY 1, 2, 3),
             |${p}st AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN u = 0 AND v = 0 THEN 0 ELSE tv END)
             |      AS BIGINT) AS ac_sum
             |  FROM ${p}t GROUP BY 1),
             |${p}hs AS (SELECT t.doc_id,
             |    CAST(sum(CASE WHEN u * 8 + v BETWEEN 1 AND 31
             |        AND tv * 63 > ac_sum
             |      THEN (1::BIGINT << (u * 8 + v)) ELSE 0 END) AS BIGINT) AS h1,
             |    CAST(sum(CASE WHEN u * 8 + v >= 32 AND tv * 63 > ac_sum
             |      THEN (1::BIGINT << (u * 8 + v - 32)) ELSE 0 END) AS BIGINT) AS h2
             |  FROM ${p}t t JOIN ${p}st USING (doc_id) GROUP BY 1)""".stripMargin
        // pixel-vs-mean aHash of a (doc_id, r, c, v) CTE
        def ahash(src: String, p: String): String =
          s"""${p}s AS (SELECT doc_id, sum(v) AS total FROM $src GROUP BY 1),
             |${p}hs AS (SELECT x.doc_id,
             |    CAST(sum(CASE WHEN r * 8 + c < 32 AND v * 64 > total
             |      THEN (1::BIGINT << (r * 8 + c)) ELSE 0 END) AS BIGINT) AS h1,
             |    CAST(sum(CASE WHEN r * 8 + c >= 32 AND v * 64 > total
             |      THEN (1::BIGINT << (r * 8 + c - 32)) ELSE 0 END) AS BIGINT) AS h2
             |  FROM $src x JOIN ${p}s USING (doc_id) GROUP BY 1)""".stripMargin
        s"""WITH grid AS (
           |  SELECT doc_id, r, c,
           |    16 + (xor(m, m >> 13) % 224) AS base
           |  FROM (
           |    SELECT d.doc_id, r.r AS r, c.c AS c,
           |      ((d.doc_id - (d.doc_id % 2)) % 1000003) * 2654435761
           |        + (r.r * 8 + c.c) * 40503 AS m
           |    FROM documents d,
           |      (SELECT unnest(range(8)) AS r) r,
           |      (SELECT unnest(range(8)) AS c) c)),
           |px AS MATERIALIZED (
           |  SELECT doc_id, r, c,
           |    CASE WHEN doc_id % 2 = 1 AND (r * 8 + c) IN (0, 23)
           |           THEN base + 8
           |         WHEN doc_id % 2 = 1 AND (r * 8 + c) = 46
           |           THEN base - 16
           |         ELSE base END AS v
           |  FROM grid),
           |ct(k, n, cc) AS (VALUES $ctRows),
           |rep AS MATERIALIZED (
           |  SELECT p.doc_id, rr.r, cc.c, p.v
           |  FROM px p,
           |    (SELECT unnest(range(16)) AS r) rr,
           |    (SELECT unnest(range(16)) AS c) cc
           |  WHERE p.r = rr.r // 2 AND p.c = cc.c // 2),
           |b16 AS MATERIALIZED (
           |  SELECT t.doc_id, t.r, t.c, CAST(sum(s.v) // 9 AS BIGINT) AS v
           |  FROM rep t,
           |    (SELECT unnest(range(-1, 2)) AS dr) d1,
           |    (SELECT unnest(range(-1, 2)) AS dc) d2,
           |    rep s
           |  WHERE s.doc_id = t.doc_id
           |    AND s.r = LEAST(15, GREATEST(0, t.r + d1.dr))
           |    AND s.c = LEAST(15, GREATEST(0, t.c + d2.dc))
           |  GROUP BY 1, 2, 3),
           |ps AS MATERIALIZED (
           |  SELECT doc_id, r // 2 AS r, c // 2 AS c, CAST(sum(v) AS BIGINT) AS v
           |  FROM b16 GROUP BY 1, 2, 3),
           |pa AS MATERIALIZED (
           |  SELECT doc_id, r // 2 AS r, c // 2 AS c,
           |    CAST(sum(v) // 4 AS BIGINT) AS v
           |  FROM b16 GROUP BY 1, 2, 3),
           |${phash("px", "pb")},
           |${phash("ps", "pr")},
           |${ahash("px", "ab")},
           |${ahash("pa", "ar")},
           |ham AS (
           |  SELECT b.doc_id,
           |    CAST(bit_count(xor(b.h1, r.h1)) + bit_count(xor(b.h2, r.h2))
           |      AS INTEGER) AS p_ham,
           |    CAST(bit_count(xor(x.h1, y.h1)) + bit_count(xor(x.h2, y.h2))
           |      AS INTEGER) AS a_ham
           |  FROM pbhs b JOIN prhs r USING (doc_id)
           |  JOIN abhs x USING (doc_id) JOIN arhs y USING (doc_id))
           |SELECT p_ham <= 4 AS phash_caught, a_ham <= 3 AS ahash_caught,
           |  count(*) AS n_docs,
           |  CAST(min(p_ham) AS INTEGER) AS min_p_ham,
           |  CAST(max(p_ham) AS INTEGER) AS max_p_ham,
           |  CAST(min(a_ham) AS INTEGER) AS min_a_ham,
           |  CAST(max(a_ham) AS INTEGER) AS max_a_ham
           |FROM ham GROUP BY 1, 2
           |ORDER BY phash_caught, ahash_caught""".stripMargin
      }),

    Q("mm_image_ahash_dedup",
      (s, d) => MultimodalOps.imageAHashPairs(documents(s, d)),
      Some("""WITH grid AS (
             |  SELECT doc_id, r, c,
             |    16 + (xor(m, m >> 13) % 224) AS base
             |  FROM (
             |    SELECT d.doc_id, r.r AS r, c.c AS c,
             |      ((d.doc_id - (d.doc_id % 2)) % 1000003) * 2654435761
             |        + (r.r * 8 + c.c) * 40503 AS m
             |    FROM documents d,
             |      (SELECT unnest(range(8)) AS r) r,
             |      (SELECT unnest(range(8)) AS c) c)),
             |px AS (
             |  SELECT doc_id, r, c,
             |    CASE WHEN doc_id % 2 = 1 AND (r * 8 + c) IN (0, 23)
             |           THEN base + 8
             |         WHEN doc_id % 2 = 1 AND (r * 8 + c) = 46
             |           THEN base - 16
             |         ELSE base END AS v
             |  FROM grid),
             |s AS (SELECT doc_id, sum(v) AS total FROM px GROUP BY 1),
             |hs AS (
             |  SELECT px.doc_id,
             |    CAST(sum(CASE WHEN r * 8 + c < 32 AND v * 64 > total
             |      THEN (1::BIGINT << (r * 8 + c)) ELSE 0 END) AS BIGINT) AS h1,
             |    CAST(sum(CASE WHEN r * 8 + c >= 32 AND v * 64 > total
             |      THEN (1::BIGINT << (r * 8 + c - 32)) ELSE 0 END) AS BIGINT) AS h2
             |  FROM px JOIN s USING (doc_id) GROUP BY 1),
             |bands AS (
             |  SELECT doc_id, h1, h2, b.band,
             |    CASE b.band WHEN 0 THEN h1 % 65536 WHEN 1 THEN h1 // 65536
             |                WHEN 2 THEN h2 % 65536 ELSE h2 // 65536 END AS key
             |  FROM hs, (SELECT unnest(range(4)) AS band) b),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b,
             |  CAST(bit_count(xor(x.h1, y.h1))
             |    + bit_count(xor(x.h2, y.h2)) AS INTEGER) AS hamming,
             |  x.h1 AS h1_a, x.h2 AS h2_a, y.h1 AS h1_b, y.h2 AS h2_b
             |FROM cand
             |JOIN hs x ON x.doc_id = doc_a
             |JOIN hs y ON y.doc_id = doc_b
             |WHERE bit_count(xor(x.h1, y.h1)) + bit_count(xor(x.h2, y.h2)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // luminance census over the SAME decoded pixels the hash decoders
    // walk: histogram/min/max/sum exact ints from the byte walk, entropy
    // the one log expression (q4-floored; cnt/64 divisions exact binary)
    // edge-density census: engine's central-difference array walk vs an
    // independent 4-way neighbor self-join on the replayed pixel grid;
    // gradients exact integers, only the fraction is (quantized) double
    Q("mm_image_edge_density",
      (s, d) => MultimodalOps.edgeDensityCensus(documents(s, d)),
      Some("""WITH grid AS (
             |  SELECT doc_id, r, c,
             |    16 + (xor(m, m >> 13) % 224) AS base
             |  FROM (
             |    SELECT d.doc_id, r.r AS r, c.c AS c,
             |      ((d.doc_id - (d.doc_id % 2)) % 1000003) * 2654435761
             |        + (r.r * 8 + c.c) * 40503 AS m
             |    FROM documents d,
             |      (SELECT unnest(range(8)) AS r) r,
             |      (SELECT unnest(range(8)) AS c) c)),
             |px AS (
             |  SELECT doc_id, r, c,
             |    CASE WHEN doc_id % 2 = 1 AND (r * 8 + c) IN (0, 23)
             |           THEN base + 8
             |         WHEN doc_id % 2 = 1 AND (r * 8 + c) = 46
             |           THEN base - 16
             |         ELSE base END AS v
             |  FROM grid),
             |g AS (
             |  SELECT p.doc_id,
             |    abs(pe.v - pw.v) + abs(ps.v - pn.v) AS grad
             |  FROM px p
             |  JOIN px pe ON pe.doc_id = p.doc_id AND pe.r = p.r
             |    AND pe.c = p.c + 1
             |  JOIN px pw ON pw.doc_id = p.doc_id AND pw.r = p.r
             |    AND pw.c = p.c - 1
             |  JOIN px ps ON ps.doc_id = p.doc_id AND ps.r = p.r + 1
             |    AND ps.c = p.c
             |  JOIN px pn ON pn.doc_id = p.doc_id AND pn.r = p.r - 1
             |    AND pn.c = p.c
             |  WHERE p.r BETWEEN 1 AND 6 AND p.c BETWEEN 1 AND 6)
             |SELECT doc_id, CAST(sum(grad) AS BIGINT) AS grad_sum,
             |  CAST(max(grad) AS INTEGER) AS grad_max,
             |  CAST(sum(CASE WHEN grad >= 150 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_edge,
             |  floor(CAST(sum(CASE WHEN grad >= 150 THEN 1 ELSE 0 END)
             |      AS DOUBLE) / 36.0 * 10000 + 0.5) / 10000 AS edge_frac
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("mm_image_entropy",
      (s, d) => MultimodalOps.imageEntropyCensus(documents(s, d)),
      Some("""WITH grid AS (
             |  SELECT doc_id, r, c,
             |    16 + (xor(m, m >> 13) % 224) AS base
             |  FROM (
             |    SELECT d.doc_id, r.r AS r, c.c AS c,
             |      ((d.doc_id - (d.doc_id % 2)) % 1000003) * 2654435761
             |        + (r.r * 8 + c.c) * 40503 AS m
             |    FROM documents d,
             |      (SELECT unnest(range(8)) AS r) r,
             |      (SELECT unnest(range(8)) AS c) c)),
             |px AS (
             |  SELECT doc_id, r, c,
             |    CASE WHEN doc_id % 2 = 1 AND (r * 8 + c) IN (0, 23)
             |           THEN base + 8
             |         WHEN doc_id % 2 = 1 AND (r * 8 + c) = 46
             |           THEN base - 16
             |         ELSE base END AS v
             |  FROM grid),
             |b AS (SELECT doc_id, v // 16 AS bin, count(*) AS cnt
             |      FROM px GROUP BY 1, 2),
             |st AS (SELECT doc_id, CAST(min(v) AS INTEGER) AS p_min,
             |    CAST(max(v) AS INTEGER) AS p_max,
             |    CAST(sum(v) AS BIGINT) AS sum_v
             |  FROM px GROUP BY 1),
             |e AS (SELECT doc_id, count(*) AS n_bins,
             |    floor((-sum((CAST(cnt AS DOUBLE) / 64.0)
             |        * ln(CAST(cnt AS DOUBLE) / 64.0))
             |      / 0.6931471805599453) * 10000 + 0.5) / 10000
             |      AS entropy_bits
             |  FROM b GROUP BY 1)
             |SELECT st.doc_id, p_min, p_max, sum_v, n_bins, entropy_bits
             |FROM st JOIN e USING (doc_id)
             |ORDER BY st.doc_id""".stripMargin))
  )

  private def all: Seq[Q] =
    parityQueries ++ qualityQueries ++ relationalQueries ++ graphQueries ++
      timeSeriesQueries ++ eventQueries ++ textQueries ++ vectorQueries ++
      multimodalQueries

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
