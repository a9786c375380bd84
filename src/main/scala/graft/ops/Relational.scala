package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator library over the TPC-H-ish star schema.
  *
  * The reference pipeline has no joins/windows (SURVEY.md §2.6–2.8); these are
  * the general-purpose relational operators the engine ships for the driver's
  * star-schema harness, written Spark-first:
  *
  *   - dimension joins take `broadcast()` hints (region/nation/supplier/part are
  *     tiny at every scale factor; at 100 TB the fact table never shuffles for
  *     a dim join),
  *   - fact-fact joins (lineitem ⋈ orders) are left to Catalyst/AQE, which
  *     picks sort-merge with both sides hash-partitioned on the join key,
  *   - aggregations rely on partial (map-side) aggregation — no `collect`,
  *     no driver loops,
  *   - every query ends in a deterministic `orderBy` on a unique key so the
  *     DuckDB oracle hash-compare is order-stable, and every float aggregate
  *     is `round`ed to absorb summation-order ulp differences.
  */
object Relational {

  /** Money-style revenue expression used by several queries. */
  private def revenue: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** TPC-H Q1-shaped pricing summary: single scan, hash aggregate on two
    * low-cardinality keys. Partial aggregation makes the shuffle O(groups).
    */
  def pricingSummary(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(revenue), 2).as("sum_disc_price"),
        round(sum(revenue * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-shaped: fact-fact join (sort-merge) + customer segment
    * filter, grouped revenue, top-10. The customer side is filtered *before*
    * the join and carries no hint — the segment slice is ~1/|segments| of a
    * table that scales with the data, so the planner broadcasts it from the
    * scan's size while it is small and shuffles it past that, instead of an
    * OOM'd mandatory hint.
    */
  def topRevenueOrders(li: DataFrame, orders: DataFrame, customer: DataFrame,
                       segment: String, k: Int): DataFrame = {
    val cust = customer.filter(col("c_mktsegment") === segment).select("c_custkey")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(revenue), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
  }

  /** TPC-H Q5-shaped: five-way star join; nation/region broadcast
    * unconditionally (fixed 25/5 rows), the data-scaled customer/supplier
    * sides are BYTE-GATED, and only the lineitem↔orders edge must shuffle.
    */
  def regionRevenue(li: DataFrame, orders: DataFrame, customer: DataFrame,
                    supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer,
        col("o_custkey") === col("c_custkey"))
      .join(supplier,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(revenue), 2).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))

  /** Semi join: customers that have at least one order (EXISTS). No payload
    * columns cross the join — Spark's LeftSemi never materializes the right side
    * beyond the key.
    */
  def customersWithOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders.select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .orderBy(col("c_mktsegment"))

  /** Anti join: customers with no order in the given status (NOT EXISTS).
    * The filter is applied to the right side before the join, so the anti
    * join's build side shrinks to the matching keys only.
    */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame,
                             status: String): DataFrame =
    customer.join(
        orders.filter(col("o_orderstatus") === status).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** Navigation + distribution window functions (lag / lead / ntile) over
    * per-customer order history — one shuffle on the partition key, every
    * function evaluated in the same window pass.
    */
  def leadLagQuartiles(orders: DataFrame, maxCustkey: Int): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders.filter(col("o_custkey") < maxCustkey)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        round(col("o_totalprice"), 2).as("price"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        ntile(4).over(w).cast("int").as("quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Full outer join: customer records against per-customer counts of
    * orders in one status — rows survive from BOTH unmatched sides (the
    * filter manufactures customers with no matching orders). Summarized to
    * match-type counts so the result is scale-independent.
    */
  def fullOuterOrderCounts(customer: DataFrame, orders: DataFrame,
                           status: String): DataFrame = {
    val co = orders.filter(col("o_orderstatus") === status)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    customer.select(col("c_custkey"))
      .join(co, col("c_custkey") === col("o_custkey"), "full_outer")
      .withColumn("match_type",
        when(col("c_custkey").isNull, "order_only")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("both"))
      .groupBy(col("match_type"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("n_orders")), lit(0L)).as("total_orders"))
      .orderBy(col("match_type"))
  }

  /** Top-k per group via ranking window: top-N orders per customer by price.
    * One shuffle on the partition key; rank predicate is applied before any
    * further join so the window output is pruned early.
    */
  def topOrdersPerCustomer(orders: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Running total window (ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    * over a deterministic unique ordering. Restricted to a few suppliers so the
    * result stays oracle-sized at every scale factor.
    */
  def runningQuantity(li: DataFrame, maxSuppkey: Int): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.filter(col("l_suppkey") < maxSuppkey)
      .withColumn("running_qty", round(sum(col("l_quantity")).over(w), 2))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("shipdate"),
        col("l_quantity"), col("running_qty"))
      .orderBy(col("l_suppkey"), col("shipdate"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Moving average over a monthly time grid (3-row trailing window per
    * priority class). Months are truncated with `date_trunc` and emitted as
    * strings for timestamp-precision-proof oracle parity.
    */
  def monthlyMovingAvg(orders: DataFrame): DataFrame = {
    val monthly = orders
      .groupBy(col("o_orderpriority"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("month"))
      .rowsBetween(-2, Window.currentRow)
    monthly.withColumn("moving_avg", round(avg(col("total")).over(w), 2))
      .orderBy(col("o_orderpriority"), col("month"))
  }

  /** ROLLUP aggregate. Grouping-set null indicators are `coalesce`d to 'ALL'
    * so Spark/DuckDB null-ordering differences can't affect the oracle compare
    * (the grouping columns themselves are never null in the data).
    */
  def rollupSummary(li: DataFrame): DataFrame =
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** CUBE aggregate over order status × priority. */
  def cubeSummary(orders: DataFrame): DataFrame =
    orders.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("n"), col("total"))
      .orderBy(col("orderstatus"), col("orderpriority"))

  /** Set operations: customers keyed by order status — EXCEPT / INTERSECT
    * (both are DISTINCT-semantics set ops, matching ANSI/DuckDB).
    */
  def setOpsCustomers(orders: DataFrame): DataFrame = {
    val open = orders.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val done = orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val onlyOpen = open.except(done).withColumn("set_op", lit("open_only"))
    val both = open.intersect(done).withColumn("set_op", lit("both"))
    onlyOpen.unionByName(both)
      .groupBy(col("set_op")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("set_op"))
  }

  /** Exact distinct aggregates per group (expand-based distinct aggregate). */
  def distinctCounts(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))

  /** Top-k parts by shipped quantity: fact-side aggregation first (shrinks to
    * |parts| rows), then broadcast join to the part dimension for names.
    */
  def topPartsByQuantity(li: DataFrame, part: DataFrame, k: Int): DataFrame =
    li.groupBy(col("l_partkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"),
        count(lit(1)).as("n_lines"))
      .join(part.select(col("p_partkey"), col("p_name"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("p_name"), col("p_brand"),
        col("total_qty"), col("n_lines"))
      .orderBy(col("total_qty").desc, col("l_partkey"))
      .limit(k)

  /** As-of join: for each left row, the single latest right row at or before
    * the left row's time, per key. Implemented as the union-window pattern
    * (tag both sides, sort within key by (time, tag) with right rows first at
    * ties, carry the last seen right id forward): ONE shuffle on the key,
    * no custom physical operator, no per-key driver logic — the classic
    * Spark-native as-of formulation that scales like a groupBy.
    */
  def asOfJoinOrdersEvents(orders: DataFrame, events: DataFrame, nUsers: Int): DataFrame = {
    val left = orders.select(
      (col("o_custkey") % nUsers).as("key"),
      col("o_orderdate").cast("timestamp").as("t"),
      col("o_orderkey"), lit(1).as("tag"),
      lit(null).cast("long").as("ev_id"), lit(null).cast("timestamp").as("ev_ts"))
    val right = events.select(
      col("user_id").as("key"),
      col("ts").as("t"),
      lit(null).cast("long").as("o_orderkey"), lit(0).as("tag"),
      col("event_id").as("ev_id"), col("ts").as("ev_ts"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t"), col("tag"), col("ev_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .withColumn("asof_event_id", last(col("ev_id"), ignoreNulls = true).over(w))
      .withColumn("asof_event_ts", last(col("ev_ts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("o_orderkey"), col("key"), col("asof_event_id"),
        date_format(col("asof_event_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_event_time"))
      .orderBy(col("o_orderkey"))
  }

  /** Equi + range join: line items shipped within `days` of their order's
    * date. The equality key keeps it a hash/sort-merge join; the range
    * predicate is applied as a join residual — no cross product.
    */
  def shippedWithin(li: DataFrame, orders: DataFrame, days: Int): DataFrame =
    li.join(orders,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr(s"INTERVAL $days DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(avg(col("l_quantity")), 4).as("avg_qty"))
      .orderBy(col("o_orderpriority"))

  /** Statistical aggregates (sample stddev/variance, correlation,
    * covariance) per group — all codegen'd built-ins.
    */
  def statsAggs(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("covar_qty_disc"))
      .orderBy(col("l_returnflag"))

  /** Exact percentiles (linear interpolation) per group. */
  def percentiles(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("price_p90"))
      .orderBy(col("l_returnflag"))

  /** Winsorization — the standard robust-cleaning transform: clamp a value
    * column at its per-group [pLo, pHi] percentiles and report the mean
    * before/after plus the clamp bounds and how many rows were clipped on
    * each side. Two passes over the grouped frame (percentile bounds, then
    * a broadcast-bounds clamp + re-aggregate) — the bounds frame is
    * |groups| rows, so the second pass is the only full scan that matters
    * at 100 TB. Means are cent-exact sums (the clamped value is either the
    * raw cent value or a bound that is itself a percentile of cent-exact
    * values), divided once.
    */
  def winsorize(li: DataFrame, pLo: Double = 0.05,
                pHi: Double = 0.95): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val cents = li.select(col("l_returnflag"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("vc"))
    val bounds = cents.groupBy(col("l_returnflag"))
      .agg(expr(s"percentile(vc, $pLo)").as("lo"),
        expr(s"percentile(vc, $pHi)").as("hi"))
    // the winsorized sum is assembled from EXACT pieces — the in-bounds
    // long sum plus count×bound products — so no double accumulates in
    // data order anywhere
    cents.join(broadcast(bounds), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("vc").cast("double") < col("lo"), 1L).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col("vc").cast("double") > col("hi"), 1L).otherwise(0L))
          .as("n_clipped_hi"),
        sum(when(col("vc").cast("double") >= col("lo")
            && col("vc").cast("double") <= col("hi"), col("vc"))
          .otherwise(0L)).as("sum_mid"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        sum(col("vc")).as("sum_raw"))
      .select(col("l_returnflag"), col("n"),
        col("n_clipped_lo"), col("n_clipped_hi"),
        q4(col("lo") / 100.0).as("p_lo"),
        q4(col("hi") / 100.0).as("p_hi"),
        q4(col("sum_raw").cast("double") / col("n") / 100.0).as("mean_raw"),
        q4((col("sum_mid").cast("double")
          + col("n_clipped_lo").cast("double") * col("lo")
          + col("n_clipped_hi").cast("double") * col("hi"))
          / col("n") / 100.0).as("mean_winsorized"))
      .orderBy(col("l_returnflag"))
  }

  /** Skew-safe two-phase aggregation: salt the (few, hot) grouping keys
    * across `salts` partial groups, aggregate, then aggregate the partials.
    * Semantics-identical to a plain groupBy (the oracle IS the plain
    * groupBy) — the technique that keeps one hot key from serializing a
    * 1000-executor aggregate. (AQE handles skewed JOINS automatically; this
    * is the explicit pattern for skewed aggregation keys.)
    */
  def saltedAggregation(li: DataFrame, salts: Int): DataFrame =
    li.withColumn("salt", (col("l_orderkey") % salts).cast("int"))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_quantity")).as("partial_qty"),
        count(lit(1)).as("partial_n"))
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("partial_qty")), 2).as("sum_qty"),
        sum(col("partial_n")).as("n"))
      .orderBy(col("l_returnflag"))

  /** Pivot: order counts + revenue per priority, order-status columns. */
  def pivotStatus(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
      .orderBy(col("o_orderpriority"))

  /** Unpivot (melt): wide per-priority status totals back to long form. */
  def unpivotStatus(orders: DataFrame): DataFrame =
    pivotStatus(orders)
      .unpivot(Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")), "status", "total")
      .filter(col("total").isNotNull)
      .orderBy(col("o_orderpriority"), col("status"))

  /** Fixed-width histogram of order totals: bin = floor(x / width). */
  def priceHistogram(orders: DataFrame, width: Double): DataFrame =
    orders
      .withColumn("bin", floor(col("o_totalprice") / width).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"))
      .orderBy(col("bin"))

  /** Deterministic key-based sample: keep keys ≡ r (mod m) — reproducible
    * across runs/engines, the standard pipeline-data sampling shape (a
    * hash-mod in production; plain mod here so any engine can replay it).
    */
  def deterministicSample(li: DataFrame, m: Int, r: Int): DataFrame =
    li.filter(col("l_orderkey") % m === r)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(avg(col("l_extendedprice")), 4).as("avg_price"))
      .orderBy(col("l_returnflag"))

  /** Correlated-scalar-subquery shape (TPC-H Q17): line items whose quantity
    * is below 20% of the average quantity for their part, revenue summarized
    * per brand. Implemented DECORRELATED — the per-part average is one
    * aggregate co-partitioned with the probe side on `l_partkey`, so what a
    * naive engine runs as one subquery per row becomes a single self-join
    * (the same rewrite Catalyst's DecorrelateInnerQuery performs on the SQL
    * form). Quantities are integer-valued, so the per-part average — an
    * exact integer sum over an exact count — is IEEE-identical in any
    * engine and the `<` threshold comparison is deterministic.
    */
  def belowAvgQuantityRevenue(li: DataFrame, part: DataFrame): DataFrame = {
    val thresh = li.groupBy(col("l_partkey"))
      .agg((avg(col("l_quantity")) * 0.2).as("qty_thresh"))
    li.join(thresh, Seq("l_partkey"))
      .filter(col("l_quantity") < col("qty_thresh"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
      .orderBy(col("p_brand"))
  }

  /** Distribution-function window suite (percent_rank / cume_dist /
    * first_value / last_value / nth_value) over per-supplier quantity order.
    * The ordering key is unique (qty, orderkey, linenumber) so ranks are
    * deterministic; the value functions use an explicit full-partition ROWS
    * frame (the default RANGE frame's tie behavior differs across engines).
    * All five functions evaluate in ONE window pass — one shuffle on the
    * partition key.
    */
  def distributionWindows(li: DataFrame, maxSuppkey: Int): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    li.filter(col("l_suppkey") < maxSuppkey)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        q4(percent_rank().over(w)).as("pct_rank"),
        q4(cume_dist().over(w)).as("cume"),
        first(col("l_quantity")).over(full).as("min_qty"),
        last(col("l_quantity")).over(full).as("max_qty"),
        nth_value(col("l_quantity"), 2).over(full).as("second_qty"))
      .orderBy(col("l_suppkey"), col("l_quantity"), col("l_orderkey"),
        col("l_linenumber"))
  }

  /** RANGE-frame window (vs the ROWS frames elsewhere): trailing 30-day
    * revenue per priority class, framed by VALUE distance on an integer
    * day key — rows on the same day share a frame, and absent days still
    * bound it (which `ROWS BETWEEN 29 PRECEDING` gets wrong on sparse or
    * tied data). One shuffle on the partition key.
    */
  def trailing30DayRevenue(orders: DataFrame, maxCustkey: Int): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("day"))
      .rangeBetween(-29, Window.currentRow)
    orders.filter(col("o_custkey") < maxCustkey)
      .withColumn("day", datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date")))
      .withColumn("trail30", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_orderpriority"), col("o_orderkey"), col("day"),
        round(col("o_totalprice"), 2).as("price"), col("trail30"))
      .orderBy(col("o_orderpriority"), col("day"), col("o_orderkey"))
  }

  /** Ordered string aggregation (LISTAGG / string_agg): nations per region,
    * sorted within the group. `array_sort(collect_list(...))` + `concat_ws`
    * gives a deterministic group-local ordering without a global sort —
    * collect_list is bounded by the group size (dimension-scale here; at
    * fact scale an ordered agg like this caps or samples the group first).
    */
  def nationsPerRegion(nation: DataFrame, region: DataFrame): DataFrame =
    nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
      .orderBy(col("r_name"))

  /** GROUPING SETS via SQL — the DataFrame API exposes only rollup/cube, and
    * the SQL form plans identically (single Expand node, one aggregate).
    */
  def groupingSets(li: DataFrame): DataFrame = {
    val spark = li.sparkSession
    li.createOrReplaceTempView("graft_li_gs")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       count(1) AS n,
        |       round(sum(l_extendedprice), 2) AS sum_price
        |FROM graft_li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin)
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES): each
    * order draws sample key u^(1/w) — equivalently ln(u)/w, the
    * numerically-safe monotone twin used here — with u ∈ (0,1] derived from
    * md5 of the key, so the "random" draw is reproducible on any engine.
    * The top-k keys per group ARE the weighted sample: an order's selection
    * probability is proportional to `o_totalprice`. One window pass per
    * stratum — the same single-shuffle shape as any per-group top-k, and
    * the classic distributed answer to "sample 1M docs from 10B,
    * weighted by quality score", where sequential reservoir methods fall
    * over. Output keeps the sampled keys so the oracle checks the exact
    * selection, not just counts.
    */
  def weightedSample(orders: DataFrame, perGroup: Int): DataFrame = {
    // u from the first 8 md5 hex chars: (h + 1) / 2^32 ∈ (0, 1]
    val u = (expr(
      "CAST(conv(substring(md5(concat('ws:', CAST(o_orderkey AS STRING))), 1, 8), 16, 10) AS DOUBLE)")
      + 1.0) / 4294967296.0
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("skey").desc, col("o_orderkey"))
    // the Efraimidis–Spirakis key ln(u)/w is quantized (floor at 1e-12
    // absolute resolution) before ranking: ln() differs at ULP level
    // across engines, and an unquantized rank could flip two near-tied
    // keys between Spark and the oracle; 1e-12 is ~6 orders of magnitude
    // below the smallest meaningful key gap, and quantization ties break
    // deterministically on o_orderkey in both engines
    orders
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        floor(log(u) / col("o_totalprice") * 1e12).as("skey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perGroup)
      .select(col("o_orderpriority"), col("rn").cast("int").as("rn"),
        col("o_orderkey"), col("price"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** Cumulative distinct users by month — "how many unique customers have
    * we EVER seen, by end of each month". A naive COUNT(DISTINCT) per
    * growing prefix rescans history every period; this is the incremental
    * formulation: each customer contributes once at their FIRST order month
    * (one aggregation, co-partitioned on the customer key), then a running
    * sum over the tiny month frame. At 100 TB the only wide exchange is the
    * per-customer min — the same shuffle a single distinct would need.
    */
  def cumulativeDistinctCustomers(orders: DataFrame): DataFrame = {
    val firstMonth = orders.groupBy(col("o_custkey"))
      .agg(min(date_trunc("month", col("o_orderdate"))).as("month"))
    // bounded: month-spine frame — one row per calendar month
    val w = Window.orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstMonth.groupBy(col("month"))
      .agg(count(lit(1)).as("new_customers"))
      .withColumn("cum_customers", sum(col("new_customers")).over(w))
      .select(date_format(col("month"), "yyyy-MM").as("month"),
        col("new_customers"), col("cum_customers"))
      .orderBy(col("month"))
  }

  /** Rolling median (exact) of order value over a trailing window — the
    * robust-statistics twin of [[trailing30DayRevenue]]'s mean. Medians
    * don't decompose into partial aggregates, so the honest distributed
    * exact form is a bounded RANGE self-join (each anchor month joins its
    * trailing `months` of orders) followed by one percentile aggregate per
    * anchor. The join EQUI-keys on (priority, month-band) with band width
    * = `months` — every anchor window spans at most two consecutive bands,
    * so the anchor side explodes ×2 and the residual range predicate
    * filters inside the band (lossless). Keying on priority alone capped
    * join parallelism at |priorities| = 5 tasks pre-AQE (the r12 audit's
    * borderline note); the band key multiplies that by |months|/window
    * with identical pair volume. Approx twin at petabyte scale:
    * `approx_percentile` per window. Interpolation (`percentile` ≡
    * quantile_cont) matches across engines; 2dp rounding absorbs float
    * noise.
    */
  def rollingMedianMonthly(orders: DataFrame, months: Int): DataFrame = {
    // median over exact integer CENTS: prices carry 2 decimals, so the
    // cent values are exact longs and the midpoint interpolation
    // (a+b)/2 is the same double on every engine — interpolating the raw
    // doubles instead lets engines' (1−f)·a+f·b vs a+(b−a)·f formulas
    // disagree by an ULP right at a rounding boundary
    val om = orders.select(
      months_between(date_trunc("month", col("o_orderdate")),
        lit("1992-01-01").cast("date")).cast("int").as("m"),
      col("o_orderpriority"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val anchors = om.select(col("o_orderpriority"), col("m")).distinct()
    // lossless band key: v.m ∈ (a.m−months, a.m] ⊂ bands {a.band−1, a.band}
    val vb = om.withColumn("band", expr(s"m div $months"))
    val ab = anchors.withColumn("band",
      explode(array(expr(s"m div $months - 1"), expr(s"m div $months"))))
    ab.as("a")
      .join(vb.as("v"),
        col("a.o_orderpriority") === col("v.o_orderpriority")
          && col("a.band") === col("v.band")
          && col("v.m") > col("a.m") - months && col("v.m") <= col("a.m"))
      .groupBy(col("a.o_orderpriority").as("priority"), col("a.m").as("m"))
      .agg(count(lit(1)).as("n_orders"),
        // cents median is a multiple of 0.5 and exact in double, so the
        // +0.5/floor half-up is engine-deterministic (round() is not:
        // Spark's BigDecimal path re-reads the decimal string)
        (floor(expr("percentile(cents, 0.5)") + 0.5) / 100).as("med_price"))
      .orderBy(col("priority"), col("m"))
  }

  /** Correlated EXISTS / NOT EXISTS through the SQL front-end: suppliers
    * that shipped at least one near-full-quantity line but never a
    * deep-discounted return. Written as predicate subqueries on purpose —
    * Catalyst's RewritePredicateSubquery decorrelates them into one
    * LeftSemi and one LeftAnti join co-keyed on `s_suppkey` (PlanGuard pins
    * this), so the "subquery per row" a naive engine would run is two
    * hash joins at any scale.
    */
  def existsSubquery(spark: SparkSession, supplier: DataFrame,
                     li: DataFrame): DataFrame =
    withTempViews(spark, "g_ex_supplier" -> supplier, "g_ex_lineitem" -> li) {
      case Seq(sup, lin) =>
        spark.sql(
          s"""SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
             |FROM $sup s
             |WHERE EXISTS (SELECT 1 FROM $lin l
             |              WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
             |  AND NOT EXISTS (SELECT 1 FROM $lin l
             |                  WHERE l.l_suppkey = s.s_suppkey
             |                    AND l.l_returnflag = 'R'
             |                    AND l.l_quantity >= 48 AND l.l_discount > 0.08)
             |ORDER BY s_suppkey""".stripMargin)
    }

  /** NOT IN against a NULLABLE subquery — the three-valued-logic trap,
    * surfaced instead of stumbled into. `x NOT IN (rhs)` is never TRUE when
    * `rhs` contains a NULL (x <> NULL is UNKNOWN, and the conjunction
    * poisons every row), so a raw NOT IN filter over a nullable rhs
    * silently selects NOTHING — `n_not_in_raw` pins that at 0 — while the
    * null-stripped rewrite (`n_not_in_clean`) is the anti-join a production
    * pipeline should write, and `n_in` + `n_not_in_clean` partitions the
    * customers exactly. All three variants live in FILTER context, where
    * Catalyst plans the raw predicate as a NULL-AWARE anti join (single-key
    * NAAJ on a broadcast hash relation, not a nested-loop) and the clean
    * one as a plain LeftAnti — hash joins at any scale, no cartesian
    * (PlanGuard). Filter context is deliberate: Spark's projection-context
    * IN-subquery rewrite (ExistenceJoin) collapses UNKNOWN to FALSE, so a
    * CASE over the predicate could not distinguish the outcomes — in a
    * filter, UNKNOWN and FALSE both drop the row and every engine agrees.
    */
  def notInSubquery(spark: SparkSession, customer: DataFrame,
                    orders: DataFrame): DataFrame =
    withTempViews(spark, "g_ni_customer" -> customer, "g_ni_orders" -> orders) {
      case Seq(cus, ord) =>
        spark.sql(
          s"""WITH nullable_rhs AS (
             |  SELECT CASE WHEN o_orderpriority <> '1-URGENT'
             |              THEN o_custkey END AS k
             |  FROM $ord WHERE o_orderstatus = 'F'),
             |base AS (
             |  SELECT c_mktsegment, count(*) AS n_customers
             |  FROM $cus GROUP BY c_mktsegment),
             |raw AS (
             |  SELECT c_mktsegment, count(*) AS n
             |  FROM $cus
             |  WHERE c_custkey NOT IN (SELECT k FROM nullable_rhs)
             |  GROUP BY c_mktsegment),
             |inn AS (
             |  SELECT c_mktsegment, count(*) AS n
             |  FROM $cus
             |  WHERE c_custkey IN (SELECT k FROM nullable_rhs)
             |  GROUP BY c_mktsegment),
             |clean AS (
             |  SELECT c_mktsegment, count(*) AS n
             |  FROM $cus
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
             |ORDER BY b.c_mktsegment""".stripMargin)
    }

  /** Correlated scalar aggregates in the SELECT list — one subquery per
    * output column, decorrelated by Catalyst into outer joins against
    * pre-grouped aggregates (no per-row re-execution at any scale). The two
    * columns pin the two empty-group semantics an engine must keep apart:
    * correlated COUNT over an empty group is 0 (the classic decorrelation
    * "COUNT bug" — a naive outer-join rewrite yields NULL), while SUM over
    * the same empty group IS NULL, surfaced via coalesce to -1. Money is
    * summed in exact integer cents so both engines agree bit-for-bit.
    */
  def scalarAggSubquery(spark: SparkSession, supplier: DataFrame,
                        li: DataFrame): DataFrame =
    withTempViews(spark, "g_sa_supplier" -> supplier, "g_sa_lineitem" -> li) {
      case Seq(sup, lin) =>
        spark.sql(
          s"""SELECT s_suppkey, s_name,
             |  (SELECT count(*) FROM $lin l
             |   WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49) AS n_big,
             |  coalesce(
             |    (SELECT sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
             |     FROM $lin l
             |     WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49),
             |    -1) AS big_cents
             |FROM $sup s
             |ORDER BY s_suppkey""".stripMargin)
    }

  /** LATERAL correlated subquery with ORDER BY + LIMIT — top-3 highest-value
    * lines per supplier, written as the "for each row, run this subquery"
    * shape analysts reach for. Catalyst decorrelates the lateral limit into
    * a per-key window ranking (DecorrelateInnerQuery), so the plan is one
    * shuffle on `l_suppkey` + one ranked filter — never a per-supplier
    * re-scan and never a cartesian (PlanGuard pins it). Values are exact
    * integer cents; ties broken by orderkey so the cut is total-ordered.
    */
  def lateralTopPerKey(spark: SparkSession, supplier: DataFrame,
                       li: DataFrame): DataFrame =
    withTempViews(spark, "g_lt_supplier" -> supplier, "g_lt_lineitem" -> li) {
      case Seq(sup, lin) =>
        spark.sql(
          s"""SELECT s.s_suppkey, t.l_orderkey, t.cents
             |FROM $sup s,
             |LATERAL (
             |  SELECT l_orderkey,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM $lin l
             |  WHERE l.l_suppkey = s.s_suppkey
             |  ORDER BY cents DESC, l_orderkey
             |  LIMIT 3) t
             |ORDER BY s.s_suppkey, t.cents DESC, t.l_orderkey""".stripMargin)
    }

  /** TPC-H Q13-shaped customer order-count distribution: LEFT join
    * customers to their non-urgent orders — the outer join is load-bearing,
    * it keeps zero-order customers in the population at count 0 — then the
    * histogram of per-customer counts. Both aggregations combine map-side;
    * the join is the only wide exchange, and at scale it hash-partitions on
    * the customer key like any fact-dimension edge. Ties in the histogram
    * ordering are broken by the (unique) count value, so the output order
    * is total.
    */
  def customerOrderDistribution(customer: DataFrame,
                                orders: DataFrame): DataFrame = {
    val sel = orders.filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    customer.select(col("c_custkey"))
      .join(sel, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips null → 0
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** SQL PIVOT through the front-end: revenue (exact integer cents) per
    * market segment spread across the five order priorities as columns —
    * the reshape every BI handoff asks for. The pivot IN-list is explicit,
    * so this is one hash aggregate with five conditional sums (Catalyst
    * rewrites PIVOT to exactly the CASE-WHEN aggregation the oracle
    * states); ≤ |segments| output rows at any scale.
    */
  def pivotSegmentPriority(spark: SparkSession, customer: DataFrame,
                           orders: DataFrame): DataFrame =
    withTempViews(spark, "g_pv_customer" -> customer, "g_pv_orders" -> orders) {
      case Seq(cus, ord) =>
        spark.sql(
          s"""SELECT * FROM (
             |  SELECT c_mktsegment,
             |         o_orderpriority,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM $ord JOIN $cus ON c_custkey = o_custkey)
             |PIVOT (sum(cents) FOR o_orderpriority IN
             |  ('1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium,
             |   '4-NOT SPECIFIED' AS unspec, '5-LOW' AS low))
             |ORDER BY c_mktsegment""".stripMargin)
    }

  /** Register frames as UNIQUELY-NAMED session temp views for the scope of
    * `body`, then drop them. SQL-front-end operators need views to name
    * their inputs, but a FIXED view name clobbers any same-named user view
    * and races concurrent calls in one session; a per-call unique suffix
    * makes registration collision-free, and dropping after analysis is safe
    * because `spark.sql` resolves views EAGERLY — the returned frame holds
    * the resolved subtree, not the view reference.
    */
  private def withTempViews(spark: SparkSession, frames: (String, DataFrame)*)
                           (body: Seq[String] => DataFrame): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val named = frames.map { case (n, df) => (s"${n}_$tag", df) }
    named.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    try body(named.map(_._1))
    finally named.foreach { case (n, _) => spark.catalog.dropTempView(n) }
  }

  /** Schema-evolution union: a v1 extract (no priority column) unioned BY
    * NAME with a v2 extract that added `o_orderpriority`, missing columns
    * null-filled — the append-new-columns migration every long-lived lake
    * table goes through. Column resolution is positional-independent
    * (`unionByName`), and the union is a zero-shuffle concatenation; the
    * only exchange is the final per-priority aggregate.
    */
  def unionByNameEvolution(orders: DataFrame): DataFrame = {
    val v1 = orders.filter(col("o_orderdate") < "1994-01-01")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey"))
    val v2 = orders.filter(col("o_orderdate") >= "1994-01-01")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderpriority"), col("o_totalprice"))
    v1.unionByName(v2, allowMissingColumns = true)
      .groupBy(coalesce(col("o_orderpriority"), lit("0-LEGACY")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("priority"))
  }

  /** RFM segmentation — the classic customer-scoring aggregate: per
    * customer, Recency (days from their last order to the corpus max
    * date), Frequency (order count), Monetary (total spend in exact
    * integer cents); each scored 1–4 against broadcast quartile
    * thresholds and rolled up to segment populations (≤64 output rows at
    * any scale). NOT `ntile` over a global window — that funnels every
    * customer through one task; exact interpolated `percentile` (the same
    * definition as DuckDB `quantile_cont`, already oracle-proven) gives a
    * 9-value threshold frame that broadcasts, and scoring is a
    * shuffle-free scan of the per-customer aggregate. Metrics are exact
    * integers (days, counts, cents), so thresholds and comparisons are
    * bit-identical across engines.
    *
    * `useApprox = true` is the 100-TB path: the three exact `percentile`
    * buffers (maps over every distinct recency/frequency/cents value,
    * merged in one final task) become `approx_percentile` GK sketches —
    * constant memory, distributed merge — at a threshold error far below
    * the 1-unit score granularity on realistic distributions. The exact
    * default remains the oracle anchor.
    */
  def rfmSegments(orders: DataFrame, useApprox: Boolean = false,
                  accuracy: Int = 10000): DataFrame = {
    val maxDate = orders.agg(max(col("o_orderdate")).as("max_date"))
    val perCust = orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .crossJoin(broadcast(maxDate))
      .withColumn("recency", datediff(col("max_date"), col("last_order")))
      // both the threshold aggregate and the scoring scan read this — pin
      // it so the per-customer shuffle runs once, not twice
      .persist()
    def pct(c: String): Column =
      if (useApprox)
        expr(s"cast(approx_percentile($c, array(0.25D, 0.5D, 0.75D), $accuracy)" +
          " as array<double>)")
      else expr(s"percentile($c, array(0.25, 0.5, 0.75))")
    val thresholds = perCust.agg(
      pct("recency").as("rq"), pct("frequency").as("fq"), pct("cents").as("mq"))
    def score(v: Column, qs: Column): Column =
      lit(1) + (v > element_at(qs, 1)).cast("int") +
        (v > element_at(qs, 2)).cast("int") + (v > element_at(qs, 3)).cast("int")
    perCust.crossJoin(broadcast(thresholds))
      // recency: LOW days since last order = best, so invert to 5 - score
      .withColumn("r", lit(5) - score(col("recency"), col("rq")))
      .withColumn("f", score(col("frequency"), col("fq")))
      .withColumn("m", score(col("cents"), col("mq")))
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        (sum(col("cents")) / 100.0).as("segment_value"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  /** Market-share leaders: for every part, the supplier who shipped the
    * most of it (deterministic (qty desc, suppkey) tiebreak), rolled up to
    * how many parts each supplier leads and their best share. Two
    * aggregations CO-PARTITIONED on `l_partkey` (per-(part,supplier) and
    * per-part totals reuse one partitioning), a window rank on the
    * ALREADY-AGGREGATED frame (suppliers-per-part rows, not lineitems),
    * then a broadcast supplier-dim join. Shares are exact ratios of
    * integer sums, quantized at 4dp — and a share-of-total is
    * scale-invariant, so the query is non-degenerate at every SF (a fixed
    * "dominates >50%" threshold empties as supplier counts grow).
    */
  def topSupplierShare(li: DataFrame, supplier: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val perPartSupp = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("qty"))
    // the per-part denominator is a WINDOW sum over the already-reduced
    // (part, supp) frame, not a second lineitem aggregate joined back: the
    // fact table is scanned and shuffled ONCE (map-side combined on the
    // composite key); the window repartition moves only the reduced rows,
    // and both window functions share one exchange+sort on l_partkey.
    // (Replaced a 2-scan/3-exchange/join plan — same algebra, sum-per-part
    // is the sum of the per-(part,supp) partials.)
    val w = Window.partitionBy(col("l_partkey"))
    val wOrd = Window.partitionBy(col("l_partkey"))
      .orderBy(col("qty").desc, col("l_suppkey"))
    perPartSupp
      .withColumn("total", sum(col("qty")).over(w))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") === 1)
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_top_parts"),
        max(q4(col("qty") / col("total"))).as("best_share"))
      .orderBy(col("s_suppkey"))
  }

  /** Pairwise Pearson correlation matrix over the numeric fact columns —
    * the feature-selection screen of a training-data pipeline. One scan,
    * one tiny aggregate: all C(n,2) `corr` aggregates evaluate in a single
    * partial+final pass (no per-pair jobs), output one row per pair.
    * Coefficients are 4dp floor-quantized: `corr`'s running sums are
    * summation-order-dependent at ULP level across engines.
    */
  def corrMatrix(li: DataFrame, cols: Seq[String] = Seq(
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) => q4(corr(col(a), col(b))).as(s"${a}__$b") }
    val one = li.agg(aggs.head, aggs.tail: _*)
    // unpivot the 1-row aggregate into (col_a, col_b, r) rows
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', ${a}__$b"
    }.mkString(", ")
    one.select(expr(
      s"stack(${pairs.size}, $stacked) AS (col_a, col_b, r)"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Quantile discretization (the ML feature-binning prep): decile edges
    * of the order price from one exact interpolated `percentile` pass,
    * broadcast back, each order assigned bin 1–10 by threshold count.
    * Prices are scored as exact integer cents so the edge comparisons are
    * engine-identical. Output: per-bin populations and min/max — the
    * histogram a feature store materializes. Scales as two scans and a
    * ≤10-row aggregate; nothing global-windows.
    *
    * `useApprox = true` swaps the exact `percentile` edge pass (a map of
    * every distinct cent value merged in one final task) for the
    * `approx_percentile` GK sketch — constant memory, distributed merge,
    * the true 100-TB edge computation; `rel_quantile_bins_approx` proves
    * the per-bin populations agree within tolerance.
    *
    * Plan evidence (r12 explain audit): with useApprox the edge pass is
    * `partial_approx_percentile → approx_percentile` (mergeable sketch
    * buffers, no exact-percentile buffer in that branch); the registered
    * `rel_quantile_bins_approx` query additionally re-runs the exact
    * pass because it IS the exact-vs-approx agreement audit — its bench
    * cost is exact + approx by construction.
    */
  def quantileBins(orders: DataFrame, nBins: Int = 10,
                   useApprox: Boolean = false,
                   accuracy: Int = 10000): DataFrame = {
    val probs = (1 until nBins).map(i => i.toDouble / nBins)
    val withCents = orders.select(
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val edges = withCents.agg(
      (if (useApprox)
         expr(s"cast(approx_percentile(cents, array(${probs.mkString(", ")})," +
           s" $accuracy) as array<bigint>)")
       else expr(s"percentile(cents, array(${probs.mkString(", ")}))")).as("qs"))
    val bin = (1 until nBins).map(i =>
      (col("cents") > element_at(col("qs"), i)).cast("int")).reduce(_ + _) + 1
    withCents.crossJoin(broadcast(edges))
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        (min(col("cents")) / 100.0).as("min_price"),
        (max(col("cents")) / 100.0).as("max_price"))
      .orderBy(col("bin"))
  }

  /** Z-order (Morton) storage-layout statistics: interleave the low 8 bits
    * of two independent dimensions (part bucket, supplier bucket) into one
    * 16-bit sort key and report, per top-4-bit key range (= one "file" of a
    * z-clustered write), the min/max envelope of BOTH dimensions. With a
    * linear sort only the leading dimension's envelope is narrow; under the
    * z-curve every range covers a ~quarter-width box in each dimension, so
    * parquet min/max stats prune two-dimensional predicates — the
    * data-skipping layout for multi-key scans at 100 TB. The interleave is
    * a codegen'd bit-fold (`aggregate` over 8 bit positions); the only
    * shuffle is the per-range aggregate.
    */
  def zOrderLayoutStats(li: DataFrame): DataFrame =
    li.select((col("l_partkey") % 256).cast("int").as("x"),
        (col("l_suppkey") % 256).cast("int").as("y"))
      // static 16-term bit fold, NOT aggregate(sequence(0,7),...): the
      // higher-order lambda is CodegenFallback and measured 3.5 s at sf0.1
      // where this whole-stage-codegen'd form is scan-speed
      .withColumn("zkey", (0 until 8).map { i =>
        shiftleft(shiftright(col("x"), i).bitwiseAND(1), 2 * i) +
          shiftleft(shiftright(col("y"), i).bitwiseAND(1), 2 * i + 1)
      }.reduce(_ + _))
      .groupBy(shiftright(col("zkey"), 12).as("z_range"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .withColumn("x_span", col("x_max") - col("x_min"))
      .withColumn("y_span", col("y_max") - col("y_min"))
      .orderBy(col("z_range"))

  /** Hilbert-curve storage-layout statistics — [[zOrderLayoutStats]]'
    * stronger sibling. The Hilbert curve has no Morton-order "seams" (the
    * z-curve jumps across the full key space every 2^k steps), so
    * consecutive key ranges map to strictly contiguous spatial boxes and
    * parquet min/max envelopes come out tighter for the same file count —
    * which is why lakehouse OPTIMIZE implementations prefer it for
    * multi-column clustering at scale. The xy→d transform is the classic
    * bit-descent with quadrant rotation, statically unrolled over the 8
    * bit levels (each level is a handful of codegen'd when/bitwise
    * expressions — no higher-order fold, the zOrder lesson); the only
    * shuffle is the per-range aggregate. Per top-4-bit key range: row
    * count and both dimensions' min/max envelope, directly comparable
    * row-for-row against the z-order variant.
    */
  def hilbertLayoutStats(li: DataFrame): DataFrame =
    hilbertD(
      li.select((col("l_partkey") % 256).cast("int").as("x"),
        (col("l_suppkey") % 256).cast("int").as("y")), bits = 8)
      .groupBy(shiftright(col("d"), 12).as("h_range"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .withColumn("x_span", col("x_max") - col("x_min"))
      .withColumn("y_span", col("y_max") - col("y_min"))
      .orderBy(col("h_range"))

  /** Head-to-head data-skipping comparison of the three clustering layouts
    * (linear x-sort, Morton/z-order, Hilbert) for one 2-D predicate box:
    * partition the keyed rows into 16 "files" per layout, keep each file's
    * min/max envelope (what parquet footers would store), and report how
    * many files survive pruning, how many rows those files scan, and the
    * resulting scan amplification (rows scanned / rows matched) — the
    * number a lakehouse OPTIMIZE decision actually turns on. The default
    * box constrains only the SECOND dimension — the predicate a linear
    * x-sort fundamentally cannot prune (every file spans all of y), which
    * is the case the interleaved layouts exist for. Everything is exact
    * integers until the one amplification division (q4, NULL on an empty
    * box). Three grouped scans (one per layout — at scale this is a
    * layout AUDIT run once per table, not a per-query op).
    */
  def layoutSkippingCompare(li: DataFrame, xLo: Int = 0, xHi: Int = 255,
                            yLo: Int = 2, yHi: Int = 7): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val pts = li.select((col("l_partkey") % 256).cast("int").as("x"),
      (col("l_suppkey") % 256).cast("int").as("y"))
    val zkey = (0 until 8).map { i =>
      shiftleft(shiftright(col("x"), i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(col("y"), i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)
    val keyed = hilbertD(pts, bits = 8)
      .withColumn("f_linear", shiftright(col("x"), 4))
      .withColumn("f_zorder", shiftright(zkey, 12))
      .withColumn("f_hilbert", shiftright(col("d"), 12))
    val inBox = col("x").between(xLo, xHi) && col("y").between(yLo, yHi)
    val perLayout = Seq("linear", "zorder", "hilbert").map { name =>
      keyed.groupBy(col(s"f_$name").as("file"))
        .agg(count(lit(1)).as("rows"),
          sum(when(inBox, 1L).otherwise(0L)).as("match_rows"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .withColumn("hit",
          col("x_max") >= xLo && col("x_min") <= xHi &&
            col("y_max") >= yLo && col("y_min") <= yHi)
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("files_hit"),
          sum(when(col("hit"), col("rows")).otherwise(0L)).as("rows_scanned"),
          sum(col("match_rows")).as("rows_matched"))
        .select(lit(name).as("layout"), col("n_files"), col("files_hit"),
          col("rows_scanned"), col("rows_matched"),
          q4(col("rows_scanned").cast("double")
            / nullif(col("rows_matched"), lit(0L)).cast("double"))
            .as("scan_amplification"))
    }
    perLayout.reduce(_.unionByName(_)).orderBy(col("layout"))
  }

  /** xy→d Hilbert transform on a frame with int columns `x`, `y` in
    * [0, 2^bits): adds column `d`, the Hilbert curve index. Exposed
    * separately so the spec can prove curve-ness (d is a bijection onto
    * [0, 4^bits) and consecutive d values are Manhattan-adjacent) rather
    * than just cross-engine agreement.
    */
  private[graft] def hilbertD(points: DataFrame, bits: Int): DataFrame = {
    var df = points
      .withColumn("hx", col("x")).withColumn("hy", col("y"))
      .withColumn("d", lit(0))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1 << i
      df = df
        .withColumn("rx", when(col("hx").bitwiseAND(lit(s)) > 0, 1).otherwise(0))
        .withColumn("ry", when(col("hy").bitwiseAND(lit(s)) > 0, 1).otherwise(0))
        .withColumn("d", col("d")
          + lit(s * s) * (lit(3) * col("rx")).bitwiseXOR(col("ry")))
        // quadrant rotation: if ry==0 swap axes, reflecting when rx==1
        .withColumn("nx",
          when(col("ry") === 0,
            when(col("rx") === 1, lit(s - 1) - col("hy")).otherwise(col("hy")))
            .otherwise(col("hx")))
        .withColumn("ny",
          when(col("ry") === 0,
            when(col("rx") === 1, lit(s - 1) - col("hx")).otherwise(col("hx")))
            .otherwise(col("hy")))
        .withColumn("hx", col("nx")).withColumn("hy", col("ny"))
        .drop("nx", "ny", "rx", "ry")
    }
    df.drop("hx", "hy")
  }

  /** Per-nation ordinary-least-squares fit of line revenue against shipped
    * quantity — the built-in `regr_*` aggregate family (Spark ≥ 3.3), which
    * decomposes into partial sums exactly like `avg`/`corr`, so the whole
    * fit is ONE partial+final aggregate pass after a broadcast dimension
    * join; nothing about the regression itself shuffles twice. Slope /
    * intercept / R² are floor-quantized (the sums are order-dependent
    * doubles).
    */
  def regressionByNation(li: DataFrame, supplier: DataFrame,
                         nation: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    li.join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        expr("regr_count(l_extendedprice, l_quantity)").cast("long").as("n_lines"),
        q4(expr("regr_slope(l_extendedprice, l_quantity)")).as("slope"),
        q4(expr("regr_intercept(l_extendedprice, l_quantity)")).as("intercept"),
        q4(expr("regr_r2(l_extendedprice, l_quantity)")).as("r2"))
      .orderBy(col("n_name"))
  }

  /** 2-D skyline (Pareto frontier): the part price/volume points no other
    * point dominates (cheaper AND at least as much volume shipped). The
    * formulation is the monotone-scan one — collapse to one best point per
    * price, then a running price-ordered max keeps exactly the rows whose
    * volume beats every cheaper point. The running max is DISTRIBUTED
    * (the r12 plan audit killed the old |prices|-sized unpartitioned
    * window): range-partition on price, per-partition running max, plus a
    * broadcast prefix max of the preceding partitions' maxima — local
    * running max ⊔ prefix max IS the global running max, to the row. Zero
    * self-joins: the O(n²) dominance test a naive skyline does never
    * materializes, and no stage sees more than one partition's points.
    */
  def skylineFrontier(li: DataFrame, part: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = li.groupBy(col("l_partkey")).agg(sum(col("l_quantity")).as("qty"))
      .join(part.select(col("p_partkey"), round(col("p_retailprice"), 2).as("price")),
        col("l_partkey") === col("p_partkey"))
    // one representative per price: max volume, lowest part id among ties
    val best = pts.groupBy(col("price")).agg(max(col("qty")).as("qty"))
    val rep = best.join(pts.select(col("price"), col("qty"), col("p_partkey")),
        Seq("price", "qty"))
      .groupBy(col("price"), col("qty")).agg(min(col("p_partkey")).as("part_id"))
    // range layout on price: partition i's prices all precede i+1's, so the
    // cross-partition carry is a ≤ shuffle.partitions-row prefix-max frame
    val parted = Exec.trackTransient(
      rep.repartitionByRange(col("price"))
        .withColumn("pid", spark_partition_id())
        .localCheckpoint())
    val prefix = parted.groupBy(col("pid")).agg(max(col("qty")).as("pm"))
      // bounded: ≤ #partitions rows (one per range partition)
      .withColumn("prevpm", max(col("pm")).over(Window.orderBy(col("pid"))
        .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("pid"), col("prevpm"))
    val localPrev = Window.partitionBy(col("pid")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn("lmax", max(col("qty")).over(localPrev))
      .join(broadcast(prefix), Seq("pid"))
      // greatest() skips nulls: null only when BOTH carries are absent
      // (the globally cheapest point, which is always on the frontier)
      .withColumn("prevmax", greatest(col("lmax"), col("prevpm")))
      .filter(col("prevmax").isNull || col("qty") > col("prevmax"))
      .select(col("price"), round(col("qty"), 2).as("qty"), col("part_id"))
      .orderBy(col("price"))
  }

  /** Incremental aggregate maintenance — the delta-processing identity a
    * materialized-view refresher relies on: a "base" aggregate computed
    * from history and a "delta" aggregate from the new batch merge by
    * RE-AGGREGATING THE PARTIALS (sum of counts, sum of sums) without
    * rescanning history. Money rides as exact integer cents so the merged
    * sums are bit-identical to a full recompute. The registered oracle IS
    * the naive full recompute over all rows — hash-equality with it is the
    * maintenance invariant, which is the entire point of the operator: at
    * 100 TB the base side is a tiny pre-aggregated frame (|groups| rows),
    * and only the delta batch is scanned.
    */
  def deltaAggMerge(orders: DataFrame, cutoff: String): DataFrame = {
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val base = aggOf(orders.filter(col("o_orderdate") < lit(cutoff).cast("date")))
    val delta = aggOf(orders.filter(col("o_orderdate") >= lit(cutoff).cast("date")))
    base.unionByName(delta)
      .groupBy(col("priority"))
      .agg(sum(col("n")).as("n_orders"), sum(col("cents")).as("cents_sum"))
      .select(col("priority"), col("n_orders"),
        (col("cents_sum") / 100.0).as("total_price"))
      .orderBy(col("priority"))
  }

  /** Scan-order compaction planner — the small-file problem's fix: given a
    * file inventory (here one synthetic "file" per order month, size = row
    * count), assign files to target-sized output bins by cumulative size.
    * `bin = floor(cum_size_before / target)` is the streaming one-pass
    * binning rule: windowable (one running sum over the inventory order),
    * deterministic, and independent of executor count — a metadata-scale
    * operation (file listings, not data) even when the table itself is
    * 100 TB.
    */
  def compactionBins(orders: DataFrame, targetRows: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = orders
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("f"))
      .agg(count(lit(1)).as("sz"))
    // bounded: file-inventory frame — metadata-scale (one row per file/month)
    val before = Window.orderBy(col("f"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("bin", floor(coalesce(sum(col("sz")).over(before), lit(0L))
        / lit(targetRows)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("total_rows"),
        min(col("f")).as("first_file"), max(col("f")).as("last_file"))
      .orderBy(col("bin"))
  }

  /** Partition-key skew report — the diagnostic run BEFORE committing to a
    * partitioning/bucketing key: per-key row counts reduced to one row of
    * layout stats (key count, min/max/avg rows, max/avg skew ratio, and
    * how many keys exceed `heavyFactor`× the mean — the salting / AQE
    * skew-join candidates). Two narrow aggregations; the per-key frame is
    * |keys| rows, so the single-row broadcast cross join costs nothing.
    */
  def partitionSkew(df: DataFrame, keyCol: String,
                    heavyFactor: Double = 1.5): DataFrame = {
    val sizes = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("n"))
    val stats = sizes.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n")).as("n_rows"),
      min(col("n")).as("min_rows"),
      max(col("n")).as("max_rows"),
      avg(col("n")).as("avg_raw"))
    sizes.crossJoin(broadcast(stats))
      .groupBy(col("n_keys"), col("n_rows"), col("min_rows"), col("max_rows"),
        col("avg_raw"))
      .agg(sum(when(col("n") > col("avg_raw") * heavyFactor, 1L).otherwise(0L))
        .as("n_heavy_keys"))
      .select(col("n_keys"), col("n_rows"), col("min_rows"), col("max_rows"),
        (floor(col("avg_raw") * 100 + 0.5) / 100).as("avg_rows"),
        (floor(col("max_rows") / col("avg_raw") * 10000 + 0.5) / 10000)
          .as("skew_ratio"),
        col("n_heavy_keys"))
  }

  /** Rendezvous (highest-random-weight) shard planner + resize audit — the
    * consistent-hashing story a 100-TB store needs when the shard count
    * changes: each key's shard is the argmax over shards of
    * hash61(key ':' shard), so adding shard N can only RE-WIN keys for the
    * new shard (an old shard's weight never changes) — the minimal-movement
    * guarantee, certified here rather than asserted. One pass computes the
    * before (n) and after (n+1) assignments row-locally (the per-key argmax
    * is a fold over ≤ n+1 portable MD5-61 weights, zero shuffle), each row
    * fans out to its two (role, shard) facts, and ONE aggregate yields
    * per-shard counts, stay counts, and the cross-move total — which the
    * HRW property pins to 0 (every move lands on the NEW shard).
    * `cross_moves` rides every row via a broadcast of the 1-row total.
    */
  def rendezvousShards(df: DataFrame, idCol: String = "doc_id",
                       nShards: Int = 8): DataFrame = {
    graft.functions.MinHashFunctions.register(df.sparkSession)
    def assign(n: Int) = expr(
      s"""array_max(transform(sequence(0, ${n - 1}),
         |  s -> struct(hash61(concat(CAST($idCol AS STRING), ':',
         |                            CAST(s AS STRING))) AS w,
         |              CAST(s AS INT) AS shard))).shard""".stripMargin)
    val assigned = df.select(
      assign(nShards).as("before_shard"), assign(nShards + 1).as("after_shard"))
    val facts = assigned.select(explode(array(
        struct(col("before_shard").as("shard"), lit(1L).as("cb"),
          lit(0L).as("ca"),
          (col("before_shard") === col("after_shard")).cast("long").as("st"),
          lit(0L).as("cm")),
        struct(col("after_shard").as("shard"), lit(0L).as("cb"),
          lit(1L).as("ca"), lit(0L).as("st"),
          (col("before_shard") =!= col("after_shard") &&
            col("after_shard") =!= lit(nShards)).cast("long").as("cm"))))
        .as("r"))
      .select(col("r.*"))
    val perShard = facts.groupBy(col("shard"))
      .agg(sum(col("cb")).as("cnt_before"), sum(col("ca")).as("cnt_after"),
        sum(col("st")).as("stayed"), sum(col("cm")).as("cm"))
    val total = perShard.agg(sum(col("cm")).as("cross_moves"))
    perShard.crossJoin(broadcast(total))
      .select(col("shard"), col("cnt_before"), col("cnt_after"), col("stayed"),
        (col("cnt_before") - col("stayed")).as("moved_out"), col("cross_moves"))
      .orderBy(col("shard"))
  }

  /** Bounded-depth hierarchy rollup — the BOM-explosion / org-chart
    * aggregate relational engines answer with a recursive CTE. Spark has no
    * recursion, and level-by-level upward propagation costs one shuffle per
    * level; for a hierarchy of bounded depth D the Spark-native plan is the
    * ANCESTOR-SET EXPLODE: each fact row fans out to its ≤ D ancestors
    * (closed-form here — the demo tree is parent = custkey ≫ 1, so ancestor
    * j is a bit shift; a materialized-path/array column plays the same role
    * for real hierarchies), then ONE groupBy rolls every subtree up in a
    * single shuffle. Fan-out is D-bounded, keys are longs, and no driver
    * loop touches the data.
    *
    * Emits, per ancestor node in levels 0..`topLevels`−1: the node, its
    * level, distinct descendant customers with ≥1 order, order count, and
    * exact-cent revenue of the whole subtree.
    */
  def hierarchyRollup(orders: DataFrame, topLevels: Int = 4,
                      maxDepth: Int = 20): DataFrame = {
    val facts = orders.select(col("o_custkey"), col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val ancestors = facts
      .select(col("o_custkey"), col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(maxDepth))).as("j"))
      .select(expr("shiftright(o_custkey, j)").as("node"),
        col("o_custkey"), col("o_orderkey"), col("cents"))
      .filter(col("node") >= 1 && col("node") < (1 << topLevels))
    ancestors
      .groupBy(col("node"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        (sum(col("cents")) / 100.0).as("subtree_revenue"))
      .withColumn("level", floor(log2(col("node"))).cast("int"))
      .select(col("node"), col("level"), col("n_customers"), col("n_orders"),
        col("subtree_revenue"))
      .orderBy(col("node"))
  }

  /** IGNORE NULLS window surface: last/first non-null carried across a
    * sparse column — the gap-carry idiom (`LAST_VALUE ... IGNORE NULLS`)
    * every SQL engine ships and naive `lag()` gets wrong. The sparse column
    * here: RETURNED rows keep their price, others are null, and each row
    * carries the most recent non-null backward/forward within its
    * supplier's ship order.
    */
  def windowIgnoreNulls(li: DataFrame, maxSuppkey: Int): DataFrame = {
    val base = li.filter(col("l_suppkey") < maxSuppkey)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("shipdate"),
        when(col("l_returnflag") === "R", round(col("l_extendedprice"), 2))
          .as("ret_price"))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("shipdate"), col("l_orderkey"), col("l_linenumber"))
    base
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("shipdate"), col("ret_price"),
        last(col("ret_price"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("carry_back"),
        first(col("ret_price"), ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          .as("carry_fwd"))
      .orderBy(col("l_suppkey"), col("shipdate"), col("l_orderkey"),
        col("l_linenumber"))
  }

  /** Customer-concentration deciles (the Lorenz/lift table): customers
    * ranked by total spend into ten equal-count buckets, each reporting
    * its spend share and the cumulative share from the top — "the top 10%
    * of customers carry X% of revenue", the concentration diagnostic that
    * decides whether a revenue-keyed workload needs skew handling. Ranking
    * uses `ntile` over (spend, custkey) — the unique tie-break keeps
    * bucket boundaries engine-stable. Shape: one fact aggregate to
    * per-customer spend, then a DISTRIBUTED exact global rank — range-
    * partition on the sort key, rank locally per partition, add broadcast
    * per-partition row-count offsets — and ntile's bucket arithmetic
    * applied to the rank in closed form. The |customers| frame never
    * funnels through one unpartitioned window partition (the r12 plan
    * audit's finding; same semantics, scalable plan).
    */
  def lorenzDeciles(orders: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val spend = orders.groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")) * 100).cast("long").as("cents"))
    val n = spend.agg(count(lit(1)).as("n"))
    // ntile(10) closed form over the exact rank r (1-based): the first
    // n%10 buckets hold n/10+1 rows, the rest n/10 (SQL-standard ntile)
    val ranked = Exec.globalRank(spend, "r", col("cents").desc, col("o_custkey"))
      .crossJoin(broadcast(n))
      .withColumn("qq", expr("n div 10"))
      .withColumn("rem", col("n") % 10)
      .withColumn("decile",
        when(col("r") <= col("rem") * (col("qq") + 1),
          expr("(r - 1) div (qq + 1) + 1"))
          .otherwise(expr(
            "rem + (r - rem * (qq + 1) - 1) div greatest(qq, 1) + 1"))
          .cast("int"))
    val byDecile = ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("decile_cents"))
    // bounded: decile frame — exactly 10 rows
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("total_cents", sum(col("decile_cents")).over(
        // bounded: decile frame — exactly 10 rows
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("cum_cents", sum(col("decile_cents")).over(w))
      .select(col("decile"), col("n_customers"),
        (col("decile_cents").cast("double") / 100).as("decile_revenue"),
        q4(col("decile_cents").cast("double") / col("total_cents"))
          .as("revenue_share"),
        q4(col("cum_cents").cast("double") / col("total_cents"))
          .as("cum_share"))
      .orderBy(col("decile"))
  }

  /** Bloom-filter data skipping — the per-file membership index a lakehouse
    * keeps beside min/max zone maps (zone maps prune RANGES; blooms prune
    * point lookups on high-cardinality keys the ranges can't). Files are
    * modeled as `nBuckets` orderkey-residue buckets; each gets a
    * `kHashes`×`mBits` bloom of its partkeys built from the portable
    * md5-prefix hash, so the index is a (bucket, bit) set BOUNDED by
    * nBuckets·mBits rows no matter how many rows the table has — the whole
    * point of the structure. The probe half asks, for each of `nProbes`
    * keys: how many files might contain it (all k bits set), how many truly
    * do, and the false-positive overhead — i.e. the scan-skip rate the
    * index would buy, measured not assumed. Blooms never miss a true
    * bucket (asserted by spec); the shuffles here carry (bucket, bit)
    * longs and the probe side is a tiny broadcast.
    */
  def bloomSkipStats(li: DataFrame, nBuckets: Int = 64, mBits: Int = 4096,
                     kHashes: Int = 3, nProbes: Int = 20): DataFrame = {
    def bitOf = expr(
      s"CAST(conv(substring(md5(concat('bf', CAST(h AS STRING), ':', " +
        s"CAST(key AS STRING))), 1, 8), 16, 10) AS BIGINT) % $mBits")
    val keys = li.select((col("l_orderkey") % nBuckets).as("bucket"),
      col("l_partkey").as("key")).distinct()
    val bloom = keys
      .select(col("bucket"), col("key"),
        explode(sequence(lit(0), lit(kHashes - 1))).as("h"))
      .withColumn("bit", bitOf)
      .select(col("bucket"), col("bit")).distinct()
    val probes = li.sparkSession.range(1, nProbes + 1)
      .select(col("id").as("key"))
    val probeBits = probes
      .select(col("key"), explode(sequence(lit(0), lit(kHashes - 1))).as("h"))
      .withColumn("bit", bitOf)
    // nProbes*kHashes rows against the bounded bloom frame: the probe side
    // is the broadcast side by construction, not by AQE's runtime guess
    val cands = bloom.join(broadcast(probeBits), Seq("bit"))
      .groupBy(col("key"), col("bucket"))
      .agg(countDistinct(col("h")).as("nh"))
      .filter(col("nh") === kHashes)
      .groupBy(col("key")).agg(countDistinct(col("bucket")).as("n_candidates"))
    val truth = keys.filter(col("key").between(1, nProbes))
      .groupBy(col("key")).agg(countDistinct(col("bucket")).as("n_true"))
    probes
      .join(cands, Seq("key"), "left")
      .join(truth, Seq("key"), "left")
      .select(col("key"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        (coalesce(col("n_candidates"), lit(0L))
          - coalesce(col("n_true"), lit(0L))).as("n_false_pos"),
        (floor((lit(1.0) - coalesce(col("n_candidates"), lit(0L))
          .cast("double") / nBuckets) * 10000 + 0.5) / 10000).as("skip_rate"))
      .orderBy(col("key"))
  }

  /** Revenue bridge (price/volume/mix decomposition) — the FP&A answer
    * to "WHY did revenue move between two periods": per segment, with
    * exact-integer revenue cents r and centi-unit volume v per period,
    *   Δr = p₁·Δv  (volume effect: sold more at old prices)
    *      + v₁·Δp  (price effect: old volume at new prices)
    *      + Δp·Δv  (mix/interaction),
    * where p = r/v is the realized unit price. The three effects sum to
    * Δr EXACTLY in exact arithmetic; here each effect is a fixed
    * rational expression over four BIGINTs (one or two divisions,
    * identical IEEE both engines) and `resid` audits the identity at the
    * quantization floor. Compares the first and last calendar month of
    * the ship-date range per priority segment: two narrow aggregates
    * plus a 1-row broadcast of the month bounds — scan-scale at any SF.
    */
  def revenueBridge(li: DataFrame, orders: DataFrame): DataFrame = {
    def q2(c: Column): Column = floor(c * 100 + 0.5) / 100
    val seg = li.join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderpriority").as("seg")), Seq("l_orderkey"))
      .select(col("seg"),
        date_trunc("month", col("l_shipdate")).as("month"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("rc"),
        floor(col("l_quantity") * 100 + 0.5).cast("long").as("vc"))
    val bounds = seg.agg(min(col("month")).as("m1"), max(col("month")).as("m2"))
    val per = seg.crossJoin(broadcast(bounds))
      .filter(col("month") === col("m1") || col("month") === col("m2"))
      .groupBy(col("seg"))
      .agg(
        sum(when(col("month") === col("m1"), col("rc"))).as("r1"),
        sum(when(col("month") === col("m1"), col("vc"))).as("v1"),
        sum(when(col("month") === col("m2"), col("rc"))).as("r2"),
        sum(when(col("month") === col("m2"), col("vc"))).as("v2"))
    // all four sums are exact BIGINT cents/centi-units; every effect is
    // a fixed expression over them — p1 = r1/v1, dv = v2−v1, dp = r2/v2−r1/v1
    per
      .withColumn("p1", col("r1").cast("double") / col("v1").cast("double"))
      .withColumn("p2", col("r2").cast("double") / col("v2").cast("double"))
      .select(col("seg"),
        q2(col("r1").cast("double") / 100.0).as("rev_m1"),
        q2(col("r2").cast("double") / 100.0).as("rev_m2"),
        q2((col("r2") - col("r1")).cast("double") / 100.0).as("delta"),
        q2(col("p1") * (col("v2") - col("v1")).cast("double") / 100.0)
          .as("volume_effect"),
        q2(col("v1").cast("double") * (col("p2") - col("p1")) / 100.0)
          .as("price_effect"),
        q2((col("p2") - col("p1"))
          * (col("v2") - col("v1")).cast("double") / 100.0).as("mix_effect"),
        q2(((col("r2") - col("r1")).cast("double")
          - col("p1") * (col("v2") - col("v1")).cast("double")
          - col("v1").cast("double") * (col("p2") - col("p1"))
          - (col("p2") - col("p1")) * (col("v2") - col("v1")).cast("double"))
          / 100.0).as("resid"))
      .orderBy(col("seg"))
  }

  /** TPC-H Q11-shaped important-part screen: parts whose revenue exceeds a
    * MULTIPLE of the mean per-part revenue — the GROUP BY +
    * scalar-subquery-threshold (HAVING SUM > f·total/n) shape. A
    * fixed-share cut (TPC-H's literal form) empties as the part count
    * grows, so the scale-invariant multiple-of-mean is what a production
    * screen actually runs. Both the per-part sums and the (total, n_parts)
    * scalar are exact cent longs, and the cut line is decided by exact
    * integer cross-multiplication in DECIMAL(38,0) — cents·n_parts·1000
    * exceeds int64 a few hundred SF up, and a wrapped long would
    * keep/drop the wrong parts silently while the oracle's HUGEINT raises.
    */
  def importantParts(li: DataFrame, part: DataFrame,
                     multipleMillis: Long = 1300L): DataFrame = {
    val perPart = li.groupBy(col("l_partkey"))
      .agg(sum(floor(revenue * 100 + 0.5).cast("long")).as("cents"))
    val total = perPart.agg(sum(col("cents")).as("total_cents"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .filter(col("cents").cast("decimal(38,0)") * col("n_parts") * 1000L
        > col("total_cents").cast("decimal(38,0)") * multipleMillis)
      .join(part.select(col("p_partkey"), col("p_name"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("p_name"), col("p_type"),
        round(col("cents").cast("double") / 100.0, 2).as("value"),
        (floor(col("cents").cast("double") / col("total_cents")
          * 1000000 + 0.5) / 1000000).as("share"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** TPC-H Q22-shaped dormant-customer screen: customers with an
    * above-average positive balance and no order SINCE the cutoff date —
    * the scalar-subquery threshold + anti-join combo (pure "never ordered"
    * is empty in this schema: every customer orders eventually, so the
    * production question is recency). The average is ONE exact-cent
    * division broadcast everywhere; the anti join sees only the filtered
    * key column of orders, pruned at the scan by the date predicate.
    */
  def dormantHighValueCustomers(customer: DataFrame, orders: DataFrame,
                                sinceDate: String = "2000-01-01"): DataFrame = {
    val avgBal = customer.filter(col("c_acctbal") > 0)
      .agg((sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")).cast("double")
        / count(lit(1)).cast("double") / 100.0).as("avg_bal"))
    customer.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders.filter(col("o_orderdate") >= sinceDate).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 7).as("cntry_bucket"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(floor(col("c_acctbal") * 100 + 0.5).cast("long"))
          .cast("double") / 100.0, 2).as("total_bal"))
      .orderBy(col("cntry_bucket"))
  }

  /** TPC-H Q21-shaped "waiting suppliers": suppliers who were the SOLE
    * late shipper in a multi-supplier finished order (late adapted to this
    * schema: shipped > 60 days after the order date — the fixture has no
    * commit/receipt dates). The reference formulation is an EXISTS +
    * NOT-EXISTS correlated chain over the fact table — re-expressed here
    * Spark-first as PER-ORDER AGGREGATES: one orderkey-grouped pass
    * computes (distinct suppliers, distinct LATE suppliers) per order, and
    * the l1 predicate becomes `late ∧ n_supp ≥ 2 ∧ n_late_supp = 1` — the
    * same rows, but ONE co-partitioned shuffle on the order key instead of
    * two more fact-fact correlated joins (at 100 TB the three-way
    * self-join is the difference between one exchange and three). The
    * DuckDB oracle keeps the LITERAL exists/not-exists form, so parity
    * also proves the rewrite's equivalence. Supplier names ride a
    * broadcast dim join after the counts collapse to ≤|suppliers| rows.
    */
  def waitingSuppliers(li: DataFrame, orders: DataFrame, supplier: DataFrame,
                       lateDays: Int = 60, k: Int = 25): DataFrame = {
    val fOrders = orders.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val withLate = li.select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > date_add(col("o_orderdate"), lateDays))
    val perOrder = withLate.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
    withLate.filter(col("late"))
      .join(perOrder, Seq("l_orderkey")) // co-partitioned: same key as above
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(k)
  }

  /** TPC-H Q7-shaped nation-pair trade volume: revenue flowing between a
    * supplier nation and a customer nation (both directions) by ship year.
    * The NATION dim broadcasts are ≤2 rows each (filtered to the pair
    * first); the derived suppNation/custNation frames are supplier- and
    * customer-SCALED (~2/25 of each table), so those joins carry no hint —
    * Spark broadcasts them while they are small and shuffle-joins past that
    * (an unconditional |customers|-sized broadcast OOMs the driver at the
    * 100 TB posture). lineitem⋈orders is
    * the only mandatory fact-fact shuffle, and the pair predicate
    * `(s=A ∧ c=B) ∨ (s=B ∧ c=A)` is applied post-join on two already-joined
    * dim columns (no cross product — each fact row carries exactly one
    * supp/cust nation pair).
    */
  def nationTradeVolume(li: DataFrame, orders: DataFrame, customer: DataFrame,
                        supplier: DataFrame, nation: DataFrame,
                        nationA: String, nationB: String): DataFrame = {
    val pair = Seq(nationA, nationB)
    val suppNation = supplier
      .join(broadcast(nation.filter(col("n_name").isin(pair: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("n_name").as("supp_nation"))
    val custNation = customer
      .join(broadcast(nation.filter(col("n_name").isin(pair: _*))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    li.join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(suppNation, Seq("l_suppkey"))
      .join(custNation,
        col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(floor(revenue * 100 + 0.5)).cast("double") / 100.0, 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8-shaped market share: of all revenue for parts of one type sold
    * to customers in one region, the fraction supplied by one target nation,
    * by order year. The share is a conditional-sum ratio inside ONE hash
    * aggregate (no self-join, no second scan); the part dim is filtered
    * before its (type-selective, unconditionally small) broadcast, while
    * the customer-scaled regionCust and supplier-scaled suppNation frames
    * carry no hint — Spark broadcasts them only while they are small
    * enough. Cent-quantized BIGINT sums make the
    * numerator/denominator exact, so the final ratio is one IEEE divide
    * on both engines.
    */
  def marketShare(li: DataFrame, orders: DataFrame, customer: DataFrame,
                  supplier: DataFrame, nation: DataFrame, region: DataFrame,
                  part: DataFrame, targetNation: String, regionName: String,
                  partType: String): DataFrame = {
    val regionCust = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNation = supplier
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey").as("l_suppkey"), col("supp_nation"))
    li.join(broadcast(part.filter(col("p_type") === partType)
          .select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(regionCust,
        col("o_custkey") === col("c_custkey"))
      .join(suppNation, Seq("l_suppkey"))
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        floor(revenue * 100 + 0.5).cast("long").as("cents"),
        col("supp_nation"))
      .groupBy(col("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === targetNation, col("cents"))
          .otherwise(lit(0L))).cast("double")
          / sum(col("cents")).cast("double"), 6).as("mkt_share"),
        round(sum(col("cents")).cast("double") / 100.0, 2).as("total_revenue"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q10-shaped returned-item revenue loss: per-customer revenue of
    * RETURNED lineitems for orders placed in one quarter, top-k customers.
    * The order-date filter lands in the parquet scan (pushed predicate) and
    * shrinks the orders side before its fact-fact join; nation is broadcast
    * unconditionally (25 rows), but the FULL customer projection is
    * |customers|-sized, so it is BYTE-GATED — broadcast only while it
    * measures under the cap, shuffle-joined past it.
    */
  def returnedItemLoss(li: DataFrame, orders: DataFrame, customer: DataFrame,
                       nation: DataFrame, qStart: String, qEnd: String,
                       k: Int): DataFrame =
    li.filter(col("l_returnflag") === "R")
      .join(orders.filter(col("o_orderdate") >= qStart &&
          col("o_orderdate") < qEnd).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_name",
        "c_nationkey", "c_acctbal"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(floor(revenue * 100 + 0.5)).cast("double") / 100.0, 2)
          .as("revenue"),
        round(first(col("c_acctbal")), 2).as("c_acctbal"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("revenue"), col("c_acctbal"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)

  /** TPC-H Q18-shaped large-volume orders: orders whose total lineitem
    * quantity exceeds a threshold, with customer attribution. The HAVING
    * subquery is ONE aggregate over lineitem that keeps only (orderkey)
    * keys past the threshold — at 100 TB the qualifying set is tiny, so the
    * back-join to orders uses that reduced side; the |customers|-sized
    * key/name projection is BYTE-GATED rather than force-broadcast.
    */
  def largeVolumeOrders(li: DataFrame, orders: DataFrame, customer: DataFrame,
                        minQty: Double): DataFrame = {
    val big = li.groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > minQty)
    orders.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer.select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }

  /** TPC-H Q6-shaped forecast-revenue change: the canonical scan-filter-
    * aggregate — what revenue would have been gained by eliminating
    * discounts in a band, for one ship-year and small quantities. All three
    * predicates PUSH to the parquet scan (plan-guarded), so at 100 TB this
    * reads only the row groups whose min/max straddle the band; the sum is
    * one map-side partial aggregate. Money stays exact: price rides as
    * cents (long) and the discount as basis-point-hundredths (round(d·100)
    * — the generator's discounts are 2-dp multiples), so Σ cents·bp is an
    * exact long and the output is ONE division by 1e4.
    */
  def revenueDelta(li: DataFrame, year: String = "1996",
                   loBp: Int = 5, hiBp: Int = 7, maxQty: Double = 24): DataFrame =
    li.filter(col("l_shipdate") >= s"$year-01-01"
        && col("l_shipdate") < s"${year.toInt + 1}-01-01"
        && col("l_quantity") < maxQty
        && round(col("l_discount") * 100).cast("int").between(loBp, hiBp))
      .agg(count(lit(1)).as("n_lines"),
        (sum(round(col("l_extendedprice") * 100).cast("long")
          * round(col("l_discount") * 100).cast("long")).cast("double")
          / 10000.0).as("revenue"))

  /** TPC-H Q14-shaped promo revenue share by ship month: of each month's
    * part revenue, the fraction from PROMO-type parts. One fact scan; the
    * |parts|-sized (partkey → is_promo) map carries no hint: Spark
    * broadcasts it while it is small and shuffle-joins it past that, as
    * for the other customer/part-scaled "dims". The share is a
    * conditional-sum ratio of exact cent longs inside ONE aggregate.
    */
  def promoShare(li: DataFrame, part: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val isPromo = part.select(col("p_partkey"),
      (col("p_type") === "PROMO").as("is_promo"))
    li.join(isPromo,
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM")
        .as("month"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(when(col("is_promo"), floor(revenue * 100 + 0.5).cast("long"))
          .otherwise(lit(0L))).cast("double") / 100.0).as("promo_revenue"),
        (sum(floor(revenue * 100 + 0.5).cast("long")).cast("double") / 100.0)
          .as("total_revenue"),
        q4(lit(100.0)
          * sum(when(col("is_promo"), floor(revenue * 100 + 0.5).cast("long"))
            .otherwise(lit(0L))).cast("double")
          / sum(floor(revenue * 100 + 0.5).cast("long")).cast("double"))
          .as("promo_share_pct"))
      .orderBy(col("month"))
  }

  /** TPC-H Q15-shaped top supplier: the supplier(s) with maximum revenue
    * in one ship quarter — the max-of-aggregate + equality-join-back shape
    * (TIES KEPT, which is why it is not a LIMIT 1). The per-supplier
    * aggregate is the only fact exchange; the scalar max broadcasts back
    * into it, and the supplier dim joins broadcast. Revenue compares as
    * EXACT cent longs, so "equals the max" is never a float-equality trap.
    */
  def topSupplier(li: DataFrame, supplier: DataFrame,
                  qStart: String = "1996-01-01",
                  qEnd: String = "1996-04-01"): DataFrame = {
    val rev = li.filter(col("l_shipdate") >= qStart && col("l_shipdate") < qEnd)
      .groupBy(col("l_suppkey"))
      .agg(sum(floor(revenue * 100 + 0.5).cast("long")).as("cents"))
      .persist() // read by the scalar max AND the join-back: one fact scan
    val top = rev.agg(max(col("cents")).as("max_cents"))
    rev.crossJoin(broadcast(top))
      .filter(col("cents") === col("max_cents"))
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("cents").cast("double") / 100.0).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q19-shaped disjunctive bracket revenue: three (brand, size,
    * quantity) brackets OR'ed together — the classic test that an OR of
    * conjunctions still plans as ONE partkey equi-join with the
    * disjunction as a post-join filter (not a fallback cartesian or three
    * scans; plan-guarded). Emitted per bracket rather than as Q19's single
    * scalar so the oracle pins each arm independently; revenue is the
    * exact-cents sum.
    */
  def disjunctiveBrackets(li: DataFrame, part: DataFrame): DataFrame = {
    val p = part.select(col("p_partkey"), col("p_brand"), col("p_size"))
    def arm(brand: String, sizeHi: Int, qLo: Double, qHi: Double): Column =
      col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
    val a1 = arm("Brand#12", 5, 1, 11)
    val a2 = arm("Brand#20", 10, 10, 20)
    val a3 = arm("Brand#24", 15, 20, 30)
    li.join(p,
        col("l_partkey") === col("p_partkey"))
      .filter(a1 || a2 || a3)
      .select(when(a1, 1).when(a2, 2).otherwise(3).as("bracket"),
        floor(revenue * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("bracket"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("cents")).cast("double") / 100.0).as("revenue"))
      .orderBy(col("bracket"))
  }

  /** TPC-H Q2-shaped minimum-cost supplier: for every part in a type/size
    * slice, the supplier(s) achieving the MINIMUM observed unit cost, with
    * supplier-nation attribution restricted to one region. This corpus has
    * no partsupp table, so the supply relation is DERIVED: one narrow
    * aggregate over lineitem keyed (partkey, suppkey) whose min exact-cents
    * price is the cost proxy. The per-part min is a window over the
    * PARTKEY partition of the already-aggregated supply frame (never the
    * fact rows), ties kept like the real Q2; the Spark side is the
    * window-min rewrite while the oracle keeps the literal correlated
    * scalar subquery — parity proves the rewrite. Supplier/nation/region
    * dims broadcast (nation/region hinted, supplier by the planner's size).
    * At 100 TB the only wide exchange is the (partkey, suppkey) aggregate,
    * which is the minimal co-key for the semantics.
    */
  def minCostSupplier(li: DataFrame, part: DataFrame, supplier: DataFrame,
                      nation: DataFrame, region: DataFrame,
                      targetType: String = "SMALL", maxSize: Int = 15,
                      targetRegion: String = "EUROPE", k: Int = 100): DataFrame = {
    val supply = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
        .as("cost_cents"))
    val wPart = Window.partitionBy(col("l_partkey"))
    val cheapest = supply
      .withColumn("min_cents", min(col("cost_cents")).over(wPart))
      .filter(col("cost_cents") === col("min_cents"))
    cheapest
      .join(part
          .filter(col("p_type") === targetType && col("p_size") <= maxSize)
          .select(col("p_partkey"), col("p_name"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .join(supplier.select("s_suppkey", "s_name", "s_acctbal", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === targetRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select(round(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"),
        col("n_name"), col("p_partkey"), col("p_name"),
        (col("cost_cents").cast("double") / 100.0).as("min_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(k)
  }

  /** TPC-H Q4-shaped order-priority check: how many orders per priority,
    * in one quarter, had at least one LATE lineitem (shipped more than
    * `lateDays` after the order date — this corpus has no
    * commit/receipt-date pair, so lateness correlates ship date against
    * the parent order's date, same proxy [[waitingSuppliers]] uses). The
    * EXISTS is a LEFT SEMI join on the order key with the date predicate
    * in the join condition — one co-partitioned exchange, no fact
    * duplication (semi joins emit each order at most once, so the count
    * needs no distinct). The quarter filter lands in the orders scan.
    */
  def orderPriorityCheck(li: DataFrame, orders: DataFrame,
                         qStart: String = "1996-07-01",
                         qEnd: String = "1996-10-01",
                         lateDays: Int = 30): DataFrame =
    orders.filter(col("o_orderdate") >= qStart && col("o_orderdate") < qEnd)
      .join(li.select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q9-shaped product-type profit: per (supplier nation, order
    * year), the profit on parts whose name carries a token — revenue minus
    * a unit-cost charge. No partsupp/supplycost exists here, so the unit
    * cost proxy is the part's retail price; profit stays EXACT:
    * floor-cents revenue minus retail-cents × whole units, every term a
    * long. The token-filtered (partkey → retail cents) map and the
    * supplier→nation map broadcast by their planned size; orders contributes
    * only (orderkey → year) and joins fact-to-fact on the order key. The
    * name filter shrinks lineitem FIRST (via the broadcast hash join), so
    * the orders join moves only qualifying lines.
    */
  def productProfit(li: DataFrame, orders: DataFrame, part: DataFrame,
                    supplier: DataFrame, nation: DataFrame,
                    nameToken: String = "widget"): DataFrame = {
    val p = part.filter(col("p_name").contains(nameToken))
      .select(col("p_partkey"),
        floor(col("p_retailprice") * 100 + 0.5).cast("long").as("retail_cents"))
    val sn = supplier.select("s_suppkey", "s_nationkey")
    val profitCents = floor(revenue * 100 + 0.5).cast("long") -
      col("retail_cents") * floor(col("l_quantity")).cast("long")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(orders.select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(profitCents).cast("double") / 100.0).as("profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** TPC-H Q12-shaped late-shipment priority split: per return-flag class
    * (the mode stand-in — this corpus ships no shipmode column), among
    * lines shipped LATE in one year, how many belong to high-priority
    * (URGENT/HIGH) orders vs everything else. The year filter pushes to
    * the lineitem scan; orders contributes only (orderkey, priority,
    * orderdate) through the one co-partitioned fact join; the split is a
    * conditional-count pair inside a single aggregate.
    */
  def latePriorityByFlag(li: DataFrame, orders: DataFrame,
                         year: String = "1997", lateDays: Int = 45,
                         flags: Seq[String] = Seq("A", "R")): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.filter(col("l_shipdate") >= s"$year-01-01" &&
        col("l_shipdate") < s"${year.toInt + 1}-01-01" &&
        col("l_returnflag").isin(flags: _*))
      .join(orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAY"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q16-shaped supplier-part-relationship counts: how many DISTINCT
    * suppliers offer parts per (brand, type, size) cell, excluding one
    * brand, one type, restricting to a size list, and excluding
    * "complained-about" suppliers (negative account balance — the comment
    * scan proxy). The supply relation is the derived DISTINCT
    * (partkey, suppkey) set, aggregated BEFORE the part attributes attach
    * (the distinct is on the narrowest possible key pair); the exclusion
    * list is an anti join against the (tiny) flagged-supplier set — NOT IN
    * with no null trap since keys are non-null by construction.
    */
  def supplierPartCounts(li: DataFrame, part: DataFrame, supplier: DataFrame,
                         excludeBrand: String = "Brand#5",
                         excludeType: String = "PROMO",
                         sizes: Seq[Int] = Seq(1, 4, 7, 10, 13, 16, 19, 22)): DataFrame = {
    val pdim = part.filter(col("p_brand") =!= excludeBrand &&
        col("p_type") =!= excludeType && col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val flagged = supplier.filter(col("s_acctbal") < 0).select("s_suppkey")
    li.select("l_partkey", "l_suppkey").distinct()
      .join(pdim,
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20-shaped majority suppliers: suppliers who shipped MORE THAN
    * HALF of a part's total year volume, for parts in one name-token
    * family — the "who can actually supply this" screen. Quantities sum as
    * exact whole-unit longs; the majority test is the integer
    * cross-multiplication 2·pair_qty > part_qty (no float share). Both
    * aggregates ride ONE (partkey, suppkey) shuffle — the per-part total
    * is a window over the partkey partition of the aggregated frame, not a
    * second fact scan. Qualifying suppliers (tiny) then semi-join the
    * supplier dim with nation attribution.
    */
  def majorityVolumeSuppliers(li: DataFrame, part: DataFrame,
                              supplier: DataFrame, nation: DataFrame,
                              nameToken: String = "red",
                              year: String = "1998"): DataFrame = {
    val p = part.filter(col("p_name").contains(nameToken)).select("p_partkey")
    val pairQty = li.filter(col("l_shipdate") >= s"$year-01-01" &&
        col("l_shipdate") < s"${year.toInt + 1}-01-01")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("pair_qty"))
    val wPart = Window.partitionBy(col("l_partkey"))
    val majority = pairQty
      .withColumn("part_qty", sum(col("pair_qty")).over(wPart))
      .filter(col("pair_qty") * 2 > col("part_qty"))
      .select("l_suppkey").distinct()
    supplier.join(majority, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17-shaped small-quantity revenue: the average yearly revenue
    * that would be lost if orders below 20% of their part's average
    * quantity were no longer taken, over one brand and a size list (the
    * container proxy — this corpus ships no `p_container`). The 20% test
    * is the integer cross-multiplication `5·qty·n_lines < part_qty_sum`
    * (quantities are exact whole units in this corpus), so no float
    * average crosses an engine boundary. The brand/size filter shrinks
    * lineitem FIRST through a broadcast of the qualifying part keys
    * (chosen by the planner from the part scan's size); the per-part statistics ride a window over ONE partkey exchange
    * of the already-filtered lines — no second fact scan, no agg-and-join-
    * back, and the window is partitioned (per-part line counts are bounded
    * by order multiplicity, never corpus-sized).
    */
  def smallQuantityRevenue(li: DataFrame, part: DataFrame,
                           brand: String = "Brand#3",
                           sizes: Seq[Int] = Seq(1, 2, 3, 4, 5)): DataFrame = {
    val p = part.filter(col("p_brand") === brand &&
        col("p_size").isin(sizes: _*))
      .select("p_partkey")
    val w = Window.partitionBy(col("l_partkey"))
    li.join(p,
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        floor(col("l_quantity")).cast("long").as("qty"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_cents"))
      .withColumn("part_qty_sum", sum(col("qty")).over(w))
      .withColumn("n_lines", count(lit(1)).over(w))
      .filter(col("qty") * 5 * col("n_lines") < col("part_qty_sum"))
      .agg((sum(col("price_cents")).cast("double") / 100.0 / 7.0)
          .as("avg_yearly"),
        count(lit(1)).as("n_small_lines"))
  }
}
