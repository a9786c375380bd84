package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over monthly grids — the operations the reference's
  * continuity check implies but never computes (`check_hicp_quality.py:41–49`
  * flags month gaps; these operators FILL them, impute values across them,
  * and derive the year-over-year rates that are the entire point of an HICP
  * index). Generalized to any (key, month, value) series; demonstrated over
  * per-supplier monthly shipped quantity from `lineitem`.
  *
  * Scale shape: everything is one `groupBy` to the monthly grain (map-side
  * combined), then per-key window passes — a single shuffle on the series
  * key. The month spine comes from `sequence()` + `explode` per key (at most
  * |months| rows per key), never from a driver-side loop, so a 100 TB fact
  * table densifies into its series grid with the same two exchanges.
  */
object TimeSeriesOps {

  /** Monthly sum-of-quantity series per supplier (restricted to a key prefix
    * so driver outputs stay bounded at every SF). Quantities are
    * integer-valued in this schema, so the sums are IEEE-exact and every
    * engine computes identical values regardless of partial-agg order.
    */
  def monthlySeries(li: DataFrame, maxSuppkey: Int): DataFrame =
    li.filter(col("l_suppkey") < maxSuppkey)
      .groupBy(col("l_suppkey"), date_trunc("month", col("l_shipdate")).as("month"))
      .agg(sum(col("l_quantity")).as("qty"))

  /** Gap-fill: expand each key's [min, max] month span into the full month
    * spine (`sequence` + `explode`) and left-join the observed points back —
    * missing months surface as explicit null-valued rows (the reference's
    * sparse-JSON-stat convention: absent index = retained null row).
    */
  def gapFillMonthly(li: DataFrame, maxSuppkey: Int): DataFrame = {
    // read twice (spans + join side) — pin so the fact scan runs once;
    // session runners release via Exec.clearPinned
    val monthly = Exec.pin(monthlySeries(li, maxSuppkey))
    val spine = monthly.groupBy(col("l_suppkey"))
      .agg(min(col("month")).as("mn"), max(col("month")).as("mx"))
      .select(col("l_suppkey"),
        explode(sequence(col("mn"), col("mx"), expr("interval 1 month"))).as("month"))
    spine.join(monthly, Seq("l_suppkey", "month"), "left")
  }

  /** Driver-facing gap-fill table: month as string, explicit gap flag. */
  def gapFillTable(li: DataFrame, maxSuppkey: Int): DataFrame =
    gapFillMonthly(li, maxSuppkey)
      .select(col("l_suppkey"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        round(col("qty"), 2).as("qty"),
        col("qty").isNull.as("is_gap"))
      .orderBy(col("l_suppkey"), col("month"))

  /** Linear interpolation across gaps: for each null month, carry the
    * nearest non-null value from both directions (`last`/`first` with
    * ignoreNulls over the per-key month order) and weight by month distance.
    * Leading/trailing gaps (no bracket on one side) stay null. Two window
    * passes over the SAME partitioning — one shuffle total on the key.
    */
  def interpolateMonthly(li: DataFrame, maxSuppkey: Int): DataFrame = {
    val wPrev = Window.partitionBy(col("l_suppkey")).orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("l_suppkey")).orderBy(col("month"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsMonth = when(col("qty").isNotNull, col("month"))
    gapFillMonthly(li, maxSuppkey)
      .withColumn("prev_qty", last(col("qty"), ignoreNulls = true).over(wPrev))
      .withColumn("prev_m", last(obsMonth, ignoreNulls = true).over(wPrev))
      .withColumn("next_qty", first(col("qty"), ignoreNulls = true).over(wNext))
      .withColumn("next_m", first(obsMonth, ignoreNulls = true).over(wNext))
      .withColumn("qty_filled",
        when(col("qty").isNotNull, col("qty"))
          .when(col("prev_qty").isNull || col("next_qty").isNull,
            lit(null).cast("double"))
          .otherwise(col("prev_qty")
            + (col("next_qty") - col("prev_qty"))
            * (months_between(col("month"), col("prev_m"))
              / months_between(col("next_m"), col("prev_m")))))
      .select(col("l_suppkey"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        col("qty").isNull.as("was_gap"),
        (floor(col("qty_filled") * 100 + 0.5) / 100).as("qty_filled"))
      .orderBy(col("l_suppkey"), col("month"))
  }

  /** Exponentially weighted moving average per series:
    * EWMA_t = α·x_t + (1−α)·EWMA_{t−1}, seeded with x_0. The recurrence
    * unrolls into a closed form over one window pass:
    * EWMA_t = (1−α)^t·x_0 + α·Σ_{i=1..t} (1−α)^{t−i}·x_i, computed as a
    * cumulative sum of x_i/(1−α)^i rescaled by (1−α)^t — pure window
    * algebra, one shuffle on the series key, no iterative driver loop.
    *
    * Determinism contract: with α = 0.5 every scaled term x_i·2^i is an
    * exact integer-valued double, so the cumulative sum is exact in ANY
    * addition order — engines that sum window frames with a segment tree
    * (pairwise order) and engines that scan sequentially produce the SAME
    * bits. Other α values leave the sum order-sensitive at the ULP; the
    * series is bounded (key-prefix + 2-year span) so the 2^i scaling stays
    * far below 2^53. Output floor-quantized at 4dp.
    */
  def ewmaMonthly(li: DataFrame, alpha: Double): DataFrame = {
    val monthly = li.filter(col("l_suppkey") < 100
        && col("l_shipdate") >= lit("1996-01-01").cast("date")
        && col("l_shipdate") < lit("1998-01-01").cast("date"))
      .groupBy(col("l_returnflag"),
        to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(sum(col("l_quantity")).as("qty"))
    ewma(monthly, "l_returnflag", "month", "qty", alpha)
      .select(col("l_returnflag"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        round(col("qty"), 2).as("qty"),
        (floor(col("ewma") * 10000 + 0.5) / 10000).as("ewma"))
      .orderBy(col("l_returnflag"), col("month"))
  }

  /** Generic EWMA core over any (key, order, value) series — the closed-form
    * window pass documented on [[ewmaMonthly]]. The x_i/β^i rescaling grows
    * exponentially with the per-key series position, so the range is GUARDED
    * in-plan: `assert_true` fails the job loudly the moment |x_t|/β^t leaves
    * the exactly-representable double range (2^53), instead of silently
    * returning an EWMA built from rounded (eventually inf) terms. The guard
    * is a scalar expression fused into the projection — no extra job, no
    * extra shuffle; the `+ coalesce(assert, 0)` form keeps it un-prunable.
    * Callers with longer series rescale in blocks or pick a larger β.
    */
  def ewma(series: DataFrame, keyCol: String, ordCol: String,
           valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(ordCol))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val beta = 1.0 - alpha
    val scaledExpr = col(valCol) / pow(lit(beta), col("t"))
    series
      .withColumn("t", row_number().over(w) - 1)
      // scaled = x_i / β^i  (i = 0-based per-key index); seed term folds in
      // because the i=0 row contributes x_0/β^0 weighted α, plus the extra
      // (1−α)^t·x_0 − α·(1−α)^t·x_0 correction below
      .withColumn("scaled",
        scaledExpr + coalesce(
          assert_true(abs(scaledExpr) < lit(9.007199254740992e15),
            concat(lit("ewma: |x_t|/beta^t exceeded 2^53 (series too long " +
              s"for alpha=$alpha) at t="), col("t").cast("string"))),
          lit(0.0)))
      .withColumn("cum", sum(col("scaled")).over(wCum))
      .withColumn("x0", first(col(valCol)).over(wCum))
      .withColumn("ewma",
        pow(lit(beta), col("t")) * (lit(alpha) * col("cum") + lit(beta) * col("x0")))
      .drop("t", "scaled", "cum", "x0")
  }

  /** Year-over-year percent change per series — the inflation-rate shape
    * (HICP's raison d'être). Joins each month to its exact month−12
    * counterpart (a self-join on the shifted month key, NOT `lag(12)`, which
    * silently mis-pairs across gaps). Sums are integer-exact, so the ratio
    * is engine-deterministic; quantized at 4dp for the oracle compare.
    */
  def yoyChange(li: DataFrame): DataFrame = {
    val monthly = Exec.pin(li
      .groupBy(col("l_returnflag"),
        to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(sum(col("l_quantity")).as("qty"))) // both sides of the month-12 self-join read this
    val prev = monthly.select(col("l_returnflag"),
      add_months(col("month"), 12).as("month"), col("qty").as("prev_qty"))
    monthly.join(prev, Seq("l_returnflag", "month"), "left")
      .select(col("l_returnflag"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        round(col("qty"), 2).as("qty"),
        round(col("prev_qty"), 2).as("prev_qty"),
        (floor((col("qty") / col("prev_qty") - 1) * 100 * 10000 + 0.5) / 10000)
          .as("yoy_pct"))
      .orderBy(col("l_returnflag"), col("month"))
  }

  /** CUSUM changepoint detection per series: the month where the running
    * sum of deviations from the series mean peaks — the classic
    * level-shift locator. Computed ENTIRELY in integers: with x_i integer
    * quantities, n·CUSUM_t = Σ(n·x_i − S) is an exact long cumsum, so the
    * argmax month and peak value are bit-identical in any engine (a
    * double CUSUM's summation-order ULPs could flip a near-tie argmax);
    * the 1/n scaling happens once, on the single surviving row per key.
    * One monthly aggregate, one broadcast stats join, one window pass.
    * Long range: |n·dev| < n²·max|x| — overflow needs a 10^15-quantity
    * month, documented safe for any realistic fact table.
    */
  def cusumChangepoint(li: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val monthly = li
      .groupBy(col("l_returnflag").as("key"),
        to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
    val stats = monthly.groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
    val wc = Window.partitionBy(col("key")).orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = monthly.join(broadcast(stats), Seq("key"))
      .withColumn("cusum_n", sum(col("qty") * col("n") - col("s")).over(wc))
    val pick = Window.partitionBy(col("key"))
      .orderBy(abs(col("cusum_n")).desc, col("month"))
    scored.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("key"),
        date_format(col("month"), "yyyy-MM-dd").as("cp_month"),
        col("n").as("n_months"),
        q4(abs(col("cusum_n")).cast("double") / col("n")).as("max_cusum"))
      .orderBy(col("key"))
  }

  /** MULTI-changepoint detection by binary segmentation (depth 2) —
    * [[cusumChangepoint]] finds ONE shift; real series have several, and
    * the standard answer is recursive splitting: take the global CUSUM
    * argmax as cp₁ (interior points only, t < n), then re-run the SAME
    * statistic inside each half against the half's own length and sum,
    * yielding cp₂ₐ/cp₂ᵦ — three candidate shifts per key, each with its
    * segment-scaled statistic. Everything is the integer-scaled CUSUM
    * doctrine: stat_t = m·S'_t − t'·σ over EXACT longs (prefix sums of
    * cents-free quantities), argmaxes tie-broken by month, one division +
    * floor-quantize per emitted statistic — no float accumulates anywhere,
    * so the oracle replays the recursion exactly. Scale shape: one monthly
    * aggregate (the only corpus shuffle), a |keys|-sized broadcast of
    * level-1 picks, and windows partitioned by (key, segment) over
    * ≤|months| rows — millions of independent series decompose identically.
    */
  def binsegChangepoints(li: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    // level 1 AND the segment pass both read it
    val monthly = Exec.pin(li
      .groupBy(col("l_returnflag").as("key"),
        to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(sum(col("l_quantity")).cast("long").as("qty")))
    // r17b: the monthly frame is |keys|·|months| rows — a few hundred at
    // bench scale and bounded metadata at ANY corpus size (months are a
    // calendar, keys a low-cardinality enum); under the measured gate the
    // whole depth-2 recursion (stats aggregate + 2 broadcast joins + 2
    // window passes + 3 picks ≈ 8 blocking jobs of round latency over
    // ~250 rows) runs driver-resident on the SAME exact-integer prefix
    // sums with the SAME argmax tie-breaks and q4 floors (binseg parity
    // spec; oracle-verified at sf0.01/sf0.1). The corpus-sized work — the
    // one lineitem aggregate — stays distributed either way. Past the
    // gate (a pathological month×key explosion) the distributed plan
    // below runs unchanged.
    val collected = Exec.collectIfSmall(monthly.select(col("key"),
      date_format(col("month"), "yyyy-MM-dd").as("m"), col("qty")), Exec.DriverLoopRows)
    if (collected.isDefined) {
      monthly.unpersist(false)
      return binsegDriver(li.sparkSession, collected.get)
    }
    val wOrd = Window.partitionBy(col("key")).orderBy(col("month"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = monthly.groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("s"))
    val scored = monthly.join(broadcast(stats), Seq("key"))
      .withColumn("t", row_number().over(wOrd))
      .withColumn("stat", sum(col("qty") * col("n") - col("s")).over(wCum))
    val pick1 = Window.partitionBy(col("key"))
      .orderBy(abs(col("stat")).desc, col("month"))
    val cp1 = scored.filter(col("t") < col("n")) // interior splits only
      .withColumn("rn", row_number().over(pick1))
      .filter(col("rn") === 1)
      .select(col("key"), col("t").as("cp1_t"),
        col("month").as("cp1_month"), col("stat").as("stat1"),
        col("n").as("n_months"))
    val seg = scored.join(broadcast(cp1.select(col("key"), col("cp1_t"))),
        Seq("key"))
      .withColumn("seg", when(col("t") <= col("cp1_t"), 0).otherwise(1))
    val wSeg = Window.partitionBy(col("key"), col("seg")).orderBy(col("month"))
    val wSegCum = wSeg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segStats = seg.groupBy(col("key"), col("seg"))
      .agg(count(lit(1)).as("m"), sum(col("qty")).as("sig"))
    val segScored = seg.join(broadcast(segStats), Seq("key", "seg"))
      .withColumn("t2", row_number().over(wSeg))
      .withColumn("stat2", sum(col("qty") * col("m") - col("sig")).over(wSegCum))
    val pick2 = Window.partitionBy(col("key"), col("seg"))
      .orderBy(abs(col("stat2")).desc, col("month"))
    // a length-1 segment has no interior point: its cp is null (left join)
    val cp2 = segScored.filter(col("t2") < col("m"))
      .withColumn("rn", row_number().over(pick2))
      .filter(col("rn") === 1)
      .select(col("key"), col("seg"), col("month").as("cp2_month"),
        col("stat2").as("stat2"), col("m"))
    cp1
      .join(cp2.filter(col("seg") === 0)
        .select(col("key"), col("cp2_month").as("cp2a_month"),
          col("stat2").as("stat2a"), col("m").as("seg0_len")), Seq("key"), "left")
      .join(cp2.filter(col("seg") === 1)
        .select(col("key"), col("cp2_month").as("cp2b_month"),
          col("stat2").as("stat2b"), col("m").as("seg1_len")), Seq("key"), "left")
      .select(col("key"), col("n_months"),
        date_format(col("cp1_month"), "yyyy-MM-dd").as("cp1_month"),
        q4(abs(col("stat1")).cast("double") / col("n_months")).as("max_cusum1"),
        col("seg0_len"),
        date_format(col("cp2a_month"), "yyyy-MM-dd").as("cp2a_month"),
        q4(abs(col("stat2a")).cast("double") / col("seg0_len")).as("max_cusum2a"),
        col("seg1_len"),
        date_format(col("cp2b_month"), "yyyy-MM-dd").as("cp2b_month"),
        q4(abs(col("stat2b")).cast("double") / col("seg1_len")).as("max_cusum2b"))
      .orderBy(col("key"))
  }

  /** The in-memory depth-2 binary segmentation over the collected monthly
    * frame — see the gate comment in [[binsegChangepoints]]. Per key
    * (months ascending): exact long prefix sums give stat_t = Σ(x_i·n − S);
    * cp1 = interior argmax |stat| tying to the EARLIEST month (the
    * (abs desc, month asc) window order); each half re-runs the same
    * statistic against its own (m, σ); a length-1 segment has no interior
    * point and contributes nulls (the distributed left joins). Keys with a
    * single month have no interior t < n and emit no row at all (the inner
    * cp1 join). Quantization: floor((|stat|/len)·10⁴ + 0.5)/10⁴ — the
    * same IEEE expression as the distributed q4.
    */
  private def binsegDriver(spark: SparkSession, collected: Array[Row]): DataFrame = {
    val byKey = scala.collection.mutable.TreeMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(String, Long)]]
    collected.foreach { r =>
      byKey.getOrElseUpdate(r.getString(0),
        scala.collection.mutable.ArrayBuffer.empty) +=
        ((r.getString(1), r.getLong(2)))
    }
    def q4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    // interior argmax of the integer-scaled CUSUM over series[lo..hi)
    // against the segment's own (len, sum); returns (month, |stat|) or None
    def pickCp(seg: IndexedSeq[(String, Long)]): Option[(String, Long)] = {
      val m = seg.length
      if (m < 2) return None
      val sig = seg.map(_._2).sum
      var run = 0L
      var bestAbs = -1L
      var bestMonth: String = null
      var t = 0
      while (t < m - 1) { // interior: t2 < m (1-based t+1 ≤ m-1)
        run += seg(t)._2 * m - sig
        val a = math.abs(run)
        if (a > bestAbs) { bestAbs = a; bestMonth = seg(t)._1 }
        t += 1
      }
      Some((bestMonth, bestAbs))
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    byKey.foreach { case (key, bufUnsorted) =>
      val series = bufUnsorted.sortBy(_._1).toIndexedSeq
      val n = series.length
      if (n >= 2) {
        val (cp1Month, abs1) = pickCp(series).get
        // cp1_t = index of cp1Month (1-based)
        val cp1T = series.indexWhere(_._1 == cp1Month) + 1
        val seg0 = series.take(cp1T)
        val seg1 = series.drop(cp1T)
        val c0 = pickCp(seg0)
        val c1 = pickCp(seg1)
        def lenOrNull(s: IndexedSeq[(String, Long)],
                      c: Option[(String, Long)]): Any =
          if (c.isDefined) s.length.toLong else null
        rows.add(org.apache.spark.sql.Row(
          key, n.toLong, cp1Month, q4(abs1.toDouble / n),
          lenOrNull(seg0, c0),
          c0.map(_._1).orNull,
          c0.map(c => q4(c._2.toDouble / seg0.length)).getOrElse(null),
          lenOrNull(seg1, c1),
          c1.map(_._1).orNull,
          c1.map(c => q4(c._2.toDouble / seg1.length)).getOrElse(null)))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_months",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cp1_month",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("max_cusum1",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("seg0_len",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cp2a_month",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("max_cusum2a",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("seg1_len",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cp2b_month",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("max_cusum2b",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(rows, schema).orderBy(col("key"))
  }

  /** Seasonal-baseline anomaly screen: each (key, month)'s quantity versus
    * the key's average for that CALENDAR month across years (the
    * seasonal-naive forecast), flagged when the deviation exceeds
    * `devPct` percent. Two aggregations co-keyed on (key, month-of-year) —
    * the baseline is |keys|×12 rows, broadcast back onto the monthly
    * series; nothing in the plan grows with history length. Deviations are
    * floor-quantized BEFORE the threshold so a boundary value cannot flip
    * the flag between engines.
    */
  def seasonalBaseline(li: DataFrame, devPct: Double = 20.0): DataFrame = {
    val monthly = Exec.pin(li
      .groupBy(col("l_returnflag").as("key"),
        to_date(date_trunc("month", col("l_shipdate"))).as("month"))
      .agg(sum(col("l_quantity")).as("qty")))
    val baseline = monthly
      .groupBy(col("key"), month(col("month")).as("moy"))
      .agg(avg(col("qty")).as("base_qty"))
    monthly
      .withColumn("moy", month(col("month")))
      .join(broadcast(baseline), Seq("key", "moy"))
      .select(col("key"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        round(col("qty"), 2).as("qty"),
        round(col("base_qty"), 4).as("base_qty"),
        (floor(abs(col("qty") / col("base_qty") - 1) * 100 * 10000 + 0.5) / 10000)
          .as("dev_pct"))
      .withColumn("is_anomaly", col("dev_pct") > devPct)
      .orderBy(col("key"), col("month"))
  }

  /** Autocorrelation function: per-series Pearson correlation of the
    * monthly revenue series with itself at lags 1..`maxLag` — the
    * seasonality/memory diagnostic run before picking a forecasting model.
    * Formulated as a banded self-join (fan out each monthly point to
    * `maxLag` lag rows via `explode(sequence)`, equi-join back on the
    * shifted month index) feeding ONE `corr` aggregate per (key, lag):
    * the join fan-out is bounded by `maxLag`, the shuffles are on narrow
    * (key, month-index) keys, and nothing grows with series count — the
    * same plan runs per-merchant / per-sensor ACF over millions of series.
    */
  def acfMonthly(li: DataFrame, maxLag: Int = 6): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val monthly = Exec.pin(li
      .groupBy(col("l_returnflag").as("key"),
        months_between(date_trunc("month", col("l_shipdate")),
          lit("1992-01-01").cast("date")).cast("int").as("mi"))
      .agg(sum(col("l_extendedprice")).as("v")))
    val lagged = monthly
      .select(col("key"), col("mi"), col("v"),
        explode(sequence(lit(1), lit(maxLag))).as("lag_m"))
      .select(col("key"), (col("mi") - col("lag_m")).as("mi_prev"),
        col("lag_m"), col("v").as("va"))
    lagged
      .join(monthly.select(col("key"), col("mi").as("mi_prev"), col("v").as("vb")),
        Seq("key", "mi_prev"))
      .groupBy(col("key"), col("lag_m"))
      .agg(count(lit(1)).as("n_pairs"), q4(corr(col("va"), col("vb"))).as("acf"))
      .orderBy(col("key"), col("lag_m"))
  }

  /** Ljung–Box portmanteau statistic on [[acfMonthly]]'s QUANTIZED lag
    * correlations — the white-noise test that closes the diagnostic loop:
    * ACF says which lag correlates, PACF picks the AR order, Ljung–Box
    * says whether there is ANY autocorrelation worth modeling at all
    * (Q = n(n+2)·Σ r_k²/(n−k), compared to the χ²(maxLag) 5% critical
    * value). Inputs are the 4dp-floored per-lag correlations both engines
    * already agree on bitwise, and the k-indexed sum runs as an ORDERED
    * fold over the lag-sorted list — nothing order-dependent anywhere.
    */
  def ljungBox(li: DataFrame, maxLag: Int = 6,
               chi2Crit: Double = 12.5916): DataFrame = {
    // NULL acf (zero-variance series) is FILTERED, not folded: Spark's
    // aggregate lambda would propagate the NULL through Q while DuckDB's
    // list_sum silently skips it — both engines now drop the lag, and df
    // counts only the defined lags. The fold carries the TRUE lag_m (not
    // a positional sequence index) so a short/sparse series that produced
    // no ACF row at some lag keeps the right n−k divisors (r14 advisor).
    // NaN too: under spark.sql.legacy.statisticalAggregate=true corr
    // returns NaN (not NULL) for zero-variance series; DuckDB drops the
    // lag either way, so both engines must (r15 advisor).
    val acf = acfMonthly(li, maxLag)
      .filter(col("acf").isNotNull && !isnan(col("acf")))
    val n = li.groupBy(col("l_returnflag").as("key"))
      .agg(countDistinct(date_trunc("month", col("l_shipdate"))).as("n"))
    acf.groupBy(col("key"))
      .agg(expr("array_sort(collect_list(struct(lag_m, acf)))").as("rls"))
      .join(n, Seq("key"))
      .withColumn("q_stat", expr(
        """floor(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
          |  * aggregate(rls, CAST(0.0 AS DOUBLE),
          |      (a, s) -> a + s.acf * s.acf
          |        / (CAST(n AS DOUBLE) - CAST(s.lag_m AS DOUBLE)))
          |  * 10000 + 0.5) / 10000""".stripMargin))
      .select(col("key"), col("n"),
        size(col("rls")).as("df"), col("q_stat"),
        (col("q_stat") > chi2Crit).as("reject_white_noise"))
      .orderBy(col("key"))
  }

  /** Partial autocorrelation function at lags 1..4 via the Durbin–Levinson
    * recursion — the AR-order diagnostic that complements [[acfMonthly]]:
    * ACF says "lag k correlates", PACF says "lag k correlates AFTER the
    * shorter lags are regressed out", which is what actually picks p in an
    * AR(p) fit. Pipeline:
    *   1. monthly series in EXACT integer cents (one aggregate);
    *   2. classical autocorrelations r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²
    *      with a FULL-SERIES mean/denominator (the standard estimator, not
    *      [[acfMonthly]]'s per-lag Pearson), via the same bounded
    *      `explode(sequence)` banded self-join;
    *   3. r_k quantized to 6 dp BEFORE the recursion — the one float sum in
    *      the pipeline is engine-order-dependent, and quantizing the
    *      recursion INPUTS makes every downstream arithmetic step
    *      bit-identical cross-engine (the oracle unrolls the identical
    *      left-to-right formulas);
    *   4. Durbin–Levinson unrolled for p ≤ 4: φ11 = r1; each level-k
    *      reflection coefficient divides the residual of r_k by the
    *      level-(k−1) prediction-error normalizer, then downdates the
    *      shorter coefficients.
    * Scale shape: the banded join is [[acfMonthly]]'s plan; the pivot to
    * one (r1..r4) row per key and the recursion are per-key row-local
    * arithmetic — millions of series PACF in one pass, no window, no
    * collect.
    */
  def pacfMonthly(li: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    val monthly = Exec.pin(li
      .groupBy(col("l_returnflag").as("key"),
        months_between(date_trunc("month", col("l_shipdate")),
          lit("1992-01-01").cast("date")).cast("int").as("mi"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
        .as("cents")))
    // r17b: the binsegChangepoints doctrine — the monthly frame is
    // |keys|·|months| bounded metadata; under the measured gate the ACF
    // numerators/denominator and the unrolled Durbin–Levinson recursion
    // run driver-resident with the same left-to-right double arithmetic
    // and the same q6/q4 floors (PACF driver parity spec; oracle at
    // sf0.01/sf0.1). The fact-table aggregate stays distributed.
    val collected = Exec.collectIfSmall(monthly.select(col("key"), col("mi"), col("cents")),
      Exec.DriverLoopRows)
    if (collected.isDefined) {
      monthly.unpersist(false)
      return pacfDriver(li.sparkSession, collected.get)
    }
    // full-series mean + centered denominator (two narrow passes over the
    // reduced monthly frame, never the fact table)
    val mstats = monthly.groupBy(col("key"))
      .agg((sum(col("cents")).cast("double") / count(lit(1))).as("xbar"))
    val centered = Exec.pin(monthly.join(mstats, Seq("key"))
      .select(col("key"), col("mi"),
        (col("cents").cast("double") - col("xbar")).as("c")))
    val den = centered.groupBy(col("key"))
      .agg(sum(col("c") * col("c")).as("den"))
    val nums = centered
      .select(col("key"), col("mi"), col("c"),
        explode(sequence(lit(1), lit(4))).as("lag_m"))
      .select(col("key"), (col("mi") - col("lag_m")).as("mi_prev"),
        col("lag_m"), col("c").as("ca"))
      .join(centered.select(col("key"), col("mi").as("mi_prev"),
        col("c").as("cb")), Seq("key", "mi_prev"))
      .groupBy(col("key"), col("lag_m"))
      .agg(sum(col("ca") * col("cb")).as("num"))
    val r = nums.join(den, Seq("key"))
      .select(col("key"), col("lag_m"), q6(col("num") / col("den")).as("r"))
      .groupBy(col("key"))
      .agg(max(when(col("lag_m") === 1, col("r"))).as("r1"),
        max(when(col("lag_m") === 2, col("r"))).as("r2"),
        max(when(col("lag_m") === 3, col("r"))).as("r3"),
        max(when(col("lag_m") === 4, col("r"))).as("r4"))
    // Durbin–Levinson, unrolled (identical left-to-right order in the
    // oracle). Level 2..4 reuse the previous level's coefficients.
    r.withColumn("p11", col("r1"))
      .withColumn("p22",
        (col("r2") - col("p11") * col("r1")) /
          (lit(1.0) - col("p11") * col("r1")))
      .withColumn("p21", col("p11") - col("p22") * col("p11"))
      .withColumn("p33",
        (col("r3") - (col("p21") * col("r2") + col("p22") * col("r1"))) /
          (lit(1.0) - (col("p21") * col("r1") + col("p22") * col("r2"))))
      .withColumn("p31", col("p21") - col("p33") * col("p22"))
      .withColumn("p32", col("p22") - col("p33") * col("p21"))
      .withColumn("p44",
        (col("r4") - (col("p31") * col("r3") + col("p32") * col("r2") +
          col("p33") * col("r1"))) /
          (lit(1.0) - (col("p31") * col("r1") + col("p32") * col("r2") +
            col("p33") * col("r3"))))
      .select(col("key"), explode(expr(
        "map(1, p11, 2, p22, 3, p33, 4, p44)")).as(Seq("lag_m", "pacf")))
      .select(col("key"), col("lag_m"), q4(col("pacf")).as("pacf"))
      .orderBy(col("key"), col("lag_m"))
  }

  /** The in-memory ACF + unrolled Durbin–Levinson behind [[pacfMonthly]]'s
    * gate — term-for-term the distributed expressions: xbar from an exact
    * long sum, centered c = cents − xbar, r_k = q6(Σ c_t·c_{t−k} / Σ c²)
    * (lag pairs matched on month index, accumulated in ascending-mi
    * order), then the same p11..p44 formulas and q4 floors. */
  private def pacfDriver(spark: SparkSession, collected: Array[Row]): DataFrame = {
    def q4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    def q6(x: Double): Double = math.floor(x * 1000000 + 0.5) / 1000000
    val byKey = scala.collection.mutable.TreeMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Int, Long)]]
    collected.foreach { r =>
      byKey.getOrElseUpdate(r.getString(0),
        scala.collection.mutable.ArrayBuffer.empty) +=
        ((r.getInt(1), r.getLong(2)))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double)]
    byKey.foreach { case (key, buf) =>
      val series = buf.sortBy(_._1)
      val n = series.length
      var centsSum = 0L
      series.foreach(centsSum += _._2)
      val xbar = centsSum.toDouble / n
      val byMi = new java.util.HashMap[Int, java.lang.Double]()
      series.foreach { case (mi, cents) =>
        byMi.put(mi, cents.toDouble - xbar)
      }
      var den = 0.0
      series.foreach { case (_, cents) =>
        val c = cents.toDouble - xbar; den += c * c
      }
      val rr = new Array[Double](5)
      var lag = 1
      while (lag <= 4) {
        var num = 0.0
        series.foreach { case (mi, cents) =>
          val cb = byMi.get(mi - lag)
          if (cb != null) num += (cents.toDouble - xbar) * cb.doubleValue()
        }
        rr(lag) = q6(num / den)
        lag += 1
      }
      val p11 = rr(1)
      val p22 = (rr(2) - p11 * rr(1)) / (1.0 - p11 * rr(1))
      val p21 = p11 - p22 * p11
      val p33 = (rr(3) - (p21 * rr(2) + p22 * rr(1))) /
        (1.0 - (p21 * rr(1) + p22 * rr(2)))
      val p31 = p21 - p33 * p22
      val p32 = p22 - p33 * p21
      val p44 = (rr(4) - (p31 * rr(3) + p32 * rr(2) + p33 * rr(1))) /
        (1.0 - (p31 * rr(1) + p32 * rr(2) + p33 * rr(3)))
      out += ((key, 1, q4(p11)))
      out += ((key, 2, q4(p22)))
      out += ((key, 3, q4(p33)))
      out += ((key, 4, q4(p44)))
    }
    import spark.implicits._
    spark.createDataset(out.toSeq).toDF("key", "lag_m", "pacf")
      .orderBy(col("key"), col("lag_m"))
  }

  /** Rolling windowed Pearson correlation between two aligned series (the
    * pairs-trading / metric-coupling monitor): per month, the correlation
    * of two suppliers' shipped quantities over the trailing `window`
    * months. All five moment sums (Σx, Σy, Σxy, Σx², Σy²) ride ONE window
    * frame over EXACT integer quantities, so every engine computes
    * identical longs; the Pearson formula is then a fixed per-row double
    * expression over those longs (no double accumulation anywhere), q4'd.
    * Scale shape: one monthly aggregate, one window exchange on the pair
    * key — the same plan rolls correlation over millions of metric pairs.
    */
  def rollingCorr(li: DataFrame, suppA: Int = 1, suppB: Int = 2,
                  window: Int = 6): DataFrame = {
    val monthly = li.filter(col("l_suppkey").isin(suppA, suppB))
      .groupBy(col("l_suppkey"), date_trunc("month", col("l_shipdate")).as("month"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val paired = monthly.groupBy(col("month"))
      .agg(sum(when(col("l_suppkey") === suppA, col("q"))).as("x"),
        sum(when(col("l_suppkey") === suppB, col("q"))).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      // materialized pair key: with ONE pair it is constant, but the window
      // below must partition on it so the same plan shards by pair when the
      // monthly frame carries millions of metric pairs (no unpartitioned
      // single-task window — the r12 plan audit's class)
      .withColumn("pair_a", lit(suppA))
      .withColumn("pair_b", lit(suppB))
    val w = Window.partitionBy(col("pair_a"), col("pair_b"))
      .orderBy(col("month")).rowsBetween(-(window - 1), 0)
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val d = (c: Column) => c.cast("double")
    paired
      .select(date_format(col("month"), "yyyy-MM-dd").as("month"),
        col("x"), col("y"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("y")).over(w).as("sxy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("y") * col("y")).over(w).as("syy"))
      .filter(col("n") === window)
      .select(col("month"), col("x"), col("y"),
        q4((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy")))
          / sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
            * (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("rolling_r"))
      .orderBy(col("month"))
  }

  /** Gaps-and-islands: contiguous runs of active months per supplier (the
    * classic "streaks" pattern — subscription tenure, sensor uptime, SLA
    * windows). The island id is the dense-grid trick: month_index −
    * row_number is constant within a consecutive run, so one window pass
    * and one aggregate produce every run's start/end/length — no self
    * join, no recursion. Integer month indices keep it engine-exact.
    */
  def activityIslands(li: DataFrame, maxSuppkey: Int = 10): DataFrame = {
    val monthly = li.filter(col("l_suppkey") < maxSuppkey)
      .groupBy(col("l_suppkey"),
        months_between(date_trunc("month", col("l_shipdate")),
          lit("1992-01-01").cast("date")).cast("int").as("mi"))
      .agg(count(lit(1)).as("n_lines"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("mi"))
    monthly
      .withColumn("grp", col("mi") - row_number().over(w))
      .groupBy(col("l_suppkey"), col("grp"))
      .agg(min(col("mi")).as("start_mi"), max(col("mi")).as("end_mi"),
        count(lit(1)).as("run_months"), sum(col("n_lines")).as("n_lines"))
      .select(col("l_suppkey"), col("start_mi"), col("end_mi"),
        col("run_months"), col("n_lines"))
      .orderBy(col("l_suppkey"), col("start_mi"))
  }

  /** Iterative ESD-style outlier peel over per-priority monthly revenue —
    * the multi-outlier-robust member beside the one-shot z-score and MAD
    * screens: a single extreme point inflates the SD and MASKS its
    * neighbors, so each round recomputes mean/SD over the REMAINING
    * points, flags the largest studentized deviate if it clears the
    * threshold, removes it, and repeats (Rosner's generalized ESD with a
    * fixed λ in place of the t-quantile table — the deployable form; a
    * caller wanting exact GESD supplies per-round critical values).
    *
    * Exactness: the series is whole-dollar longs; each round's variance
    * numerator n·Σx² − (Σx)² is computed in DECIMAL(38,0) (exact — the
    * long path would overflow near sf10), the deviate R = |x·n − Σx| /
    * (n·sd) has an exact-integer numerator, and R is q4-quantized BEFORE
    * the threshold compare and the argmax (ties to the earliest month).
    * Plan shape: one monthly aggregate, then per round a ≤|keys|-row
    * broadcast stats join + one window — rounds are bounded and the
    * frames key-sized, so the unroll costs |rounds| tiny jobs at any SF.
    */
  def esdOutliers(orders: DataFrame, threshold: Double = 2.5,
                  rounds: Int = 3): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val monthly = Exec.checkpoint(
      orders.groupBy(col("o_orderpriority").as("g"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(round(col("o_totalprice")).cast("long")).as("v")))
    var remaining: DataFrame = monthly
    var flagged: DataFrame = null
    for (r <- 1 to rounds) {
      val stats = remaining.groupBy(col("g")).agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("sx"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("sxx"))
      val scored = remaining.join(broadcast(stats), Seq("g"))
        .withColumn("num",
          col("n").cast("decimal(38,0)") * col("sxx")
            - col("sx").cast("decimal(38,0)") * col("sx"))
        .withColumn("sd", sqrt(col("num").cast("double")
          / (col("n") * (col("n") - 1)).cast("double")))
        // zero-variance residue (all survivors equal): 0/0 would be NaN,
        // and BOTH engines sort NaN above every real — an all-equal series
        // must flag nothing, so pin rq to 0 explicitly
        .withColumn("rq", when(col("num") === 0, lit(0.0)).otherwise(
          q4(abs(col("v") * col("n") - col("sx")).cast("double")
            / (col("n").cast("double") * col("sd")))))
      val w = Window.partitionBy(col("g")).orderBy(col("rq").desc, col("month"))
      val flag = Exec.checkpoint(
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("rq") > threshold)
          .select(col("g"), lit(r).as("round"), col("month"), col("v"),
            col("rq")))
      flagged = if (flagged == null) flag else flagged.unionByName(flag)
      remaining = remaining.join(flag.select(col("g"), col("month")),
        Seq("g", "month"), "left_anti")
    }
    flagged
      .select(col("g").as("priority"), col("round"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        col("v"), col("rq").as("r_stat"))
      .orderBy(col("priority"), col("round"))
  }

  /** Banded dynamic-time-warping distance between every pair of supplier
    * quantity series (Sakoe–Chiba radius 1 — the standard production band:
    * tight enough to stay O(n) per pair, loose enough to absorb ±1-step
    * phase shifts that defeat plain Euclidean alignment). With radius 1
    * the DP state collapses to THREE in-band cells per step,
    *
    *   dp(i,i−1) = c(i,i−1) + min(dp(i−1,i−2), dp(i−1,i−1))
    *   dp(i,i)   = c(i,i)   + min(dp(i−1,i), dp(i,i−1), dp(i−1,i−1))
    *   dp(i,i+1) = c(i,i+1) + min(dp(i,i), dp(i−1,i))
    *
    * so each pair's distance is ONE row-local `aggregate` fold over its
    * collected (months-bounded) series arrays — the txt_unigram_encode
    * Viterbi shape: no per-step shuffle, no DP matrix materialization.
    * Costs |a_i − b_j| are exact longs (integral quantities), min/plus
    * stays in int64, so the distance is engine-exact with no tolerance;
    * the DuckDB oracle replays the same recursion as a recursive CTE —
    * an INDEPENDENT mechanism over the same algebra. Scale: the series
    * join and the pair groupBy shuffle (key, month, long) triples only;
    * pair count is maxSuppkey², the caller's knob.
    */
  def dtwPairs(li: DataFrame, maxSuppkey: Int = 5): DataFrame = {
    val Huge = 1000000000000000L
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val monthly = li.filter(col("l_suppkey") < maxSuppkey)
      .groupBy(col("l_suppkey"),
        months_between(date_trunc("month", col("l_shipdate")),
          lit("1992-01-01").cast("date")).cast("int").as("mi"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val pairs = monthly.as("a").join(monthly.as("b"),
        col("a.mi") === col("b.mi") && col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("sa"), col("b.l_suppkey").as("sb"),
        col("a.mi").as("mi"), col("a.q").as("qa"), col("b.q").as("qb"))
    val arr = pairs.groupBy(col("sa"), col("sb"))
      .agg(sort_array(collect_list(struct(col("mi"), col("qa"), col("qb"))))
        .as("s"))
      .select(col("sa"), col("sb"), size(col("s")).as("n"),
        transform(col("s"), x => x.getField("qa")).as("av"),
        transform(col("s"), x => x.getField("qb")).as("bv"))
    val state0 = array(
      lit(Huge),
      abs(element_at(col("av"), 1) - element_at(col("bv"), 1)),
      when(col("n") >= 2,
        abs(element_at(col("av"), 1) - element_at(col("bv"), 2))
          + abs(element_at(col("av"), 1) - element_at(col("bv"), 1)))
        .otherwise(lit(Huge)))
    val stateN = aggregate(
      when(col("n") >= 2, sequence(lit(2), col("n")))
        .otherwise(array().cast("array<int>")),
      state0,
      (st, i) => {
        val ai = element_at(col("av"), i)
        val d0 = abs(ai - element_at(col("bv"), i - 1))
          .plus(least(element_at(st, 1), element_at(st, 2)))
        val d1 = abs(ai - element_at(col("bv"), i))
          .plus(least(element_at(st, 3), d0, element_at(st, 2)))
        val d2 = when(i < col("n"),
          abs(ai - element_at(col("bv"), i + 1))
            .plus(least(d1, element_at(st, 3)))).otherwise(lit(Huge))
        array(d0, d1, d2)
      })
    arr.select(col("sa"), col("sb"), col("n"),
        element_at(stateN, 2).as("dtw"))
      .withColumn("dtw_per_step", q4(col("dtw").cast("double") / col("n")))
      .orderBy(col("sa"), col("sb"))
  }

  /** Periodogram seasonality scan — the frequency-domain complement of
    * [[acfMonthly]]: for each candidate period p ∈ [2, maxPeriod], the DFT
    * power of the mean-centered monthly series at that period, normalized
    * by the series' total sum of squares, plus a per-series peak flag (the
    * detected seasonality). Scale shape: the per-key mean/count/energy ride
    * ONE window exchange, the candidate periods are a bounded explode
    * (maxPeriod−1 rows per observation), and each (key, p) power is a
    * map-side-combined cos/sin sum — no joins, no per-period pass, two
    * exchanges total regardless of series count. Cross-engine floats: 2π
    * is the same IEEE double on both sides, cos/sin are ≤1-ulp libm calls
    * feeding sums whose error is ~1e-15 relative before the 4dp quantize.
    */
  def periodogramMonthly(li: DataFrame, maxPeriod: Int = 12): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val w = Window.partitionBy(col("key"))
    val centered = li
      .groupBy(col("l_returnflag").as("key"),
        months_between(date_trunc("month", col("l_shipdate")),
          lit("1992-01-01").cast("date")).cast("int").as("mi"))
      .agg(sum(col("l_extendedprice")).as("v"))
      .withColumn("vc", col("v") - avg(col("v")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("ssq", sum(col("vc") * col("vc")).over(w))
    centered
      .select(col("key"), col("n"), col("ssq"), col("mi"), col("vc"),
        explode(sequence(lit(2), lit(maxPeriod))).as("p"))
      .withColumn("ang", lit(2.0 * math.Pi) * col("mi") / col("p"))
      .groupBy(col("key"), col("p"), col("n"), col("ssq"))
      .agg(sum(col("vc") * cos(col("ang"))).as("cs"),
        sum(col("vc") * sin(col("ang"))).as("ss"))
      .withColumn("power_frac",
        q4((col("cs") * col("cs") + col("ss") * col("ss")) / col("ssq")))
      .withColumn("peak",
        col("power_frac") === max(col("power_frac")).over(w))
      .select(col("key"), col("p"), col("n"), col("power_frac"), col("peak"))
      .orderBy(col("key"), col("p"))
  }

  /** Normalized SPECTRAL ENTROPY per series — the forecastability screen
    * on top of [[periodogramMonthly]]: a series whose variance concentrates
    * in one spectral line (entropy → 0) is predictable; one whose spectrum
    * is flat (entropy → 1) is noise. Built ON the quantized `power_frac`
    * values the periodogram already emits, so both engines feed IDENTICAL
    * 4dp inputs into the entropy; the normalization total and the
    * −Σ p̂·ln p̂ accumulation both run as ORDERED sequential folds over the
    * period-sorted list (the kalman/STL doctrine — the 11-term frequency
    * set is bounded by construction, so the fold is metadata-sized).
    * Degenerate spectra (zero total power) surface as NULL entropy.
    */
  def spectralEntropy(li: DataFrame, maxPeriod: Int = 12): DataFrame = {
    val pg = periodogramMonthly(li, maxPeriod)
    pg.groupBy(col("key"))
      .agg(
        expr("transform(array_sort(collect_list(struct(p, power_frac)))," +
          " s -> s.power_frac)").as("pw"),
        count(lit(1)).as("n_freqs"),
        min(when(col("peak"), col("p"))).as("peak_p"))
      .withColumn("tot",
        expr("aggregate(pw, CAST(0.0 AS DOUBLE), (a, x) -> a + x)"))
      .withColumn("spectral_entropy", expr(
        """CASE WHEN tot <= 0 THEN NULL ELSE
          |  floor(-aggregate(pw, CAST(0.0 AS DOUBLE),
          |    (a, x) -> a + CASE WHEN x <= 0 THEN CAST(0.0 AS DOUBLE)
          |      ELSE (x / tot) * ln(x / tot) END)
          |  / ln(CAST(size(pw) AS DOUBLE)) * 10000 + 0.5) / 10000
          |END""".stripMargin))
      .select(col("key"), col("n_freqs"), col("peak_p"),
        (floor(col("tot") * 10000 + 0.5) / 10000).as("power_total"),
        col("spectral_entropy"),
        expr("CASE WHEN spectral_entropy IS NULL THEN NULL ELSE " +
          "floor((1.0 - spectral_entropy) * 10000 + 0.5) / 10000 END")
          .as("forecastability"))
      .orderBy(col("key"))
  }

  /** Holt linear-trend forecast (double exponential smoothing) — the first
    * genuinely RECURSIVE smoother in the family: level and trend form the
    * coupled recursion
    *
    *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *
    * which no window frame expresses directly. Writing the state as
    * s_t = A·s_{t−1} + c·x_t (A 2×2, c constant) unrolls it CLOSED-FORM:
    * s_T = A^{T−1}·s_1 + Σ_{i≥2} A^{T−i}·c·x_i — so the distributed plan is
    * one row_number window, one broadcast join against a tiny driver-built
    * matrix-power table (graph-metadata scale: `maxLen` rows of four
    * doubles), and ONE aggregation per series. No per-step shuffle, no
    * driver loop over the data: a 100 TB fact table forecasts per-key with
    * the same two exchanges as any windowed aggregate. The effective series
    * limit is `maxLen + 1` observations — the k = 0..maxLen power table
    * covers the seed term A^{T−1} and every Σ term A^{T−i} (i ≥ 2) exactly
    * up to T = maxLen + 1; longer series fail loudly in-plan (the EWMA
    * guard pattern) rather than silently losing their oldest terms to the
    * join.
    *
    * Seeds: l_1 = x_1, b_1 = x_2 − x_1 (standard). Demonstrated over the
    * per-priority monthly order-revenue series (exact integer cents, so the
    * inputs are engine-identical); emits `horizons` forecast steps
    * ŷ_{T+h} = l_T + h·b_T, floor-quantized at 1e-6.
    */
  def holtForecast(orders: DataFrame, alpha: Double = 0.5, beta: Double = 0.25,
                   horizons: Int = 3, maxLen: Int = 512): DataFrame = {
    // exact-cent monthly series, rescaled to ~1e2 magnitude so the closed
    // form and the oracle's sequential recursion agree far below the 1e-6
    // quantum (both divide the SAME exact long by the same constant)
    val monthly = orders
      .groupBy(col("o_orderpriority").as("g"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .select(col("g"), col("month"), (col("cents").cast("double") / 1e8).as("x"))
    holtState(monthly, alpha, beta, maxLen)
      .select(col("g").as("priority"), col("len").as("n_obs"),
        explode(sequence(lit(1), lit(horizons))).as("h"),
        col("l"), col("b"))
      .select(col("priority"), col("n_obs"), col("h"),
        (floor((col("l") + col("h") * col("b")) * 1000000 + 0.5) / 1000000)
          .as("forecast"))
      .orderBy(col("priority"), col("h"))
  }

  /** Closed-form Holt smoothing state shared by [[holtForecast]] and
    * [[holtWintersForecast]]: given a `(g, month, x)` series, returns
    * `(g, len, last_month, l, b)` — the level/trend state after the final
    * observation, computed with the matrix-power unroll documented on
    * [[holtForecast]] (one window, one broadcast coefficient table, one
    * aggregate per series; no per-step shuffle).
    */
  private def holtState(monthly: DataFrame, alpha: Double, beta: Double,
                        maxLen: Int): DataFrame = {
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1, "need 0<α,β<1")
    val spark = monthly.sparkSession
    val w = Window.partitionBy(col("g")).orderBy(col("month"))
    val seq = Exec.pin(monthly.withColumn("t", row_number().over(w)))
    // the length guard lives HERE, fused into the len value every
    // downstream path joins on — guarding the coeff-join key instead would
    // let AQE short-circuit around it: an over-long series empties the
    // seed join, empty-relation propagation then skips the very stage that
    // would have raised (seen in spec before this placement)
    val heads = seq.groupBy(col("g")).agg(
        max(col("t")).as("mt"),
        max(col("month")).as("last_month"),
        max(when(col("t") === 1, col("x"))).as("x1"),
        max(when(col("t") === 2, col("x"))).as("x2"))
      .select(col("g"), col("last_month"), col("x1"), col("x2"),
        (col("mt") + coalesce(
          assert_true(col("mt") <= lit(maxLen + 1),
            lit(s"holtForecast: series longer than maxLen=$maxLen")),
          lit(0))).as("len"))
    // driver-built A^k table, k = 0..maxLen: 2×2 powers of
    // A = [[1−α, 1−α], [−αβ, 1−αβ]] (α=.5, β=.25 keep entries dyadic)
    val a0 = Array(1 - alpha, 1 - alpha, -alpha * beta, 1 - alpha * beta)
    val powers = Iterator.iterate(Array(1.0, 0.0, 0.0, 1.0)) { p =>
      Array(p(0) * a0(0) + p(1) * a0(2), p(0) * a0(1) + p(1) * a0(3),
        p(2) * a0(0) + p(3) * a0(2), p(2) * a0(1) + p(3) * a0(3))
    }.take(maxLen + 1).zipWithIndex
      .map { case (p, k) => (k, p(0), p(1), p(2), p(3)) }.toSeq
    import spark.implicits._
    val coeff = broadcast(
      powers.toDF("k", "a11", "a12", "a21", "a22"))
    // Σ_{i=2..T} A^{T−i}·c·x_i, c = (α, αβ); k = T−i ≤ T−2 ≤ maxLen−1 is
    // in range whenever the heads guard passed
    val terms = seq.filter(col("t") >= 2)
      .join(heads.select(col("g"), col("len")), Seq("g"))
      .withColumn("k", col("len") - col("t"))
      .join(coeff, Seq("k"))
      .groupBy(col("g"))
      .agg(sum(col("x") * (col("a11") * alpha + col("a12") * alpha * beta)).as("l_sum"),
        sum(col("x") * (col("a21") * alpha + col("a22") * alpha * beta)).as("b_sum"))
    // + A^{T−1}·s_1 seed term
    heads.filter(col("len") >= 2)
      .join(coeff, col("k") === col("len") - 1)
      .join(terms, Seq("g"))
      .select(col("g"), col("len"), col("last_month"),
        (col("a11") * col("x1") + col("a12") * (col("x2") - col("x1"))
          + col("l_sum")).as("l"),
        (col("a21") * col("x1") + col("a22") * (col("x2") - col("x1"))
          + col("b_sum")).as("b"))
  }

  /** Holt–Winters additive seasonal forecast via classical decomposition:
    * per-calendar-month seasonal indices are estimated first (phase mean
    * minus overall mean — the classical-decomposition estimator), the
    * series is deseasonalized, [[holtState]]'s closed-form level/trend
    * smoother runs on the adjusted series, and each forecast step re-adds
    * its target month's index:
    *
    *   s(p)      = mean({x_t : month(t) = p}) − mean(x)
    *   x'_t      = x_t − s(month(t))
    *   ŷ_{T+h}   = l_T + h·b_T + s(month(T+h))
    *
    * Cross-engine determinism: the monthly series is exact long cents, so
    * each phase/overall mean is ONE long→double cast + ONE IEEE division —
    * bit-identical in any engine with no fold-order exposure; the Holt
    * recursion then inherits [[holtForecast]]'s tolerance doctrine (dyadic
    * α/β, ~1e2 magnitude rescale, 1e-6 floor quantization). Scale shape:
    * one monthly aggregate (the only full scan), a ≤12-row-per-key phase
    * frame joined back broadcast-style, and the holtState plan — the same
    * three exchanges forecast millions of independent series.
    */
  def holtWintersForecast(orders: DataFrame, alpha: Double = 0.5,
                          beta: Double = 0.25, horizons: Int = 6,
                          maxLen: Int = 512): DataFrame = {
    val monthlyCents = orders
      .groupBy(col("o_orderpriority").as("g"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    // per-(key, calendar-month) index in cents: Σphase/nphase − Σall/nall,
    // every term a single exact-long division (no double accumulation)
    val phase = monthlyCents
      .groupBy(col("g"), month(col("month")).as("phase"))
      .agg(sum(col("cents")).as("pc"), count(lit(1)).as("pn"))
    val overall = monthlyCents.groupBy(col("g"))
      .agg(sum(col("cents")).as("oc"), count(lit(1)).as("on"))
    val idx = phase.join(overall, Seq("g"))
      .select(col("g"), col("phase"),
        (col("pc").cast("double") / col("pn").cast("double")
          - col("oc").cast("double") / col("on").cast("double")).as("s_cents"))
    // idx descends from monthlyCents, so the join below is a self-join by
    // lineage — rename its columns first to keep resolution unambiguous
    val idxJ = idx.select(col("g").as("ig"), col("phase").as("iphase"),
      col("s_cents"))
    val adjusted = monthlyCents
      .join(broadcast(idxJ), col("g") === col("ig")
        && month(col("month")) === col("iphase"))
      .select(col("g"), col("month"),
        ((col("cents").cast("double") - col("s_cents")) / 1e8).as("x"))
    val idxF = idx.select(col("g").as("fg"), col("phase").as("fphase"),
      col("s_cents").as("f_s_cents"))
    holtState(adjusted, alpha, beta, maxLen)
      .select(col("g"), col("len"), col("last_month"), col("l"), col("b"),
        explode(sequence(lit(1), lit(horizons))).as("h"))
      .withColumn("target_month", add_months(col("last_month"), col("h")))
      // LEFT join + 0-coalesce: a horizon month whose calendar phase never
      // appears in the history must still emit its forecast row (with no
      // seasonal adjustment), not silently vanish — an inner join drops it
      .join(broadcast(idxF), col("g") === col("fg")
        && month(col("target_month")) === col("fphase"), "left")
      .select(col("g").as("priority"), col("len").as("n_obs"), col("h"),
        date_format(col("target_month"), "yyyy-MM-dd").as("target_month"),
        (floor((col("l") + col("h") * col("b")
          + coalesce(col("f_s_cents"), lit(0.0)) / 1e8)
          * 1000000 + 0.5) / 1000000).as("forecast"))
      .orderBy(col("priority"), col("h"))
  }

  /** Classical seasonal decomposition (STL-style additive trend/seasonal/
    * remainder) of per-priority monthly revenue — the decomposition a
    * monitoring pipeline runs before alerting on "remainder" spikes, and
    * the missing half of [[seasonalBaseline]] (which compares against raw
    * phase means; this one detrends FIRST, so a growth trend does not
    * masquerade as seasonality).
    *
    *   trend    = centered 2×12 moving average (the standard even-period
    *              form: ½·v[t−6] + v[t−5..t+5] + ½·v[t+6], all ÷12),
    *              null at the 6-month edges;
    *   seasonal = per-calendar-month mean of the detrended series,
    *              centered so the 12 indices sum to zero;
    *   remainder = v − trend − seasonal.
    *
    * Cross-engine determinism by INTEGER construction (the pcaHead
    * doctrine, but with no fold at all): revenue is exact cents, the
    * 24×trend (2·Σ11 + lag6 + lead6) is an exact long, the detrended
    * series d24 = 24·v − trend24 is an exact long, and the phase means
    * are put over the common denominator D = 720720 (= lcm(1..16), so
    * any per-phase year count divides it) — the centering subtraction
    * P·A(m) − ΣA then happens in exact 64-bit integers, and each output
    * is ONE division of an exact integer, floor-quantized at 4 dp.
    * No cross-engine sum of rounded doubles anywhere.
    *
    * Scale shape: one map-side-combined monthly aggregate (the only
    * full-scan shuffle), per-key windows over ≤|months| rows, a ≤12-row
    * broadcast of seasonal indices — the same plan decomposes millions of
    * independent series. Magnitude guard: |seas_scaled| is bounded by
    * 12·D·Σ|d24|, which can exceed int64 for adversarial detrended
    * amplitudes — so the scaled seasonal integers (a, Σa, P·A−ΣA) are
    * computed in DECIMAL(38,0): exact through 38 digits, no silent
    * wraparound on the non-ANSI path, identical values where int64
    * would have sufficed (the final step is still ONE division).
    */
  /** Seasonal/trend STRENGTH on the [[stlDecompose]] output — the Hyndman
    * FPP screens F_s = max(0, 1 − Var(R)/Var(S+R)) and F_t = max(0, 1 −
    * Var(R)/Var(T+R)): which series actually carry seasonal structure and
    * which are trend-dominated. The decomposition's components are 4dp
    * floor-quantized; re-quantizing their MILLIONS-rescaled images at 4dp
    * gives EXACT integer keys whose variances run as n·Σx² − (Σx)² with
    * no cross-engine double sums (variance ratios are scale-free, so the
    * rescale changes nothing but the overflow headroom: component
    * magnitudes to ~10⁸ revenue-millions stay inside int64 — the
    * documented domain bound, far above any shipped SF). One series-grain
    * aggregation over the decomposition rows; output is key-cardinality.
    */
  def stlStrength(orders: DataFrame): DataFrame = {
    val d = stlDecompose(orders)
      .filter(col("trend").isNotNull)
      .select(col("key"),
        expr("CAST(floor(remainder / 1e6 * 10000 + 0.5) AS BIGINT)")
          .as("r"),
        expr("CAST(floor((seasonal + remainder) / 1e6 * 10000 + 0.5)" +
          " AS BIGINT)").as("sr"),
        expr("CAST(floor((trend + remainder) / 1e6 * 10000 + 0.5)" +
          " AS BIGINT)").as("tr"))
    d.groupBy(col("key")).agg(
        count(lit(1)).as("n"),
        sum(col("r")).as("s_r"), sum(col("r") * col("r")).as("ss_r"),
        sum(col("sr")).as("s_sr"), sum(col("sr") * col("sr")).as("ss_sr"),
        sum(col("tr")).as("s_tr"), sum(col("tr") * col("tr")).as("ss_tr"))
      .select(col("key"), col("n"),
        expr("""CASE WHEN n * ss_sr - s_sr * s_sr = 0 THEN NULL ELSE
          |floor(greatest(CAST(0.0 AS DOUBLE),
          |  1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)
          |      / CAST(n * ss_sr - s_sr * s_sr AS DOUBLE))
          |  * 10000 + 0.5) / 10000 END""".stripMargin)
          .as("seasonal_strength"),
        expr("""CASE WHEN n * ss_tr - s_tr * s_tr = 0 THEN NULL ELSE
          |floor(greatest(CAST(0.0 AS DOUBLE),
          |  1.0 - CAST(n * ss_r - s_r * s_r AS DOUBLE)
          |      / CAST(n * ss_tr - s_tr * s_tr AS DOUBLE))
          |  * 10000 + 0.5) / 10000 END""".stripMargin)
          .as("trend_strength"))
      .orderBy(col("key"))
  }

  def stlDecompose(orders: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val D = 720720L
    val monthly = orders
      .groupBy(col("o_orderpriority").as("key"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("vc"))
    val w = Window.partitionBy(col("key")).orderBy(col("month"))
    val w11 = w.rowsBetween(-5, 5)
    // read by the seasonal aggregate AND the final join — one window pass
    val t = Exec.pin(monthly
      .withColumn("sum11", sum(col("vc")).over(w11))
      .withColumn("cnt11", count(lit(1)).over(w11))
      .withColumn("lag6", lag(col("vc"), 6).over(w))
      .withColumn("lead6", lead(col("vc"), 6).over(w))
      // null lag6/lead6 propagates: trend undefined at the edges
      .withColumn("trend24",
        when(col("cnt11") === 11, col("sum11") * 2 + col("lag6") + col("lead6")))
      .withColumn("d24", col("vc") * 24 - col("trend24"))
      .withColumn("phase", month(col("month"))))
    val sp = t.filter(col("trend24").isNotNull)
      .groupBy(col("key"), col("phase"))
      .agg(sum(col("d24")).as("s_num"), count(lit(1)).as("s_cnt"))
      // decimal(38,0): exact integer algebra with 38-digit headroom — the
      // int64 bound 12·D·Σ|d24| is too thin for worst-case amplitudes
      .withColumn("a",
        col("s_num").cast("decimal(38,0)") * expr(s"$D div s_cnt"))
    val perKey = sp.groupBy(col("key"))
      .agg(sum(col("a")).as("sum_a"), count(lit(1)).as("p"))
    val seas = sp.join(broadcast(perKey), Seq("key"))
      .select(col("key"), col("phase"),
        (col("p") * col("a") - col("sum_a")).as("seas_scaled"),
        (col("p") * lit(D)).as("pd"))
    t.join(broadcast(seas), Seq("key", "phase"), "left")
      .select(col("key"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        (col("vc").cast("double") / 100).as("revenue"),
        q4(col("trend24").cast("double") / 2400).as("trend"),
        q4(col("seas_scaled").cast("double")
          / (col("pd").cast("double") * 2400)).as("seasonal"),
        q4(col("vc").cast("double") / 100
          - col("trend24").cast("double") / 2400
          - col("seas_scaled").cast("double")
            / (col("pd").cast("double") * 2400)).as("remainder"))
      .orderBy(col("key"), col("month"))
  }

  /** Per-supplier monthly qty series with integer values and both a forward
    * and a reverse month rank — the shared exact-arithmetic spine for the
    * AR(2)/Theil–Sen/motif family. Quantities are integer-valued, so every
    * downstream sum/product is an exact int64 (headroom notes per operator).
    */
  private def rankedSeries(li: DataFrame, maxSuppkey: Int): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("month"))
    val wd = Window.partitionBy(col("l_suppkey")).orderBy(col("month").desc)
    monthlySeries(li, maxSuppkey)
      .select(col("l_suppkey"), col("month"), col("qty").cast("long").as("x"))
      .withColumn("t", row_number().over(w))
      .withColumn("rt", row_number().over(wd))
  }

  /** AR(2) fit via Yule–Walker + one-step forecast, per supplier series —
    * the classical linear-autoregression baseline beside [[holtForecast]]'s
    * exponential smoothing. The biased autocovariances are never formed as
    * float sums: with S = Σx, A_k/B_k the head/tail-trimmed partial sums and
    * xx_k = Σ x_t·x_{t+k},
    *   n²·c_k ∝ num_k = n²·xx_k − n·S·(A_k+B_k) + (n−k)·S²
    * is an exact int64 (magnitudes ≤ ~2e15 at the tested SFs, < 2⁵³, so the
    * long→double casts are exact; larger per-month magnitudes would move
    * num_k to DECIMAL(38,0) — the [[stlDecompose]] pattern). The ratios
    * r_k = num_k/num_0, the Yule–Walker solve
    *   φ₁ = r₁(1−r₂)/(1−r₁²),  φ₂ = (r₂−r₁²)/(1−r₁²),
    * and the one-step forecast m + φ₁(xₙ−m) + φ₂(xₙ₋₁−m) are fixed IEEE
    * expressions over those integers. Constant series (num_0 = 0) and a
    * degenerate r₁² = 1 yield explicit nulls. One monthly aggregate + one
    * per-key window pass + one per-key rollup — scan-scale; series length
    * only enters linearly.
    */
  def ar2Forecast(li: DataFrame, maxSuppkey: Int = 10): DataFrame = {
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val q4 = (c: Column) => floor(c * 10000 + 0.5) / 10000
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("month"))
    val lagged = rankedSeries(li, maxSuppkey)
      .withColumn("x1", lag(col("x"), 1).over(w))
      .withColumn("x2", lag(col("x"), 2).over(w))
    val agg = lagged.groupBy(col("l_suppkey")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("xx0"),
      sum(col("x") * col("x1")).as("xx1"),
      sum(col("x") * col("x2")).as("xx2"),
      sum(when(col("t") <= 1, col("x"))).as("head1"),
      sum(when(col("t") <= 2, col("x"))).as("head2"),
      sum(when(col("rt") <= 1, col("x"))).as("tail1"),
      sum(when(col("rt") <= 2, col("x"))).as("tail2"),
      max(when(col("rt") === 1, col("x"))).as("xlast"),
      max(when(col("rt") === 2, col("x"))).as("xprev"))
    val d = (c: Column) => c.cast("double")
    agg
      .withColumn("num0",
        d(col("n") * col("n") * col("xx0") - col("n") * col("s") * col("s")))
      .withColumn("num1",
        d(col("n") * col("n") * col("xx1")
          - col("n") * col("s") * (lit(2) * col("s") - col("tail1") - col("head1"))
          + (col("n") - 1) * col("s") * col("s")))
      .withColumn("num2",
        d(col("n") * col("n") * col("xx2")
          - col("n") * col("s") * (lit(2) * col("s") - col("tail2") - col("head2"))
          + (col("n") - 2) * col("s") * col("s")))
      .withColumn("r1",
        when(col("num0") === 0.0, lit(null)).otherwise(col("num1") / col("num0")))
      .withColumn("r2",
        when(col("num0") === 0.0, lit(null)).otherwise(col("num2") / col("num0")))
      .withColumn("den", lit(1.0) - col("r1") * col("r1"))
      .withColumn("phi1",
        when(col("den") === 0.0, lit(null))
          .otherwise(col("r1") * (lit(1.0) - col("r2")) / col("den")))
      .withColumn("phi2",
        when(col("den") === 0.0, lit(null))
          .otherwise((col("r2") - col("r1") * col("r1")) / col("den")))
      .withColumn("m", d(col("s")) / d(col("n")))
      .withColumn("fc",
        col("m") + col("phi1") * (d(col("xlast")) - col("m"))
          + col("phi2") * (d(col("xprev")) - col("m")))
      .select(col("l_suppkey"), col("n"),
        q6(col("r1")).as("r1"), q6(col("r2")).as("r2"),
        q6(col("phi1")).as("phi1"), q6(col("phi2")).as("phi2"),
        q4(col("fc")).as("forecast"))
      .orderBy(col("l_suppkey"))
  }

  /** Theil–Sen robust trend per supplier series — the median of all pairwise
    * slopes (x_j−x_i)/(j−i), immune to up to ~29% outliers where OLS
    * ([[graft.ops.Relational]] regression) is not, plus the classical
    * median-residual intercept. Every slope is ONE IEEE division of exact
    * integers; the median avoids the engines' percentile-interpolation
    * formula skew by materializing rank (n+1)/2 and (n+2)/2 explicitly and
    * averaging them with the same sum/count expression on both sides (n odd:
    * both ranks coincide; n even: the two middle values). Pair generation is
    * a broadcast self-join — quadratic in SERIES LENGTH by contract (n
    * months, bounded: ~82 here; 10 years = 120), never in key count, and
    * keys partition the work so a 100 TB fact table costs one monthly
    * aggregate + |key|·n²/2 tiny rows.
    */
  def theilSen(li: DataFrame, maxSuppkey: Int = 10): DataFrame = {
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val q4 = (c: Column) => floor(c * 10000 + 0.5) / 10000
    // three readers (pair sides + residuals)
    val idx = Exec.pin(rankedSeries(li, maxSuppkey)
      .select(col("l_suppkey"), col("t"), col("x")))
    val pairs = idx.toDF("l_suppkey", "ti", "xi")
      .join(broadcast(idx.toDF("l_suppkey", "tj", "xj")), Seq("l_suppkey"))
      .filter(col("tj") > col("ti"))
      .select(col("l_suppkey"),
        ((col("xj") - col("xi")).cast("double")
          / (col("tj") - col("ti")).cast("double")).as("slope"))
    val slopeMed = medianByRank(pairs, "slope").withColumnRenamed("med", "slope_med")
      .withColumnRenamed("nv", "n_pairs")
    val resid = idx.join(broadcast(slopeMed), Seq("l_suppkey"))
      .select(col("l_suppkey"),
        (col("x").cast("double") - col("slope_med") * col("t").cast("double"))
          .as("resid"))
    val interceptMed = medianByRank(resid, "resid")
      .select(col("l_suppkey"), col("med").as("intercept"))
    slopeMed.join(interceptMed, Seq("l_suppkey"))
      .select(col("l_suppkey"), col("n_pairs"),
        q6(col("slope_med")).as("slope"),
        q6(col("slope_med") * 12).as("slope_per_year"),
        q4(col("intercept")).as("intercept"))
      .orderBy(col("l_suppkey"))
  }

  /** Exact per-key median of `valueCol` via explicit middle ranks — both
    * engines average the SAME two materialized values instead of trusting
    * their (subtly different) percentile interpolation formulas.
    */
  private def medianByRank(df: DataFrame, valueCol: String): DataFrame = {
    val wR = Window.partitionBy(col("l_suppkey")).orderBy(col(valueCol))
    val counts = df.groupBy(col("l_suppkey")).agg(count(lit(1)).as("nv"))
    df.withColumn("rn", row_number().over(wR))
      .join(broadcast(counts), Seq("l_suppkey"))
      // Column./ is FLOAT division — (n+1)/2 = 41.5 would silently drop the
      // lower middle rank on even n; `div` is the integer quotient
      .filter(expr("rn = (nv + 1) div 2 OR rn = (nv + 2) div 2"))
      .groupBy(col("l_suppkey"), col("nv"))
      .agg((sum(col(valueCol)) / count(lit(1))).as("med"))
      .select(col("l_suppkey"), col("nv"), col("med"))
  }

  /** Matrix-profile-style motif discovery per supplier series: the closest
    * pair of non-overlapping length-`w` subsequences under exact integer
    * squared distance (the un-normalized matrix-profile motif; z-normalized
    * variants inherit float-sum nondeterminism, so the exact form is the
    * oracle-checkable one). Windows come from `lead` columns (one window
    * pass), pairs from a broadcast self-join with the |i−j| ≥ w exclusion
    * zone, and the winner per key is `min(struct(dist2, i, j))` — exact
    * integer lexicographic, so ties break deterministically. Quadratic in
    * WINDOW COUNT per series by contract (n−w+1 ≈ 77 here → ~2.5k pairs per
    * key); keys partition the work, so scale-out is by key exactly as in
    * [[theilSen]].
    */
  def motifDiscovery(li: DataFrame, maxSuppkey: Int = 10, w: Int = 6): DataFrame = {
    val q4 = (c: Column) => floor(c * 10000 + 0.5) / 10000
    val wm = Window.partitionBy(col("l_suppkey")).orderBy(col("month"))
    val wins = (1 until w).foldLeft(
        rankedSeries(li, maxSuppkey).withColumn("v0", col("x"))) {
        (df, k) => df.withColumn(s"v$k", lead(col("x"), k).over(wm))
      }
      .filter(col(s"v${w - 1}").isNotNull)
      .select(Seq(col("l_suppkey"), col("t")) ++ (0 until w).map(k => col(s"v$k")): _*)
    val left = wins.columns.foldLeft(wins)((df, c) =>
      if (c == "l_suppkey") df else df.withColumnRenamed(c, s"${c}_i"))
    val right = wins.columns.foldLeft(wins)((df, c) =>
      if (c == "l_suppkey") df else df.withColumnRenamed(c, s"${c}_j"))
    val dist2 = (0 until w)
      .map(k => (col(s"v${k}_i") - col(s"v${k}_j")) * (col(s"v${k}_i") - col(s"v${k}_j")))
      .reduce(_ + _)
    left.join(broadcast(right), Seq("l_suppkey"))
      .filter(col("t_j") >= col("t_i") + w)
      .select(col("l_suppkey"),
        struct(dist2.as("dist2"), col("t_i").as("i"), col("t_j").as("j")).as("cand"))
      .groupBy(col("l_suppkey"))
      .agg(min(col("cand")).as("best"), count(lit(1)).as("n_pairs"))
      .select(col("l_suppkey"), col("n_pairs"),
        col("best.i").as("motif_i"), col("best.j").as("motif_j"),
        col("best.dist2").as("dist2"),
        q4(sqrt(col("best.dist2").cast("double") / w)).as("rms_dist"))
      .orderBy(col("l_suppkey"))
  }

  /** 1-D Kalman filter (local-level / random-walk-plus-noise state-space
    * model) over per-priority monthly revenue — the state-estimation member
    * of the forecasting family ([[holtForecast]] smooths with FIXED gains;
    * the Kalman gain adapts each step as the state variance converges,
    * which is what makes it the standard online denoiser for metric
    * streams). Recursion per series, t ≥ 2 (l₁ = x₁, P₁ = 1):
    *
    *   P⁻ = P + Q;   K = P⁻/(P⁻+R);   l ← l + K·(x − l);   P ← (1−K)·P⁻
    *
    * Cross-engine determinism by the holtForecast doctrine: the monthly
    * series is exact long cents rescaled by ONE division (1e8), Q = 0.25
    * and R = 1.0 are dyadic, and every recursion step is the SAME
    * left-to-right IEEE expression sequence on both engines (Spark: a
    * row-local `aggregate` fold over the collected ≤|months| series array;
    * DuckDB: a recursive CTE with identically-ordered operands), so the
    * doubles are bit-identical and the 1e-6 floor quantization is pure
    * display. Scale shape: one map-side-combined monthly aggregate (the
    * only corpus exchange), then per-series folds over series-length
    * arrays — the same plan filters millions of independent series, state
    * is O(1) per series, and nothing about the recursion shuffles.
    */
  def kalmanFilter(orders: DataFrame, maxLen: Int = 512): DataFrame = {
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val monthly = orders
      .groupBy(col("o_orderpriority").as("g"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .withColumn("x", col("cents").cast("double") / 1e8)
    val w = Window.partitionBy(col("g")).orderBy(col("month"))
    // the fold and the month-lookup join both read the series frame: pin
    // it so the corpus aggregate runs once
    val seq = Exec.pin(monthly.withColumn("t", row_number().over(w)))
    val folded = kalmanStates(seq, maxLen)
    // folded descends from seq, so rename the month-lookup side first (the
    // holtWinters self-join-by-lineage convention)
    val seqJ = seq.select(col("g").as("jg"), col("t").as("jt"),
      col("month"), col("x"))
    folded.join(seqJ, col("g") === col("jg") && col("t") === col("jt"))
      .select(col("g").as("priority"), col("t"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        q6(col("x")).as("x"), q6(col("l")).as("level"),
        q6(col("k")).as("gain"))
      .orderBy(col("priority"), col("t"))
  }

  /** The generic Kalman recursion core shared by [[kalmanFilter]] and the
    * streaming twin's batch-equivalence spec: input (g, t, x) rows with t a
    * 1-based per-key rank; output (g, t, l, k) raw (unquantized) doubles —
    * the SAME left-to-right IEEE sequence the streaming processor replays
    * per event, so the two are comparable BITWISE, not by tolerance.
    */
  def kalmanStates(seq: DataFrame, maxLen: Int = 512): DataFrame = {
    // series collapsed to ONE ordered array per key (bounded by the
    // calendar: ≤ maxLen months — guarded like holtState's len fuse)
    seq
      .groupBy(col("g"))
      .agg(expr("transform(array_sort(collect_list(struct(t, x))), s -> s.x)")
        .as("xs"))
      .withColumn("xs", expr(
        s"""IF(size(xs) <= $maxLen, xs,
           |   raise_error(concat('kalmanFilter: series longer than ',
           |     CAST($maxLen AS STRING))))""".stripMargin))
      .withColumn("out", expr(
        // acc = (l, p, out); gain/update operand order mirrors the oracle
        // CTE exactly — every division and product in the same sequence
        """aggregate(
          |  slice(xs, 2, greatest(size(xs) - 1, 0)),
          |  named_struct(
          |    'l', xs[0], 'p', CAST(1.0 AS DOUBLE),
          |    'out', array(named_struct(
          |      'l', xs[0], 'k', CAST(0.0 AS DOUBLE)))),
          |  (acc, x) -> named_struct(
          |    'l', acc.l + ((acc.p + 0.25) / ((acc.p + 0.25) + 1.0))
          |           * (x - acc.l),
          |    'p', (1.0 - ((acc.p + 0.25) / ((acc.p + 0.25) + 1.0)))
          |           * (acc.p + 0.25),
          |    'out', array_append(acc.out, named_struct(
          |      'l', acc.l + ((acc.p + 0.25) / ((acc.p + 0.25) + 1.0))
          |             * (x - acc.l),
          |      'k', (acc.p + 0.25) / ((acc.p + 0.25) + 1.0))))).out""".stripMargin))
      .select(col("g"), posexplode(col("out")).as(Seq("pos", "st")))
      .select(col("g"), (col("pos") + 1).as("t"),
        col("st.l").as("l"), col("st.k").as("k"))
  }

  /** Rauch–Tung–Striebel smoother over [[kalmanFilter]]'s local-level model
    * — the OFFLINE half of the state-estimation pair (the filter is causal:
    * level_t uses observations ≤ t; the smoother conditions every estimate
    * on the WHOLE series, which is what a backfill/denoising batch job
    * wants). Forward pass = the Kalman recursion keeping (l_t, P_t);
    * backward pass, t = N−1..1 with Q = 0.25:
    *
    *   C_t = P_t / (P_t + Q);   sl_t = l_t + C_t·(sl_{t+1} − l_t)
    *
    * (the one-step prediction mean equals l_t in a local-level model, so
    * the textbook a_{t+1} term simplifies away). Both passes are row-local
    * folds over the per-series array — forward then a second fold over the
    * REVERSED filtered sequence — with the same left-to-right IEEE operand
    * order as the oracle's two recursive CTEs, so parity is bitwise under
    * the display quantization. Same scale shape as the filter: one monthly
    * aggregate, O(series length) per-key work, nothing shuffles.
    */
  def kalmanSmooth(orders: DataFrame, maxLen: Int = 512): DataFrame = {
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val monthly = orders
      .groupBy(col("o_orderpriority").as("g"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .withColumn("x", col("cents").cast("double") / 1e8)
    val w = Window.partitionBy(col("g")).orderBy(col("month"))
    // pinned for the same two-reader reason as kalmanFilter's seq
    val seq = Exec.pin(monthly.withColumn("t", row_number().over(w)))
    val folded = seq
      .groupBy(col("g"))
      .agg(expr("transform(array_sort(collect_list(struct(t, x))), s -> s.x)")
        .as("xs"))
      .withColumn("xs", expr(
        s"""IF(size(xs) <= $maxLen, xs,
           |   raise_error(concat('kalmanSmooth: series longer than ',
           |     CAST($maxLen AS STRING))))""".stripMargin))
      // forward: filtered (l, p) per step, same recursion as kalmanFilter
      .withColumn("fwd", expr(
        """aggregate(
          |  slice(xs, 2, greatest(size(xs) - 1, 0)),
          |  named_struct(
          |    'l', xs[0], 'p', CAST(1.0 AS DOUBLE),
          |    'out', array(named_struct(
          |      'l', xs[0], 'p', CAST(1.0 AS DOUBLE)))),
          |  (acc, x) -> named_struct(
          |    'l', acc.l + ((acc.p + 0.25) / ((acc.p + 0.25) + 1.0))
          |           * (x - acc.l),
          |    'p', (1.0 - ((acc.p + 0.25) / ((acc.p + 0.25) + 1.0)))
          |           * (acc.p + 0.25),
          |    'out', array_append(acc.out, named_struct(
          |      'l', acc.l + ((acc.p + 0.25) / ((acc.p + 0.25) + 1.0))
          |             * (x - acc.l),
          |      'p', (1.0 - ((acc.p + 0.25) / ((acc.p + 0.25) + 1.0)))
          |             * (acc.p + 0.25))))).out""".stripMargin))
      // backward over the reversed filtered sequence: the accumulator
      // carries sl_{t+1}; emit smoothed levels newest-first, then restore
      // time order with a second reverse
      .withColumn("smooth", expr(
        """reverse(aggregate(
          |  slice(reverse(fwd), 2, greatest(size(fwd) - 1, 0)),
          |  array(element_at(fwd, -1).l),
          |  (acc, st) -> array_append(acc,
          |    st.l + (st.p / (st.p + 0.25))
          |      * (element_at(acc, -1) - st.l))))""".stripMargin))
      .select(col("g"), posexplode(expr(
        "zip_with(fwd, smooth, (f, s) -> named_struct('l', f.l, 'sl', s))"))
        .as(Seq("pos", "st")))
      .select(col("g"), (col("pos") + 1).as("t"),
        col("st.l").as("l"), col("st.sl").as("sl"))
    val seqJ = seq.select(col("g").as("jg"), col("t").as("jt"),
      col("month"), col("x"))
    folded.join(seqJ, col("g") === col("jg") && col("t") === col("jt"))
      .select(col("g").as("priority"), col("t"),
        date_format(col("month"), "yyyy-MM-dd").as("month"),
        q6(col("x")).as("x"), q6(col("l")).as("filtered"),
        q6(col("sl")).as("smoothed"))
      .orderBy(col("priority"), col("t"))
  }

  /** Split-conformal prediction intervals around the one-step naive
    * forecast (x̂_t = x_{t−1}), the distribution-free calibration step a
    * forecast backtest feeds: per series, even-index steps calibrate and
    * odd-index steps test. The nonconformity score is the absolute
    * one-step change |x_t − x_{t−1}| — exact integers here, so the
    * conformal radius is an EXACT k-th order statistic, no quantile
    * interpolation and no cross-engine double drift. The split-conformal
    * rank for miscoverage α = 1/5 is k = ⌈(n_cal + 1)·4/5⌉, computed in
    * INTEGER ceiling-division form ((n+1)·4 + 4) div 5 so neither engine
    * ever touches the inexact binary 0.8; k > n_cal (too few calibration
    * points) yields an infinite interval, surfaced as a NULL radius with
    * every test step covered — the honest conformal answer, not a crash.
    * Marginal coverage on the held-out steps is the audit column: a
    * correctly calibrated interval covers ≥ 80% in expectation.
    *
    * Scale shape: one map-side-combined groupBy to the monthly grain, then
    * per-key windows (series key partitions) and a key-grain radius join —
    * the fact table crosses exactly one exchange; everything after is
    * series-cardinality-sized.
    */
  def conformalIntervals(li: DataFrame, maxSuppkey: Int = 10): DataFrame = {
    val monthly = monthlySeries(li, maxSuppkey)
      .select(col("l_suppkey"), col("month"), col("qty").cast("long").as("x"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("month"))
    // two readers (calibration ranks + test coverage) — pin the scored
    // frame so the fact scan runs once; released via Exec.clearPinned
    val scored = Exec.pin(monthly
      .withColumn("t", row_number().over(w))
      .withColumn("xprev", lag(col("x"), 1).over(w))
      .filter(col("xprev").isNotNull)
      .withColumn("score", abs(col("x") - col("xprev"))))
    val cal = scored.filter(col("t") % 2 === 0)
    val wKey = Window.partitionBy(col("l_suppkey"))
    val wRank = wKey.orderBy(col("score"), col("month"))
    // k-th order statistic at the split-conformal rank; `div` keeps the
    // ceiling division in exact integer arithmetic on both engines
    val kth = cal
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_cal", count(lit(1)).over(wKey))
      .withColumn("k", expr("((n_cal + 1) * 4 + 4) div 5"))
      .filter(col("rn") === col("k"))
      .select(col("l_suppkey"), col("score").as("radius"))
    val calN = cal.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_cal"))
    // k > n_cal (tiny calibration split) -> no rank-k row -> NULL radius
    val radiusAll = calN.join(kth, Seq("l_suppkey"), "left")
    scored.filter(col("t") % 2 =!= 0)
      .join(radiusAll, Seq("l_suppkey"))
      .groupBy(col("l_suppkey"), col("n_cal"), col("radius"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("radius").isNull || col("score") <= col("radius"), 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage",
        floor(col("n_covered").cast("double") / col("n_test").cast("double")
          * 10000 + 0.5) / 10000)
      .select(col("l_suppkey"), col("n_cal"), col("n_test"), col("radius"),
        col("n_covered"), col("coverage"))
      .orderBy(col("l_suppkey"))
  }

  /** Pairwise Granger causality between adjacent suppliers' monthly series
    * (supplier 2d paired with 2d+1, each direction tested): does the
    * partner's lagged value improve the one-step AR(1) fit? Restricted
    * model x_t = a + b·x_{t−1} vs unrestricted x_t = a + b·x_{t−1} +
    * c·y_{t−1}, compared by the classic F-statistic
    * (SSE_r − SSE_u)·(n−3)/SSE_u. Every sufficient statistic is an exact
    * integer sum over the aligned common-month grid (both series are
    * integer-valued monthly quantity sums), so the only floating-point work
    * is the closed-form normal-equation solve — Cramer's rule on n-scaled
    * centered moments, one identical expression tree in both engines. The
    * n-scaling (M_ab = n·Σab − Σa·Σb) cancels in the F ratio and divides
    * out once for the reported SSEs. Integer bound: n·Σab stays < 2⁶³ while
    * per-(series, month) sums stay < ~3·10⁸ at any shipped SF (they are
    * ~10³ at sf1) — same documented id-domain style bound as the
    * multimodal fixtures. Degenerate fits surface as NULLs, not crashes:
    * a constant own-lag (M_uu = 0), a singular design (D = 0), or a
    * perfect unrestricted fit (SSE_u = 0) each null the dependent stats.
    *
    * Scale shape: one monthly-grain groupBy (map-side combined), a
    * key+month self-join on the series key (shuffle on the series grain,
    * not the fact grain), per-key lag windows, and a final key-grain
    * aggregation — the fact table crosses one exchange, everything after
    * is series-cardinality-sized.
    */
  def grangerCausality(li: DataFrame, maxSuppkey: Int = 10): DataFrame = {
    val m = monthlySeries(li, maxSuppkey)
      .select(col("l_suppkey").cast("long").as("k"), col("month"),
        col("qty").cast("long").as("x"))
    val partner = m.select(
      (col("k") + when(col("k") % 2 === 0, 1L).otherwise(-1L)).as("k"),
      col("month"), col("x").as("y"))
    val joined = m.join(partner, Seq("k", "month"))
    val w = Window.partitionBy(col("k")).orderBy(col("month"))
    val lagged = joined
      .withColumn("u", lag(col("x"), 1).over(w))
      .withColumn("v", lag(col("y"), 1).over(w))
      .filter(col("u").isNotNull)
    val g = lagged.groupBy(col("k")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sy"), sum(col("u")).as("su"), sum(col("v")).as("sv"),
      sum(col("x") * col("x")).as("syy"), sum(col("u") * col("u")).as("suu"),
      sum(col("v") * col("v")).as("svv"), sum(col("u") * col("x")).as("suy"),
      sum(col("v") * col("x")).as("svy"), sum(col("u") * col("v")).as("suv"))
    g.withColumn("myy", expr("CAST(n * syy - sy * sy AS DOUBLE)"))
      .withColumn("muu", expr("CAST(n * suu - su * su AS DOUBLE)"))
      .withColumn("mvv", expr("CAST(n * svv - sv * sv AS DOUBLE)"))
      .withColumn("muy", expr("CAST(n * suy - su * sy AS DOUBLE)"))
      .withColumn("mvy", expr("CAST(n * svy - sv * sy AS DOUBLE)"))
      .withColumn("muv", expr("CAST(n * suv - su * sv AS DOUBLE)"))
      .withColumn("sse_r_s", expr(
        "CASE WHEN muu = 0 THEN NULL ELSE myy - muy * muy / muu END"))
      .withColumn("det", expr("muu * mvv - muv * muv"))
      .withColumn("bb", expr(
        "CASE WHEN det = 0 THEN NULL ELSE (muy * mvv - mvy * muv) / det END"))
      .withColumn("cc", expr(
        "CASE WHEN det = 0 THEN NULL ELSE (mvy * muu - muy * muv) / det END"))
      .withColumn("sse_u_s", expr("myy - bb * muy - cc * mvy"))
      .withColumn("f_stat", expr(
        """CASE WHEN sse_u_s IS NULL OR sse_u_s <= 0 THEN NULL
          |ELSE floor((sse_r_s - sse_u_s) * CAST(n - 3 AS DOUBLE) / sse_u_s
          |  * 10000 + 0.5) / 10000 END""".stripMargin))
      .select(col("k").as("l_suppkey"),
        expr("CASE WHEN k % 2 = 0 THEN k + 1 ELSE k - 1 END").as("driver_key"),
        col("n"),
        expr("floor(sse_r_s / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000")
          .as("sse_restricted"),
        expr("floor(sse_u_s / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000")
          .as("sse_unrestricted"),
        col("f_stat"),
        expr("CASE WHEN f_stat IS NULL THEN NULL ELSE f_stat > 4.0 END")
          .as("granger_causal"))
      .orderBy(col("l_suppkey"))
  }
}
