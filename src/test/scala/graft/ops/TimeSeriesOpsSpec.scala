package graft.ops

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class TimeSeriesOpsSpec extends SparkSpec {

  /** lineitem-shaped frame: one supplier, monthly quantities with a 2-month
    * hole (Feb+Mar 2024 missing between Jan=10 and Apr=40).
    */
  private def withHole: DataFrame = {
    import spark.implicits._
    Seq(
      (0, Timestamp.valueOf("2024-01-15 00:00:00"), 10.0),
      (0, Timestamp.valueOf("2024-04-02 00:00:00"), 40.0),
      (0, Timestamp.valueOf("2024-05-20 00:00:00"), 5.0))
      .toDF("l_suppkey", "l_shipdate", "l_quantity")
  }

  test("gapFill inserts explicit null rows for missing months") {
    val rows = TimeSeriesOps.gapFillTable(withHole, 10).collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01", "2024-05-01"))
    assert(rows.map(_.getBoolean(3)).toSeq ==
      Seq(false, true, true, false, false))
    // observed months keep their sums; gap months are null
    assert(rows(0).getDouble(2) == 10.0 && rows(3).getDouble(2) == 40.0)
    assert(rows(1).isNullAt(2) && rows(2).isNullAt(2))
  }

  test("interpolate fills a hole linearly and leaves unbracketed gaps null") {
    import spark.implicits._
    // leading gap: add a supplier whose series STARTS with its min month, so
    // spans never create unbracketed gaps inside; instead verify bracketing
    // with the 2-month hole: Jan=10 .. Apr=40 -> Feb=20, Mar=30
    val rows = TimeSeriesOps.interpolateMonthly(withHole, 10).collect()
    val byMonth = rows.map(r => r.getString(1) -> r).toMap
    assert(byMonth("2024-02-01").getDouble(3) == 20.0)
    assert(byMonth("2024-03-01").getDouble(3) == 30.0)
    assert(!byMonth("2024-02-01").isNullAt(3) && byMonth("2024-02-01").getBoolean(2))
    // observed rows pass through unchanged
    assert(byMonth("2024-01-01").getDouble(3) == 10.0)
    assert(byMonth("2024-05-01").getDouble(3) == 5.0)
  }

  test("yoy pairs a month with exactly month-12, not the 12th-previous row") {
    import spark.implicits._
    // series with a hole: lag(12) over rows would mispair; the month-key
    // self-join must leave yoy null when month-12 is absent
    val li = Seq(
      ("A", Timestamp.valueOf("2023-01-10 00:00:00"), 100.0),
      ("A", Timestamp.valueOf("2023-03-10 00:00:00"), 50.0),
      ("A", Timestamp.valueOf("2024-01-20 00:00:00"), 110.0),
      ("A", Timestamp.valueOf("2024-02-20 00:00:00"), 70.0))
      .toDF("l_returnflag", "l_shipdate", "l_quantity")
    val rows = TimeSeriesOps.yoyChange(li).collect()
      .map(r => r.getString(1) -> r).toMap
    // 2024-01 vs 2023-01: (110/100 - 1)*100 = 10%
    assert(rows("2024-01-01").getDouble(4) == 10.0)
    // 2024-02 has no 2023-02 counterpart -> null yoy
    assert(rows("2024-02-01").isNullAt(4))
    // base-year months have no predecessor -> null
    assert(rows("2023-01-01").isNullAt(4))
  }

  test("binseg: two planted level shifts are both recovered, level-2 stats segment-scaled") {
    import spark.implicits._
    // 12 months: 10,10,10,10 | 100,100,100,100 | 50,50,50,50 — shifts after
    // t=4 and t=8; binseg must put one cut at each boundary
    val vals = Seq.fill(4)(10.0) ++ Seq.fill(4)(100.0) ++ Seq.fill(4)(50.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      ("A", java.sql.Timestamp.valueOf(f"2024-${i + 1}%02d-15 00:00:00"), v)
    }.toDF("l_returnflag", "l_shipdate", "l_quantity")
    val r = TimeSeriesOps.binsegChangepoints(df).collect()(0)
    def g(n: String) = r.getString(r.fieldIndex(n))
    val cuts = Set(g("cp1_month"), g("cp2a_month"), g("cp2b_month"))
    // driver-side replication of the recursion
    def argmaxCut(xs: Seq[Double]): (Int, Double) = {
      val n = xs.length; val s = xs.sum
      val stats = (1 until n).map(t => (t, math.abs(xs.take(t).sum * n - t * s)))
      val best = stats.maxBy { case (t, a) => (a, -t) }
      (best._1, best._2 / n)
    }
    val (c1, m1) = argmaxCut(vals)
    assert(g("cp1_month") == f"2024-$c1%02d-01")
    assert(r.getDouble(r.fieldIndex("max_cusum1")) ==
      math.floor(m1 * 10000 + 0.5) / 10000)
    val (c2a, _) = argmaxCut(vals.take(c1))
    val (c2b, _) = argmaxCut(vals.drop(c1))
    assert(cuts.contains(f"2024-$c2a%02d-01"))
    assert(cuts.contains(f"2024-${c1 + c2b}%02d-01"))
    // both planted boundaries are among the three cuts
    assert(cuts.contains("2024-04-01") && cuts.contains("2024-08-01"), cuts)
    assert(r.getLong(r.fieldIndex("seg0_len"))
      + r.getLong(r.fieldIndex("seg1_len")) == 12L)
  }

  test("binseg: driver-resident recursion matches the distributed plan " +
    "exactly, including null level-2 columns (r17b fast path)") {
    import spark.implicits._
    // two keys: A has 12 months (full recursion), B has 2 months — cp1
    // lands on month 1, seg0 has length 1 => null cp2a columns
    val vals = Seq.fill(4)(10.0) ++ Seq.fill(4)(100.0) ++ Seq.fill(4)(50.0)
    val rowsA = vals.zipWithIndex.map { case (v, i) =>
      ("A", java.sql.Timestamp.valueOf(f"2024-${i + 1}%02d-15 00:00:00"), v)
    }
    val rowsB = Seq(
      ("B", java.sql.Timestamp.valueOf("2024-01-10 00:00:00"), 5.0),
      ("B", java.sql.Timestamp.valueOf("2024-02-10 00:00:00"), 50.0))
    val df = (rowsA ++ rowsB)
      .toDF("l_returnflag", "l_shipdate", "l_quantity")
    def norm(r: org.apache.spark.sql.Row): Seq[Any] =
      (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i))
    val fast = TimeSeriesOps.binsegChangepoints(df).collect().map(norm).toSeq
    val slow = Exec.distributedOnly(TimeSeriesOps.binsegChangepoints(df)
      .collect().map(norm).toSeq)
    assert(fast == slow, s"fast=$fast slow=$slow")
    assert(fast.exists(r => r.head == "B" && r(5) == null && r(6) == null),
      s"length-1 segment must carry null cp2a: $fast")
  }

  test("pacf: driver-resident Durbin-Levinson matches the distributed " +
    "plan exactly (r17b fast path)") {
    import spark.implicits._
    // two keys, 24 months each, deterministic pseudo-random prices with a
    // seasonal component so all four lags carry signal
    val rows = for {
      k <- Seq("A", "B"); m <- 1 to 24
    } yield {
      val v = 100.0 + 10 * math.sin(m / 3.0) + ((m * 37 + k.hashCode) % 13)
      (k, java.sql.Timestamp.valueOf(
        f"${1992 + (m - 1) / 12}%04d-${(m - 1) % 12 + 1}%02d-15 00:00:00"), v)
    }
    val df = rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice")
    val fast = TimeSeriesOps.pacfMonthly(df).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    val slow = Exec.distributedOnly(TimeSeriesOps.pacfMonthly(df).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("cusum changepoint: a clean level shift peaks at the last pre-shift month") {
    import spark.implicits._
    // qty [10,10,10,20,20,20], mean 15: n*CUSUM = [-30,-60,-90,-60,-30,0]
    // -> |peak| 90 at month 3 (the boundary), max_cusum = 90/6 = 15
    val li = (1 to 6).map { m =>
      ("A", Timestamp.valueOf(f"2024-$m%02d-10 00:00:00"),
        if (m <= 3) 10.0 else 20.0)
    }.toDF("l_returnflag", "l_shipdate", "l_quantity")
    val r = TimeSeriesOps.cusumChangepoint(li).collect()(0)
    assert(r.getString(1) == "2024-03-01", s"changepoint at ${r.getString(1)}")
    assert(r.getLong(2) == 6L)
    assert(r.getDouble(3) == 15.0)
  }

  test("seasonal baseline: deviation vs same-calendar-month mean, threshold pre-quantized") {
    import spark.implicits._
    // January across 3 years: 100, 100, 160 -> baseline 120; the 160
    // deviates |160/120-1| = 33.33% (anomaly), the 100s deviate 16.67%
    // (not). February: single year -> baseline = itself, dev 0.
    val li = Seq(
      ("A", Timestamp.valueOf("2022-01-10 00:00:00"), 100.0),
      ("A", Timestamp.valueOf("2023-01-10 00:00:00"), 100.0),
      ("A", Timestamp.valueOf("2024-01-10 00:00:00"), 160.0),
      ("A", Timestamp.valueOf("2024-02-10 00:00:00"), 55.0))
      .toDF("l_returnflag", "l_shipdate", "l_quantity")
    val rows = TimeSeriesOps.seasonalBaseline(li).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(rows("2024-01-01").getDouble(3) == 120.0)
    assert(rows("2024-01-01").getDouble(4) == 33.3333)
    assert(rows("2024-01-01").getBoolean(5), "33% off the seasonal mean flags")
    assert(!rows("2023-01-01").getBoolean(5), "16.7% stays under the 20% gate")
    assert(rows("2024-02-01").getDouble(4) == 0.0 && !rows("2024-02-01").getBoolean(5))
  }

  test("ewma closed form matches the sequential recurrence") {
    import spark.implicits._
    // 5 months in the operator's window (1996), one key, suppkey < 100
    val qs = Seq(16.0, 8.0, 12.0, 4.0, 20.0)
    val li = qs.zipWithIndex.map { case (q, i) =>
      ("A", 1, Timestamp.valueOf(f"1996-${i + 1}%02d-10 00:00:00"), q)
    }.toDF("l_returnflag", "l_suppkey", "l_shipdate", "l_quantity")
    val got = TimeSeriesOps.ewmaMonthly(li, 0.5).collect().map(_.getDouble(3))
    // driver-side reference: E_0 = x_0; E_t = a*x_t + (1-a)*E_{t-1}
    val want = qs.tail.scanLeft(qs.head)((e, x) => 0.5 * x + 0.5 * e)
      .map(v => math.floor(v * 10000 + 0.5) / 10000)
    assert(got.toSeq == want)
    // rows outside the window (1995) and key range (suppkey >= 100) drop
    val extra = Seq(("A", 1, Timestamp.valueOf("1995-06-10 00:00:00"), 999.0),
      ("A", 500, Timestamp.valueOf("1996-01-11 00:00:00"), 999.0))
      .toDF("l_returnflag", "l_suppkey", "l_shipdate", "l_quantity")
    val got2 = TimeSeriesOps.ewmaMonthly(li.unionByName(extra), 0.5).collect()
    assert(got2.length == qs.length && got2.map(_.getDouble(3)).toSeq == want)
  }

  test("ewma range guard: a 200-step series at alpha=0.5 fails loudly, not silently wrong") {
    import spark.implicits._
    // x_t/0.5^t reaches 2^199 by the end of a 200-month series — far past
    // the exactly-representable double range; the in-plan guard must throw,
    // because a silent run would return an EWMA built from inf terms
    val series = (0 until 200).map(i => ("k", i, 1.0)).toDF("key", "t_ord", "x")
    val ex = intercept[Exception] {
      TimeSeriesOps.ewma(series, "key", "t_ord", "x", 0.5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("exceeded 2^53")),
      s"expected the range-guard error, got: $ex")
    // a safe-length series still computes: guard adds exact +0.0
    val short = (0 until 30).map(i => ("k", i, 1.0 + i)).toDF("key", "t_ord", "x")
    val got = TimeSeriesOps.ewma(short, "key", "t_ord", "x", 0.5)
      .orderBy($"t_ord").collect().map(_.getDouble(3))
    val want = (1 until 30).map(i => 1.0 + i)
      .scanLeft(1.0)((e, x) => 0.5 * x + 0.5 * e)
    assert(got.zip(want).forall { case (g, w) => math.abs(g - w) < 1e-9 })
  }

  test("acf: a period-2 series has acf -1 at odd lags, +1 at even lags") {
    import spark.implicits._
    // 9 months alternating 10/20: every lag-1 pair is (10,20) or (20,10)
    // → exactly -1; every lag-2 pair repeats the value → exactly +1
    val li = (0 until 9).map { i =>
      ("A", Timestamp.valueOf(f"1992-${i + 1}%02d-10 00:00:00"),
        if (i % 2 == 0) 10.0 else 20.0)
    }.toDF("l_returnflag", "l_shipdate", "l_extendedprice")
    val rows = TimeSeriesOps.acfMonthly(li, maxLag = 4).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(rows(1) == ((8L, -1.0)), s"lag1 ${rows(1)}")
    assert(rows(2) == ((7L, 1.0)), s"lag2 ${rows(2)}")
    assert(rows(3) == ((6L, -1.0)), s"lag3 ${rows(3)}")
    assert(rows(4) == ((5L, 1.0)), s"lag4 ${rows(4)}")
  }

  test("holt closed form matches the sequential level/trend recursion") {
    import spark.implicits._
    val xs = Seq(100.0, 120.0, 115.0, 140.0, 160.0, 155.0)
    val df = xs.zipWithIndex.map { case (p, i) =>
      ("1-URGENT", java.sql.Date.valueOf(f"1995-${i + 1}%02d-01"), p)
    }.toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val got = TimeSeriesOps.holtForecast(df)
      .collect().map(r => r.getInt(2) -> r.getDouble(3)).toMap
    // driver-side reference: the textbook recursion on the rescaled series
    val sx = xs.map(p => math.round(p * 100).toDouble / 1e8)
    var (l, b) = (sx(0), sx(1) - sx(0))
    sx.drop(1).foreach { x =>
      val l2 = 0.5 * x + 0.5 * (l + b)
      b = 0.25 * (l2 - l) + 0.75 * b
      l = l2
    }
    (1 to 3).foreach { h =>
      val want = math.floor((l + h * b) * 1e6 + 0.5) / 1e6
      assert(math.abs(got(h) - want) < 1e-9, s"h=$h got=${got(h)} want=$want")
    }
  }

  test("holt-winters short history: horizons with unseen calendar phases still emit rows") {
    import spark.implicits._
    // 3 months of history (phases 1..3); 6 horizons land on phases 4..9 —
    // none in history, so every forecast row must still appear with a
    // 0-coalesced seasonal index (an inner seasonal join would drop all 6)
    val xs = Seq(100.0, 120.0, 115.0)
    val df = xs.zipWithIndex.map { case (p, i) =>
      ("1-URGENT", java.sql.Date.valueOf(f"2024-${i + 1}%02d-01"), p)
    }.toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val got = TimeSeriesOps.holtWintersForecast(df)
      .collect().map(r => (r.getInt(r.fieldIndex("h")),
        (r.getString(r.fieldIndex("target_month")),
          r.getDouble(r.fieldIndex("forecast"))))).toMap
    assert(got.size === 6, s"expected all 6 horizons, got ${got.keySet}")
    assert(got(1)._1 === "2024-04-01" && got(6)._1 === "2024-09-01")
    // driver-side reference: seasonal index per phase (pn=1, on=3), the
    // deseasonalized holt recursion, zero seasonal on the unseen phases
    val cents = xs.map(p => math.round(p * 100))
    val overall = cents.sum.toDouble / 3.0
    val adj = cents.map(c => (c.toDouble - (c.toDouble - overall)) / 1e8)
    var (l, b) = (adj(0), adj(1) - adj(0))
    adj.drop(1).foreach { x =>
      val l2 = 0.5 * x + 0.5 * (l + b)
      b = 0.25 * (l2 - l) + 0.75 * b
      l = l2
    }
    (1 to 6).foreach { h =>
      val want = math.floor((l + h * b) * 1e6 + 0.5) / 1e6
      assert(math.abs(got(h)._2 - want) < 1e-9,
        s"h=$h got=${got(h)._2} want=$want")
    }
  }

  test("holt guard: a series past maxLen fails loudly, not by dropping terms") {
    import spark.implicits._
    val df = (0 until 8).map { i =>
      ("1-URGENT", java.sql.Date.valueOf(f"199${5 + i / 12}-${i % 12 + 1}%02d-01"), 100.0 + i)
    }.toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val ex = intercept[Exception] {
      TimeSeriesOps.holtForecast(df, maxLen = 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("holtForecast")), msgs(ex).mkString("; "))
  }

  test("esdOutliers unmasks the second outlier a one-shot z-score misses") {
    import spark.implicits._
    // 20 months at 100, one at 200 (masked), one at 1000 (dominant): the
    // huge point inflates the one-shot SD so 200 reads as R≈0.3 — only
    // after round 1 removes 1000 does 200 clear the threshold. Round 3's
    // residue is all-equal (zero variance) and must flag NOTHING.
    val vals = Seq.fill(20)(100.0) ++ Seq(200.0, 1000.0)
    val li = vals.zipWithIndex.map { case (v, i) =>
      ("1-URGENT",
        Timestamp.valueOf(f"${1995 + i / 12}-${i % 12 + 1}%02d-10 00:00:00"), v)
    }.toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val got = TimeSeriesOps.esdOutliers(li).collect()
    assert(got.length == 2, s"want exactly two flags: ${got.mkString(";")}")
    assert(got(0).getAs[Int]("round") == 1 && got(0).getAs[Long]("v") == 1000L)
    assert(got(1).getAs[Int]("round") == 2 && got(1).getAs[Long]("v") == 200L)
  }

  test("dtwPairs matches a plain-Scala banded DP and beats Euclidean on a shifted series") {
    import spark.implicits._
    // two series: b is a one-step phase shift of a — the case DTW exists
    // for. 12 aligned months, two suppliers
    val a = Seq(10L, 50L, 10L, 50L, 10L, 50L, 10L, 50L, 10L, 50L, 10L, 50L)
    val b = a.drop(1) :+ 10L // shift left by one
    val li = (a.zipWithIndex.map { case (q, i) => (0, i, q) } ++
      b.zipWithIndex.map { case (q, i) => (1, i, q) })
      .map { case (s, i, q) =>
        (s, Timestamp.valueOf(f"1996-${i % 12 + 1}%02d-10 00:00:00"), q.toDouble)
      }.toDF("l_suppkey", "l_shipdate", "l_quantity")
    val got = TimeSeriesOps.dtwPairs(li, maxSuppkey = 2).collect()
    assert(got.length == 1)
    val dtw = got.head.getAs[Long]("dtw")
    // plain-Scala radius-1 banded DP, written forward over the full matrix
    // (an independent formulation of the same band)
    val Huge = Long.MaxValue / 4
    val n = a.length
    val dp = Array.fill(n + 1, n + 1)(Huge)
    for (i <- 1 to n; j <- 1 to n if math.abs(i - j) <= 1) {
      val cost = math.abs(a(i - 1) - b(j - 1))
      val prev =
        if (i == 1 && j == 1) 0L
        else Seq(dp(i - 1)(j), dp(i)(j - 1), dp(i - 1)(j - 1)).min
      dp(i)(j) = cost + prev
    }
    assert(dtw == dp(n)(n), s"got $dtw want ${dp(n)(n)}")
    // the warp must beat rigid alignment: Euclidean L1 distance is 40*11
    val euclid = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    assert(dtw < euclid, s"dtw $dtw should beat euclid $euclid")
  }

  test("periodogram: a pure 6-month cosine peaks at p=6 and nowhere else") {
    import spark.implicits._
    // 24 months of 100 + 50·cos(2πt/6): all the (centered) energy sits at
    // period 6 — power_frac(6) must approach the series' total and be the
    // unique flagged peak
    val rows = (0 until 24).map { t =>
      val d = java.sql.Date.valueOf(f"${1992 + t / 12}%04d-${t % 12 + 1}%02d-01")
      ("A", d, 100.0 + 50.0 * math.cos(2 * math.Pi * t / 6))
    }
    val df = rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice")
    val got = TimeSeriesOps.periodogramMonthly(df).collect()
      .map(r => r.getInt(1) -> (r.getDouble(3), r.getBoolean(4))).toMap
    assert(got.size == 11, s"periods 2..12, got ${got.keys.toSeq.sorted}")
    assert(got(6)._2, "p=6 must be the flagged peak")
    assert(got.filter(_._2._2).keySet == Set(6), s"extra peaks: $got")
    // a pure tone at an exact DFT frequency carries n/2 of the normalized
    // energy (cs²+ss² = ssq·n/2 for a full number of cycles)
    assert(math.abs(got(6)._1 - 12.0) < 0.01, s"peak power ${got(6)._1}")
    // divisor periods (full cycles over 24 months) are near-silent; the
    // non-divisor bins (5,7,9,10,11) carry real spectral leakage — for
    // them the claim is dominance, not silence
    Seq(2, 3, 4, 8, 12).foreach(p =>
      assert(got(p)._1 < 0.01, s"divisor period $p leaked ${got(p)._1}"))
    got.filterNot(_._1 == 6).foreach { case (p, (pf, _)) =>
      assert(pf < got(6)._1 / 2, s"period $p rivals the peak: $pf")
    }
  }

  /** lineitem-shaped monthly series: one row per month, qty = f(t). */
  private def seriesFrame(xs: Seq[Long], suppkey: Int = 0): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    xs.zipWithIndex.map { case (x, i) =>
      (suppkey,
        Timestamp.valueOf(f"${2018 + i / 12}%04d-${i % 12 + 1}%02d-10 00:00:00"),
        x.toDouble)
    }.toDF("l_suppkey", "l_shipdate", "l_quantity")
  }

  test("ar2Forecast matches a textbook float Yule–Walker solve") {
    val xs = (1 to 40).map(t => ((t * 37) % 83 + 10).toLong)
    val r = TimeSeriesOps.ar2Forecast(seriesFrame(xs)).collect()
    assert(r.length == 1 && r(0).getLong(1) == 40L)
    // independent textbook computation: float autocovariances, direct solve
    val n = xs.length
    val m = xs.sum.toDouble / n
    def ck(k: Int): Double =
      (0 until n - k).map(t => (xs(t) - m) * (xs(t + k) - m)).sum / n
    val (c0, c1, c2) = (ck(0), ck(1), ck(2))
    val (r1, r2) = (c1 / c0, c2 / c0)
    val den = 1.0 - r1 * r1
    val (phi1, phi2) = (r1 * (1 - r2) / den, (r2 - r1 * r1) / den)
    val fc = m + phi1 * (xs(n - 1) - m) + phi2 * (xs(n - 2) - m)
    assert(math.abs(r(0).getDouble(2) - r1) < 1e-4, s"r1 ${r(0).getDouble(2)} vs $r1")
    assert(math.abs(r(0).getDouble(3) - r2) < 1e-4)
    assert(math.abs(r(0).getDouble(4) - phi1) < 1e-4)
    assert(math.abs(r(0).getDouble(5) - phi2) < 1e-4)
    assert(math.abs(r(0).getDouble(6) - fc) < 1e-3, s"fc ${r(0).getDouble(6)} vs $fc")
  }

  test("ar2Forecast yields explicit nulls on a constant series (YW undefined)") {
    val r = TimeSeriesOps.ar2Forecast(seriesFrame(Seq.fill(12)(7L))).collect()
    assert(r.length == 1 && r(0).getLong(1) == 12L)
    (2 to 6).foreach(i => assert(r(0).isNullAt(i), s"col $i must be null"))
  }

  test("theilSen ignores a gross outlier that would wreck OLS") {
    // clean line x = 3t with one 1000-spike: most pairwise slopes are
    // exactly 3, so the median stays 3 and the yearly trend is 36
    val xs = (1 to 11).map(t => if (t == 5) 1000L else 3L * t)
    val r = TimeSeriesOps.theilSen(seriesFrame(xs)).collect()(0)
    assert(r.getDouble(2) == 3.0, s"slope ${r.getDouble(2)}")
    assert(r.getDouble(3) == 36.0)
    assert(r.getLong(1) == 55L) // C(11,2) pairs
  }

  test("theilSen averages BOTH middle ranks on even counts (slope and intercept)") {
    // xs = [0,10,10,40] at t=1..4: six pairwise slopes sorted
    // [0, 5, 10, 40/3, 15, 30] -> median (10 + 40/3)/2 = 35/3;
    // residuals x - (35/3)t sorted [-25, -40/3, -35/3, -20/3]
    // -> median (-40/3 - 35/3)/2 = -12.5
    val r = TimeSeriesOps.theilSen(seriesFrame(Seq(0L, 10L, 10L, 40L))).collect()(0)
    assert(math.abs(r.getDouble(2) - 35.0 / 3) < 1e-5, s"slope ${r.getDouble(2)}")
    assert(r.getDouble(4) == -12.5, s"intercept ${r.getDouble(4)}")
  }

  test("motifDiscovery finds a planted repeat and tie-breaks lexicographically") {
    // pattern planted at t=3..8 and t=13..18 over a constant-5 base: the
    // 5-prefixed shifts create THREE zero-distance pairs (1,11),(2,12),(3,13)
    // and the struct-min must pick the lexicographically smallest
    val xs = Array.fill(20)(5L)
    val pat = Seq(9L, 1L, 8L, 2L, 7L, 3L)
    pat.zipWithIndex.foreach { case (v, k) => xs(2 + k) = v; xs(12 + k) = v }
    val r = TimeSeriesOps.motifDiscovery(seriesFrame(xs.toSeq)).collect()(0)
    assert(r.getLong(4) == 0L, s"dist2 ${r.getLong(4)}")
    assert(r.getInt(2) == 1 && r.getInt(3) == 11,
      s"motif (${r.getInt(2)}, ${r.getInt(3)}) — expected the tie-broken (1, 11)")
    assert(r.getDouble(5) == 0.0)
  }

  test("motifDiscovery: a series too short for two non-overlapping windows vanishes") {
    assert(TimeSeriesOps.motifDiscovery(seriesFrame((1L to 11L).toSeq)).collect().isEmpty)
  }

  test("kalmanFilter matches the hand-computed local-level recursion") {
    import spark.implicits._
    // x = (1.0, 2.0, 1.0) via prices of 1e6/2e6/1e6 (cents/1e8):
    //   t=2: P⁻=1.25, K=5/9,  l = 1 + 5/9·(2−1)        = 14/9, P = 5/9
    //   t=3: P⁻=29/36, K=29/65, l = 14/9 + 29/65·(1−14/9) = 153/117
    val orders = Seq(
      ("1-URGENT", java.sql.Date.valueOf("2024-01-15"), 1000000.0),
      ("1-URGENT", java.sql.Date.valueOf("2024-02-10"), 2000000.0),
      ("1-URGENT", java.sql.Date.valueOf("2024-03-05"), 1000000.0))
      .toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val rows = TimeSeriesOps.kalmanFilter(orders).collect()
    assert(rows.length == 3)
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(rows(0).getDouble(4) == 1.0 && rows(0).getDouble(5) == 0.0)
    assert(rows(1).getDouble(4) == q6(14.0 / 9.0), s"l2 ${rows(1).getDouble(4)}")
    assert(rows(1).getDouble(5) == q6(5.0 / 9.0), s"k2 ${rows(1).getDouble(5)}")
    assert(rows(2).getDouble(4) == q6(153.0 / 117.0), s"l3 ${rows(2).getDouble(4)}")
    assert(rows(2).getDouble(5) == q6(29.0 / 65.0), s"k3 ${rows(2).getDouble(5)}")
  }

  test("kalmanSmooth matches the hand-computed RTS backward pass") {
    import spark.implicits._
    // forward (from the filter spec): l = (1, 14/9, 17/13), p = (1, 5/9, 29/65)
    // backward: sl3 = 17/13; C2 = (5/9)/(29/36) = 20/29 →
    //   sl2 = 14/9 − 20/117 = 18/13; C1 = 0.8 → sl1 = 1 + 0.8·5/13 = 17/13
    val orders = Seq(
      ("1-URGENT", java.sql.Date.valueOf("2024-01-15"), 1000000.0),
      ("1-URGENT", java.sql.Date.valueOf("2024-02-10"), 2000000.0),
      ("1-URGENT", java.sql.Date.valueOf("2024-03-05"), 1000000.0))
      .toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val rows = TimeSeriesOps.kalmanSmooth(orders).collect()
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(rows.length == 3)
    assert(rows(0).getDouble(5) == q6(17.0 / 13.0), s"sl1 ${rows(0).getDouble(5)}")
    assert(rows(1).getDouble(5) == q6(18.0 / 13.0), s"sl2 ${rows(1).getDouble(5)}")
    assert(rows(2).getDouble(5) == q6(17.0 / 13.0), s"sl3 ${rows(2).getDouble(5)}")
    // the smoother conditions on the whole series: its t=1 estimate moved
    // toward the later observations while the causal filter could not
    assert(rows(0).getDouble(4) == 1.0, "filtered t=1 must stay on x1")
  }

  test("kalmanFilter length guard: an over-maxLen series fails loudly, not silently truncated") {
    import spark.implicits._
    val long = (0 until 10).map(i =>
      ("K", java.sql.Date.valueOf(f"199${i % 8}-0${i % 9 + 1}-01"), 100.0))
      .toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val ex = intercept[Exception] {
      TimeSeriesOps.kalmanFilter(long, maxLen = 3).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("series longer than")),
      s"expected the length-guard error, got: $ex")
  }

  test("kalmanFilter gain decays toward the steady state and filters toward the signal") {
    import spark.implicits._
    // constant series: the filtered level must stay ON the signal and the
    // gain must converge monotonically down to the Riccati fixed point
    // K* = (sqrt(Q²+4Q)−Q)/ (sqrt(Q²+4Q)−Q+2) with Q=.25, R=1 → ~0.390388
    val orders = (1 to 40).map(i =>
      ("C", java.sql.Date.valueOf(f"202${i / 12}-${i % 12 + 1}%02d-01"), 5000000.0))
      .toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val rows = TimeSeriesOps.kalmanFilter(orders).collect()
    assert(rows.forall(_.getDouble(4) == 5.0), "level must track a constant")
    val gains = rows.drop(1).map(_.getDouble(5))
    assert(gains.zip(gains.tail).forall { case (a, b) => b <= a },
      "gain must decay monotonically")
    assert(math.abs(gains.last - 0.390388) < 1e-4, s"steady gain ${gains.last}")
  }

  test("pacf: matches an independent Durbin-Levinson reimplementation; AR(1) cuts off after lag 1") {
    import spark.implicits._
    // deterministic AR(1): x_t = 0.8 x_{t-1} + hash-noise; 36 months
    def noise(i: Int): Double = ((i * 2654435761L) % 997L).toDouble / 997.0
    val xs = Iterator.iterate((50.0, 0)) { case (x, i) =>
      (0.8 * x + 10.0 * noise(i + 1), i + 1)
    }.take(36).map(_._1).toSeq
    val li = xs.zipWithIndex.map { case (x, i) =>
      ("A", java.sql.Date.valueOf(f"${1992 + i / 12}-${i % 12 + 1}%02d-15"), x)
    }.toDF("l_returnflag", "l_shipdate", "l_extendedprice")
    // independent reimplementation over the same cents series
    val cents = xs.map(x => math.floor(x * 100 + 0.5).toLong)
    val xbar = cents.sum.toDouble / cents.length
    val c = cents.map(_.toDouble - xbar)
    val den = c.map(v => v * v).sum
    def q(x: Double, s: Double): Double = math.floor(x * s + 0.5) / s
    val r = (1 to 4).map { k =>
      k -> q((k until c.length).map(t => c(t) * c(t - k)).sum / den, 1e6)
    }.toMap
    val p11 = r(1)
    val p22 = (r(2) - p11 * r(1)) / (1 - p11 * r(1))
    val p21 = p11 - p22 * p11
    val p33 = (r(3) - (p21 * r(2) + p22 * r(1))) /
      (1 - (p21 * r(1) + p22 * r(2)))
    val p31 = p21 - p33 * p22
    val p32 = p22 - p33 * p21
    val p44 = (r(4) - (p31 * r(3) + p32 * r(2) + p33 * r(1))) /
      (1 - (p31 * r(1) + p32 * r(2) + p33 * r(3)))
    val expected = Map(1 -> q(p11, 1e4), 2 -> q(p22, 1e4),
      3 -> q(p33, 1e4), 4 -> q(p44, 1e4))
    val got = TimeSeriesOps.pacfMonthly(li).collect()
      .map(r0 => r0.getInt(1) -> r0.getDouble(2)).toMap
    assert(got == expected, s"got $got want $expected")
    // AR(1) signature: strong lag-1 PACF, higher lags near zero
    assert(got(1) > 0.5, s"lag-1 pacf ${got(1)}")
    (2 to 4).foreach(k =>
      assert(math.abs(got(k)) < 0.35, s"lag-$k pacf ${got(k)} should cut off"))
  }

  test("conformalIntervals: exact order-statistic radius, coverage, " +
    "and the infinite-interval branch") {
    import spark.implicits._
    // supplier 0: x = 10 13 11 20 5 5 8 9 40 over Jan..Sep
    //   scores t2..t9 = 3 2 9 15 0 3 1 31
    //   calibration (even t) = {3, 9, 0, 1}, n_cal=4, k=ceil(5*4/5)=4
    //   radius = 4th smallest = 9
    //   test (odd t) = {2, 15, 3, 31} -> covered 2,3 -> 2/4 = 0.5
    // supplier 1: x = 7 9 9 -> cal {2} (n_cal=1, k=2>1 -> NULL radius),
    //   test {0} covered by the infinite interval -> coverage 1.0
    val s0 = Seq(10, 13, 11, 20, 5, 5, 8, 9, 40).zipWithIndex.map {
      case (q, i) => (0, Timestamp.valueOf(f"2024-${i + 1}%02d-10 00:00:00"),
        q.toDouble)
    }
    val s1 = Seq(7, 9, 9).zipWithIndex.map {
      case (q, i) => (1, Timestamp.valueOf(f"2024-${i + 1}%02d-10 00:00:00"),
        q.toDouble)
    }
    val li = (s0 ++ s1).toDF("l_suppkey", "l_shipdate", "l_quantity")
    val rows = TimeSeriesOps.conformalIntervals(li).collect()
    assert(rows.length == 2)
    val r0 = rows(0)
    assert(r0.getInt(0) == 0 && r0.getLong(1) == 4 && r0.getLong(2) == 4)
    assert(r0.getLong(3) == 9 && r0.getLong(4) == 2 && r0.getDouble(5) == 0.5)
    val r1 = rows(1)
    assert(r1.getInt(0) == 1 && r1.getLong(1) == 1 && r1.getLong(2) == 1)
    assert(r1.isNullAt(3) && r1.getLong(4) == 1 && r1.getDouble(5) == 1.0)
    graft.ops.Exec.clearPinned(spark)
  }

  test("ljungBox: cyclic series rejects white noise; Q matches a " +
    "recompute from the quantized ACF") {
    import spark.implicits._
    val rows = (0 until 48).flatMap { i =>
      val month = Timestamp.valueOf(
        f"${1992 + i / 12}%04d-${i % 12 + 1}%02d-10 00:00:00")
      Seq(("A", month, 100.0 + 50.0 * math.cos(2 * math.Pi * i / 4)),
        ("N", month, 100.0 + ((i * 2654435761L) % 97).toDouble))
    }
    val li = rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice")
    val got = TimeSeriesOps.ljungBox(li).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got("A")._4, s"cycle must reject white noise: Q=${got("A")._3}")
    assert(got("A")._3 > got("N")._3)
    // recompute from the op's own quantized ACF
    val acf = TimeSeriesOps.acfMonthly(li).collect()
      .filter(_.getString(0) == "A").sortBy(_.getInt(1))
      .map(_.getDouble(3))
    val n = 48.0
    val q = math.floor(n * (n + 2) * acf.zipWithIndex.foldLeft(0.0) {
      case (a, (r, k0)) => a + r * r / (n - (k0 + 1))
    } * 10000 + 0.5) / 10000
    assert(got("A")._3 == q, s"${got("A")._3} vs $q")
    graft.ops.Exec.clearPinned(spark)
  }

  test("stlStrength: seasonal series scores high F_s, linear-trend " +
    "series high F_t; values match a recompute from the decomposition") {
    import spark.implicits._
    val rows = (0 until 48).flatMap { i =>
      val date = Timestamp.valueOf(
        f"${1992 + i / 12}%04d-${i % 12 + 1}%02d-05 00:00:00")
      Seq(
        // realistic monthly-revenue magnitudes: the strength inputs are
        // millions-rescaled, so a toy-sized series would quantize to zero
        ("SEAS", date, 1.0e7
          + 4.0e6 * math.cos(2 * math.Pi * (i % 12) / 12)
          + (i % 5) * 1.0e4),
        ("TREND", date, 1.0e7 + 4.0e5 * i + (i % 7) * 1.0e4))
    }
    val orders = rows.toDF("o_orderpriority", "o_orderdate", "o_totalprice")
    val got = TimeSeriesOps.stlStrength(orders).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got("SEAS")._1 > 0.95, s"F_s(SEAS) ${got("SEAS")._1}")
    assert(got("TREND")._2 > 0.95, s"F_t(TREND) ${got("TREND")._2}")
    assert(got("SEAS")._1 > got("TREND")._1)
    // independent recompute from the decomposition's own output
    val stl = TimeSeriesOps.stlDecompose(orders).collect()
      .filter(r => r.getString(0) == "SEAS" && !r.isNullAt(3))
      .map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    def qi(x: Double) = math.floor(x / 1e6 * 10000 + 0.5).toLong
    val (rs, srs) = (stl.map(t => qi(t._3)), stl.map(t => qi(t._2 + t._3)))
    val n = rs.length.toLong
    def vnum(xs: Array[Long]) =
      n * xs.map(x => x * x).sum - xs.sum * xs.sum
    val fs = math.floor(math.max(0.0,
      1.0 - vnum(rs).toDouble / vnum(srs).toDouble) * 10000 + 0.5) / 10000
    assert(got("SEAS")._1 == fs, s"${got("SEAS")._1} vs $fs")
  }

  test("spectralEntropy: a pure period-4 cycle scores far more " +
    "forecastable than noise, and the fold matches a direct recompute") {
    import spark.implicits._
    // key A: exact period-4 cycle; key N: hash noise — both 48 months
    val rows = (0 until 48).flatMap { i =>
      val month = Timestamp.valueOf(f"${1992 + i / 12}%04d-${i % 12 + 1}%02d-10 00:00:00")
      Seq(("A", month, 100.0 + 50.0 * math.cos(2 * math.Pi * i / 4)),
        ("N", month, 100.0 + ((i * 2654435761L) % 97).toDouble))
    }
    val li = rows.toDF("l_returnflag", "l_shipdate", "l_extendedprice")
    val got = TimeSeriesOps.spectralEntropy(li).collect()
      .map(r => r.getString(0) ->
        (r.getInt(2), r.getDouble(4), r.getDouble(5))).toMap
    assert(got("A")._1 == 4, s"peak period ${got("A")._1}")
    assert(got("A")._2 < got("N")._2,
      s"cycle entropy ${got("A")._2} !< noise entropy ${got("N")._2}")
    assert(got("A")._3 > 0.9, s"cycle forecastability ${got("A")._3}")
    // independent recompute from the periodogram's own quantized output
    val pw = TimeSeriesOps.periodogramMonthly(li).collect()
      .filter(_.getString(0) == "A").sortBy(_.getInt(1))
      .map(_.getDouble(3))
    val tot = pw.foldLeft(0.0)(_ + _)
    val h = -pw.foldLeft(0.0)((a, x) =>
      a + (if (x <= 0) 0.0 else x / tot * math.log(x / tot))) /
      math.log(pw.length.toDouble)
    assert(got("A")._2 == math.floor(h * 10000 + 0.5) / 10000)
  }

  test("grangerCausality: planted lead-lag structure is detected and the " +
    "closed form matches an independent reimplementation") {
    import spark.implicits._
    // supplier 1 drives supplier 0: x_t = y_{t-1} + alternating 0/1 noise
    val y = Seq(5, 9, 4, 8, 7, 6, 10, 3, 2, 11)
    val x = 1 +: y.init.zipWithIndex.map { case (v, i) => v + (i % 2) }
    val rows = (x.zipWithIndex.map { case (q, i) => (0, i, q) } ++
      y.zipWithIndex.map { case (q, i) => (1, i, q) }).map {
      case (k, i, q) => (k, Timestamp.valueOf(f"2024-${i + 1}%02d-10 00:00:00"),
        q.toDouble)
    }
    val li = rows.toDF("l_suppkey", "l_shipdate", "l_quantity")

    // independent closed-form replay (plain Scala, same quantization)
    def expect(tgt: Seq[Int], drv: Seq[Int]): (Double, Double, Double) = {
      val yt = tgt.drop(1).map(_.toLong)
      val u = tgt.init.map(_.toLong)
      val v = drv.init.map(_.toLong)
      val n = yt.length.toLong
      def s(a: Seq[Long]) = a.sum
      def sp(a: Seq[Long], b: Seq[Long]) = a.zip(b).map(t => t._1 * t._2).sum
      val (myy, muu, mvv) = ((n * sp(yt, yt) - s(yt) * s(yt)).toDouble,
        (n * sp(u, u) - s(u) * s(u)).toDouble,
        (n * sp(v, v) - s(v) * s(v)).toDouble)
      val muy = (n * sp(u, yt) - s(u) * s(yt)).toDouble
      val mvy = (n * sp(v, yt) - s(v) * s(yt)).toDouble
      val muv = (n * sp(u, v) - s(u) * s(v)).toDouble
      val sseR = myy - muy * muy / muu
      val det = muu * mvv - muv * muv
      val bb = (muy * mvv - mvy * muv) / det
      val cc = (mvy * muu - muy * muv) / det
      val sseU = myy - bb * muy - cc * mvy
      def q4(d: Double) = math.floor(d * 10000 + 0.5) / 10000
      (q4(sseR / n), q4(sseU / n), q4((sseR - sseU) * (n - 3) / sseU))
    }
    val got = TimeSeriesOps.grangerCausality(li).collect()
      .map(r => r.getLong(0) -> r).toMap
    val (er0, eu0, ef0) = expect(x, y)
    val r0 = got(0L)
    assert(r0.getLong(1) == 1 && r0.getLong(2) == 9)
    assert(r0.getDouble(3) == er0 && r0.getDouble(4) == eu0)
    assert(r0.getDouble(5) == ef0 && r0.getBoolean(6),
      s"planted direction should be causal: f=${r0.getDouble(5)}")
    val (er1, eu1, ef1) = expect(y, x)
    val r1 = got(1L)
    assert(r1.getDouble(3) == er1 && r1.getDouble(4) == eu1
      && r1.getDouble(5) == ef1)
  }
}
