package graft.ops

import org.apache.spark.sql.functions.{col, explode, expr}

import graft.SparkSpec

class EventOpsSpec extends SparkSpec {

  private lazy val events = graft.Tables.events(spark, "/root/testdata/sf0.001")

  test("funnel stages are monotonically non-increasing") {
    val r = EventOps.funnel(events).collect()(0)
    val (s1, s2, s3) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(s1 >= s2 && s2 >= s3, s"funnel not monotone: $s1 >= $s2 >= $s3")
    assert(s1 > 0, "no users entered the funnel — degenerate data")
  }

  test("funnel generalizes to N stages (4-stage run, monotone, prefix-consistent)") {
    import spark.implicits._
    // user 1 completes all 4 stages in order; user 2 stalls after stage 2;
    // user 3 does stage 2 BEFORE stage 1, so never advances past stage 1
    val ev = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"), (1L, 40L, "d"),
      (2L, 10L, "a"), (2L, 20L, "b"),
      (3L, 20L, "a"), (3L, 10L, "b"))
      .toDF("user_id", "ts_ns", "event_type")
    val r = EventOps.funnel(ev, Seq("a", "b", "c", "d")).collect()(0)
    assert((0 until 4).map(r.getLong) == Seq(3L, 2L, 1L, 1L))
    // 3-stage prefix over the same data agrees with the 4-stage run's prefix
    val p = EventOps.funnel(ev, Seq("a", "b", "c")).collect()(0)
    assert((0 until 3).map(p.getLong) == Seq(3L, 2L, 1L))
  }

  test("zscore anomalies: an injected outlier is flagged, a tight cluster is not") {
    import spark.implicits._
    // type 'a': 40 values at ~10 plus one at 1000 (an extreme outlier);
    // type 'b': all identical except tiny jitter — nothing beyond 3 sigma
    val a = (1 to 40).map(i => ("a", 10.0 + (i % 3))) :+ (("a", 1000.0))
    val b = (1 to 20).map(i => ("b", 5.0 + (i % 2) * 0.01))
    val df = (a ++ b).toDF("event_type", "value")
    val rows = EventOps.zscoreAnomalies(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("a").getLong(2) == 1L, "exactly the injected outlier flags")
    assert(rows("a").getDouble(3) > 3.0)
    assert(rows("b").getLong(2) == 0L, "uniform-ish values must not flag")
  }

  test("inter-event gaps: per-user lag, exact interpolated percentiles in seconds") {
    import spark.implicits._
    // user 1, type 'a': 0s, 10s, 30s -> gaps [10s, 20s]; p50 = 15s,
    // p95 = 19.5s, max 20s. A second user contributes no cross-user gap.
    val ev = Seq(
      (1L, "a", 0L, 1L), (1L, "a", 10_000_000_000L, 2L),
      (1L, "a", 30_000_000_000L, 3L), (2L, "a", 5_000_000_000L, 4L))
      .toDF("user_id", "event_type", "ts_ns", "event_id")
    val r = EventOps.interEventGaps(ev).collect()(0)
    assert(r.getLong(1) == 2L, "two gaps, none across users")
    assert(r.getDouble(2) == 15.0)
    assert(r.getDouble(3) == 19.5)
    assert(r.getLong(4) == 20_000_000L, "max gap in truncated microseconds")
  }

  test("type trigrams: per-user order, no cross-user patterns, count-ranked") {
    import spark.implicits._
    // user 1: a b a b -> (a,b,a), (b,a,b); user 2: a b a -> (a,b,a)
    val ev = Seq(
      (1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (1L, "a", 30L, 3L), (1L, "b", 40L, 4L),
      (2L, "a", 10L, 5L), (2L, "b", 20L, 6L), (2L, "a", 30L, 7L))
      .toDF("user_id", "event_type", "ts_ns", "event_id")
    val rows = EventOps.typeTrigrams(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(rows == Map(("a", "b", "a") -> 2L, ("b", "a", "b") -> 1L))
  }

  test("MAD anomalies: robust to the outlier that corrupts mean/stddev") {
    import spark.implicits._
    // type 'a': [1,2,3,4,100] -> med 3, |dev| [2,1,0,1,97] -> MAD 1;
    // rz(100) = 0.6745*97 = 65.4265, everything else <= 1.349. The same
    // outlier inflates stddev to ~43, so a plain z-score would see
    // z(100) ~ 1.8 and MISS it — the case MAD exists for.
    val df = ((1 to 4).map(i => ("a", i.toDouble)) :+ (("a", 100.0))).toDF("event_type", "value")
    val r = EventOps.madAnomalies(df).collect()(0)
    assert(r.getLong(1) == 5L)
    assert(r.getLong(2) == 1L, "exactly the injected outlier flags")
    assert(math.abs(r.getDouble(3) - 65.4265) < 1e-9, s"max_rz ${r.getDouble(3)}")
    assert(r.getDouble(4) == 3.0 && r.getDouble(5) == 1.0, "median/MAD exact")
    // the classic z-score on the identical data misses it: proves the
    // robustness claim rather than asserting it
    val z = EventOps.zscoreAnomalies(df).collect()(0)
    assert(z.getLong(2) == 0L, "plain z-score is corrupted by its own outlier")
  }

  test("retention: day-0 row counts every user exactly once") {
    val rows = EventOps.retention(events).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nUsers = events.select("user_id").distinct().count()
    // every user is active on their own first day by construction
    assert(rows(0) == nUsers, s"day-0 users ${rows(0)} != distinct users $nUsers")
    assert(rows.keys.forall(_ >= 0), "negative day offset is impossible")
    assert(rows.values.forall(_ <= nUsers), "an offset cannot exceed the user population")
  }

  test("markov transitions: counts follow per-user order; rows normalize per source") {
    import spark.implicits._
    // user 1: a→b→a ; user 2: a→b — transitions a→b ×2, b→a ×1
    val df = Seq(
      (1L, 1L, "a", 100L), (1L, 2L, "b", 200L), (1L, 3L, "a", 300L),
      (2L, 4L, "a", 100L), (2L, 5L, "b", 200L))
      .toDF("user_id", "event_id", "event_type", "ts_ns")
    val rows = EventOps.markovTransitions(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set(("a", "b"), ("b", "a")),
      "u2's trailing b has no successor — no cross-user transition appears")
    assert(rows(("a", "b")) == ((2L, 1.0)), "a always transitions to b")
    assert(rows(("b", "a")) == ((1L, 1.0)), "the only b-sourced transition")
    // probabilities per source sum to 1 (within quantization)
    val bySrc = rows.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._2).sum)
    assert(bySrc.forall { case (_, p) => math.abs(p - 1.0) < 0.001 })
  }

  test("CMS: exact on a collision-free fixture, never undercounts on the real stream") {
    import spark.implicits._
    val ev = (Seq.fill(5)((1L, "a")) ++ Seq.fill(3)((2L, "b")) ++ Seq((3L, "c")))
      .zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) }
      .toDF("event_id", "user_id", "event_type")
    val got = EventOps.cmsHeavyKeys(ev, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(x => x._1 -> x._2).toMap ==
      Map("1:a" -> 5L, "2:b" -> 3L, "3:c" -> 1L))
    // 3 keys in 1024 buckets: no row collides, so the min-estimate is exact
    assert(got.forall(x => x._3 == x._2), s"estimates drifted: ${got.toSeq}")
    // ordering contract: exact desc, key asc
    assert(got.map(_._1).toSeq == Seq("1:a", "2:b", "3:c"))
    // the real stream: the structural CMS guarantee (est >= exact, i.e.
    // overcount >= 0) must hold for every probed key
    val real = EventOps.cmsHeavyKeys(events).collect()
    assert(real.length == 20)
    real.foreach(r => assert(r.getLong(3) >= 0,
      s"undercount on ${r.getString(0)}"))
  }

  test("HLL: estimates land within theory bounds on every audited cardinality shape") {
    val got = EventOps.hllDistinct(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got.keySet ==
      Set("event_id", "event_type", "user_id", "user_type_pair"))
    // exact distincts are real counts (sf0.001 events: small but nonzero)
    got.values.foreach { case (exact, est, relErr) =>
      assert(exact > 0 && est > 0)
      // m=256 HLL standard error is ~6.5%; linear counting is tighter at
      // the low end — 25% is a >3-sigma envelope for every shape here
      assert(math.abs(relErr) < 0.25, s"rel_err $relErr for exact=$exact")
      // rel_err column is consistent with the two value columns
      val expected =
        math.floor((est / exact - 1) * 10000 + 0.5) / 10000
      assert(math.abs(relErr - expected) < 1e-9)
    }
    // the low-cardinality shape rides linear counting: near-exact
    val (typeExact, typeEst, _) = got("event_type")
    assert(math.abs(typeEst - typeExact) < 1.0,
      s"linear counting should be near-exact: $typeEst vs $typeExact")
  }

  test("Misra-Gries: completeness guarantee holds, summary bounded, output exact and merge-order-free") {
    import spark.implicits._
    graft.functions.MisraGries.register(spark)
    // zipf-ish stream: key i carries 200/i occurrences
    val stream = (1 to 40).flatMap(i => Seq.fill(200 / i)(i))
    val n = stream.length
    val counts = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // raw summary across a real multi-partition merge tree
    val k = 8
    val summary = stream.map(i => s"$i:t").toDF("key").repartition(7)
      .agg(expr(s"misra_gries(key, $k)").as("mg"))
      .select(explode(col("mg")).as("e"))
      .select(col("e.key")).as[String].collect().toSet
    assert(summary.size <= k, s"summary exceeded k: $summary")
    counts.filter(_._2 > n / (k + 1)).keys.foreach(i =>
      assert(summary.contains(s"$i:t"),
        s"guaranteed key $i missing (count ${counts(i)}, bound ${n / (k + 1)})"))
    // end-to-end operator: exact thresholded counts, identical under any
    // partitioning (the summary's lower bounds never reach the output)
    val ev = stream.zipWithIndex
      .map { case (u, i) => (i.toLong, u.toLong, "t") }
      .toDF("event_id", "user_id", "event_type")
    def run(p: Int) = EventOps.mgHeavyHitters(ev.repartition(p), k = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val r1 = run(1)
    assert(r1 == run(32), "merge order reached the output")
    val expected = counts.toSeq.map { case (u, c) => (s"$u:t", c) }
      .filter { case (_, c) => c * 65 > n }
      .sortBy { case (kk, c) => (-c, kk) }
    assert(r1 == expected, s"got $r1\nwant $expected")
  }

  test("sketches are partition-invariant: CMS and HLL identical on 1 vs 32 partitions") {
    // both sketches are built from commutative-associative aggregates
    // (count per (row, bucket); max-ρ per register) — the distributed-
    // correctness property that lets them run on 1000 executors
    def cms(df: org.apache.spark.sql.DataFrame) =
      EventOps.cmsHeavyKeys(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def hll(df: org.apache.spark.sql.DataFrame) =
      EventOps.hllDistinct(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cms(events.repartition(1)) == cms(events.repartition(32)))
    assert(hll(events.repartition(1)) == hll(events.repartition(32)))
  }

  test("funnel time-to-convert: exact deltas, strictly-later rule, rank percentiles") {
    import spark.implicits._
    // u1 signs up at 10µs, purchases at 5µs (BEFORE — must not count)
    // and 30µs → dt 20µs; u2 signs up at 0, purchases at 100µs → dt 100;
    // u3 signs up, never purchases; u4 purchases, never signs up
    val ev = Seq(
      (1L, 10000L, "signup"), (1L, 5000L, "purchase"), (1L, 30000L, "purchase"),
      (2L, 0L, "signup"), (2L, 100000L, "purchase"),
      (3L, 50000L, "signup"),
      (4L, 60000L, "purchase"))
      .map { case (u, ns, t) => (u, ns, t, u * 10 + ns / 1000) }
      .toDF("user_id", "ts_ns", "event_type", "event_id")
    val r = EventOps.funnelTime(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 3L && row.getLong(1) == 2L, row.toString)
    assert(row.getDouble(2) == 2.0 / 3.0, row.toString)
    // ranks over dts {20, 100}: p50 = rank ceil(1.0)=1 → 20, p90 = rank 2 → 100
    assert(row.getLong(3) == 20L && row.getLong(4) == 100L, row.toString)
    assert(row.getLong(5) == 20L && row.getLong(6) == 100L, row.toString)
  }

  test("forecast backtest: a perfectly period-7 series gives seasonal MAE 0 and skill 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, to_timestamp}
    // one event per day, value repeats with period 7 → seasonal-naive is
    // exact on every fold; naive errs whenever adjacent days differ
    val ev = (0 until 15).map { d =>
      (s"2024-01-${"%02d".format(d + 1)} 12:00:00", (d % 7 + 1).toDouble)
    }.toDF("s", "value")
      .withColumn("ts", to_timestamp(col("s")))
      .withColumn("event_type", expr("'a'"))
    val r = EventOps.forecastBacktest(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 7L, s"folds: $row")
    assert(row.getDouble(2) == 0.0, s"seasonal MAE: $row")
    assert(row.getDouble(3) > 0.0 && row.getDouble(4) == 0.0, s"skill: $row")
  }

  test("cohort LTV triangle: exact cumulative value per user by first-seen week") {
    import spark.implicits._
    import org.apache.spark.sql.functions.to_timestamp
    val ev = Seq(
      (1L, "1970-01-01 00:00:00", 1.00), (1L, "1970-01-08 00:00:00", 2.00),
      (2L, "1970-01-02 00:00:00", 3.00),
      (3L, "1970-01-09 00:00:00", 5.00))
      .toDF("user_id", "s", "value")
      .withColumn("ts", to_timestamp(col("s")))
    val got = EventOps.cohortLtv(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // cohort week 0 = {u1, u2}: age 0 spends 4.00 → ltv 2.0; age 1 adds
    // 2.00 → cumulative 6.00 over 2 users = 3.0. cohort week 1 = {u3}.
    assert(got == Map(
      (0L, 0L) -> ((2L, 2L, 4.0, 2.0)),
      (0L, 1L) -> ((2L, 1L, 2.0, 3.0)),
      (1L, 0L) -> ((1L, 1L, 5.0, 5.0))), got.toString)
  }

  test("time-weighted average: long-held value dominates, plain mean does not") {
    import spark.implicits._
    // value 1.00 holds for 9µs, value 3.00 for 1µs, observation at 10µs
    // closes the span: twa = (100·9 + 300·1)/(100·10) = 1.2 exactly,
    // while the plain mean of observed STARTS is (1+3)/2 = 2.0
    val ev = Seq(
      (1L, 0L, "t", 1.00), (2L, 9000L, "t", 3.00), (3L, 10000L, "t", 9.99))
      .toDF("event_id", "ts_ns", "event_type", "value")
    val r = EventOps.timeWeightedAvg(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 2L && row.getLong(2) == 10L, row.toString)
    assert(row.getDouble(3) == 1.2, s"twa: ${row.getDouble(3)}")
    assert(row.getDouble(4) == 2.0, s"mean: ${row.getDouble(4)}")
    assert(row.getDouble(5) == 1.2 - 2.0, s"bias: ${row.getDouble(5)}")
  }

  test("time-weighted average: simultaneous events get zero weight, singleton types drop") {
    import spark.implicits._
    val ev = Seq(
      // duplicate timestamp: event 1 spans 0µs into event 2, which holds 5µs
      (1L, 0L, "dup", 7.00), (2L, 0L, "dup", 2.00), (3L, 5000L, "dup", 9.99),
      // a type with one event has no interval — must not emit a row
      (4L, 0L, "solo", 5.00))
      .toDF("event_id", "ts_ns", "event_type", "value")
    val got = EventOps.timeWeightedAvg(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.keySet == Set("dup"), got.toString)
    assert(got("dup") == 2.0, s"dup twa: ${got("dup")}")
  }

  // CUPED / SRM / sequential fixtures: ns timestamps straddling the
  // 2024-01-16T00:00Z CUPED cutoff (1705363200e9)
  private val PreNs = 1705000000L * 1000000000L
  private val PostNs = 1705400000L * 1000000000L

  test("cupedAbTest: a perfectly predictive covariate zeroes the adjusted lift") {
    import spark.implicits._
    // each user's post-period revenue EQUALS their pre-period revenue, so
    // θ = 1, ρ² = 1, and both adjusted means collapse to the global mean —
    // the raw lift (arm means differ) must survive in lift_raw only
    val ev = Seq((0L, 10.0), (1L, 20.0), (2L, 30.0), (3L, 60.0)).flatMap {
      case (u, v) => Seq((u, PreNs, "purchase", v), (u, PostNs, "purchase", v))
    }.toDF("user_id", "ts_ns", "event_type", "value")
    val r = EventOps.cupedAbTest(ev).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0, s"theta ${r.getDouble(2)}")
    assert(r.getDouble(3) == 1.0, s"rho2 ${r.getDouble(3)}")
    // arm 0 = users 0,2 (mean 20); arm 1 = users 1,3 (mean 40)
    assert(r.getDouble(8) == -20.0, s"lift_raw ${r.getDouble(8)}")
    assert(r.getDouble(9) == 0.0, s"lift_cuped ${r.getDouble(9)}")
    // adjusted means both equal the global mean 30
    assert(r.getDouble(6) == 30.0 && r.getDouble(7) == 30.0)
  }

  test("cupedAbTest: a constant covariate yields null θ, raw lift preserved") {
    import spark.implicits._
    val ev = Seq((0L, 10.0), (1L, 20.0), (2L, 30.0), (3L, 60.0)).flatMap {
      case (u, v) => Seq((u, PreNs, "purchase", 5.0), (u, PostNs, "purchase", v))
    }.toDF("user_id", "ts_ns", "event_type", "value")
    val r = EventOps.cupedAbTest(ev).collect()(0)
    assert(r.isNullAt(2) && r.isNullAt(3), "θ and ρ² undefined on var(X)=0")
    assert(r.getDouble(8) == -20.0)
  }

  test("srmDaily: balanced assignment stays quiet; a one-arm flood flags") {
    import spark.implicits._
    // day 0: users 0..7 (4 even / 4 odd) -> χ² = 0; day 1: 20 extra
    // even-id users -> cumulative (24, 4), χ² = 400/28 ≈ 14.29 > 3.841
    val day0 = (0L to 7L).map(u => (u, u * 1000000000L, "view", 1.0))
    val day1 = (0 until 20).map(i =>
      (100L + 2 * i, 86400L * 1000000000L + i, "view", 1.0))
    val ev = (day0 ++ day1).toDF("user_id", "ts_ns", "event_type", "value")
    val rows = EventOps.srmDaily(ev).collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 4L && rows(0).getLong(2) == 4L)
    assert(rows(0).getDouble(3) == 0.0 && !rows(0).getBoolean(4))
    assert(rows(1).getLong(1) == 24L && rows(1).getLong(2) == 4L)
    assert(math.abs(rows(1).getDouble(3) - 400.0 / 28) < 1e-4)
    assert(rows(1).getBoolean(4), "20-user flood must trip the SRM flag")
  }

  test("sequentialAb: cumulative counts advance on conversion-only days, z guarded") {
    import spark.implicits._
    val day = 86400L * 1000000000L
    val ev = Seq(
      (0L, 0L * day + 1, "view", 1.0),      // arm 0 exposed day 0
      (1L, 0L * day + 2, "view", 1.0),      // arm 1 exposed day 0
      (2L, 1L * day + 1, "view", 1.0),      // arm 0 exposed day 1
      (3L, 1L * day + 2, "view", 1.0),      // arm 1 exposed day 1
      (0L, 2L * day + 1, "purchase", 200.0) // day 2: conversion ONLY
    ).toDF("user_id", "ts_ns", "event_type", "value")
    val rows = EventOps.sequentialAb(ev).collect()
    assert(rows.length == 3, s"3 spine days, got ${rows.length}")
    // day 0: 1 vs 1 exposed, no conversions -> pp = 0 -> z null
    assert(rows(0).getLong(1) == 1L && rows(0).getLong(3) == 1L)
    assert(rows(0).isNullAt(5) && rows(0).isNullAt(6))
    // day 2 exists purely via the event spine; counts include the conversion
    assert(rows(2).getLong(1) == 2L && rows(2).getLong(2) == 1L)
    assert(rows(2).getLong(3) == 2L && rows(2).getLong(4) == 0L)
    // z = 0.5 / sqrt(0.25 * 0.75 * 1) = 1.1547, not significant
    assert(math.abs(rows(2).getDouble(5) - 1.1547) < 1e-4)
    assert(!rows(2).getBoolean(6))
  }

  test("powerAnalysis reproduces the closed-form sample size on known moments") {
    import spark.implicits._
    // four users with per-user metric 1, 2, 3, 4 dollars: mean 2.5,
    // population variance 1.25, MDE = 0.125
    val ev = Seq((0L, 1.00), (1L, 2.00), (2L, 3.00), (3L, 4.00))
      .map { case (u, v) => (u, u * 1000L, "view", v) }
      .toDF("user_id", "ts_ns", "event_type", "value")
    val r = EventOps.powerAnalysis(ev).collect()(0)
    assert(r.getString(0) == "view" && r.getLong(1) == 4L)
    assert(r.getDouble(2) == 2.5 && r.getDouble(3) == 1.25)
    assert(r.getDouble(4) == 0.125)
    val z2 = 2.801585 * 2.801585
    val expected = math.ceil(2.0 * 1.25 * z2 / (0.125 * 0.125)).toLong
    assert(r.getLong(5) == expected, s"n_required ${r.getLong(5)} vs $expected")
  }

  test("diffInDiff isolates the treatment-arm excess delta and guards zero SE") {
    import spark.implicits._
    def purchase(u: Long, ns: Long, v: Double) = (u, ns, "purchase", v)
    // arm 0 (users 0,2): deltas 4 and 6; arm 1 (users 1,3): deltas 6 and 10
    // -> DiD = 8 - 5 = 3; s²_a = 2, s²_b = 8; SE = sqrt(1 + 4) = √5
    val ev = Seq(
      purchase(0L, PreNs, 10.0), purchase(0L, PostNs, 14.0),
      purchase(2L, PreNs, 20.0), purchase(2L, PostNs, 26.0),
      purchase(1L, PreNs, 10.0), purchase(1L, PostNs, 16.0),
      purchase(3L, PreNs, 20.0), purchase(3L, PostNs, 30.0))
      .toDF("user_id", "ts_ns", "event_type", "value")
    val r = EventOps.diffInDiff(ev).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 15.0 && r.getDouble(3) == 20.0) // arm-0 means
    assert(r.getDouble(4) == 15.0 && r.getDouble(5) == 23.0) // arm-1 means
    assert(r.getDouble(6) == 3.0, s"did ${r.getDouble(6)}")
    assert(math.abs(r.getDouble(7) - math.sqrt(5.0)) < 1e-5)
    assert(math.abs(r.getDouble(8) - 3.0 / math.sqrt(5.0)) < 1e-5)
    assert(!r.getBoolean(9))
    // constant deltas within each arm -> SE = 0 -> z must be an explicit null
    val ev0 = Seq(
      purchase(0L, PreNs, 10.0), purchase(0L, PostNs, 15.0),
      purchase(2L, PreNs, 20.0), purchase(2L, PostNs, 25.0),
      purchase(1L, PreNs, 10.0), purchase(1L, PostNs, 18.0),
      purchase(3L, PreNs, 20.0), purchase(3L, PostNs, 28.0))
      .toDF("user_id", "ts_ns", "event_type", "value")
    val r0 = EventOps.diffInDiff(ev0).collect()(0)
    assert(r0.getDouble(6) == 3.0)
    assert(r0.getDouble(7) == 0.0 && r0.isNullAt(8) && r0.isNullAt(9))
  }

  test("bootstrapCI matches a plain-Scala replication of the LCG/Poisson/rank pipeline") {
    import spark.implicits._
    // 12 users, one type, hand-checkable values
    val rows = (1L to 12L).map(u => ("buy", u, u * 1.5))
    val df = rows.toDF("event_type", "user_id", "value")
    val got = EventOps.bootstrapCI(df, b = 200).collect()(0)
    // independent driver-side replication
    val cents = rows.map { case (_, u, v) => u -> math.round(v * 100) }
    def w(u: Long, rep: Long): Long = {
      val h = (u * 2654435761L + rep * 40503L) % 1000000L
      if (h < 367879L) 0L else if (h < 735759L) 1L
      else if (h < 919699L) 2L else if (h < 981012L) 3L else 4L
    }
    val means = (0L until 200L).map { rep =>
      val (wc, wn) = cents.foldLeft((0L, 0L)) { case ((a, b), (u, c)) =>
        (a + w(u, rep) * c, b + w(u, rep))
      }
      (wc.toDouble / wn.toDouble / 100.0, rep)
    }.sortBy(identity)
    def q6(x: Double) = math.floor(x * 1000000 + 0.5) / 1000000
    assert(got.getAs[Long]("n_users") == 12L)
    assert(got.getAs[Double]("ci_lo") == q6(means(4)._1), "rank-5 order statistic")
    assert(got.getAs[Double]("ci_hi") == q6(means(195)._1), "rank-196 order statistic")
    assert(got.getAs[Double]("mean_val") ==
      q6(cents.map(_._2).sum.toDouble / 12.0 / 100.0))
    // the CI must bracket the point estimate on this benign fixture
    assert(got.getAs[Double]("ci_lo") <= got.getAs[Double]("mean_val")
      && got.getAs[Double]("mean_val") <= got.getAs[Double]("ci_hi"))
  }

  test("ipwEffect recovers the exact null where the naive difference is biased") {
    import spark.implicits._
    // stratum 0: outcome 10, 1 of 4 treated (p̂ = .25);
    // stratum 1: outcome 20, 3 of 4 treated (p̂ = .75).
    // Treatment does NOTHING — but treated users over-sample the
    // high-outcome stratum, so naive = 17.5 − 12.5 = 5. With in-sample
    // propensities the Hájek IPW estimate is EXACTLY zero.
    val users = Seq(
      (1L, 0, true, 1000L), (2L, 0, false, 1000L),
      (3L, 0, false, 1000L), (4L, 0, false, 1000L),
      (5L, 1, true, 2000L), (6L, 1, true, 2000L),
      (7L, 1, true, 2000L), (8L, 1, false, 2000L))
      .toDF("user_id", "stratum", "treated", "cents")
    val r = EventOps.ipwEffect(users).collect()(0)
    assert(r.getAs[Long]("n_users") == 8L && r.getAs[Long]("n_treat") == 4L)
    assert(r.getAs[Double]("naive_diff") == 5.0, s"naive: $r")
    assert(r.getAs[Double]("ipw_diff") == 0.0, s"ipw must be exactly 0: $r")
  }

  test("audienceOverlap: identical user sets estimate 1.0, disjoint sets 0.0") {
    import spark.implicits._
    val same = ((1L to 40L).map(u => ("a", u)) ++ (1L to 40L).map(u => ("b", u)))
      .toDF("event_type", "user_id")
    val r1 = EventOps.audienceOverlap(same, k = 32).collect()(0)
    assert(r1.getAs[Double]("jaccard_exact") == 1.0)
    assert(r1.getAs[Double]("kmv_est") == 1.0,
      s"identical sets must estimate exactly 1.0: $r1")
    val disjoint = ((1L to 40L).map(u => ("a", u)) ++ (41L to 80L).map(u => ("b", u)))
      .toDF("event_type", "user_id")
    val r2 = EventOps.audienceOverlap(disjoint, k = 32).collect()(0)
    assert(r2.getAs[Double]("jaccard_exact") == 0.0)
    assert(r2.getAs[Double]("kmv_est") == 0.0)
    assert(r2.getAs[Double]("abs_err") == 0.0)
  }

  test("retentionMatrix: hand-computed weekly triangle with a returning-after-gap user") {
    import spark.implicits._
    val week = 7L * 86400L * 1000000000L
    // cohort w0: users 1 (weeks 0,1,2) and 2 (weeks 0,2 — skips week 1);
    // cohort w1: user 3 (week 1 only)
    val events = Seq(
      (1L, 0L * week + 5L), (1L, 1L * week + 9L), (1L, 2L * week + 1L),
      (2L, 0L * week + 2L), (2L, 2L * week + 7L),
      (3L, 1L * week + 3L))
      .toDF("user_id", "ts_ns")
    val rows = EventOps.retentionMatrix(events).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.size == 4)
    assert(rows((0L, 0)) == ((2L, 2L, 1.0)))
    assert(rows((0L, 1)) == ((1L, 2L, 0.5)), "user 2's week-1 gap must show")
    assert(rows((0L, 2)) == ((2L, 2L, 1.0)), "user 2 returns in week 2")
    assert(rows((1L, 0)) == ((1L, 1L, 1.0)))
  }

  test("upliftBySegment: hand-computed per-segment contrasts; zero-SE segment yields null z") {
    import spark.implicits._
    // arm = id%2, segment = (id/2)%3; value>150 converts
    // seg0: control {0:conv, 6:no}, treat {1:conv, 7:conv} -> 0.5 vs 1.0
    // seg1: nobody converts in either arm -> se = 0 -> z null
    // seg2: control {4:conv, 10:conv}, treat {5:no, 11:conv} -> 1.0 vs 0.5
    val conv = 200.0; val no = 100.0
    val events = Seq(
      0L -> conv, 6L -> no, 1L -> conv, 7L -> conv,
      2L -> no, 8L -> no, 3L -> no, 9L -> no,
      4L -> conv, 10L -> conv, 5L -> no, 11L -> conv)
      .map { case (u, v) => (u, "purchase", v) }
      .toDF("user_id", "event_type", "value")
    val rows = EventOps.upliftBySegment(events).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        if (r.isNullAt(8)) Double.NaN else r.getDouble(8))).toMap
    assert(rows.size == 3)
    val z = math.floor(0.5 / math.sqrt(0.125) * 10000 + 0.5) / 10000
    assert(rows(0) == ((2L, 2L, 2L, 1L, 1.0, 0.5, 0.5, z)), rows(0))
    assert(rows(1)._5 == 0.0 && rows(1)._6 == 0.0 && rows(1)._8.isNaN,
      s"degenerate segment must have null z: ${rows(1)}")
    val zNeg = math.floor(-0.5 / math.sqrt(0.125) * 10000 + 0.5) / 10000
    assert(rows(2) == ((2L, 1L, 2L, 2L, 0.5, 1.0, -0.5, zNeg)), rows(2))
  }

  test("kaplan-meier: hand-computed curve, censored user held in at-risk but never in deaths") {
    import spark.implicits._
    val day = 86400000000000L
    // one cohort; horizon E=20. u1 dur 10 (churn), u2 dur 2 (churn),
    // u3 dur 0 (churn), u4 dur 20 (E-l=0 <7 -> CENSORED), u5 dur 2 (churn)
    val events = Seq(
      (1L, 0L * day), (1L, 10L * day),
      (2L, 1L * day), (2L, 3L * day),
      (3L, 2L * day),
      (4L, 0L * day), (4L, 20L * day),
      (5L, 3L * day), (5L, 5L * day))
      .toDF("user_id", "ts_ns")
    val got = EventOps.survivalKm(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // KM by hand: terms 4/5, 1/2, 1/2, 1 -> S = .8, .4, .2, .2
    assert(got.toSeq == Seq(
      (0L, 0L, 1L, 1L, 5L, 0.8),
      (0L, 2L, 2L, 2L, 4L, 0.4),
      (0L, 10L, 1L, 1L, 2L, 0.2),
      (0L, 20L, 1L, 0L, 1L, 0.2)), got.mkString(" "))
  }

  test("cemAtt: hand-computed matched bins, dropped off-support treated, " +
    "and the naive-vs-matched correction") {
    import spark.implicits._
    def u(id: Long, types: Seq[String], pv: Double): Seq[(Long, String, Double)] =
      types.map(t => (id, t, if (t == "purchase") pv else 0.0))
    // bin 0 (n_events<5): t u1 y=10.00 | c u2 y=6.00, u3 y=0
    // bin 1: t u4 y=20.00 | c u6 y=5.00
    // bin 2: t u5 y=50.00, NO control -> dropped
    val ev = (
      u(1L, Seq("signup", "view", "purchase"), 10.00) ++
      u(2L, Seq("view", "click", "view", "purchase"), 6.00) ++
      u(3L, Seq("view", "click"), 0.0) ++
      u(4L, Seq("signup") ++ Seq.fill(5)("view") :+ "purchase", 20.00) ++
      u(6L, Seq.fill(7)("view") :+ "purchase", 5.00) ++
      u(5L, Seq("signup") ++ Seq.fill(10)("view") :+ "purchase", 50.00))
      .toDF("user_id", "event_type", "value")
    val r = EventOps.cemAtt(ev).collect()(0)
    // bin terms: (1000*2-600)/2=700, (2000-500)/1=1500 -> att=2200/2/100=11
    assert(r.getLong(0) == 2 && r.getLong(1) == 3)
    assert(r.getLong(2) == 2 && r.getLong(3) == 1)
    assert(r.getDouble(4) == 11.0, s"att ${r.getDouble(4)}")
    // naive: (8000/3 - 1100/3)/100 = 23.0 -- inflated by the off-support
    // high-activity treated user the matching dropped
    assert(r.getDouble(5) == 23.0, s"naive ${r.getDouble(5)}")
  }

  test("shapleyAttribution: weighted-subset engine values equal an " +
    "independent all-orderings computation; efficiency axiom holds") {
    import spark.implicits._
    val journeys = Seq(
      (1L, Seq("view", "click", "purchase")),
      (2L, Seq("view", "purchase")),
      (3L, Seq("click")),
      (4L, Seq("signup", "purchase")),
      (5L, Seq("purchase")),
      (6L, Seq("view", "click", "signup")),
      (7L, Seq("error", "view", "purchase")),
      (8L, Seq("error")))
    val ev = journeys.flatMap { case (u, ts) => ts.map(t => (u, t)) }
      .toDF("user_id", "event_type")
    // independent formulation: phi*24 = sum of marginal contributions over
    // ALL 4! player orderings (the engine uses the weighted-subset form)
    val bits = Map("view" -> 1, "click" -> 2, "signup" -> 4, "error" -> 8)
    val convMasks = journeys.filter(_._2.contains("purchase"))
      .map(_._2.filter(bits.contains).map(bits).fold(0)(_ | _))
    def v(sset: Int): Int = convMasks.count(m => (m & sset) == m)
    val phi24 = (0 until 4).map { c =>
      c -> (0 until 4).permutations.map { p =>
        val before = p.takeWhile(_ != c).map(1 << _).fold(0)(_ | _)
        v(before | (1 << c)) - v(before)
      }.sum.toLong
    }.toMap
    val got = EventOps.shapleyAttribution(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq("click", "error", "signup", "view"))
    val nameBit = Map("view" -> 0, "click" -> 1, "signup" -> 2, "error" -> 3)
    got.foreach { case (ch, x24, sh) =>
      assert(x24 == phi24(nameBit(ch)), s"channel $ch: $x24 vs expected")
      assert(sh == math.floor(x24.toDouble / 24 * 10000 + 0.5) / 10000)
    }
    // efficiency: sum phi = v(all players) - v(empty coalition)
    assert(got.map(_._2).sum == 24L * (v(15) - v(0)))
    // view appears in 3 of 4 non-baseline conversions, error in 1 - the
    // ranking must reflect it
    val byCh = got.map(t => t._1 -> t._2).toMap
    assert(byCh("view") > byCh("error"))
  }

  test("touch census: the (mask, conv) histogram folds back to the exact Shapley values; " +
    "replayed touches change nothing") {
    import spark.implicits._
    val b1 = Seq((1L, "view"), (2L, "view"), (3L, "click"), (4L, "signup"))
    val b2 = Seq((1L, "click"), (1L, "purchase"), (2L, "purchase"),
      (5L, "purchase"), (4L, "error"))
    // the replayed batch repeats already-seen touches verbatim
    val replay = Seq((1L, "view"), (2L, "purchase"), (3L, "click"))
    val b4 = Seq((3L, "purchase"), (4L, "purchase"))
    def census(ev: Seq[(Long, String)]): Map[(Int, Int), Long] =
      EventOps.touchCensus(ev.toDF("user_id", "event_type")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val all = b1 ++ b2 ++ replay ++ b4
    val hist = census(all)
    // per user: 1 view|click, 2 view, 3 click, 4 signup|error, 5 none —
    // every one converted
    assert(hist == Map((3, 1) -> 1L, (1, 1) -> 1L, (2, 1) -> 1L, (12, 1) -> 1L,
      (0, 1) -> 1L), s"census $hist")
    assert(census(b1 ++ b2 ++ b4) == hist, "the replayed touches changed the census")
    // exact Shapley x24 from the histogram alone (weighted-subset form)
    def v(s: Int): Long = hist.collect { case ((m, 1), n) if (m & s) == m => n }.sum
    def w24(sz: Int) = if (sz == 0 || sz == 3) 6 else 2
    val phiFromCensus = (0 until 4).map { cbit =>
      cbit -> (0 until 16).filter(s => ((s >> cbit) & 1) == 0)
        .map(s => w24(Integer.bitCount(s)) * (v(s | (1 << cbit)) - v(s))).sum
    }.toMap
    val shapley = EventOps.shapleyAttribution(all.toDF("user_id", "event_type"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nameBit = Map("view" -> 0, "click" -> 1, "signup" -> 2, "error" -> 3)
    nameBit.foreach { case (ch, bit) =>
      assert(shapley(ch) == phiFromCensus(bit),
        s"$ch: shapleyAttribution ${shapley(ch)} vs census ${phiFromCensus(bit)}")
    }
  }
}
