package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the driver's `events` table (SURVEY.md §2.10,
  * §2.12): JSON property extraction, tumbling/sliding event-time windows,
  * gap-based sessionization, and exact dedup.
  *
  * `events.ts` is nanosecond-precision in parquet and Spark truncates to µs,
  * so every time output is emitted as a formatted string of a `date_trunc`
  * result — identical on both engines.
  */
object EventOps {

  /** Per-type global aggregate (count / sum / avg). */
  def typeAgg(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("event_type"))

  /** JSON extraction from the `props` payload column (`get_json_object` —
    * codegen'd path access, no UDF), aggregated per event type.
    */
  def jsonPropAgg(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))

  /** Tumbling event-time window aggregate using Spark's native `window()`
    * (epoch-aligned, same bucketing as `date_trunc('hour')`).
    */
  def hourlyTumbling(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("wstart"), col("event_type"))

  /** Sliding event-time windows (2h window, 1h slide): each event lands in
    * two buckets. Epoch-aligned like the tumbling case.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))
      .orderBy(col("wstart"), col("event_type"))

  /** Gap-based sessionization (30-min inactivity closes a session): classic
    * lag + cumulative-sum-of-session-starts window pattern — one shuffle on
    * user_id, no state kept on the driver. Output is one row per user with
    * session stats.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    // exact ns arithmetic via ts_ns (see Tables.events) — bit-identical to a
    // ns-precision engine at the gap boundary
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
    val withGap = events
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ns").isNull ||
          col("ts_ns") - col("prev_ns") > gapMinutes * 60L * 1000000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("session_events"))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
        sum(col("session_events")).as("n_events"),
        max(col("session_events")).as("max_session_events"))
      .orderBy(col("user_id"))
  }

  /** Exact event dedup: duplicate a deterministic subset, then
    * `dropDuplicates` on the event key restores exactly-once counts.
    */
  def dedupExact(events: DataFrame): DataFrame =
    events
      .unionByName(events.filter(col("event_id") % 7 === 0))
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Cohort retention: users grouped by their first active day; for each
    * day-offset from that cohort day, how many distinct users were active.
    * Two aggregations co-partitioned on user_id plus one small shuffle on
    * the offset — the standard retention-curve shape at any scale.
    */
  def retention(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("d0"))
    val activeDays = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    activeDays.join(firstDay, Seq("user_id"))
      .groupBy(datediff(col("d"), col("d0")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day_offset"))
  }

  /** Z-score anomaly detection: per event type, flag events whose value sits
    * more than `zThreshold` sample standard deviations from the type mean.
    * Two passes — a tiny per-type stats aggregate broadcast back onto the
    * stream, then one scan scoring every event — the shape that holds at any
    * scale (the stats side is |event_types| rows; the scoring pass is
    * shuffle-free). Max |z| is floor-quantized for the oracle compare.
    */
  def zscoreAnomalies(events: DataFrame, zThreshold: Double = 3.0): DataFrame = {
    val stats = events.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mean"), stddev_samp(col("value")).as("sd"))
    // z is quantized to 4 decimals BEFORE the threshold compare, not just
    // for display: stddev_samp differs at ULP level across engines, and a
    // raw z sitting exactly at the threshold could flip n_anomalies
    // between Spark and the oracle (quantization is monotone, so max of
    // quantized z = quantized max)
    events.join(broadcast(stats), Seq("event_type"))
      .withColumn("z",
        floor(abs(col("value") - col("mean")) / col("sd") * 10000 + 0.5) / 10000)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("z") > zThreshold, 1)).as("n_anomalies"),
        max(col("z")).as("max_z"))
      .orderBy(col("event_type"))
  }

  /** Inter-event arrival-gap statistics per event type — the operational
    * latency profile (is traffic bursty? are heartbeats on schedule?).
    * Gaps are computed per (type, user) with one lag window over the
    * µs timestamp (`ts_ns div 1000`): under the legacy INT64-ns parquet
    * layout this integer division is exactly the ns→µs truncation DuckDB's
    * reader applies (verified empirically); under the current timestamp[us]
    * layout it is lossless (ts_ns is µs-precision ns, see Tables.events).
    * Either way ordering, gaps, and the interpolated percentiles are
    * integer-exact in both engines, and gap magnitudes sit far inside 2^53
    * where the raw epoch values do not. One window shuffle on
    * (type, user), one per-type aggregate.
    */
  def interEventGaps(events: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val us = events.withColumn("ts_us", expr("ts_ns div 1000"))
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    us
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        q4(expr("percentile(gap, 0.5)") / 1e6).as("p50_s"),
        q4(expr("percentile(gap, 0.95)") / 1e6).as("p95_s"),
        max(col("gap")).as("max_gap_us"))
      .orderBy(col("event_type"))
  }

  /** Frequent event-type trigrams — sequence-pattern mining over per-user
    * ordered streams (the "what do users actually do" query). Two leads in
    * ONE window pass over (user, exact-ns order), then a corpus-wide count
    * of (t1,t2,t3) patterns: one shuffle keyed by user_id, one by the
    * trigram. Top-k via TakeOrdered, not a global window.
    */
  def typeTrigrams(events: DataFrame, k: Int = 15): DataFrame = {
    // order on truncated µs + event_id — the exact order DuckDB sees after
    // its parquet ns→µs truncation, so cross-engine sequences agree even
    // when two events share a microsecond
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts_ns div 1000"), col("event_id"))
    events
      .select(col("user_id"), col("event_type").as("t1"),
        lead(col("event_type"), 1).over(w).as("t2"),
        lead(col("event_type"), 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }

  /** Robust anomaly detection via Median Absolute Deviation: per event
    * type, med = median(value), MAD = median(|value − med|), and each event
    * scored with the consistency-scaled robust z = 0.6745·|x − med| / MAD
    * (the estimator of choice when the value stream itself contains the
    * outliers that corrupt mean/stddev). Three passes, each a per-type
    * aggregate of |event_types| rows broadcast back onto the stream —
    * the scoring scan stays shuffle-free at any scale. Exact `percentile`
    * (interpolated, same definition as DuckDB `quantile_cont`) keeps the
    * medians engine-stable; rz is floor-quantized at 4dp BEFORE the
    * threshold compare so an ULP straddle cannot flip the count.
    */
  def madAnomalies(events: DataFrame, rzThreshold: Double = 3.5): DataFrame = {
    val med = events.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val mad = events.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"),
        first(col("med")).as("med"))
    events.join(broadcast(mad), Seq("event_type"))
      .withColumn("rz",
        floor(lit(0.6745) * abs(col("value") - col("med")) / col("mad") * 10000 + 0.5) / 10000)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("rz") > rzThreshold, 1)).as("n_anomalies"),
        max(col("rz")).as("max_rz"),
        floor(first(col("med")) * 10000 + 0.5).divide(10000).as("med_q"),
        floor(first(col("mad")) * 10000 + 0.5).divide(10000).as("mad_q"))
      .orderBy(col("event_type"))
  }

  /** Ordered N-stage funnel (default view → click → purchase): per user, the
    * earliest stage-1 event, then the earliest stage-2 event strictly after
    * it, and so on; output is the per-stage user count (one `n_stageK`
    * column per stage). One aggregation per stage, all co-partitioned on
    * user_id (the natural funnel shuffle key at any scale); ordering uses
    * the exact ns timestamp, so stage comparisons are tie-free across
    * engines.
    */
  def funnel(events: DataFrame,
             stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    // one narrow scan of the source: only funnel-stage events, only the
    // three columns the funnel reads — at 100 TB the stage filter is the
    // pushed-down predicate and everything downstream is per-user-sized
    val narrow = Exec.pin(events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"), col("ts_ns")))
    // each stage frame is read TWICE (the next stage's join + its own
    // count), and stage k's plan nests every earlier stage's — persist each
    // so the chain executes once per stage instead of O(K²) times. Session
    // runners release the pins via Exec.clearPinned.
    val perStage = stages.zipWithIndex.foldLeft(List.empty[DataFrame]) {
      case (acc, (stage, i)) =>
        val evts = narrow.filter(col("event_type") === stage)
          .select(col("user_id"), col("ts_ns"))
        val reached = acc.headOption match {
          case None =>
            evts.groupBy(col("user_id")).agg(min(col("ts_ns")).as(s"t${i + 1}"))
          case Some(prev) =>
            evts.join(prev, Seq("user_id"))
              .filter(col("ts_ns") > col(s"t$i"))
              .groupBy(col("user_id")).agg(min(col("ts_ns")).as(s"t${i + 1}"))
        }
        Exec.pin(reached) :: acc
    }.reverse
    perStage.zipWithIndex
      .map { case (df, i) => df.agg(count(lit(1)).as(s"n_stage${i + 1}")) }
      .reduce(_.crossJoin(_))
  }

  /** First-order Markov transition matrix of the event stream: for each
    * (from_type, to_type) pair of CONSECUTIVE events of the same user, the
    * transition count and the row-normalized probability
    * P(next = to | current = from). One window pass partitioned on user_id
    * (the per-user event order is the ns timestamp, tie-broken on event_id,
    * so the successor is unique on every engine), then one small aggregate
    * over |types|² rows — the user partition is the only real shuffle at
    * any scale. Probabilities are floor-quantized at 4dp for the oracle.
    */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy(col("from_type"))
    counts
      .withColumn("p", floor(col("n") / sum(col("n")).over(wFrom) * 10000 + 0.5) / 10000)
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Top session paths — the clickstream path-mining view ("what do
    * users actually DO in a session"): sessions cut by the same 30-min
    * exact-ns gap rule as [[sessionize]], each session's ordered
    * event-type sequence joined into one path string, then the corpus's
    * most common paths with their session counts. Determinism: the
    * per-session order is (ts_ns, event_id) — unique on every engine —
    * realized as a row-local sort of the collected (ts_ns, event_id,
    * type) structs, so no engine-side collect_list ordering assumption
    * is ever made. Scale shape: one user-keyed window pass, one
    * (user, session) aggregate whose rows are session-length bounded,
    * one path-keyed count — the same exchanges as sessionize plus one
    * vocabulary-of-paths aggregate.
    */
  def sessionPaths(events: DataFrame, gapMinutes: Int = 30,
                   topK: Int = 20): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns"), col("event_id"))
    val sess = events
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ns").isNull ||
          col("ts_ns") - col("prev_ns") > gapMinutes * 60L * 1000000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    sess
      .groupBy(col("user_id"), col("session_id"))
      .agg(expr(
        """array_join(transform(
          |  array_sort(collect_list(struct(ts_ns, event_id, event_type))),
          |  s -> s.event_type), '>')""".stripMargin).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .withColumn("path_len",
        (size(split(col("path"), ">", -1))).cast("long"))
      .select(col("path"), col("path_len"), col("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Stationary distribution of the event-type Markov chain — where the
    * per-user behavior chain settles if it runs forever (the long-run
    * "attention share" per event type), versus the empirical share (the
    * observed mix): a gap between the two is the signature of transient
    * onboarding states or absorbing sinks. Power iteration from uniform
    * over the 4dp-QUANTIZED transition matrix — both engines feed the
    * argmax-stable quantized probabilities the `ev_markov` oracle already
    * proves identical, so the rounds replay bit-for-bit; the chain is
    * |types|² cells (metadata), so each round is one tiny join+agg, and
    * the |types| count is a driver scalar (pageRank's contract). The
    * empirical share is one exact-integer division.
    */
  def markovStationary(events: DataFrame, iters: Int = 3): DataFrame = {
    val trans = Exec.checkpoint(
      markovTransitions(events)
        .select(col("from_type"), col("to_type"), col("p")))
    val states = trans.select(col("from_type").as("state")).distinct()
    val nStates = states.count()
    var pi = states.withColumn("pi", lit(1.0 / nStates))
    var prevPi: DataFrame = null
    for (_ <- 1 to iters) {
      // eager: prior round's frame is dead once this lands
      val next = Exec.checkpoint(trans
        .join(pi.withColumnRenamed("state", "from_type"), Seq("from_type"))
        .groupBy(col("to_type").as("state"))
        .agg(sum(col("p") * col("pi")).as("pi")))
      if (prevPi != null) Exec.unpersistCheckpointed(prevPi)
      prevPi = next
      pi = next
    }
    val share = events.groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("cnt"))
    val total = share.agg(sum(col("cnt")).as("total"))
    pi.join(share, Seq("state")).crossJoin(broadcast(total))
      .select(col("state"),
        (floor(col("pi") * 1000000 + 0.5) / 1000000).as("stationary"),
        (floor(col("cnt").cast("double") / col("total").cast("double")
          * 1000000 + 0.5) / 1000000).as("empirical"),
        ((floor(col("pi") * 1000000 + 0.5) / 1000000)
          - (floor(col("cnt").cast("double") / col("total").cast("double")
            * 1000000 + 0.5) / 1000000)).as("gap"))
      .orderBy(col("state"))
  }

  /** Count-Min sketch over the (user, event_type) activity stream — the
    * constant-memory frequency sketch a streaming pipeline keeps when the
    * key space is too large for exact counts. `depth` salted md5 hash rows
    * × `width` buckets: building the sketch is one pass with a depth-fold
    * row expansion of the NARROW key column, and the only exchange is the
    * (row, bucket) partial-count merge bounded by depth·width rows —
    * sketch size is INDEPENDENT of stream length, the whole point. The
    * output probes the sketch for the exact top-`k` keys and reports
    * estimate vs truth (`overcount` ≥ 0 always — CMS never undercounts;
    * the error column is the collision mass the width bound predicts).
    * Hashing is the engine-portable md5-prefix idiom (first 8 hex chars as
    * an int), so the oracle rebuilds the identical sketch bit for bit.
    */
  def cmsHeavyKeys(events: DataFrame, depth: Int = 4, width: Int = 1024,
                   k: Int = 20): DataFrame = {
    val keyed = events.select(
      concat(col("user_id").cast("string"), lit(":"), col("event_type"))
        .as("key"))
    def bucket = expr(
      s"CAST(conv(substring(md5(concat('cms', CAST(r AS STRING), ':', key)), " +
        s"1, 8), 16, 10) AS BIGINT) % $width")
    val sketch = keyed
      .select(col("key"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", bucket)
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val exact = keyed.groupBy(col("key")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("key")).limit(k)
    exact
      .select(col("key"), col("exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", bucket)
      .join(sketch, Seq("r", "bucket"))
      .groupBy(col("key"), col("exact"))
      .agg(min(col("cnt")).as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("exact"))
      .orderBy(col("exact").desc, col("key"))
  }

  /** HyperLogLog distinct-count estimation — the cardinality twin of
    * [[cmsHeavyKeys]] (CMS answers "how often", HLL answers "how many
    * distinct" in O(m) memory regardless of stream length). Textbook
    * Flajolet m=256: top 8 bits of the portable md5-prefix hash pick the
    * register, ρ = leading-zero rank of the remaining 24 bits (computed
    * portably as `25 - length(bin(w))` — both engines print binary without
    * leading zeros), registers keep max ρ, the harmonic-mean estimate gets
    * the standard small-range linear-counting correction. One narrow
    * (register → max ρ) aggregate per audited column; the whole sketch is
    * ≤256 rows. Output audits the estimate against the exact distinct for
    * four key shapes (low-card, mid-card, pair, high-card — the last
    * saturates every register and exercises the uncorrected path), with
    * the relative error the m=256 theory bounds at ~6.5%.
    */
  def hllDistinct(events: DataFrame): DataFrame = {
    // every literal pinned to DOUBLE: Spark parses bare decimal literals
    // as DECIMAL and DuckDB's decimal division rounds differently — the
    // D suffix / ::DOUBLE on both sides keeps the arithmetic pure IEEE
    val est = expr(
      """CASE WHEN (0.7213D / (1D + 1.079D / 256D)) * 65536D
        |         / (s + (256D - npres)) <= 640D AND npres < 256
        |  THEN 256D * ln(256D / (256D - npres))
        |  ELSE (0.7213D / (1D + 1.079D / 256D)) * 65536D / (s + (256D - npres))
        |END""".stripMargin)
    def one(tag: String, keyCol: Column): DataFrame = {
      val hashed = events.select(keyCol.cast("string").as("key"))
        .withColumn("h", expr(
          "CAST(conv(substring(md5(concat('hll:', key)), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("reg", expr("h div 16777216"))
        .withColumn("w", expr("h % 16777216"))
        .withColumn("rho", expr(
          "CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END"))
      val regs = hashed.groupBy(col("reg")).agg(max(col("rho")).as("mr"))
      val sketch = regs.agg(count(lit(1)).as("npres"),
        sum(expr("pow(2.0, -mr)")).as("s"))
      val exact = events.agg(countDistinct(keyCol).as("n_exact"))
      sketch.crossJoin(exact)
        .withColumn("eq", floor(est * 10000 + 0.5) / 10000)
        .select(lit(tag).as("col_name"), col("n_exact"),
          col("eq").as("hll_est"),
          (floor((col("eq") / col("n_exact") - 1) * 10000 + 0.5) / 10000)
            .as("rel_err"))
    }
    one("event_id", col("event_id"))
      .unionByName(one("event_type", col("event_type")))
      .unionByName(one("user_id", col("user_id")))
      .unionByName(one("user_type_pair",
        concat(col("user_id").cast("string"), lit(":"), col("event_type"))))
      .orderBy(col("col_name"))
  }

  /** DAU/WAU stickiness — the engagement ratio product analytics tracks
    * daily ("of the users active this week, what fraction showed up
    * today"; 1/7 ≈ casual, → 1 = daily habit). Exact counts: DAU is one
    * (day)-keyed distinct, WAU rides the same day-spine range join the
    * window-sketch audits use, and the ratio is ONE division of exact
    * integers. At 100 TB the exact WAU is the expensive leg by design —
    * [[hllRollingDistinct]] is the sketch path that replaces it; this
    * query is the exact twin a pipeline runs on sampled days to audit
    * that sketch.
    */
  def stickiness(events: DataFrame): DataFrame = {
    val daily = Exec.pin(events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
    val dau = daily.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = dau.select(col("day")).as("d")
      .join(daily.as("r"),
        col("r.day") <= col("d.day") &&
          col("r.day") >= date_sub(col("d.day"), 6))
      .groupBy(col("d.day").as("day"))
      .agg(countDistinct(col("r.user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        (floor(col("dau").cast("double") / col("wau").cast("double")
          * 1000000 + 0.5) / 1000000).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Trailing-window distinct users from MERGED DAILY SKETCHES — the
    * sketch-algebra pattern proper: the corpus is scanned ONCE into
    * per-day HLL register rows (≤256 per day), and any trailing window's
    * distinct estimate is then answered by a register-wise max-merge of
    * the daily sketches — W7AU/W30AU over a year of days never rescans
    * the events. That merge-without-rescan is the property that makes
    * sketches the only viable rolling-distinct at 100 TB (exact distinct
    * is not mergeable: day-level exact counts cannot compose into a
    * window count). Scale shape: the raw scan reduces map-side to
    * (day, reg, maxρ); the window merge range-joins the ≤256·|days|
    * register table to the day spine — metadata-sized regardless of event
    * count. The exact trailing distinct rides along as the AUDIT column
    * (it recomputes from raw events per window — the expensive thing the
    * sketch path exists to avoid; at production scale it is a sampled
    * check, here it is the oracle anchor). Estimate formula, register
    * kernel, and linear-counting correction are [[hllDistinct]]'s.
    */
  def hllRollingDistinct(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val est = expr(
      """CASE WHEN (0.7213D / (1D + 1.079D / 256D)) * 65536D
        |         / (s + (256D - npres)) <= 640D AND npres < 256
        |  THEN 256D * ln(256D / (256D - npres))
        |  ELSE (0.7213D / (1D + 1.079D / 256D)) * 65536D / (s + (256D - npres))
        |END""".stripMargin)
    // read by the day spine and the window merge — one raw scan total
    val daily = Exec.pin(events
      .select(to_date(col("ts")).as("day"),
        col("user_id").cast("string").as("key"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat('hll:', key)), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("reg", expr("h div 16777216"))
      .withColumn("w", expr("h % 16777216"))
      .withColumn("rho", expr(
        "CASE WHEN w = 0 THEN 25 ELSE 25 - length(bin(w)) END"))
      .groupBy(col("day"), col("reg")).agg(max(col("rho")).as("mr")))
    val days = daily.select(col("day")).distinct()
    val merged = days.as("d").join(daily.as("r"),
        col("r.day") <= col("d.day") &&
          col("r.day") >= date_sub(col("d.day"), windowDays - 1))
      .groupBy(col("d.day").as("day"), col("r.reg").as("reg"))
      .agg(max(col("r.mr")).as("mr"))
    val sketch = merged.groupBy(col("day"))
      // Σ2^-ρ: every addend is a dyadic ≥ 2^-25 and the total < 2^9, so
      // the sum is EXACT in double under any combine order (same argument
      // as hllDistinct) — no cross-engine summation hazard
      .agg(count(lit(1)).as("npres"), sum(expr("pow(2.0, -mr)")).as("s"))
    val exact = days.as("d").join(
        events.select(to_date(col("ts")).as("kday"), col("user_id")).as("e"),
        col("e.kday") <= col("d.day") &&
          col("e.kday") >= date_sub(col("d.day"), windowDays - 1))
      .groupBy(col("d.day").as("day"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    sketch.join(exact, Seq("day"))
      .withColumn("eq", floor(est * 10000 + 0.5) / 10000)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_exact"), col("eq").as("hll_est"),
        (floor((col("eq") / col("n_exact") - 1) * 10000 + 0.5) / 10000)
          .as("rel_err"))
      .orderBy(col("day"))
  }

  /** Trailing-window latency percentiles from MERGED DAILY HISTOGRAM
    * SKETCHES — the quantile half of the sketch-algebra story
    * [[hllRollingDistinct]] tells for distincts: exact percentiles are
    * not mergeable (day-level p95s cannot compose into a window p95),
    * but bucket-count histograms are (counts add), so the corpus is
    * scanned ONCE into per-(day, unit-bucket) exact counts — ≤ ~600
    * integer rows per day regardless of event volume — and any trailing
    * window's p50/p95/p99 is answered by summing bucket counts across the
    * window's days and walking the cumulative histogram. Everything on
    * the sketch path is exact integer arithmetic (counts, ranks, bucket
    * ids), so cross-engine determinism is structural; the only float op
    * is the `ceil(q·n)` rank, identical IEEE on both sides. The estimate
    * is the bucket's upper edge, so `0 ≤ est − exact ≤ 1` by construction
    * (1 attained exactly when the order statistic sits on a bucket's
    * lower edge) — the `max_err` column audits that bound against the
    * true rank-`ceil(q·n)` order statistic computed from raw events (the
    * expensive per-window rescan the sketch exists to avoid; a sampled
    * check at production scale, the oracle anchor here).
    */
  def histQuantileWindow(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val daily = events
      .select(to_date(col("ts")).as("day"),
        floor(col("value")).cast("long").as("bkt"))
      .groupBy(col("day"), col("bkt")).agg(count(lit(1)).as("c"))
    val days = daily.select(col("day")).distinct()
    val merged = days.as("d").join(daily.as("r"),
        col("r.day") <= col("d.day") &&
          col("r.day") >= date_sub(col("d.day"), windowDays - 1))
      .groupBy(col("d.day").as("day"), col("r.bkt").as("bkt"))
      .agg(sum(col("c")).as("c"))
    val wCum = Window.partitionBy(col("day")).orderBy(col("bkt"))
    val wAll = Window.partitionBy(col("day"))
    val cum = merged
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wAll))
    // upper edge of the first bucket whose cumulative count reaches the
    // discrete rank — min(bkt | cum ≥ ceil(q·tot)) + 1, integer-exact
    def est(q: Double) = min(when(
      col("cum") >= ceil(lit(q) * col("tot")), col("bkt"))) + lit(1L)
    val sketch = cum.groupBy(col("day")).agg(
      max(col("tot")).as("n"),
      est(0.5).cast("double").as("p50_est"),
      est(0.95).cast("double").as("p95_est"),
      est(0.99).cast("double").as("p99_est"))
    // exact audit: the rank-ceil(q·n) order statistic over the window's
    // raw events (deterministic at any rank: same sorted multiset on
    // both engines regardless of tie order)
    val ranked = days.as("d").join(
        events.select(to_date(col("ts")).as("kday"), col("value"),
          col("event_id")).as("e"),
        col("e.kday") <= col("d.day") &&
          col("e.kday") >= date_sub(col("d.day"), windowDays - 1))
      .select(col("d.day").as("day"), col("value"), col("event_id"))
    val wRank = Window.partitionBy(col("day"))
      .orderBy(col("value"), col("event_id"))
    val withRn = ranked
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
    def exactQ(q: Double) =
      max(when(col("rn") === ceil(lit(q) * col("n")), col("value")))
    val exact = withRn.groupBy(col("day")).agg(
      exactQ(0.5).as("p50_exact"),
      exactQ(0.95).as("p95_exact"),
      exactQ(0.99).as("p99_exact"))
    sketch.join(exact, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        col("p50_est"), col("p50_exact"),
        col("p95_est"), col("p95_exact"),
        col("p99_est"), col("p99_exact"),
        greatest(col("p50_est") - col("p50_exact"),
          col("p95_est") - col("p95_exact"),
          col("p99_est") - col("p99_exact")).as("max_err"))
      .orderBy(col("day"))
  }

  /** Trailing-window percentiles for ARBITRARY-DOMAIN DOUBLES from merged
    * daily [[graft.functions.HdrSketch]] sketches — the general answer
    * where [[histQuantileWindow]]'s exact unit buckets only work because
    * `events.value` happens to be bucketable at integer granularity.
    * One corpus scan builds a per-day log-linear bucket sketch via the
    * native `hdr_sketch` TypedImperativeAggregate (map-side partials merge
    * by count addition — merge-order invariant, so 1 partition and 32
    * partitions produce the identical sketch); each trailing window is
    * then answered by summing bucket counts across the window's days —
    * ~10³ integer rows per day regardless of event volume, the same
    * register-merge algebra as [[hllRollingDistinct]] — and walking the
    * cumulative histogram. The estimate is the covering bucket's UPPER
    * edge in fixed-point, so
    *
    *     exact < est  ≤  exact·(1 + 2^−7) + 2^−20
    *
    * by construction; `within_bound` audits that inequality per day
    * against the true rank-`ceil(q·n)` order statistic from raw events
    * (the per-window rescan the sketch exists to avoid — a sampled check
    * at production scale, the oracle anchor here). Every bucket op is
    * integer arithmetic and every float op (fixed-point multiply, the
    * final divisions, the bound comparison) is a single correctly-rounded
    * IEEE op, so cross-engine determinism is structural.
    */
  def quantileSketchWindow(events: DataFrame, windowDays: Int = 7): DataFrame = {
    graft.functions.HdrSketch.register(events.sparkSession)
    val scale = graft.functions.HdrSketch.Scale
    val daily = events
      .select(to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("day"))
      .agg(expr("hdr_sketch(value)").as("sk"))
    val days = daily.select(col("day")).distinct()
    val merged = days.as("d").join(daily.as("r"),
        col("r.day") <= col("d.day") &&
          col("r.day") >= date_sub(col("d.day"), windowDays - 1))
      .select(col("d.day").as("day"), explode(col("r.sk")).as("b"))
      .groupBy(col("day"), col("b.edge").as("edge"))
      .agg(sum(col("b.cnt")).as("c"))
    // width derivable from the edge: the top bit survives truncation
    // (expr form: the Scala shiftleft API only takes literal Int shifts)
    val upper = col("edge") + when(col("edge") < 256L, lit(1L))
      .otherwise(expr(
        "shiftleft(CAST(1 AS BIGINT), length(conv(edge, 10, 2)) - 8)"))
    val wCum = Window.partitionBy(col("day")).orderBy(col("edge"))
    val wAll = Window.partitionBy(col("day"))
    val cum = merged
      .withColumn("upper", upper)
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wAll))
    // upper edge of the first bucket whose cumulative count reaches the
    // discrete rank; uppers are strictly increasing in edge (buckets tile
    // disjointly), so min(upper | cum ≥ rank) IS the covering bucket's
    def est(q: Double) = min(when(
      col("cum") >= ceil(lit(q) * col("tot")), col("upper")))
      .cast("double") / lit(scale.toDouble)
    val sketch = cum.groupBy(col("day")).agg(
      max(col("tot")).as("n"),
      est(0.5).as("p50_est"),
      est(0.95).as("p95_est"),
      est(0.99).as("p99_est"))
    // exact audit: the rank-ceil(q·n) order statistic over raw events
    val ranked = days.as("d").join(
        events.select(to_date(col("ts")).as("kday"), col("value"),
          col("event_id")).as("e"),
        col("e.kday") <= col("d.day") &&
          col("e.kday") >= date_sub(col("d.day"), windowDays - 1))
      .select(col("d.day").as("day"), col("value"), col("event_id"))
    val wRank = Window.partitionBy(col("day"))
      .orderBy(col("value"), col("event_id"))
    val withRn = ranked
      .withColumn("rn", row_number().over(wRank))
      .withColumn("nn", count(lit(1)).over(wAll))
    def exactQ(q: Double) =
      max(when(col("rn") === ceil(lit(q) * col("nn")), col("value")))
    val exact = withRn.groupBy(col("day")).agg(
      exactQ(0.5).as("p50_exact"),
      exactQ(0.95).as("p95_exact"),
      exactQ(0.99).as("p99_exact"))
    def inBound(est: Column, ex: Column): Column =
      est > ex && (est - ex) <= ex / 128.0 + lit(1.0) / lit(scale.toDouble)
    sketch.join(exact, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        col("p50_est"), col("p50_exact"),
        col("p95_est"), col("p95_exact"),
        col("p99_est"), col("p99_exact"),
        (inBound(col("p50_est"), col("p50_exact")) &&
          inBound(col("p95_est"), col("p95_exact")) &&
          inBound(col("p99_est"), col("p99_exact"))).as("within_bound"))
      .orderBy(col("day"))
  }

  /** HDR-sketch quantile ROLLUP — the merge-algebra showcase
    * [[quantileSketchWindow]] does across time, done across a GROUP
    * HIERARCHY: per-event-type sketches are built in one corpus scan, and
    * the corpus-wide quantiles come from MERGING the per-type bucket maps
    * (counts add — the mergeable-summary property), never from a second
    * scan. That is the production pattern: persist per-shard sketches
    * once, answer any ad-hoc rollup (per type, per day, global) from
    * metadata-sized state. Estimates read the covering bucket's upper
    * edge, and the exact order statistic rides along per scope auditing
    * the 2^−7 relative bound, same contract as the window query.
    */
  def quantileSketchRollup(events: DataFrame): DataFrame = {
    graft.functions.HdrSketch.register(events.sparkSession)
    val scale = graft.functions.HdrSketch.Scale
    val byType = Exec.pin(events.groupBy(col("event_type"))
      .agg(expr("hdr_sketch(value)").as("sk"))) // the typed walk AND the global merge read it
    val typed = byType
      .select(col("event_type").as("scope"), explode(col("sk")).as("b"))
      .select(col("scope"), col("b.edge").as("edge"), col("b.cnt").as("c"))
    val global = typed.groupBy(col("edge")).agg(sum(col("c")).as("c"))
      .select(lit("ALL").as("scope"), col("edge"), col("c"))
    val upper = col("edge") + when(col("edge") < 256L, lit(1L))
      .otherwise(expr(
        "shiftleft(CAST(1 AS BIGINT), length(conv(edge, 10, 2)) - 8)"))
    val wCum = Window.partitionBy(col("scope")).orderBy(col("edge"))
    val wAll = Window.partitionBy(col("scope"))
    val cum = typed.unionByName(global)
      .withColumn("upper", upper)
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(wAll))
    def est(q: Double) = min(when(
      col("cum") >= ceil(lit(q) * col("tot")), col("upper")))
      .cast("double") / lit(scale.toDouble)
    val sketch = cum.groupBy(col("scope")).agg(
      max(col("tot")).as("n"),
      est(0.5).as("p50_est"), est(0.95).as("p95_est"), est(0.99).as("p99_est"))
    // exact audit per scope (typed + the ALL scope via a row duplication)
    val rawScoped = events.select(col("event_type").as("scope"),
        col("value"), col("event_id"))
      .unionByName(events.select(lit("ALL").as("scope"),
        col("value"), col("event_id")))
    val wRank = Window.partitionBy(col("scope"))
      .orderBy(col("value"), col("event_id"))
    val withRn = rawScoped
      .withColumn("rn", row_number().over(wRank))
      .withColumn("nn", count(lit(1)).over(wAll))
    def exactQ(q: Double) =
      max(when(col("rn") === ceil(lit(q) * col("nn")), col("value")))
    val exact = withRn.groupBy(col("scope")).agg(
      exactQ(0.5).as("p50_exact"), exactQ(0.95).as("p95_exact"),
      exactQ(0.99).as("p99_exact"))
    def inBound(e: Column, x: Column): Column =
      e > x && (e - x) <= x / 128.0 + lit(1.0) / lit(scale.toDouble)
    sketch.join(exact, Seq("scope"))
      .select(col("scope"), col("n"),
        col("p50_est"), col("p50_exact"),
        col("p95_est"), col("p95_exact"),
        col("p99_est"), col("p99_exact"),
        (inBound(col("p50_est"), col("p50_exact")) &&
          inBound(col("p95_est"), col("p95_exact")) &&
          inBound(col("p99_est"), col("p99_exact"))).as("within_bound"))
      .orderBy(col("scope"))
  }

  /** Funnel time-to-convert — the latency half of the funnel readout
    * ([[funnel]] counts WHO converts; this measures HOW LONG signup →
    * first subsequent purchase takes): per user the first signup and the
    * first strictly-later purchase, Δt in exact microseconds, then the
    * conversion rate and the p50/p90 order statistics of Δt over
    * converted users. Every output is an exact integer (µs longs, rank
    * positions) or one exact division — no float aggregation anywhere.
    * Two user-keyed conditional aggregates; the order statistics read off
    * a DISTRIBUTED exact global rank ([[Exec.globalRank]] — range layout +
    * local rank + broadcast offsets), so the converted-user set never
    * funnels through one unpartitioned window partition (the r12 plan
    * audit's finding). The per-user reduction happens map-side at any
    * event volume.
    */
  def funnelTime(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("us"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us"))).as("t_signup"))
    val conv = events
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("us"))
      .join(perUser.filter(col("t_signup").isNotNull), Seq("user_id"))
      .filter(col("event_type") === "purchase" && col("us") > col("t_signup"))
      .groupBy(col("user_id"), col("t_signup"))
      .agg(min(col("us")).as("t_conv"))
      .withColumn("dt_us", col("t_conv") - col("t_signup"))
    val nSignup = perUser.filter(col("t_signup").isNotNull)
      .agg(count(lit(1)).as("n_signup"))
    val ranked = Exec.globalRank(conv, "rn", col("dt_us"), col("user_id"))
    val n = ranked.agg(count(lit(1)).as("n_converted"))
    ranked.crossJoin(broadcast(n)).crossJoin(broadcast(nSignup))
      .groupBy(col("n_signup"), col("n_converted"))
      .agg(
        max(when(col("rn") === ceil(lit(0.5) * col("n_converted")),
          col("dt_us"))).as("p50_us"),
        max(when(col("rn") === ceil(lit(0.9) * col("n_converted")),
          col("dt_us"))).as("p90_us"),
        min(col("dt_us")).as("min_us"), max(col("dt_us")).as("max_us"))
      .select(col("n_signup"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_signup").cast("double"))
          .as("conversion_rate"),
        col("p50_us"), col("p90_us"), col("min_us"), col("max_us"))
  }

  /** Weekly cohort-retention triangle — the standard product-analytics
    * matrix ([[retention]] collapses to one day-offset curve; this keeps
    * the cohort axis, so cohort-quality drift over time is visible): per
    * signup-week cohort and week offset 0..`maxOffset`, the distinct users
    * still active and the retention fraction against the cohort size. Week
    * indices are exact integer arithmetic on the ns epoch (engine-identical
    * longs, no calendar functions in the key), counts are exact, the
    * fraction is one division. Shape: one user-keyed aggregate for the
    * cohort assignment, one distinct (user, week) reduction, one
    * co-partitioned user join, and a broadcast of the |weeks|-sized cohort
    * dimension — the triangle itself is metadata-sized at any event volume.
    */
  def retentionMatrix(events: DataFrame, maxOffset: Int = 8): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val weeks = events.select(col("user_id"),
      expr("(ts_ns div 86400000000000) div 7").as("wk"))
    // read by the cohort sizes AND the activity join
    val firstWk = Exec.pin(weeks.groupBy(col("user_id")).agg(min(col("wk")).as("w0")))
    val cohorts = firstWk.groupBy(col("w0")).agg(count(lit(1)).as("cohort_size"))
    weeks.distinct()
      .join(firstWk, Seq("user_id"))
      .withColumn("offset", (col("wk") - col("w0")).cast("int"))
      .filter(col("offset") <= maxOffset)
      .groupBy(col("w0"), col("offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(cohorts), Seq("w0"))
      .select(col("w0").as("cohort_week"), col("offset"), col("n_active"),
        col("cohort_size"),
        q4(col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_week"), col("offset"))
  }

  /** Two-proportion A/B conversion test — the experimentation readout:
    * users split into arms by a deterministic id hash (here id parity —
    * the stand-in for the bucketing a real assignment service does),
    * conversion = the user ever makes a HIGH-VALUE purchase (> 150 —
    * the raw any-purchase rate saturates at 100% on this corpus, which
    * would zero the pooled variance), and the arms are compared
    * with the classical pooled two-proportion z statistic
    *   z = (p_A − p_B) / √(p̂(1−p̂)(1/n_A + 1/n_B)).
    * Counts are exact distinct-user integers; every rate is one exact
    * division; z is a fixed IEEE expression over them (sqrt is
    * correctly-rounded on both engines), quantized for display. The
    * |z| > 1.96 flag is the 95% two-sided verdict. One user-keyed
    * aggregate, one 2-row rollup — scan-scale.
    */
  def abTest(events: DataFrame): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase"
          && col("value") > 150, 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val wide = arms.agg(
      max(when(col("arm") === 0, col("n"))).as("n_a"),
      max(when(col("arm") === 0, col("conv"))).as("conv_a"),
      max(when(col("arm") === 1, col("n"))).as("n_b"),
      max(when(col("arm") === 1, col("conv"))).as("conv_b"))
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    wide
      .withColumn("pa", col("conv_a").cast("double") / col("n_a").cast("double"))
      .withColumn("pb", col("conv_b").cast("double") / col("n_b").cast("double"))
      .withColumn("pp",
        (col("conv_a") + col("conv_b")).cast("double")
          / (col("n_a") + col("n_b")).cast("double"))
      // degenerate arms (pooled rate 0 or 1): zero variance, z undefined
      .withColumn("z", when(col("pp") === 0.0 || col("pp") === 1.0, lit(null))
        .otherwise((col("pa") - col("pb"))
          / sqrt(col("pp") * (lit(1.0) - col("pp"))
            * (lit(1.0) / col("n_a").cast("double")
              + lit(1.0) / col("n_b").cast("double")))))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        q6(col("pa")).as("rate_a"), q6(col("pb")).as("rate_b"),
        (floor(col("z") * 10000 + 0.5) / 10000).as("z_stat"),
        (abs(col("z")) > 1.96).as("significant"))
  }

  /** Circadian concentration profile per event type — the hour-of-day
    * activity fingerprint: the 24-bin hour histogram reduced to entropy
    * (nats) and a normalized concentration score (1 − H/ln 24: 0 =
    * perfectly uniform around the clock, 1 = single-hour spike). Bots
    * and batch jobs concentrate; human traffic spreads — this is the
    * cheap first-pass bot screen on an event stream. Exact construction:
    * hour comes from integer µs arithmetic (no timezone/DST library
    * dependence), bin probabilities are exact-integer ratios, and the
    * entropy sum folds the ≤24 sorted bins left-to-right (the chi²
    * sorted-fold doctrine), so both engines produce identical bits
    * before the final quantization. One (type, hour) aggregate — scan
    * scale, metadata output.
    */
  def circadianProfile(events: DataFrame): DataFrame = {
    val hours = events
      .select(col("event_type"),
        expr("CAST((ts_ns div 1000) % 86400000000 div 3600000000 AS INT)")
          .as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("c"))
    val totals = hours.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val terms = hours.join(totals, Seq("event_type"))
      .withColumn("p", col("c").cast("double") / col("n").cast("double"))
      .withColumn("term", -col("p") * log(col("p")))
    terms.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        count(lit(1)).as("active_hours"),
        expr("""aggregate(array_sort(collect_list(struct(hour, term))),
               |  CAST(0 AS DOUBLE), (acc, s) -> acc + s.term)""".stripMargin)
          .as("h"))
      .select(col("event_type"), col("n_events"), col("active_hours"),
        (floor(col("h") * 1000000 + 0.5) / 1000000).as("entropy"),
        // ln(24) pinned as a literal on BOTH engines — libm log(24)
        // could differ in the last ulp between runtimes
        (floor((lit(1.0) - col("h") / lit(3.1780538303479458)) * 1000000 + 0.5)
          / 1000000).as("concentration"))
      .orderBy(col("event_type"))
  }

  /** Rolling-origin forecast backtest — the evaluation harness every
    * forecasting pipeline needs before anyone trusts a model: for each
    * fold day in the evaluation tail, "forecast" it with the
    * seasonal-naive rule (same weekday last week) and the naive rule
    * (yesterday), score both against the actual, and report per-series
    * MAE plus the skill ratio (seasonal beats naive ⟺ skill < 1 — the
    * go/no-go a seasonal model must clear). Folds keep walk-forward
    * discipline: each forecast uses only data strictly before its target
    * day, and a fold counts only when BOTH baselines have their lookback
    * day present (deterministic, engine-mirrorable rule). Exact
    * arithmetic: daily totals are exact centi-unit BIGINTs, absolute
    * errors stay integers, each MAE is one division, the skill ratio one
    * more on already-identical doubles. Scale shape: one (type, day)
    * aggregate, two self-joins on exact (type, day−k) keys — all narrow;
    * the backtest costs two hash joins over the daily frame REGARDLESS of
    * raw event volume.
    */
  def forecastBacktest(events: DataFrame, folds: Int = 7): DataFrame = {
    val daily = Exec.pin(events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vc")).as("cents")))
    val maxDay = daily.agg(max(col("day")).as("dmax"))
    val targets = daily.crossJoin(broadcast(maxDay))
      .filter(col("day") > date_sub(col("dmax"), folds))
    targets.as("t")
      .join(daily.select(col("event_type"), col("day").as("d7"),
          col("cents").as("snaive")).as("s"),
        col("t.event_type") === col("s.event_type")
          && col("s.d7") === date_sub(col("t.day"), 7))
      .join(daily.select(col("event_type"), col("day").as("d1"),
          col("cents").as("naive")).as("n"),
        col("t.event_type") === col("n.event_type")
          && col("n.d1") === date_sub(col("t.day"), 1))
      .select(col("t.event_type").as("event_type"),
        abs(col("t.cents") - col("snaive")).as("es"),
        abs(col("t.cents") - col("naive")).as("en"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_folds"),
        sum(col("es")).as("se"), sum(col("en")).as("ne"))
      .select(col("event_type"), col("n_folds"),
        (col("se").cast("double")
          / (lit(100.0) * col("n_folds").cast("double"))).as("mae_snaive"),
        (col("ne").cast("double")
          / (lit(100.0) * col("n_folds").cast("double"))).as("mae_naive"),
        ((col("se").cast("double")
          / (lit(100.0) * col("n_folds").cast("double")))
          / (col("ne").cast("double")
            / (lit(100.0) * col("n_folds").cast("double"))))
          .as("skill_vs_naive"))
      .orderBy(col("event_type"))
  }

  /** Kaplan–Meier survival curves over user lifetimes — the censoring-
    * correct retention estimator the raw [[retention]] matrix cannot give
    * (a user still active at the observation horizon hasn't churned; a
    * naive churn rate counts them wrong, KM holds them in the at-risk
    * denominator up to their observed duration and never in the death
    * count). Per user: lifetime = last-day − first-day (exact integer
    * epoch days from the ns timestamp); a user counts as CHURNED at that
    * duration when the horizon is ≥ `censorDays` past their last event,
    * otherwise CENSORED at it. Per (first-seen `cohortDays`-bucket,
    * duration): d = churns, at-risk = Σ users with duration ≥ t (one
    * reverse-cumulative window over the per-duration rollup — never the
    * raw users), and
    *
    *   S(t) = Π_{u ≤ t} (1 − d_u / n_u)
    *
    * as exp of the cumulative ln-sum: the cumulative windows walk the SAME
    * dur order on both engines, so every IEEE addition happens in the same
    * sequence and only exp's final ulp needs the 4dp quantizer. A zero
    * term (everyone at the tail churns — only possible at a cohort's
    * maximal duration by construction, but guarded anyway) short-circuits
    * to survival 0 via a cumulative flag instead of ln(0) (Spark log
    * returns NULL on 0, DuckDB raises — the CASE keeps both unevaluated).
    * Scale shape: one user-keyed aggregate, a 1-row horizon broadcast,
    * then everything is |cohorts|·|durations| metadata with partitioned
    * windows.
    */
  def survivalKm(events: DataFrame, censorDays: Int = 7,
                 cohortDays: Int = 30): DataFrame = {
    val users = events
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("f"), max(col("day")).as("l"))
    val horizon = users.agg(max(col("l")).as("e"))
    val byDur = users.crossJoin(broadcast(horizon))
      .select(expr(s"f div $cohortDays").as("cohort"),
        (col("l") - col("f")).as("dur"),
        (col("e") - col("l") >= censorDays).as("churned"))
      .groupBy(col("cohort"), col("dur"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("d_churn"))
    val wRev = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("at_risk", sum(col("n_users")).over(wRev))
      .withColumn("term",
        lit(1.0) - col("d_churn").cast("double") / col("at_risk").cast("double"))
      .withColumn("zs",
        max(when(col("term") <= 0.0, 1).otherwise(0)).over(wCum))
      .withColumn("lnsum",
        sum(when(col("term") > 0.0, log(col("term"))).otherwise(0.0)).over(wCum))
      .select(col("cohort"), col("dur"), col("n_users"), col("d_churn"),
        col("at_risk"),
        when(col("zs") === 1, 0.0)
          .otherwise(floor(exp(col("lnsum")) * 10000 + 0.5) / 10000)
          .as("survival"))
      .orderBy(col("cohort"), col("dur"))
  }

  /** Cohort lifetime-value triangle — the weekly LTV curve marketing and
    * retention teams actually steer by: users grouped by FIRST-SEEN week,
    * each cohort's per-week spend accumulated into a cumulative
    * value-per-user curve (the "triangle": younger cohorts have fewer
    * observed ages; comparing curves at equal age is the point). Exact
    * arithmetic throughout: weeks are integer `days-since-epoch div 7`
    * (no engine weekday-convention dependence), values become exact
    * centi-unit BIGINTs, the cumulative sum runs over integers, and each
    * LTV value is ONE division of exact integers. Scale shape: first-seen
    * is one (user)-keyed aggregate, the cohort join is (user)-keyed, the
    * triangle is |cohorts|·|ages| metadata; nothing wide ever shuffles.
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    // integer weeks since epoch: floor(days/7) on an exact small int —
    // no engine weekday-convention dependence, exact on both sides
    val week = (c: Column) =>
      floor(datediff(c, to_date(lit("1970-01-01"))) / lit(7.0)).cast("long")
    val base = events.select(col("user_id"), to_date(col("ts")).as("day"),
      floor(col("value") * 100 + 0.5).cast("long").as("vc"))
    val firstSeen = base.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"))
      .select(col("user_id"), week(col("d0")).as("cohort_week"))
    val sizes = firstSeen.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    val weekly = base
      .join(firstSeen, Seq("user_id"))
      .withColumn("age_week", week(col("day")) - col("cohort_week"))
      .groupBy(col("cohort_week"), col("age_week"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("vc")).as("week_cents"))
    val wCum = Window.partitionBy(col("cohort_week")).orderBy(col("age_week"))
    weekly
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_cents", sum(col("week_cents")).over(wCum))
      .select(col("cohort_week"), col("age_week"), col("cohort_size"),
        col("n_active"),
        (col("week_cents").cast("double") / 100.0).as("week_value"),
        (col("cum_cents").cast("double")
          / (lit(100.0) * col("cohort_size").cast("double"))).as("cum_ltv"))
      .orderBy(col("cohort_week"), col("age_week"))
  }

  /** Step-function time-weighted average per event type — the correct
    * mean for irregularly-sampled measurements (each value HOLDS until
    * the next observation, so a value that persisted for an hour must
    * weigh 3600× one that persisted a second; the plain mean the naive
    * pipeline computes is biased exactly when sampling is bursty, and
    * `bias` prints that gap). Exact integer arithmetic end to end: the
    * 2dp value becomes centi-units (`floor(v·100+0.5)`, an exact small
    * int), durations are exact µs longs (`ts_ns div 1000` — the pinned
    * cross-engine time doctrine), the weighted sum Σ(vc·Δt) is a BIGINT
    * (≲ 6e3·1e9·|events| — no overflow below ~1e6 events per type-day;
    * larger spans would shard the sum by day first), and each output is
    * ONE division of exact integers. Scale shape: one window sort per
    * event_type (the partition key carries the whole shuffle), then a
    * narrow aggregate — at 100 TB this is the standard sessionize-shaped
    * exchange, no skew beyond the type cardinality itself.
    */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    events
      .select(col("event_type"), col("event_id"),
        expr("ts_ns div 1000").as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dt", col("next_us") - col("us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt")).as("span_us"),
        sum(col("vc") * col("dt")).as("wsum"),
        sum(col("vc")).as("vsum"))
      .select(col("event_type"), col("n_intervals"), col("span_us"),
        (col("wsum").cast("double")
          / (lit(100.0) * col("span_us").cast("double"))).as("twa"),
        (col("vsum").cast("double")
          / (lit(100.0) * col("n_intervals").cast("double"))).as("mean_plain"),
        ((col("wsum").cast("double")
          / (lit(100.0) * col("span_us").cast("double")))
          - (col("vsum").cast("double")
            / (lit(100.0) * col("n_intervals").cast("double")))).as("bias"))
      .orderBy(col("event_type"))
  }

  /** Heavy hitters with BOUNDED scan state — the production shape for a
    * key space that fits nowhere: a Misra–Gries candidate pass (the
    * native `misra_gries` aggregate: ≤ `k` counters per task, one ≤k-entry
    * buffer per partition across the exchange) followed by an exact count
    * restricted to the ≤k candidates. MG guarantees every key with true
    * count > n/(k+1) SURVIVES the summary, so the thresholded output is
    * EXACT and deterministic — the summary's merge-order-dependent lower
    * bounds never reach the result (that determinism is what lets a plain
    * SQL oracle verify a sketch-backed operator). The threshold compare
    * is integer arithmetic (cnt·(k+1) > n): no float boundary to flip.
    * Contrast with `TextOps.heavyHitters`, whose exact groupBy keys an
    * exchange by EVERY distinct key in the corpus.
    */
  def mgHeavyHitters(events: DataFrame, k: Int = 1024): DataFrame = {
    graft.functions.MisraGries.register(events.sparkSession)
    val keyed = Exec.pin(events.select(
      concat(col("user_id").cast("string"), lit(":"), col("event_type"))
        .as("key")))
    val cands = keyed.agg(expr(s"misra_gries(key, $k)").as("mg"))
      .select(explode(col("mg")).as("e"))
      .select(col("e.key").as("key"))
    val total = keyed.agg(count(lit(1)).as("n_total"))
    keyed.join(broadcast(cands), Seq("key"), "left_semi")
      .groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * (k + 1) > col("n_total"))
      .select(col("key"), col("cnt"), col("n_total"),
        (floor(col("cnt").cast("double") / col("n_total") * 10000 + 0.5)
          / 10000).as("share"))
      .orderBy(col("cnt").desc, col("key"))
  }

  /** CUPED variance-reduced A/B readout — the standard experimentation
    * estimator (Deng et al., WSDM'13): each user's post-period metric Y is
    * adjusted by their pre-period covariate X via
    *   Y' = Y − θ·(X − mean(X)),   θ = cov(X, Y) / var(X),
    * which removes the between-user variance X explains and shrinks the
    * confidence interval by the factor (1 − ρ²). Here X = pre-cutoff
    * purchase revenue, Y = post-cutoff purchase revenue, arm = user-id
    * parity (the deterministic-bucketing stand-in, as in [[abTest]]).
    *
    * Exactness doctrine: revenue has cent precision, so X and Y are exact
    * int64 cents; every moment (Σx, Σy, Σxx, Σyy, Σxy) is an exact integer
    * sum — partial-agg order cannot change a bit — and θ, ρ², and the
    * adjusted means are fixed IEEE expressions over those integers,
    * quantized once for display. Moment magnitudes stay ≤ ~1e15 per user²
    * at the tested SFs (< 2⁵³, so the long→double casts are exact); a
    * corpus with larger per-user revenue would move the moments to
    * DECIMAL(38,0) (the [[graft.ops.TimeSeriesOps.stlDecompose]] pattern).
    *
    * Scale shape: one user-keyed aggregate (map-side combined), one 1-row
    * global moment rollup, one 2-row arm rollup joined by broadcast —
    * scan-scale at any corpus size.
    */
  def cupedAbTest(events: DataFrame): DataFrame = {
    val cutoffNs = 1705363200L * 1000000000L // 2024-01-16T00:00Z, mid-window
    // read twice (global moments + per-arm); see Exec.clearPinned
    val users = Exec.pin(events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
        col("ts_ns"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts_ns") < cutoffNs, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("ts_ns") >= cutoffNs, col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("int")))
    val moments = users.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("an"),
        sum(col("x")).as("ax"), sum(col("y")).as("ay"))
    val wide = arms.agg(
      max(when(col("arm") === 0, col("an"))).as("n_a"),
      max(when(col("arm") === 0, col("ax"))).as("sx_a"),
      max(when(col("arm") === 0, col("ay"))).as("sy_a"),
      max(when(col("arm") === 1, col("an"))).as("n_b"),
      max(when(col("arm") === 1, col("ax"))).as("sx_b"),
      max(when(col("arm") === 1, col("ay"))).as("sy_b"))
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val d = (c: Column) => c.cast("double")
    // cross-moment products can exceed int64 at large SFs (sx·sy ~ (n·x̄)²):
    // form them in DECIMAL(38,0) — exact, mirroring DuckDB's HUGEINT — and
    // round to double once (IEEE nearest of an exact integer, same bits on
    // both engines)
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    wide.crossJoin(broadcast(moments))
      // population (biased) moments; the 1/n² factors cancel in θ and ρ²
      .withColumn("cov_num",
        (d38(col("n")) * d38(col("sxy")) - d38(col("sx")) * d38(col("sy")))
          .cast("double"))
      .withColumn("varx_num",
        (d38(col("n")) * d38(col("sxx")) - d38(col("sx")) * d38(col("sx")))
          .cast("double"))
      .withColumn("vary_num",
        (d38(col("n")) * d38(col("syy")) - d38(col("sy")) * d38(col("sy")))
          .cast("double"))
      .withColumn("theta",
        when(col("varx_num") === 0.0, lit(null))
          .otherwise(col("cov_num") / col("varx_num")))
      .withColumn("rho2",
        when(col("varx_num") === 0.0 || col("vary_num") === 0.0, lit(null))
          .otherwise(col("cov_num") * col("cov_num")
            / (col("varx_num") * col("vary_num"))))
      .withColumn("mx", d(col("sx")) / d(col("n")) / 100.0)
      .withColumn("my_a", d(col("sy_a")) / d(col("n_a")) / 100.0)
      .withColumn("my_b", d(col("sy_b")) / d(col("n_b")) / 100.0)
      .withColumn("mx_a", d(col("sx_a")) / d(col("n_a")) / 100.0)
      .withColumn("mx_b", d(col("sx_b")) / d(col("n_b")) / 100.0)
      .withColumn("adj_a", col("my_a") - col("theta") * (col("mx_a") - col("mx")))
      .withColumn("adj_b", col("my_b") - col("theta") * (col("mx_b") - col("mx")))
      .select(col("n_a"), col("n_b"),
        q6(col("theta")).as("theta"),
        q6(col("rho2")).as("rho2"),
        q6(col("my_a")).as("mean_y_a"), q6(col("my_b")).as("mean_y_b"),
        q6(col("adj_a")).as("adj_mean_a"), q6(col("adj_b")).as("adj_mean_b"),
        q6(col("my_a") - col("my_b")).as("lift_raw"),
        q6(col("adj_a") - col("adj_b")).as("lift_cuped"))
  }

  /** Segment-wise uplift (heterogeneous treatment effect, T-learner
    * readout) — [[abTest]] answers "did it work on average"; this answers
    * "for WHOM": users are split into segments orthogonal to the arm
    * (segment = (user_id div 2) mod k — the div strips the arm bit, so
    * under uniform ids segment ⟂ arm by construction), and each segment
    * gets its own treat-vs-control conversion contrast with the UNPOOLED
    * two-proportion z (pooling is wrong per-segment when the question is
    * effect heterogeneity). One conversion aggregate per user, one
    * (segment, arm) rollup — both map-side-combinable; the wide pivot is a
    * k-row conditional-max. All rates quantize via floor-1e6 before
    * emission (cross-engine tie discipline).
    */
  def upliftBySegment(events: DataFrame, kSegments: Int = 3): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase"
          && col("value") > 150, 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
      .withColumn("segment",
        expr(s"CAST((user_id DIV 2) % $kSegments AS INT)"))
    val cells = users.groupBy(col("segment"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val d = (c: Column) => c.cast("double")
    cells.groupBy(col("segment"))
      .agg(max(when(col("arm") === 0, col("n"))).as("n_c"),
        max(when(col("arm") === 0, col("conv"))).as("conv_c"),
        max(when(col("arm") === 1, col("n"))).as("n_t"),
        max(when(col("arm") === 1, col("conv"))).as("conv_t"))
      .withColumn("p_c", d(col("conv_c")) / d(col("n_c")))
      .withColumn("p_t", d(col("conv_t")) / d(col("n_t")))
      .withColumn("se", sqrt(
        col("p_t") * (lit(1.0) - col("p_t")) / d(col("n_t"))
          + col("p_c") * (lit(1.0) - col("p_c")) / d(col("n_c"))))
      // a degenerate segment (all-converted or none in BOTH arms) has zero
      // standard error; its z is undefined, not infinite
      .withColumn("z", when(col("se") === 0.0, lit(null))
        .otherwise((col("p_t") - col("p_c")) / col("se")))
      .select(col("segment"), col("n_t"), col("conv_t"), col("n_c"),
        col("conv_c"),
        q6(col("p_t")).as("rate_t"), q6(col("p_c")).as("rate_c"),
        q6(col("p_t") - col("p_c")).as("uplift"),
        (floor(col("z") * 10000 + 0.5) / 10000).as("z_stat"))
      .orderBy(col("segment"))
  }

  /** Daily sample-ratio-mismatch (SRM) audit — the assignment-health check
    * every experimentation platform runs before trusting a readout: under a
    * 50/50 split the cumulative arm counts should follow Binomial(n, ½), and
    *   χ² = (n_a − n/2)²/(n/2) + (n_b − n/2)²/(n/2)
    * with 1 d.o.f. flags a broken bucketing pipeline (χ² > 3.841 ⇒ p < .05).
    * Emitted per day over first-exposure (first-event) user counts, so a
    * mismatch is localized to the day it appeared rather than only detected
    * at the end. Counts are exact integers from one user-keyed min-day
    * aggregate + a 30-row cumulative window; χ² is one fixed IEEE expression
    * per row. Scan-scale at any corpus size.
    */
  def srmDaily(events: DataFrame): DataFrame = {
    val firstDay = events
      .groupBy(col("user_id"))
      .agg(min(expr("CAST(ts_ns div 86400000000000 AS INT)")).as("day0"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    val daily = firstDay.groupBy(col("day0"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("d_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("d_b"))
    // bounded: day-spine frame — one row per calendar day, never corpus-sized
    val w = Window.orderBy(col("day0"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_a", sum(col("d_a")).over(w))
      .withColumn("n_b", sum(col("d_b")).over(w))
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("chi2",
        (col("n_a") - col("n_b")).cast("double")
          * (col("n_a") - col("n_b")).cast("double")
          / col("n").cast("double"))
      .select(col("day0"), col("n_a"), col("n_b"),
        (floor(col("chi2") * 10000 + 0.5) / 10000).as("chi2"),
        (col("chi2") > 3.841).as("srm_flag"))
      .orderBy(col("day0"))
  }

  /** Sequential A/B monitor — the daily peeking readout: cumulative
    * first-exposure users and cumulative converted users per arm as of each
    * day, with the pooled two-proportion z recomputed on every row (the
    * quantity a dashboard plots while an experiment runs; crossing day =
    * where a *sequential* procedure would stop). Conversion = the user's
    * first high-value purchase (> 150, as in [[abTest]]) on or before the
    * day. Exact construction: per-user (first-event day, first-conversion
    * day) from one aggregate; per-day cumulative counts from two 30-row
    * windows; z is the same fixed expression as [[abTest]] evaluated per
    * row. One user-keyed aggregate + day-grain windows — scan-scale.
    */
  def sequentialAb(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("user_id"),
        expr("CAST(ts_ns div 86400000000000 AS INT)").as("day"),
        col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("exp_day"),
        min(when(col("event_type") === "purchase" && col("value") > 150,
          col("day"))).as("conv_day"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    // day spine = every day with ANY event, so conversions landing on a day
    // with no first exposure still advance the cumulative counters
    val spine = events
      .select(expr("CAST(ts_ns div 86400000000000 AS INT)").as("day"))
      .distinct()
    val exposures = perUser.groupBy(col("exp_day").as("day"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("e_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("e_b"))
    val convs = perUser.filter(col("conv_day").isNotNull)
      .groupBy(col("conv_day").as("day"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c_b"))
    // bounded: day-spine frame — one row per calendar day, never corpus-sized
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = (c: Column) => c.cast("double")
    spine
      .join(exposures, Seq("day"), "left")
      .join(convs, Seq("day"), "left")
      .na.fill(0L, Seq("e_a", "e_b", "c_a", "c_b"))
      .withColumn("n_a", sum(col("e_a")).over(w))
      .withColumn("n_b", sum(col("e_b")).over(w))
      .withColumn("conv_a", sum(col("c_a")).over(w))
      .withColumn("conv_b", sum(col("c_b")).over(w))
      .withColumn("pa", d(col("conv_a")) / d(col("n_a")))
      .withColumn("pb", d(col("conv_b")) / d(col("n_b")))
      .withColumn("pp",
        d(col("conv_a") + col("conv_b")) / d(col("n_a") + col("n_b")))
      .withColumn("z",
        when(col("n_a") === 0 || col("n_b") === 0
            || col("pp") === 0.0 || col("pp") === 1.0, lit(null))
          .otherwise((col("pa") - col("pb"))
            / sqrt(col("pp") * (lit(1.0) - col("pp"))
              * (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b"))))))
      .select(col("day"), col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        (floor(col("z") * 10000 + 0.5) / 10000).as("z_stat"),
        (abs(col("z")) > 1.96).as("significant"))
      .orderBy(col("day"))
  }

  /** Experiment power analysis per event type — the PLANNING readout run
    * before an A/B test ships: from the observed per-user metric variance,
    * the users-per-arm needed to detect a `relMde` relative lift,
    *   n = ⌈2·σ²·(z_{α/2}+z_β)² / δ²⌉,  δ = relMde·mean,
    * at α = 0.05 two-sided with 80% power. Exactness doctrine: per-user
    * metrics are exact int64 cents; σ² comes from the exact integer
    * moment numerator n·Σm² − (Σm)² (formed in DECIMAL(38,0) ↔ DuckDB
    * HUGEINT — the cross products exceed int64 at large SFs); the z-sum
    * 2.801585 is ONE pinned literal squared in IEEE on both engines (the
    * decimal-literal-arithmetic trap: summing the two z constants as
    * literals would be exact decimal in DuckDB but rounded double in
    * Scala). One (type, user) aggregate + one |types|-row rollup.
    */
  def powerAnalysis(events: DataFrame, relMde: Double = 0.05): DataFrame = {
    val perUser = events
      .select(col("event_type"), col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("cents")).as("m"))
    val q4 = (c: Column) => floor(c * 10000 + 0.5) / 10000
    val d = (c: Column) => c.cast("double")
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val zsum = lit(2.801585) * lit(2.801585) // (1.959964 + 0.841621)²
    perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("m")).as("s"),
        sum(col("m") * col("m")).as("ss"))
      .withColumn("var_num",
        (d38(col("n_users")) * d38(col("ss")) - d38(col("s")) * d38(col("s")))
          .cast("double"))
      .withColumn("mean", d(col("s")) / d(col("n_users")) / 100.0)
      // population σ² in dollars²: var_num / n² / 100²
      .withColumn("variance",
        col("var_num") / (d(col("n_users")) * d(col("n_users"))) / 10000.0)
      .withColumn("mde_abs", col("mean") * relMde)
      .withColumn("n_required",
        when(col("mde_abs") === 0.0, lit(null))
          .otherwise(ceil(lit(2.0) * col("variance") * zsum
            / (col("mde_abs") * col("mde_abs")))))
      .select(col("event_type"), col("n_users"),
        q4(col("mean")).as("mean"), q4(col("variance")).as("variance"),
        q4(col("mde_abs")).as("mde_abs"), col("n_required"))
      .orderBy(col("event_type"))
  }

  /** Difference-in-differences over the pre/post cutoff × arm 2×2 — the
    * quasi-experimental estimator for rollouts without clean randomization:
    * each user's Δ = post − pre revenue nets out their level, and
    *   DiD = mean(Δ | arm 1) − mean(Δ | arm 0)
    * removes the common time trend; the parallel-trends assumption is what
    * remains. SE uses the per-arm SAMPLE variance of Δ
    * (s² = (nΣΔ²−(ΣΔ)²)/(n(n−1))), z = DiD/SE — the standard two-sample
    * unequal-variance test on deltas. Every moment is an exact integer
    * (cents; cross products in DECIMAL(38,0) ↔ HUGEINT); DiD/SE/z are
    * fixed IEEE expressions, quantized once. One user-keyed aggregate +
    * one 2-row rollup — scan-scale.
    */
  def diffInDiff(events: DataFrame): DataFrame = {
    val cutoffNs = 1705363200L * 1000000000L // 2024-01-16T00:00Z, as in CUPED
    val users = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
        col("ts_ns"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts_ns") < cutoffNs, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("ts_ns") >= cutoffNs, col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
      .withColumn("dlt", col("y") - col("x"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("dlt")).as("sd"), sum(col("dlt") * col("dlt")).as("sdd"))
    val wide = arms.agg(
      max(when(col("arm") === 0, col("n"))).as("n_a"),
      max(when(col("arm") === 0, col("sx"))).as("sx_a"),
      max(when(col("arm") === 0, col("sy"))).as("sy_a"),
      max(when(col("arm") === 0, col("sd"))).as("sd_a"),
      max(when(col("arm") === 0, col("sdd"))).as("sdd_a"),
      max(when(col("arm") === 1, col("n"))).as("n_b"),
      max(when(col("arm") === 1, col("sx"))).as("sx_b"),
      max(when(col("arm") === 1, col("sy"))).as("sy_b"),
      max(when(col("arm") === 1, col("sd"))).as("sd_b"),
      max(when(col("arm") === 1, col("sdd"))).as("sdd_b"))
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val d = (c: Column) => c.cast("double")
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    def sampleVar(n: Column, sd: Column, sdd: Column): Column =
      when(n <= 1, lit(null)).otherwise(
        (d38(n) * d38(sdd) - d38(sd) * d38(sd)).cast("double")
          / (d(n) * d(n - 1)) / 10000.0)
    wide
      .withColumn("m_pre_a", d(col("sx_a")) / d(col("n_a")) / 100.0)
      .withColumn("m_post_a", d(col("sy_a")) / d(col("n_a")) / 100.0)
      .withColumn("m_pre_b", d(col("sx_b")) / d(col("n_b")) / 100.0)
      .withColumn("m_post_b", d(col("sy_b")) / d(col("n_b")) / 100.0)
      .withColumn("did",
        d(col("sd_b")) / d(col("n_b")) / 100.0
          - d(col("sd_a")) / d(col("n_a")) / 100.0)
      .withColumn("va", sampleVar(col("n_a"), col("sd_a"), col("sdd_a")))
      .withColumn("vb", sampleVar(col("n_b"), col("sd_b"), col("sdd_b")))
      .withColumn("se",
        sqrt(col("va") / d(col("n_a")) + col("vb") / d(col("n_b"))))
      .withColumn("z",
        when(col("se") === 0.0, lit(null)).otherwise(col("did") / col("se")))
      .select(col("n_a"), col("n_b"),
        q6(col("m_pre_a")).as("mean_pre_a"), q6(col("m_post_a")).as("mean_post_a"),
        q6(col("m_pre_b")).as("mean_pre_b"), q6(col("m_post_b")).as("mean_post_b"),
        q6(col("did")).as("did"), q6(col("se")).as("se"),
        q6(col("z")).as("z_stat"), (abs(col("z")) > 1.96).as("significant"))
  }

  /** Association rules over per-user event-type baskets — the market-basket
    * classic (support / confidence / lift) on behavioral data: for every
    * ORDERED type pair a→b, how often users who do a also do b, and
    * whether that beats independence (lift > 1). All counts are exact
    * distinct-user integers from ONE basket aggregate + a self-join on
    * user (narrow key+type rows); the three ratios are single divisions.
    * At 100 TB the basket frame is |users|·|types| ≤ small and the pair
    * join shuffles only (user, type) pairs.
    */
  def assocRules(events: DataFrame): DataFrame = {
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    val baskets = events.select(col("user_id"), col("event_type")).distinct()
    val nUsers = baskets.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val typeCounts = baskets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
    val pairCounts = baskets.as("x").join(baskets.as("y"),
        col("x.user_id") === col("y.user_id")
          && col("x.event_type") =!= col("y.event_type"))
      .groupBy(col("x.event_type").as("antecedent"),
        col("y.event_type").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
    pairCounts
      .join(broadcast(typeCounts.select(col("event_type").as("antecedent"),
        col("n_type").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(typeCounts.select(col("event_type").as("consequent"),
        col("n_type").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(nUsers))
      .select(col("antecedent"), col("consequent"),
        col("n_ante"), col("n_cons"), col("n_both"), col("n_users"),
        q6(col("n_both").cast("double") / col("n_users").cast("double"))
          .as("support"),
        q6(col("n_both").cast("double") / col("n_ante").cast("double"))
          .as("confidence"),
        q6(col("n_both").cast("double") * col("n_users").cast("double")
          / (col("n_ante").cast("double") * col("n_cons").cast("double")))
          .as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** Inverse-propensity-weighted (IPW, Hájek form) treatment-effect
    * estimate under stratum-confounded assignment — the observational
    * companion to [[abTest]]/[[cuped]]: when treatment probability varies
    * by stratum AND the stratum drives the outcome, the naive
    * treated-vs-control difference is biased; weighting each arm by the
    * in-sample inverse propensity n(s)/nt(s) removes exactly that bias.
    * With estimated propensities the Hájek denominator collapses to N, so
    *
    *   m̂₁ = (1/N)·Σ_s Sy₁(s)·n(s)/nt(s),   m̂₀ analog with n−nt,
    *
    * where every per-stratum term is ONE division of exact cent longs and
    * the ≤|strata| terms fold in SORTED stratum order inside a collected
    * array (deterministic double summation — never a data-order
    * aggregate). Strata with an EMPTY ARM (a positivity violation — no
    * propensity is estimable there) are EXCLUDED from both estimates and
    * surfaced in `n_bad_strata` instead: exclusion is the only behavior
    * both engines can state identically (a null term would be propagated
    * by one engine's fold and skipped by the other's list_sum). Expects
    * `(user_id, stratum, treated, cents)`; [[ipwFromEvents]] derives that
    * frame from the event stream with an md5-uniform assignment whose
    * threshold rises with the stratum (the confounding).
    */
  def ipwEffect(users: DataFrame): DataFrame = {
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    val stAll = users.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("treated"), col("cents")).otherwise(0L)).as("sy1"),
        sum(when(!col("treated"), col("cents")).otherwise(0L)).as("sy0"))
    val st = stAll.filter(col("nt") > 0 && col("nt") < col("n"))
    val bad = stAll.filter(col("nt") === 0 || col("nt") === col("n"))
      .agg(count(lit(1)).as("n_bad_strata"))
    st.agg(sort_array(collect_list(struct(col("stratum"), col("n"),
        col("nt"), col("sy1"), col("sy0")))).as("a"))
      .crossJoin(broadcast(bad))
      .select(
        expr("aggregate(a, 0L, (acc, x) -> acc + x.n)").as("n_users"),
        expr("aggregate(a, 0L, (acc, x) -> acc + x.nt)").as("n_treat"),
        expr("aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc " +
          "+ CAST(x.sy1 AS DOUBLE) * x.n / x.nt)").as("w1"),
        expr("aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc " +
          "+ CAST(x.sy0 AS DOUBLE) * x.n / (x.n - x.nt))").as("w0"),
        expr("aggregate(a, 0L, (acc, x) -> acc + x.sy1)").as("t1"),
        expr("aggregate(a, 0L, (acc, x) -> acc + x.sy0)").as("t0"),
        col("n_bad_strata"))
      .select(col("n_users"), col("n_treat"), col("n_bad_strata"),
        q6((col("t1").cast("double") / col("n_treat").cast("double")
          - col("t0").cast("double")
            / (col("n_users") - col("n_treat")).cast("double")) / 100.0)
          .as("naive_diff"),
        q6((col("w1") / col("n_users").cast("double")
          - col("w0") / col("n_users").cast("double")) / 100.0)
          .as("ipw_diff"))
  }

  /** Events → IPW frame: per-user outcome = total value cents, stratum =
    * user_id mod 4, treatment = md5-uniform draw under a threshold that
    * RISES with the stratum (2000 + 1500·s out of 10000) — deliberately
    * confounded assignment that any engine reproduces bit-exactly.
    */
  def ipwFromEvents(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("stratum", (col("user_id") % 4).cast("int"))
      .withColumn("hv", expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000"))
      .withColumn("treated", col("hv") < lit(2000) + col("stratum") * 1500)
      .select(col("user_id"), col("stratum"), col("treated"), col("cents"))

  /** KMV (k-minimum-values) audience-overlap sketch with accuracy audit:
    * estimated vs exact Jaccard of the user sets behind every event-type
    * pair. Per type, the sketch is the k smallest md5-derived user hashes;
    * the pair estimate is the standard KMV combinator — of the k smallest
    * hashes in the MERGED sketch, the fraction present in both sides. The
    * exact pass (distinct-user self-join) exists to grade the sketch, the
    * production shape at 100 TB is sketch-only: per-type state is k longs
    * (mergeable, register-style — the HLL posture), the raw user sets
    * never co-shuffle. Hashes are md5-prefix longs both engines derive
    * identically; everything else is exact integer counts until the two
    * final divisions.
    */
  def audienceOverlap(events: DataFrame, k: Int = 32): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val du = events.select(col("event_type"), col("user_id")).distinct()
    // KMV ranks DISTINCT hash values (two users sharing a 32-bit prefix
    // must contribute ONE sketch entry, or the membership joins
    // double-count), so dedupe (type, h) before the k-min window
    val uh = du.withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      .select(col("event_type"), col("h")).distinct()
    val wT = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sk = uh.withColumn("rn", row_number().over(wT)).filter(col("rn") <= k)
      .select(col("event_type"), col("h"))
    val types = sk.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("ta"))
      .join(types.select(col("event_type").as("tb")), col("ta") < col("tb"))
    val unionK = pairs
      .join(broadcast(sk).withColumnRenamed("event_type", "t"),
        col("t") === col("ta") || col("t") === col("tb"))
      .select(col("ta"), col("tb"), col("h")).distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .select(col("ta"), col("tb"), col("h"))
    // denominator = |k-min(union)| (≤ k when the union itself is small) —
    // the textbook KMV combinator, exact even on tiny sets
    val kUnion = unionK.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_union_k"))
    val nBoth = unionK
      .join(broadcast(sk.select(col("event_type").as("ta"), col("h"))),
        Seq("ta", "h"), "left_semi")
      .join(broadcast(sk.select(col("event_type").as("tb"), col("h"))),
        Seq("tb", "h"), "left_semi")
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_both"))
    val inter = du.as("a").join(du.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("n_inter"))
    val cnts = du.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(cnts.select(col("event_type").as("ta"), col("n").as("n_a"))), Seq("ta"))
      .join(broadcast(cnts.select(col("event_type").as("tb"), col("n").as("n_b"))), Seq("tb"))
      .join(inter, Seq("ta", "tb"), "left")
      .join(nBoth, Seq("ta", "tb"), "left")
      .join(kUnion, Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        q4(coalesce(col("n_inter"), lit(0L)).cast("double")
          / (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))))
          .as("jaccard_exact"),
        q4(coalesce(col("n_both"), lit(0L)).cast("double")
          / col("n_union_k").cast("double")).as("kmv_est"))
      .withColumn("abs_err",
        q4(abs(col("jaccard_exact") - col("kmv_est"))))
      .orderBy(col("ta"), col("tb"))
  }

  /** Deterministic cluster-bootstrap confidence interval for per-user total
    * event value, by event type — the nonparametric CI an experimentation
    * stack reports when the metric distribution is skewed. Users (the
    * correlated sampling unit) are resampled, not events:
    *
    *   1. per-(type, user) exact-cent totals — the ONLY full scan;
    *   2. B Poisson(1) bootstrap replicates: user u's weight in replicate b
    *      comes from the LCG draw h = ((u mod 1000003)·2654435761 + b·40503)
    *      mod 1e6 mapped through the Poisson(1) CDF thresholds (367879,
    *      735759, 919699, 981012 → w ∈ 0..4) — pure 64-bit integer
    *      arithmetic that any engine reproduces bit-exactly, unlike
    *      engine-native RNG. The prime pre-reduction bounds the product at
    *      ~2.7e15 ≪ 2⁶³, so the draw is wrap-free for ANY id domain (the
    *      raw multiply wraps int64 in Spark for u > ~3.4e9 while DuckDB
    *      raises — a silent cross-engine divergence at large id domains);
    *   3. replicate mean = Σw·cents / Σw (exact longs, ONE division);
    *   4. the CI is the [⌈0.025·B⌉, B+1−⌈0.025·B⌉] order statistics of the
    *      B replicate means, tie-broken by replicate id.
    *
    * Scale shape: the bootstrap explodes the |types|×|users| AGGREGATE
    * frame (never raw events) by B, so cost is B·|users| rows regardless
    * of event volume; the rank pass partitions by type over B rows each.
    */
  def bootstrapCI(events: DataFrame, b: Int = 200): DataFrame = {
    val kLo = math.ceil(0.025 * b).toInt
    val kHi = b + 1 - kLo
    val perUser = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val reps = perUser
      .select(col("event_type"), col("user_id"), col("cents"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      .withColumn("h",
        ((col("user_id") % lit(1000003L)) * lit(2654435761L)
          + col("rep") * lit(40503L)) % 1000000L)
      .withColumn("w",
        when(col("h") < 367879L, 0L).when(col("h") < 735759L, 1L)
          .when(col("h") < 919699L, 2L).when(col("h") < 981012L, 3L)
          .otherwise(4L))
      .groupBy(col("event_type"), col("rep"))
      .agg(sum(col("w") * col("cents")).as("wc"), sum(col("w")).as("wn"))
      // an all-zero-weight replicate has no mean: DROP it on both engines
      // (a null would rank NULLS FIRST here but NULLS LAST in DuckDB,
      // shifting the order statistics by one)
      .filter(col("wn") > 0)
      .select(col("event_type"), col("rep"),
        (col("wc").cast("double") / col("wn").cast("double")
          / 100.0).as("rep_mean"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("rep_mean"), col("rep"))
    val ranked = reps.withColumn("r", row_number().over(w))
    val point = perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        (sum(col("cents")).cast("double")
          / count(lit(1)).cast("double") / 100.0).as("mean_val"))
    val ci = ranked.filter(col("r").isin(kLo, kHi))
      .groupBy(col("event_type"))
      .agg(max(when(col("r") === kLo, col("rep_mean"))).as("ci_lo"),
        max(when(col("r") === kHi, col("rep_mean"))).as("ci_hi"))
    point
      .join(ci, Seq("event_type"))
      .select(col("event_type"), col("n_users"),
        (floor(col("mean_val") * 1000000 + 0.5) / 1000000).as("mean_val"),
        (floor(col("ci_lo") * 1000000 + 0.5) / 1000000).as("ci_lo"),
        (floor(col("ci_hi") * 1000000 + 0.5) / 1000000).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  /** Coarsened Exact Matching ATT — the matching member of the causal
    * family ([[ipwEffect]] reweights, CUPED adjusts, DiD differences; CEM
    * MATCHES): users are coarsened into activity bins, bins lacking either
    * arm are DROPPED (the pruning that distinguishes matching from
    * reweighting — off-support treated units are reported, not
    * extrapolated), and the ATT is the treated-weighted within-bin
    * difference of means. Every sufficient statistic is an exact integer
    * (counts + cent-scaled outcome sums); the per-bin term
    * (sy_t·n_c − n_t·sy_c)/n_c is one division, and the cross-bin
    * combination runs as an ORDERED sequential fold over the bin-sorted
    * struct list (both engines sum the identical IEEE sequence — the
    * kalman/STL doctrine, no engine-order double sums). The naive
    * unmatched difference rides along so the selection-bias correction is
    * visible in one row.
    *
    * Scale shape: one groupBy collapses the log to per-user rows (the only
    * data-sized exchange), one to bin grain; the fold runs over the
    * bin-cardinality list — metadata, not data.
    */
  def cemAtt(ev: DataFrame, binWidth: Int = 5): DataFrame = {
    val users = ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_events"),
      // signup-heavy vs error-heavy users: a data-driven ~50/50 split that
      // is genuinely confounded with activity (an any-signup flag is
      // degenerate here — every fixture user signs up at least once)
      (sum(when(col("event_type") === "signup", 1).otherwise(0))
        > sum(when(col("event_type") === "error", 1).otherwise(0)))
        .cast("int").as("treated"),
      sum(when(col("event_type") === "purchase",
        floor(col("value") * 100 + 0.5).cast("long")).otherwise(0L))
        .as("y_cents"))
    val byBin = users
      .withColumn("bin", expr(s"n_events div $binWidth"))
      .groupBy(col("bin")).agg(
        sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treated") === 1, col("y_cents")).otherwise(0L))
          .as("sy_t"),
        sum(when(col("treated") === 0, col("y_cents")).otherwise(0L))
          .as("sy_c"))
    val matched = byBin.filter(col("n_t") > 0 && col("n_c") > 0).agg(
      sum(col("n_t")).as("n_treated_matched"),
      sum(col("n_c")).as("n_control_matched"),
      count(lit(1)).as("n_bins_matched"),
      expr("""aggregate(
        |  array_sort(collect_list(struct(bin, n_t, n_c, sy_t, sy_c))),
        |  CAST(0.0 AS DOUBLE),
        |  (acc, x) -> acc
        |    + (CAST(x.sy_t AS DOUBLE) * CAST(x.n_c AS DOUBLE)
        |       - CAST(x.n_t AS DOUBLE) * CAST(x.sy_c AS DOUBLE))
        |      / CAST(x.n_c AS DOUBLE)""".stripMargin + ")").as("att_num"))
    val dropped = byBin.filter(col("n_t") > 0 && col("n_c") === 0)
      .agg(coalesce(sum(col("n_t")), lit(0L)).as("n_treated_dropped"))
    val naive = users.agg(
      sum(when(col("treated") === 1, 1L).otherwise(0L)).as("nt_all"),
      sum(when(col("treated") === 0, 1L).otherwise(0L)).as("nc_all"),
      sum(when(col("treated") === 1, col("y_cents")).otherwise(0L))
        .as("syt_all"),
      sum(when(col("treated") === 0, col("y_cents")).otherwise(0L))
        .as("syc_all"))
    matched.crossJoin(dropped).crossJoin(naive)
      .select(
        col("n_treated_matched"), col("n_control_matched"),
        col("n_bins_matched"), col("n_treated_dropped"),
        (floor(col("att_num")
            / col("n_treated_matched").cast("double") / 100.0
            * 1000000 + 0.5) / 1000000).as("att"),
        (floor((col("syt_all").cast("double") / col("nt_all").cast("double")
            - col("syc_all").cast("double") / col("nc_all").cast("double"))
            / 100.0 * 1000000 + 0.5) / 1000000).as("naive_diff"))
  }

  /** Per user: the touch channels OR-folded into a bit mask (view 1,
    * click 2, signup 4, error 8) and a converted flag (any purchase). One
    * shuffle on user_id with map-side combine (bit_or and max are both
    * partial-aggregable).
    */
  private def userTouches(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(
      expr("bit_or(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 " +
        "WHEN 'signup' THEN 4 WHEN 'error' THEN 8 ELSE 0 END)").as("mask"),
      max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))

  /** Touch census: the [[userTouches]] collapse rolled into a (mask, conv)
    * histogram of user counts, at most 32 cells. The collapse is the first
    * stage of [[shapleyAttribution]], so the exact Shapley values fold from
    * this histogram alone (EventOpsSpec checks the equality).
    */
  def touchCensus(events: DataFrame): DataFrame =
    userTouches(events)
      .groupBy(col("mask"), col("conv"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("mask"), col("conv"))

  /** EXACT Shapley-value channel attribution — the coalition-game member
    * of the attribution family ([[viewClickAttribution]] is last-touch;
    * [[markovChain]] is removal-effect): with the four touch channels
    * view/click/signup/error as players and the coalition worth v(S) =
    * converted users whose touch set ⊆ S, each channel's Shapley value is
    * its average marginal contribution over all orderings. With n = 4
    * players every Shapley weight is s!(3−s)!/4! — a rational with
    * denominator 24 — so the engine computes 24·φ as an EXACT INTEGER
    * (the only doubles are the final display division, floor-quantized),
    * and cross-engine equality is bitwise by construction. Efficiency
    * axiom Σφ = v(N) − v(∅) rides along as the audit identity in the spec.
    *
    * Scale shape: [[userTouches]] collapses the event log to per-user
    * (mask, converted) — the only data-sized exchange; everything after
    * lives on the 16-row subset lattice and the 4-row player set (tiny
    * broadcast crosses, the accepted tiny-frame-stats shape).
    */
  def shapleyAttribution(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    val convByMask = userTouches(ev).filter(col("conv") === 1)
      .groupBy(col("mask")).agg(count(lit(1)).as("c"))
    val sets = spark.range(16).select(col("id").as("s"))
    val v = sets.join(broadcast(convByMask),
        col("mask").bitwiseAND(col("s")) === col("mask"), "left")
      .groupBy(col("s"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("v"))
    val v0 = v.select(col("s").as("s0"), col("v").as("v0"))
    val v1 = v.select(col("s").as("s1"), col("v").as("v1"))
    spark.range(4).select(col("id").as("cbit"))
      .crossJoin(broadcast(v0))
      .filter(expr("(shiftright(s0, CAST(cbit AS INT)) & 1) = 0"))
      .join(broadcast(v1),
        expr("s1 = s0 + shiftleft(1, CAST(cbit AS INT))"))
      .withColumn("w24", expr(
        "CASE bit_count(s0) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 " +
          "ELSE 6 END"))
      .groupBy(col("cbit"))
      .agg(sum(col("w24") * (col("v1") - col("v0"))).as("shapley_x24"))
      .select(
        when(col("cbit") === 0, "view").when(col("cbit") === 1, "click")
          .when(col("cbit") === 2, "signup").otherwise("error").as("channel"),
        col("shapley_x24"),
        (floor(col("shapley_x24").cast("double") / 24.0 * 10000 + 0.5)
          / 10000).as("shapley"))
      .orderBy(col("channel"))
  }
}
