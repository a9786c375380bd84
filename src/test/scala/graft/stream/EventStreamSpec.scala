package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.EventOps

/** Streaming semantics are verified against the batch operators over the
  * same static events data (memory sink, processAllAvailable). Complete
  * output mode is used for windowed aggregations because a single static
  * micro-batch never advances the watermark enough to emit append-mode
  * results — the standard static-source testing pattern.
  */
class EventStreamSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def runToTable(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private lazy val batchEvents = graft.Tables.events(spark, sfDir)

  test("streaming tumbling window == batch tumbling aggregation") {
    val got = runToTable(
      EventStream.hourlyTumbling(EventStream.source(spark, sfDir)), "t_tumble", "complete")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = EventOps.hourlyTumbling(batchEvents)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("streaming session windows agree with batch sessionization totals") {
    val got = runToTable(
      EventStream.sessionWindows(EventStream.source(spark, sfDir)), "t_sess", "complete")
    val gotPerUser = got.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("session_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = EventOps.sessionize(batchEvents)
      .select("user_id", "n_sessions", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotPerUser == want)
  }

  test("streaming dedup-within-watermark preserves exact per-type counts") {
    val got = runToTable(
      EventStream.dedupEvents(EventStream.source(spark, sfDir)), "t_dedup", "complete")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = batchEvents.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("streaming content dedup drops payload-identical events like batch distinct") {
    val got = runToTable(
      EventStream.dedupByContent(EventStream.source(spark, sfDir)), "t_cdedup", "complete")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = batchEvents
      .withColumn("fp",
        md5(concat_ws("|", col("event_type"), col("value"), col("props"))))
      .dropDuplicates("fp")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("stream-stream interval join matches the batch interval join") {
    val src = EventStream.source(spark, sfDir)
    // append mode is the only legal mode for stream-stream joins; a static
    // source emits everything in one micro-batch, then processAllAvailable
    // drains the final watermark advance
    val got = runToTable(
      EventStream.viewClickAttribution(src, src), "t_ssjoin", "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = EventStream.viewClickAttributionBatch(batchEvents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "degenerate data: no view->click pairs at all")
    assert(got == want)
  }

  test("left-outer stream-stream join emits unmatched views once the watermark proves it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)] // (event_id, user_id, type, ts_us)
    val src = mem.toDF().toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
    val q = EventStream.viewClickAttributionOuter(src, src)
      .writeStream.outputMode("append").format("memory").queryName("t_ssouter").start()
    val t0 = 1700000000L * 1000000L // epoch µs base
    val min = 60L * 1000000L
    // user 1: view + click 10min later (matches); user 2: view, never clicks
    mem.addData(Seq(
      (100L, 1L, "view", t0), (101L, 1L, "click", t0 + 10 * min),
      (200L, 2L, "view", t0)))
    q.processAllAvailable()
    // watermark-advancers far beyond view_ts + 30min + 1h on BOTH sides —
    // the global watermark is the min over both inputs, and each side's
    // watermark node sits behind its event-type filter, so a view alone
    // would leave the click watermark (and the outer emission) stuck
    mem.addData(Seq(
      (998L, 9L, "view", t0 + 600 * min),
      (999L, 9L, "click", t0 + 600 * min)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_ssouter")
      .select(col("user_id"), col("view_id"), col("click_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSet
    assert(got.contains((1L, 100L, 101L)), s"matched pair missing: $got")
    assert(got.contains((2L, 200L, -1L)), s"unmatched view must emit with null click: $got")
    // EVICTION, not just emission: once the watermark passes the t0-era
    // rows, they must leave the join state — only the two advancer events
    // may remain buffered. Unbounded numRowsTotal here is the classic
    // stream-stream-join state leak.
    val totals = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
    assert(totals.nonEmpty, "no state-operator progress reported")
    assert(totals.last < totals.max,
      s"join state never shrank after the watermark passed: $totals")
    assert(totals.last <= 4,
      s"t0-era rows still buffered after watermark eviction: $totals")
  }

  test("foreachBatch idempotent sink: replay overwrites partitions, no duplicates") {
    val out = tempDir("gold_stream").toString
    def runOnce(cp: String): Unit = {
      val q = EventStream.idempotentHourlySink(EventStream.source(spark, sfDir), out, cp)
      q.processAllAvailable(); q.stop()
    }
    // two independent runs (fresh checkpoints) simulate a full replay of the
    // same source into the same sink path
    runOnce(tempDir("cp1").toString)
    val afterFirst = spark.read.parquet(out).count()
    runOnce(tempDir("cp2").toString)
    val afterReplay = spark.read.parquet(out).count()
    assert(afterFirst == batchEvents.count())
    assert(afterReplay == afterFirst, "replay must overwrite, not append")
  }

  /** Drive the sink through the exactly-once failure it exists for: the
    * query dies AFTER the parquet write but BEFORE the checkpoint commit
    * (the foreachBatch body throwing after the write is exactly that
    * window — the commit log entry is only written once the body returns),
    * then restarts from the SAME checkpoint, which re-executes the
    * uncommitted batch. `writeMode` selects the batch-write mode so the
    * append variant can demonstrate the failure the overwrite prevents.
    */
  private def crashThenRestart(writeMode: String): (Long, Long, Long) = {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val out = tempDir(s"gold_crash_$writeMode").toString
    val cp = tempDir(s"cp_crash_$writeMode").toString
    val crash = new java.util.concurrent.atomic.AtomicBoolean(true)
    def start() = EventStream.withHourColumn(EventStream.source(spark, sfDir))
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (writeMode == "append")
          b.write.partitionBy("hour").mode("append").parquet(out)
        else EventStream.writeHourlyPartitions(b, out)
        if (crash.get())
          throw new RuntimeException("injected crash: write done, commit pending")
      }
      .start()
    val q1 = start()
    intercept[StreamingQueryException] { q1.processAllAvailable() }
    q1.stop()
    val afterCrash = spark.read.parquet(out).count()
    crash.set(false) // the restart completes its batches normally
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val afterRestart = spark.read.parquet(out).count()
    val distinctIds = spark.read.parquet(out).select("event_id").distinct().count()
    (afterCrash, afterRestart, distinctIds)
  }

  test("exactly-once under failure injection: crash between write and commit, restart, no dupes") {
    val (afterCrash, afterRestart, distinctIds) = crashThenRestart("overwrite")
    val want = batchEvents.count()
    assert(afterCrash == want, "the crashed batch's write itself must have landed")
    assert(afterRestart == want,
      s"replay of the uncommitted batch must overwrite, not duplicate: $afterRestart vs $want")
    assert(distinctIds == want, "every event exactly once after the replay")
  }

  test("the append-mode variant FAILS the same injection (what dynamic overwrite buys)") {
    val (_, afterRestart, distinctIds) = crashThenRestart("append")
    val want = batchEvents.count()
    assert(afterRestart == 2 * want && distinctIds == want,
      s"append must double the uncommitted batch on replay ($afterRestart rows, " +
        s"$distinctIds distinct) — if this starts passing exactly-once, the " +
        "injection window moved and the overwrite spec above proves nothing")
  }

  test("flatMapGroupsWithState sessionizer closes sessions; open ones flush by timeout") {
    val closed = runToTable(
      EventStream.statefulSessionize(spark, EventStream.source(spark, sfDir)),
      "t_fmgws", "append")
    val batch = EventOps.sessionize(batchEvents)
    val totalSessions = batch.agg(sum("n_sessions")).collect()(0).getLong(0)
    val nUsers = batch.count()
    // gap-closed sessions all emit; each user's final (open) session emits
    // too iff the final watermark (max event - 1h) passed its last + gap
    val maxUs = batchEvents.agg(max(expr("ts_ns div 1000"))).collect()(0).getLong(0)
    val wmMs = maxUs / 1000L - 3600L * 1000L
    val gapMs = 30L * 60L * 1000L
    val flushedUsers = batchEvents.groupBy("user_id")
      .agg(max(expr("ts_ns div 1000")).as("last_us"))
      .filter(col("last_us") / 1000L + gapMs < wmMs)
      .count()
    assert(closed.count() == totalSessions - nUsers + flushedUsers)
  }

  /** The sessionize-eviction scenario, factored so it runs unchanged under
    * BOTH state-store providers — the HDFS-backed default and RocksDB. The
    * store is an executor-local detail; results, flush timing, and the
    * post-eviction state row count must be provider-invariant.
    */
  private def evictionScenario(queryName: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (user_id, ts_us)
    val src = mem.toDF().toDF("user_id", "ts_us")
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .withColumn("ts_ns", col("ts_us") * 1000L)
    val q = EventStream.statefulSessionize(spark, src)
      .writeStream.outputMode("append").format("memory").queryName(queryName).start()
    val hourUs = 3600L * 1000000L
    // user 1: events at 10:00 and 10:10 — one open session, then idle forever
    mem.addData((1L, 10 * hourUs), (1L, 10 * hourUs + 600L * 1000000L))
    q.processAllAvailable()
    // user 2 at 14:00 advances the watermark to 13:00 (> user 1's 10:40 timeout)
    mem.addData((2L, 14 * hourUs))
    q.processAllAvailable()
    // one more batch so the expired timeout is definitely processed
    mem.addData((2L, 14 * hourUs + 60L * 1000000L))
    q.processAllAvailable()
    val rows = spark.table(queryName).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(rows.contains((1L, 2, 600.0)),
      s"idle user's open session must flush on timeout; got $rows")
    // the state store must hold ONLY user 2's open session — user 1 evicted
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators(0)
    assert(lastState.numRowsTotal == 1,
      s"expected 1 state row after eviction, got ${lastState.numRowsTotal}")
    q.stop()
  }

  test("stateful sessionize: idle user flushes on watermark advance and state row is evicted") {
    evictionScenario("t_evict")
  }

  test("stateful sessionize is provider-invariant: same scenario green on RocksDB state store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try evictionScenario("t_evict_rocksdb")
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState milestones: powers of two emit across batches; 8-byte state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // transformWithState runs only on the RocksDB state store provider
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long)] // (user_id, ts_us)
      val src = mem.toDF().toDF("user_id", "ts_us")
        .withColumn("ts_ns", col("ts_us") * 1000L)
      val q = EventStream.milestones(spark, src)
        .writeStream.outputMode("append").format("memory").queryName("t_ms").start()
      // user 1: 5 events split across batches (counts 1,2,3 then 4,5) —
      // milestones at 1, 2, 4 must straddle the batch boundary via state;
      // user 2: 2 events in one batch -> milestones 1, 2
      mem.addData((1L, 100L), (1L, 200L), (1L, 300L), (2L, 150L), (2L, 250L))
      q.processAllAvailable()
      mem.addData((1L, 400L), (1L, 500L))
      q.processAllAvailable()
      val got = spark.table("t_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 1L, 100L), (1L, 2L, 200L), (1L, 4L, 400L),
        (2L, 1L, 150L), (2L, 2L, 250L)), s"got $got")
      // exactly one 8-byte counter per user in the store
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(lastState.numRowsTotal == 2,
        s"expected 2 state rows, got ${lastState.numRowsTotal}")
      q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming HLL registers equal the batch sketch exactly; state bounded by m") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the full (user, type) key stream from the batch table, replayed in
      // three micro-batches — including full duplication of batch 1 in
      // batch 3 (duplicates must not move any register)
      val keys = batchEvents
        .selectExpr("CAST(user_id AS STRING) || ':' || event_type AS key")
        .as[String].collect().toSeq
      val (b1, rest) = keys.splitAt(keys.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      val mem = MemoryStream[String]
      val q = EventStream.hllRegisters(spark, mem.toDF().toDF("key"))
        .writeStream.outputMode("append").format("memory").queryName("t_hll").start()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData((b3 ++ b1): _*); q.processAllAvailable()
      // latest emission per register == the batch-computed register map
      val streamed = spark.table("t_hll").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batch = batchEvents
        .selectExpr("CAST(user_id AS STRING) || ':' || event_type AS key")
        .selectExpr("CAST(conv(substring(md5(concat('hll:', key)), 1, 8), " +
          "16, 10) AS BIGINT) AS h")
        .selectExpr("h div 16777216 AS reg",
          "CASE WHEN h % 16777216 = 0 THEN 25 " +
            "ELSE 25 - length(bin(h % 16777216)) END AS rho")
        .groupBy("reg").agg(max(col("rho")).as("mr")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(streamed == batch,
        s"register drift: ${(streamed.toSet diff batch.toSet).take(3)}")
      // state row count bounded by the registers actually hit (≤ 256)
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(lastState.numRowsTotal == batch.size && batch.size <= 256,
        s"state rows ${lastState.numRowsTotal} vs registers ${batch.size}")
      // the estimate recovered from streamed registers matches the batch
      // HLL formula on the same registers
      val npres = streamed.size
      val s = streamed.values.map(mr => math.pow(2.0, -mr)).sum
      val raw = (0.7213 / (1 + 1.079 / 256.0)) * 65536.0 / (s + (256 - npres))
      val est = if (raw <= 640.0 && npres < 256)
        256.0 * math.log(256.0 / (256 - npres)) else raw
      val exact = keys.distinct.size
      assert(math.abs(est / exact - 1) < 0.25,
        s"streamed estimate $est vs exact $exact")
      q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming histogram buckets equal the batch histogram; percentiles recover; state bounded by buckets") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val values = batchEvents.select(col("value")).as[Double].collect().toSeq
      val (b1, b2) = values.splitAt(values.length / 2)
      val mem = MemoryStream[Double]
      val q = EventStream.histBuckets(spark, mem.toDF().toDF("value"))
        .writeStream.outputMode("append").format("memory").queryName("t_hist").start()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      // latest emission per bucket == the batch histogram exactly
      val streamed = spark.table("t_hist").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val batch = batchEvents
        .selectExpr("CAST(floor(value) AS BIGINT) AS bkt")
        .groupBy("bkt").count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch,
        s"bucket drift: ${(streamed.toSet diff batch.toSet).take(3)}")
      // state bounded by the bucket count, not the stream length
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(lastState.numRowsTotal == batch.size,
        s"state rows ${lastState.numRowsTotal} vs buckets ${batch.size}")
      assert(batch.size.toLong < values.length / 2,
        "degenerate fixture: buckets should be far fewer than events")
      // p95 recovered from streamed buckets == the true order statistic
      // within one bucket width (the sketch's construction bound)
      val n = values.length
      val target = math.ceil(0.95 * n).toLong
      var cum = 0L
      val p95est = streamed.toSeq.sortBy(_._1).collectFirst {
        case (b, c) if { cum += c; cum >= target } => b + 1
      }.get.toDouble
      val exact = values.sorted.apply((target - 1).toInt)
      assert(p95est - exact >= 0 && p95est - exact <= 1.0,
        s"p95 est $p95est vs exact $exact")
      q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming HDR sketch equals the batch hdr_sketch; p95 within the relative bound; negatives raise") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val values = batchEvents.select(col("value")).as[Double].collect().toSeq
      val (b1, b2) = values.splitAt(values.length / 2)
      val mem = MemoryStream[Double]
      val q = EventStream.hdrBuckets(spark, mem.toDF().toDF("value"))
        .writeStream.outputMode("append").format("memory").queryName("t_hdr").start()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("t_hdr").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      // bucket-map equality against the native batch aggregate, bit-for-bit
      graft.functions.HdrSketch.register(spark)
      val batch = batchEvents.agg(expr("hdr_sketch(value)").as("sk"))
        .select(explode(col("sk")).as("b"))
        .select(col("b.edge"), col("b.cnt")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch,
        s"sketch drift: ${(streamed.toSet diff batch.toSet).take(3)}")
      // state bounded by bucket count (log-linear: ~10^3 at most)
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(lastState.numRowsTotal == batch.size && batch.size < 1500)
      // p95 from the streamed sketch obeys exact < est <= exact(1+2^-7)+2^-20
      val n = values.length
      val target = math.ceil(0.95 * n).toLong
      var cum = 0L
      val p95est = streamed.toSeq.sortBy(_._1).collectFirst {
        case (e, c) if { cum += c; cum >= target } =>
          e + graft.functions.HdrSketch.bucketWidth(e)
      }.get.toDouble / 1048576.0
      val exact = values.sorted.apply((target - 1).toInt)
      assert(p95est > exact && p95est <= exact * (1 + 1.0 / 128) + 1.0 / 1048576.0,
        s"p95 est $p95est vs exact $exact")
      q.stop()
      // domain contract: a negative value fails the micro-batch loudly
      val mem2 = MemoryStream[Double]
      val q2 = EventStream.hdrBuckets(spark, mem2.toDF().toDF("value"))
        .writeStream.outputMode("append").format("memory").queryName("t_hdr_neg").start()
      try {
        mem2.addData(-1.5)
        val ex = intercept[Exception](q2.processAllAvailable())
        def msgs(t: Throwable): Seq[String] = Option(t).toSeq
          .flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
        assert(msgs(ex).exists(_.contains("negative input")), msgs(ex).take(3))
      } finally q2.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming CMS cells equal the batch counter grid exactly; point read recovers; state bounded by the grid") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val keys = batchEvents
        .selectExpr("CAST(user_id AS STRING) || ':' || event_type AS key")
        .as[String].collect().toSeq
      val (b1, rest) = keys.splitAt(keys.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      val mem = MemoryStream[String]
      val q = EventStream.cmsCells(spark, mem.toDF().toDF("key"))
        .writeStream.outputMode("append").format("memory").queryName("t_cms").start()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      // counts only grow: the latest emission per cell is its max
      val streamed = spark.table("t_cms").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      // the batch counter grid, same derivation as EventOps.cmsHeavyKeys
      def cellsOf(df: org.apache.spark.sql.DataFrame) = df
        .select(col("key"), explode(sequence(lit(0), lit(3))).as("r"))
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(concat('cms', CAST(r AS STRING), ':', " +
            "key)), 1, 8), 16, 10) AS BIGINT) % 1024"))
        .selectExpr("r * 1024 + bucket AS cell")
      val batch = cellsOf(keys.toDF("key"))
        .groupBy("cell").agg(count(lit(1)).as("cnt")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamed == batch,
        s"grid drift: ${(streamed.toSet diff batch.toSet).take(3)}")
      // state bounded by the grid, never by key cardinality
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(lastState.numRowsTotal == batch.size && batch.size <= 4096,
        s"state rows ${lastState.numRowsTotal} vs grid ${batch.size}")
      // point read: min over the hot key's 4 cells >= its exact count
      val (hotKey, exactCnt) = keys.groupBy(identity).view
        .mapValues(_.size.toLong).maxBy { case (k, c) => (c, k) }
      val hotCells = cellsOf(Seq(hotKey).toDF("key"))
        .as[Long].collect()
      val est = hotCells.map(streamed).min
      assert(est >= exactCnt, s"CMS must never undercount: $est < $exactCnt")
      q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static enrichment joins the dim per batch and keeps ZERO state") {
    import spark.implicits._
    val dim = batchEvents.select(col("user_id")).distinct()
      .withColumn("tier", (col("user_id") % 3).cast("int"))
    val q = EventStream.enrichWithDim(EventStream.source(spark, sfDir), dim)
      .select(col("event_id"), col("user_id"), col("tier"))
      .writeStream.outputMode("append").format("memory").queryName("t_enrich").start()
    q.processAllAvailable()
    // stateless: a stream-static join must allocate NO state store
    assert(q.recentProgress.forall(_.stateOperators.isEmpty),
      "stream-static join created streaming state")
    q.stop()
    val got = spark.table("t_enrich").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = batchEvents.join(dim, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("tier")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"enrichment mismatch: ${(got -- want).take(3)} ...")
    assert(got.nonEmpty)
  }

  test("streaming touch states rebuild the exact batch Shapley lattice; " +
    "replayed touches are absorbed without emission") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val b1 = Seq((1L, "view"), (2L, "view"), (3L, "click"), (4L, "signup"))
      val b2 = Seq((1L, "click"), (1L, "purchase"), (2L, "purchase"),
        (5L, "purchase"), (4L, "error"))
      val replay = Seq((1L, "view"), (2L, "purchase"), (3L, "click"))
      val b4 = Seq((3L, "purchase"), (4L, "purchase"))
      val mem = MemoryStream[(Long, String)]
      val q = EventStream.touchStates(spark,
          mem.toDF().toDF("user_id", "event_type"))
        .writeStream.outputMode("append").format("memory")
        .queryName("t_touch").start()
      try {
        mem.addData(b1: _*); q.processAllAvailable()
        mem.addData(b2: _*); q.processAllAvailable()
        val before = spark.table("t_touch").count()
        mem.addData(replay: _*); q.processAllAvailable()
        // the replay batch repeats already-absorbed touches verbatim —
        // state is idempotent, so NOTHING new may be emitted
        assert(spark.table("t_touch").count() == before,
          "replayed touches must not emit")
        mem.addData(b4: _*); q.processAllAvailable()
        // latest emission per user == the batch per-user collapse
        val all = spark.table("t_touch").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        val last = all.zipWithIndex.groupBy(_._1._1)
          .map { case (u, rs) => u -> rs.maxBy(_._2)._1 }
        // the BATCH TWIN's (mask, conv) histogram == the same histogram
        // folded from the latest emission per user (the registry query
        // ev_touch_census rides this equality)
        val censusFromStream = last.values.toSeq
          .groupBy(s => (s._2, s._3)).view.mapValues(_.size.toLong).toMap
        val censusBatch = EventStream.touchCensus(
            (b1 ++ b2 ++ replay ++ b4).toDF("user_id", "event_type"))
          .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
        assert(censusBatch == censusFromStream,
          s"touch census drifted: batch=$censusBatch stream=$censusFromStream")
        // exact Shapley from the streamed states (weighted-subset form)
        val convMasks = last.values.filter(_._3 == 1).map(_._2).toSeq
        def v(s: Int): Int = convMasks.count(m => (m & s) == m)
        def w24(sz: Int) = if (sz == 0 || sz == 3) 6 else 2
        val phiFromStream = (0 until 4).map { cbit =>
          cbit -> (0 until 16).filter(s => ((s >> cbit) & 1) == 0)
            .map(s => w24(Integer.bitCount(s))
              * (v(s | (1 << cbit)) - v(s))).sum.toLong
        }.toMap
        val batch = graft.ops.EventOps.shapleyAttribution(
            (b1 ++ b2 ++ replay ++ b4).map { case (u, t) => (u, t) }
              .toDF("user_id", "event_type"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val nameBit = Map("view" -> 0, "click" -> 1, "signup" -> 2,
          "error" -> 3)
        nameBit.foreach { case (ch, bit) =>
          assert(batch(ch) == phiFromStream(bit),
            s"$ch: batch ${batch(ch)} vs streamed ${phiFromStream(bit)}")
        }
        // bounded state: one 8-byte row per distinct user
        val lastState = q.recentProgress.reverse
          .find(_.stateOperators.nonEmpty).get.stateOperators(0)
        assert(lastState.numRowsTotal == 5,
          s"expected 5 state rows, got ${lastState.numRowsTotal}")
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming Kalman levels match the batch fold BITWISE across batch boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // two series, 8 observations each, split MID-SERIES across three
      // micro-batches: the recursion state (n, l, P) must carry over
      val obs = for (g <- Seq("A", "B"); t <- 1L to 8L)
        yield (g, t, (if (g == "A") 1.0 else 5.0) + t * 0.25 + (t % 3) * 1.5)
      val sorted = obs.sortBy(o => (o._2, o._1)) // interleave the series
      val (b1, rest) = sorted.splitAt(5)
      val (b2, b3) = rest.splitAt(6)
      val mem = MemoryStream[(String, Long, Double)]
      val q = EventStream.kalmanLevels(spark, mem.toDF().toDF("g", "t", "x"))
        .writeStream.outputMode("append").format("memory")
        .queryName("t_kal").start()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      val streamed = spark.table("t_kal").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      val batch = graft.ops.TimeSeriesOps
        .kalmanStates(obs.toDF("g", "t", "x")).collect()
        .map(r => (r.getString(0), r.getInt(1).toLong) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      assert(streamed.size == 16 && batch.size == 16)
      // BITWISE equality — same IEEE operand order in both mechanisms
      batch.foreach { case (k, (l, g)) =>
        assert(streamed(k) == ((l, g)),
          s"series $k: streamed ${streamed(k)} vs batch ${(l, g)}")
      }
      // O(1) state per series: exactly 2 state rows at the end
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(lastState.numRowsTotal == 2,
        s"expected 2 state rows, got ${lastState.numRowsTotal}")
      q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming Kalman raises on a cross-batch index regression, never corrupts silently") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Long, Double)]
      val q = EventStream.kalmanLevels(spark, mem.toDF().toDF("g", "t", "x"))
        .writeStream.outputMode("append").format("memory")
        .queryName("t_kal_guard").start()
      try {
        // batch 1 consumes t=1,2; batch 2 replays t=2 — an intra-batch sort
        // cannot fix this, only the stored-count check can catch it
        mem.addData(("A", 1L, 1.0), ("A", 2L, 2.0)); q.processAllAvailable()
        mem.addData(("A", 2L, 9.0))
        val ex = intercept[Exception](q.processAllAvailable())
        def msgs(t: Throwable): Seq[String] = Option(t).toSeq
          .flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
        assert(msgs(ex).exists(m => m.contains("out-of-order index")
          && m.contains("expected 3")), msgs(ex).mkString("; "))
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming misra-gries: deficit bound holds, heavy keys guaranteed present, state <= k") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val k = 8
      // skewed stream: 2 heavy keys + a 100-key tail, split over 3 batches
      // in an adversarial order (tail first, heavies later)
      val hot = Seq.fill(300)("hot1") ++ Seq.fill(200)("hot2")
      val tail = (0 until 100).flatMap(i => Seq.fill(2)(s"t$i"))
      val all = tail ++ hot
      val (b1, rest) = all.splitAt(all.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 3)
      val mem = MemoryStream[String]
      val q = EventStream.mgSummary(spark, mem.toDF().toDF("key"), k)
        .writeStream.outputMode("append").format("memory")
        .queryName("t_mg").start()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val nBefore = spark.table("t_mg").count().toInt
      mem.addData(b3: _*); q.processAllAvailable()
      // the final batch's emission IS the merged global summary
      val finalSummary = spark.table("t_mg").collect().drop(nBefore)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val trueCounts = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = all.size.toLong
      val deficit = n.toDouble / (k + 1)
      assert(finalSummary.size <= k, s"summary size ${finalSummary.size} > k")
      // lower bound never exceeds truth; never undershoots by > n/(k+1)
      finalSummary.foreach { case (key, lb) =>
        assert(lb <= trueCounts(key), s"$key: lb $lb > true ${trueCounts(key)}")
        assert(lb >= trueCounts(key) - deficit,
          s"$key: lb $lb under deficit bound ${trueCounts(key) - deficit}")
      }
      // candidate completeness: every key with true count > n/(k+1) present
      trueCounts.filter(_._2 > deficit).keys.foreach { key =>
        assert(finalSummary.contains(key), s"heavy key $key missing: $finalSummary")
      }
      // state bounded by k entries regardless of 100+ distinct keys
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0)
      assert(lastState.numRowsTotal <= k,
        s"state rows ${lastState.numRowsTotal} > k=$k")
      q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
