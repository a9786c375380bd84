package graft.ops

import graft.SparkSpec

/** Lifecycle guard for the frames operators pin for one query: each
  * family `localCheckpoint`s or persists the intermediates its returned
  * (lazy) frame reads — deduplicated edge lists, oriented edges, degree
  * frames, verified LSH pairs, the BPE model, quartile rows. Checkpoints
  * live OUTSIDE the cacheManager, so each must be tracked: `clearPinned`
  * after a query releases every one of them, and `releaseAll` also sweeps
  * any block left untracked, or a long-lived session (Verify's 300+
  * queries, the bench, a notebook) leaks storage query over query.
  */
class ExecReleaseSpec extends SparkSpec {

  test("clearPinned alone releases the shared-build operators' checkpoints") {
    import spark.implicits._
    Exec.releaseAll(spark) // clean slate
    val edges = (1 to 400)
      .map(i => (i.toLong, 1000L + (i % 60).toLong))
      .toDF("a", "b")
    GraphOps.kCore(edges, 2, rounds = 3).collect()
    GraphOps.triangleCount(edges).collect()
    GraphOps.pageRank(edges, iters = 1).collect()
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    DedupOps.minhashLshPairs(docs).collect()
    TextOps.bpeEncode(docs, rounds = 3).collect()
    val facts = (1 to 50).map(i => (i.toDouble, (i * 7 % 13).toDouble)).toDF("x", "y")
    graft.quality.QualityChecks.iqrApproxAudit(facts, Seq("x", "y")).collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "fixture should have left checkpoint blocks pinned")

    Exec.clearPinned(spark)
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"leaked RDD blocks after clearPinned: ids=${leaked.keys.toSeq.sorted}")
    // nothing outlives the query: a re-run rebuilds and still answers
    assert(GraphOps.triangleCount(edges).collect().nonEmpty)
    Exec.clearPinned(spark)
  }

  test("late-round operators' checkpoints and pins are fully swept by releaseAll") {
    import spark.implicits._
    // pcaHead: 1 cell checkpoint + one per power-iteration round;
    // perplexityBuckets: token persist + per-doc checkpoint; bfsLayers:
    // per-round frontier pins + visited checkpoints
    val emb = (0 until 40)
      .map(i => (i.toLong, Seq.tabulate(4)(j => (i * (j + 1)).toFloat / 7f), i % 3))
      .toDF("vec_id", "embedding", "label")
    VectorOps.pcaPowerComponent(emb, dim = 4, iters = 5).collect()
    val docs = Seq((1L, "a b c a b"), (2L, "c d e f g"), (3L, "a a a b"))
      .toDF("doc_id", "text")
    TextOps.perplexityBuckets(docs).collect()
    val edges = (1L to 50L).map(i => (i, i + 1)).toDF("a", "b")
    GraphOps.bfsLayers(edges, seedMod = 10L, rounds = 2).collect()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "fixture should have pinned blocks before the sweep")
    Exec.releaseAll(spark)
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"leaked RDD blocks after releaseAll: ids=${leaked.keys.toSeq.sorted}")
  }

  test("bench-mode contract: clearPinned alone sweeps un-memoized transient checkpoints") {
    import spark.implicits._
    Exec.releaseAll(spark) // clean slate
    // every operator family whose per-call localCheckpoint frames outlive the
    // call (the returned query reads them lazily): PCA heads, BFS layers,
    // CC labels, BPE vocab rounds, perplexity per-doc, pageRank degree frames
    val emb = (0 until 40)
      .map(i => (i.toLong, Seq.tabulate(4)(j => (i * (j + 1)).toFloat / 7f), i % 3))
      .toDF("vec_id", "embedding", "label")
    VectorOps.pcaPowerComponent(emb, dim = 4, iters = 5).collect()
    VectorOps.pcaTop2Project(emb, dim = 4, iters = 4, maxId = 10).collect()
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    TextOps.perplexityBuckets(docs).collect()
    TextOps.bpeEncode(docs, rounds = 3).collect()
    DedupOps.nearDupClusters(docs).collect() // CC labels
    val edges = (1 to 200).map(i => (i.toLong, 1000L + (i % 40).toLong)).toDF("a", "b")
    GraphOps.bfsLayers(edges, seedMod = 10L, rounds = 2).collect()
    GraphOps.pageRank(edges, iters = 2).collect()
    GraphOps.degreeAssortativity(edges).collect()
    // bench-mode between-query cleanup: cacheManager clear + transient drain,
    // NO releaseAll
    Exec.clearPinned(spark)
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.isEmpty,
      s"clearPinned-only pass leaked RDD blocks: ids=${leaked.keys.toSeq.sorted}")
  }

  test("kCore peel releases per-round survivor and edge frames (non-converged path)") {
    import spark.implicits._
    // a peel that runs >1 round and does NOT converge within budget
    val chain = (1 to 300).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    GraphOps.kCore(chain, 2, rounds = 3).collect()
    val after = spark.sparkContext.getPersistentRDDs.filterNot {
      case (id, _) => before.contains(id)
    }
    // only the final round's edge checkpoint may remain pinned (it backs the
    // returned frame); every superseded round frame and survivor set is gone
    assert(after.size <= 1,
      s"kCore left ${after.size} pinned frames behind: ids=${after.keys.toSeq.sorted}")
    Exec.releaseAll(spark)
  }

  test("driver gate: measured bytes, row and byte legs at an explicit cap") {
    import spark.implicits._
    // checkpoint-backed frame: block-manager bytes
    val ck = (1 to 1000).map(i => (i.toLong, i.toLong)).toDF("a", "b")
      .localCheckpoint()
    val ckBytes = Exec.measuredBytes(ck)
    assert(ckBytes.exists(_ > 0), s"checkpoint bytes not measured: $ckBytes")
    assert(Exec.collectInternalIfSmall(ck, Exec.DriverLoopRows).map(_.length)
      .contains(1000))
    // a tiny byte budget vetoes the collect even though rows fit the cap
    assert(Exec.collectInternalIfSmall(ck, Exec.DriverLoopRows, maxBytes = 1L).isEmpty)
    // the row cap still vetoes on its own
    assert(Exec.collectInternalIfSmall(ck, 10L).isEmpty)
    // persisted frame: in-memory relation stats
    val p = (1 to 1000).map(i => (i.toLong, "x" * 50)).toDF("a", "s").persist()
    p.count()
    val pBytes = Exec.measuredBytes(p)
    assert(pBytes.exists(_ > 0), s"cached bytes not measured: $pBytes")
    assert(Exec.collectInternalIfSmall(p, Exec.DriverLoopRows, maxBytes = 100L).isEmpty)
    p.unpersist()
    Exec.releaseAll(spark)
  }

  test("driver gate: DriverLoopRows admits a frame above SmallInputRows") {
    val rows = 2 * Exec.SmallInputRows
    val df = spark.range(0, rows, 1, 4).toDF()
    assert(Exec.collectInternalIfSmall(df, Exec.SmallInputRows).isEmpty)
    val got = Exec.collectInternalIfSmall(df, Exec.DriverLoopRows)
    assert(got.map(_.map(_.getLong(0)).toSeq).contains(0L until rows))
  }

  test("driver gate: the gate and the driver collect are one Spark job") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val markerProp = "graft.spec.marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(markerProp) != null)) markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    // the listener bus is async but ordered: once a marker job's start
    // arrives, every job started before it has been counted
    def drain(): Unit = {
      markerSeen = new java.util.concurrent.CountDownLatch(1)
      sc.setLocalProperty(markerProp, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markerProp, null)
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    }
    def jobsOf[A](body: => A): (A, Int) = {
      drain(); jobs.set(0)
      val out = body
      drain()
      (out, jobs.get)
    }
    // a checkpointed input is read by a job (a local relation is not)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
      .toDF("src", "dst").localCheckpoint()
    val li = Seq(10.0, 10.0, 10.0, 90.0, 90.0, 90.0).zipWithIndex.map { case (q, i) =>
      ("A", java.sql.Timestamp.valueOf(f"2024-${i + 1}%02d-15 00:00:00"), q)
    }.toDF("l_returnflag", "l_shipdate", "l_quantity")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    // without AQE each action is one job, whatever shuffles it runs
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val (scc, sccJobs) = jobsOf(GraphOps.sccAssignAuto(edges))
      assert(sccJobs == 1, s"sccAssignAuto ran $sccJobs jobs before its result")
      val (binseg, binsegJobs) = jobsOf(TimeSeriesOps.binsegChangepoints(li))
      assert(binsegJobs == 1, s"binsegChangepoints ran $binsegJobs jobs before its result")
      assert(rows(scc).sortBy(_.head.asInstanceOf[Long]) ==
        Exec.distributedOnly(rows(GraphOps.sccAssignAuto(edges)))
          .sortBy(_.head.asInstanceOf[Long]))
      assert(rows(binseg) ==
        Exec.distributedOnly(rows(TimeSeriesOps.binsegChangepoints(li))))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    Exec.releaseAll(spark)
  }

  test("broadcastIfKnownSmall hints only a frame whose bytes are measured") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.functions.{col, expr, posexplode}
    def hinted(df: org.apache.spark.sql.DataFrame) =
      Exec.broadcastIfKnownSmall(df).queryExecution.analyzed.isInstanceOf[ResolvedHint]
    // a generator multiplies rows past the optimizer's estimate: no measured
    // size, no hint, however small the estimate reads
    val exploded = spark.range(100).select(
      posexplode(expr("sequence(1, 1000)")).as(Seq("pos", "h"))).select(col("h"))
    assert(!hinted(exploded), "an unmaterialized frame was hinted from its estimate")
    // persisted but not yet computed: its relation stats are still an estimate
    val p = spark.range(1000).toDF("a").persist()
    assert(Exec.measuredBytes(p).isEmpty, "a not-yet-computed cache reported bytes")
    assert(!hinted(p), "a not-yet-computed cache was hinted")
    p.count()
    assert(hinted(p), "a small computed cache was not hinted")
    p.unpersist()
    // a small materialized checkpoint is hinted from its block bytes
    assert(hinted(spark.range(1000).toDF("a").localCheckpoint()))
    Exec.releaseAll(spark)
  }

  test("collectIfSmall: every row up to the small-input cap, None one row above it") {
    val cap = Exec.SmallInputRows
    assert(Exec.collectIfSmall(spark.range(cap).toDF(), cap).map(_.length).contains(cap.toInt))
    assert(Exec.collectIfSmall(spark.range(cap + 1).toDF(), cap).isEmpty)
  }
  test("collectIfSmall: the byte leg declines a few very wide rows the row leg admits") {
    val wide = spark.range(3).toDF()
      .select(org.apache.spark.sql.functions.expr("repeat('x', 100000)").as("s"))
    assert(Exec.collectInternalIfSmall(wide, Exec.SmallInputRows, maxBytes = 200000L).isEmpty)
    assert(Exec.collectIfSmall(wide, Exec.SmallInputRows).map(_.map(_.getString(0).length).toSeq)
      .contains(Seq(100000, 100000, 100000)))
  }

  test("collectIfSmall: a frame many times the byte budget ships at most the budget to the driver") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
    val budget = 256L << 10
    // 64 rows of 3,000 md5 strings each: about 7 MB, 28 times the budget
    val wide = spark.range(0, 64, 1, 4).toDF().select(org.apache.spark.sql.functions.expr(
      "transform(sequence(1, 3000), i -> md5(cast(id * 3000 + i as string)))").as("hs"))
    val shipped = new java.util.concurrent.atomic.AtomicLong()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        shipped.addAndGet(e.taskMetrics.resultSize)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = done.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Exec.collectInternalIfSmall(wide, Exec.SmallInputRows, budget).isEmpty)
      // the job's end event follows its tasks' on the listener bus
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(shipped.get <= budget, s"the driver received ${shipped.get} bytes")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Exec.collectInternalIfSmall(wide, Exec.SmallInputRows).map(_.length).contains(64))
  }

  test("collectIfSmall: above the row cap the job computes about the cap's rows, not the input's") {
    val cap = Exec.SmallInputRows
    val computed = spark.sparkContext.longAccumulator("rows computed")
    val counted = org.apache.spark.sql.functions.udf { (id: Long) => computed.add(1); id }
    val big = spark.range(0, 4 * cap, 1, 4).toDF().select(counted(
      org.apache.spark.sql.functions.col("id")).as("id"))
    assert(Exec.collectInternalIfSmall(big, cap).isEmpty)
    // each of the 4 partitions stops at the first row past its quarter
    assert(computed.value <= cap + 4, s"computed ${computed.value} rows")
  }

  test("globalRank equals an unpartitioned row_number, including ties and desc order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // heavy ties (5 distinct values over 5000 rows) across many partitions:
    // the range layout puts equal keys in one partition; the unique id
    // tie-break pins their order
    val df = (1 to 5000).map(i => (i.toLong, (i % 5).toLong))
      .toDF("id", "v").repartition(17)
    val got = Exec.globalRank(df, "r", col("v").desc, col("id"))
      .select(col("id"), col("r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.withColumn("r",
        row_number().over(Window.orderBy(col("v").desc, col("id"))))
      .select(col("id"), col("r")).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(got == want, s"first diffs: ${
      want.collect { case (k, v) if got(k) != v => (k, got(k), v) }.take(5)}")
    Exec.clearPinned(spark)
  }

  test("globalRank plan: per-partition windows + broadcast offsets, no single-task window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 1000).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")
    val ranked = Exec.globalRank(df, "r", col("v"), col("id"))
    val plan = ranked.queryExecution.executedPlan
    val unpart = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    // the ONLY unpartitioned window permitted is the ≤#partitions offsets
    // frame (fed by the pid aggregate); the data window must be pid-keyed
    unpart.foreach { w =>
      val aggBelow = w.child.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            if a.groupingExpressions.exists(_.name.contains("pid")) => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
            if a.groupingExpressions.exists(_.name.contains("pid")) => a
      }
      assert(aggBelow.isDefined,
        s"unpartitioned window not bounded by the pid offsets aggregate:\n$plan")
    }
    Exec.clearPinned(spark)
  }
}
