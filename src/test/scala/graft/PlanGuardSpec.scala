package graft

/** Guards on the PHYSICAL plans of scale-critical queries — the properties
  * that make them survive a 100 TB input. A regression here (a broadcast
  * silently becoming a sort-merge join, a filter no longer reaching the
  * parquet scan, a projection reading dropped columns) would still pass the
  * correctness gate, so these assert the plan shape itself.
  */
class PlanGuardSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** The STATIC physical plan, with adaptive execution disabled for the
    * planning window. Under AQE (on by default) `executedPlan` is an
    * `AdaptiveSparkPlanExec` — a LEAF node, so `plan.collect` on it finds
    * no exchanges and every tree-shape assertion passes vacuously. Shape
    * guards pin the static plan: AQE can only improve on it at runtime.
    */
  private def staticPlan(df: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def staticExchanges(df: => org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
    staticPlan(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  test("Q5 star join broadcasts every dimension (only the fact-fact edge may shuffle)") {
    val plan = executedPlan("rel_q5_region_revenue")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$plan")
  }

  test("Q3 pushes the segment filter into the customer parquet scan") {
    val plan = executedPlan("rel_q3_top_revenue_orders")
    assert(plan.contains("PushedFilters") && plan.contains("c_mktsegment"),
      s"segment filter not pushed to scan:\n$plan")
  }

  test("Q1 prunes the lineitem scan to the aggregated columns only") {
    val plan = executedPlan("rel_q1_pricing_summary")
    // ReadSchema must not pull join keys the query never touches
    assert(!plan.contains("l_orderkey") && !plan.contains("l_partkey"),
      s"lineitem scan reads unused columns:\n$plan")
  }

  test("text scans prune documents to the referenced columns") {
    val plan = executedPlan("txt_stats_by_lang")
    assert(!plan.contains("doc_id"),
      s"documents scan reads doc_id for a lang-level aggregate:\n$plan")
  }

  test("semi/anti joins never materialize right-side payload columns") {
    val semi = executedPlan("rel_join_semi")
    assert(semi.contains("LeftSemi"), s"semi join lost its LeftSemi shape:\n$semi")
    assert(!semi.contains("o_totalprice"),
      s"semi join reads orders payload columns:\n$semi")
    val anti = executedPlan("rel_join_anti")
    assert(anti.contains("LeftAnti"), s"anti join lost its LeftAnti shape:\n$anti")
  }

  test("ANN candidate shuffles carry ids and buckets, never embedding arrays") {
    val exchanges = staticExchanges(SparkEntry.queries("vec_ann_lsh")(spark, sfDir))
    assert(exchanges.nonEmpty, "ANN plan must contain its candidate shuffle")
    exchanges.foreach { e =>
      val out = e.output.map(_.name)
      assert(!out.exists(n => n == "embedding" || n == "q"),
        s"embedding array crosses a shuffle: ${out.mkString(",")}")
    }
  }

  test("Jaccard length-band exchanges carry narrow columns, never shingle arrays") {
    val exchanges = staticExchanges(SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir))
    assert(exchanges.nonEmpty, "banded self-join must contain its band shuffle")
    exchanges.foreach { e =>
      val out = e.output.map(_.name)
      assert(!out.exists(n => n == "sh" || n == "sh_a" || n == "sh_b"),
        s"shingle array crosses a shuffle: ${out.mkString(",")}")
    }
  }

  test("containment candidate generation is prefix-filtered; arrays never shuffle") {
    // pins the sub-quadratic shape from the sf1 scale run: the candidate
    // join must key on the prefix hash `g` (not block columns alone — that
    // is the quadratic pre-rewrite shape), and no exchange may carry a
    // shingle array (the old shape shuffled them to blocks).
    val plan = staticPlan(SparkEntry.queries("dedup_containment")(spark, sfDir))
    plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      val out = e.output.map(_.name)
      assert(!out.exists(n => n == "sh" || n == "sh_a" || n == "sh_b"),
        s"shingle array crosses a shuffle: ${out.mkString(",")}")
    }
    // the candidate join sits INSIDE the persisted candidates frame (the
    // broadcast gate materializes it), so walk cached plans too
    def allPlans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }.flatMap(s => allPlans(s.relation.cachedPlan))
    def keyedOnG(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.references.map(_.name).toSet.contains("g"))
    val prefixKeyedJoin = allPlans(plan).flatMap(_.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if keyedOnG(j.leftKeys) => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if keyedOnG(j.leftKeys) => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if keyedOnG(j.leftKeys) => j
    })
    assert(prefixKeyedJoin.nonEmpty,
      s"candidate join must include the prefix hash g in its keys:\n$plan")
    graft.ops.Exec.clearPinned(spark)
  }

  test("scalar subquery decorrelates to one aggregate + joins, no cartesian product") {
    val plan = executedPlan("rel_scalar_subquery")
    assert(!plan.contains("CartesianProduct"),
      s"decorrelated Q17 shape must not produce a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"part dimension should broadcast:\n$plan")
  }

  test("chunking runs at scan speed: no exchange before the output sort") {
    val df = SparkEntry.queries("txt_chunk_overlap")(spark, sfDir)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only legal exchange is the final presentation orderBy's range
    // partitioning — the fan-out itself must be shuffle-free
    assert(exchanges.size <= 1,
      s"chunk fan-out introduced extra shuffles: ${exchanges.size}")
  }

  test("block-dedup wide exchange carries fingerprints, never token arrays") {
    val df = SparkEntry.queries("dedup_blocks")(spark, sfDir)
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      val out = e.output.map(_.name)
      assert(!out.contains("toks") && !out.contains("text"),
        s"token array / raw text crosses a shuffle: ${out.mkString(",")}")
    }
  }

  test("gap-fill spine explode stays narrow: no qty arrays or text in its exchanges") {
    val plan = executedPlan("ts_gap_fill")
    // one groupBy to the monthly grain + the per-key span agg + final sort:
    // the month spine must come from sequence(), not a join against a
    // driver-built calendar table
    assert(!plan.contains("CartesianProduct"), s"spine built by cartesian:\n$plan")
  }

  test("triangle count: every exchange carries only narrow long keys") {
    val exchanges = staticExchanges(SparkEntry.queries("graph_triangles")(spark, sfDir))
    assert(exchanges.nonEmpty, "wedge join must contain its key shuffles")
    exchanges.foreach { e =>
      assert(e.output.length <= 4,
        s"wide row in a triangle-join exchange: ${e.output.map(_.name).mkString(",")}")
      e.output.foreach(a =>
        assert(a.dataType == org.apache.spark.sql.types.LongType,
          s"non-long column ${a.name}: ${a.dataType} in triangle exchange"))
    }
    assert(!executedPlan("graph_triangles").contains("CartesianProduct"),
      "triangle join degenerated to a cartesian product")
  }

  test("SCD2 merge: no cartesian; hash exchanges partition on the merge key or group key") {
    // the op most likely to quietly degrade as dim.columns grows: the CDC
    // compaction window + open/closed split must stay one co-partitioned
    // shuffle on the key, and the insert anti-join must never go nested-loop
    val plan = staticPlan(SparkEntry.queries("g5_scd2_merge")(spark, sfDir))
    val planStr = plan.toString
    assert(!planStr.contains("CartesianProduct") &&
      !planStr.contains("BroadcastNestedLoopJoin"),
      s"SCD2 merge degenerated to a cartesian/nested-loop:\n$planStr")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "SCD2 merge must contain its key shuffle")
    exchanges.foreach { e =>
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          val refs = h.expressions.flatMap(_.references).map(_.name).toSet
          assert(refs.subsetOf(Set("c_custkey", "c_mktsegment")),
            s"SCD2 exchange partitions on unexpected columns: $refs")
        case _ => () // the presentation orderBy's range partitioning
      }
    }
  }

  test("rolling median: the banded self-join plans as a real join, not a cartesian") {
    val plan = executedPlan("rel_rolling_median")
    assert(!plan.contains("CartesianProduct"),
      s"range-banded join degenerated to cartesian:\n$plan")
  }

  test("runtime bloom filter from a filtered dim prunes the fact-side scan") {
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sfDir)
      val supp = Tables.supplier(spark, sfDir).filter(col("s_nationkey") === 3)
      val joined = li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(sum(col("l_quantity")).as("q"))
      val plan = joined.queryExecution.optimizedPlan.toString
      // the injected runtime filter shows up as might_contain(bloom_filter_agg)
      // on the fact side — rows for unselected suppliers die before the join
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter was injected:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying ~95% of the left side — the classic skew that
      // serializes a 1000-executor join into one straggler task without AQE
      val left = spark.range(200000)
        .select(when(col("id") % 20 =!= 0, 0L).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val right = spark.range(1000).select(col("id").as("k"), lit("dim").as("v"))
      val joined = left.join(right, "k")
      // drive THIS QueryExecution (count() would plan a separate one and the
      // adaptive plan here would never finalize)
      val qe = joined.queryExecution
      assert(qe.executedPlan.execute().count() > 0)
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark/split the skewed join:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("bucketed tables co-locate the join: zero shuffle exchanges between the scans") {
    import org.apache.spark.sql.functions._
    // the pre-shuffled storage layout a 100 TB fact-fact join relies on:
    // both sides bucketed on the join key into the same bucket count join
    // WITHOUT a shuffle (and without a broadcast) — only the layout makes
    // that legal
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("pg_orders_bkt")
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("pg_lineitem_bkt")
      def joined = spark.table("pg_lineitem_bkt")
        .join(spark.table("pg_orders_bkt"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("q"), max(col("o_totalprice")).as("p"))
      assert(joined.count() > 0)
      val plan = staticPlan(joined)
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join still shuffles: ${exchanges.map(_.outputPartitioning)}")
      assert(plan.toString.contains("SortMergeJoin"),
        "co-located join should sort-merge over the bucket layout")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pg_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS pg_lineitem_bkt")
      saved match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("partition-layout scan: the partition predicate prunes at planning, not at runtime") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("pg_part").toString
    Tables.orders(spark, sfDir)
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
      .select(col("o_orderkey"))
    val plan = pruned.queryExecution.executedPlan.toString
    // the status predicate must appear as a PartitionFilter on the scan —
    // directory-level pruning, zero I/O for other partitions — and must
    // NOT survive as a post-scan data Filter
    assert(plan.contains("PartitionFilters") && plan.contains("status"),
      s"partition predicate not applied at the directory level:\n$plan")
    val scanned = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scanned.nonEmpty)
    scanned.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        "scan carries no partition filters — it would read every partition")
    }
  }

  /** Runs `body` with Spark's size-based broadcasts off (static planner and
    * AQE), so every unhinted join is a shuffle join. */
  private def withBroadcastsOff[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("no LSH candidate join carries a mandatory broadcast hint; shuffle joins give the same pairs") {
    val docs = Tables.documents(spark, sfDir)
    // the candidate pair set is data-dependent (a boilerplate-heavy corpus
    // inflates it without bound), so only Spark's measured size may choose
    // a broadcast: a hint anywhere in the plan is a mandatory broadcast
    val pairs = graft.ops.DedupOps.minhashLshPairs(docs)
    val logical = pairs.queryExecution.optimizedPlan.toString
    assert(!logical.contains("strategy=broadcast"),
      s"LSH plan carries a broadcast hint:\n$logical")
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = triples(pairs)
    val b = withBroadcastsOff(triples(graft.ops.DedupOps.minhashLshPairs(docs)))
    assert(a == b, s"join strategy changed results: ${(a -- b) ++ (b -- a)}")
    assert(a.nonEmpty, "fixture must be non-degenerate")
  }

  test("edit-distance profile joins plan as broadcasts at this scale; shuffle joins give the same pairs") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val docs = Tables.documents(spark, sfDir)
    // the key table is materialized before the verification joins, so the
    // planner sizes it from its cached bytes: at this scale both profile
    // joins (key_a, key_b) must broadcast, with no hint in the code
    val plan = staticPlan(graft.ops.DedupOps.editDistancePairs(docs))
    val profileBuilds = plan.collect { case j: BroadcastHashJoinExec =>
      (if (j.buildSide == BuildLeft) j.left else j.right).output.map(_.name)
    }.flatten.filter(n => n == "key_a" || n == "key_b")
    assert(profileBuilds.toSet == Set("key_a", "key_b"),
      s"profile joins did not both broadcast (build-side keys: $profileBuilds):\n$plan")
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val a = triples(graft.ops.DedupOps.editDistancePairs(docs))
    val b = withBroadcastsOff(triples(graft.ops.DedupOps.editDistancePairs(docs)))
    assert(a == b, s"join strategy changed results: ${(a -- b) ++ (b -- a)}")
    assert(a.nonEmpty, "fixture must be non-degenerate")
  }

  test("semantic kmeans dedup is CELL-BLOCKED: no cartesian, pair join keyed on the cell") {
    val emb = Tables.embeddings(spark, sfDir)
    val plan = staticPlan(
      graft.ops.VectorOps.semanticDupPairsKmeans(emb, 0.45))
    // the only nested-loop join allowed is the 1-row packed-centroid
    // broadcast (the Lloyd argmin shape); the corpus² cartesian is banned
    val cart = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(cart.isEmpty, s"semantic kmeans pair join went cartesian:\n$plan")
    // the verification join must be an EQUI-join whose keys include the
    // cell assignment (cosineNearDupPairs blocks on label = cell) — a key
    // set without it means pairs enumerate across cells: corpus² work
    val equiKeys = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name))
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name))
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name))
    }
    assert(equiKeys.exists(_.exists(_.contains("label"))),
      s"no equi-join keyed on the cell assignment:\n$plan")
    graft.ops.Exec.clearPinned(spark)
  }

  test("EXISTS/NOT EXISTS decorrelate to one semi + one anti join, no cartesian") {
    val plan = executedPlan("rel_exists_subquery")
    assert(plan.contains("LeftSemi"),
      s"EXISTS did not decorrelate to a semi join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS did not decorrelate to an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"correlated subquery fell back to a cartesian:\n$plan")
  }

  test("NOT IN / correlated-select-agg / LATERAL decorrelate: no cartesian, no nested loop") {
    // the raw NOT-IN-over-nullable-rhs branch must plan as a single-key
    // NULL-AWARE anti join (NAAJ on a broadcast hash relation) — the only
    // scalable physical shape for 3VL NOT IN. Assert the typed node fields,
    // not the toString (whose argument order is Spark-version-specific).
    val naajNodes = staticPlan(SparkEntry.queries("rel_not_in_subquery")(spark, sfDir))
      .collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti &&
            j.isNullAwareAntiJoin => j
      }
    assert(naajNodes.nonEmpty,
      s"raw NOT IN did not plan as a null-aware anti join:\n${executedPlan("rel_not_in_subquery")}")
    Seq("rel_not_in_subquery", "rel_correlated_select_agg", "rel_lateral_topk")
      .foreach { q =>
        val p = executedPlan(q)
        assert(!p.contains("CartesianProduct"), s"$q fell back to a cartesian:\n$p")
        assert(!p.contains("BroadcastNestedLoop"),
          s"$q planned a nested-loop join:\n$p")
      }
    // LATERAL ... ORDER BY ... LIMIT must decorrelate to a per-key window
    // rank — one shuffle on the correlation key, never a per-row re-scan
    // WindowGroupLimit = the rank-limit pushdown: partial top-3 per key
    // BEFORE the shuffle, so the exchange moves at most 3 rows per key
    val lat = executedPlan("rel_lateral_topk")
    assert(lat.contains("WindowGroupLimit"),
      s"LATERAL LIMIT did not decorrelate to a pushed-down window rank:\n$lat")
  }

  test("kNN OOD: top-k pushdown + broadcast query side — no embedding in a hash exchange") {
    val plan = executedPlan("vec_knn_ood")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k lost its rank-limit pushdown:\n$plan")
    val hashed = staticExchanges(SparkEntry.queries("vec_knn_ood")(spark, sfDir))
      .filter(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    hashed.foreach { e =>
      val out = e.output.map(_.name)
      assert(!out.exists(n => n == "v" || n == "q" || n == "embedding"),
        s"embedding array crosses a hash exchange: ${out.mkString(",")}")
    }
  }

  test("per-query top-k windows get rank-limit pushdown (partial top-k before the exchange)") {
    // row_number().over(query window) + filter(rank <= k) must plan with a
    // WindowGroupLimit BELOW the exchange: each map task prunes to its own
    // top-k, so the per-query partition never materializes the full
    // candidate set in one task — the property that keeps the brute-force
    // scorers runnable at corpus scale
    val plan = executedPlan("vec_knn_cosine")
    assert(plan.contains("WindowGroupLimit"),
      s"top-k window lost its rank-limit pushdown:\n$plan")
  }

  test("rewrite dedup: winner election shuffles fingerprints; text moves at most once") {
    val exchanges =
      staticExchanges(SparkEntry.queries("dedup_blocks_rewrite")(spark, sfDir))
    assert(exchanges.nonEmpty, "expected at least the winner-election exchange")
    // the one exchange allowed to carry text is the doc_id join the rewrite
    // must pay; the block-fp window election must stay narrow
    val wide = exchanges.count(
      _.output.map(_.name).exists(n => n == "text" || n == "toks" || n == "kept"))
    assert(wide <= 1,
      s"document text crosses $wide exchanges; the election shuffle leaked text")
  }

  test("ngram novelty: hash-partitioned exchanges carry only longs, never text") {
    // the final presentation orderBy legitimately range-exchanges the
    // (doc_id, counts, novelty) OUTPUT row; the corpus-wide work rides the
    // HASH exchanges, and those must stay (doc_id, h) longs
    val hashed = staticExchanges(SparkEntry.queries("txt_ngram_novelty")(spark, sfDir))
      .filter(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hashed.nonEmpty, "novelty needs its first-seen aggregate exchange")
    hashed.foreach { e =>
      e.output.foreach(a =>
        assert(a.dataType == org.apache.spark.sql.types.LongType,
          s"non-long ${a.name}: ${a.dataType} in a novelty hash exchange"))
    }
  }

  test("cross-doc ngrams: strings shuffle only after the hash-qualifier join") {
    // pass 1 (the unbounded hash count) runs EAGERLY inside
    // crossDocNgrams' own qualifier count, so its narrow exchange lives in
    // that earlier job; this plan must show the qualifier join, and no exchange
    // here may carry the raw corpus text/token columns — the only strings
    // allowed to move are post-qualification n-grams
    val plan = staticPlan(SparkEntry.queries("txt_crossdoc_ngrams")(spark, sfDir))
    val planStr = plan.toString
    assert(planStr.contains("BroadcastHashJoin") || planStr.contains("SortMergeJoin"),
      s"hash-qualifier join missing:\n$planStr")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val out = e.output.map(_.name)
      assert(!out.exists(n => n == "text" || n == "toks"),
        s"raw corpus text crosses an exchange: ${out.mkString(",")}")
    }
  }

  test("cross-doc ngrams past the qualifier gate: the cut broadcasts, top-k unchanged") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val docs = Tables.documents(spark, sfDir)
    // a zero gate forces the boundary-cut branch: the cut is materialized
    // and broadcast on its measured size, so pass 2 joins map-side and no
    // corpus-scale string stream reaches a shuffle before the join
    val cut = graft.ops.TextOps.crossDocNgrams(docs, maxBroadcastQualifiers = 0L)
    val plan = staticPlan(cut)
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"the cut's join is a shuffle join:\n$plan")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }
      .exists(_.output.exists(_.name == "n_docs")),
      s"the cut's join is not a broadcast:\n$plan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val full = rows(graft.ops.TextOps.crossDocNgrams(docs))
    assert(rows(cut) == full, "the boundary cut changed the top-k")
    assert(full.nonEmpty, "fixture must be non-degenerate")
  }

  test("incremental substring spans: the batch probe set broadcasts on its measured size") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val plan = staticPlan(SparkEntry.queries("dedup_incremental_substr")(spark, sfDir))
    assert(plan.collect { case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j }
      .nonEmpty, s"the corpus windows do not semi-join a broadcast probe set:\n$plan")
  }

  test("z-order stats: pure aggregation plan - no joins, at most agg+sort exchanges") {
    val plan = staticPlan(SparkEntry.queries("store_zorder_stats")(spark, sfDir))
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 2,
      s"z-order stats should shuffle once for the agg plus once for the sort, got ${exchanges.size}")
    assert(!plan.toString.contains("Join"), "layout stats must not join anything")
  }

  test("edit-distance exchanges never carry the hashed-gram arrays; keys only collapse") {
    // candidate generation shuffles 3-char grams + long ids; the per-doc
    // profile (key + 62-long hash array) is broadcast. The ONLY exchanges
    // allowed to carry the 64-char key are the identical-key collapse
    // groupBy (data-proportional, same cost class as exact dedup's
    // fingerprint shuffle) — the hashed-gram arrays must never move.
    val exchanges = staticExchanges(
      SparkEntry.queries("dedup_edit_distance")(spark, sfDir))
    assert(exchanges.nonEmpty, "edit-distance plan must contain real shuffles")
    exchanges.foreach { e =>
      val out = e.output.map(_.name)
      assert(!out.exists(n => n == "hs" || n.startsWith("hs_") || n == "text"),
        s"gram array or raw text crosses an exchange: ${out.mkString(",")}")
    }
    val keyCarrying = exchanges.count(_.output.exists(a =>
      a.name == "key" || a.name.startsWith("key_")))
    assert(keyCarrying <= 2,
      s"keys should cross only the collapse groupBy, got $keyCarrying exchanges")
  }

  test("holt forecast: coefficient table broadcasts; no per-step shuffle chain") {
    val plan = staticPlan(SparkEntry.queries("ts_holt_forecast")(spark, sfDir))
    assert(plan.toString.contains("BroadcastExchange"),
      s"A^k coefficient table must broadcast:\n$plan")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the whole closed form costs a bounded handful of narrow exchanges
    // (series window, heads agg, term agg, final sort) — a per-time-step
    // loop would blow far past this
    assert(shuffles.nonEmpty && shuffles.size <= 8,
      s"expected a bounded narrow-exchange plan, got ${shuffles.size} shuffles")
  }

  test("hierarchy rollup: no joins — ancestor explode feeds one aggregation tree") {
    val plan = staticPlan(SparkEntry.queries("rel_hierarchy_rollup")(spark, sfDir))
    assert(!plan.toString.contains("Join"),
      s"ancestor-explode rollup must not join:\n$plan")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "rollup must really aggregate across partitions")
    exchanges.foreach { e =>
      val narrow: Set[org.apache.spark.sql.types.DataType] = Set(
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.DoubleType)
      assert(e.output.forall(a => narrow.contains(a.dataType)),
        s"non-narrow column in rollup exchange: ${e.output.map(_.name).mkString(",")}")
    }
  }

  test("top supplier share: one lineitem scan, both windows share one l_partkey exchange") {
    // pins the r9 single-scan rewrite: the per-part denominator is a window
    // sum over the reduced (part, supp) frame — NOT a second lineitem
    // aggregate joined back. A reorder that splits the two window functions
    // onto separate exchanges, or re-derives the total from lineitem, fails
    // here long before it shows up as a 2x scan in a bench.
    val plan = staticPlan(SparkEntry.queries("rel_top_supplier_share")(spark, sfDir))
    val planStr = plan.toString
    val scans = planStr.split("\n").count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"lineitem must be scanned exactly once, got $scans:\n$planStr")
    val partkeyExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
              if h.expressions.length == 1 &&
                h.expressions.head.references.map(_.name).toSet == Set("l_partkey") => 1
          case _ => 0
        }
    }.sum
    assert(partkeyExchanges == 1,
      s"both window functions must share ONE l_partkey exchange, got $partkeyExchanges:\n$planStr")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.length == 2,
      s"expected the total-sum and rank windows, got ${windows.length}:\n$planStr")
  }

  test("heavy hitters: corpus explodes once — consumers read shared reduced counts") {
    // pins the r9 single-explode contract, updated for the r17b token-count
    // memo: the corpus explode now lives behind the memoized vocabulary-
    // sized (source, token, n) checkpoint, so NO GenerateExec may surface
    // in the visible tree (a re-derivation from raw text would bring one
    // back), and every cache scan present must share ONE materialized
    // counts frame (the persist over the memo rollup).
    graft.ops.Exec.releaseAll(spark)
    val plan = staticPlan(SparkEntry.queries("txt_heavy_hitters")(spark, sfDir))
    val generates = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.isEmpty,
      s"explode must live inside the shared counts frame, found ${generates.length} in the visible tree:\n$plan")
    val cacheScans = plan.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    // r18 (advisor): pin BOTH consumer arms — the threshold filter AND the
    // total rollup must each read the cached counts (≥ 2 scans), so a
    // regression where one arm re-derives its input from a second corpus
    // pass outside the cache fails here, not just the identity check
    assert(cacheScans.length >= 2,
      s"both the filter arm and the total arm must read the cached counts, " +
        s"got ${cacheScans.length} cache scan(s):\n$plan")
    assert(cacheScans.map(s => System.identityHashCode(s.relation.cachedPlan)).distinct.size == 1,
      "all cache scans must share ONE materialized counts frame")
    graft.ops.Exec.releaseAll(spark)
  }

  test("silver: a small cube sorts in one partition and writes one file; above the cap the global sort stays") {
    // a single-series cube sorts with coalesce(1) + sortWithinPartitions:
    // no range-partition sampling job and no shuffle; a cube above
    // Exec.SmallInputRows keeps the range-partitioned global sort
    def payload(geos: Int, coicops: Int, months: Int): String = {
      def index(codes: Seq[String]) =
        codes.zipWithIndex.map { case (c, i) => s""""$c": $i""" }.mkString("{", ", ", "}")
      val times = (0 until months).map(k => f"${2000 + k / 12}M${k % 12 + 1}%02d")
      s"""{"id": ["geo", "coicop", "time"], "size": [$geos, $coicops, $months],
         |"dimension": {"geo": {"category": {"index": ${index((0 until geos).map(g => s"G$g"))}}},
         |  "coicop": {"category": {"index": ${index((0 until coicops).map(c => s"C$c"))}}},
         |  "time": {"category": {"index": ${index(times)}}}},
         |"value": {"0": 1.5}}""".stripMargin
    }
    def shuffles(plan: org.apache.spark.sql.execution.SparkPlan) = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val small = graft.silver.SilverTransform.silver(spark, payload(2, 3, 24), "t", "raw/x.json")
    val smallPlan = staticPlan(small)
    assert(shuffles(smallPlan).isEmpty, s"small silver write must not shuffle:\n$smallPlan")
    val dir = tempDir("silver_small")
    small.write.mode("overwrite").parquet(dir.toString)
    val files = dir.toFile.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.length == 1, s"expected one parquet file, got ${files.toSeq}")
    val cells = 100L * 10 * 101
    assert(cells > graft.ops.Exec.SmallInputRows)
    val bigPlan = staticPlan(
      graft.silver.SilverTransform.silver(spark, payload(100, 10, 101), "t", "raw/x.json"))
    assert(shuffles(bigPlan).exists(_.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"above the cap silver must keep the range-partitioned sort:\n$bigPlan")
  }

  test("substring spans: one corpus pass, sort-based dup detection, no join-back") {
    // pins the r10 rewrite: duplicate windows are found by ONE exchange on
    // the hash + a per-key WindowExec count — NOT groupBy-count + join-back
    // (which degenerates at ~1 distinct hash per window and re-scans the
    // corpus). A reintroduced join or aggregate on h fails here.
    val plan = staticPlan(SparkEntry.queries("dedup_substring_spans")(spark, sfDir))
    val planStr = plan.toString
    val generates = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.length == 1,
      s"the corpus must explode exactly once, got ${generates.length}:\n$planStr")
    assert(!planStr.contains("Join"),
      s"dup detection must not join back to the corpus:\n$planStr")
    val hashAggsOnH = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
        if a.groupingExpressions.exists(_.toString.contains("h#")) => a
    }
    assert(hashAggsOnH.isEmpty,
      s"no hash aggregate on the window hash (degenerate partial agg):\n$planStr")
    // exactly one exchange keyed on h feeds the dup-count window; the only
    // other exchange keys the per-doc island merge
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.toString
    }
    assert(exchanges.count(_.contains("h#")) == 1,
      s"exactly one exchange on the window hash, got: $exchanges\n$planStr")
  }

  test("PCA projection is map-side: the corpus pass shuffles only for the final sort") {
    // pcaHead's internal aggregates hide behind its localCheckpoints, so
    // the projection plan is scan → fold → broadcast-join head → sort:
    // any HASH-partitioned exchange here means the per-vector projection
    // stopped being a map-side fold
    val exchanges = staticExchanges(
      SparkEntry.queries("vec_pca_project")(spark, sfDir))
    exchanges.foreach { e =>
      assert(e.outputPartitioning.toString.contains("rangepartitioning"),
        s"non-sort exchange in the projection pass: ${e.outputPartitioning}")
      assert(!e.output.map(_.name).contains("embedding"),
        "embedding array crosses the projection exchange")
    }
  }

  test("CMS sketch exchange is (row, bucket)-narrow: key strings stay out of the sketch build") {
    val exchanges = staticExchanges(
      SparkEntry.queries("ev_cms_heavy_keys")(spark, sfDir))
    assert(exchanges.nonEmpty, "CMS plan must contain its sketch aggregation")
    val sketchSide = exchanges.filter { e =>
      val names = e.output.map(_.name)
      names.contains("bucket") && !names.contains("key")
    }
    assert(sketchSide.nonEmpty,
      s"no key-free (r, bucket) sketch exchange found: " +
        exchanges.map(_.output.map(_.name).mkString("[", ",", "]")).mkString(" "))
  }

  test("BFS census: every exchange carries only fixed-width atomic columns") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val exchanges = staticExchanges(
      SparkEntry.queries("graph_bfs_layers")(spark, sfDir))
    exchanges.foreach { e =>
      e.output.foreach(a =>
        assert(a.dataType == LongType || a.dataType == IntegerType,
          s"wide column ${a.name}: ${a.dataType} in a BFS exchange"))
    }
  }

  test("bloom skipping: probe side broadcasts; no cartesian anywhere") {
    val plan = staticPlan(SparkEntry.queries("store_bloom_skip")(spark, sfDir))
    val planStr = plan.toString
    assert(!planStr.contains("CartesianProduct"),
      "bloom probe must not plan a cartesian")
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.nonEmpty, "the nProbes×kHashes probe side must broadcast")
  }

  test("image aHash pairs: no exchange ever carries the BMP payload bytes") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val exchanges = staticExchanges(
      SparkEntry.queries("mm_image_ahash_dedup")(spark, sfDir))
    exchanges.foreach { e =>
      e.output.foreach { a =>
        assert(a.dataType != BinaryType && a.dataType != StringType,
          s"payload-width column ${a.name}: ${a.dataType} in an aHash " +
            "exchange — hashes must reduce before any join")
      }
    }
  }

  test("embedding-cosine pairs: the pair join keys on (label, bucket), not label alone") {
    val plan = staticPlan(SparkEntry.queries("dedup_embedding_cosine")(spark, sfDir))
    // the bucket key is what turns |labels| skewed tasks into
    // labels×G(G+1)/2 work units — whether the small side broadcasts or
    // shuffles, the join condition must include q
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    val bucketed = joins.filter { j =>
      val keys = j.leftKeys.flatMap(_.references.map(_.name))
      keys.contains("q") && keys.contains("label")
    }
    assert(bucketed.nonEmpty,
      s"no (label, q)-keyed join found; join keys were: " +
        joins.map(_.leftKeys.flatMap(_.references.map(_.name))
          .mkString("[", ",", "]")).mkString(" "))
  }

  test("STL decomposition: seasonal index join is a broadcast, never a shuffle of the grid") {
    val plan = staticPlan(SparkEntry.queries("ts_stl_decompose")(spark, sfDir))
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.size >= 2, "the perKey totals and the seasonal-index frames must broadcast")
    assert(!plan.toString.contains("CartesianProduct"),
      "STL must not plan a cartesian")
  }

  test("rolling HLL window: raw user keys reduce to registers before any exchange") {
    // the property that makes the sketch-merge viable: the hashed 'key'
    // string reduces map-side to (day, reg, mr) — it must never cross an
    // exchange (the final day-string sort of the tiny result is fine)
    val exchanges = staticExchanges(
      SparkEntry.queries("ev_hll_window")(spark, sfDir))
    exchanges.foreach { e =>
      assert(!e.output.map(_.name).contains("key"),
        s"raw HLL key crossed an exchange: " +
          e.output.map(_.name).mkString("[", ",", "]"))
    }
  }

  test("histogram window: raw values reduce to (day, bucket) counts before the sketch merge") {
    // same reduction contract as the HLL window for the quantile sketch:
    // the double `value` column must never cross an exchange — only
    // bucket ids and counts do. (The exact-audit branch re-joins raw
    // events by design; it carries `value` but ONLY under the range join
    // keyed on the day spine, so the guard whitelists exchanges that
    // still carry event_id — the audit's tag.)
    val exchanges = staticExchanges(
      SparkEntry.queries("ev_quantile_window")(spark, sfDir))
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      if (!names.contains("event_id"))
        assert(!names.contains("value"),
          s"raw value crossed a sketch-path exchange: " +
            names.mkString("[", ",", "]"))
    }
  }

  test("MMR: shortlist pair-sims and greedy rounds never shuffle an embedding array") {
    import org.apache.spark.sql.types.ArrayType
    val exchanges = staticExchanges(
      SparkEntry.queries("vec_mmr_rerank")(spark, sfDir))
    exchanges.foreach { e =>
      e.output.foreach { a =>
        assert(!a.dataType.isInstanceOf[ArrayType],
          s"embedding array ${a.name} crossed an exchange — the pool and " +
            "pair-sim paths must broadcast the shortlist")
      }
    }
  }

  test("jaccard links: degree annotation joins broadcast; candidate exchanges stay (long, long)-narrow") {
    val plan = staticPlan(SparkEntry.queries("graph_jaccard_links")(spark, sfDir))
    val bcasts = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.size >= 2,
      s"deg_x/deg_y annotation should broadcast, found ${bcasts.size}")
    assert(!plan.toString.contains("CartesianProduct"),
      "wedge enumeration must stay key-equi-joined")
  }

  test("dHash pairs: no exchange carries payload bytes, bands hash-join narrow keys") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val exchanges = staticExchanges(
      SparkEntry.queries("mm_image_dhash_dedup")(spark, sfDir))
    exchanges.foreach { e =>
      e.output.foreach { a =>
        assert(a.dataType != BinaryType && a.dataType != StringType,
          s"payload-width column ${a.name}: ${a.dataType} in a dHash " +
            "exchange — hashes must reduce before any join")
      }
    }
  }

  test("modularity: the LPA label frame broadcasts into all three edge joins") {
    val plan = staticPlan(SparkEntry.queries("graph_modularity")(spark, sfDir))
    val bcasts = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.size >= 3,
      s"labels must broadcast into deg + both intra joins, found ${bcasts.size}")
  }

  test("incremental dedup: no shingle-hash array ever crosses an exchange") {
    import org.apache.spark.sql.types.ArrayType
    // the probe and verification joins are broadcast-gated — the standing
    // index's wide hash sets must stay where they live
    val exchanges = staticExchanges(
      SparkEntry.queries("dedup_incremental")(spark, sfDir))
    exchanges.foreach { e =>
      e.output.foreach { a =>
        assert(!a.dataType.isInstanceOf[ArrayType],
          s"hash array ${a.name} crossed an exchange — batch bands and " +
            "candidates must broadcast onto the index/set sides")
      }
    }
  }

  test("incremental substring spans: exchanges carry only (hash, id, pos)-narrow rows") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // the index probe is keyed on the 61-bit window hash; document text
    // must never shuffle (the batch operator's contract, inherited)
    val exchanges = staticExchanges(
      SparkEntry.queries("dedup_incremental_substr")(spark, sfDir))
    exchanges.foreach { e =>
      e.output.foreach { a =>
        assert(a.dataType != BinaryType && a.dataType != StringType,
          s"payload-width column ${a.name}: ${a.dataType} in an " +
            "ExactSubstr exchange — only hashes and positions may shuffle")
      }
    }
  }

  test("unigram LM: one corpus scan; EM folds shuffle only vocabulary-sized rows") {
    val plan = staticPlan(SparkEntry.queries("txt_unigram_lm")(spark, sfDir))
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size <= 1,
      s"unigram training must scan the corpus once, found ${scans.size} scans")
  }

  test("pipeline e2e: the packer sees bare ids — document text joins semi/anti only") {
    import org.apache.spark.sql.types.ArrayType
    // stages 1–4 filter by doc_id; the only wide exchange is the 5-gram
    // hash probe, and no exchange may carry a shingle array
    val exchanges = staticExchanges(
      SparkEntry.queries("txt_pipeline_e2e")(spark, sfDir))
    exchanges.foreach { e =>
      e.output.foreach { a =>
        assert(!a.dataType.isInstanceOf[ArrayType],
          s"array column ${a.name} crossed a pipeline exchange — shingles " +
            "must explode to scalar hashes before the decontamination probe")
      }
    }
  }

  test("pHash pairs: no exchange carries payload bytes, bands hash-join narrow keys") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val exchanges = staticExchanges(
      SparkEntry.queries("mm_image_phash_dedup")(spark, sfDir))
    exchanges.foreach { e =>
      e.output.foreach { a =>
        assert(a.dataType != BinaryType && a.dataType != StringType,
          s"payload-width column ${a.name}: ${a.dataType} in a pHash " +
            "exchange — hashes must reduce before any join")
      }
    }
  }

  test("Q7/Q8 star joins broadcast every (filtered) dimension side") {
    val q7 = executedPlan("rel_q7_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(q7).size >= 2,
      s"Q7 must broadcast both nation-filtered dim sides:\n$q7")
    val q8 = executedPlan("rel_q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(q8).size >= 3,
      s"Q8 must broadcast part/customer-region/supplier-nation dims:\n$q8")
  }

  test("Q10 pushes the quarter filter into the orders parquet scan") {
    val plan = executedPlan("rel_q10_returned_items")
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"),
      s"order-date window not pushed to the orders scan:\n$plan")
    assert(plan.contains("l_returnflag"),
      s"returnflag filter missing from the lineitem side:\n$plan")
  }

  test("random projection: no exchange carries the embedding or projected arrays") {
    import org.apache.spark.sql.types.ArrayType
    val exchanges = staticExchanges(
      SparkEntry.queries("vec_random_projection")(spark, sfDir))
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      e.output.foreach { a =>
        assert(!a.dataType.isInstanceOf[ArrayType],
          s"array column ${a.name} crossed a projection exchange — the " +
            "64-float embedding must collapse to ranks before any shuffle")
      }
    }
  }

  test("personalized PageRank exchanges stay (long, double) narrow") {
    val exchanges = staticExchanges(
      SparkEntry.queries("graph_ppr")(spark, sfDir))
    exchanges.foreach { e =>
      val wide = e.output.filter(a =>
        !a.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      assert(wide.isEmpty,
        s"non-numeric columns in a PPR exchange: ${wide.map(_.name).mkString(",")}")
    }
  }

  test("bootstrap CI explodes the per-user aggregate, never raw events") {
    // the B-fold explode must sit above the (type, user) aggregate: no
    // exchange may carry the raw event `value` or `props` columns
    val exchanges = staticExchanges(
      SparkEntry.queries("ev_bootstrap_ci")(spark, sfDir))
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("value") && !names.contains("props"),
        s"raw event columns cross a bootstrap exchange: ${names.mkString(",")}")
    }
  }

  test("Q6 pushes all three band predicates into the lineitem parquet scan") {
    // the canonical scan-filter-aggregate: shipdate + quantity must reach
    // the scan as pushed filters (row-group pruning at 100 TB); the
    // discount-band arithmetic stays a post-scan filter but the scan must
    // not read any column the query never touches
    val plan = executedPlan("rel_q6_revenue_delta")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate")
      && plan.contains("l_quantity"),
      s"ship-date/quantity predicates not pushed to the scan:\n$plan")
    assert(!plan.contains("l_orderkey") && !plan.contains("l_partkey"),
      s"Q6 scan reads unused columns:\n$plan")
  }

  test("Q19 disjunctive brackets stay ONE partkey equi-join, never a cartesian") {
    val plan = executedPlan("rel_q19_brackets")
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoop"),
      s"OR-of-conjunctions broke the equi-join:\n$plan")
    val scans = plan.split("\n").count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans == 1, s"lineitem must scan once, got $scans:\n$plan")
  }

  test("Q15 scalar max broadcasts back; supplier dim broadcasts; one fact aggregate") {
    val plan = staticPlan(SparkEntry.queries("rel_q15_top_supplier")(spark, sfDir))
    val planStr = plan.toString
    assert(!planStr.contains("CartesianProduct"),
      s"max join-back degenerated:\n$planStr")
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.size >= 2, s"the 1-row max and the supplier dim must broadcast:\n$planStr")
    // the per-supplier aggregate is pinned: the scalar max and the
    // join-back must BOTH read the one cached frame (one fact scan total)
    val cacheScans = plan.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(cacheScans.length >= 2,
      s"max and join-back must both read the cached rev frame, got ${cacheScans.length}:\n$planStr")
    // the fact table is read only THROUGH the pinned frame (the cache
    // manager computes it once): no lineitem file scan outside the cache
    val visibleScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("lineitem") => f
    }
    assert(visibleScans.isEmpty,
      s"lineitem scanned outside the cached rev frame:\n$planStr")
    graft.ops.Exec.clearPinned(spark)
  }

  test("hilbert layout stats is a single-exchange scan-aggregate") {
    // one hash exchange (the range aggregate); the output orderBy's range
    // partitioning over ≤16 rows is presentation, not data movement
    val hashEx = staticExchanges(
      SparkEntry.queries("store_hilbert_stats")(spark, sfDir))
      .filter(_.outputPartitioning.toString.contains("hashpartitioning"))
    assert(hashEx.length == 1,
      s"hilbert stats should hash-shuffle exactly once (the range " +
        s"aggregate), got ${hashEx.length}")
  }
}
