package graft

/** Guards on the driver contract itself — the things the oracle harness
  * assumes rather than checks.
  */
class SparkEntrySpec extends SparkSpec {

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key names a declared query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("query registry is non-trivial and name-unique") {
    assert(SparkEntry.queries.size >= 60)
    assert(SparkEntry.oracleSql.size >= 55)
  }

  test("every query runs and yields a non-degenerate result at sf0.001") {
    // This sweep doubles as the persist-hygiene audit: it mirrors Verify's
    // between-queries contract (Exec.clearPinned after each query) and
    // asserts NO query leaves a cached plan or pinned RDD block behind it
    // — i.e. every operator-internal pin went through Exec.pin or
    // Exec.checkpoint. An operator whose pin escapes the registry fails
    // here by name.
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val run =
        try {
          val n = fn(spark, "/root/testdata/sf0.001").count()
          if (n == 0 &&
            !Set("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embedding_cosine",
              "dedup_simhash", "dedup_incremental_cosine", "rel_join_anti")
              .contains(name))
            Some(s"$name: 0 rows") else None
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(100)}") }
      graft.ops.Exec.clearPinned(spark)
      val pinned = spark.sparkContext.getPersistentRDDs
      val leak =
        if (pinned.nonEmpty)
          Some(s"$name: ${pinned.size} RDD blocks still pinned after clearPinned")
        else if (!spark.sharedState.cacheManager.isEmpty)
          Some(s"$name: cached plans survive clearPinned")
        else None
      run.toSeq ++ leak.toSeq
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
