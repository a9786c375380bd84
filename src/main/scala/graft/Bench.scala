package graft

/** Benchmark main: one JSON line with per-query wall-clock seconds at the
  * SF dir given by SPARK_GRAFT_SF_DIR (driver contract).
  *
  * A warm-up pass (tiny SF) runs first so JIT/codegen compilation cost lands
  * outside the measured numbers; queries run in sorted name order for
  * run-to-run comparability.
  *
  * Each query is then measured over SPARK_GRAFT_PASSES (default 2) full
  * passes and the reported number is the per-query MINIMUM — the standard
  * repeat-timing estimator for the engine's own cost, robust to transient
  * box load from whatever else shares the machine (run-to-run noise on a
  * busy host reached 35× on sub-second queries; the min of two passes
  * bounds it). `Exec.clearPinned` runs after every query, releasing every
  * frame the query pinned, so every rep is a cold-cache run of the full
  * query including its parquet scans and its own intermediate builds — no
  * query reuses another query's frames.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional args: restrict to the named queries (targeted profiling)
    val names =
      if (args.nonEmpty) args.toSeq.filter(SparkEntry.queries.contains).sorted
      else SparkEntry.queries.keys.toSeq.sorted
    // warm-up at the smallest SF: pays JIT + codegen + parquet-footer costs
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    graft.ops.Exec.clearPinned(spark)

    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val timings = (1 to passes).map { _ =>
      names.map { name =>
        val t0 = System.nanoTime()
        try { SparkEntry.queries(name)(spark, sfDir).count() }
        catch { case _: Throwable => -1L }
        val secs = (System.nanoTime() - t0) / 1e9
        // drop the pins this query left behind: the next measurement (and
        // the next pass of THIS query) must start from a cold cache
        graft.ops.Exec.clearPinned(spark)
        name -> secs
      }
    }
    val results = names.map { name =>
      name -> timings.map(_.toMap.apply(name)).min
    }
    // The driver keeps only a 2000-char tail of the sbt output and parses the
    // JSON line out of it; sbt's trailing "[success] ..." line eats ~80 of
    // those chars, so the line must stay under ~1900 chars. Start at
    // 3-decimal (millisecond) resolution and degrade to 2 decimals if the
    // query count pushes the line over budget.
    val total = results.map(_._2).sum
    val sfName = new java.io.File(sfDir).getName
    // Host-weather canary (r16 verdict item 1), measured INSIDE the
    // official run AFTER the timed passes: the MicroBench composite CPU+IO
    // job whose wall time tracks the box, not any plan. Dividing it by
    // MICROBENCH.json's committed `_canary` gives the run's host band, so
    // the artifact self-adjudicates slow-window spikes instead of leaving
    // them to narrative. Additive JSON key — the driver's parser ignores
    // keys it doesn't read, and the existing keys are untouched.
    val canary =
      try MicroBench.canarySecs(spark, sfDir)
      catch { case _: Throwable => 0.0 }
    def render(decimals: Int): String = {
      def f(v: Double): String = s"%.${decimals}f".format(v)
      val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,""" +
        s""""canary":${"%.3f".format(canary)},"sf":"$sfName"}"""
    }
    // if even 1-decimal resolution overflows the tail budget (the per-query
    // map grows with the registry), keep the SLOWEST queries that fit and
    // count the omissions — the total and the hot spots always survive
    val line = Iterator(3, 2, 1).map(render).find(_.length <= 1850).getOrElse {
      val sorted = results.sortBy { case (n, v) => (-v, n) }
      def renderTop(k: Int): String = {
        def f(v: Double): String = "%.1f".format(v)
        val qs = sorted.take(k).map { case (n, v) => "\"" + n + "\":" + f(v) }
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,""" +
          s""""omitted":${results.size - k},""" +
          s""""canary":${"%.3f".format(canary)},"sf":"$sfName"}"""
      }
      (results.size to 1 by -1).iterator.map(renderTop)
        .find(_.length <= 1850).getOrElse(renderTop(1))
    }
    println(line)
    // The stdout line above is size-capped (the driver keeps only a 2000-char
    // tail), so when the registry outgrows the budget it keeps the SLOWEST
    // queries and counts the rest as "omitted". The COMPLETE per-query map —
    // every timed query at millisecond resolution — lands in a sibling
    // artifact for regression tracking of the fast half too:
    // SPARK_GRAFT_BENCH_OUT, or BENCH_FULL.json for a full-registry run. A
    // run restricted to named queries writes no file unless
    // SPARK_GRAFT_BENCH_OUT names one (it must not replace the committed
    // full-registry map with a subset); it prints the full map instead.
    val full = render(3)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse(
        if (args.nonEmpty) None else Some("BENCH_FULL.json")) match {
      case Some(fullOut) =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(fullOut),
          full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case e: Throwable => System.err.println(s"bench full-map write failed: $e") }
      case None => if (full != line) println(full)
    }
    spark.stop()
  }
}
