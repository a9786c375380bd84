package graft

/** Plan-inspection main: prints `explain("formatted")` for the given query
  * names (or a representative default set) so scan pushdown, broadcast
  * choices, and whole-stage-codegen spans can be audited.
  *
  *   sbt "runMain graft.Explain [sfDir] [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq.filter(SparkEntry.queries.contains)
      else Seq("rel_q5_region_revenue", "rel_q1_pricing_summary", "rel_topk_parts",
        "ev_sessionize", "dedup_minhash_lsh", "vec_knn_cosine")
    val spark = Sessions.local("4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
