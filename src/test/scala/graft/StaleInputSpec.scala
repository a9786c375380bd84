package graft

import org.apache.spark.sql.DataFrame

/** A session that rewrites a table at the same path must see the new rows:
  * no operator may hand a later query frames built from an earlier query's
  * input. Each query builds its intermediates from its inputs, and
  * `Exec.clearPinned` (the bench's between-query call) releases them. */
class StaleInputSpec extends SparkSpec {

  test("a table rewritten in place: the next run equals a run on the new data") {
    import spark.implicits._
    // two versions of each table with different rows: the residue graph
    // differs, and so do the vocabulary and the near-duplicate pairs
    def lineitem(partMul: Long, suppMul: Long): DataFrame = (0L until 300L)
      .map(o => (o, o * partMul % 97, o * suppMul % 31))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
    def documents(prefix: String, dupIds: Set[Long]): DataFrame = {
      def text(i: Long) = (0 until 20).map(j => s"$prefix${i}w$j").mkString(" ")
      (0L until 24L).map { i =>
        // a near duplicate of the previous document: one word changed
        val t = if (dupIds(i)) text(i - 1).replace(s"$prefix${i - 1}w19", "tail") else text(i)
        (i, s"src${i % 3}", t)
      }.toDF("doc_id", "source", "text")
    }
    def write(dir: String, li: DataFrame, docs: DataFrame): Unit = {
      li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    val names = Seq("graph_pagerank", "txt_token_freq", "dedup_minhash_lsh")
    def run(dir: String): Map[String, Seq[org.apache.spark.sql.Row]] =
      names.map { n =>
        val rows = SparkEntry.queries(n)(spark, dir).collect().toSeq
        graft.ops.Exec.clearPinned(spark)
        n -> rows
      }.toMap

    graft.ops.Exec.clearPinned(spark)
    val dir = tempDir("stale-input").toString
    write(dir, lineitem(7, 13), documents("a", Set(1L, 3L, 5L)))
    val before = run(dir)
    write(dir, lineitem(11, 3), documents("b", Set(13L, 15L, 17L)))
    val after = run(dir)
    val fresh = tempDir("stale-input-ref").toString
    write(fresh, lineitem(11, 3), documents("b", Set(13L, 15L, 17L)))
    val reference = run(fresh)
    graft.ops.Exec.clearPinned(spark)

    names.foreach { n =>
      assert(reference(n).nonEmpty, s"$n: fixture gives no rows")
      assert(before(n) != reference(n), s"$n: the two table versions give the same rows")
      assert(after(n) == reference(n),
        s"$n: rerun after the rewrite returned ${after(n).take(3)}, " +
          s"the new data gives ${reference(n).take(3)}")
    }
  }
}
