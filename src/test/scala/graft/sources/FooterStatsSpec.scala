package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The footer-skipping loop on a hand-enumerable layout: 600 consecutive
  * days from the anchor → exactly 5 buckets of 120 days each, so bucket
  * envelopes, counts and skip verdicts are all derivable by arithmetic —
  * and the operator must reproduce them FROM THE WRITTEN PARQUET FOOTERS.
  */
class FooterStatsSpec extends SparkSpec {

  private def mkOrders(nDays: Int) = {
    import spark.implicits._
    (0 until nDays)
      .map(i => java.sql.Date.valueOf(
        LocalDate.parse(FooterStats.Anchor).plusDays(i.toLong)))
      .toDF("o_orderdate")
  }

  test("footer stats reproduce the exact per-bucket envelope and row count") {
    val out = tempDir("footer_spec").toString
    val res = FooterStats
      .dateBucketSkipStats(mkOrders(600), out, "1992-09-01", "1993-01-31")
      .collect()
    assert(res.length == 5, s"expected 5 buckets, got ${res.length}")
    res.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Int]("bucket") == i)
      assert(r.getAs[Long]("n_rows") == 120L,
        s"bucket $i footer row count ${r.getAs[Long]("n_rows")}")
      val expectedMin = LocalDate.parse(FooterStats.Anchor)
        .plusDays(i * 120L).toString
      val expectedMax = LocalDate.parse(FooterStats.Anchor)
        .plusDays(i * 120L + 119).toString
      assert(r.getAs[String]("min_date") == expectedMin,
        s"bucket $i min ${r.getAs[String]("min_date")} != $expectedMin")
      assert(r.getAs[String]("max_date") == expectedMax)
    }
    // predicate [1992-09-01, 1993-01-31] = days [244, 396] → overlaps
    // buckets 2 (240–359) and 3 (360–479); 0, 1, 4 skip on footer stats
    val skipped = res.map(r => r.getAs[Int]("bucket") -> r.getAs[Boolean]("skipped")).toMap
    assert(skipped == Map(0 -> true, 1 -> true, 2 -> false, 3 -> false, 4 -> true),
      s"skip verdicts $skipped")
  }

  test("reported totals agree with an independent footer-only walk (metadata path, no data scan)") {
    // independent footer walk with parquet-hadoop: total row count across
    // all bucket files must equal the operator's footer-derived total AND
    // the input size — proving the numbers are committed metadata
    val out = tempDir("footer_spec2").toString
    val res = FooterStats
      .dateBucketSkipStats(mkOrders(250), out, "1992-01-01", "1992-02-01")
      .agg(sum(col("n_rows"))).collect()(0).getLong(0)
    assert(res == 250L)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    var footerRows = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try footerRows += r.getRecordCount
        finally r.close()
      }
    }
    assert(footerRows == 250L, s"independent footer walk saw $footerRows rows")
  }
}
