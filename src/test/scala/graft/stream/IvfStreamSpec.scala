package graft.stream

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The streaming IVF maintenance twin is verified against the one-shot
  * batch form: assignments are a pure per-vector function of the FROZEN
  * seed-time cells, so the union of per-batch assignment partitions must
  * equal one assignment pass over corpus ∪ batches against the same
  * cells, and the incrementally-maintained balance census must equal the
  * census recomputed from that one-shot assignment. Replay safety is
  * exercised at both crash points (partitions replaced, nothing doubled).
  */
class IvfStreamSpec extends SparkSpec {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("micro-batched IVF maintenance == one-shot assignment on frozen cells") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val batchAll = emb.filter(col("vec_id") % 5 === 0)
    val tmp = tempDir("ivf_stream").toString
    IvfStream.seedIndex(corpus, s"$tmp/index")
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = IvfStream.run(
      mem.toDF().toDF("vec_id", "embedding"),
      s"$tmp/index", s"$tmp/ckpt")
    val rows = batchAll.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // union of all assignment partitions (seed + micro-batches) ==
    // one-shot assignment of the full union against the frozen cells
    val got = spark.read.parquet(s"$tmp/index/assign")
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val cells = spark.read.parquet(s"$tmp/index/cells")
    val want = IvfStream.assignToCells(emb, cells)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want,
      s"streamed != one-shot: only-stream=${(got -- want).take(3)} " +
        s"only-batch=${(want -- got).take(3)}")
    assert(got.size == emb.count(), "every vector must be assigned once")
    // the incrementally-maintained census == census recomputed from the
    // one-shot assignment counts
    val census = IvfStream.balanceCensus(spark, s"$tmp/index")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSeq
    val counts = want.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val total = counts.values.sum.toDouble
    val k = counts.size
    val maxN = counts.values.max
    def q4d(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val expected = counts.toSeq.sortBy(_._1).map { case (c, n) =>
      (c, n, q4d(n * k / total), q4d(maxN.toDouble * k / total)) }
    assert(census == expected, s"census drifted:\n$census\nvs\n$expected")
    // the BATCH TWIN (registry query vec_ivf_stream_census rides this):
    // freeze-on-corpus + assign corpus ∪ batch == the maintained census
    val twin = IvfStream.batchCensus(corpus, batchAll)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).toSeq
    assert(twin == census, s"batch twin drifted:\n$twin\nvs\n$census")
  }

  test("replaying an IVF maintenance batch is idempotent") {
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0).limit(40)
    val tmp = tempDir("ivf_replay").toString
    IvfStream.seedIndex(corpus, s"$tmp/index")
    IvfStream.processBatch(batch.toDF(), 0L, s"$tmp/index")
    def snapshot() = (
      spark.read.parquet(s"$tmp/index/assign")
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted,
      IvfStream.balanceCensus(spark, s"$tmp/index")
        .collect().map(_.toString).toSeq)
    val first = snapshot()
    // crash-replay with the partitions already present: must REPLACE
    IvfStream.processBatch(batch.toDF(), 0L, s"$tmp/index")
    assert(snapshot() == first, "replay changed assignments or census")
    // the other crash point: deltas committed but assignments lost
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$tmp/index/assign/src_batch=0"))
      .deleteRecursively()
    IvfStream.processBatch(batch.toDF(), 0L, s"$tmp/index")
    assert(snapshot() == first, "post-crash replay drifted")
    val parts = spark.read.parquet(s"$tmp/index/deltas")
      .select(col("src_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(parts == Set(-1L, 0L), s"delta partitions after replay: $parts")
  }
}
