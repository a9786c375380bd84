package graft.stream

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.DedupOps

/** The streaming Bloom gate is verified against the one-shot judge:
  * batch i's persisted decisions must equal
  * `bloomJudge(corpus ∪ batches < i, batch i)` (delta identity — a
  * decision depends only on the bit/key sets accumulated strictly before
  * the batch), no true duplicate may ever fail the gate, and crash
  * replay at both points (decisions written / index contribution lost)
  * must be idempotent.
  */
class BloomStreamSpec extends SparkSpec {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  // a small power-of-two filter so false positives actually occur and the
  // delta identity is exercised on a non-trivial gate, not a vacuous one
  private val m = 4096
  private val k = 3

  test("micro-batched bloom gate == per-batch one-shot judge (delta identity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batchAll = docs.filter(col("doc_id") % 10 === 0)
    val tmp = tempDir("bloom_stream").toString
    BloomStream.seedIndex(corpus, s"$tmp/index", m, k)
    val mem = MemoryStream[(Long, String)]
    val q = BloomStream.run(
      mem.toDF().toDF("doc_id", "text"),
      s"$tmp/index", s"$tmp/out", s"$tmp/ckpt", m, k)
    // Inject true duplicates OURSELVES (copies of corpus texts under fresh
    // doc_ids): the driver's corpus carries no exact-dup guarantee — the
    // 2026-08-16 regeneration has zero duplicate texts at sf0.001/0.01 —
    // so the non-vacuity of the `dup==1` arm must come from the fixture,
    // never from assumed data structure (r15 verdict item 1).
    val natural = batchAll.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val injected = corpus.select("doc_id", "text").orderBy("doc_id").limit(12)
      .collect().zipWithIndex
      .map { case (r, i) => (maxId + 1 + i, r.getString(1)) }
    val rows = (natural ++ injected).sortBy(_._1)
    val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    chunks.foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "pass", "dup").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    // per-batch delta identity against the one-shot judge over the
    // prior-union (corpus + strictly earlier chunks)
    var prior = corpus.select("doc_id", "text")
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val got = rowsOf(spark.read.parquet(s"$tmp/out")
        .filter(col("src_batch") === i))
      val batchDf = chunk.toSeq.toDF("doc_id", "text")
      val want = rowsOf(DedupOps.bloomJudge(
        DedupOps.bloomPositions(prior, m, k).select(col("bit")).distinct(),
        DedupOps.bloomKeys(prior), batchDf, m, k))
      assert(got == want,
        s"batch $i drifted: only-stream=${(got -- want).take(3)} " +
          s"only-oneshot=${(want -- got).take(3)}")
      prior = prior.unionByName(batchDf)
    }
    val all = rowsOf(spark.read.parquet(s"$tmp/out"))
    assert(all.size == rows.length, "every batch doc judged exactly once")
    assert(!all.exists { case (_, pass, dup) => dup == 1L && !pass },
      "a true duplicate failed the gate — bloom false negative")
    assert(all.exists(_._3 == 1L), "fixture must contain true duplicates")
    assert(all.exists { case (_, pass, dup) => pass && dup == 0L },
      s"m=$m should be saturated enough to produce false positives")
  }

  test("replaying a bloom micro-batch is idempotent at both crash points") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0).limit(40)
    val tmp = tempDir("bloom_replay").toString
    BloomStream.seedIndex(corpus, s"$tmp/index", m, k)
    BloomStream.processBatch(batch.toDF(), 0L, s"$tmp/index", s"$tmp/out", m, k)
    def snapshot() = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "pass", "dup").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq.sorted
    val first = snapshot()
    // crash-replay with the index ALREADY holding src_batch=0 rows: the
    // judge must exclude them (no self-gating) and the writes must replace
    BloomStream.processBatch(batch.toDF(), 0L, s"$tmp/index", s"$tmp/out", m, k)
    assert(snapshot() == first, "replay changed the gate decisions")
    // the other crash point: decisions committed, index contribution lost
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$tmp/index/bits/src_batch=0"))
      .deleteRecursively()
    new Directory(new java.io.File(s"$tmp/index/keys/src_batch=0"))
      .deleteRecursively()
    BloomStream.processBatch(batch.toDF(), 0L, s"$tmp/index", s"$tmp/out", m, k)
    assert(snapshot() == first, "post-crash replay drifted")
    val parts = spark.read.parquet(s"$tmp/index/bits")
      .select(col("src_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(parts == Set(-1L, 0L), s"bit partitions after replay: $parts")
  }
}
