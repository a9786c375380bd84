package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.{DedupOps, Exec}

/** The streaming incremental dedup twin is verified against the one-shot
  * batch operator: feeding the batch slice through N micro-batches and
  * unioning the per-batch pair outputs must reproduce
  * `incrementalMinhashPairs(corpus, batch)` EXACTLY (delta identity — the
  * later of a pair's two batches emits it, once). Replay safety is
  * exercised by re-running a batch id against an index that already holds
  * its rows. Every contract is checked through both branches of
  * `processBatch`; the parity specs compare the two branches' partitions.
  */
class DedupStreamSpec extends SparkSpec {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private type Branch = (Dataset[Row], Long, String, String) => Unit
  private val branches: Seq[(String, Branch)] = Seq(
    "driver" -> { (b, id, idx, out) =>
      assert(DedupStream.processBatchOnDriver(b, id, idx, out, 32, 8, 0.5),
        "the small batch must take the driver branch")
    },
    "distributed" -> { (b, id, idx, out) =>
      DedupStream.processBatchDistributed(b, id, idx, out, 32, 8, 0.5)
    })

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("micro-batched incremental dedup == one-shot batch delta") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batchAll = docs.filter(col("doc_id") % 10 === 0)
    val want = triples(DedupOps.incrementalMinhashPairs(corpus, batchAll)).toSet
    // three micro-batches split by doc_id — arrival order is ingest order
    val rows = batchAll.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // each branch, and the gated step that picks one per batch
    val gated: Branch = (b, id, idx, out) => DedupStream.processBatch(b, id, idx, out)
    (branches :+ ("gated" -> gated)).foreach { case (name, branch) =>
      val tmp = tempDir("dedup_stream").toString
      DedupStream.seedIndex(corpus, s"$tmp/index")
      val mem = MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          branch(batch, batchId, s"$tmp/index", s"$tmp/pairs")
        }
        .start()
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      q.stop()
      val got = triples(spark.read.parquet(s"$tmp/pairs")).toSet
      assert(got == want,
        s"$name: streamed != batch: only-stream=${(got -- want).take(3)} " +
          s"only-batch=${(want -- got).take(3)}")
    }
    assert(want.nonEmpty, "the split must produce at least one pair")
  }

  test("replaying a micro-batch is idempotent (partitions replaced, no double pairs)") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0).limit(40)
    branches.foreach { case (name, branch) =>
      val tmp = tempDir("dedup_replay").toString
      DedupStream.seedIndex(corpus, s"$tmp/index")
      branch(batch.toDF(), 0L, s"$tmp/index", s"$tmp/pairs")
      val first = triples(spark.read.parquet(s"$tmp/pairs"))
      // crash-replay: the index ALREADY contains src_batch=0 rows; the probe
      // must exclude them and the writes must replace, not append
      branch(batch.toDF(), 0L, s"$tmp/index", s"$tmp/pairs")
      val second = triples(spark.read.parquet(s"$tmp/pairs"))
      assert(first == second, s"$name: replay changed the pair output")

      // the OTHER crash point: pairs committed but the index contribution
      // lost (died between the two writes). Replay must restore the index
      // partitions and leave the pair output byte-identical.
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$tmp/index/bands/src_batch=0")).deleteRecursively()
      new Directory(new java.io.File(s"$tmp/index/sets/src_batch=0")).deleteRecursively()
      branch(batch.toDF(), 0L, s"$tmp/index", s"$tmp/pairs")
      val third = triples(spark.read.parquet(s"$tmp/pairs"))
      assert(first == third, s"$name: post-crash replay changed the pair output")
      val idxBatches = spark.read.parquet(s"$tmp/index/bands")
        .select(col("src_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(idxBatches == Set(-1L, 0L), s"$name: index partitions after replay: $idxBatches")
    }
  }

  /** Runs `batch` as batch 7 through each branch against a fresh index and
    * returns, per branch, the sorted rows of the three partitions written. */
  private def bothBranches(corpus: DataFrame, batch: DataFrame): Seq[Seq[Seq[String]]] =
    branches.map { case (_, branch) =>
      val tmp = tempDir("dedup_parity").toString
      DedupStream.seedIndex(corpus, s"$tmp/index")
      branch(batch, 7L, s"$tmp/index", s"$tmp/pairs")
      Seq(s"$tmp/pairs/src_batch=7", s"$tmp/index/bands/src_batch=7",
        s"$tmp/index/sets/src_batch=7").map { dir =>
        spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted
      }
    }

  private def textDocs(texts: (Long, String)*): DataFrame = texts.toDF("doc_id", "text")

  private def words(prefix: String, ids: Range): String =
    ids.map(i => s"$prefix$i").mkString(" ")

  test("both branches write the same partitions on the sf0.001 split and edge-case batches") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
    val real = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    // a Jaccard of 81/160 = 0.50625 sits exactly on a round(…, 4) tie: A has
    // 120 distinct 3-shingles, B 121, 81 shared (this salt makes the pair an
    // LSH candidate); Spark's rule rounds the decimal 0.50625 up
    val tieA = words("w3q", 0 until 122)
    val tieB = words("w3q", 0 until 83) + " " + words("x3q", 0 until 40)
    val edge = textDocs(
      900001L -> "", 900002L -> "one", 900003L -> "two tokens", // no shingles
      900004L -> tieA, 900005L -> tieB,
      900006L -> tieA, // an exact duplicate text
      900007L -> "İstanbul ẞtraße\t\tund\n\nSTRASSE merge table column",
      900008L -> "i̇stanbul ßtraße und strasse merge table column")
    val cases = Seq(
      "sf0.001 batch" -> real,
      "edge batch" -> edge,
      "sf0.001 + edge batch" -> real.unionByName(edge),
      "empty batch" -> real.limit(0))
    val written = cases.map { case (name, batch) =>
      val Seq(driver, distributed) = bothBranches(corpus, batch)
      assert(driver == distributed, s"$name: driver=$driver distributed=$distributed")
      name -> driver
    }.toMap
    val Seq(pairs, _, _) = written("edge batch")
    assert(pairs.contains("[900004,900005,0.5063]"), s"tie pair: $pairs")
    assert(pairs.contains("[900004,900006,1.0]"), s"duplicate pair: $pairs")
    assert(pairs.contains("[900007,900008,1.0]"), s"case-folded pair: $pairs")
  }

  test("a batch of a few very long documents falls back to the distributed branch") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0).select("doc_id", "text")
    val long = textDocs((1 to 3).map(d => (800000L + d) -> words(s"d${d}w", 0 until 20000)): _*)
    assert(Exec.collectInternalIfSmall(DedupStream.batchFeatures(long, 32, 8), Exec.SmallInputRows, 256L << 10).isEmpty,
      "three 20k-token documents exceed a 256 KiB budget")
    val tmp = tempDir("dedup_wide").toString
    DedupStream.seedIndex(corpus, s"$tmp/index")
    val nullId = Seq(Some(800004L) -> words("a", 0 until 20), None -> words("b", 0 until 20))
      .toDF("doc_id", "text")
    assert(!DedupStream.processBatchOnDriver(nullId, 7L, s"$tmp/index", s"$tmp/pairs", 32, 8, 0.5),
      "a null doc_id takes the distributed branch")
    assert(!new java.io.File(s"$tmp/index/bands/src_batch=7").exists(),
      "a declined driver branch writes nothing")
    assert(DedupStream.processBatchOnDriver(long, 7L, s"$tmp/index", s"$tmp/pairs",
      32, 8, 0.5), "the default budget holds them")
  }
}
