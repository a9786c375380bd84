package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{DedupOps, Exec}

/** Streaming Bloom-gated dedup — the continuous form of
  * [[graft.ops.DedupOps.bloomDedupGate]] and the crawl-frontier shape the
  * gate exists for ("have we fetched this?" asked of every incoming
  * micro-batch): the filter's set-bit positions and the exact content-key
  * index both GROW with the stream, each micro-batch is judged against
  * everything ingested before it and then contributes its own bits +
  * keys. The fourth batch/stream twin beside [[DedupStream]] (LSH),
  * [[IvfStream]] (ANN cells), and the EventStream sketches.
  *
  * Exactly-once contract: the [[DedupStream]] discipline — every write
  * lands as a `src_batch=<id>` dynamic-overwrite partition, and the judge
  * EXCLUDES the current batch id from its index reads, so a crash replay
  * at any point between the three writes and the checkpoint commit
  * replaces its own partitions and never gates a batch against its own
  * half-written bits.
  *
  * Delta identity (BloomStreamSpec): batch i's judged rows equal
  * `bloomJudge(corpus ∪ batches < i, batch i)` — decisions depend only on
  * the bit/key sets accumulated strictly before the batch, which is
  * exactly what the partition filter reconstructs. No false negatives
  * ever: a doc whose key was ingested earlier set its own bits earlier.
  *
  * Scale shape: the bit index is bounded by mBits regardless of stream
  * length (the gate's whole point — membership state that does NOT grow
  * with the corpus); the key index grows with DISTINCT content only, and
  * both ride narrow-long exchanges. Per-batch cost: |batch| × k hashes +
  * one bounded broadcast.
  */
object BloomStream {

  private def writePartition(df: DataFrame, dir: String, batchId: Long): Unit =
    df.withColumn("src_batch", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("src_batch")
      .mode("overwrite")
      .parquet(dir)

  /** Seed the bit + key indexes from the standing corpus (partition
    * `src_batch=-1`) — the one-time linear cost. */
  def seedIndex(corpus: DataFrame, indexDir: String,
                mBits: Int = 1 << 20, k: Int = 3): Unit = {
    writePartition(
      DedupOps.bloomPositions(corpus, mBits, k).select(col("bit")).distinct(),
      s"$indexDir/bits", -1L)
    writePartition(
      DedupOps.bloomKeys(corpus).select(col("h")).distinct(),
      s"$indexDir/keys", -1L)
  }

  /** One micro-batch: judge against the index-so-far (excluding this
    * batch id — replay safety), persist the per-doc decisions, append
    * this batch's bits + keys. */
  def processBatch(batch: Dataset[Row], batchId: Long,
                   indexDir: String, outDir: String,
                   mBits: Int = 1 << 20, k: Int = 3): Unit = {
    val spark = batch.sparkSession
    val bits = spark.read.parquet(s"$indexDir/bits")
      .filter(col("src_batch") =!= batchId)
    val keys = spark.read.parquet(s"$indexDir/keys")
      .filter(col("src_batch") =!= batchId)
    val judged = Exec.pin(DedupOps.bloomJudge(bits, keys, batch.toDF(), mBits, k))
    writePartition(judged, outDir, batchId)
    writePartition(
      DedupOps.bloomPositions(batch.toDF(), mBits, k)
        .select(col("bit")).distinct(),
      s"$indexDir/bits", batchId)
    writePartition(
      DedupOps.bloomKeys(batch.toDF()).select(col("h")).distinct(),
      s"$indexDir/keys", batchId)
    judged.unpersist()
  }

  /** Wire a streaming `docs` source (doc_id, text) into the gate loop.
    * Seed the index from the corpus first. */
  def run(docs: DataFrame, indexDir: String, outDir: String,
          checkpoint: String, mBits: Int = 1 << 20,
          k: Int = 3): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // the batch runs on the stream's thread: release its pins there,
        // also when it throws
        try processBatch(batch, batchId, indexDir, outDir, mBits, k)
        finally Exec.clearPinned(batch.sparkSession)
      }
      .start()
}
