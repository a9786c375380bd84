package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}

import graft.functions.IntersectCount
import graft.ops.{DedupOps, Exec, TextOps}

/** Streaming incremental near-duplicate detection — the CONTINUOUS-ingest
  * form of [[graft.ops.DedupOps.incrementalMinhashPairs]]: micro-batches of
  * new documents probe a GROWING on-disk LSH index (seeded from the
  * standing corpus), emit verified near-dup pairs for everything ingested
  * so far, and append their own signatures to the index — the shape a
  * production pipeline runs between the daily-batch and the
  * per-event extremes.
  *
  * Exactly-once contract (the idempotentHourlySink discipline): every
  * micro-batch writes its pair output and its index contribution (bands,
  * then sets) to the leaf directories `…/src_batch=<id>` in overwrite mode,
  * and the probe EXCLUDES the current batch id from the index read. An
  * overwrite deletes its leaf when the write starts and fills it when the
  * job commits, so a crash leaves each of the batch's three partitions
  * whole, absent, or holding only the hidden `_temporary` files readers
  * skip; replaying the batch (Structured Streaming does, because its
  * checkpoint commit never happened) REPLACES all three and never
  * double-pairs against its own half-written index rows.
  *
  * Pair-uniqueness invariant: a pair is emitted exactly once, by the LATER
  * of its two documents' batches (corpus rows live in the seed partition
  * `src_batch=-1`). Unioning the per-batch outputs therefore reproduces
  * the one-shot batch operator's result EXACTLY — the delta identity,
  * pinned by DedupStreamSpec against `incrementalMinhashPairs` on the
  * same corpus/batch split.
  *
  * Two branches per batch, chosen once from the batch by
  * [[graft.ops.Exec.collectInternalIfSmall]] (never under
  * `SPARK_GRAFT_DRIVER_GATE=off`):
  *
  *   - small batch ([[processBatchOnDriver]]): one projection collects
  *     each document's shingle hashes and band keys; the index is probed by
  *     two bounded lookups (the bands joined with the batch's band keys,
  *     then the sets of the candidate ids), and the driver pairs and
  *     verifies.
  *   - otherwise ([[processBatchDistributed]]): the same shape as the batch
  *     probe — band keys and doc ids in every exchange, shingle-hash sets
  *     only in the per-pair verification join, the index read
  *     partition-pruned by `src_batch`.
  */
object DedupStream {

  private val BandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("band_key", LongType)))
  private val SetsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("hs", ArrayType(LongType))))
  private val PairsSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType),
    StructField("jaccard", DoubleType)))

  private def sigs(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("hs", expr("shingle_hashes(toks, 3)"))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", expr(s"minhash_sig(hs, $k)"))
      .select(col("doc_id"), col("hs"), col("sig"))
  }

  private def bandsOf(s: DataFrame, k: Int, bands: Int): DataFrame =
    s.select(col("doc_id"),
      posexplode(expr(s"band_hashes(sig, $bands, ${k / bands})"))
        .as(Seq("band", "band_key")))

  private def writePartition(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/src_batch=$batchId")

  /** The index rows written by batches other than `batchId`. */
  private def indexRead(spark: SparkSession, dir: String, schema: StructType,
                        batchId: Long): DataFrame =
    spark.read.schema(schema.add("src_batch", LongType)).parquet(dir)
      .filter(col("src_batch") =!= batchId)
      .drop("src_batch")

  /** Seed the index directories with the standing corpus (partition
    * `src_batch=-1`) — run once before the stream starts; linear in the
    * corpus, the one-time cost every incremental scheme pays.
    */
  def seedIndex(corpus: DataFrame, indexDir: String,
                k: Int = 32, bands: Int = 8): Unit = {
    val s = Exec.pin(sigs(corpus, k))
    writePartition(bandsOf(s, k, bands), s"$indexDir/bands", -1L)
    writePartition(s.select(col("doc_id"), col("hs")), s"$indexDir/sets", -1L)
    s.unpersist()
  }

  /** One micro-batch: probe the index-so-far (excluding this batch id —
    * replay safety), verify candidates with exact Jaccard, write pairs,
    * append this batch's bands + sets to the index.
    */
  def processBatch(batch: Dataset[Row], batchId: Long,
                   indexDir: String, outDir: String,
                   k: Int = 32, bands: Int = 8,
                   threshold: Double = 0.5): Unit =
    if (!processBatchOnDriver(batch, batchId, indexDir, outDir, k, bands, threshold))
      processBatchDistributed(batch, batchId, indexDir, outDir, k, bands, threshold)

  /** The distributed branch of [[processBatch]]. */
  private[graft] def processBatchDistributed(batch: Dataset[Row], batchId: Long,
      indexDir: String, outDir: String, k: Int, bands: Int,
      threshold: Double): Unit = {
    val spark = batch.sparkSession
    val bs = Exec.pin(sigs(batch.toDF(), k))
    val bBands = bandsOf(bs, k, bands)
    val idxBands = spark.read.parquet(s"$indexDir/bands")
      .filter(col("src_batch") =!= batchId)
    val idxSets = spark.read.parquet(s"$indexDir/sets")
      .filter(col("src_batch") =!= batchId)
      .select(col("doc_id"), col("hs"))
    // candidates: this batch vs everything ingested before it, plus this
    // batch against itself — the "later batch emits the pair" invariant
    val vsIndex = bBands
      .join(idxBands.select(col("band"), col("band_key"),
        col("doc_id").as("doc_prior")), Seq("band", "band_key"))
      .select(least(col("doc_id"), col("doc_prior")).as("doc_a"),
        greatest(col("doc_id"), col("doc_prior")).as("doc_b"))
    val selfPairs = bBands.as("l")
      .join(bBands.as("r"), Seq("band", "band_key"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
    val candidates = vsIndex.unionByName(selfPairs)
      .dropDuplicates("doc_a", "doc_b")
    val sets = idxSets.unionByName(bs.select(col("doc_id"), col("hs")))
    val pairs = candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("h_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("h_b")), Seq("doc_b"))
      .filter(DedupOps.sizeCompatible(col("h_a"), col("h_b"), threshold))
      .withColumn("inter", expr("sorted_intersect_count(h_a, h_b)"))
      .withColumn("jaccard", round(
        col("inter").cast("double")
          / (size(col("h_a")) + size(col("h_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    writePartition(pairs, outDir, batchId)
    writePartition(bandsOf(bs, k, bands), s"$indexDir/bands", batchId)
    writePartition(bs.select(col("doc_id"), col("hs")), s"$indexDir/sets", batchId)
    bs.unpersist()
  }

  /** The small-batch branch of [[processBatch]]; false (nothing written)
    * when the gate sends the batch to the distributed branch. Spark
    * computes every document's shingle hashes and band keys; the driver
    * forms the same candidates as the distributed branch (this batch
    * against the index's other batches, and against itself), verifies them
    * with `IntersectCount.compute`, the size prune and Spark's `round`
    * rule, and writes the same three partitions. A lookup that overflows
    * the gate (a boilerplate-heavy index) also falls back.
    */
  private[graft] def processBatchOnDriver(batch: Dataset[Row], batchId: Long,
      indexDir: String, outDir: String, k: Int, bands: Int,
      threshold: Double): Boolean = {
    val spark = batch.sparkSession
    val typed = Seq("doc_id" -> LongType, "text" -> StringType).forall { case (c, t) =>
      batch.schema.find(_.name == c).exists(_.dataType == t)
    }
    def lookup(df: => DataFrame, keys: Seq[Row]): Option[Array[InternalRow]] =
      if (keys.isEmpty) Some(Array.empty)
      else Exec.collectInternalIfSmall(df, Exec.SmallInputRows)
    val written = for {
      rows <-
        if (typed)
          Exec.collectInternalIfSmall(batchFeatures(batch.toDF(), k, bands), Exec.SmallInputRows)
        else None
      if !rows.exists(_.isNullAt(0))
      sets = rows.map(r => (r.getLong(0), r.getArray(1)))
      bandRows = for (r <- rows; (key, band) <- r.getArray(2).toLongArray().zipWithIndex)
        yield (band, key, r.getLong(0))
      // lookup 1: the index docs sharing a (band, band_key) with this batch
      keys = bandRows.map { case (band, key, _) => Row(band, key) }.distinct.toSeq
      priorRows <- lookup(
        indexRead(spark, s"$indexDir/bands", BandsSchema, batchId)
          .join(local(spark, keys, StructType(BandsSchema.drop(1))), Seq("band", "band_key")),
        keys)
      candidates = candidatePairs(bandRows,
        priorRows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))
      // lookup 2: the index sets of every candidate id (a batch doc's id may
      // also sit in the index, as in the distributed branch's union)
      ids = candidates.flatMap { case (a, b) => Seq(a, b) }.toSeq.map(id => Row(id))
      setRows <- lookup(
        indexRead(spark, s"$indexDir/sets", SetsSchema, batchId)
          .join(local(spark, ids, StructType(SetsSchema.take(1))), Seq("doc_id")),
        ids)
    } yield {
      val setsOf = (setRows.map(r => (r.getLong(0), r.getArray(1))) ++ sets).toSeq
        .groupMap(_._1)(_._2)
      val pairs = for {
        (a, b) <- candidates.toSeq
        ha <- setsOf.getOrElse(a, Nil)
        hb <- setsOf.getOrElse(b, Nil)
        jaccard <- verifiedJaccard(ha, hb, threshold)
      } yield Row(a, b, jaccard)
      writePartition(local(spark, pairs, PairsSchema), outDir, batchId)
      writePartition(local(spark, bandRows.toSeq.map { case (band, key, id) => Row(id, band, key) },
        BandsSchema), s"$indexDir/bands", batchId)
      writePartition(local(spark, sets.toSeq.map { case (id, hs) => Row(id, hs.toLongArray().toSeq) },
        SetsSchema), s"$indexDir/sets", batchId)
    }
    written.isDefined
  }

  /** The per-document features [[processBatchOnDriver]] collects: doc_id,
    * sorted shingle hashes and the `bands` MinHash band keys, all evaluated
    * by Spark. */
  private[graft] def batchFeatures(docs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs(docs, k).select(col("doc_id"), col("hs"),
      expr(s"band_hashes(sig, $bands, ${k / bands})").as("keys"))

  /** The distributed branch's candidate pairs, as (doc_a < doc_b) or, for
    * an index doc with the batch doc's own id, (id, id): each batch row
    * `(band, band_key, doc_id)` against the index rows in its bucket, and
    * the batch's rows against each other. */
  private def candidatePairs(batchBands: Array[(Int, Long, Long)],
                             indexBands: Array[(Int, Long, Long)]): Set[(Long, Long)] = {
    val prior = indexBands.groupMap(r => (r._1, r._2))(_._3)
    val vsIndex = batchBands.iterator.flatMap { case (band, key, id) =>
      prior.getOrElse((band, key), Array.empty[Long]).iterator
        .map(p => (math.min(id, p), math.max(id, p)))
    }
    val self = batchBands.groupMap(r => (r._1, r._2))(_._3).valuesIterator.flatMap { ids =>
      for (l <- ids.iterator; r <- ids.iterator if l < r) yield (l, r)
    }
    (vsIndex ++ self).toSet
  }

  /** The distributed branch's verification of one candidate pair of sorted
    * shingle-hash sets: the size prune, then the Jaccard rounded to 4
    * places by Spark's `round` rule for doubles (HALF_UP on the shortest
    * decimal representation), kept when it reaches `threshold`. */
  private def verifiedJaccard(ha: ArrayData, hb: ArrayData,
                              threshold: Double): Option[Double] = {
    val (na, nb) = (ha.numElements(), hb.numElements())
    if (math.min(na, nb).toDouble / math.max(na, nb) < threshold) None
    else {
      val inter = IntersectCount.compute(ha, hb)
      val jaccard = java.math.BigDecimal.valueOf(inter.toDouble / (na + nb - inter))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      if (jaccard >= threshold) Some(jaccard) else None
    }
  }

  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Wire a streaming `docs` source (doc_id, text) into the incremental
    * dedup loop. Seed the index from the corpus first.
    */
  def run(docs: DataFrame, indexDir: String, outDir: String,
          checkpoint: String, k: Int = 32, bands: Int = 8,
          threshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // the batch runs on the stream's thread: release its pins there,
        // also when it throws
        try processBatch(batch, batchId, indexDir, outDir, k, bands, threshold)
        finally Exec.clearPinned(batch.sparkSession)
      }
      .start()
}
