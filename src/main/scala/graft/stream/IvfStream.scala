package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming IVF index MAINTENANCE — the continuous twin of
  * [[graft.ops.VectorOps.ivfBalance]], completing the batch/stream story
  * for the ANN index the way [[DedupStream]] does for the LSH index.
  *
  * The coarse quantizer is FROZEN at seed time (production IVF practice:
  * cells retrain offline on a corpus snapshot; ingest only assigns).
  * Each micro-batch of new vectors assigns to its nearest frozen centroid
  * — one broadcast of the cells-sized centroid table, a row-local
  * quantized sq-L2 argmin, ZERO shuffle of vector arrays — and writes its
  * (vec_id, cell) assignments plus per-cell count DELTAS. The balance
  * census (load factor / imbalance: the probe-blowup early warning that
  * tells the operator when the frozen quantizer has drifted and cells
  * need retraining) re-aggregates the cells-sized delta partitions, so
  * per-batch maintenance cost is |batch| + |cells|, never corpus-sized.
  *
  * Exactly-once contract: the [[DedupStream]] discipline — every write
  * lands as a `src_batch=<id>` partition with dynamic partition
  * overwrite, so a batch replayed after a crash (between any write and
  * the checkpoint commit) REPLACES its own partitions; assignments are a
  * pure per-vector function of the frozen cells, so replay is bitwise
  * idempotent. IvfStreamSpec pins union-of-batches == one-shot
  * assignment and both crash-replay points.
  */
object IvfStream {

  private def q4(c: org.apache.spark.sql.Column) =
    floor(c * 10000 + 0.5) / 10000

  private def writePartition(df: DataFrame, dir: String, batchId: Long): Unit =
    df.withColumn("src_batch", lit(batchId))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("src_batch")
      .mode("overwrite")
      .parquet(dir)

  /** The frozen coarse quantizer: per-label centroid ARRAYS of the seed
    * corpus, 4dp-quantized (the exact form `VectorOps.cellDistances`
    * broadcasts, so the batch operator and the stream assign identically).
    */
  private[stream] def cellArrays(corpus: DataFrame): DataFrame =
    graft.ops.VectorOps.centroids(corpus)
      .select(col("label").as("cell"), col("pos"), q4(col("c")).as("c"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("cvec"))

  /** Nearest-frozen-centroid assignment: broadcast the cells-sized
    * centroid table, fold the quantized sq-L2 argmin per row (aggregate
    * argmin via min(struct) — map-side combine, one narrow row per
    * vector in the exchange, ties to the lowest cell id).
    */
  def assignToCells(vecs: DataFrame, cells: DataFrame): DataFrame = {
    graft.functions.SqL2.register(vecs.sparkSession)
    vecs.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .crossJoin(broadcast(cells))
      .withColumn("dist",
        floor(call_function("sq_l2", col("v"), col("cvec")) * 1000000 + 0.5)
          / 1000000)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cell"))).as("mc"))
      .select(col("vec_id"), col("mc.cell").as("cell"))
  }

  /** Freeze the quantizer from the standing corpus and write the seed
    * assignments + cell-count deltas as partition `src_batch=-1` — run
    * once before the stream starts (the one-time linear cost).
    */
  def seedIndex(corpus: DataFrame, indexDir: String): Unit = {
    val cells = cellArrays(corpus)
    cells.write.mode("overwrite").parquet(s"$indexDir/cells")
    val assigned = graft.ops.Exec.pin(assignToCells(corpus, cells))
    writePartition(assigned, s"$indexDir/assign", -1L)
    writePartition(assigned.groupBy(col("cell")).agg(count(lit(1)).as("n")),
      s"$indexDir/deltas", -1L)
    assigned.unpersist()
  }

  /** One micro-batch: assign against the frozen cells, write this batch's
    * assignment + delta partitions (replacing them on replay).
    */
  def processBatch(batch: Dataset[Row], batchId: Long,
                   indexDir: String): Unit = {
    val spark = batch.sparkSession
    val cells = spark.read.parquet(s"$indexDir/cells")
    val assigned = graft.ops.Exec.pin(assignToCells(batch.toDF(), cells))
    writePartition(assigned, s"$indexDir/assign", batchId)
    writePartition(assigned.groupBy(col("cell")).agg(count(lit(1)).as("n")),
      s"$indexDir/deltas", batchId)
    assigned.unpersist()
  }

  /** Index-health census over everything ingested so far, computed from
    * the cells-sized delta partitions only (the corpus never re-reads):
    * per cell population, load factor, and the global imbalance factor —
    * the [[graft.ops.VectorOps.ivfBalance]] readout, maintained
    * incrementally.
    */
  def balanceCensus(spark: SparkSession, indexDir: String): DataFrame =
    censusOf(
      spark.read.parquet(s"$indexDir/cells"),
      spark.read.parquet(s"$indexDir/deltas")
        .groupBy(col("cell")).agg(sum(col("n")).as("dn")))

  /** The census math shared by the stream readout and the batch twin —
    * anchored on the FULL frozen-cell table, not the cells present in the
    * counts: a cell that received zero vectors must still count toward
    * n_cells, or load_factor/imbalance understate the very drift the
    * census exists to warn about (r15 advisor).
    */
  private[stream] def censusOf(allCells: DataFrame,
                               counts: DataFrame): DataFrame = {
    val sizes = allCells.select(col("cell"))
      .join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("dn"), lit(0L)).as("n"))
    val tot = sizes.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_cells"), max(col("n")).as("max_n"))
    sizes.crossJoin(broadcast(tot))
      .select(col("cell"), col("n"),
        q4(col("n").cast("double") * col("n_cells") / col("total"))
          .as("load_factor"),
        q4(col("max_n").cast("double") * col("n_cells") / col("total"))
          .as("imbalance"))
      .orderBy(col("cell"))
  }

  /** BATCH twin of the maintenance loop for the driver's oracle gate
    * (r15 verdict item 5): freeze cells on `corpus`, assign corpus ∪
    * `batch` to them (exactly what seed + N micro-batches accumulate in
    * the delta partitions), and run the same census readout. IvfStreamSpec
    * pins stream == one-shot assignment; this puts the same semantics
    * under the DuckDB hash-compare contract as `vec_ivf_stream_census`.
    */
  def batchCensus(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val cells = cellArrays(corpus)
    val assigned = assignToCells(
      corpus.select(col("vec_id"), col("embedding"))
        .unionByName(batch.select(col("vec_id"), col("embedding"))),
      cells)
    censusOf(cells, assigned.groupBy(col("cell")).agg(count(lit(1)).as("dn")))
  }

  /** Wire a streaming `vecs` source (vec_id, embedding) into the
    * maintenance loop. Seed the index from the corpus first.
    */
  def run(vecs: DataFrame, indexDir: String,
          checkpoint: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // the batch runs on the stream's thread: release its pins there,
        // also when it throws
        try processBatch(batch, batchId, indexDir)
        finally graft.ops.Exec.clearPinned(batch.sparkSession)
      }
      .start()
}
