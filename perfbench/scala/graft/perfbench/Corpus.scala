package graft.perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.ops.{DedupOps, TextOps, VectorOps}
import graft.stream.DedupStream

/** Seeded LLM-corpus inputs shaped like the project's `documents` and
  * `embeddings` test tables: texts are 10–100 words over a 30-word vocabulary
  * with a 5% slice of near-copies marked " dup"; embeddings are 64-d unit
  * vectors with labels 0–9.
  */
object CorpusGen {
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("en", "en", "en", "en", "de", "es", "fr", "zh")
  val Dim = 64

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def text(rng: java.util.SplittableRandom): String =
    Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  def doc(rng: java.util.SplittableRandom, id: Long, text: String): Doc =
    Doc(id, text, Langs(rng.nextInt(Langs.size)), s"src${rng.nextInt(20)}")

  /** `n` documents, every 20th a near-copy of an earlier one. */
  def docs(rng: java.util.SplittableRandom, firstId: Long, n: Int,
           copyFrom: IndexedSeq[Doc]): IndexedSeq[Doc] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { j =>
      val pool = copyFrom.size + out.size
      val t =
        if (j % 20 == 19 && pool > 0) {
          val k = rng.nextInt(pool)
          (if (k < copyFrom.size) copyFrom(k) else out(k - copyFrom.size)).text + " dup"
        } else text(rng)
      out += doc(rng, firstId + j, t)
    }
    out.toIndexedSeq
  }

  def unit(rng: java.util.SplittableRandom): Array[Float] = {
    val g = Array.fill(Dim)(gaussian(rng))
    val n = math.sqrt(g.map(x => x * x).sum)
    g.map(x => (x / n).toFloat)
  }

  private def gaussian(rng: java.util.SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - rng.nextDouble())) * math.cos(2 * math.Pi * rng.nextDouble())

  /** A vector at cosine ~0.9 from `v`. */
  def near(rng: java.util.SplittableRandom, v: Array[Float]): Array[Float] = {
    val u = unit(rng)
    val m = v.indices.map(i => v(i) + 0.45f * u(i)).toArray
    val n = math.sqrt(m.map(x => x.toDouble * x).sum)
    m.map(x => (x / n).toFloat)
  }

  def docRow(d: Doc): Row = Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)
  def vecRow(v: Vec): Row = Row(v.id, v.v.toSeq, v.label)
}

/** The LLM-data path: a standing corpus built in set-up (salted copies of
  * a base corpus, as `GenScale` inflates one) seeds the dedup index; each
  * op ingests one batch through the text pipeline, the streaming dedup
  * step that probes and then grows the on-disk index, and the incremental
  * embedding dedup against the standing vectors.
  */
final class CorpusIngest(ctx: Ctx) extends Workload {
  import CorpusGen._
  import ctx.spark

  private val BaseDocs = 2500
  private val Copies = 3
  private val BaseVecs = 2000
  private val BatchDocs = 250
  private val BatchVecs = 100
  private val MaxOps = 40
  private val Warmups = 1
  private val BatchIdBase = 100000000L
  private val BatchIdStride = 100000L

  private def root = s"${ctx.work}/corpus"
  private def indexDir = s"$root/index"
  private def outDir = s"$root/pairs"
  private var corpusDocs: DataFrame = _
  private var corpusVecs: DataFrame = _
  private var corpusVecLocal: IndexedSeq[Vec] = IndexedSeq.empty
  private var batches: IndexedSeq[(IndexedSeq[Doc], IndexedSeq[Vec])] = IndexedSeq.empty
  private val pairsOf = scala.collection.mutable.Map.empty[Int, Long]
  private val indexBytesOf = scala.collection.mutable.Map.empty[Int, Long]

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def bytesUnder(dir: String): Long = {
    val p = new Path(dir)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def setup(): Unit = {
    fs.delete(new Path(root), true)
    val rng = new java.util.SplittableRandom(ctx.seed)
    val base = docs(rng, 0L, BaseDocs, IndexedSeq.empty)
    // GenScale's salting: copy 0 and a 5% slice stay verbatim, every other
    // copy has each token prefixed with its copy number
    val corpus = (0 until Copies).flatMap { c =>
      base.map { d =>
        val t = if (c == 0 || d.id % 20 == 0) d.text else d.text.split(" ").map(w => s"c${c}_$w").mkString(" ")
        d.copy(id = d.id + c * 10000000L, text = t)
      }
    }
    val baseVecs = (0 until BaseVecs).map(i => Vec(i.toLong, unit(rng), rng.nextInt(10)))
    corpusVecLocal = baseVecs ++ baseVecs.filter(_.id % 20 != 0).map(v => v.copy(id = v.id + 10000000L, v = near(rng, v.v)))
    batches = (0 until Warmups + MaxOps).map { b =>
      val first = BatchIdBase + b * BatchIdStride
      // one in ten documents re-ingests a corpus text with an edit
      val fresh = docs(rng, first, BatchDocs, IndexedSeq.empty).map { d =>
        if (d.id % 10 == 3) d.copy(text = corpus(rng.nextInt(corpus.size)).text + " dup") else d
      }
      val vecs = (0 until BatchVecs).map { j =>
        val v = if (j % 10 == 3) { val c = corpusVecLocal(rng.nextInt(corpusVecLocal.size)); Vec(0, near(rng, c.v), c.label) }
                else Vec(0, unit(rng), rng.nextInt(10))
        v.copy(id = first + j)
      }
      (fresh, vecs)
    }
    spark.createDataFrame(java.util.Arrays.asList(corpus.map(docRow): _*), DocSchema)
      .write.mode("overwrite").parquet(s"$root/documents")
    spark.createDataFrame(java.util.Arrays.asList(corpusVecLocal.map(vecRow): _*), VecSchema)
      .write.mode("overwrite").parquet(s"$root/embeddings")
    corpusDocs = spark.read.parquet(s"$root/documents")
    corpusVecs = spark.read.parquet(s"$root/embeddings")
    DedupStream.seedIndex(corpusDocs, indexDir)
  }

  private def batchDocsDf(b: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(batches(b)._1.map(docRow): _*), DocSchema)
  private def batchVecsDf(b: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(batches(b)._2.map(vecRow): _*), VecSchema)

  /** Brute-force reference for `incrementalCosinePairs`: batch vectors
    * against corpus ∪ batch within a label, cosine rounded to 4 places.
    */
  private def cosineRef(b: Int): Map[(Long, Long), Double] = {
    val batch = batches(b)._2
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val all = corpusVecLocal ++ batch
    (for {
      x <- batch; y <- all if y.label == x.label && y.id != x.id
      sim = x.v.indices.map(i => x.v(i).toDouble * y.v(i)).sum / (norm(x.v) * norm(y.v))
      if sim >= 0.4495
    } yield (math.min(x.id, y.id), math.max(x.id, y.id)) -> math.round(sim * 10000) / 10000.0).toMap
  }

  private def batchOp(i: Int, b: Int): Op = new Op {
    private var packedRows = 0L
    private var vecPairs: Map[(Long, Long), Double] = Map.empty
    def records: Long = BatchDocs.toLong
    def inputBytes: Long =
      batches(b)._1.map(_.text.getBytes("UTF-8").length.toLong).sum + BatchVecs.toLong * Dim * 4
    def run(): Unit = {
      val docs = batchDocsDf(b)
      packedRows = ctx.span("ops.text") {
        TextOps.pipelineE2E(docs).collect().length.toLong
      }
      ctx.span("stream") { DedupStream.processBatch(docs, b.toLong, indexDir, outDir) }
      vecPairs = ctx.span("ops.vector") {
        VectorOps.incrementalCosinePairs(corpusVecs, batchVecsDf(b)).collect()
          .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) -> r.getAs[Double]("sim")).toMap
      }
    }
    def check(): Boolean = {
      pairsOf(i) = spark.read.parquet(s"$outDir/src_batch=$b").count()
      indexBytesOf(i) = bytesUnder(indexDir)
      // pairs within half a rounding step of the threshold may land either side
      val ref = cosineRef(b)
      val vecOk = ref.forall { case (k, s) => s < 0.4505 || vecPairs.contains(k) } &&
        vecPairs.forall { case (k, s) => ref.get(k).exists(r => math.abs(r - s) <= 1e-3) }
      val ok = packedRows > 0 && vecOk
      if (!ok) System.err.println(s"corpus_ingest op $i: packed=$packedRows vectorPairsOk=$vecOk")
      ok
    }
    def corrupt(): Unit =
      vecPairs = if (vecPairs.isEmpty) Map((1L, 2L) -> 0.99) else vecPairs - vecPairs.keys.head
  }

  def warmup(): Unit = (0 until Warmups).foreach { b =>
    val op = batchOp(-1 - b, b); op.run(); op.check()
    graft.ops.Exec.clearPinned(spark)
  }

  def op(i: Int): Op = batchOp(i, Warmups + i % MaxOps)
  // ops take seconds each, so a run measures batches in pairs
  override def cycle: Int = 2

  /** The delta identity: the union of the per-batch pair outputs equals the
    * one-shot incremental dedup of all ingested batches against the corpus.
    * A pair belongs to the later of its two documents' batches.
    */
  override def finish(ops: Seq[Int]): Set[Int] = {
    val ingested = (0 until Warmups) ++ ops.map(i => Warmups + i % MaxOps)
    val all = ingested.map(batchDocsDf).reduce(_ union _)
    def batchOf(id: Long): Long = if (id >= BatchIdBase) (id - BatchIdBase) / BatchIdStride else -1L
    val want = DedupOps.incrementalMinhashPairs(corpusDocs, all).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .groupBy { case (a, c, _) => math.max(batchOf(a), batchOf(c)) }
      .map { case (k, v) => k -> v.toSet }
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Number]("src_batch").longValue ->
        (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
      .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
    val bad = ops.filter { i =>
      val b = (Warmups + i % MaxOps).toLong
      want.getOrElse(b, Set.empty) != got.getOrElse(b, Set.empty)
    }.toSet
    if (bad.nonEmpty) System.err.println(s"corpus_ingest: delta identity broken for ops $bad")
    bad
  }

  override def layerExtras(traced: Seq[Int]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    Map(
      "stream.pairs" -> traced.map(pairsOf.getOrElse(_, 0L)).sum / n,
      "stream.index_bytes" -> traced.map(indexBytesOf.getOrElse(_, 0L)).sum / n)
  }
}
