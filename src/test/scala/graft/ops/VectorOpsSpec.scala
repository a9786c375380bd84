package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

class VectorOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sfDir)

  /** Reference LSH bucket id, one higher-order fold per hyperplane: the
    * sign bit per plane, packed into a long. The native `lsh_buckets`
    * kernel must reproduce it.
    */
  private def lshBucket(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, b) =>
      when(VectorOps.dot(emb, typedLit(p)) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  test("dot/cosine: unit vectors have norm ~1 and self-cosine 1") {
    import spark.implicits._
    val df = Seq((1L, Seq(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val r = df.select(
      VectorOps.l2Norm(col("embedding")).as("n"),
      VectorOps.cosine(col("embedding"), col("embedding")).as("c")).collect()(0)
    assert(math.abs(r.getDouble(0) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("int8 quantization: reconstruction error bounded by dim*(scale/2)^2") {
    val rows = VectorOps.quantizeInt8Stats(emb).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(2)
      val err = r.getDouble(3)
      // round-half-up to the nearest grid point: per-element error <= scale/2
      assert(err <= 64.0 * (scale / 2) * (scale / 2) + 1e-9,
        s"vec ${r.getLong(0)}: sq_err $err exceeds bound for scale $scale")
      assert(scale > 0.0)
    }
  }

  test("centroids: 64 positions per label, each centroid bounded by data range") {
    val c = VectorOps.centroids(emb).groupBy(col("label")).count().collect()
    assert(c.forall(_.getLong(1) == 64))
  }

  test("ANN-LSH results are a subset of brute-force candidates with decent recall") {
    val brute = VectorOps.knnBruteForce(emb, maxQueryId = 5, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val ann = VectorOps.annLsh(emb, maxQueryId = 5, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    // every ANN neighbor must be a real vector pair (sanity), and recall of
    // the true top-5 should be non-trivial for 8-bit LSH on 500 vectors
    val recall = (ann intersect brute).size.toDouble / brute.size
    info(s"ANN recall vs brute-force top-5: $recall")
    assert(ann.nonEmpty)
    assert(recall >= 0.2, s"recall $recall suspiciously low")
  }

  test("LSH bucketing is deterministic") {
    val planes = VectorOps.hyperplanes()
    val b1 = emb.withColumn("b", lshBucket(col("embedding"), planes))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = emb.withColumn("b", lshBucket(col("embedding"), planes))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)
    assert(b1.values.toSet.size > 1, "all vectors in one bucket: hyperplanes broken")
  }

  test("IVF-ANN: recall is decent and every reported pair is real") {
    val brute = VectorOps.knnBruteForce(emb, maxQueryId = 5, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = VectorOps.ivfAnn(emb, maxQueryId = 5, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    info(s"IVF recall vs brute-force top-5: $recall")
    assert(ivf.nonEmpty)
    assert(recall >= 0.2, s"recall $recall suspiciously low")
  }

  test("mips top-k ranks by raw inner product, not cosine") {
    import spark.implicits._
    // v2 has higher cosine to the query (parallel) but smaller magnitude;
    // v3 is less aligned but huge, so MIPS must prefer v3
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)),            // query
      (2L, Seq(0.9f, 0.0f)),            // cosine 1.0, ip 0.9
      (3L, Seq(10.0f, 10.0f)))          // cosine 0.707, ip 10.0
      .toDF("vec_id", "embedding")
    val rows = VectorOps.mipsTopK(df, maxQueryId = 1, k = 2).collect()
    assert(rows.map(_.getLong(2)).toSeq == Seq(3L, 2L))
    assert(rows(0).getDouble(3) == 10.0)
  }

  test("matryoshka recall: identical prefixes give recall 1, divergent prefixes less") {
    val r = VectorOps.matryoshkaRecall(emb, maxQueryId = 5, k = 10, dims = 64)
      .collect()
    // truncating to the FULL dimension is a no-op: recall must be exactly 1
    assert(r.nonEmpty)
    assert(r.forall(_.getDouble(2) == 1.0), "64-dim 'truncation' must be lossless")
    val r16 = VectorOps.matryoshkaRecall(emb, maxQueryId = 5, k = 10, dims = 16)
      .collect()
    assert(r16.forall(row => row.getDouble(2) >= 0.0 && row.getDouble(2) <= 1.0))
    info(s"16-dim prefix recall@10: ${r16.map(_.getDouble(2)).mkString(", ")}")
  }

  test("PQ-ADC: reported neighbors are real and recall vs exact L2 is sane") {
    val pq = VectorOps.pqAdcTopK(emb, maxQueryId = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // exact L2 top-5 for the same queries (brute force)
    import org.apache.spark.sql.expressions.Window
    graft.functions.SqL2.register(spark)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d"), col("vec_id"))
    val exact = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("d", call_function("sq_l2", col("qv"), col("embedding")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (pq intersect exact).size.toDouble / exact.size
    info(s"PQ-ADC recall vs exact L2 top-5: $recall")
    assert(pq.size == exact.size)
    assert(recall >= 0.2, s"recall $recall suspiciously low for 8x8 PQ")
  }

  test("semantic dedup: cell-bucketed pairs == within-cluster brute force on a separable fixture") {
    import spark.implicits._
    // two tight clusters around (1,0) and (0,1): assignment must send each
    // vector to its own cluster's centroid, and the pair set is exactly the
    // within-cluster thresholded cosine pairs (cross-cluster cosine ~0)
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), "a"),
      (2L, Seq(0.99f, 0.1f), "a"),
      (3L, Seq(0.98f, -0.1f), "a"),
      (10L, Seq(0.0f, 1.0f), "b"),
      (11L, Seq(0.1f, 0.99f), "b"))
      .toDF("vec_id", "embedding", "label")
    val rows = VectorOps.semanticDupPairs(df, 0.9).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("a", 1L, 2L), ("a", 1L, 3L), ("a", 2L, 3L), ("b", 10L, 11L)))
    // on real data: cell bucketing can only LOSE pairs vs brute force —
    // every reported pair must also pass the unblocked threshold check
    val sem = VectorOps.semanticDupPairs(emb, 0.45).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val brute = a.join(b, col("va") < col("vb"))
      .withColumn("sim",
        floor(VectorOps.cosine(col("ea"), col("eb")) * 10000 + 0.5) / 10000)
      .filter(col("sim") >= 0.45)
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(brute), s"spurious pairs: ${sem -- brute}")
    assert(sem.nonEmpty)
    info(s"semantic-dedup recall vs brute force: ${sem.size}/${brute.size}")
  }

  test("semantic kmeans dedup: learned cells separate clusters; pairs subset brute force") {
    import spark.implicits._
    // ids 0 and 1 seed k=2 Lloyd from opposite clusters; after training,
    // assignment must put each vector with its own cluster and the pair
    // set is exactly the within-cluster thresholded cosine pairs
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), "a"),
      (1L, Seq(0.0f, 1.0f), "b"),
      (2L, Seq(0.99f, 0.1f), "a"),
      (3L, Seq(0.98f, -0.1f), "a"),
      (11L, Seq(0.1f, 0.99f), "b"))
      .toDF("vec_id", "embedding", "label")
    val rows = VectorOps.semanticDupPairsKmeans(df, 0.9, k = 2, iters = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((0L, 2L), (0L, 3L), (2L, 3L), (1L, 11L)),
      s"pairs: $rows")
    // on real data: cell blocking can only LOSE pairs vs brute force
    val sem = VectorOps.semanticDupPairsKmeans(emb, 0.45).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val brute = a.join(b, col("va") < col("vb"))
      .withColumn("sim",
        floor(VectorOps.cosine(col("ea"), col("eb")) * 10000 + 0.5) / 10000)
      .filter(col("sim") >= 0.45)
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(brute), s"spurious pairs: ${sem -- brute}")
    assert(sem.nonEmpty)
    info(s"semantic-kmeans recall vs brute force: ${sem.size}/${brute.size}")
  }

  test("rrf fusion: docs on both retriever lists outrank single-list docs") {
    import spark.implicits._
    // query 0 = (1,0); vec 2 is on BOTH top-2 lists (cos rank 1, ip rank 2),
    // vec 4 only on the cosine list, vec 3 only on the MIPS list
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.0f)),    // cos 1.0 (rank 1), ip 0.9 (rank 2)
      (3L, Seq(10.0f, 10.0f)),  // cos 0.707, ip 10.0 (rank 1)
      (4L, Seq(0.5f, -0.1f)))   // cos ~0.98 (rank 2), ip 0.5
      .toDF("vec_id", "embedding")
    val rows = VectorOps.rrfFusion(df, maxQueryId = 1, k = 2).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(4)))
    // 2: 1/61 + 1/62; 3: 1/61; 4: 1/62 — fused order 2, 3, 4
    assert(rows.map(_._2).toSeq == Seq(2L, 3L, 4L), rows.mkString(","))
    assert(rows.map(_._3).toSeq == Seq(2L, 1L, 1L), "n_lists wrong")
  }

  test("native lsh_buckets matches the HOF per-plane reference, table by table") {
    val nTables = 4
    val ppt = 4
    val planes = VectorOps.hyperplanes(nTables * ppt)
    graft.functions.LshBuckets.register(spark, planes.map(_.toArray).toArray, ppt)
    val hofCols = (0 until nTables).map { t =>
      lshBucket(col("embedding"), planes.slice(t * ppt, (t + 1) * ppt)).as(s"h$t")
    }
    val rows = emb
      .select(col("vec_id") +: call_function("lsh_buckets", col("embedding")).as("nb") +: hofCols: _*)
      .collect()
    rows.foreach { r =>
      val native = r.getSeq[Long](1)
      (0 until nTables).foreach { t =>
        assert(native(t) == r.getAs[Long](s"h$t"), s"vec ${r.getLong(0)} table $t")
      }
    }
  }

  test("frozen IVF census: the batch joins the corpus cells, a zero-hit cell still counts") {
    import spark.implicits._
    // label 0 (centroid (0,0)) and label 1 ((10,0)) take their own vectors;
    // label 2's two vectors sit on the other centroids, so its centroid
    // (5,0) draws no corpus vector
    val corpus = Seq(
      (1L, Seq(0f, 1f), 0), (2L, Seq(0f, -1f), 0),
      (3L, Seq(10f, 1f), 1), (4L, Seq(10f, -1f), 1),
      (5L, Seq(0f, 0f), 2), (6L, Seq(10f, 0f), 2))
      .toDF("vec_id", "embedding", "label")
    def census(batch: Seq[(Long, Seq[Float])]) =
      VectorOps.ivfFrozenCensus(corpus, batch.toDF("vec_id", "embedding"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
    def q4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(census(Nil) == Seq((0, 3L, 1.5, 1.5), (1, 3L, 1.5, 1.5), (2, 0L, 0.0, 1.5)))
    // a batch vector near (5,0) lands in the frozen cell 2; the cells are
    // not retrained on the batch
    assert(census(Seq(7L -> Seq(5f, 0.1f))) == Seq(
      (0, 3L, q4(9.0 / 7), q4(9.0 / 7)), (1, 3L, q4(9.0 / 7), q4(9.0 / 7)),
      (2, 1L, q4(3.0 / 7), q4(9.0 / 7))))
  }

  test("centroid drift: parity halves average separately, gap per dimension") {
    import spark.implicits._
    // half0 (even ids 2,4): dim0 mean (3+7)/2 = 5; half1 (ids 1,3):
    // (1+5)/2 = 3 -> drift 2. dim1 identical in all -> drift 0.
    val emb = Seq(
      (1L, Array(1f, 9f), 0), (2L, Array(3f, 9f), 0),
      (3L, Array(5f, 9f), 0), (4L, Array(7f, 9f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = VectorOps.centroidDrift(emb).collect()
      .map(r => r.getInt(1) -> r).toMap
    assert(rows(0).getDouble(2) == 5.0 && rows(0).getDouble(3) == 3.0)
    assert(rows(0).getDouble(4) == 2.0)
    assert(rows(1).getDouble(4) == 0.0)
  }

  test("pair cosine histogram: known geometry lands in the right bins") {
    import spark.implicits._
    // pairs (1,2): cos 1 -> bin 10; (2,3): orthogonal, cos 0 -> bin 0;
    // (3,4): orthogonal again -> bin 0. No pair for the last id.
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val rows = VectorOps.pairCosineHistogram(emb).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(0, 10))
    assert(rows(10).getLong(1) == 1L && rows(10).getDouble(2) == 1.0)
    assert(rows(0).getLong(1) == 2L && rows(0).getDouble(3) == 0.0)
  }

  test("IVF-PQ composes exactly: IVF's candidate set scored with PQ-ADC's distances") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // with k past the candidate-set size, both IVF variants must surface
    // exactly the coarse quantizer's candidates — PQ changes scores, not
    // membership
    val ivfAll = VectorOps.ivfAnn(emb, maxQueryId = 5, k = 100000)
    val ivfPqAll = VectorOps.ivfPqAnn(emb, maxQueryId = 5, k = 100000)
    assert(pairs(ivfAll) == pairs(ivfPqAll), "candidate membership must match IVF")
    // and each surfaced pair's adc must equal the pure-PQ adc for that pair
    val pqScores = VectorOps.pqAdcTopK(emb, maxQueryId = 5, k = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val mismatched = ivfPqAll.collect().filter { r =>
      pqScores.get((r.getLong(0), r.getLong(2))).forall(_ != r.getDouble(3))
    }
    assert(mismatched.isEmpty,
      s"adc disagrees with pure PQ on: ${mismatched.take(3).mkString(";")}")
  }

  test("covariance matrix: one-pass aggregate == naive two-pass JVM reference, partition-invariant") {
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length.toDouble
    val means = (0 until 64).map(p => vecs.map(_(p)).sum / n)
    def ref(i: Int, j: Int): Double =
      vecs.map(v => v(i) * v(j)).sum / n - means(i) * means(j)
    val got = VectorOps.covarianceMatrix(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 64 * 65 / 2)
    for (i <- 0 until 64; j <- i until 64)
      assert(math.abs(got((i, j)) - ref(i, j)) <= 1e-6 + 1e-9,
        s"cov($i,$j): ${got((i, j))} vs ${ref(i, j)}")
    // variance diagonal must be positive for real data
    assert((0 until 64).forall(i => got((i, i)) > 0))
    // partial-aggregate merge must not depend on partitioning
    val one = VectorOps.covarianceMatrix(emb.repartition(1)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val many = VectorOps.covarianceMatrix(emb.repartition(32)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(one.keys == many.keys &&
      one.forall { case (k, v) => math.abs(many(k) - v) <= 2e-6 })
  }

  test("hard negatives: top-k wrong-label neighbors, verified against a JVM reference") {
    def q4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val vecs = emb.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.filter(_._1 < 5).flatMap { case (qid, qlab, qv) =>
      vecs.filter(_._2 != qlab)
        .map { case (id, lab, v) => (id, lab, q4(cos(qv, v))) }
        .sortBy { case (id, _, sim) => (-sim, id) }
        .take(5).zipWithIndex
        .map { case ((id, lab, sim), i) => (qid, i + 1, id, lab, sim) }
    }.toSeq
    val got = VectorOps.hardNegatives(emb, maxQueryId = 5, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      .toSeq
    assert(got == expected, s"first diff: ${got.zip(expected).find(p => p._1 != p._2)}")
    assert(got.forall { case (qid, _, _, negLab, _) =>
      negLab != vecs.find(_._1 == qid).get._2
    })
  }

  test("kmeansLloyd matches a naive single-threaded Lloyd reference exactly") {
    def q4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    def q6(x: Double) = math.floor(x * 1000000 + 0.5) / 1000000
    val k = 8; val iters = 2
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    // naive reference: same quantization ladder, ties to lowest cid
    var cents: Map[Int, Array[Double]] = vecs.filter(_._1 < k)
      .map { case (id, v) => id.toInt -> v.map(q4) }.toMap
    var stats: Map[(Int, Int), (Double, Long)] = Map.empty
    for (_ <- 1 to iters) {
      val assigned = vecs.map { case (_, v) =>
        val cid = cents.toSeq.sortBy(_._1).map { case (c, cv) =>
          val d = q6(v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
          (d, c)
        }.minBy(identity)._2
        (cid, v)
      }
      stats = assigned.groupBy(_._1).flatMap { case (cid, members) =>
        val n = members.length.toLong
        (0 until 64).map { pos =>
          (cid, pos) -> (q4(members.map(_._2(pos)).sum / n), n)
        }
      }
      cents = stats.toSeq.groupBy(_._1._1).map { case (cid, entries) =>
        cid -> entries.sortBy(_._1._2).map(_._2._1).toArray
      }
    }
    val got = VectorOps.kmeansLloyd(emb, k, iters).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got.size == stats.size, s"${got.size} vs ${stats.size} centroid cells")
    val diffs = stats.filter { case (key, (c, n)) =>
      got.get(key).forall { case (gc, gn) => math.abs(gc - c) > 1e-9 || gn != n }
    }
    assert(diffs.isEmpty, s"mismatched cells: ${diffs.take(3)}")
    // every vector is a member of exactly one cluster
    assert(stats.filter(_._1._2 == 0).values.map(_._2).sum == vecs.length)
  }

  test("PCA power iteration: synthetic dominant axis is recovered with the right eigenvalue and sign") {
    import spark.implicits._
    // variance 7.5 along dim 0, 0.075 along dim 1 (dim1 = 0.1*dim0), dims
    // 2-3 dead: C = [[7.5,.75,0,0],[.75,.075,0,0],0,0], lam1 = 7.575,
    // v1 = (0.99504, 0.09950, 0, 0); the sign rule (largest-|component|
    // positive) pins the orientation
    val df = Seq(1f, 2f, 3f, 4f, -1f, -2f, -3f, -4f).zipWithIndex
      .map { case (a, i) => (i.toLong, Seq(a, 0.1f * a, 0f, 0f)) }
      .toDF("vec_id", "embedding")
    val r = VectorOps.pcaPowerComponent(df, dim = 4, iters = 20).collect()
      .map(x => x.getInt(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r.size == 4)
    val lam = r(0)._2
    assert(math.abs(lam - 7.575) < 1e-3, s"lam $lam")
    assert(math.abs(r(0)._1 - 0.995037) < 1e-3, s"loading0 ${r(0)._1}")
    assert(math.abs(r(1)._1 - 0.099504) < 1e-3, s"loading1 ${r(1)._1}")
    assert(math.abs(r(2)._1) < 1e-6 && math.abs(r(3)._1) < 1e-6)
  }

  test("silhouette: tight separated clusters score high; a planted mislabel goes negative") {
    import spark.implicits._
    // two tight clusters around (10,...) and (-10,...) in 4-d; vec 99 is
    // LABELED 0 but sits in cluster 1's territory — its silhouette must
    // be negative and label 0's misplacement census must see it
    val c0 = (0 until 10).map(i =>
      (i.toLong, Seq(10f + 0.1f * i, 10f, 10f, 10f), 0))
    val c1 = (10 until 20).map(i =>
      (i.toLong, Seq(-10f - 0.1f * i, -10f, -10f, -10f), 1))
    val planted = Seq((99L, Seq(-9f, -9f, -9f, -9f), 0))
    val df = (c0 ++ c1 ++ planted).toDF("vec_id", "embedding", "label")
    val got = VectorOps.silhouetteByLabel(df).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(got.keySet == Set(0, 1))
    assert(got(1)._4 == 0L && got(1)._2 > 0.9,
      s"clean cluster should score ~1: ${got(1)}")
    assert(got(0)._4 == 1L, s"planted mislabel not counted: ${got(0)}")
    assert(got(0)._3 < 0, s"min silhouette must be negative: ${got(0)}")
    assert(got(0)._1 == 11L && got(1)._1 == 10L)
  }

  test("Mahalanobis OOD: a planted outlier ranks first; JVM reference agrees; partition-invariant") {
    import spark.implicits._
    // 20 tight in-distribution vectors + one planted far outlier
    val rows = (0 until 20).map(i =>
      (i.toLong, Seq(1f + 0.01f * (i % 5), 2f + 0.01f * (i % 3),
        -1f + 0.01f * (i % 7), 0.5f + 0.01f * (i % 2)), 0)) :+
      ((99L, Seq(10f, -10f, 10f, -10f), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = VectorOps.mahalanobisOutliers(df, k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.head._1 == 99L, s"planted outlier not first: ${got.toSeq}")
    assert(got.head._2 > got(1)._2 * 5, s"outlier not separated: ${got.toSeq}")
    // JVM reference with the operator's own quantization ladder
    val vecs = rows.map(r => r._1 -> r._2.map(_.toDouble).toArray).toMap
    val n = vecs.size.toDouble
    def q(x: Double, s: Double) = math.floor(x * s + 0.5) / s
    val mu = Array.tabulate(4)(p => q(vecs.values.map(_(p)).sum / n, 1e6))
    val s2 = Array.tabulate(4) { p =>
      val xs = vecs.values.map(_(p))
      q(xs.map(x => x * x).sum / n - (xs.sum / n) * (xs.sum / n), 1e6)
    }
    got.foreach { case (id, md2) =>
      val ref = q(vecs(id).indices
        .map(i => (vecs(id)(i) - mu(i)) * (vecs(id)(i) - mu(i)) / s2(i)).sum, 1e4)
      assert(math.abs(md2 - ref) < 1e-9, s"vec $id: $md2 vs $ref")
    }
    // partial-aggregate correctness: partitioning must not move a score
    val p1 = VectorOps.mahalanobisOutliers(df.repartition(1), k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val p32 = VectorOps.mahalanobisOutliers(df.repartition(32), k = 5).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(p1 == p32, s"partition-dependent scores: $p1 vs $p32")
  }

  test("PCA top-2 by deflation: synthetic orthogonal axes recovered; real components orthogonal") {
    import spark.implicits._
    // dim 0 carries variance 7.5 (v1), dim 2 carries 1.25 (v2), dim 1 is
    // 0.1×dim0 (rides v1), dim 3 dead; a⊥b by construction
    val a = Seq(1f, 2f, 3f, 4f, -1f, -2f, -3f, -4f)
    val b = Seq(0.5f, -0.5f, 1.5f, -1.5f, 0.5f, -0.5f, 1.5f, -1.5f)
    val df = a.zip(b).zipWithIndex
      .map { case ((av, bv), i) =>
        (i.toLong, Seq(av, 0.1f * av, bv, 0f), i % 2) }
      .toDF("vec_id", "embedding", "label")
    val got = VectorOps.pcaTop2Project(df, dim = 4, iters = 20, maxId = 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got.size == 8)
    // x ≈ a·1.00499 (v1 = (0.99504, 0.09950, 0, 0)), y ≈ b exactly (v2 = e2)
    a.indices.foreach { i =>
      assert(math.abs(got(i.toLong)._1 - a(i) * 1.0049876) < 1e-3,
        s"x of $i: ${got(i.toLong)._1}")
      assert(math.abs(got(i.toLong)._2 - b(i)) < 1e-3,
        s"y of $i: ${got(i.toLong)._2}")
    }
    // real corpus: the two projection axes must be near-orthogonal —
    // recover them by regressing projections against the embeddings is
    // overkill; instead check that x and y are uncorrelated over the
    // sample (PCA components are uncorrelated by construction)
    val real = VectorOps.pcaTop2Project(emb, maxId = 100).collect()
      .map(r => (r.getDouble(2), r.getDouble(3)))
    val n = real.length.toDouble
    val mx = real.map(_._1).sum / n
    val my = real.map(_._2).sum / n
    val cov = real.map { case (x, y) => (x - mx) * (y - my) }.sum / n
    val sx = math.sqrt(real.map(p => (p._1 - mx) * (p._1 - mx)).sum / n)
    val sy = math.sqrt(real.map(p => (p._2 - my) * (p._2 - my)).sum / n)
    assert(math.abs(cov / (sx * sy)) < 0.15,
      s"top-2 projections correlate: r=${cov / (sx * sy)}")
  }

  test("PCA on the corpus: JVM power-iteration reference agrees, lam dominates every per-dim variance") {
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length.toDouble
    def q(x: Double, s: Double) = math.floor(x * s + 0.5) / s
    val means = Array.tabulate(64)(p => vecs.map(_(p)).sum / n)
    // same quantized covariance + same iteration ladder as the operator
    val c = Array.tabulate(64, 64)((i, j) =>
      q(vecs.map(v => v(i) * v(j)).sum / n - means(i) * means(j), 1e6))
    var v = Array.fill(64)(1.0 / math.sqrt(64.0))
    for (_ <- 1 to 20) {
      val w = c.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(x => q(x / nrm, 1e8))
    }
    val maxIdx = v.indices.minBy(i => (-math.abs(v(i)), i))
    if (v(maxIdx) < 0) v = v.map(-_)
    val mv = c.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
    val lamRef = q(v.zip(mv).map { case (a, b) => a * b }.sum /
      v.map(x => x * x).sum, 1e6)
    val got = VectorOps.pcaPowerComponent(emb).collect()
      .map(x => x.getInt(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(got.size == 64)
    // covariance inputs may differ by one 1e-6 quantum on boundary cells;
    // 20 iterations keep that below 1e-4 on a well-separated spectrum
    v.indices.foreach(i => assert(math.abs(got(i)._1 - q(v(i), 1e6)) < 1e-4,
      s"loading $i: ${got(i)._1} vs ${q(v(i), 1e6)}"))
    assert(math.abs(got(0)._2 - lamRef) < 1e-4, s"lam ${got(0)._2} vs $lamRef")
    // the dominant eigenvalue bounds every coordinate variance
    (0 until 64).foreach(i => assert(got(0)._2 >= c(i)(i) - 1e-4))
    // projections agree with a direct dot-product reference on the same head
    val vEng = (0 until 64).map(i => got(i)._1).toArray
    val proj = VectorOps.pcaProject(emb, maxId = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val mu = means.map(q(_, 1e6))
    val cOff = mu.zip(vEng).map { case (a, b) => a * b }.sum
    val byId = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    byId.foreach { case (id, x) =>
      val ref = x.zip(vEng).map { case (a, b) => a * b }.sum - cOff
      // vEng is 1e-6-quantized output, not the internal 1e-8 iterate:
      // |x|~8, 64 dims ⇒ quantization slack dominates the comparison
      assert(math.abs(proj(id) - ref) < 5e-3, s"proj $id: ${proj(id)} vs $ref")
    }
  }

  test("kNN graph census: edge bounds hold and a shared-direction cell is fully reciprocal") {
    import spark.implicits._
    // one cell (identical labels drive one centroid): colinear vectors
    // with distinct magnitudes — all cosines are 1.0, so every top-k list
    // is the k nearest by the vec_id tiebreak and reciprocity is total
    val df = (0L until 5L).map(i =>
      (i, Seq.fill(4)((i + 1).toFloat), 0)).toDF("vec_id", "embedding", "label")
    val rows = VectorOps.knnGraphCensus(df, k = 2).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(1) == 5L, s"members: $r")
    assert(r.getLong(2) == 10L, s"edges = k*n: $r")
    // ties at sim 1.0 resolve by vec_id: 0↔1, 1↔0... every edge that picks
    // a neighbor is picked back except where the id-window shifts
    assert(r.getLong(3) <= r.getLong(2), s"reciprocal <= edges: $r")
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0, s"sims: $r")
    // bound check on the real table: edges <= k * members per cell
    val real = VectorOps.knnGraphCensus(emb, k = 3).collect()
    real.foreach { c =>
      assert(c.getLong(2) <= 3L * c.getLong(1), s"edge bound: $c")
      assert(c.getLong(3) <= c.getLong(2), s"recip bound: $c")
    }
  }

  test("MMR: an exact duplicate of the first pick loses round 2 to a diverse result") {
    import spark.implicits._
    // query 0 = [1,0,0]; 1 and 2 are scaled duplicates (sim(q)=0.8,
    // sim(1,2)=1.0); 3 is orthogonal to them (sim(q)=0.6, sim(·,1)=0).
    // pure top-k would return (1, 2); MMR round 2: dup scores
    // 0.7·0.8 − 0.3·1.0 = 0.26 < 0.7·0.6 − 0.3·0 = 0.42 → diverse wins
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.8f, 0.6f, 0.0f)),
      (2L, Seq(1.6f, 1.2f, 0.0f)),
      (3L, Seq(0.6f, -0.8f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = VectorOps.mmrRerank(df, maxQueryId = 1, k = 3, pool = 3)
      .collect().map(r => (r.getInt(2), r.getLong(1), r.getDouble(3)))
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L),
      s"pick order: ${got.toSeq}")
    // round-2 scores exactly as derived above (all sims are exact 4dp)
    assert(got(1)._3 == 0.42, s"diverse score: ${got(1)._3}")
    assert(got(2)._3 == 0.26, s"dup score: ${got(2)._3}")
  }

  test("MMR: with lambda=1-equivalent relevance ties, ranks are relevance order and scores decrease") {
    val got = VectorOps.mmrRerank(emb, maxQueryId = 2, k = 5, pool = 20)
      .collect()
    assert(got.length == 10)
    // per query: rank 1 is the pure-relevance argmax (penalty 0 in round 1)
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(2))
      assert(byRank.head.getInt(2) == 1)
      // mmr scores are non-increasing in rank for a fixed query
      val scores = byRank.map(_.getDouble(3)).toSeq
      assert(scores == scores.sorted.reverse, s"not monotone: $scores")
    }
  }

  test("MMR: driver-resident greedy matches the distributed round loop " +
    "exactly (r17b parameter-bounded fast path)") {
    val fast = VectorOps.mmrRerank(emb, maxQueryId = 3, k = 4, pool = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSeq
    val slow = Exec.distributedOnly(
      VectorOps.mmrRerank(emb, maxQueryId = 3, k = 4, pool = 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("incremental cosine dedup: delta identity with planted twin vectors") {
    // sf0.001 has no organic >=0.45 same-label pairs — plant exact copies
    // of five corpus vectors as the new batch: each must pair with its
    // original at sim 1.0 as new_corpus, and the incremental result must
    // equal the full batch operator over the union filtered to the batch
    val twins = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val full = VectorOps.cosineNearDupPairs(emb.unionByName(twins), 0.45)
      .collect()
      .filter(r => r.getLong(1) >= 1000000L || r.getLong(2) >= 1000000L)
      .map { r =>
        val (a, b) = (r.getLong(1), r.getLong(2))
        val kind = if (a >= 1000000L && b >= 1000000L) "new_new" else "new_corpus"
        (a, b, kind, r.getDouble(3))
      }.toSet
    // through the gated operator (the driver branch here) and the distributed one
    Seq(VectorOps.incrementalCosinePairs(emb, twins),
        VectorOps.incrementalCosineDistributed(emb, twins, 0.45)).foreach { out =>
      val inc = out.collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
        .toSet
      assert(inc == full,
        s"delta identity broken: only-inc=${inc -- full} only-full=${full -- inc}")
      (0L until 5L).foreach { v =>
        assert(inc.contains((v, v + 1000000L, "new_corpus", 1.0)),
          s"missing twin pair for $v in $inc")
      }
    }
  }

  private def cosineBranches(corpus: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame) =
    (VectorOps.incrementalCosineOnDriver(corpus, batch, 0.45),
      VectorOps.incrementalCosineDistributed(corpus, batch, 0.45))

  private def vectors(rows: (Long, Int, Seq[Float])*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "label", "embedding").select("vec_id", "embedding", "label")
  }

  test("incremental cosine dedup: the driver branch equals the distributed branch") {
    val twins = emb.filter(col("vec_id") < 5).withColumn("vec_id", col("vec_id") + 1000000L)
    val base = emb.filter(col("vec_id") === 7).collect()(0)
    val (label, e) = (base.getAs[Int]("label"), base.getAs[scala.collection.Seq[Float]]("embedding").toSeq)
    val edge = vectors(
      (2000001L, label, Seq.fill(e.size)(0f)),                 // zero norm
      (2000002L, label, e.map(_ * 2)), (2000003L, label, e),   // new/new, both orientations
      (2000004L, label + 100, e))                              // a label the corpus lacks
    val withZero = emb.unionByName(vectors((3000001L, label, Seq.fill(e.size)(0f))))
    val cases = Seq(
      "odd/even split" -> (emb.filter(col("vec_id") % 2 =!= 0), emb.filter(col("vec_id") % 2 === 0)),
      "planted twins" -> (emb, twins),
      "edge batch" -> (withZero, edge),
      "empty batch" -> (emb, twins.limit(0)))
    cases.foreach { case (name, (corpus, batch)) =>
      val (driver, distributed) = cosineBranches(corpus, batch)
      assert(driver.isDefined, s"$name: the small input must take the driver branch")
      val (got, want) = (driver.get.collect().toSeq, distributed.collect().toSeq)
      assert(got == want, s"$name: driver=${got.take(5)} distributed=${want.take(5)}")
      assert(driver.get.schema == distributed.schema, s"$name: ${driver.get.schema}")
    }
    val pairs = cosineBranches(withZero, edge)._1.get.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getString(3)).toMap
    assert(pairs.get((2000002L, 2000003L)).contains("new_new"), s"$pairs")
    assert(pairs.get((7L, 2000003L)).contains("new_corpus"), s"$pairs")
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).exists(Set(2000001L, 3000001L)) },
      s"zero-norm vectors have no cosine: $pairs")
  }

  test("incremental cosine dedup: a batch of a few very wide vectors takes the distributed branch") {
    val wide = vectors((1 to 3).map(i => (i.toLong, 0, Seq.fill(50000)(i.toFloat))): _*)
    assert(Exec.collectInternalIfSmall(VectorOps.cosinePrep(wide), Exec.SmallInputRows, 256L << 10).isEmpty,
      "three 50k-dimension vectors exceed a 256 KiB budget")
    assert(cosineBranches(wide, wide)._1.isDefined, "the default budget holds them")
  }

  test("int8 quantization: codes honor the affine formula, recall audited, degenerate dims code to 0") {
    val out = VectorOps.int8QuantRecall(emb).collect()
    assert(out.length == 8)
    out.foreach { r =>
      val (hits, recall) = (r.getLong(1), r.getDouble(2))
      assert(hits >= 0 && hits <= 5 && recall == hits.toDouble / 5.0)
    }
    // int8 dot retrieval should agree with exact cosine on most of the
    // top-5 for this fixture — a broken quantizer collapses recall to ~0
    val meanRecall = out.map(_.getDouble(2)).sum / out.length
    assert(meanRecall >= 0.6, s"suspiciously low int8 recall: $meanRecall")
    // hand-check the quantizer on a 2-vector frame: per-dim lo/hi are the
    // two values, so codes must be exactly -127 and +127 (or 0 when equal)
    import spark.implicits._
    val tiny = Seq(
      (0L, "a", Array(0.0f, 5.0f, 2.0f)),
      (1L, "a", Array(1.0f, -5.0f, 2.0f)),
      (2L, "a", Array(0.5f, 0.0f, 2.0f))) // midpoint: floor(0.5*254+0.5)=127 -> 0
      .toDF("vec_id", "label", "embedding")
    val got = VectorOps.int8QuantRecall(tiny, maxQueryId = 1, k = 1).collect()
    assert(got.length == 1) // smoke: runs end-to-end on a degenerate frame
    // direct quantizer check via the same SQL formula
    val codes = tiny
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("lo", expr("array(0.0D, -5.0D, 2.0D)"))
      .withColumn("hi", expr("array(1.0D, 5.0D, 2.0D)"))
      .withColumn("c", expr(
        """transform(sequence(0, size(v) - 1), d ->
          |  IF(element_at(hi, d + 1) = element_at(lo, d + 1), 0L,
          |     CAST(floor((element_at(v, d + 1) - element_at(lo, d + 1))
          |            / (element_at(hi, d + 1) - element_at(lo, d + 1))
          |            * 254.0 + 0.5) AS BIGINT) - 127))""".stripMargin))
      .orderBy(col("vec_id"))
      .select("c").as[Seq[Long]].collect()
    assert(codes(0) == Seq(-127L, 127L, 0L), s"${codes(0)}")
    assert(codes(1) == Seq(127L, -127L, 0L), s"${codes(1)}")
    assert(codes(2) == Seq(0L, 0L, 0L), s"${codes(2)}") // midpoints + degenerate
  }

  test("cosine dedup bounded-block contract: an oversized block raises in-plan, conforming data is untouched") {
    // the sf0.001 fixture's largest label block exceeds 3, so maxBlock=3
    // must fail LOUDLY (the r13 'detonates silently at 100x' enforcement)
    val ex = intercept[Exception] {
      VectorOps.cosineNearDupPairs(emb, 0.45, maxBlock = 3).collect()
    }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq
      .flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(m => m.contains("cosineNearDupPairs")
      && m.contains("maxBlock=3") && m.contains("annLsh")),
      msgs(ex).mkString("; "))
    // on conforming data the guard is algebraically transparent: the
    // default-cap result matches an effectively-uncapped run row-for-row
    val twins = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val withCap = VectorOps.cosineNearDupPairs(emb.unionByName(twins), 0.45)
      .collect().toSeq
    val noCap = VectorOps.cosineNearDupPairs(emb.unionByName(twins), 0.45,
      maxBlock = Int.MaxValue).collect().toSeq
    assert(withCap == noCap && withCap.nonEmpty)
  }

  test("nDCG audit: perfect when IVF == exact; consistent with the recall audit; bounded by [0,1]") {
    val ndcg = VectorOps.annNdcgAudit(emb).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val rec = VectorOps.annRecallAudit(emb).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hits")).toMap
    assert(ndcg.keySet == rec.keySet)
    val idcg = VectorOps.idealDcg(5)
    ndcg.foreach { case (q, (nHits, dcg, nd)) =>
      assert(nHits == rec(q), s"query $q: hit counts disagree with recall audit")
      assert(nd >= 0.0 && nd <= 1.0, s"query $q: ndcg $nd out of [0,1]")
      // dcg is the 4dp-rounded sum, nd the 4dp-rounded normalized sum —
      // they agree up to the two roundings
      assert(math.abs(nd - dcg / idcg) < 2e-4,
        s"query $q: ndcg $nd inconsistent with dcg $dcg / idcg $idcg")
      if (nHits == 0) assert(dcg == 0.0 && nd == 0.0)
    }
    // at least one sf0.001 query recovers something (the cells are real)
    assert(ndcg.values.exists(_._1 > 0))
  }

  test("nDCG audit: exact ordering scores exactly 1.0 on a single-cell corpus") {
    import spark.implicits._
    // one label => IVF probes the only cell => candidates == full corpus
    // => the approx ranking IS the exact ranking => ndcg 1.0, dcg == idcg
    val vecs = (0L until 10L).map { i =>
      (i, Array.tabulate(64)(j =>
        (((i * 31 + j * 7) % 13).toFloat - 6.0f) / 6.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val got = VectorOps.annNdcgAudit(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 5)
    val idcg4 = math.floor(VectorOps.idealDcg(5) * 1e4 + 0.5) / 1e4
    got.foreach { case (q, nHits, dcg, nd) =>
      assert(nHits == 5L, s"query $q: $nHits hits")
      assert(dcg == idcg4, s"query $q: dcg $dcg != ideal $idcg4")
      assert(nd == 1.0, s"query $q: ndcg $nd")
    }
  }

  test("MRR audit: agrees with the recall audit; full recall forces a rank-1 hit") {
    val mrr = VectorOps.annMrrAudit(emb).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1)), r.getLong(2), r.getDouble(3)))
      .toMap
    val rec = VectorOps.annRecallAudit(emb).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_hits")).toMap
    assert(mrr.keySet == rec.keySet)
    mrr.foreach { case (q, (fhr, nHits, rr)) =>
      assert(nHits == rec(q), s"query $q: hit counts disagree with recall audit")
      if (nHits == 5)
        // approx top-5 == exact top-5 as sets, so rank 1 must be relevant
        assert(fhr == 1 && rr == 1.0, s"query $q: full recall but fhr=$fhr")
      if (nHits > 0) {
        assert(fhr >= 1 && fhr <= 5)
        assert(rr == math.floor(1.0 / fhr * 10000 + 0.5) / 10000,
          s"query $q: rr $rr != 1/$fhr")
      } else assert(fhr == -1 && rr == 0.0)
    }
  }

  test("vec pipeline e2e: planted duplicate vectors are deduped out of retrieval") {
    // exact copies (cosine 1.0, same label) under fresh larger ids: the
    // dedup stage must drop every twin (component min = the original), so
    // the pipeline over the augmented set equals the pipeline over the raw
    // set row for row — and no twin id may ever surface in the output
    val twins = emb.filter(col("vec_id").between(10, 14))
      .withColumn("vec_id", col("vec_id") + 100000L)
    val out = VectorOps.vecPipelineE2E(emb.unionByName(twins)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.forall(_._2 < 100000L), s"a planted twin survived: ${out.filter(_._2 >= 100000L).take(3).toSeq}")
    val byQ = out.groupBy(_._1)
    assert(byQ.size == 5 && byQ.values.forall(_.map(_._2).distinct.length == 5),
      s"expected 5 queries x 5 distinct results: ${byQ.view.mapValues(_.length).toMap}")
    val base = VectorOps.vecPipelineE2E(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.toSet == base.toSet,
      "twins changed the retrieval output — dedup should have erased them")
  }

  test("kmeansppInit: farthest-point traversal with lowest-id tie-break") {
    import spark.implicits._
    // v0=(0,0) seeds; v3=(10,1) is farthest (101); then v1 and v2 tie at
    // min-dist 1.0 and the LOWER id (v1) must win round 2
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(10.0f, 0.0f)), (3L, Seq(10.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val rows = VectorOps.kmeansppInit(pts, k = 3).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((0, 0, 0.0), (1, 3, 101.0), (2, 1, 1.0)),
      s"selection order was ${rows.toSeq}")
  }

  test("kmeansppQuality: hand-computed inertia — spread seeds beat clumped lowest-id seeds") {
    import spark.implicits._
    // pp seeds {v0, v4, v3} leave inertia 2 (v1 and v2 each 1 away);
    // lowest-id seeds {v0, v1, v2} leave 101 (v4 is 100 away) →
    // improvement = 1 − 2/101 = 0.9802 at q4
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(10.0f, 0.0f)),
      (3L, Seq(10.0f, 1.0f)), (4L, Seq(20.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = VectorOps.kmeansppQuality(pts, k = 3).collect()(0)
    assert(r.getLong(0) == 5)
    assert(r.getLong(1) == 2000000L, s"pp inertia ${r.getLong(1)}")
    assert(r.getLong(2) == 101000000L, s"lowid inertia ${r.getLong(2)}")
    assert(r.getDouble(3) == 0.9802, s"improvement ${r.getDouble(3)}")
  }

  test("knnOodScores flags the planted far point and nothing near the cluster") {
    import spark.implicits._
    // 9 clustered points + one far outlier (id 9 at distance 100+): with
    // k=2 the outlier's mean kNN distance dwarfs the cluster's, so the
    // p95 threshold isolates exactly it
    val pts = ((0L to 8L).map(i => (i, Seq(i.toFloat * 0.1f, 0.0f)))
      :+ (9L, Seq(100.0f, 100.0f))).toDF("vec_id", "embedding")
    val rows = VectorOps.knnOodScores(pts, maxQueryId = 10, k = 2).collect()
    assert(rows.length == 10)
    val flagged = rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(flagged == Set(9L), s"flagged $flagged")
    val scores = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(9L) > 100 * scores(0L),
      s"outlier score ${scores(9L)} vs cluster ${scores(0L)}")
  }

  test("kmeansppInit spreads the real corpus: every later selection is farther than the Lloyd seeds' spread") {
    val sel = VectorOps.kmeansppInit(emb, k = 4).collect()
    assert(sel.length == 4)
    // farthest-point distances are non-increasing by construction
    val d = sel.drop(1).map(_.getDouble(2))
    assert(d.zip(d.tail).forall { case (a, b) => b <= a },
      s"selection distances must be non-increasing: ${d.toSeq}")
    assert(d.forall(_ > 0.0), "degenerate duplicate selection")
  }

  test("clusterAgreement: hand-computed purity and adjusted Rand index") {
    import spark.implicits._
    // two tight true clusters, one label-1 outlier sitting in label-0
    // territory -> confusion {(L0,c0)=3, (L1,c0)=1, (L1,c1)=2}
    val pts = Seq(
      (0L, 0, Seq(0.0f, 0.0f)), (1L, 0, Seq(0.0f, 1.0f)),
      (2L, 0, Seq(1.0f, 0.0f)),
      (3L, 1, Seq(10.0f, 10.0f)), (4L, 1, Seq(10.0f, 11.0f)),
      (5L, 1, Seq(0.0f, 0.5f)))
      .toDF("vec_id", "label", "embedding")
    val r = VectorOps.clusterAgreement(pts).collect()(0)
    assert(r.getLong(0) == 6 && r.getLong(1) == 2 && r.getLong(2) == 2)
    // pairs within confusion blocks: C(3,2)+C(1,2)+C(2,2) = 4
    assert(r.getLong(3) == 4)
    // purity = (3 + 2) / 6
    assert(r.getDouble(4) == 0.8333)
    // ARI = (4 - 6*7/15) / ((6+7)/2 - 6*7/15) = 1.2/3.7
    assert(r.getDouble(5) == math.floor(1.2 / 3.7 * 1e6 + 0.5) / 1e6)
    graft.ops.Exec.clearPinned(spark)
  }

  test("clusterAgreement: perfect agreement scores ARI 1, degenerate " +
    "single-block partition nulls it") {
    import spark.implicits._
    val perfect = Seq(
      (0L, 0, Seq(0.0f, 0.0f)), (1L, 0, Seq(0.0f, 1.0f)),
      (2L, 1, Seq(10.0f, 10.0f)), (3L, 1, Seq(10.0f, 11.0f)))
      .toDF("vec_id", "label", "embedding")
    val rp = VectorOps.clusterAgreement(perfect).collect()(0)
    assert(rp.getDouble(4) == 1.0 && rp.getDouble(5) == 1.0)
    // one label => one cell => max_index == expected => NULL ARI
    val degen = Seq((0L, 0, Seq(0.0f, 0.0f)), (1L, 0, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val rd = VectorOps.clusterAgreement(degen).collect()(0)
    assert(rd.getDouble(4) == 1.0 && rd.isNullAt(5))
    graft.ops.Exec.clearPinned(spark)
  }
}
