package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StringType,
  StructField, StructType}

/** Vector / similarity-search operators over `embeddings(vec_id, embedding:
  * array<float>[64], label)` (LLM-pipeline extension).
  *
  * All arithmetic goes through higher-order functions (`zip_with` +
  * `aggregate`) in DOUBLE — codegen'd, no UDFs, no driver collection. The
  * brute-force kNN broadcasts the (small) query set and streams the corpus —
  * one pass, no shuffle until the final per-query top-k. The LSH path buckets
  * by deterministic random-hyperplane signs, turning ANN into an equi-join.
  */
object VectorOps {

  /** Sum of element-wise products in double precision (sequential fold —
    * deterministic order).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(c: Column): Column =
    sqrt(aggregate(c, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Native single-pass cosine (graft.functions.CosineSim) — same sequential
    * fold as the HOF form (bit-identical), ~5-10x faster on pairwise paths.
    * Requires the function registered on the frame's session.
    */
  private def cosineFast(df: DataFrame, a: Column, b: Column): Column = {
    graft.functions.CosineSim.register(df.sparkSession)
    call_function("cosine_sim", a, b)
  }

  /** 4-decimal quantization with engine-stable tie behavior (see TextOps.q4). */
  private def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** Embedding-space health histogram: cosine similarity over the
    * deterministic adjacent-id pairs (i, i+1), bucketed at `binWidth`.
    * A healthy embedding table spreads mass across bins; a collapsed
    * encoder (all vectors near one direction) piles into the top bin —
    * the cheap drift check a vector pipeline runs per ingest. Pairing by
    * id keeps the join narrow and shuffle-minimal (no sampling
    * nondeterminism); bin stats are count/min/max only — order-independent
    * aggregates, so the output is engine-exact. Scales as one self-join
    * on consecutive ids + one tiny aggregate.
    */
  def pairCosineHistogram(emb: DataFrame, binWidth: Double = 0.1): DataFrame = {
    val a = emb.select(col("vec_id").as("pair_id"), col("embedding").as("va"))
    val b = emb.select((col("vec_id") - 1).as("pair_id"), col("embedding").as("vb"))
    a.join(b, Seq("pair_id"))
      .withColumn("cos", q4(cosineFast(emb, col("va"), col("vb"))))
      .groupBy(floor(col("cos") / binWidth).cast("int").as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
      .orderBy(col("bin"))
  }

  /** Centroid drift between two halves of the table (vec_id parity as the
    * deterministic split): per (label, dimension), the mean under each half
    * and their absolute gap — the embedding analogue of PSI drift. A real
    * deployment splits by ingest batch; parity keeps the oracle exact. One
    * explode, ONE shuffle on (label, pos) with both halves as conditional
    * averages in the same aggregate. 4dp-quantized like every centroid.
    */
  def centroidDrift(emb: DataFrame): DataFrame =
    emb
      .withColumn("half", (col("vec_id") % 2).cast("int"))
      .select(col("label"), col("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(when(col("half") === 0, col("v"))).as("ce"),
        avg(when(col("half") === 1, col("v"))).as("co"))
      .select(col("label"), col("pos"),
        q4(col("ce")).as("c_even"), q4(col("co")).as("c_odd"),
        q4(abs(col("ce") - col("co"))).as("drift"))
      .orderBy(col("label"), col("pos"))

  /** Per-vector L2 norms. */
  def norms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"), q4(l2Norm(col("embedding"))).as("l2_norm"))
      .orderBy(col("vec_id"))

  /** Int8 scalar quantization stats — the memory-reduction path of a
    * vector index (4x smaller than f32, the precursor to PQ): per vector,
    * symmetric scale = max|x|/127, elements round-half-up and clamp to
    * [-127, 127], and the squared reconstruction error is a strict
    * sequential fold (engine-stable). Pure per-row column math, no
    * shuffle — at corpus scale this runs at scan speed and writes the
    * quantized column next to the original.
    */
  def quantizeInt8Stats(emb: DataFrame): DataFrame =
    emb
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("scale",
        expr("greatest(array_max(transform(v, x -> abs(x))), 1e-12d) / 127.0d"))
      .withColumn("q",
        expr("transform(v, x -> CAST(greatest(-127.0d, least(127.0d, floor(x / scale + 0.5d))) AS INT))"))
      .withColumn("sq_err", expr(
        "aggregate(zip_with(v, q, (a, b) -> (a - b * scale) * (a - b * scale)), 0.0d, (acc, e) -> acc + e)"))
      .select(col("vec_id"), col("label"),
        (floor(col("scale") * 1e7 + 0.5) / 1e7).as("scale_q"),
        (floor(col("sq_err") * 1e6 + 0.5) / 1e6).as("sq_err_q"))
      .orderBy(col("vec_id"))

  /** Binary (1-bit) quantization + Hamming retrieval with a recall@k
    * audit — the 32×-memory end of the quantization ladder (f32 → int8 →
    * PQ → 1 bit): each 64-dim vector collapses to TWO 32-bit sign words
    * (bit d = [x_d > μ_d], thresholded at the per-dimension corpus mean
    * so even an all-positive embedding space splits ~50/50 per bit), and
    * candidate ranking is `bit_count(xor)` — pure register arithmetic, no
    * floats anywhere in the scan. Recall@k against exact cosine top-k is
    * the quality audit, same posture as [[annRecallAudit]]. Determinism:
    * the threshold is the q4-quantized per-dim mean (the same mean-parity
    * the PCA head oracle-proves), bit packing and Hamming counts are
    * exact integers, ties rank by vec_id. Scale shape: the mean is one
    * narrow (pos)-keyed aggregate; packing is map-side against the one
    * broadcast μ row; the corpus crosses NO exchange wider than
    * (vec_id, two ints) on the Hamming path — at 100 TB the sign words
    * are the only thing an index node ever holds.
    */
  def binaryQuantRecall(emb: DataFrame, maxQueryId: Int = 8, k: Int = 5): DataFrame = {
    val muRow = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(q4(avg(col("x").cast("double"))).as("mu"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mu))), s -> s.mu)")
        .as("mu"))
    def word(lo: Int) = expr(
      s"""aggregate(transform(sequence(0, 31), d ->
         |  IF(element_at(v, d + ${lo + 1}) > element_at(mu, d + ${lo + 1}),
         |     shiftleft(1L, d), 0L)), 0L, (acc, x) -> acc + x)""".stripMargin)
    val packed = emb
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .crossJoin(broadcast(muRow))
      .select(col("vec_id"), word(0).as("w0"), word(32).as("w1"))
    val queries = packed.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("w0").as("q0"), col("w1").as("q1"))
    val ham = packed.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("ham",
        expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)").cast("long"))
    val wH = Window.partitionBy(col("query_id")).orderBy(col("ham"), col("vec_id"))
    val topHam = ham.withColumn("rank", row_number().over(wH))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("ham"), col("rank"))
    val topExact = knnBruteForce(emb, maxQueryId, k)
      .select(col("query_id"), col("vec_id"))
    topHam.join(topExact.withColumn("hit", lit(1)),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"),
        min(when(col("rank") === 1, col("vec_id"))).as("top1_id"),
        min(when(col("rank") === 1, col("ham"))).as("top1_ham"))
      .withColumn("recall",
        col("n_hits").cast("double") / lit(k).cast("double"))
      .select(col("query_id"), col("n_hits"), col("recall"),
        col("top1_id"), col("top1_ham"))
      .orderBy(col("query_id"))
  }

  /** Scalar INT8 quantization + recall audit — the third rung of the
    * memory-compression ladder beside [[binaryQuantRecall]] (1 bit/dim)
    * and PQ (codes): per-dimension min/max affine quantization to
    * [−127, 127], the standard production trick that shrinks a float32
    * embedding store 4× while keeping dot-product retrieval integer-exact
    * and SIMD-shaped. Plan: ONE tiny posexplode aggregate produces the
    * 64-entry lo/hi arrays (broadcast — the corpus never shuffles), codes
    * are a row-local transform, scoring is an exact-long zip_with dot
    * product against the broadcast query codes, top-k is the standard
    * per-query rank window, and recall audits against the exact-cosine
    * top-k ([[knnBruteForce]]), same contract as the binary audit.
    *
    * Determinism: the quantizer is floor((x−lo)/(hi−lo)·254 + 0.5) − 127 —
    * every step one correctly-rounded IEEE op, so codes are engine-exact
    * (the repo's floor-half-up doctrine; `round()` would tie-split across
    * engines); degenerate hi==lo dimensions code to 0; dots are exact
    * int64 (≤ 64·127² per pair).
    */
  def int8QuantRecall(emb: DataFrame, maxQueryId: Int = 8, k: Int = 5): DataFrame = {
    val rng = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, lo))), s -> s.lo)")
          .as("lo"),
        expr("transform(array_sort(collect_list(struct(pos, hi))), s -> s.hi)")
          .as("hi"))
    val codes = expr(
      """transform(sequence(0, size(v) - 1), d ->
        |  IF(element_at(hi, d + 1) = element_at(lo, d + 1), 0L,
        |     CAST(floor((element_at(v, d + 1) - element_at(lo, d + 1))
        |            / (element_at(hi, d + 1) - element_at(lo, d + 1))
        |            * 254.0 + 0.5) AS BIGINT) - 127))""".stripMargin)
    val packed = emb
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .crossJoin(broadcast(rng))
      .select(col("vec_id"), codes.as("c"))
    val queries = packed.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("c").as("qc"))
    val scored = packed
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("dot", expr(
        "aggregate(zip_with(c, qc, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id"))
    val topQ = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("dot"), col("rank"))
    val topExact = knnBruteForce(emb, maxQueryId, k)
      .select(col("query_id"), col("vec_id"))
    topQ.join(topExact.withColumn("hit", lit(1)),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"),
        min(when(col("rank") === 1, col("vec_id"))).as("top1_id"),
        max(col("dot")).as("top1_dot"))
      .withColumn("recall",
        col("n_hits").cast("double") / lit(k).cast("double"))
      .select(col("query_id"), col("n_hits"), col("recall"),
        col("top1_id"), col("top1_dot"))
      .orderBy(col("query_id"))
  }

  /** Maximal Marginal Relevance re-ranking — the diversity-aware final
    * stage of a retrieval pipeline: greedily pick k results maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`, so the second pick is
    * penalized for resembling the first (pure top-k happily returns k
    * near-duplicates; MMR is the standard fix, and for training-data
    * curation it is how a retrieval-dedup stage picks REPRESENTATIVE
    * examples rather than k copies). Runs over a top-`pool` relevance
    * shortlist per query — the standard production shape: the corpus-wide
    * scan happens ONCE (the same broadcast-queries / stream-corpus pass as
    * [[knnBruteForce]]), and the O(pool²) pair similarities + k greedy
    * rounds touch only the shortlist (pool²·|queries| rows — metadata).
    * Determinism: all similarities q4-quantized before any ranking, the
    * greedy argmax ties by vec_id, each round's pick is a deterministic
    * row_number; the oracle unrolls the same k rounds. Per-round
    * localCheckpoint cuts the growing selected-set lineage (the frames
    * are |queries|·round rows — the eager jobs are microseconds).
    */
  def mmrRerank(emb: DataFrame, maxQueryId: Int = 5, k: Int = 5,
                pool: Int = 50, lambda: Double = 0.7,
                queryEmb: Option[DataFrame] = None): DataFrame = {
    // queryEmb: draw the query vectors from a DIFFERENT frame than the
    // retrieval pool (the composed pipeline retrieves over the DEDUPED
    // index with queries from the raw set — a query must not disappear
    // because dedup dropped its vector from the index)
    val queries = queryEmb.getOrElse(emb).filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("simq").desc, col("vec_id"))
    val poolDf = Exec.checkpoint(
      emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
        .withColumn("simq", q4(cosineFast(emb, col("q"), col("embedding"))))
        .withColumn("prank", row_number().over(wRel))
        .filter(col("prank") <= pool)
        .select(col("query_id"), col("vec_id"), col("simq"), col("embedding")))
    // shortlist pair sims: pool × pool per query, both sides already
    // shortlist-sized — broadcast one side so no wide exchange forms
    val pp = Exec.checkpoint(
      poolDf.as("l")
        .join(broadcast(poolDf.as("r")),
          col("l.query_id") === col("r.query_id")
            && col("l.vec_id") =!= col("r.vec_id"))
        .select(col("l.query_id").as("query_id"),
          col("l.vec_id").as("cand"), col("r.vec_id").as("sel"),
          q4(cosineFast(poolDf, col("l.embedding"), col("r.embedding")))
            .as("simdd")))
    val slim = poolDf.select(col("query_id"), col("vec_id"), col("simq"))
    // r17: the greedy selection loop runs DRIVER-RESIDENT when the
    // shortlist is parameter-bounded metadata — `slim` is ≤ maxQueryId·pool
    // rows and `pp` ≤ maxQueryId·pool² rows BY CONSTRUCTION (row_number
    // caps), independent of corpus size, so at the default 5×50 the k
    // greedy rounds (each an anti-join + pair-max join + window + eager
    // checkpoint = ~4 blocking jobs of pure latency) collapse to one
    // collect of two already-checkpointed tiny frames. The corpus-sized
    // work (the relevance scan building poolDf) stays distributed above.
    // Arithmetic is replicated term-for-term (same IEEE double expression,
    // same floor-quantize, same (score desc, vec_id asc) tie-break), so
    // the selection is bit-identical — pinned by the MMR parity spec.
    // The bound is known without a job, so it is the whole gate.
    if (Exec.smallInput(maxQueryId.toLong * pool.toLong * pool.toLong, Exec.DriverLoopRows))
      return mmrGreedyDriver(slim, pp, k, lambda)
    var selected: DataFrame = null
    for (r <- 1 to k) {
      val base = if (selected == null) slim
        else slim.join(selected.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
      val penal = if (selected == null) base.withColumn("maxs", lit(0.0))
        else base.join(
          pp.join(selected.select(col("query_id"), col("vec_id").as("sel")),
              Seq("query_id", "sel"))
            .groupBy(col("query_id"), col("cand").as("vec_id"))
            .agg(max(col("simdd")).as("maxs")),
          Seq("query_id", "vec_id"), "left")
          .na.fill(0.0, Seq("maxs"))
      val wPick = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      val pick = penal
        .withColumn("score",
          lit(lambda) * col("simq") - lit(1.0 - lambda) * col("maxs"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), lit(r).as("rank"),
          (floor(col("score") * 10000 + 0.5) / 10000).as("mmr_score"))
      val prev = selected
      selected = Exec.checkpoint(if (prev == null) pick else prev.union(pick))
      if (prev != null) Exec.unpersistCheckpointed(prev)
    }
    selected.orderBy(col("query_id"), col("rank"))
  }

  /** The in-memory MMR greedy over the collected shortlist frames — see
    * the gate comment in [[mmrRerank]]. `slim` rows are (query_id, vec_id,
    * simq); `pp` rows are (query_id, cand, sel, simdd), complete over all
    * ordered shortlist pairs per query. Per round, each unselected
    * candidate scores λ·simq − (1−λ)·max_{s∈S} simdd(cand, s) (0.0 when S
    * is empty or no pair row exists — the distributed left-join + na.fill
    * contract), argmax ties to the lower vec_id, and the emitted score is
    * floor(score·10⁴ + 0.5)/10⁴ — the exact expressions of the
    * distributed loop.
    */
  private def mmrGreedyDriver(slim: DataFrame, pp: DataFrame,
                              k: Int, lambda: Double): DataFrame = {
    val poolRows = slim.collect()
    val ppRows = pp.collect()
    val byQ = scala.collection.mutable.LinkedHashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    poolRows.foreach { r =>
      byQ.getOrElseUpdate(r.getLong(0),
        scala.collection.mutable.ArrayBuffer.empty) +=
        ((r.getLong(1), r.getDouble(2)))
    }
    val simdd = new java.util.HashMap[Long, java.util.HashMap[Long, java.util.HashMap[Long, java.lang.Double]]]()
    ppRows.foreach { r =>
      val q = r.getLong(0)
      val perQ = simdd.computeIfAbsent(q, _ => new java.util.HashMap())
      val perCand = perQ.computeIfAbsent(r.getLong(1), _ => new java.util.HashMap())
      perCand.put(r.getLong(2), r.getDouble(3))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
    byQ.foreach { case (q, cands) =>
      val selectedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val taken = scala.collection.mutable.HashSet.empty[Long]
      val perQ = simdd.get(q)
      var r = 1
      while (r <= k && taken.size < cands.length) {
        var bestVec = -1L
        var bestScore = Double.NegativeInfinity
        var first = true
        cands.foreach { case (vid, simq) =>
          if (!taken.contains(vid)) {
            var maxs = 0.0
            var any = false
            if (selectedIds.nonEmpty && perQ != null) {
              val perCand = perQ.get(vid)
              if (perCand != null) selectedIds.foreach { s =>
                val v = perCand.get(s)
                if (v != null && (!any || v.doubleValue() > maxs)) {
                  maxs = v.doubleValue(); any = true
                }
              }
            }
            val score = lambda * simq - (1.0 - lambda) * maxs
            if (first || score > bestScore
              || (score == bestScore && vid < bestVec)) {
              bestScore = score; bestVec = vid; first = false
            }
          }
        }
        out += ((q, bestVec, r,
          math.floor(bestScore * 10000 + 0.5) / 10000))
        taken += bestVec
        selectedIds += bestVec
        r += 1
      }
    }
    val spark = slim.sparkSession
    import spark.implicits._
    spark.createDataset(out.toSeq)
      .toDF("query_id", "vec_id", "rank", "mmr_score")
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-label centroids in long form (label, pos, c): posexplode + avg —
    * one shuffle on (label, pos), fully parallel in the dimension too.
    */
  def centroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v").cast("double")).as("c"))

  /** Driver-facing centroid table, quantized + ordered. */
  def centroidTable(emb: DataFrame): DataFrame =
    centroids(emb)
      .select(col("label"), col("pos"), q4(col("c")).as("c"))
      .orderBy(col("label"), col("pos"))

  /** Quantized per-label centroid ARRAYS (pos-ordered): the broadcastable
    * form every distance computation consumes — one row per cell instead of
    * one row per (cell, dimension).
    */
  private def centroidArrays(emb: DataFrame): DataFrame =
    centroids(emb)
      .select(col("label").as("c_label"), col("pos"), q4(col("c")).as("c"))
      .groupBy(col("c_label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cvec"))

  /** Squared-L2 distances of every vector to every cell centroid: a
    * broadcast cross join of k cell rows against the corpus and one native
    * sequential fold per pair (graft.functions.SqL2) — k rows per vector,
    * not k×dim exploded rows, and a deterministic summation order shared
    * with the SQL oracle.
    */
  private def cellDistances(emb: DataFrame): DataFrame = {
    graft.functions.SqL2.register(emb.sparkSession)
    emb.select(col("vec_id"), col("label").as("true_label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .crossJoin(broadcast(centroidArrays(emb)))
      .withColumn("dist",
        floor(call_function("sq_l2", col("v"), col("cvec")) * 1000000 + 0.5) / 1000000)
      .select(col("vec_id"), col("true_label"), col("c_label"), col("dist"))
  }

  /** Brute-force cosine top-k for a query subset: broadcast the query
    * vectors, stream the corpus once, rank per query on the QUANTIZED
    * similarity (ties broken by vec_id) so ranking is reproducible across
    * engines at any scale.
    */
  def knnBruteForce(emb: DataFrame, maxQueryId: Int, k: Int): DataFrame = {
    val queries = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val pairs = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim", q4(cosineFast(emb, col("q"), col("embedding"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic ±1 random-hyperplane matrix (LCG-derived), shared by the
    * Spark plan and any SQL oracle.
    */
  def hyperplanes(nPlanes: Int = 16, dim: Int = 64, seed: Long = 12345L): Seq[Seq[Double]] = {
    var x = seed
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); x }
    Seq.fill(nPlanes)(Seq.fill(dim)(if (((next() >>> 32) & 1L) == 1L) 1.0 else -1.0))
  }

  /** Maximum-inner-product top-k (MIPS — the retrieval scoring used when
    * embeddings are trained unnormalized): same broadcast-queries /
    * stream-corpus shape as [[knnBruteForce]], but ranked on the raw dot
    * product. The dot is the deterministic sequential double fold, quantized
    * before ranking (ties by vec_id) for engine-stable order.
    */
  def mipsTopK(emb: DataFrame, maxQueryId: Int, k: Int): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val queries = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val pairs = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("ip", q4(call_function("dot_product", col("q"), col("embedding"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("ip").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("ip"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Matryoshka-truncation recall: rank neighbors by cosine over only the
    * first `dims` dimensions (the MRL cheap-search trick — truncated
    * prefixes of a matryoshka-trained embedding approximate the full
    * vector), and measure per-query overlap@k against the full-dimension
    * ranking. Two passes of the same broadcast-queries shape; the recall
    * join is on (query_id, vec_id) pairs only — k·|queries| rows.
    */
  def matryoshkaRecall(emb: DataFrame, maxQueryId: Int, k: Int,
                       dims: Int = 16): DataFrame = {
    val full = knnBruteForce(emb, maxQueryId, k)
      .select(col("query_id"), col("vec_id"))
    val truncated = emb.select(col("vec_id"),
      expr(s"slice(embedding, 1, $dims)").as("embedding"))
    val trunc = knnBruteForce(truncated, maxQueryId, k)
      .select(col("query_id"), col("vec_id"))
    full.join(trunc, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      .join(full.groupBy(col("query_id")).agg(count(lit(1)).as("n_full")), Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        q4(coalesce(col("n_overlap"), lit(0L)).cast("double") / col("n_full")).as("recall"))
      .orderBy(col("query_id"))
  }

  /** ANN via multi-table hyperplane LSH (OR over tables, AND within a
    * table): each vector gets one bucket id per table; query and corpus
    * vector are candidates when they share a bucket in ANY table. A single
    * 8-bit table has near-zero recall at ~60° neighbor angles
    * ((1−θ/π)^8 ≈ 0.03); 4 tables × 4 planes gives ≈0.5 while keeping
    * candidate generation an equi-join on (table, bucket). Recall < 1 by
    * construction; the spec measures it against brute force.
    *
    * Plan shape for scale: bucket ids come from ONE native pass over the
    * embedding (graft.functions.LshBuckets — the per-plane HOF fold is
    * interpreted and was the dominant cost), and only (vec_id, tbl, bucket)
    * enter the band explode + candidate dedup shuffles; the embedding
    * arrays are joined back by broadcasting the (small) candidate and query
    * sets onto the corpus scan, so no 64-float payload ever shuffles.
    */
  def annLsh(emb: DataFrame, maxQueryId: Int, k: Int,
             nTables: Int = 4, planesPerTable: Int = 4): DataFrame = {
    val planes = hyperplanes(nTables * planesPerTable)
    graft.functions.LshBuckets.register(emb.sparkSession,
      planes.map(_.toArray).toArray, planesPerTable)
    val bucketed = emb.select(col("vec_id"),
      posexplode(call_function("lsh_buckets", col("embedding"))).as(Seq("tbl", "bucket")))
    val queries = bucketed.filter(col("vec_id") < maxQueryId)
      .select(col("tbl"), col("bucket"), col("vec_id").as("query_id"))
    val cand = bucketed.join(broadcast(queries), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val qvecs = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    // query vectors are bounded by maxQueryId (safe to hint); the candidate
    // set is data-dependent — AQE broadcasts it from its runtime size
    val pairs = emb.join(cand, Seq("vec_id"))
      .join(broadcast(qvecs), Seq("query_id"))
      .withColumn("sim", q4(cosineFast(emb, col("q"), col("embedding"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN via IVF (inverted-file) coarse quantization — the second scale path
    * next to hyperplane LSH. The label-mean centroids act as the coarse
    * quantizer cells: every corpus vector is assigned to its nearest cell
    * (quantized squared-L2 argmin, ties by cell id), each query probes its
    * `nProbe` nearest cells, and only vectors in probed cells are re-ranked
    * with exact cosine. At corpus scale the cell assignment is the partition
    * key — a query touches nProbe/nCells of the data instead of all of it.
    * Every step (quantized centroids, quantized distances, deterministic tie
    * breaks) is replayed exactly by the DuckDB oracle.
    */
  /** IVF candidate generation shared by [[ivfAnn]] and [[ivfPqAnn]]:
    * nearest-cell assignment for the corpus, nProbe-nearest cells for each
    * query, candidates = corpus vectors in probed cells.
    */
  private def ivfCandidates(emb: DataFrame, maxQueryId: Int,
                            nProbe: Int): DataFrame = {
    val dists = cellDistances(emb).select(
      col("vec_id"), col("c_label").as("cell"), col("dist"))
    // corpus-wide nearest-cell assignment as an AGGREGATE argmin:
    // min(struct(dist, cell)) is the window's (dist, cell)-ordered rn=1 by
    // lexicographic struct comparison, but it partial-aggregates map-side —
    // the exchange carries ONE row per vector instead of one per
    // (vector, cell), and no per-partition sort runs at all. At corpus
    // scale that is a narrow combine vs a full-width sort shuffle.
    val assign = dists.groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cell"))).as("mc"))
      .select(col("vec_id"), col("mc.cell").as("cell"))
    // the nProbe-cells-per-QUERY ranking touches only the maxQueryId
    // subset — a window over a handful of rows is fine there
    val byDist = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cell"))
    val probes = dists.filter(col("vec_id") < maxQueryId)
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") <= nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    probes.join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
  }

  /** IVF list-balance audit — the index-health readout an ANN operator
    * checks before trusting probe latencies: per coarse cell, its
    * population and load factor (n / mean cell size), plus the global
    * imbalance factor (max / mean — the worst-case probe blowup; a
    * balanced index sits near 1, a collapsed quantizer sends every probe
    * to one hot cell). Same aggregate-argmin assignment as [[ivfAnn]]
    * (one narrow combine, no window over the corpus), then a cells-sized
    * aggregate and a 1-row broadcast back — nothing after the assignment
    * scales with the corpus.
    */
  def ivfBalance(emb: DataFrame): DataFrame = {
    val dists = cellDistances(emb).select(
      col("vec_id"), col("c_label").as("cell"), col("dist"))
    val assign = dists.groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cell"))).as("mc"))
      .select(col("mc.cell").as("cell"))
    val sizes = assign.groupBy(col("cell")).agg(count(lit(1)).as("n"))
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

  /** IVF index-maintenance census: the coarse quantizer is FROZEN on
    * `corpus` (its per-label centroid arrays, as production IVF retrains
    * cells offline and ingest only assigns), corpus ∪ `batch` is assigned
    * to the frozen cells, and the [[ivfBalance]] readout is taken over that
    * assignment — anchored on EVERY frozen cell, so a cell that received no
    * vector still counts toward n_cells instead of hiding the drift the
    * census exists to warn about. One broadcast of the cells-sized centroid
    * table; vector arrays never shuffle.
    */
  def ivfFrozenCensus(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val cells = centroidArrays(corpus).withColumnRenamed("c_label", "cell")
    val assigned = assignToCells(
      corpus.select(col("vec_id"), col("embedding"))
        .unionByName(batch.select(col("vec_id"), col("embedding"))),
      cells)
    censusOf(cells, assigned.groupBy(col("cell")).agg(count(lit(1)).as("dn")))
  }

  /** Nearest-frozen-centroid assignment: broadcast the cells-sized
    * centroid table, fold the quantized sq-L2 argmin per row (aggregate
    * argmin via min(struct) — map-side combine, one narrow row per
    * vector in the exchange, ties to the lowest cell id).
    */
  private def assignToCells(vecs: DataFrame, cells: DataFrame): DataFrame = {
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

  /** Per-cell population, load factor and global imbalance over ALL of
    * `allCells`, from per-cell counts `dn` (cells absent from `counts` read
    * 0).
    */
  private def censusOf(allCells: DataFrame, counts: DataFrame): DataFrame = {
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

  def ivfAnn(emb: DataFrame, maxQueryId: Int, k: Int, nProbe: Int = 2): DataFrame =
    ivfAnnFromCandidates(emb, ivfCandidates(emb, maxQueryId, nProbe), maxQueryId, k)

  /** The exact-cosine rerank half of [[ivfAnn]] over a PRE-BUILT candidate
    * set — split out (r17) so [[ivfProbeSweep]] can feed its per-config
    * candidates straight in instead of re-deriving cell distances and the
    * corpus assignment once more per swept config.
    */
  private def ivfAnnFromCandidates(emb: DataFrame, cand: DataFrame,
      maxQueryId: Int, k: Int): DataFrame = {
    val qvecs = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    // as in annLsh: probe fan-out makes the candidate count data-dependent,
    // so the candidates carry no hint and AQE sizes them at run time
    val pairs = emb.join(cand, Seq("vec_id"))
      .join(broadcast(qvecs), Seq("query_id"))
      .withColumn("sim", q4(cosineFast(emb, col("q"), col("embedding"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF probe-count tuning sweep — [[lshTuningSweep]]'s sibling for the
    * vector index: for nProbe ∈ {1, 2, 4}, the candidate-set size (the
    * latency knob: candidates scale ~linearly in probes) and recall@k
    * against exact cosine (the quality knob) — the curve an index
    * operator reads before fixing the production probe count, re-run
    * whenever the corpus drifts. One exact pass and one candidate pass
    * per config, all already scale-shaped (cell-bounded candidates,
    * unhinted); counts exact, recall one division per row.
    */
  def ivfProbeSweep(emb: DataFrame, maxQueryId: Int = 5,
                    k: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    val exact = Exec.checkpoint(
      knnBruteForce(emb, maxQueryId, k)
        .select(col("query_id"), col("vec_id")))
    val nTruth = exact.count()
    // r17: ONE cell-distance pass + ONE corpus assignment feed every swept
    // config — they were previously re-derived per config twice over (once
    // in ivfCandidates, once more inside each ivfAnn call): 6 redundant
    // centroid/distance passes for a 3-point sweep. Identical math — the
    // per-config candidates are the same rows the old path produced.
    val dists = Exec.checkpoint(
      cellDistances(emb).select(
        col("vec_id"), col("c_label").as("cell"), col("dist")))
    val assign = Exec.checkpoint(
      dists.groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("cell"))).as("mc"))
        .select(col("vec_id"), col("mc.cell").as("cell")))
    val byDist = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cell"))
    val ranked = dists.filter(col("vec_id") < maxQueryId)
      .withColumn("rn", row_number().over(byDist))
    // r18 (guide §6 — one scan instead of three): the swept candidate sets
    // are NESTED — a vector sits in exactly ONE cell (the argmin assignment
    // is unique) and each query's probed cells are ranked, so cand(p) =
    // {(q, v): probe rank of v's cell ≤ p} and cand(1) ⊆ cand(2) ⊆ cand(4).
    // The exact-cosine rerank input is therefore scored ONCE over the p=4
    // superset (one corpus join, one sim evaluation per pair) and each leg
    // just filters by its probe rank — the old loop re-scanned the corpus
    // and re-built a broadcast gate per config. Per-pair sim, window order,
    // counts, and recall arithmetic are unchanged (oracle-verified).
    val qvecs = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cand4 = ranked.filter(col("rn") <= 4)
      .select(col("vec_id").as("query_id"), col("cell"), col("rn"))
      .join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("rn"))
    val scored = Exec.checkpoint(
      emb.join(cand4, Seq("vec_id"))
        .join(broadcast(qvecs), Seq("query_id"))
        .withColumn("sim", q4(cosineFast(emb, col("q"), col("embedding"))))
        .select(col("query_id"), col("vec_id"), col("rn"), col("sim")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val rows = Seq(1, 2, 4).map { p =>
      val leg = scored.filter(col("rn") <= p)
      val nCand = leg.count()
      val approx = leg.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("vec_id"))
      val hits = exact.join(approx, Seq("query_id", "vec_id"), "left_semi").count()
      (p, nCand, nTruth, hits,
        math.floor(hits.toDouble / nTruth.toDouble * 1000000 + 0.5) / 1000000)
    }
    import spark.implicits._
    rows.toDF("n_probe", "n_candidates", "n_true", "n_captured", "recall")
      .orderBy(col("n_probe"))
  }

  /** Recall@k audit of the IVF ANN path against exact brute-force cosine —
    * retrieval quality as a QUERY, not a one-off spec: per query, how many
    * of the true top-k the index recovered. This is the continuous health
    * check a production vector index runs after every (re)build — coarse
    * centroids drift as the corpus grows, and recall loss shows up here
    * before users see it. Cost: the two retrieval passes (each already
    * scale-shaped) plus a join over 2·k·|queries| rows — nothing.
    */
  def annRecallAudit(emb: DataFrame, maxQueryId: Int = 5, k: Int = 5): DataFrame = {
    val exact = knnBruteForce(emb, maxQueryId, k)
      .select(col("query_id"), col("vec_id"))
    val approx = ivfAnn(emb, maxQueryId, k)
      .select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
    exact.join(approx, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .withColumn("recall_at_k",
        floor(col("n_hits").cast("double") / k * 10000 + 0.5) / 10000)
      .orderBy(col("query_id"))
  }

  /** Mean-reciprocal-rank audit of the IVF path — [[annRecallAudit]]'s
    * order-sensitive sibling: recall@k says WHETHER the true neighbors
    * were recovered, MRR says how early the first one shows up
    * (first-position quality is what a RAG context window actually
    * consumes). Per query: the rank of the first approx-retrieved item
    * that is truly in the exact top-k, its reciprocal (ONE division,
    * quantized — integer-exact otherwise), and the hit count. Cost: the
    * same two scale-shaped retrieval passes as the recall audit.
    */
  def annMrrAudit(emb: DataFrame, maxQueryId: Int = 5, k: Int = 5): DataFrame = {
    val exact = knnBruteForce(emb, maxQueryId, k)
      .select(col("query_id"), col("vec_id")).withColumn("relevant", lit(1))
    ivfAnn(emb, maxQueryId, k)
      .select(col("query_id"), col("rank"), col("vec_id"))
      .join(exact, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(min(when(col("relevant") === 1, col("rank"))).as("first_hit_rank"),
        count(when(col("relevant") === 1, 1)).as("n_hits"))
      .select(col("query_id"), col("first_hit_rank"), col("n_hits"),
        when(col("first_hit_rank").isNotNull,
          floor(lit(1.0) / col("first_hit_rank") * 10000 + 0.5) / 10000)
          .otherwise(lit(0.0)).as("rr"))
      .orderBy(col("query_id"))
  }

  /** Ideal DCG at depth k with graded gains (k, k−1, …, 1): the
    * normalization constant [[annNdcgAudit]] and its oracle share — one
    * Scala computation interpolated into both plans so the divisor is the
    * SAME double bit-for-bit on both engines. */
  def idealDcg(k: Int): Double =
    (1 to k).map(j =>
      (k + 1 - j).toDouble / (math.log(j + 1.0) / math.log(2.0))).sum

  /** nDCG@k audit of the IVF path — the ORDER-QUALITY member of the
    * retrieval-eval triple ([[annRecallAudit]] answers "how many true
    * neighbors came back", [[annMrrAudit]] "how early the first one",
    * nDCG "how well the WHOLE ranking is ordered"): each approx-retrieved
    * item earns the graded gain (k+1 − exact_rank) when it appears in the
    * exact top-k (the closest true neighbor is worth k, the k-th worth 1,
    * misses 0), discounted by log2(approx_rank + 1), normalized by the
    * ideal DCG — a [1] score of 1.0 means the IVF ranking reproduced the
    * exact ordering perfectly. Gains are exact integers; the discount sum
    * is ≤ k doubles quantized at 4dp; the normalizer is ONE shared literal
    * ([[idealDcg]]). Cost: the same two retrieval passes as the recall and
    * MRR audits — at corpus scale both are probe-bounded, nothing new
    * shuffles.
    */
  def annNdcgAudit(emb: DataFrame, maxQueryId: Int = 5, k: Int = 5): DataFrame = {
    val exact = knnBruteForce(emb, maxQueryId, k)
      .select(col("query_id"), col("vec_id"), col("rank").as("xrank"))
    ivfAnn(emb, maxQueryId, k)
      .select(col("query_id"), col("rank"), col("vec_id"))
      .join(exact, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("xrank")).as("n_hits"),
        sum(coalesce(lit(k + 1) - col("xrank"), lit(0)).cast("double") /
          log2((col("rank") + 1).cast("double"))).as("dcg_raw"))
      .select(col("query_id"), col("n_hits"),
        (floor(col("dcg_raw") * 10000 + 0.5) / 10000).as("dcg"),
        (floor(col("dcg_raw") / idealDcg(k) * 10000 + 0.5) / 10000)
          .as("ndcg"))
      .orderBy(col("query_id"))
  }

  /** Product-quantization ANN (ADC — asymmetric distance computation): the
    * memory-collapse path of a vector index. Each 64-dim vector is split
    * into `nSub` disjoint subspaces; per subspace it stores only the id of
    * its nearest sub-codebook entry, so a vector compresses to `nSub` small
    * codes. The codebook is trained by deterministic k-means (seeds = the
    * first `nCodes` vectors' subvectors, one Lloyd iteration, quantized
    * centroids) so any engine recomputes it exactly. Query scoring reconstructs
    * each candidate from its codes and takes exact L2 against the query —
    * mathematically identical to the classic per-query lookup-table ADC
    * (subspaces are disjoint, so Σₘ d(qₘ, cb[codeₘ]) = ‖q − recon‖²), which
    * is the constant-memory formulation a 100 TB deployment uses.
    *
    * Plan shape: the codebook (|labels|·nSub rows of 8 floats) broadcasts;
    * encoding shuffles only (vec_id, m, code); reconstruction is one
    * groupBy on vec_id with a deterministic subspace-ordered flatten; the
    * scoring pass is the same broadcast-queries corpus scan as
    * [[knnBruteForce]]. Every distance is floor-quantized before any argmin
    * or ranking, ties broken by id — engine-stable end to end.
    *
    * Split as [[pqRecon]] (train/encode/reconstruct, shared with
    * [[ivfPqAnn]]) + the all-candidates scoring pass below. The
    * (vec_id, r) reconstructions are checkpointed and tracked for release
    * at the next [[Exec.clearPinned]].
    */
  private def pqRecon(emb: DataFrame, nSub: Int, dim: Int,
                      nCodes: Int): DataFrame = {
    graft.functions.SqL2.register(emb.sparkSession)
    val subDim = dim / nSub
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    def subspaces(vecCol: String): Column = posexplode(expr(
      s"transform(sequence(0, ${nSub - 1}), m -> slice($vecCol, m * $subDim + 1, $subDim))"))
    // per-(vector, subspace) slices — the train/assign/encode passes all read this
    val vsub = Exec.pin(emb
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(col("vec_id"), subspaces("v").as(Seq("m", "vsub"))))
    // k-means codebook, deterministic: seed codes = subvectors of the first
    // nCodes vectors (data-typical, unlike degenerate global means), then ONE
    // Lloyd iteration — assign every subvector to its nearest seed (quantized
    // distance, ties by code id) and average per code, elementwise via
    // posexplode. Centroids are 4dp-quantized so both engines feed identical
    // codebooks into the encoder. Seeds with no assignment drop out (same on
    // both sides).
    val seeds = vsub.filter(col("vec_id") < nCodes)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("vsub").as("sub"))
    // nearest-seed assignment as an aggregate argmin (see ivfCandidates):
    // min over (d, code, vsub) structs — (d, code) is the old window order
    // and is unique per group, so the trailing vsub payload never decides a
    // comparison; the exchange shrinks from nCodes rows per (vector,
    // subspace) to one, combined map-side, sort-free
    val assigned = vsub.join(broadcast(seeds), Seq("m"))
      .withColumn("d", q6(call_function("sq_l2", col("vsub"), col("sub"))))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("code"), col("vsub"))).as("mc"))
      .select(col("m"), col("mc.code").as("code"), col("mc.vsub").as("vsub"))
    val cb = assigned
      .select(col("m"), col("code"), posexplode(col("vsub")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(avg(col("x")).as("c"))
      .select(col("m"), col("code"), col("pos"), (floor(col("c") * 10000 + 0.5) / 10000).as("c"))
      .groupBy(col("m"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("sub"))
    // encode: nearest trained code per (vector, subspace) — same aggregate
    // argmin; the kept payload is the chosen codebook slice
    val codes = vsub.join(broadcast(cb), Seq("m"))
      .withColumn("d", q6(call_function("sq_l2", col("vsub"), col("sub"))))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("code"), col("sub"))).as("mc"))
      .select(col("vec_id"), col("m"), col("mc.sub").as("sub"))
    // reconstruction: chosen codebook slices, concatenated in subspace order
    Exec.checkpoint(codes.groupBy(col("vec_id"))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(m, sub))), s -> s.sub))")
        .as("r")))
  }

  def pqAdcTopK(emb: DataFrame, maxQueryId: Int, k: Int,
                nSub: Int = 8, dim: Int = 64, nCodes: Int = 16): DataFrame = {
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val recon = pqRecon(emb, nSub, dim, nCodes)
    val qvecs = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q"))
    val scored = recon.join(broadcast(qvecs), col("vec_id") =!= col("query_id"))
      .withColumn("adc", q6(call_function("sq_l2", col("q"), col("r"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ ANN — the composition a production vector index actually runs
    * (FAISS `IVFx,PQy`): the IVF coarse quantizer bounds WHICH vectors are
    * scored (nProbe/nCells of the corpus), PQ bounds WHAT is read per
    * vector (nSub codes instead of the raw floats). Candidates come from
    * [[ivfCandidates]], scores are asymmetric distances against
    * [[pqRecon]] reconstructions — the full-precision corpus embedding is
    * never touched after encoding, which is the property that lets the
    * scored side live in memory at 100 TB corpus scale. Candidate set is
    * data-dependent, so it carries no broadcast hint, like [[ivfAnn]]'s.
    */
  def ivfPqAnn(emb: DataFrame, maxQueryId: Int, k: Int, nProbe: Int = 2,
               nSub: Int = 8, dim: Int = 64, nCodes: Int = 16): DataFrame = {
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val cand = ivfCandidates(emb, maxQueryId, nProbe)
    val recon = pqRecon(emb, nSub, dim, nCodes)
    val qvecs = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q"))
    val scored = recon.join(cand, Seq("vec_id"))
      .join(broadcast(qvecs), Seq("query_id"))
      .withColumn("adc", q6(call_function("sq_l2", col("q"), col("r"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (the vector member of the dedup
    * family): all pairs above the similarity threshold, exact within a
    * label block. The block-quadratic pair count is the operator's
    * CONTRACT (an exact low-threshold cosine join over dense vectors has
    * no lossless prefilter — at corpus scale the candidate generator is
    * `annLsh`/`semanticDedup` bucketing instead), but the sf1 graduation
    * measured the first-cut shape at 25× wall for 10× rows, and most of
    * that was fixable without touching the contract:
    *
    *  - norms are HOISTED out of the pair loop: each row's ‖e‖ is computed
    *    once (sqrt of the same sequential Σx² fold `cosine_sim` runs, so
    *    sim = dot/(nrm_a·nrm_b) is bit-identical to before), instead of
    *    2× per pair — the per-pair kernel drops from 3 array walks to 1;
    *  - pairs enumerate TRIANGULARLY over `idBuckets` id-residue
    *    sub-blocks: the a-side fans each row up its bucket sequence
    *    (g..G−1), the join keys on (label, bucket) — labels × G(G+1)/2
    *    work units instead of one skewed task per label, so a 10-label
    *    corpus saturates 32 cores instead of 10, and per-task memory is
    *    block/G². Each unordered pair appears exactly once (same-bucket
    *    pairs orient by id; cross-bucket pairs by the upward fan-out).
    *
    * Measured at sf1 (20k vectors, 2k/label): 9.7 s → 6.5 s warm; the
    * remaining wall is the ~20M-pair dot-product floor the exact contract
    * pays by definition. The per-10× coefficient is quadratic BY CONTRACT
    * when block sizes grow with the corpus — production corpora must feed
    * bounded blocks (LSH buckets), at which point this is linear in pairs.
    *
    * The bounded-block contract is ENFORCED IN-PLAN, not just documented
    * (the r13 verdict's "detonates silently at 100×" finding): a
    * label-count aggregate (column-pruned, metadata-sized) rides a
    * broadcast onto the scan, and `assert_true(block_n ≤ maxBlock)` fails
    * the job in the first stage — seconds — the moment any block exceeds
    * the cap, instead of running quadratically for a week. On conforming
    * data the guard is algebraically transparent (assert_true yields NULL,
    * coalesce adds 0.0 to the norm), so hashes are unchanged at every SF.
    * Oversized corpora route through the candidate generators the error
    * message names ([[annLsh]] / [[semanticDedup]] cells), or raise
    * `maxBlock` deliberately.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double,
                         idBuckets: Int = 8, maxBlock: Int = 16384): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val sizes = emb.groupBy(col("label")).agg(count(lit(1)).as("block_n"))
    val prepped = emb.join(broadcast(sizes), Seq("label"))
      .select(col("label"), col("vec_id"), col("embedding"),
      (sqrt(call_function("dot_product", col("embedding"), col("embedding")))
        + coalesce(assert_true(col("block_n") <= maxBlock,
            concat(lit("cosineNearDupPairs: label block '"), col("label"),
              lit("' holds "), col("block_n").cast("string"),
              lit(s" vectors > maxBlock=$maxBlock — the exact all-pairs " +
                "contract is quadratic per block; feed bounded blocks " +
                "(annLsh / semanticDedup cells) or raise maxBlock " +
                "deliberately"))),
          lit(0.0))).as("nrm"),
      (col("vec_id") % idBuckets).cast("int").as("g"))
    val a = prepped.select(col("label"), col("g").as("p"),
      explode(expr(s"sequence(g, ${idBuckets - 1})")).as("q"),
      col("vec_id").as("vec_a"), col("embedding").as("e_a"),
      col("nrm").as("nrm_a"))
    val b = prepped.select(col("label"), col("g").as("q"),
      col("vec_id").as("vec_b"), col("embedding").as("e_b"),
      col("nrm").as("nrm_b"))
    a.join(b, Seq("label", "q"))
      // same-bucket pairs dedupe by id order; cross-bucket pairs are
      // already unique (the fan-out only goes up the bucket sequence)
      .filter(col("p") =!= col("q") || col("vec_a") < col("vec_b"))
      .withColumn("sim", q4(
        call_function("dot_product", col("e_a"), col("e_b"))
          / (col("nrm_a") * col("nrm_b"))))
      .filter(col("sim") >= threshold)
      .select(col("label"),
        least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Incremental (delta) embedding-cosine dedup — the vector member of
    * the incremental trilogy beside [[DedupOps.incrementalMinhashPairs]]
    * (token shingles) and [[DedupOps.incrementalSubstringSpans]] (exact
    * chars): a NEW batch of embeddings probes the standing corpus within
    * the same label blocks the batch operator uses, emitting only
    * new-vs-corpus and new-vs-new verified pairs. DELTA IDENTITY: a
    * pair's cosine depends only on its two vectors, so the result equals
    * [[cosineNearDupPairs]] over corpus ∪ batch filtered to
    * batch-touching pairs — the DuckDB oracle computes exactly that
    * full+filter form.
    *
    * A pair with a zero-norm vector has no cosine and is dropped (its
    * division yields null rather than failing the query under ANSI mode).
    *
    * Two branches, chosen once per input by [[Exec.collectInternalIfSmall]]
    * (never under `SPARK_GRAFT_DRIVER_GATE=off`):
    *
    *   - small batch and corpus ([[incrementalCosineOnDriver]]): one
    *     projection per side collects (label, vec_id, embedding, norm) and
    *     the driver scores the label blocks with `DotProduct.compute`.
    *   - otherwise ([[incrementalCosineDistributed]]): the batch side
    *     (vectors + norms) joins the label-blocked corpus stream; while it
    *     is small Spark broadcasts it (a broadcast planned up front leaves
    *     the corpus embeddings unshuffled; one AQE converts at run time
    *     follows their shuffle write) and per-ingest cost is
    *     |batch| × block-occupancy — the corpus² pair
    *     space is never touched. A larger batch takes a label-keyed shuffle
    *     join.
    */
  def incrementalCosinePairs(corpus: DataFrame, batch: DataFrame,
                             threshold: Double = 0.45): DataFrame =
    incrementalCosineOnDriver(corpus, batch, threshold)
      .getOrElse(incrementalCosineDistributed(corpus, batch, threshold))

  /** The norm-carrying projection both branches score from. */
  private[graft] def cosinePrep(df: DataFrame): DataFrame =
    df.select(col("label"), col("vec_id"), col("embedding"),
      sqrt(call_function("dot_product", col("embedding"), col("embedding"))).as("nrm"))

  /** The distributed branch of [[incrementalCosinePairs]]. */
  private[graft] def incrementalCosineDistributed(corpus: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    graft.functions.DotProduct.register(corpus.sparkSession)
    val all = cosinePrep(corpus).withColumn("is_new", lit(false))
      .unionByName(cosinePrep(batch).withColumn("is_new", lit(true)))
    val probe = cosinePrep(batch).select(col("label"),
      col("vec_id").as("vec_x"), col("embedding").as("e_x"),
      col("nrm").as("nrm_x"))
    probe.join(all, Seq("label"))
      .filter(col("vec_x") =!= col("vec_id"))
      .withColumn("sim", q4(try_divide(
        call_function("dot_product", col("e_x"), col("embedding")),
        col("nrm_x") * col("nrm"))))
      .filter(col("sim") >= threshold)
      .select(col("label"),
        least(col("vec_x"), col("vec_id")).as("vec_a"),
        greatest(col("vec_x"), col("vec_id")).as("vec_b"),
        // the probe side is always new, so the pair is new_new iff the
        // MATCHED side is new too; a new_new pair arrives in both
        // orientations (max collapses them), new_corpus exactly once
        col("is_new").as("other_new"),
        col("sim"))
      .groupBy(col("label"), col("vec_a"), col("vec_b"))
      .agg(max(col("other_new")).as("both_new"),
        first(col("sim")).as("sim"))
      .select(col("label"), col("vec_a"), col("vec_b"),
        when(col("both_new"), lit("new_new")).otherwise(lit("new_corpus"))
          .as("pair_kind"),
        col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The small-input branch of [[incrementalCosinePairs]], or None when the
    * gate sends the batch or the corpus to the distributed branch. Spark
    * computes each vector's norm; the driver scores every batch vector
    * against its label block of corpus ∪ batch with the distributed
    * branch's kernel and order of operations (`DotProduct.compute` of probe
    * then match, divided by the product of the norms, then `q4`), skips
    * zero-norm pairs as its null division does, and collapses a new/new
    * pair's two orientations. Both inputs must share one column typing
    * (else the distributed union would widen it) with long vec_ids.
    */
  private[graft] def incrementalCosineOnDriver(corpus: DataFrame, batch: DataFrame,
      threshold: Double): Option[DataFrame] = {
    // element nullability aside (the union widens it), as the union types them
    def types(df: DataFrame) = Seq("label", "vec_id", "embedding")
      .map(c => df.schema.find(_.name == c).map(_.dataType).map {
        case ArrayType(e, _) => ArrayType(e, containsNull = true)
        case t => t
      })
    val (labelType, isFloat) = types(batch) match {
      case Seq(Some(l), Some(LongType), Some(ArrayType(e, _))) if types(corpus) == types(batch) =>
        (l, e == FloatType)
      case _ => return None
    }
    graft.functions.DotProduct.register(corpus.sparkSession)
    for {
      probe <- Exec.collectInternalIfSmall(cosinePrep(batch), Exec.SmallInputRows)
      stored <- Exec.collectInternalIfSmall(cosinePrep(corpus), Exec.SmallInputRows)
    } yield {
      // rows without a label, id or embedding never join, match or score
      def scored(rows: Array[InternalRow]) =
        rows.filterNot(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
      val blocks = (scored(stored).map(_ -> false) ++ scored(probe).map(_ -> true))
        .groupBy(_._1.get(0, labelType))
      val pairs = scala.collection.mutable.LinkedHashMap.empty[(Any, Long, Long), (Boolean, Double)]
      for {
        x <- scored(probe)
        (y, yNew) <- blocks(x.get(0, labelType))
        if x.getLong(1) != y.getLong(1)
        den = x.getDouble(3) * y.getDouble(3)
        if den != 0
        sim = TextOps.q4(graft.functions.DotProduct.compute(
          x.getArray(2), y.getArray(2), isFloat, isFloat) / den)
        if sim >= threshold
      } {
        val key = (x.get(0, labelType), math.min(x.getLong(1), y.getLong(1)),
          math.max(x.getLong(1), y.getLong(1)))
        val (bothNew, firstSim) = pairs.getOrElse(key, (false, sim))
        pairs(key) = (bothNew || yNew, firstSim)
      }
      val rows = pairs.toSeq.sortBy { case ((_, a, b), _) => (a, b) }.map {
        case ((label, a, b), (bothNew, sim)) =>
          Row(CatalystTypeConverters.convertToScala(label, labelType), a, b,
            if (bothNew) "new_new" else "new_corpus", sim)
      }
      corpus.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
        // nullability as the distributed plan derives it from the batch side
        StructType(Seq(StructField("label", labelType, batch.schema("label").nullable),
          StructField("vec_a", LongType, batch.schema("vec_id").nullable),
          StructField("vec_b", LongType, batch.schema("vec_id").nullable),
          StructField("pair_kind", StringType, nullable = false),
          StructField("sim", DoubleType))))
    }
  }

  /** Reciprocal-rank fusion of two first-stage retrievers (brute-force
    * cosine and MIPS top-k): RRF(d) = Σ_lists 1/(c + rank_d), the standard
    * c = 60. Fusing RANKS instead of scores is what makes heterogeneous
    * retrievers composable — cosine and inner-product scores live on
    * different scales, ranks don't. Each retriever's list is per-query
    * top-k (tiny), so the fusion is an aggregation over ≤ 2k rows per
    * query; the retrieval passes themselves are the scalable part. The RRF
    * sum (≤ 2 exact-rounded terms, addition commutative) is floor-quantized
    * at 7dp before the fused ranking; ties break on vec_id.
    */
  def rrfFusion(emb: DataFrame, maxQueryId: Int, k: Int, c: Double = 60.0,
                topN: Int = 5): DataFrame = {
    val cos = knnBruteForce(emb, maxQueryId, k)
      .select(col("query_id"), col("rank"), col("vec_id"))
    val mips = mipsTopK(emb, maxQueryId, k)
      .select(col("query_id"), col("rank"), col("vec_id"))
    val fused = cos.unionByName(mips)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(
        (floor(sum(lit(1.0) / (lit(c) + col("rank"))) * 1e7 + 0.5) / 1e7).as("rrf"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("vec_id"))
    fused.withColumn("fused_rank", row_number().over(w).cast("int"))
      .filter(col("fused_rank") <= topN)
      .select(col("query_id"), col("fused_rank"), col("vec_id"),
        col("rrf"), col("n_lists"))
      .orderBy(col("query_id"), col("fused_rank"))
  }

  /** SemDeDup-style semantic near-dup pairs: assign every vector to its
    * nearest k-means cell, then generate candidate pairs WITHIN a cell only
    * — the embedding-space analogue of LSH banding (semantic duplicates
    * cluster tightly, so a near-dup pair co-locates in one cell with high
    * probability; cross-cell pairs are the disclosed recall gap, exactly as
    * in the published SemDeDup recipe). Candidate volume is ~corpus²/k per
    * cell instead of corpus², and the only wide exchange is each embedding
    * traveling ONCE to its cell — the formulation that holds at 100 TB,
    * where brute-force cosine pairs (`cosineNearDupPairs`) cannot run.
    * Verification is exact quantized cosine, so the output is precisely the
    * thresholded co-celled pair set.
    */
  def semanticDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // aggregate argmin (see ivfCandidates): one row per vector shuffles
    val assigned = cellDistances(emb).groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("c_label"))).as("mc"))
      .select(col("vec_id"), col("mc.c_label").as("cell"))
    // embeddings move once, keyed by cell; within-cell self-join compares
    // co-celled vectors only
    val withCell = emb.join(assigned, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("embedding"))
    val a = withCell.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("e_a"))
    val b = withCell.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("e_b"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", q4(cosineFast(emb, col("e_a"), col("e_b"))))
      .filter(col("sim") >= threshold)
      .select(col("cell"), col("vec_a"), col("vec_b"), col("sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** SemDeDup over LEARNED cells (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication" —
    * the published recipe: k-means the corpus, prune within-cluster
    * cosine near-duplicates). [[semanticDupPairs]] blocks on label-mean
    * cells — a supervised crutch unavailable on a production corpus; this
    * variant composes [[kmeansLloyd]]'s unsupervised centroids with the
    * same cell-blocked exact-cosine verification:
    *
    *   1. train `k` centroids (`iters` narrow (cid, pos) aggregations —
    *      no vector array enters an exchange);
    *   2. assign every vector to its nearest learned centroid by the
    *      broadcast-row argmin fold (one row of k centroids, row-local
    *      quantized sq-L2 — ZERO shuffle, the Lloyd/ivf assignment shape);
    *   3. verify pairs WITHIN a cell only, through
    *      [[cosineNearDupPairs]]' triangular id-bucketed join (hoisted
    *      norms, in-plan block-size guard).
    *
    * Candidate volume is Σ|cell|², never corpus²; each embedding crosses
    * exactly one exchange, keyed by its cell. Determinism: 4dp centroids,
    * 1e-6 distances, argmin ties to the lowest cid — the exact ladder the
    * DuckDB oracle unrolls.
    */
  def semanticDupPairsKmeans(emb: DataFrame, threshold: Double,
                             k: Int = 8, iters: Int = 2,
                             maxBlock: Int = 65536): DataFrame = {
    graft.functions.SqL2.register(emb.sparkSession)
    val cents = kmeansLloyd(emb, k, iters)
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("cvec"))
    val packed = cents.agg(
      expr("array_sort(collect_list(struct(cid, cvec)))").as("cs"))
    val assigned = emb
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .crossJoin(broadcast(packed))
      .withColumn("cell", expr(
        """aggregate(
          |  transform(cs, ct -> named_struct(
          |    'd', floor(sq_l2(v, ct.cvec) * 1000000 + 0.5) / 1000000,
          |    'c', ct.cid)),
          |  named_struct('d', CAST('Infinity' AS DOUBLE), 'c', -1),
          |  (acc, e) -> IF(e.d < acc.d, e, acc)).c""".stripMargin))
      .select(col("cell").as("label"), col("vec_id"), col("embedding"))
    // unsupervised Lloyd cells are less balanced than label-mean cells, so
    // the block guard gets a wide deliberate default (and a caller knob)
    // rather than inheriting the supervised 16384 hard-fail (r15 advisor)
    cosineNearDupPairs(assigned, threshold, maxBlock = maxBlock)
      .withColumnRenamed("label", "cell")
  }

  /** Assign every vector to its nearest label centroid (squared L2), emit the
    * label × assigned confusion counts. Centroids are quantized BEFORE the
    * distance computation so both engine sides feed identical inputs into the
    * argmin; distances are quantized before ranking for the same reason.
    */
  def centroidAssignConfusion(emb: DataFrame): DataFrame =
    // aggregate argmin per vector (true_label is constant per vec_id, so it
    // rides the group key), then the tiny label × cell confusion rollup
    cellDistances(emb).groupBy(col("vec_id"), col("true_label"))
      .agg(min(struct(col("dist"), col("c_label"))).as("mc"))
      .groupBy(col("true_label"), col("mc.c_label").as("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_label"), col("assigned"))

  /** Clustering-agreement audit between the nearest-centroid assignment and
    * the ground-truth labels: overall purity and the ADJUSTED RAND INDEX in
    * its pair-counting form — the form whose every sufficient statistic is
    * an exact INTEGER (within-block pair counts n·(n−1)/2 over the
    * confusion matrix and its margins), so both engines agree bitwise with
    * no cross-engine double sums anywhere; the only floating-point work is
    * the final 4-term ARI combination on one row. Integer bound: pair
    * counts grow as N², so the margin products are formed in DOUBLE —
    * int64 holds the raw pair counts to N ≈ 4·10⁹ vectors, documented
    * here as the audit's domain bound. A degenerate partition (single
    * cell = single label) nulls the ARI rather than dividing by zero.
    *
    * Scale shape: the confusion matrix is one argmin groupBy over the
    * broadcast-centroid distances (each embedding crosses one exchange,
    * carrying only (vec_id, label, cell)); everything after is
    * |labels|·|cells|-sized — metadata, not data.
    */
  def clusterAgreement(emb: DataFrame): DataFrame = {
    // four readers of the tiny confusion matrix — materialize it once
    val conf = Exec.checkpoint(
      cellDistances(emb).groupBy(col("vec_id"), col("true_label"))
        .agg(min(struct(col("dist"), col("c_label"))).as("mc"))
        .groupBy(col("true_label"), col("mc.c_label").as("cell"))
        .agg(count(lit(1)).as("n")))
    val totals = conf.agg(
      sum(expr("n * (n - 1) div 2")).as("pairs_both"),
      sum(col("n")).as("n_vectors"),
      countDistinct(col("cell")).as("n_cells"),
      countDistinct(col("true_label")).as("n_labels"))
    val byLabel = conf.groupBy(col("true_label")).agg(sum(col("n")).as("a"))
      .agg(sum(expr("a * (a - 1) div 2")).as("pairs_label"))
    val byCell = conf.groupBy(col("cell")).agg(sum(col("n")).as("b"))
      .agg(sum(expr("b * (b - 1) div 2")).as("pairs_cell"))
    val purityNum = conf.groupBy(col("cell")).agg(max(col("n")).as("top"))
      .agg(sum(col("top")).as("purity_num"))
    totals.crossJoin(byLabel).crossJoin(byCell).crossJoin(purityNum)
      .withColumn("pairs_total", expr("n_vectors * (n_vectors - 1) div 2"))
      .withColumn("expected", expr(
        "CAST(pairs_label AS DOUBLE) * CAST(pairs_cell AS DOUBLE)" +
          " / CAST(pairs_total AS DOUBLE)"))
      .withColumn("max_index", expr(
        "(CAST(pairs_label AS DOUBLE) + CAST(pairs_cell AS DOUBLE)) / 2.0"))
      // pairs_total = 0 (a single vector) makes `expected` 0/0 = NaN on
      // Spark where DuckDB may yield NULL — guard it FIRST, mirroring the
      // max_index = expected degenerate-partition guard (r14 advisor)
      .withColumn("ari", expr(
        """CASE WHEN pairs_total = 0 OR max_index = expected THEN NULL
          |ELSE floor((CAST(pairs_both AS DOUBLE) - expected)
          |  / (max_index - expected) * 1000000 + 0.5) / 1000000
          |END""".stripMargin))
      .select(col("n_vectors"), col("n_cells"), col("n_labels"),
        col("pairs_both"),
        q4(col("purity_num").cast("double") / col("n_vectors").cast("double"))
          .as("purity"),
        col("ari"))
  }

  /** Cell-bounded kNN-graph construction + census — the graph that
    * semantic dedup, label propagation, and NN-descent all start from,
    * built the way it has to be at scale: vectors first assign to their
    * nearest centroid cell (broadcast argmin, map-side), candidate pairs
    * form ONLY within a cell (Σ|cell|² work, never |corpus|²), and each
    * vector keeps its top-k in-cell neighbors. The census reports the
    * construction's health per cell: member/edge counts, RECIPROCITY
    * (u∈knn(v) ∧ v∈knn(u) — high reciprocity ⇒ the cell has coherent
    * local structure; near-zero ⇒ hubness or a bad quantizer), and the
    * in-cell similarity range. Determinism: quantized distances and sims
    * everywhere a rank happens, ties by vec_id; counts exact. Exchanges
    * carry (cell, ids, one double) — embeddings join cell-keyed but
    * never wider than one row's array, and the census is cell-sized.
    */
  def knnGraphCensus(emb: DataFrame, k: Int = 3): DataFrame = {
    val assigned = cellDistances(emb).groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("c_label"))).as("mc"))
      .select(col("vec_id"), col("mc.c_label").as("cell"))
    graft.functions.DotProduct.register(emb.sparkSession)
    // norms HOISTED out of the pair loop (cosineNearDupPairs' lesson):
    // sqrt of the same sequential Σx² fold, so dot/(nrm·nrm) is
    // bit-identical to the fused kernel at 1/3 the per-pair array walks
    val vecs = Exec.checkpoint(
      emb.select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("nrm",
          sqrt(call_function("dot_product", col("v"), col("v"))))
        .join(assigned, Seq("vec_id")))
    // the neighbor side BROADCASTS while the checkpoint's measured size
    // allows (unhinted, AQE kept the shuffle join: 21.0 → 27.8 s at sf1):
    // a cell-keyed shuffle join has only |cells| distinct keys (10 here),
    // so 32 cores idle on 10 skewed tasks — broadcasting makes the pair
    // scan map-side and parallel in the a-side's even partitioning (at
    // production scale the corpus arrives cell-partitioned and this is a
    // co-partitioned local join; the census itself stays cell-sized)
    val bSide = Exec.broadcastIfKnownSmall(vecs).select(col("cell"),
      col("vec_id").as("vv"), col("v").as("vb"), col("nrm").as("nb"))
    // the probe side inherits the source parquet's partition count (ONE
    // file at small SF) — spread it so the map-side pair scan actually
    // uses the cluster; at production scale the scan arrives partitioned
    val nPart = emb.sparkSession.sparkContext.defaultParallelism
    val pairs = vecs.repartition(nPart, col("vec_id")).join(bSide, Seq("cell"))
      .filter(col("vec_id") =!= col("vv"))
      .select(col("cell"), col("vec_id").as("u"), col("vv"),
        q4(call_function("dot_product", col("v"), col("vb"))
          / (col("nrm") * col("nb"))).as("sim"))
    val wK = Window.partitionBy(col("u")).orderBy(col("sim").desc, col("vv"))
    val knn = Exec.checkpoint(
      pairs.withColumn("rn", row_number().over(wK)).filter(col("rn") <= k)
        .select(col("cell"), col("u"), col("vv"), col("sim")))
    val recip = knn.as("a")
      .join(knn.as("b"), col("a.u") === col("b.vv") && col("a.vv") === col("b.u"))
      .groupBy(col("a.cell").as("cell"))
      .agg(count(lit(1)).as("n_reciprocal"))
    val members = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    val edges = knn.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("sim")).as("min_sim"), max(col("sim")).as("max_sim"))
    members.join(edges, Seq("cell"), "left")
      .join(recip, Seq("cell"), "left")
      .na.fill(0L, Seq("n_edges", "n_reciprocal"))
      .select(col("cell"), col("n_members"), col("n_edges"),
        col("n_reciprocal"), col("min_sim"), col("max_sim"))
      .orderBy(col("cell"))
  }

  /** Full covariance matrix of the embedding corpus — the input of
    * PCA/whitening (the standard preprocessing before IVF/PQ indexing and
    * the collapse diagnostic: a low-rank covariance means dead embedding
    * dimensions). ONE pass via the native imperative aggregate
    * (graft.functions.CovMatrix): map-side partial buffers of
    * 1 + d + d(d+1)/2 doubles, the exchange carries one ~33 KB buffer per
    * partition — never the |corpus|·d²/2 exploded product rows the
    * self-join formulation would shuffle. 1e-6-quantized (distributed sum
    * combine order floats the last ulp).
    */
  def covarianceMatrix(emb: DataFrame, dim: Int = 64): DataFrame = {
    graft.functions.CovMatrix.register(emb.sparkSession)
    emb.agg(expr(s"cov_matrix(embedding, $dim)").as("cm"))
      .select(explode(col("cm")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"),
        (floor(col("e.cov") * 1000000 + 0.5) / 1000000).as("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the top-k most-cosine-similar corpus vectors with a
    * DIFFERENT label (the "looks right, is wrong" examples an embedding
    * trainer needs). Same broadcast-queries / stream-corpus single-pass
    * shape as [[knnBruteForce]] with the label-inequality predicate fused
    * into the join, so wrong-label filtering happens before any scoring;
    * ranking on the quantized similarity (ties by vec_id) keeps the
    * output engine-stable at any scale.
    */
  def hardNegatives(emb: DataFrame, maxQueryId: Int, k: Int): DataFrame = {
    val queries = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q"))
    val pairs = emb.join(broadcast(queries), col("label") =!= col("q_label"))
      .withColumn("sim", q4(cosineFast(emb, col("q"), col("embedding"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("label").as("neg_label"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** K-means TRAINING by Lloyd's algorithm — the step that produces the
    * coarse-quantizer cells the IVF/IVF-PQ indexes consume (the existing
    * paths borrow label means as cells; this learns them unsupervised).
    * Deterministic throughout so a SQL oracle can replay it exactly: seeds
    * are the k lowest-vec_id vectors (4dp-quantized), each iteration
    * assigns every vector to its nearest centroid (1e-6-quantized squared
    * L2 via the native sq_l2 fold, ties to the LOWEST centroid id) and
    * recomputes 4dp-quantized means. Output is the final long-form
    * centroid table with member counts.
    *
    * Plan shape for scale — the part that matters at 100 TB: the k
    * centroids are packed into ONE broadcast row of array<struct> and the
    * argmin runs as a row-local HOF fold over that array, so assignment is
    * pure map-side work with ZERO shuffle; the only exchange per iteration
    * is the (cid, pos) mean recompute over exploded scalar rows (a narrow
    * partial-agg shuffle, k·dim result rows). Lloyd at corpus scale is
    * therefore `iters` narrow aggregations over one cached scan — no
    * vector array ever enters an exchange keyed wider than (cid, pos).
    */
  def kmeansLloyd(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    graft.functions.SqL2.register(emb.sparkSession)
    val corpus = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    // deterministic init: the k lowest-id vectors, quantized like every
    // centroid so iteration 1 consumes exactly what the oracle states
    var cents: DataFrame = corpus.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"),
        expr("transform(v, x -> floor(x * 10000 + 0.5) / 10000)").as("cvec"))
    var stats: DataFrame = null
    for (_ <- 1 to iters) {
      // all k centroids in ONE row, ordered by cid (array_sort on the
      // struct), broadcast to every task: argmin is a row-local fold
      val packed = cents.agg(
        expr("array_sort(collect_list(struct(cid, cvec)))").as("cs"))
      val assigned = corpus.crossJoin(broadcast(packed))
        .withColumn("cid", expr(
          """aggregate(
            |  transform(cs, ct -> named_struct(
            |    'd', floor(sq_l2(v, ct.cvec) * 1000000 + 0.5) / 1000000,
            |    'c', ct.cid)),
            |  named_struct('d', CAST('Infinity' AS DOUBLE), 'c', -1),
            |  (acc, e) -> IF(e.d < acc.d, e, acc)).c""".stripMargin))
      // one narrow shuffle: per-(cid, pos) running mean + member count
      stats = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "val")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("val")).as("cmean"), count(lit(1)).as("n_members"))
        .select(col("cid"), col("pos"),
          q4(col("cmean")).as("c"), col("n_members"))
      cents = stats.groupBy(col("cid")).agg(
        expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cvec"))
    }
    stats.orderBy(col("cid"), col("pos"))
  }

  /** Deterministic k-means++ seeding by FARTHEST-POINT traversal (k-center
    * init — the derandomized k-means++ variant: instead of D²-sampling,
    * each round selects the point with the MAXIMUM distance to its nearest
    * already-selected center, tie-broken by lowest id). The seeding half
    * [[kmeansLloyd]] deliberately skips (its lowest-id init is the oracle-
    * friendly degenerate choice); farthest-point gives the 2-approximation
    * k-center guarantee and well-spread Lloyd starts. Per round: the
    * selected set rides ONE broadcast row (array of quantized centroids,
    * the kmeansLloyd packing), the min-distance is a row-local fold, and
    * the argmax is a TakeOrdered(1) — so each round costs one corpus scan
    * and NO unpartitioned window or wide shuffle; each round's k-row
    * selection frame is checkpointed so the k-round chain stays linear,
    * not exponential, in plan size. Distances are 1e-6-quantized sq-L2
    * against 1e-4-quantized centroids (the kmeansLloyd determinism
    * doctrine), so the selection order is engine-exact.
    */
  def kmeansppInit(emb: DataFrame, k: Int = 8): DataFrame = {
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    kmeansppCenters(emb, k)
      .select(col("round"), col("cid"), q6(col("sel_dist")).as("sel_dist"))
      .orderBy(col("round"))
  }

  /** The farthest-point selection loop shared by [[kmeansppInit]] (display
    * projection) and [[kmeansppQuality]] (inertia audit): returns the full
    * (cid, cvec, round, sel_dist) selection frame.
    */
  private[ops] def kmeansppCenters(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    graft.functions.SqL2.register(emb.sparkSession)
    // every selection round re-reads the corpus: pin it so the k rounds
    // pay ONE scan, not k (clearPinned drops it between queries)
    val corpus = Exec.pin(emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
    def asCenter(df: DataFrame, round: Int, distCol: Column): DataFrame =
      df.select(col("vec_id").cast("int").as("cid"),
        expr("transform(v, x -> floor(x * 10000 + 0.5) / 10000)").as("cvec"),
        lit(round).as("round"), distCol.as("sel_dist"))
    var sel = Exec.checkpoint(
      asCenter(corpus.orderBy(col("vec_id")).limit(1), 0, lit(0.0)))
    for (r <- 1 until k) {
      val packed = sel.agg(
        expr("array_sort(collect_list(struct(cid, cvec)))").as("cs"))
      val next = corpus.crossJoin(broadcast(packed))
        .withColumn("mind", expr(
          """aggregate(
            |  transform(cs, ct -> floor(sq_l2(v, ct.cvec) * 1000000 + 0.5)
            |    / 1000000),
            |  CAST('Infinity' AS DOUBLE),
            |  (acc, d) -> IF(d < acc, d, acc))""".stripMargin))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
      sel = Exec.checkpoint(
        sel.unionByName(asCenter(next, r, col("mind"))))
    }
    sel
  }

  /** kNN-distance OOD score — the NON-PARAMETRIC outlier screen beside the
    * Gaussian [[mahalanobisOutliers]] (no covariance assumption: a point is
    * out-of-distribution when even its k nearest corpus points are far —
    * the standard density-free novelty signal for embedding spaces with
    * multi-modal structure, where a global covariance whitens the modes
    * together). Score = mean sq-L2 to the k nearest (exact micro-unit long
    * sum, ONE division); the OOD flag compares against the exact p95 of
    * the scored set (interpolated percentile over exact longs — any
    * cross-formula ULP sits inside a ≥1-micro-unit gap, so the comparison
    * is engine-stable). Shape: the query side is the bounded audit slice
    * and BROADCASTS; per-query top-k rides the WindowGroupLimit pushdown
    * (partial top-k before the exchange, the [[knnBruteForce]] contract);
    * the p95 is one tiny aggregate over |queries| rows.
    */
  def knnOodScores(emb: DataFrame, maxQueryId: Int = 32, k: Int = 5): DataFrame = {
    graft.functions.SqL2.register(emb.sparkSession)
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val queries = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("q"))
    val corpus = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d_micro"), col("vec_id"))
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("d_micro",
        expr("CAST(floor(sq_l2(v, q) * 1000000 + 0.5) AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"))
      .agg(sum(col("d_micro")).as("sum_micro"))
    val thr = scored.agg(
      expr("percentile(sum_micro, 0.95)").as("thr")) // |queries|-row agg
    scored.crossJoin(broadcast(thr))
      .select(col("query_id"),
        q6(col("sum_micro").cast("double") / lit(k * 1000000.0)).as("knn_dist"),
        (col("sum_micro").cast("double") > col("thr")).as("is_ood"))
      .orderBy(col("query_id"))
  }

  /** Seeding-quality audit — the standing-query counterpart of
    * [[annRecallAudit]] for the clustering stack: k-means inertia
    * (Σ min-distance² to the nearest seed) under the farthest-point
    * [[kmeansppInit]] seeds vs [[kmeansLloyd]]'s degenerate lowest-id
    * seeds, measured not asserted. Distances are the same 1e-6-quantized
    * sq-L2 the seeding uses, recovered to EXACT micro-unit longs before
    * summing (a float Σ over the corpus would be fold-order-dependent;
    * the long Σ is associative), so both engines agree to the bit and the
    * improvement ratio is one division. Shape: two broadcast-seed corpus
    * passes, each a map-side fold + one scalar aggregate — no shuffle
    * carries a vector.
    */
  def kmeansppQuality(emb: DataFrame, k: Int = 8): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    graft.functions.SqL2.register(emb.sparkSession)
    // both inertia passes re-read the corpus: pin it (one scan, two folds)
    val corpus = Exec.pin(emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
    def inertia(seeds: DataFrame, outCol: String): DataFrame = {
      val packed = seeds.agg(expr("collect_list(cvec)").as("cs"))
      corpus.crossJoin(broadcast(packed))
        .withColumn("mind", expr(
          """aggregate(
            |  transform(cs, cv -> floor(sq_l2(v, cv) * 1000000 + 0.5)
            |    / 1000000),
            |  CAST('Infinity' AS DOUBLE),
            |  (acc, d) -> IF(d < acc, d, acc))""".stripMargin))
        .agg(count(lit(1)).as("n_vectors"),
          sum(expr("CAST(floor(mind * 1000000 + 0.5) AS BIGINT)")).as(outCol))
    }
    val pp = inertia(kmeansppCenters(emb, k).select(col("cvec")),
      "inertia_pp_micro")
    val low = inertia(corpus.filter(col("vec_id") < k)
        .select(expr("transform(v, x -> floor(x * 10000 + 0.5) / 10000)")
          .as("cvec")),
      "inertia_lowid_micro").select(col("inertia_lowid_micro"))
    pp.crossJoin(broadcast(low))
      .select(col("n_vectors"), col("inertia_pp_micro"),
        col("inertia_lowid_micro"),
        q4(lit(1.0) - col("inertia_pp_micro").cast("double")
          / col("inertia_lowid_micro").cast("double")).as("improvement"))
  }

  /** Shared PCA head: ONE row holding the 1e-6-quantized covariance matrix
    * (from the one-pass [[covarianceMatrix]] aggregate), the quantized mean
    * vector, and the dominant eigenvector after `iters` power-iteration
    * rounds. Determinism across engines is by construction, not hope: both
    * sides start from the SAME quantized matrix (covariance parity is
    * already oracle-proven), every dot product is a LEFT-TO-RIGHT fold
    * (`aggregate` over `zip_with` here, `list_reduce` in DuckDB — identical
    * IEEE operation order, so identical bits), the iterate is re-quantized
    * at 1e-8 after each normalization, and the sign is fixed by the
    * largest-|component| rule (ties to the lowest index). The corpus is
    * touched exactly twice (covariance pass + mean pass, both map-side
    * partial aggregates); the 20 matvecs run on a single 33 KB row — the
    * driver-free version of "collect the matrix and call LAPACK".
    */
  /** Left-to-right fold dot product — the evaluation order of the SQL
    * `aggregate(zip_with(a, b, ...), 0D, (acc, x) -> acc + x)` the
    * distributed PCA recursion used (and the oracle still uses). */
  private def dotLR(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Power iteration + deterministic sign fix over a dense in-memory
    * matrix — term-for-term the distributed per-round expressions: w = m·v
    * (row dots left-to-right), v ← floor(w/√(w·w) · 1e8 + 0.5)/1e8, and
    * after the rounds the dominant-|coordinate| sign convention (ties to
    * the lower index). */
  private def powerIterateLocal(m: Array[Array[Double]], dim: Int,
                                iters: Int): Array[Double] = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var r = 0
    while (r < iters) {
      val w = m.map(row => dotLR(row, v))
      val nrm = math.sqrt(dotLR(w, w))
      v = w.map(x => math.floor(x / nrm * 100000000 + 0.5) / 100000000)
      r += 1
    }
    // sign: the max-|x| coordinate (tie: lower index) must be positive
    var bna = 1.0; var bi = 0; var bx = 0.0
    var i = 1
    while (i <= dim) {
      val na = -math.abs(v(i - 1))
      if (na < bna || (na == bna && i < bi)) { bna = na; bi = i; bx = v(i - 1) }
      i += 1
    }
    val sg = if (bx < 0) -1.0 else 1.0
    v.map(x => sg * x)
  }

  /** The PCA head data, computed ONCE: the covariance and mean aggregates
    * are the corpus-sized work and stay distributed (one ~33 KB mergeable
    * buffer per partition — see [[graft.functions.CovMatrix]]); everything
    * after them operates on a d×d matrix — parameter-bounded metadata at
    * ANY corpus size (the mmrRerank bound argument) — so the r17b form
    * collects the d(d+1)/2 quantized cells + d means and runs the 20
    * checkpointed 1-row power-iteration rounds (each formerly an eager
    * blocking job of pure latency) as an in-memory loop with identical
    * arithmetic: q6 cells/means, left-to-right fold dots, per-round 1e8
    * floor, the same sign fix, q6 λ and floor-quantized λ/trace. Existing
    * PCA specs pin the outputs against brute-force values and the DuckDB
    * oracle replays the same unrolled recursion at both SFs.
    */
  private def pcaHeadLocal(emb: DataFrame, dim: Int, iters: Int)
      : (Array[Array[Double]], Array[Double], Array[Double], Double, Double) = {
    graft.functions.CovMatrix.register(emb.sparkSession)
    def q6(x: Double): Double = math.floor(x * 1000000 + 0.5) / 1000000
    val cells = emb.agg(expr(s"cov_matrix(embedding, $dim)").as("cm"))
      .select(explode(col("cm")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.cov").as("cov"))
      .collect()
    val m = Array.fill(dim, dim)(0.0)
    cells.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val cv = q6(r.getDouble(2))
      m(i)(j) = cv; m(j)(i) = cv
    }
    val muRows = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg((floor(avg(col("x")) * 1000000 + 0.5) / 1000000).as("mu"))
      .collect()
    val mu = new Array[Double](dim)
    muRows.foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    val v = powerIterateLocal(m, dim, iters)
    val mv = m.map(row => dotLR(row, v))
    val lam = q6(dotLR(v, mv) / dotLR(v, v))
    var trace = 0.0
    (0 until dim).foreach(i => trace += m(i)(i))
    val varExplained = math.floor(lam / trace * 1000000 + 0.5) / 1000000
    (m, mu, v, lam, varExplained)
  }

  private def pcaHead(emb: DataFrame, dim: Int, iters: Int): DataFrame = {
    val (m, mu, v, lam, varExplained) = pcaHeadLocal(emb, dim, iters)
    val spark = emb.sparkSession
    import spark.implicits._
    spark.createDataset(Seq(
        (m.map(_.toSeq).toSeq, mu.toSeq, v.toSeq, lam, varExplained)))
      .toDF("m", "mu", "v", "lam", "var_explained")
  }

  /** Dominant principal component of the embedding corpus by POWER
    * ITERATION over the one-pass covariance matrix — the missing half of
    * [[covarianceMatrix]] (that query proves the matrix; this extracts the
    * direction PCA/whitening/OPQ rotation actually consume, and its
    * eigenvalue — the collapse diagnostic: λ₁ carrying most of the trace
    * means the embedding space has degenerated to a line). Long-form
    * output: (pos, loading, lam). See [[pcaHead]] for the determinism and
    * scale contract.
    */
  def pcaPowerComponent(emb: DataFrame, dim: Int = 64, iters: Int = 20): DataFrame =
    pcaHead(emb, dim, iters)
      .select(posexplode(col("v")).as(Seq("pos", "loading")), col("lam"),
        col("var_explained"))
      .select(col("pos"), (floor(col("loading") * 1000000 + 0.5) / 1000000)
        .as("loading"), col("lam"), col("var_explained"))
      .orderBy(col("pos"))

  /** Project every vector onto the dominant principal component — the
    * 1-D PCA embedding (dataset cartography / slice discovery: the axis
    * along which the corpus varies most, labels attached so the projection
    * doubles as a separability probe). The head is ONE broadcast row;
    * the projection is a per-row fold (dot(x, v) − dot(μ, v)), so the
    * full-corpus pass is map-side only — no exchange at any scale.
    */
  def pcaProject(emb: DataFrame, dim: Int = 64, iters: Int = 20,
                 maxId: Int = 100): DataFrame = {
    val dot = (a: String, b: String) =>
      s"aggregate(zip_with($a, $b, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"
    val head = pcaHead(emb, dim, iters)
      .withColumn("c", expr(dot("mu", "v"))).select(col("v"), col("c"))
    emb.filter(col("vec_id") < maxId)
      .crossJoin(broadcast(head))
      .select(col("vec_id"), col("label"),
        q4(expr(dot("transform(embedding, x -> CAST(x AS DOUBLE))", "v"))
          - col("c")).as("proj"))
      .orderBy(col("vec_id"))
  }

  /** Centroid-based silhouette score per label — the clustering-quality
    * verdict on the embedding space (s ≈ 1: tight, well-separated label
    * clusters; s < 0: the vector sits closer to another label's centroid
    * than its own — the misplacement census is the mislabeling signal).
    * The simplified (centroid) silhouette: a = distance to the own-label
    * centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a)/max(a, b) — the full pairwise silhouette is O(n²) and
    * this is the standard corpus-scale substitute. Scale shape: all k
    * centroids pack into ONE broadcast row and a/b are row-local folds
    * over it (the kmeans zero-shuffle assign pattern) — the only exchange
    * is the final per-label rollup. Distances quantize at 1e-6 BEFORE the
    * sqrt on both engines.
    */
  def silhouetteByLabel(emb: DataFrame): DataFrame = {
    graft.functions.SqL2.register(emb.sparkSession)
    val packed = centroidArrays(emb).agg(
      expr("array_sort(collect_list(struct(c_label, cvec)))").as("cs"))
    emb
      .select(col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .crossJoin(broadcast(packed))
      .withColumn("a", expr(
        """sqrt(aggregate(cs, CAST(null AS DOUBLE), (acc, ct) ->
          |  IF(ct.c_label = label,
          |     floor(sq_l2(v, ct.cvec) * 1000000 + 0.5) / 1000000,
          |     acc)))""".stripMargin))
      .withColumn("b", expr(
        """sqrt(aggregate(cs, CAST('Infinity' AS DOUBLE), (acc, ct) ->
          |  IF(ct.c_label <> label,
          |     least(acc, floor(sq_l2(v, ct.cvec) * 1000000 + 0.5) / 1000000),
          |     acc)))""".stripMargin))
      // single-label degenerate case: b's fold over zero other-centroids
      // stays at its +Inf seed, and (Inf − a)/Inf is NaN on Spark while
      // DuckDB's empty min yields NULL — null the score explicitly so
      // both engines agree (avg/min ignore nulls identically)
      .withColumn("s", when(
        col("b").isNull || col("b") === lit(Double.PositiveInfinity), lit(null))
        .when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
        .otherwise(lit(0d)))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        q4(avg(col("s"))).as("mean_silhouette"),
        q4(min(col("s"))).as("min_silhouette"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("n_misplaced"))
      .orderBy(col("label"))
  }

  /** Embedding-space outlier screen — diagonal-covariance Mahalanobis
    * distance, the OOD filter a training-data pipeline runs over its
    * embedding corpus (vectors far from the per-dimension envelope are
    * mislabeled, corrupted, or out-of-domain; the diagonal form is the
    * standard high-d compromise — the full-covariance inverse is neither
    * cheap nor stable at d=64+). Per-dim mean/variance come from ONE
    * narrow (pos)-keyed aggregate using the covariance oracle's exact
    * formula (avg(x²) − avg(x)², 1e-6-quantized so both engines score
    * from identical envelopes), packed into a single broadcast row; the
    * score is then a per-row left-to-right fold — map-side only, like
    * [[pcaProject]] — and the top-`k` ride a TakeOrdered, not a full
    * sort. Output: the k most anomalous vectors with their scores.
    */
  def mahalanobisOutliers(emb: DataFrame, k: Int = 25): DataFrame = {
    val q6 = (c: Column) => floor(c * 1000000 + 0.5) / 1000000
    val packed = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(q6(avg(col("x"))).as("mu"),
        q6(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))).as("s2"))
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, mu))), s -> s.mu)")
          .as("mu"),
        expr("transform(array_sort(collect_list(struct(pos, s2))), s -> s.s2)")
          .as("s2"))
    emb.crossJoin(broadcast(packed))
      .select(col("vec_id"), col("label"),
        q4(expr(
          """aggregate(
            |  zip_with(transform(embedding, x -> CAST(x AS DOUBLE)),
            |    zip_with(mu, s2, (m, s) -> named_struct('m', m, 's', s)),
            |    (x, ms) -> (x - ms.m) * (x - ms.m) / ms.s),
            |  0D, (acc, y) -> acc + y)""".stripMargin)).as("md2"))
      .orderBy(col("md2").desc, col("vec_id"))
      .limit(k)
  }

  /** 2-D PCA dataset map — the top TWO principal components by deflation
    * (the standard Hotelling step: C₂ = C − λ₁v₁v₁ᵀ, whose dominant
    * eigenvector is the original second component), each vector projected
    * to (x, y) = (⟨e−μ, v₁⟩, ⟨e−μ, v₂⟩). This is the dataset-cartography
    * view proper: clusters, outliers, and label separability at a glance.
    * The deflated matrix is re-quantized at 1e-6 exactly like the
    * original, so both engines run the second 20-round iteration from the
    * same bits; everything else inherits [[pcaHead]]'s determinism and
    * scale contract (the corpus is still touched exactly twice — the
    * deflation and second iteration run on the same 1-row head).
    */
  def pcaTop2Project(emb: DataFrame, dim: Int = 64, iters: Int = 20,
                     maxId: Int = 100): DataFrame = {
    val dot = (a: String, b: String) =>
      s"aggregate(zip_with($a, $b, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"
    // r17b: the deflation and the second power iteration are d×d metadata
    // work — in-memory like [[pcaHeadLocal]], identical arithmetic
    // (q6-floored deflated cells, the same per-round 1e8 floors and sign
    // fix). Only the 1-row (v, v2, c1, c2) head is shipped; the corpus
    // projection below stays a broadcast map-side pass.
    val (m, mu, v, lam, _) = pcaHeadLocal(emb, dim, iters)
    val m2 = Array.tabulate(dim, dim)((i, j) =>
      math.floor((m(i)(j) - lam * v(i) * v(j)) * 1000000 + 0.5) / 1000000)
    val v2 = powerIterateLocal(m2, dim, iters)
    val c1 = dotLR(mu, v)
    val c2 = dotLR(mu, v2)
    val spark = emb.sparkSession
    import spark.implicits._
    val head = spark.createDataset(Seq((v.toSeq, v2.toSeq, c1, c2)))
      .toDF("v", "v2", "c1", "c2")
    emb.filter(col("vec_id") < maxId)
      .crossJoin(broadcast(head))
      .select(col("vec_id"), col("label"),
        q4(expr(dot("transform(embedding, x -> CAST(x AS DOUBLE))", "v"))
          - col("c1")).as("x"),
        q4(expr(dot("transform(embedding, x -> CAST(x AS DOUBLE))", "v2"))
          - col("c2")).as("y"))
      .orderBy(col("vec_id"))
  }

  /** The COMPOSED retrieval pipeline, end to end in one chain — the vector
    * twin of TextOps.pipelineE2E and the RAG ingest-and-serve shape:
    *
    *   1. INDEX dedup: [[cosineNearDupPairs]] (exact, label-blocked) feeds
    *      [[DedupOps.connectedComponents]]; only each component's min-id
    *      representative stays in the index (near-duplicate vectors make a
    *      retriever return k copies of one document — dedup-at-ingest is
    *      the standard fix, and MMR then diversifies what remains);
    *   2. RETRIEVE + RERANK: [[mmrRerank]] over the DEDUPED index with the
    *      query vectors drawn from the RAW set (queries are external — a
    *      query must not vanish because ingest dropped its duplicate).
    *
    * Stage interfaces are the registered per-stage operators, so drift in
    * any of them breaks this query's oracle hash while the per-stage
    * queries stay green (the txt_pipeline_e2e rationale). Scale shape is
    * inherited: the dedup join is (label, norm-bucket)-blocked, components
    * converge by pointer-jumping, and the MMR rounds touch only
    * shortlist-sized frames.
    */
  def vecPipelineE2E(emb: DataFrame, threshold: Double = 0.45,
                     maxQueryId: Int = 5, k: Int = 5,
                     pool: Int = 50, lambda: Double = 0.7): DataFrame = {
    val pairs = cosineNearDupPairs(emb, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val dropped = DedupOps.connectedComponents(pairs)
      .filter(!col("is_survivor"))
      .select(col("doc_id").as("vec_id"))
    val survivors = emb.join(dropped, Seq("vec_id"), "left_anti")
    mmrRerank(survivors, maxQueryId, k, pool, lambda, queryEmb = Some(emb))
  }

  /** Johnson–Lindenstrauss random-projection recall audit — the third ANN
    * family beside hyperplane LSH and IVF. Each 64-dim vector is projected
    * to `nDims` dims through a deterministic ±1 sign matrix (Achlioptas'
    * database-friendly JL construction: E[⟨Px,Py⟩] ∝ ⟨x,y⟩, so projected
    * cosine preserves neighbor order in expectation); candidates are the
    * projected-space top-`shortlist` per query, reranked with exact cosine,
    * and recall@k is measured against full brute force.
    *
    * Scale shape: the projection is ONE narrow pass over the corpus (the
    * 64-float embedding collapses to `nDims` quantized doubles before any
    * join), the shortlist ranking streams (projected corpus × broadcast
    * projected queries), and only shortlist-sized (query_id, vec_id) pairs
    * reach the exact rerank — the full-width embedding never shuffles.
    * Projected values are q4-quantized so the DuckDB oracle (which inlines
    * the same sign matrix) replays every downstream comparison exactly.
    */
  def randomProjectionRecall(emb: DataFrame, maxQueryId: Int = 5, k: Int = 5,
                             nDims: Int = 16, shortlist: Int = 15,
                             seed: Long = 77L): DataFrame = {
    val planes = hyperplanes(nDims, 64, seed)
    val pv = array(planes.map(p => q4(dot(col("embedding"), typedLit(p)))): _*)
    val proj = emb.select(col("vec_id"), pv.as("pv"))
    val queries = proj.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("pv").as("qp"))
    val pPairs = proj.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("psim", q4(cosine(col("qp"), col("pv"))))
    val wP = Window.partitionBy(col("query_id")).orderBy(col("psim").desc, col("vec_id"))
    val cand = pPairs.withColumn("prank", row_number().over(wP))
      .filter(col("prank") <= shortlist)
      .select(col("query_id"), col("vec_id"))
    val qvecs = emb.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val rer = emb.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qvecs), Seq("query_id"))
      .withColumn("sim", q4(cosineFast(emb, col("q"), col("embedding"))))
    val wE = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    val approx = rer.withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
    val full = knnBruteForce(emb, maxQueryId, k).select(col("query_id"), col("vec_id"))
    full.join(approx, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      .join(full.groupBy(col("query_id")).agg(count(lit(1)).as("n_full")),
        Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        q4(coalesce(col("n_overlap"), lit(0L)).cast("double") / col("n_full"))
          .as("recall"))
      .orderBy(col("query_id"))
  }
}
