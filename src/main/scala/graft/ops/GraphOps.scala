package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond connected components
  * ([[DedupOps.connectedComponents]]) — the relational formulations that
  * survive a 100 TB edge list. Everything here is joins + aggregations on
  * narrow (long, long) keys; no adjacency lists are ever collected.
  */
object GraphOps {

  /** Undirected, de-duplicated, loop-free edge list derived
    * deterministically from `lineitem`: node ids are `l_orderkey % n` and
    * `l_partkey % n + n` (disjoint ranges, so the bipartite order/part
    * incidence becomes a simple graph). The modulus densifies the graph so
    * triangles actually exist at small SF while keeping the construction
    * pure SQL for the oracle.
    */
  def lineitemEdges(li: DataFrame, n: Int): DataFrame =
    // shape note (r18): a single-scan explode(array(struct×3)) variant —
    // one parquet pass instead of three — was measured SLOWER here
    // (1.6–2.1 s vs 1.1–1.5 s for the checkpointed li2000 build at sf0.1,
    // local[32], 3 reps): the Generate breaks the scan's columnar codegen
    // and the three narrow scans overlap fine at local parallelism. Kept
    // as the 3-way union per the guide's measure-first loop.
    li.select(
        (col("l_orderkey") % n).as("u"),
        (col("l_partkey") % n + n).as("v"))
      .union(li.select(
        (col("l_orderkey") % n).as("u"),
        (col("l_suppkey") % n + 2L * n).as("v")))
      .union(li.select(
        (col("l_partkey") % n + n).as("u"),
        (col("l_suppkey") % n + 2L * n).as("v")))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()

  /** The undirected edge list every undirected operator reads: `edges`
    * checkpointed (the 3-way-union dedup upstream runs once per query),
    * plus its both-direction (src, dst) frame. The checkpoint is tracked
    * for release at the next [[Exec.clearPinned]].
    */
  private[graft] def undirectedShared(edges: DataFrame): (DataFrame, DataFrame) = {
    // only `e` holds blocks: the both-direction twin is a cheap union
    // VIEW over the checkpointed edges (two in-memory scans, no shuffle)
    // — checkpointing it too paid a second materialization for nothing
    // (measured +0.5–0.8 s standalone on lpa/modularity)
    val e = Exec.trackTransient(edges.localCheckpoint())
    val d = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    (e, d)
  }

  /** Degree-ordered orientation: each undirected edge directed from its
    * lower-degree endpoint (ties: lower id), which bounds every wedge-join
    * fan-out by O(sqrt(|E|)) per node instead of the max raw degree — the
    * difference between a skew-killed and a scalable self-join on a
    * power-law graph (the node-iterator orientation of Suri &
    * Vassilvitskii's MR model). Returns (oriented(src,dst), degrees(x,deg)),
    * both checkpointed and tracked for release at the next
    * [[Exec.clearPinned]].
    */
  def orientedWithDegrees(edges: DataFrame): (DataFrame, DataFrame) = {
    val nodes = edges.select(col("a").as("x"))
      .union(edges.select(col("b").as("x")))
    val degrees = nodes.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val oriented = edges
      .join(degrees.select(col("x").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(degrees.select(col("x").as("b"), col("deg").as("deg_b")), Seq("b"))
      .select(
        when(col("deg_a") < col("deg_b")
          || (col("deg_a") === col("deg_b") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    (Exec.trackTransient(oriented.localCheckpoint()),
      Exec.trackTransient(degrees.localCheckpoint()))
  }

  /** The oriented-wedge triangle core shared by both queries: wedges at the
    * low-degree apex closed by the third (oriented) edge. Both closing
    * orientations are checked because the wedge endpoints' relative order
    * is unconstrained. Output: (apex, w1, w2), one row per triangle.
    */
  private def closedWedges(oriented: DataFrame): DataFrame =
    oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("apex"),
        col("e1.dst").as("w1"), col("e2.dst").as("w2"))
      .join(oriented.select(
        least(col("src"), col("dst")).as("w1"),
        greatest(col("src"), col("dst")).as("w2")), Seq("w1", "w2"))

  /** Exact triangle count via degree-ordered edge orientation — three hash
    * joins on narrow long keys; no state beyond the (src, dst) pairs.
    * Output: one row — node count, edge count, triangle count.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val (oriented, _) = orientedWithDegrees(edges)
    val nodes = edges.select(col("a").as("x"))
      .union(edges.select(col("b").as("x")))
    closedWedges(oriented).agg(count(lit(1)).as("n_triangles"))
      .crossJoin(nodes.distinct().agg(count(lit(1)).as("n_nodes")))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Per-node triangle participation for the `topK` most triangle-dense
    * nodes — the local clustering signal (a node in many triangles is a
    * hub of a tight community; in a near-dup graph it is template boilerplate).
    * Same oriented-wedge plan as [[triangleCount]], but each closed wedge
    * credits all three corners before the top-k cut.
    */
  def topTriangleNodes(edges: DataFrame, topK: Int): DataFrame = {
    val (oriented, degrees) = orientedWithDegrees(edges)
    val triangles = closedWedges(oriented)
    val credits = triangles.select(col("apex").as("node"))
      .union(triangles.select(col("w1").as("node")))
      .union(triangles.select(col("w2").as("node")))
    credits.groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
      .join(degrees.select(col("x").as("node"), col("deg")), Seq("node"))
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(topK)
      .select(col("node"), col("deg"), col("n_triangles"))
  }

  /** Local clustering-coefficient distribution — cc(v) =
    * 2·triangles(v) / (deg(v)·(deg(v)−1)), the "how clique-like is each
    * neighborhood" metric (near 1: tight community around v; near 0:
    * star hub — in a near-dup graph, template boilerplate vs genuine
    * clusters). Reuses [[triangleCount]]'s degree-oriented wedge plan
    * (O(Σdeg^1.5) fan-out, narrow long-only exchanges) for the per-node
    * triangle credits, then ONE exact-integer division per node; nodes
    * with deg < 2 define cc = 0 (no wedge exists). Output is the
    * 10-bucket cc histogram plus the exact mean numerator/denominator
    * integers — constant-width verification at any graph size.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val (oriented, degrees) = orientedWithDegrees(edges)
    val triangles = closedWedges(oriented)
    val credits = triangles.select(col("apex").as("node"))
      .union(triangles.select(col("w1").as("node")))
      .union(triangles.select(col("w2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val cc = degrees.select(col("x").as("node"), col("deg"))
      .join(credits, Seq("node"), "left")
      .na.fill(0L, Seq("t"))
      .withColumn("cc", when(col("deg") < 2, lit(0.0)).otherwise(
        lit(2.0) * col("t").cast("double")
          / (col("deg") * (col("deg") - 1)).cast("double")))
    cc.withColumn("bucket",
        least(floor(col("cc") * 10).cast("int"), lit(9)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("t")).as("tri_credits"), sum(col("deg")).as("deg_sum"))
      .orderBy(col("bucket"))
  }

  /** PageRank by power iteration over an undirected edge list — the
    * centrality pass a link/citation/near-dup graph gets before sampling.
    * Each of the `iters` rounds is one equi-join (ranks onto the
    * degree-annotated directed edges, key `src`) plus one aggregation (sum
    * of `pr/deg` contributions, key `dst`) — narrow (long, double) rows
    * only, so at 100 TB the per-round cost is two hash exchanges on 8-byte
    * keys and nothing is ever collected. The edge frame is built once,
    * `localCheckpoint`ed (lineage cut — the per-round plan stays constant
    * instead of growing, the same discipline as
    * [[DedupOps.connectedComponents]]), and reused every round. Every node
    * of an undirected graph has out-degree ≥ 1, so there is no dangling
    * mass and the damping term is exact. Node count is a single driver
    * scalar (graph metadata, same contract as the CC convergence scalar).
    * The per-round rank vector is count-gate broadcast so a round's only
    * exchange is the narrow per-dst partial-agg merge.
    *
    * Output: top-`topK` nodes by damped rank, scaled by N (mean = 1.0) and
    * floor-quantized at 1e-6 so the cross-engine comparison and the
    * ordering are both done in quantized space.
    */
  /** The (degree-joined edges, degrees, |V|) build shared — by code —
    * between [[pageRank]] and [[personalizedPageRank]]. The directed frame
    * reads the checkpointed undirected list ([[undirectedShared]]), so the
    * upstream edge dedup (a full shuffle over the raw incidence list) runs
    * once although it feeds both the degree count and the edge-degree
    * join. Checkpointed frames report unknown stats, so the |V|-row degree
    * side is hinted explicitly (count-gated) or the build join sorts |E|.
    * Both checkpoints are tracked for release at the next
    * [[Exec.clearPinned]].
    */
  private def buildDegreeFrames(edges: DataFrame,
      maxBroadcastRanks: Long): (DataFrame, DataFrame, Long) = {
    val (_, directed) = undirectedShared(edges)
    val degs = Exec.trackTransient(
      directed.groupBy(col("src")).agg(count(lit(1)).as("deg")).localCheckpoint())
    val n = degs.count()
    val wd = Exec.trackTransient(directed.join(
      if (n <= maxBroadcastRanks) broadcast(degs) else degs, Seq("src"))
      .localCheckpoint())
    (wd, degs, n)
  }

  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
               topK: Int = 25, maxBroadcastRanks: Long = 4000000L): DataFrame = {
    val (withDeg, degFrame, nNodes) = buildDegreeFrames(edges, maxBroadcastRanks)
    // r17b: under the edge gate the power iterations run driver-resident
    // over the collected degree-joined frame — the same per-dst
    // Σ pr/deg accumulation and (1−d)/n + d·c update, nodes without
    // in-edges dropping out of the vector after each round exactly as the
    // groupBy(dst) does; only the final rank_scaled is quantized, as in
    // the plan (PageRank driver parity spec; oracle at sf0.01/sf0.1).
    // The degree build + edge dedup stay distributed above.
    val collected = Exec.collectIfSmall(withDeg.select(col("src"), col("dst"), col("deg")),
      Exec.DriverLoopRows)
    if (collected.isDefined) return pageRankDriver(edges.sparkSession, collected.get,
      nNodes, iters, damping, topK, teleportSeedMod = None)
    var ranks = degFrame.select(col("src").as("node"))
      .withColumn("pr", lit(1.0 / nNodes))
    // the rank vector is ≤ |V| rows of (long, double) against |E| edge
    // rows: broadcast it so a round's only exchange is the narrow per-dst
    // partial-aggregate merge — the checkpointed edge frame never
    // re-shuffles. r18: the gate is decided ONCE on nNodes (an upper bound
    // on every round's rank-vector cardinality, already in hand from the
    // degree build) instead of a per-round persist+count job — 3 blocking
    // jobs gone, identical plan choice at every scale. Past the gate the
    // join degrades to a plain shuffle on src, still narrow keys.
    val bcRanks = nNodes <= maxBroadcastRanks
    for (_ <- 1 to iters) {
      val rv = ranks.withColumnRenamed("node", "src")
      ranks = withDeg
        .join(if (bcRanks) broadcast(rv) else rv, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("c"))
        .select(col("dst").as("node"),
          (lit((1.0 - damping) / nNodes) + lit(damping) * col("c")).as("pr"))
    }
    ranks
      .select(col("node"),
        (floor(col("pr") * lit(nNodes.toDouble) * 1e6 + 0.5) / 1e6).as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(topK)
  }

  /** The in-memory power iterations behind [[pageRank]] /
    * [[personalizedPageRank]]'s driver gate — see the gate comments. Over
    * the collected (src, dst, deg) rows of the degree-joined directed
    * frame; per round,
    * per-dst Σ pr/deg in edge order, then the damped update (uniform
    * teleport and rank-vector drop-out for plain PR; seed teleport and a
    * total vector for PPR). Output quantization and (rank desc, node asc)
    * top-k exactly as the distributed plan.
    */
  private def pageRankDriver(spark: SparkSession, rows: Array[Row], nNodes: Long,
      iters: Int, damping: Double, topK: Int,
      teleportSeedMod: Option[Long]): DataFrame = {
    val m = rows.length
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got eq null) { idx.put(x, ids.length); ids += x; ids.length - 1 }
      else got.intValue()
    }
    val esrc = new Array[Int](m); val edst = new Array[Int](m)
    val edeg = new Array[Long](m)
    var i = 0
    while (i < m) {
      esrc(i) = id(rows(i).getLong(0)); edst(i) = id(rows(i).getLong(1))
      edeg(i) = rows(i).getLong(2); i += 1
    }
    val nV = ids.length
    val teleport = teleportSeedMod.map { sm =>
      val t = new Array[Double](nV)
      var nSeeds = 0L
      var j = 0
      while (j < nV) { if (ids(j) % sm == 0) nSeeds += 1L; j += 1 }
      require(nSeeds > 0, s"personalizedPageRank: no seeds at mod $sm")
      j = 0
      while (j < nV) {
        t(j) = if (ids(j) % sm == 0) 1.0 / nSeeds else 0.0; j += 1
      }
      t
    }
    var pr = teleport.map(_.clone()).getOrElse(Array.fill(nV)(1.0 / nNodes))
    var present = Array.fill(nV)(true)
    var it = 0
    while (it < iters) {
      val c = new Array[Double](nV)
      val hasIn = new Array[Boolean](nV)
      i = 0
      while (i < m) {
        if (present(esrc(i))) {
          c(edst(i)) += pr(esrc(i)) / edeg(i); hasIn(edst(i)) = true
        }
        i += 1
      }
      val next = new Array[Double](nV)
      var j = 0
      teleport match {
        case Some(t) =>
          while (j < nV) {
            next(j) = (1.0 - damping) * t(j) +
              damping * (if (hasIn(j)) c(j) else 0.0)
            j += 1
          }
        // plain PR: only dst-reached nodes stay in the rank vector (the
        // groupBy(dst) contract)
        case None =>
          while (j < nV) {
            if (hasIn(j)) next(j) = (1.0 - damping) / nNodes + damping * c(j)
            j += 1
          }
          present = hasIn
      }
      pr = next
      it += 1
    }
    val out = (0 until nV)
      .filter(j => teleport.isDefined || present(j))
      .map { j =>
        (ids(j), math.floor(pr(j) * nNodes.toDouble * 1e6 + 0.5) / 1e6)
      }
      .filter(r => teleport.isEmpty || r._2 > 0)
      .sortBy { case (nd, rs) => (-rs, nd) }
      .take(topK)
    import spark.implicits._
    spark.createDataset(out).toDF("node", "rank_scaled")
      .orderBy(col("rank_scaled").desc, col("node"))
  }

  /** Personalized PageRank — random walk with restart to a SEED set instead
    * of the uniform vector: pr₀ = 1_S/|S|, and each round teleports back to
    * the seeds,
    *
    *   pr_{t+1}(v) = (1−d)·1_S(v)/|S| + d·Σ_{u→v} pr_t(u)/deg(u).
    *
    * This is the similarity/recommendation primitive (nodes ranked by
    * proximity to the seed community). Seeds are the deterministic
    * `node % seedMod == 0` subset (the closeness-centrality convention).
    * Plan shape is identical to [[pageRank]] — the same
    * degree-joined edge build, a count-gated broadcast rank vector, one
    * narrow per-dst aggregate per round — so the scale posture carries
    * over unchanged; the only addition is a broadcast seed-indicator join
    * per round (|V|-bounded, key+flag only). Nodes unreached by the walk
    * keep rank 0 and are excluded (rank_scaled > 0 filter) so the output
    * stays top-k dense.
    */
  def personalizedPageRank(edges: DataFrame, seedMod: Long = 100L,
                           iters: Int = 3, damping: Double = 0.85,
                           topK: Int = 25,
                           maxBroadcastRanks: Long = 4000000L): DataFrame = {
    val (withDeg, degFrame, nNodes) = buildDegreeFrames(edges, maxBroadcastRanks)
    // r17b: same driver gate as [[pageRank]]; the teleport variant keeps
    // every node in the vector each round (the left-join + coalesce
    // contract) and filters rank_scaled > 0 at the end.
    val collected = Exec.collectIfSmall(withDeg.select(col("src"), col("dst"), col("deg")),
      Exec.DriverLoopRows)
    if (collected.isDefined) return pageRankDriver(edges.sparkSession, collected.get,
      nNodes, iters, damping, topK, teleportSeedMod = Some(seedMod))
    val seeds = degFrame.filter(col("src") % seedMod === 0)
    val nSeeds = seeds.count()
    require(nSeeds > 0, s"personalizedPageRank: no seeds at mod $seedMod")
    val seedFlag = degFrame.select(col("src").as("node"),
      when(col("src") % seedMod === 0, lit(1.0 / nSeeds)).otherwise(lit(0.0))
        .as("teleport"))
    var ranks = seedFlag.select(col("node"), col("teleport").as("pr"))
    // r18: broadcast gate decided once on nNodes (see [[pageRank]]) — the
    // per-round persist+count jobs are gone
    val bcRanks = nNodes <= maxBroadcastRanks
    for (_ <- 1 to iters) {
      val rv = ranks.withColumnRenamed("node", "src")
      val flowed = withDeg
        .join(if (bcRanks) broadcast(rv) else rv, Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("c"))
        .select(col("dst").as("node"), col("c"))
      // left join back onto the full teleport vector: seeds receive their
      // restart mass even in rounds where no walk reaches them
      ranks = seedFlag
        .join(flowed, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("teleport")
            + lit(damping) * coalesce(col("c"), lit(0.0))).as("pr"))
    }
    ranks
      .select(col("node"),
        (floor(col("pr") * lit(nNodes.toDouble) * 1e6 + 0.5) / 1e6).as("rank_scaled"))
      .filter(col("rank_scaled") > 0)
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(topK)
  }

  /** Bipartite order/part-bucket incidence graph: order nodes are even ids
    * (`2·orderkey`), bucket nodes odd (`2·(partkey mod nParts) + 1`), so
    * the id spaces are disjoint by parity and the edge list is distinct
    * pairs — the graph k-core peels over. Unlike the residue graph, the
    * ORDER side keeps its natural sparse degree (lines per order), so
    * peeling actually cascades.
    */
  def orderPartEdges(li: DataFrame, nParts: Int): DataFrame =
    li.select((col("l_orderkey") * 2).as("a"),
        ((col("l_partkey") % nParts) * 2 + 1).as("b"))
      .distinct()

  /** k-core peel: rounds of "drop every node with degree < k, keep only
    * edges between survivors" — the degeneracy screen a near-dup or
    * interaction graph gets before community work (a node outside the
    * k-core cannot sit in a (k+1)-clique). Each round is one endpoint-count
    * aggregate plus two semi-joins on long keys, lineage-cut per round.
    *
    * Round control: the peel EARLY-EXITS at the fixpoint — the survivor
    * count the broadcast gate already materializes is compared round over
    * round, and since the survivor set only shrinks, an unchanged count
    * means an unchanged set, so the pending semi-joins would be no-ops and
    * are skipped (zero extra jobs; the check reuses the gate's count). With
    * `convergeToFixpoint = true` the `rounds` budget is ignored and the
    * peel runs to the true k-core — the production setting (round cost is
    * two broadcast-filtered scans, and deep peel chains converge in
    * O(longest degeneracy chain) rounds). The default bounded budget keeps
    * the operator's job count deterministic for the oracle; a converged
    * peel is a fixpoint, so budget rounds past convergence cost nothing
    * now and change nothing.
    *
    * Output: the degree histogram of the surviving subgraph.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 5,
            maxBroadcastSurvivors: Long = 4000000L,
            convergeToFixpoint: Boolean = false): DataFrame =
    kCoreWithRounds(edges, k, rounds, maxBroadcastSurvivors, convergeToFixpoint)._1

  /** [[kCore]] plus the number of peel rounds actually EXECUTED (early-exit
    * visible to specs): `(histogram, roundsRun)`. */
  private[graft] def kCoreWithRounds(edges: DataFrame, k: Int, rounds: Int = 5,
            maxBroadcastSurvivors: Long = 4000000L,
            convergeToFixpoint: Boolean = false): (DataFrame, Int) = {
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("a").as("x")).union(e.select(col("b").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("dg"))
    // the input checkpoint rides the between-query drain, so the
    // driver-path early return below cannot leak it
    var e = Exec.trackTransient(edges.localCheckpoint())
    // r17b: once the distributed distinct has produced the checkpointed
    // edge list it is bounded metadata (the orderPartEdges construction
    // caps the bucket side at nParts) — under the measured gate the peel
    // rounds (each a degree aggregate + survivor count + two semi-joins +
    // eager checkpoint) run driver-resident with IDENTICAL round
    // semantics: simultaneous sub-k drop per round, the same rounds
    // budget / convergeToFixpoint control, the same count-unchanged early
    // exit. All-integer arithmetic — bit-exact (kCore driver parity
    // spec). Past the gate the distributed peel below runs unchanged.
    val collected = Exec.collectIfSmall(e.select(col("a"), col("b")), Exec.DriverLoopRows)
    if (collected.isDefined)
      return kCoreDriver(edges.sparkSession, collected.get, k, rounds, convergeToFixpoint)
    // r18 — DELTA peel (guide §2: only changed nodes re-aggregate). The
    // old loop re-aggregated degrees over the FULL surviving edge list and
    // rewrote it with two semi-joins every round — O(|E|) shuffled rows per
    // round regardless of how few nodes actually died. A surviving node's
    // degree only moves when a NEIGHBOR dies, so the peel now maintains
    // the (node, live-degree) frame incrementally: per round, the only
    // aggregate is over edges incident to the nodes dying THIS round (a
    // broadcast-filtered scan of the checkpointed round-0 edges — never a
    // re-shuffle of E), and the edge list itself is never rewritten. The
    // final histogram reads the maintained degree frame directly: a live
    // node's maintained degree IS its degree in the survivor subgraph
    // (dg ≥ 1 filter preserves the old degreesOf contract, which emitted
    // no row for isolated nodes). Round semantics are unchanged —
    // simultaneous sub-k drop per round, same early exit on a stationary
    // survivor count, same roundsRun — pinned by the kCore parity spec.
    val dirView = e.select(col("a").as("x"), col("b").as("nb"))
      .union(e.select(col("b").as("x"), col("a").as("nb")))
    var deg = degreesOf(e).localCheckpoint(false)
    Exec.trackTransient(deg)
    var prevSurvivors = -1L
    var converged = false
    var roundsRun = 0
    while (!converged && (convergeToFixpoint || roundsRun < rounds)) {
      // ONE blocking job per round: alive + dying counts in one aggregate
      // over the (lazily checkpointed) degree frame — the action that also
      // materializes this round's frame. The survivor count doubles as the
      // fixpoint detector exactly as before. Superseded degree frames are
      // released by the between-query drain, not mid-loop: lazy checkpoint
      // finalization can lag the first consuming job (AQE), and a deferred
      // finalization recomputes through the ORIGINAL lineage, so every
      // ancestor must stay alive until the query's final action. Per-round
      // state is one narrow |V|-row frame — the retained footprint is far
      // below the old loop's per-round |E|-row edge rewrites.
      val cnts = deg.agg(count(lit(1)).as("alive"),
        coalesce(sum(when(col("dg") < k, 1L)), lit(0L)).as("dying")).head()
      val (alive, dying) = (cnts.getLong(0), cnts.getLong(1))
      val nSurvivors = alive - dying
      if (nSurvivors == prevSurvivors) converged = true
      else {
        val dyingNodes = deg.filter(col("dg") < k).select(col("x"))
        // the dying set is ≤ the old survivor set — same broadcast gate
        val dy =
          if (dying <= maxBroadcastSurvivors) broadcast(dyingNodes)
          else dyingNodes
        // per-survivor decrement = # neighbors dying this round; the scan
        // is the pinned round-0 edge frame through a broadcast semi-join,
        // and only the matched (dying-incident) rows reach the exchange
        val dec = dirView
          .join(dy.withColumnRenamed("x", "nb"), Seq("nb"), "left_semi")
          .groupBy(col("x")).agg(count(lit(1)).as("ddg"))
        val next = deg.filter(col("dg") >= k)
          .join(dec, Seq("x"), "left")
          .select(col("x"),
            (col("dg") - coalesce(col("ddg"), lit(0L))).as("dg"))
          .localCheckpoint(false)
        Exec.trackTransient(next)
        deg = next
        prevSurvivors = nSurvivors
        roundsRun += 1
      }
    }
    val hist = deg.filter(col("dg") >= 1)
      .groupBy(col("dg").as("deg")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("deg"))
    (hist, roundsRun)
  }

  /** The in-memory k-core peel over a collected bounded edge list — see
    * the gate comment in [[kCoreWithRounds]]. Same loop: per round, degree
    * census over the live edges, simultaneous drop of sub-k nodes, early
    * exit when the survivor count repeats (the set only shrinks). */
  private def kCoreDriver(spark: SparkSession, rows: Array[Row], k: Int,
      rounds: Int, convergeToFixpoint: Boolean): (DataFrame, Int) = {
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got eq null) { idx.put(x, ids.length); ids += x; ids.length - 1 }
      else got.intValue()
    }
    val m = rows.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var i = 0
    while (i < m) {
      ea(i) = id(rows(i).getLong(0)); eb(i) = id(rows(i).getLong(1)); i += 1
    }
    val nV = ids.length
    val alive = new Array[Boolean](m)
    java.util.Arrays.fill(alive, true)
    val deg = new Array[Long](nV)
    var prevSurvivors = -1L
    var converged = false
    var roundsRun = 0
    while (!converged && (convergeToFixpoint || roundsRun < rounds)) {
      java.util.Arrays.fill(deg, 0L)
      i = 0
      while (i < m) {
        if (alive(i)) { deg(ea(i)) += 1L; deg(eb(i)) += 1L }
        i += 1
      }
      var nSurvivors = 0L
      var j = 0
      while (j < nV) { if (deg(j) >= k) nSurvivors += 1L; j += 1 }
      if (nSurvivors == prevSurvivors) converged = true
      else {
        i = 0
        while (i < m) {
          if (alive(i) && (deg(ea(i)) < k || deg(eb(i)) < k)) alive(i) = false
          i += 1
        }
        prevSurvivors = nSurvivors
        roundsRun += 1
      }
    }
    // degree histogram of the surviving subgraph
    java.util.Arrays.fill(deg, 0L)
    i = 0
    while (i < m) {
      if (alive(i)) { deg(ea(i)) += 1L; deg(eb(i)) += 1L }
      i += 1
    }
    val histMap = new java.util.TreeMap[Long, Long]()
    var j = 0
    while (j < nV) {
      if (deg(j) > 0L) {
        val c = histMap.get(deg(j))
        histMap.put(deg(j), if (c == 0L && !histMap.containsKey(deg(j))) 1L
          else c + 1L)
      }
      j += 1
    }
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val hist = spark.createDataset(
        histMap.entrySet().asScala
          .map(en => (en.getKey.longValue(), en.getValue.longValue())).toSeq)
      .toDF("deg", "n_nodes")
      .orderBy(col("deg"))
    (hist, roundsRun)
  }

  /** [[sampledTriEdges]] plus a PLANTED K_core clique on nodes 0..core−1 —
    * the k-truss fixture: the organic sampled graph has a thin tail of
    * support-2 edges whose triangle partners are support-1, so a 4-truss
    * peel annihilates it (measured: 4 such edges at sf0.01, all dead by
    * round 2) — correct but vacuous. The clique is indestructible ground
    * truth (every K₁₀ edge has support 8 ≥ k−2 for any k ≤ 10) that also
    * picks up organic attachments through the shared low node ids, so the
    * peel exercises a real cascade: organic fringe dies round by round,
    * the core plus whatever genuinely dense structure exists survives.
    */
  def sampledTriCoreEdges(li: DataFrame, n: Int = 5000, keep: Int = 97,
                          core: Int = 10): DataFrame = {
    val spark = li.sparkSession
    val ids = spark.range(core)
    val clique = ids.select(col("id").as("a"))
      .crossJoin(ids.select(col("id").as("b")))
      .filter(col("a") < col("b"))
    sampledTriEdges(li, n, keep).unionByName(clique).distinct()
  }

  /** k-truss peel — [[kCore]]'s EDGE-level sibling and the sharper
    * community core: rounds of "drop every edge in fewer than k−2
    * triangles, recount on the survivors" (an edge outside the k-truss
    * cannot sit in any k-clique; the truss is the standard
    * cohesive-subgraph screen one level stronger than coreness). Each
    * round is one triangle-support count — the (a,z)/(b,z) common-neighbor
    * join over the adjacency frame, Σ deg² work like every wedge operator
    * here — plus one inner join back to the edge list, lineage-cut per
    * round.
    *
    * Round control mirrors [[kCore]]: a FIXED `rounds` budget keeps the
    * job count deterministic for the oracle (which unrolls exactly the
    * same rounds as generated CTEs), the peel EARLY-EXITS at the fixpoint
    * (edge count unchanged ⇒ the set is unchanged ⇒ remaining rounds are
    * no-ops in BOTH engines, so the early exit never diverges from the
    * oracle's full unroll), and budget rounds past convergence change
    * nothing. Output: the support histogram of the surviving truss
    * (support recomputed on the final subgraph).
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int = 3,
             maxBroadcastEdges: Long = 4000000L): DataFrame =
    kTrussWithRounds(edges, k, rounds, maxBroadcastEdges)._1

  private[graft] def kTrussWithRounds(edges: DataFrame, k: Int,
      rounds: Int = 3, maxBroadcastEdges: Long = 4000000L)
      : (DataFrame, Int) = {
    require(k >= 3, s"kTruss: k must be >= 3, got $k")
    def supportOf(e: DataFrame): DataFrame = {
      val adj = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      // common neighbor z of (a, b): (a,z) and (b,z) both in adj
      e.join(adj.select(col("src").as("a"), col("dst").as("z")), Seq("a"))
        .join(adj.select(col("src").as("b"), col("dst").as("z")), Seq("b", "z"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
    }
    // tracked for the between-query drain (r18, advisor item: the
    // driver-path early return used to leak this checkpoint)
    var e = Exec.trackTransient(edges.localCheckpoint())
    // r17b: under the measured gate the peel rounds run driver-resident —
    // support = |N(a) ∩ N(b)| over the live subgraph per round, the same
    // simultaneous sub-(k−2) drop, the same edge-count early exit, all
    // exact integers (kTruss driver parity spec; oracle at both SFs). The
    // upstream edge construction stays distributed (paid by the gate).
    val collected = Exec.collectIfSmall(e.select(col("a"), col("b")), Exec.DriverLoopRows)
    if (collected.isDefined) return kTrussDriver(edges.sparkSession, collected.get, k, rounds)
    var prevEdges = -1L
    var roundsRun = 0
    var converged = false
    while (!converged && roundsRun < rounds) {
      // ONE blocking job per round (r18): the support count below is the
      // action that also materializes the previous round's lazily
      // checkpointed edge frame through its lineage — the old eager
      // per-round checkpoint job is gone. Superseded frames are released
      // by the between-query drain, not mid-loop (lazy checkpoint
      // finalization can lag the first consuming job under AQE, and a
      // deferred finalization recomputes through the original lineage).
      val kept = Exec.trackPersisted(supportOf(e)
        .filter(col("sup") >= k - 2)
        .select(col("a"), col("b")).persist())
      val nKept = kept.count()
      if (nKept == prevEdges) converged = true
      else {
        val keep =
          if (nKept <= maxBroadcastEdges) broadcast(kept) else kept
        val filtered = e.join(keep, Seq("a", "b"), "left_semi")
          .localCheckpoint(false)
        Exec.trackTransient(filtered)
        e = filtered
        prevEdges = nKept
        roundsRun += 1
      }
    }
    val hist = supportOf(e)
      .groupBy(col("sup").as("support")).agg(count(lit(1)).as("n_edges"))
      .orderBy(col("support"))
    (hist, roundsRun)
  }

  /** The in-memory k-truss peel behind [[kTrussWithRounds]]' gate: sorted
    * adjacency arrays per round, two-pointer common-neighbor counts per
    * live edge, simultaneous drop of sub-(k−2)-support edges, edge-count
    * early exit; final histogram over edges with support ≥ 1 (the
    * join-then-group contract — triangle-free edges emit no row). */
  private def kTrussDriver(spark: SparkSession, rows: Array[Row], k: Int,
                           rounds: Int): (DataFrame, Int) = {
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got eq null) { idx.put(x, ids.length); ids += x; ids.length - 1 }
      else got.intValue()
    }
    val m = rows.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var i = 0
    while (i < m) {
      ea(i) = id(rows(i).getLong(0)); eb(i) = id(rows(i).getLong(1)); i += 1
    }
    val nV = ids.length
    val alive = new Array[Boolean](m)
    java.util.Arrays.fill(alive, true)
    def adjacency(): Array[Array[Int]] = {
      val deg = new Array[Int](nV)
      i = 0
      while (i < m) {
        if (alive(i)) { deg(ea(i)) += 1; deg(eb(i)) += 1 }
        i += 1
      }
      val adj = Array.tabulate(nV)(j => new Array[Int](deg(j)))
      val fill = new Array[Int](nV)
      i = 0
      while (i < m) {
        if (alive(i)) {
          adj(ea(i))(fill(ea(i))) = eb(i); fill(ea(i)) += 1
          adj(eb(i))(fill(eb(i))) = ea(i); fill(eb(i)) += 1
        }
        i += 1
      }
      adj.foreach(a => java.util.Arrays.sort(a))
      adj
    }
    def supports(adj: Array[Array[Int]]): Array[Int] = {
      val sup = new Array[Int](m)
      i = 0
      while (i < m) {
        if (alive(i)) {
          val xa = adj(ea(i)); val xb = adj(eb(i))
          var p = 0; var q = 0; var c = 0
          while (p < xa.length && q < xb.length) {
            if (xa(p) < xb(q)) p += 1
            else if (xa(p) > xb(q)) q += 1
            else { c += 1; p += 1; q += 1 }
          }
          sup(i) = c
        }
        i += 1
      }
      sup
    }
    var prevEdges = -1L
    var roundsRun = 0
    var converged = false
    while (!converged && roundsRun < rounds) {
      val sup = supports(adjacency())
      var nKept = 0L
      i = 0
      while (i < m) { if (alive(i) && sup(i) >= k - 2) nKept += 1L; i += 1 }
      if (nKept == prevEdges) converged = true
      else {
        i = 0
        while (i < m) {
          if (alive(i) && sup(i) < k - 2) alive(i) = false
          i += 1
        }
        prevEdges = nKept
        roundsRun += 1
      }
    }
    val finalSup = supports(adjacency())
    val histMap = new java.util.TreeMap[Long, Long]()
    i = 0
    while (i < m) {
      if (alive(i) && finalSup(i) >= 1) {
        val key = finalSup(i).toLong
        val c = histMap.get(key)
        histMap.put(key,
          if (c == 0L && !histMap.containsKey(key)) 1L else c + 1L)
      }
      i += 1
    }
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val hist = spark.createDataset(
        histMap.entrySet().asScala
          .map(en => (en.getKey.longValue(), en.getValue.longValue())).toSeq)
      .toDF("support", "n_edges")
      .orderBy(col("support"))
    (hist, roundsRun)
  }

  /** Degree assortativity — Newman's r: the Pearson correlation of the
    * endpoint degrees over every directed edge (both orientations of the
    * undirected list, the standard convention). r > 0 = hubs attach to
    * hubs (social graphs), r < 0 = hubs attach to leaves (the usual
    * interaction/bipartite shape) — the one-number topology fingerprint
    * read before choosing between broadcast-style and salted join plans
    * for a graph workload. Cost shape: one degree aggregate + two joins
    * keyed on single longs + one corr fold; nothing wider than (long,
    * long) crosses an exchange.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val (_, dir) = undirectedShared(edges)
    val degs = dir.groupBy(col("src").as("x")).agg(count(lit(1)).as("deg"))
    dir
      .join(degs.select(col("x").as("src"), col("deg").as("deg_src")), Seq("src"))
      .join(degs.select(col("x").as("dst"), col("deg").as("deg_dst")), Seq("dst"))
      // Pearson r assembled from pop moments (the n factors cancel, so
      // this equals corr) — under ANSI mode corr() THROWS on a
      // zero-variance input (a regular graph); the when-guard returns the
      // mathematically-undefined case as null, matching DuckDB's corr
      .agg(count(lit(1)).as("n_directed_edges"),
        covar_pop(col("deg_src"), col("deg_dst")).as("cv"),
        stddev_pop(col("deg_src")).as("s1"),
        stddev_pop(col("deg_dst")).as("s2"),
        avg(col("deg_src")).as("ad"))
      .select(col("n_directed_edges"),
        q4(when(col("s1") * col("s2") > 0,
          col("cv") / (col("s1") * col("s2")))).as("assortativity"),
        q4(col("ad")).as("avg_edge_deg"))
  }

  /** Label-propagation communities (semi-synchronous LPA, deterministic
    * tiebreak) — the community detector a near-dup/citation graph gets
    * when connected components are too coarse (CC merges everything
    * touching; LPA's mode-of-neighbors rule splits a component along its
    * dense cores). Each round: every node adopts its neighbors' most
    * frequent label, ties to the SMALLEST label — the argmax is a
    * `min(struct(-count, label))` aggregate, so rounds are deterministic
    * and the oracle replays them with a windowed row_number. Fixed round
    * budget (the oracle unrolls it); per-round lineage cuts and eager
    * release of the superseded label frame, BFS-style. Output is the
    * community census (size / min / max / id-sum per final label) —
    * constant-width verification at any graph size. Scale shape: one
    * (dst-keyed) join plus two narrow aggregates per round, nothing wider
    * than (long, long) in any exchange.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 2): DataFrame =
    lpaLabels(undirectedShared(edges)._2, rounds).groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("node_sum"))
      .orderBy(col("community"))

  /** The (node, label) assignment [[labelPropagation]] censuses and
    * [[modularity]] scores — the final labels after `rounds`
    * deterministic LPA rounds over the both-direction edge frame `dir`
    * ([[undirectedShared]]), as a checkpointed frame registered for
    * between-query release.
    */
  private[graft] def lpaLabels(dir: DataFrame, rounds: Int): DataFrame = {
    // r18: intermediate rounds ride LAZY localCheckpoints (no per-round
    // collect exists to piggyback on), the FINAL round's checkpoint is
    // eager — one blocking job materializes the whole chain instead of
    // one per round, each round's blocks still cache at its checkpoint
    // boundary. Every round rides the between-query drain.
    var labels = Exec.trackTransient(
      dir.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint(false))
    for (r <- 1 to rounds) {
      val prev = labels
      val step = dir
        .join(prev.select(col("node").as("dst"), col("label").as("nl")),
          Seq("dst"))
        .groupBy(col("src").as("node"), col("nl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("negc"), col("nl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("label"))
      labels = Exec.trackTransient(step.localCheckpoint(r == rounds)) // eager last
    }
    labels
  }

  /** Newman modularity of the LPA partition — the "did the communities
    * mean anything" audit (Q > 0: denser inside communities than a
    * degree-preserving random rewire; Q ≈ 0: the partition is noise).
    * Exact integer arithmetic throughout: with m = |edges|, e_c =
    * intra-community edges and d_c = Σ degrees in community c,
    *   Q = Σ_c (e_c/m − (d_c/2m)²) = Σ_c (4·m·e_c − d_c²) / (4m²),
    * and every numerator term is a BIGINT (≲ 4m² ≈ 6e14 at sf1 — no
    * overflow, no float summation hazard); ONE double division per
    * output value, identical IEEE on both engines. `q_total` divides the
    * exact integer Σ_c numerator — never a sum of rounded doubles.
    * Scale shape: the label join is (node)-keyed, the intra count joins
    * the (long, long) edge list to the label frame twice — nothing wider
    * than two longs in any exchange, and the scalar m/Σ frames ride as
    * 1-row broadcasts.
    */
  def modularity(edges: DataFrame, rounds: Int = 2): DataFrame = {
    val (e, dir) = undirectedShared(edges)
    // the |V|-row label frame joins the |E|-row edge list three times; it
    // is an eager checkpoint, so all three read one materialization, and
    // Spark broadcasts it from its size (hash joins on the narrow
    // (long, long) keys when it is too large)
    val labels = lpaLabels(dir, rounds)
    val mRow = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dc = deg.join(labels, Seq("node"))
      .groupBy(col("label")).agg(sum(col("deg")).as("deg_sum"),
        count(lit(1)).as("n_nodes"))
    val intra = e
      .join(labels.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(labels.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("intra_edges"))
    val perC = dc.join(intra, Seq("label"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(mRow))
      .withColumn("num",
        lit(4L) * col("m") * col("intra_edges") - col("deg_sum") * col("deg_sum"))
    val totRow = perC.agg(sum(col("num")).as("tnum"), max(col("m")).as("tm"))
    perC.crossJoin(broadcast(totRow))
      .select(col("label").as("community"), col("n_nodes"),
        col("intra_edges"), col("deg_sum"),
        (floor(col("num").cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double") * 100000000 + 0.5)
          / 100000000).as("q_contrib"),
        (floor(col("tnum").cast("double")
          / (lit(4L) * col("tm") * col("tm")).cast("double") * 100000000 + 0.5)
          / 100000000).as("q_total"))
      .orderBy(col("community"))
  }

  /** Deterministically SAMPLED order/part incidence graph — the sparse
    * companion to [[lineitemEdges]]: keeping only incidence rows with
    * `(l_orderkey·31 + l_partkey) % keep = 0` holds average degree
    * roughly CONSTANT as the corpus grows (the dense residue graph's
    * degree grows with SF), which is what wedge-enumeration operators
    * like [[jaccardLinkPrediction]] need: their cost is Σ deg², linear
    * for a degree-bounded graph, quadratic for a densifying one.
    */
  def sampledEdges(li: DataFrame, n: Int = 5000, keep: Int = 97): DataFrame =
    li.filter((col("l_orderkey") * 31 + col("l_partkey")) % keep === 0)
      .select((col("l_orderkey") % n).as("u"),
        (col("l_partkey") % n + n).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()

  /** TRIPARTITE sampled incidence graph — [[sampledEdges]]' three-edge
    * sibling: each kept lineitem row contributes all three of its
    * order/part/supplier edges, so every kept row PLANTS a triangle
    * while row sampling still bounds degrees — the graph a
    * triangle-local metric ([[clusteringCoefficients]]) needs: the
    * dense residue graphs saturate into cliques (every cc → one
    * bucket) and their wedge counts grow superlinearly; this one keeps
    * a spread cc distribution and ~linear wedge cost at every SF.
    */
  def sampledTriEdges(li: DataFrame, n: Int = 5000, keep: Int = 97): DataFrame = {
    val kept = li.filter(
      (col("l_orderkey") * 31 + col("l_partkey")) % keep === 0)
    kept.select((col("l_orderkey") % n).as("u"),
        (col("l_partkey") % n + n).as("v"))
      .union(kept.select((col("l_orderkey") % n).as("u"),
        (col("l_suppkey") % n + 2L * n).as("v")))
      .union(kept.select((col("l_partkey") % n + n).as("u"),
        (col("l_suppkey") % n + 2L * n).as("v")))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
  }

  /** Jaccard link prediction — rank the non-edges most likely to appear
    * next: for every pair (x, y) that shares ≥1 neighbor but is NOT an
    * edge, score = |Γ(x) ∩ Γ(y)| / |Γ(x) ∪ Γ(y)| = common/(dx+dy−common).
    * Integer-exact end to end — common-neighbor counts and degrees are
    * exact longs, the score is ONE division of exact integers (identical
    * IEEE both engines), so ranking is deterministic without tolerance
    * games. Scale shape: candidates come from wedge enumeration (the
    * (src)-keyed self-join of the directed frame), whose output is
    * Σ_z deg(z)² — bounded because the sampled graph's degrees don't
    * grow with SF; the non-edge filter is one anti-join on the (long,
    * long) pair; degree annotation is two joins that Spark broadcasts
    * while the degree table is small.
    * Nothing wider than two longs crosses any exchange.
    */
  def jaccardLinkPrediction(edges: DataFrame, k: Int = 25): DataFrame = {
    val e = Exec.trackTransient(edges.localCheckpoint())
    val dir = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val cand = dir.as("d1")
      .join(dir.as("d2"),
        col("d1.src") === col("d2.src") && col("d1.dst") < col("d2.dst"))
      .select(col("d1.dst").as("x"), col("d2.dst").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("common"))
      .join(e.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
    cand
      .join(deg.select(col("src").as("x"), col("deg").as("deg_x")), Seq("x"))
      .join(deg.select(col("src").as("y"), col("deg").as("deg_y")), Seq("y"))
      .withColumn("jaccard", floor(
        col("common").cast("double")
          / (col("deg_x") + col("deg_y") - col("common")).cast("double")
          * 1000000 + 0.5) / 1000000)
      .select(col("x"), col("y"), col("common"), col("deg_x"), col("deg_y"),
        col("jaccard"))
      .orderBy(col("jaccard").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Adamic–Adar link prediction — [[jaccardLinkPrediction]]'s
    * rarity-weighted sibling: score(x,y) = Σ_{z ∈ Γ(x)∩Γ(y)} 1/ln(deg z),
    * so a common neighbor shared with half the graph counts for little
    * while a rare mutual contact dominates (the standard improvement over
    * raw common-neighbor counts). Determinism by the quantize-then-
    * integer-sum doctrine: each wedge CENTER's term is floor(10⁶/ln(deg_z)
    * + 0.5) — one ln and one division on a small-integer degree — and the
    * per-pair score is an EXACT-LONG sum of those terms (order-invariant
    * where a float Σ 1/ln would drift with aggregation order), divided
    * once at the end. deg(z) ≥ 2 for every center (it is adjacent to both
    * endpoints), so ln never sees 1. Scale shape identical to the Jaccard
    * op: center-keyed wedge enumeration (Σ deg² on a degree-bounded
    * sampled graph), the center's degree joined (broadcast by Spark while
    * small) BEFORE the pair aggregate, one anti-join against the edge set —
    * nothing wider than two longs and a term integer in any exchange.
    */
  def adamicAdarLinks(edges: DataFrame, k: Int = 25): DataFrame = {
    val e = Exec.trackTransient(edges.localCheckpoint())
    val dir = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val wedges = dir.as("d1")
      .join(dir.as("d2"),
        col("d1.src") === col("d2.src") && col("d1.dst") < col("d2.dst"))
      .select(col("d1.src").as("z"), col("d1.dst").as("x"),
        col("d2.dst").as("y"))
      .join(deg.select(col("src").as("z"), col("deg").as("deg_z")), Seq("z"))
      .withColumn("term",
        floor(lit(1000000.0) / log(col("deg_z").cast("double")) + 0.5)
          .cast("long"))
    wedges
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common"), sum(col("term")).as("aa_scaled"))
      .join(e.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .withColumn("adamic_adar",
        col("aa_scaled").cast("double") / 1000000.0)
      .select(col("x"), col("y"), col("common"), col("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Multi-source BFS hop-distance labeling — the reachability/radius probe
    * (how far is every node from the seed set, which nodes are beyond the
    * horizon): frontier-expansion rounds where each round is ONE semi-join
    * of the directed edge frame against the (count-gate broadcast) frontier
    * plus one anti-join against the visited set — all exchanges carry
    * single-long keys, the frontier only ever holds the newest layer, and
    * superseded per-round checkpoints are released eagerly (the k-core
    * hygiene). Seeds are `node % seedMod == 0`. Output is the layer census
    * (count / id-sum / min / max per hop distance, `dist = -1` for nodes
    * unreached within `rounds`) — strong verification at constant output
    * size, the same reason the heavy-hitter ops census rather than dump.
    */
  /** Sampled-seed closeness centrality — per-seed BFS distances rolled
    * into the classic centrality score: for each seed s,
    * closeness(s) = (reached−1)/Σ dist(s, v) over the bounded-round
    * horizon (the sampled-landmark form every at-scale system uses —
    * exact closeness is all-pairs BFS, quadratic and off the table at
    * 100 TB; a deterministic seed sample bounds the work to
    * |seeds| × BFS). The frontier carries (seed, node, dist) — per-SEED
    * visited sets, unlike [[bfsLayers]]' merged multi-source layers — so
    * each round is one semi-join-shaped expansion keyed on src plus one
    * anti-join against the per-seed visited frame; rows are three longs,
    * nothing wider in any exchange. All outputs are exact integers plus
    * ONE division (the closeness ratio), so cross-engine parity is
    * structural. Eccentricity here is horizon-capped (the max observed
    * dist ≤ rounds) — reported as ecc_capped to stay honest.
    */
  /** Per-seed bounded BFS shared by [[closenessCentrality]] and
    * [[harmonicCentrality]]: (seed, node, dist ≤ rounds) for every node
    * reached from the `node % seedMod == 0` seed set. Checkpoint-release
    * hygiene as documented on the closeness loop; the returned frame is
    * transient-tracked.
    */
  private def seededBfs(edges: DataFrame, seedMod: Long, rounds: Int): DataFrame = {
    // shape note (r18): two rewrites were measured and REJECTED here
    // (guide §1 empirical loop). (a) Fully LAZY per-layer checkpoints
    // materialized by one final action: 2.3× SLOWER (closeness
    // first-touch 3.9 → 10.5 s) — each round's anti-join references
    // every earlier layer and deferred lazy-checkpoint finalization
    // recomputes multi-referenced rounds through their original
    // lineage. (b) Eager per-LAYER checkpoints with the visited set as
    // a union view + one final union checkpoint: head-to-head same-JVM
    // A/B read old 2.39–2.70 s vs layered 2.53–3.10 s over 3 reps —
    // the saved visited re-unions (3 bounded rounds, |visited| ≈ 50k
    // rows at sf0.1) don't pay for the extra final materialization.
    val (_, dir) = undirectedShared(edges)
    var visited = dir.select(col("src").as("node")).distinct()
      .filter(col("node") % seedMod === 0)
      .select(col("node").as("seed"), col("node"), lit(0).as("dist"))
      .localCheckpoint()
    var frontier = visited.select(col("seed"), col("node"))
    var prevNext: DataFrame = null
    for (r <- 1 to rounds) {
      val next = dir
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")),
          Seq("seed", "node"), "left_anti")
        .withColumn("dist", lit(r))
        .localCheckpoint() // eager: materialized before the release below
      // round r-1's layer frame was only alive as this round's frontier —
      // the expansion above just consumed it (the bfsLayers hygiene)
      if (prevNext != null) Exec.unpersistCheckpointed(prevNext)
      prevNext = next
      val prev = visited
      visited = prev.union(next).localCheckpoint()
      Exec.unpersistCheckpointed(prev)
      frontier = next.select(col("seed"), col("node"))
    }
    if (prevNext != null) Exec.unpersistCheckpointed(prevNext)
    Exec.trackTransient(visited)
  }

  def closenessCentrality(edges: DataFrame, seedMod: Long = 500L,
                          rounds: Int = 3): DataFrame =
    seededBfs(edges, seedMod, rounds).groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("dist")).as("dist_sum"),
        max(col("dist")).as("ecc_capped"))
      .select(col("seed"), col("n_reached"), col("dist_sum"),
        col("ecc_capped"),
        // isolated seed (reaches nothing): 0/0 would be NaN — null it,
        // the same degenerate-input posture as silhouetteByLabel
        when(col("dist_sum") === 0, lit(null)).otherwise(
          floor((col("n_reached") - 1).cast("double")
            / col("dist_sum").cast("double") * 1000000 + 0.5) / 1000000)
          .as("closeness"))
      .orderBy(col("seed"))

  /** Harmonic centrality over the same bounded BFS — closeness's robust
    * sibling (Boldi–Vigna): Σ 1/d over reached nodes, which stays finite
    * and comparable when the graph is disconnected (closeness degrades to
    * the reached component). EXACT within the horizon: each node's 1/d
    * contribution is the integer L/d with L = lcm(1..rounds), so the
    * whole sum is ONE long aggregate and harmonic = h_scaled / L is one
    * final division — no per-node double ever accumulates.
    */
  /** HyperBall (Boldi–Vigna, "In-Core Computation of Geometric
    * Centralities with HyperBall", 2013): harmonic centrality for EVERY
    * node via per-node HyperLogLog ball sketches — the 100-TB path the
    * seeded-BFS family can't take. [[seededBfs]]'s state is (seed × ball)
    * PAIRS: exact, but seeds scale with the graph and r16's sf10
    * graduation measured the family superlinear under memory pressure.
    * HyperBall's state is m=16 registers PER NODE — O(16·N) total,
    * independent of how many centralities you want (all of them) — and
    * each round is ONE edge join + register-max re-aggregate: O(16·E)
    * narrow-long rows per round, scan-shaped, no pair blowup ever.
    *
    * Determinism, cross-engine: the register scheme is the proven
    * [[EventOps.hllDistinct]] one (32-bit md5-prefix hash; reg = top 4
    * bits, rho = 29 − MSB(lower 28) via `length(bin(w))` — integer-exact
    * in both engines). Register sums Σ2^−mr are sums of ≤16 exact powers
    * of two (always exactly representable in double, order-free), the
    * α·m²/s estimate and the small-range ln correction are the hll twins'
    * arithmetic, and every per-round estimate is 4dp-floored BEFORE the
    * harmonic combination Σ_r (Ê_r − Ê_{r−1})/r, so both engines difference
    * identical quantized values. Differences are NOT clamped at zero
    * (sketch estimates can shrink a step; Boldi–Vigna keep the raw
    * telescope, and clamping would hide sketch noise the census exists to
    * measure).
    */
  def hyperballHarmonic(und: DataFrame, rounds: Int = 3): DataFrame = {
    val (e, dir) = undirectedShared(und)
    // r17b: the register rounds are exact-arithmetic metadata work once
    // the edge dedup has run — register init is a 32-bit md5 slice
    // (replicated bit-for-bit via MessageDigest), the per-round update is
    // a NULL-ignoring max per register, and Σ2^−mr adds ≤16 dyadic values
    // spanning 29 bits (exact in double, order-free), so every per-round
    // 4dp-floored estimate is bit-identical to the distributed plan
    // (HyperBall driver parity spec; oracle at sf0.01/sf0.1). Past the
    // gate the wide-register distributed rounds below run unchanged.
    val collected = Exec.collectIfSmall(e.select(col("a"), col("b")), Exec.DriverLoopRows)
    if (collected.isDefined) return hyperballDriver(und.sparkSession, collected.get, rounds)
    val est = expr(
      """CASE WHEN 0.673D * 256D / (s + (16D - npres)) <= 40D AND npres < 16
        |  THEN 16D * ln(16D / (16D - npres))
        |  ELSE 0.673D * 256D / (s + (16D - npres))
        |END""".stripMargin)
    // r17: registers ride WIDE — 16 nullable int columns m0..m15 per node
    // instead of ≤16 (node, reg, mr) rows. The round join's output shrinks
    // from 2|E|·(registers present) rows to 2|E| rows (measured 11× fewer
    // rows, ~3× fewer bytes through the exchange at sf0.1), and the
    // (node, reg) max becomes ONE hash aggregate with 16 max columns.
    // Arithmetic is unchanged: max ignores NULLs exactly as the row form's
    // absent registers; Σ2^−mr adds ≤16 exactly-representable powers of
    // two (order-free), so every per-round estimate is bit-identical.
    val mCols = (0 until 16).map(k => s"m$k")
    def estimate(regs: DataFrame, tag: String): DataFrame = {
      val npres = mCols.map(c => when(col(c).isNotNull, 1).otherwise(0))
        .reduce(_ + _)
      val s = mCols.map(c => coalesce(expr(s"pow(2.0, -$c)"), lit(0.0)))
        .reduce(_ + _)
      regs.select(col("node"), npres.as("npres"), s.as("s"))
        .select(col("node"), (floor(est * 10000 + 0.5) / 10000).as(tag))
    }
    // r=0: a node's ball is itself — exactly one register per node
    var regs = dir.select(col("src").as("node")).distinct()
      .withColumn("h", expr("CAST(conv(substring(md5(concat('hb:', " +
        "CAST(node AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("reg", expr("h div 268435456"))
      .withColumn("mr", expr("CASE WHEN h % 268435456 = 0 THEN 29 " +
        "ELSE 29 - length(bin(h % 268435456)) END"))
      .select(col("node") +:
        (0 until 16).map(k => when(col("reg") === k, col("mr")).as(s"m$k")): _*)
      .localCheckpoint(false)
    // the balls chain stays LAZY (r17): each b_r is a node-sized estimate
    // over round r's checkpointed register frame, so the chain is 3 cheap
    // hash joins materialized ONCE by the final sort — eager per-round
    // ball checkpoints were 4 extra blocking jobs. Every register frame
    // must outlive the call (the lazy chain reads them at the end), so
    // superseded rounds are drained between queries instead of eagerly.
    // r18: the register checkpoints themselves are LAZY too — the round
    // has no convergence check to collect, so there is nothing for an
    // eager checkpoint job to piggyback on; the final sort materializes
    // the whole round chain in ONE job, with each round's blocks cached
    // at the checkpoint boundary exactly as before (plan depth per round
    // is still one join + one aggregate over a LogicalRDD leaf).
    Exec.trackTransient(regs)
    var balls = estimate(regs, "b0")
    for (r <- 1 to rounds) {
      // union-with-own before the per-node max: the ball is monotone
      val next = dir
        .join(regs.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node") +: mCols.map(col): _*)
        .unionByName(regs)
        .groupBy(col("node"))
        .agg(max(col(mCols.head)).as(mCols.head),
          mCols.tail.map(c => max(col(c)).as(c)): _*)
        .localCheckpoint(false)
      Exec.trackTransient(next)
      balls = balls.join(estimate(next, s"b$r"), Seq("node"))
      regs = next
    }
    val harmonic = (1 to rounds)
      .map(r => (col(s"b$r") - col(s"b${r - 1}")) / lit(r.toDouble))
      .reduce(_ + _)
    balls
      .withColumn("harmonic_est", floor(harmonic * 10000 + 0.5) / 10000)
      .orderBy(col("node"))
  }

  /** The in-memory HyperBall rounds behind [[hyperballHarmonic]]'s gate —
    * see the gate comment. Registers are 16 ints per node (−1 = absent,
    * matching the wide form's NULLs); per round each node takes the
    * register-wise max of itself and its neighbors; the estimate replays
    * the exact CASE expression over npres and the dyadic Σ2^−mr. */
  private def hyperballDriver(spark: SparkSession, rows: Array[Row],
      rounds: Int): DataFrame = {
    val m2 = rows.length * 2
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got eq null) { idx.put(x, ids.length); ids += x; ids.length - 1 }
      else got.intValue()
    }
    val srcs = new Array[Int](m2); val dsts = new Array[Int](m2)
    var i = 0
    while (i < rows.length) {
      val a = id(rows(i).getLong(0)); val b = id(rows(i).getLong(1))
      srcs(2 * i) = a; dsts(2 * i) = b; srcs(2 * i + 1) = b; dsts(2 * i + 1) = a
      i += 1
    }
    val nV = ids.length
    // register init: h = first 8 md5 hex chars of "hb:<node>" as a 32-bit
    // value; reg = h div 2^28, mr = 29 - bitLength(h mod 2^28) (29 when 0)
    val md = java.security.MessageDigest.getInstance("MD5")
    var regs = Array.fill(nV, 16)(-1)
    i = 0
    while (i < nV) {
      val d = md.digest(s"hb:${ids(i)}".getBytes("UTF-8"))
      md.reset()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val reg = (h >> 28).toInt
      val rest = h & 0xfffffffL
      val mr = if (rest == 0L) 29
        else 29 - (64 - java.lang.Long.numberOfLeadingZeros(rest))
      regs(i)(reg) = mr
      i += 1
    }
    def estimate(r: Array[Int]): Double = {
      var npres = 0
      var s = 0.0
      var k = 0
      while (k < 16) {
        if (r(k) >= 0) { npres += 1; s += math.pow(2.0, -r(k)) }
        k += 1
      }
      val raw =
        if (0.673 * 256 / (s + (16.0 - npres)) <= 40.0 && npres < 16)
          16.0 * math.log(16.0 / (16.0 - npres))
        else 0.673 * 256 / (s + (16.0 - npres))
      math.floor(raw * 10000 + 0.5) / 10000
    }
    val balls = Array.ofDim[Double](nV, rounds + 1)
    i = 0
    while (i < nV) { balls(i)(0) = estimate(regs(i)); i += 1 }
    var r = 1
    while (r <= rounds) {
      val next = Array.tabulate(nV)(j => regs(j).clone())
      var ei = 0
      while (ei < m2) {
        val s = srcs(ei); val drow = next(dsts(ei)); val srow = regs(s)
        var k = 0
        while (k < 16) {
          if (srow(k) > drow(k)) drow(k) = srow(k)
          k += 1
        }
        ei += 1
      }
      regs = next
      i = 0
      while (i < nV) { balls(i)(r) = estimate(regs(i)); i += 1 }
      r += 1
    }
    val outRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    (0 until nV).sortBy(ids(_)).foreach { j =>
      var harmonic = 0.0
      var rr = 1
      while (rr <= rounds) {
        harmonic += (balls(j)(rr) - balls(j)(rr - 1)) / rr.toDouble
        rr += 1
      }
      outRows.add(org.apache.spark.sql.Row.fromSeq(
        ids(j) +: (0 to rounds).map(balls(j)(_)) :+
          (math.floor(harmonic * 10000 + 0.5) / 10000)))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.LongType) +:
      (0 to rounds).map(k => org.apache.spark.sql.types.StructField(s"b$k",
        org.apache.spark.sql.types.DoubleType)) :+
      org.apache.spark.sql.types.StructField("harmonic_est",
        org.apache.spark.sql.types.DoubleType))
    spark.createDataFrame(outRows, schema).orderBy(col("node"))
  }

  def harmonicCentrality(edges: DataFrame, seedMod: Long = 500L,
                         rounds: Int = 3): DataFrame = {
    val lcm = (1 to rounds).foldLeft(1L) { (acc, k) =>
      @annotation.tailrec
      def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
      acc / gcd(acc, k) * k
    }
    seededBfs(edges, seedMod, rounds)
      .filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        // `div` = integer division; exact because lcm(1..rounds) divides
        sum(expr(s"$lcm div dist")).as("h_scaled"))
      .select(col("seed"), col("n_reached"),
        (floor(col("h_scaled").cast("double") / lcm * 1000000 + 0.5)
          / 1000000).as("harmonic"))
      .orderBy(col("seed"))
  }

  /** HITS hubs-and-authorities (Kleinberg), two full mutual-reinforcement
    * rounds over the DIRECTED order→part graph — the asymmetric-role
    * complement to PageRank (which sees only incoming endorsement): a good
    * HUB points at good authorities, a good AUTHORITY is pointed at by
    * good hubs. Each half-step is one edge join + node-keyed aggregate,
    * L1-normalized (sum, not Kleinberg's L2 — one broadcastable scalar,
    * no sqrt) and quantized to 6 dp so the next half-step's inputs are
    * bit-identical cross-engine (the recursion-quantization doctrine of
    * [[betweennessBounded]] / ts_pacf). Round 1's raw values are exact
    * integers (degrees over unit hubs), so the first quantization is
    * exact; later rounds carry only grid values. Scale shape: four narrow
    * (node)-keyed exchanges + 1-row norm broadcasts — the
    * [[pageRank]] plan with a side alternation; score frames checkpoint
    * per half-step to cut the iterative lineage.
    */
  def hitsBounded(li: DataFrame, n: Int = 2000): DataFrame = {
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    // the bipartite edge dedup (one full-shuffle distinct) is checkpointed
    val e = directedShared(li
      .select((col("l_orderkey") % n).as("u"),
        (col("l_partkey") % n + n).as("v"))
      .distinct())
    // r17b: the mod-n construction bounds the bipartite graph (≤ 2n nodes,
    // ≤ n² edges), so once the distributed distinct has run the edge list
    // is metadata — under the measured gate the four mutual-reinforcement
    // half-steps (each a join + agg + 1-row norm collect + eager
    // checkpoint ≈ 3 blocking jobs) run driver-resident with the SAME
    // arithmetic: integer round-1 raws, q6 floor-quantize after each L1
    // normalization (pinned by the HITS parity spec; oracle-verified at
    // sf0.01/sf0.1). Past the gate the distributed half-steps below run
    // unchanged.
    val collected = Exec.collectIfSmall(e.select(col("u"), col("v")), Exec.DriverLoopRows)
    if (collected.isDefined) return hitsDriver(li.sparkSession, collected.get)
    val h0 = e.select(col("u")).distinct().withColumn("h", lit(1.0))
    // r18: the half-step checkpoints are LAZY — no per-step convergence
    // collect exists to piggyback on, so the final sort materializes the
    // four half-steps in ONE job (was 4 eager checkpoint jobs of pure
    // round latency); each step's blocks still cache at the checkpoint
    // boundary, so the lineage the optimizer sees per step is unchanged.
    def authStep(h: DataFrame): DataFrame = {
      val raw = e.join(h, Seq("u")).groupBy(col("v")).agg(sum(col("h")).as("raw"))
      val s = raw.agg(sum(col("raw")).as("s"))
      Exec.trackTransient(raw.crossJoin(broadcast(s))
        .select(col("v"), q6(col("raw") / col("s")).as("a"))
        .localCheckpoint(false))
    }
    def hubStep(a: DataFrame): DataFrame = {
      val raw = e.join(a, Seq("v")).groupBy(col("u")).agg(sum(col("a")).as("raw"))
      val s = raw.agg(sum(col("raw")).as("s"))
      Exec.trackTransient(raw.crossJoin(broadcast(s))
        .select(col("u"), q6(col("raw") / col("s")).as("h"))
        .localCheckpoint(false))
    }
    val a1 = authStep(h0)
    val h1 = hubStep(a1)
    val a2 = authStep(h1)
    val h2 = hubStep(a2)
    h2.select(lit("hub").as("side"), col("u").as("node"), col("h").as("score"))
      .union(a2.select(lit("auth").as("side"), col("v").as("node"),
        col("a").as("score")))
      .orderBy(col("side"), col("node"))
  }

  /** The in-memory HITS half-steps over a collected bounded edge list —
    * see the gate comment in [[hitsBounded]]. Each half-step accumulates
    * raw scores over the edges, L1-normalizes by the sum over nodes in
    * ascending-id order (a deterministic order; the values are far from
    * the 1e-6 grid boundaries, same argument as the distributed sums),
    * and floor-quantizes to 6 dp — term-for-term the distributed
    * expressions.
    */
  private def hitsDriver(spark: SparkSession, rows: Array[Row]): DataFrame = {
    def q6(x: Double): Double = math.floor(x * 1000000 + 0.5) / 1000000
    val m = rows.length
    val us = new Array[Long](m); val vs = new Array[Long](m)
    var i = 0
    while (i < m) { us(i) = rows(i).getLong(0); vs(i) = rows(i).getLong(1); i += 1 }
    def halfStep(in: java.util.HashMap[java.lang.Long, java.lang.Double],
                 from: Array[Long], to: Array[Long]):
        java.util.HashMap[java.lang.Long, java.lang.Double] = {
      val raw = new java.util.HashMap[java.lang.Long, java.lang.Double]()
      var j = 0
      while (j < m) {
        val w = in.get(from(j))
        if (w != null) {
          val cur = raw.get(to(j))
          raw.put(to(j), if (cur == null) w.doubleValue()
            else cur.doubleValue() + w.doubleValue())
        }
        j += 1
      }
      val keys = raw.keySet().toArray(new Array[java.lang.Long](0))
        .map(_.longValue()).sorted
      var s = 0.0
      keys.foreach(k => s += raw.get(k).doubleValue())
      val out = new java.util.HashMap[java.lang.Long, java.lang.Double]()
      keys.foreach(k => out.put(k, q6(raw.get(k).doubleValue() / s)))
      out
    }
    val h0 = new java.util.HashMap[java.lang.Long, java.lang.Double]()
    us.foreach(u => h0.put(u, 1.0))
    val a1 = halfStep(h0, us, vs)
    val h1 = halfStep(a1, vs, us)
    val a2 = halfStep(h1, us, vs)
    val h2 = halfStep(a2, vs, us)
    def rowsOf(side: String,
               mp: java.util.HashMap[java.lang.Long, java.lang.Double]) =
      mp.keySet().toArray(new Array[java.lang.Long](0))
        .map(_.longValue()).sorted
        .map(k => (side, k, mp.get(k).doubleValue())).toSeq
    import spark.implicits._
    spark.createDataset(rowsOf("auth", a2) ++ rowsOf("hub", h2))
      .toDF("side", "node", "score")
      .orderBy(col("side"), col("node"))
  }

  /** Bounded-horizon betweenness centrality (Brandes over the ≤ 3-hop
    * shortest-path DAG from a deterministic seed sample — the
    * Brandes–Pich k-bounded estimator): how much shortest-path traffic
    * flows THROUGH each node, the brokerage measure closeness/harmonic
    * (flow-INTO measures) cannot see. Forward pass: per-level path counts
    * σ_k(v) = Σ_{u∈L_{k−1}, (u,v)∈E} σ_{k−1}(u) — exact integers, one
    * (seed, node)-keyed aggregate per level over the SAME frontier joins
    * [[seededBfs]] runs (levels are anti-joined against the visited union,
    * so each σ counts SHORTEST paths only). Backward pass: dependency
    * accumulation δ(v) = Σ_{w∈succ} σ(v)/σ(w) · (1 + δ(w)) with δ = 0 at
    * the horizon (the k-bounded truncation), each level's δ quantized to
    * 6 dp so the next level's inputs are bit-identical cross-engine (the
    * [[graft.ops.TimeSeriesOps.pacfMonthly]] trick; the oracle unrolls the
    * same three levels with the same left-to-right arithmetic).
    * Betweenness(v) = Σ over seeds of δ(v), v ≠ seed by construction. On
    * this undirected graph a pair inside the horizon is counted once per
    * seeded endpoint, like the closeness convention; values are
    * comparable, not the exact-all-pairs constant.
    * Scale shape: every exchange is keyed (seed, node) or (src) — the
    * seededBfs plan plus one reverse join per level; no window, no
    * collect, state linear in reached (seed, node) pairs.
    */
  def betweennessBounded(edges: DataFrame, seedMod: Long = 500L): DataFrame = {
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    val (e, dir) = undirectedShared(edges)
    // r17b: the mod-n edge construction bounds the graph, so once the
    // distributed dedup has produced the checkpointed undirected list it
    // is metadata — under the measured gate the whole 3-level forward
    // σ-count / backward δ-accumulation (≈ 5 eager checkpoints + their
    // joins, almost pure round latency at bench scale — 5.2 s standalone)
    // runs driver-resident with the SAME per-level exact-integer σ and
    // q6-floored δ arithmetic (pinned by the Brandes parity spec;
    // oracle-verified at sf0.01/sf0.1). Past the gate, the distributed
    // plan below runs unchanged.
    val collected = Exec.collectIfSmall(e.select(col("a"), col("b")), Exec.DriverLoopRows)
    if (collected.isDefined)
      return betweennessDriver(edges.sparkSession, collected.get, seedMod)
    // the forward anti-join visited sets are unions of the levels
    // (building the full seeded BFS only for its visited sets costs MORE
    // than the unions — measured 7.5 s vs 5.2 s standalone)
    val l0 = dir.select(col("src").as("node")).distinct()
      .filter(col("node") % seedMod === 0)
      .select(col("node").as("seed"), col("node"))
    // r18: the level/visited checkpoints are LAZY — the forward/backward
    // passes have no per-level collect to piggyback on, so the final
    // aggregate materializes the whole 3-level DAG in ONE job (was ~5
    // eager checkpoint jobs of round latency); each level still caches at
    // its checkpoint boundary and is reused by the anti-joins and the
    // backward pass from those cached blocks.
    def visUpTo(k: Int, levels: => DataFrame): DataFrame =
      if (k == 0) l0 else Exec.trackTransient(levels.localCheckpoint(false))
    // forward: exact shortest-path counts per level (anti-join against the
    // visited union keeps only first-reached = shortest)
    def expand(frontier: DataFrame, visited: DataFrame): DataFrame =
      Exec.trackTransient(dir
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("seed"), col("dst").as("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("seed", "node"), "left_anti")
        .localCheckpoint(false))
    val l0s = l0.withColumn("sigma", lit(1L))
    val l1 = expand(l0s, visUpTo(0, null))
    val l2 = expand(l1, visUpTo(1,
      l0.union(l1.select(col("seed"), col("node")))))
    val l3 = expand(l2, visUpTo(2,
      l0.union(l1.select(col("seed"), col("node")))
        .union(l2.select(col("seed"), col("node")))))
    // backward: δ at the horizon is 0, so δ2 has no (1+δ3) factor
    def succJoin(lv: DataFrame, lw: DataFrame): DataFrame =
      lv.select(col("seed"), col("node").as("v"), col("sigma").as("sv"))
        .join(dir.select(col("src").as("v"), col("dst").as("w")), Seq("v"))
        .join(lw.select(col("seed"), col("node").as("w"),
          col("sigma").as("sw"), col("delta").as("dw")), Seq("seed", "w"))
    val d2 = Exec.trackTransient(succJoin(l2,
        l3.withColumn("delta", lit(0.0)))
      .groupBy(col("seed"), col("v").as("node"))
      .agg(q6(sum(col("sv").cast("double") / col("sw").cast("double")
        * (lit(1.0) + col("dw")))).as("delta"))
      .localCheckpoint(false))
    // L2 nodes with no L3 successor carry δ=0 into the δ1 pass
    val l2d = l2.join(d2, Seq("seed", "node"), "left_outer")
      .select(col("seed"), col("node"), col("sigma"),
        coalesce(col("delta"), lit(0.0)).as("delta"))
    val d1 = succJoin(l1, l2d)
      .groupBy(col("seed"), col("v").as("node"))
      .agg(q6(sum(col("sv").cast("double") / col("sw").cast("double")
        * (lit(1.0) + col("dw")))).as("delta"))
    d1.select(col("seed"), col("node"), col("delta"))
      .union(d2.select(col("seed"), col("node"), col("delta")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_contribs"), q6(sum(col("delta"))).as("bc"))
      .orderBy(col("node"))
  }

  /** The in-memory 3-level Brandes–Pich estimator over a collected bounded
    * undirected edge list — see the gate comment in [[betweennessBounded]].
    * Per seed: exact-integer σ per BFS level (first-reached = shortest,
    * the anti-join contract), then backward δ with a q6 floor after each
    * level's accumulation; a (seed, node) contributes only when it has ≥ 1
    * successor at the next level (the groupBy-over-join contract — a node
    * whose neighbors all sit at ≤ its own level emits no row). Final
    * per-node bc = q6(Σ over seed contributions), seeds accumulated in
    * ascending order.
    */
  private def betweennessDriver(spark: SparkSession, rows: Array[Row],
      seedMod: Long): DataFrame = {
    def q6(x: Double): Double = math.floor(x * 1000000 + 0.5) / 1000000
    val m2 = rows.length * 2
    // dense index + CSR (the sccAssignAuto layout — primitive arrays, no
    // boxed lookups on the per-edge hot path)
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got eq null) { idx.put(x, ids.length); ids += x; ids.length - 1 }
      else got.intValue()
    }
    val srcs = new Array[Int](m2); val dsts = new Array[Int](m2)
    var i = 0
    while (i < rows.length) {
      val a = id(rows(i).getLong(0)); val b = id(rows(i).getLong(1))
      srcs(2 * i) = a; dsts(2 * i) = b
      srcs(2 * i + 1) = b; dsts(2 * i + 1) = a
      i += 1
    }
    val nV = ids.length
    val deg = new Array[Int](nV)
    srcs.foreach(s => deg(s) += 1)
    val off = new Array[Int](nV + 1)
    i = 0
    while (i < nV) { off(i + 1) = off(i) + deg(i); i += 1 }
    val fill = off.clone()
    val adj = new Array[Int](m2)
    i = 0
    while (i < m2) { adj(fill(srcs(i))) = dsts(i); fill(srcs(i)) += 1; i += 1 }
    val seeds = (0 until nV).filter(j => ids(j) % seedMod == 0)
      .sortBy(ids(_)).toArray
    val nContribs = new Array[Long](nV)
    val bcSum = new Array[Double](nV)
    val dist = new Array[Int](nV)
    val sigma = new Array[Long](nV)
    val delta2 = new Array[Double](nV)
    seeds.foreach { seed =>
      java.util.Arrays.fill(dist, -1)
      // forward: levels with exact shortest-path counts
      dist(seed) = 0; sigma(seed) = 1L
      val levels = Array.fill(4)(scala.collection.mutable.ArrayBuffer.empty[Int])
      levels(0) += seed
      var k = 1
      while (k <= 3) {
        levels(k - 1).foreach { u =>
          val su = sigma(u)
          var ei = off(u)
          while (ei < off(u + 1)) {
            val w = adj(ei)
            if (dist(w) == -1) {
              dist(w) = k; sigma(w) = su; levels(k) += w
            } else if (dist(w) == k) sigma(w) += su
            ei += 1
          }
        }
        k += 1
      }
      // backward: δ₂ over L2 (succ in L3, δ=0 there), then δ₁ over L1
      levels(2).foreach { v =>
        var acc = 0.0; var any = false
        val sv = sigma(v).toDouble
        var ei = off(v)
        while (ei < off(v + 1)) {
          val w = adj(ei)
          if (dist(w) == 3) { acc += sv / sigma(w).toDouble * 1.0; any = true }
          ei += 1
        }
        delta2(v) = if (any) q6(acc) else 0.0
        if (any) { nContribs(v) += 1L; bcSum(v) += delta2(v) }
      }
      levels(1).foreach { v =>
        var acc = 0.0; var any = false
        val sv = sigma(v).toDouble
        var ei = off(v)
        while (ei < off(v + 1)) {
          val w = adj(ei)
          if (dist(w) == 2) {
            acc += sv / sigma(w).toDouble * (1.0 + delta2(w)); any = true
          }
          ei += 1
        }
        if (any) { nContribs(v) += 1L; bcSum(v) += q6(acc) }
      }
    }
    import spark.implicits._
    spark.createDataset(
        (0 until nV).filter(nContribs(_) > 0L).sortBy(ids(_))
          .map(j => (ids(j), nContribs(j), q6(bcSum(j)))))
      .toDF("node", "n_contribs", "bc")
      .orderBy(col("node"))
  }

  def bfsLayers(edges: DataFrame, seedMod: Long = 137L, rounds: Int = 4,
                maxBroadcastFrontier: Long = 4000000L): DataFrame = {
    val (e, dir) = undirectedShared(edges)
    // r17b: bounded-metadata gate (the betweennessDriver doctrine) — the
    // per-round semi-join + distinct + anti-join + eager checkpoint cycle
    // is almost pure round latency once the edge dedup has run; under the
    // measured gate the multi-source BFS runs as one in-memory pass over
    // the collected CSR. All-integer output (counts, id sums, min/max) —
    // bit-exact (BFS-layers driver parity spec). Past the gate the
    // distributed rounds below run unchanged.
    val collected = Exec.collectIfSmall(e.select(col("a"), col("b")), Exec.DriverLoopRows)
    if (collected.isDefined)
      return bfsLayersDriver(edges.sparkSession, collected.get, seedMod, rounds)
    // r18: ONE blocking job per round — each layer rides a LAZY
    // localCheckpoint materialized by its own frontier count (which the
    // broadcast gate needs anyway), and the visited set is a cheap union
    // VIEW over the per-layer checkpoints instead of a re-materialized
    // |visited|-frame per round (the old loop paid isEmpty + a
    // persist+count broadcast gate + an eager layer checkpoint + an eager
    // visited-union checkpoint ≈ 4 blocking jobs per round). Layer frames
    // are identical to the old ones; empty tail rounds are skipped — their
    // layers were empty unions, contributing nothing to the census.
    val allNodes = Exec.trackTransient(
      dir.select(col("src").as("node")).distinct().localCheckpoint(false))
    val l0 = Exec.trackTransient(allNodes.filter(col("node") % seedMod === 0)
      .withColumn("dist", lit(0)).localCheckpoint(false))
    val layers = scala.collection.mutable.ListBuffer[DataFrame](l0)
    var frontierCount = l0.count()
    for (r <- 1 to rounds) {
      if (frontierCount > 0) {
        val frontier = layers.last.select(col("node"))
        val f =
          if (frontierCount <= maxBroadcastFrontier) broadcast(frontier)
          else frontier
        val visitedView = layers.map(_.select(col("node"))).reduce(_ union _)
        val next = Exec.trackTransient(dir
          .join(f.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .select(col("dst").as("node")).distinct()
          .join(visitedView, Seq("node"), "left_anti")
          .withColumn("dist", lit(r))
          .localCheckpoint(false))
        frontierCount = next.count()
        layers += next
      }
    }
    val visited = layers.map(_.select(col("node"), col("dist")))
      .reduce(_ union _)
    val unreached = allNodes
      .join(visited.select(col("node")), Seq("node"), "left_anti")
      .withColumn("dist", lit(-1))
    visited.union(unreached)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("dist"))
  }

  /** The in-memory multi-source BFS behind [[bfsLayers]]' gate: CSR over
    * the collected undirected edges, seeds = node % seedMod == 0 at dist 0,
    * `rounds` expansion levels, unreached nodes at dist −1; per-dist
    * integer census (count, id sum, min, max). */
  private def bfsLayersDriver(spark: SparkSession, rows: Array[Row], seedMod: Long,
                              rounds: Int): DataFrame = {
    val m2 = rows.length * 2
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got eq null) { idx.put(x, ids.length); ids += x; ids.length - 1 }
      else got.intValue()
    }
    val srcs = new Array[Int](m2); val dsts = new Array[Int](m2)
    var i = 0
    while (i < rows.length) {
      val a = id(rows(i).getLong(0)); val b = id(rows(i).getLong(1))
      srcs(2 * i) = a; dsts(2 * i) = b; srcs(2 * i + 1) = b; dsts(2 * i + 1) = a
      i += 1
    }
    val nV = ids.length
    val deg = new Array[Int](nV)
    srcs.foreach(s => deg(s) += 1)
    val off = new Array[Int](nV + 1)
    i = 0
    while (i < nV) { off(i + 1) = off(i) + deg(i); i += 1 }
    val fill = off.clone()
    val adj = new Array[Int](m2)
    i = 0
    while (i < m2) { adj(fill(srcs(i))) = dsts(i); fill(srcs(i)) += 1; i += 1 }
    val dist = new Array[Int](nV)
    java.util.Arrays.fill(dist, -1)
    var frontier = scala.collection.mutable.ArrayBuffer.empty[Int]
    var j = 0
    while (j < nV) {
      if (ids(j) % seedMod == 0) { dist(j) = 0; frontier += j }
      j += 1
    }
    var r = 1
    while (r <= rounds && frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Int]
      frontier.foreach { u =>
        var ei = off(u)
        while (ei < off(u + 1)) {
          val w = adj(ei)
          if (dist(w) == -1) { dist(w) = r; next += w }
          ei += 1
        }
      }
      frontier = next
      r += 1
    }
    // per-dist census over ALL nodes (unreached carry -1)
    val cnt = new java.util.TreeMap[Int, (Long, Long, Long, Long)]()
    j = 0
    while (j < nV) {
      val d = dist(j); val nd = ids(j)
      val cur = cnt.get(d)
      cnt.put(d,
        if (cur == null) (1L, nd, nd, nd)
        else (cur._1 + 1L, cur._2 + nd, math.min(cur._3, nd),
          math.max(cur._4, nd)))
      j += 1
    }
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    spark.createDataset(
        cnt.entrySet().asScala.map(en =>
          (en.getKey.intValue(), en.getValue._1, en.getValue._2,
            en.getValue._3, en.getValue._4)).toSeq)
      .toDF("dist", "n_nodes", "node_sum", "min_node", "max_node")
      .orderBy(col("dist"))
  }

  /** FULL core decomposition (coreness of every node, not [[kCore]]'s
    * fixed-k survivor set) by the H-INDEX FIXPOINT: initialize every node
    * at its degree, then repeatedly replace each node's value with the
    * H-index of its neighbors' values (max h such that ≥ h neighbors hold
    * ≥ h). The sequence is monotone non-increasing and its fixpoint IS the
    * coreness (Lü et al., the h-index/coreness identity) — so convergence
    * is detected by an exact integer checksum, and the fail-loud round cap
    * is a contract guard. Extra rounds past the fixpoint are no-ops, which
    * is what lets the oracle run a FIXED unroll of the same recurrence
    * (the graph_kcore early-exit-is-hash-identical argument). Per round:
    * one broadcast of the node-cardinality value frame into the edge list,
    * one per-node ranking window, one map-side-combined max — edges never
    * shuffle after the initial orientation.
    */
  /** Undirected edge list → both-direction (x, nb) pairs — stage 1 of the
    * coreness adjacency build, exposed for the plan-shape guard. */
  private[graft] def corenessDirected(edges: DataFrame): DataFrame =
    edges.select(col("a").as("x"), col("b").as("nb"))
      .union(edges.select(col("b").as("x"), col("a").as("nb")))

  /** Adjacency in NODE space — stage 2 (r17: the dense globalRank index
    * and its two rewrite joins are gone; neither fixpoint branch needs a
    * dense id, so the build is ONE groupBy over the directed pairs). */
  private[graft] def corenessAdjacency(dir: DataFrame): DataFrame =
    dir
      .groupBy(col("x"))
      .agg(collect_list(col("nb")).as("nbs"))
      // node-cardinality rows re-read by the fixpoint loop: 32 tiny
      // tasks per job is pure scheduler overhead, 8 keeps the loop fed
      .coalesce(8)

  /** The h-index of one node's neighbor values, computed on the driver in
    * O(deg) by counting (no sort): cnt[min(v, deg)]++ then walk h from deg
    * downward until the ≥h tail holds ≥h values — exactly the
    * max-over-min(rank, value) the distributed expression computes. */
  private def hIndexLocal(vals: Array[Long], get: Long => Long): Long = {
    val d = vals.length
    val cnt = new Array[Int](d + 1)
    var i = 0
    while (i < d) {
      val v = get(vals(i))
      cnt(if (v >= d) d else v.toInt) += 1
      i += 1
    }
    var h = d
    var tail = 0
    while (h > 0) {
      tail += cnt(h)
      if (tail >= h) return h.toLong
      h -= 1
    }
    0L
  }

  private[graft] def corenessValues(edges: DataFrame, maxRounds: Int = 48): DataFrame = {
    // the 3-way-union edge dedup is the expensive part: it is checkpointed
    // once ([[undirectedShared]]), and coreness' both-direction view is a
    // cheap union over it (exactly [[corenessDirected]] modulo column names)
    val (_, d) = undirectedShared(edges)
    val dir = d.select(col("src").as("x"), col("dst").as("nb"))
    // materialized once; every h-index round after reads only this
    val adj = Exec.trackTransient(corenessAdjacency(dir).localCheckpoint())
    def hindexOf(vals: String): String =
      s"""aggregate(
         |  zip_with(reverse(array_sort($vals)),
         |    sequence(1, size($vals)),
         |    (v, i) -> least(v, CAST(i AS BIGINT))),
         |  CAST(0 AS BIGINT), (acc, t) -> greatest(acc, t))""".stripMargin
    val collected =
      Exec.collectIfSmall(adj.select(col("x"), col("nbs")), Exec.DriverLoopRows)
    if (collected.isEmpty) {
      // past the metadata gate: narrow (node, value) shuffle rounds with
      // DataFrame-resident values, joined on the NODE id directly.
      //
      // r18 — DELTA iteration (guide §2: only changed nodes re-aggregate):
      // a node's h-index is a function of its NEIGHBORS' values only, so
      // after round r only nodes adjacent to a round-r change can move.
      // Each round recomputes h for that affected set alone instead of the
      // whole graph — per-round shuffled rows shrink from Σdeg(V) to
      // Σdeg(affected), which collapses geometrically on the long
      // convergence tail (~33 rounds at sf0.1, more at scale). The
      // fixpoint is unchanged: unaffected nodes keep their value, exactly
      // what a full recompute would assign them (their inputs did not
      // move), so every round's h frame is identical to the old full
      // recompute's — pinned by the forced-distributed parity spec.
      //
      // r18 — one blocking job per round (guide §1/§2: piggyback the
      // convergence check on the round aggregate): the changed-set count
      // IS the convergence detector (empty ⇔ the old Σhv checksum is
      // stationary — the h-iteration is monotone per node), and the new h
      // frame rides a LAZY localCheckpoint materialized by the next
      // round's count, so the old per-round eager-checkpoint + separate
      // checksum-collect pair collapses into one action.
      // `chg` flags the nodes whose value the last round changed: the next
      // round reads them from this checkpoint, not from the round's
      // persisted delta, whose cached plan would nest every earlier
      // round's (the driver's live heap then grew each round, and a 4 GB
      // heap ran out at round 12 of 20 at sf0.01)
      var h = adj
        .select(col("x"), size(col("nbs")).cast("long").as("hv"), lit(true).as("chg"))
        .localCheckpoint(false)
      Exec.trackTransient(h)
      // round 0: every node is "changed" (full first recompute, as before)
      var changed = h.select(col("x"))
      var converged = false
      var round = 0
      while (!converged) {
        if (round >= maxRounds)
          throw new IllegalStateException(
            s"coreness: h-index not converged after $maxRounds rounds " +
              "(raise maxRounds AND the oracle unroll together)")
        // nodes with a changed neighbor — the only candidates for movement
        val affected = adj
          .join(changed, Seq("x"), "left_semi")
          .select(explode(col("nbs")).as("x")).distinct()
        val rec = adj.join(affected, Seq("x"), "left_semi")
          .select(col("x"), explode(col("nbs")).as("j"))
          .join(h.select(col("x").as("j"), col("hv").as("nv")), Seq("j"))
          .groupBy(col("x"))
          .agg(collect_list(col("nv")).as("nvs"))
          .select(col("x"), expr(hindexOf("nvs")).as("nhv"))
        val delta = Exec.trackPersisted(rec.join(h, Seq("x"))
          .filter(col("nhv") =!= col("hv"))
          .select(col("x"), col("nhv"))
          .persist())
        val nChanged = delta.count() // the round's ONE blocking job
        // superseded h/delta frames are NOT released mid-loop: lazy
        // checkpoint finalization can lag the first consuming job (AQE),
        // and a deferred finalization recomputes through the ORIGINAL
        // lineage — every ancestor must stay alive until the query's
        // final action. The between-query drain (trackTransient /
        // trackPersisted above) owns the release; per-round state is a
        // narrow |changed|-row frame, so the retained footprint is small.
        if (nChanged == 0L) converged = true
        else {
          val nh = h.join(delta.select(col("x")), Seq("x"), "left_anti")
            .select(col("x"), col("hv"), lit(false).as("chg"))
            .union(delta.select(col("x"), col("nhv").as("hv"), lit(true).as("chg")))
            .localCheckpoint(false)
          Exec.trackTransient(nh)
          h = nh
          changed = h.filter(col("chg")).select(col("x"))
          round += 1
        }
      }
      h.select(col("x"), col("hv"))
    } else {
      // DRIVER-RESIDENT fixpoint (r17 — the kmeansLloyd bounded-metadata
      // doctrine extended to the whole loop): the adjacency here is
      // bounded by construction (≤ 3n nodes from the mod-n edge builder,
      // its neighbour arrays priced by the gate's byte budget), so the
      // gate's ONE collect brings it down and the 33-odd h-index rounds
      // run as in-memory integer counting passes — exact, and free of the
      // per-round plan-build + literal-serialize + collect cycle that made
      // the old literal-array loop pay ~0.4 s/round at sf0.1 (measured
      // 16.2 s official; the fixpoint math is identical, so the histogram
      // is bit-identical). The data-sized work — edge dedup + adjacency
      // groupBy — stays fully distributed above the gate.
      val rows = collected.get
      val n = rows.length
      val ids = new Array[Long](n)
      val idx = new java.util.HashMap[Long, Int](n * 2)
      var i = 0
      while (i < n) {
        ids(i) = rows(i).getLong(0)
        idx.put(ids(i), i)
        i += 1
      }
      val nbs = new Array[Array[Long]](n)
      i = 0
      while (i < n) {
        nbs(i) = rows(i).getSeq[Long](1).toArray
        i += 1
      }
      var hv = nbs.map(_.length.toLong)
      var converged = false
      var round = 0
      while (!converged) {
        if (round >= maxRounds)
          throw new IllegalStateException(
            s"coreness: h-index not converged after $maxRounds rounds " +
              "(raise maxRounds AND the oracle unroll together)")
        val cur = hv
        val next = new Array[Long](n)
        var j = 0
        while (j < n) {
          next(j) = hIndexLocal(nbs(j), nb => cur(idx.get(nb)))
          j += 1
        }
        if (java.util.Arrays.equals(cur, next)) converged = true
        else { hv = next; round += 1 }
      }
      val spark = edges.sparkSession
      import spark.implicits._
      spark.createDataset(ids.zip(hv).toSeq).toDF("x", "hv")
    }
  }

  /** Driver-facing coreness histogram over [[lineitemEdges]]. */
  def corenessHistogram(li: DataFrame, n: Int = 2000): DataFrame =
    corenessValues(lineitemEdges(li, n))
      .groupBy(col("hv").as("coreness"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("coreness"))

  /** Deterministic RANDOM-WALK corpus + visit census — the DeepWalk /
    * node2vec data-generation step re-expressed for an engine that cannot
    * "pick a random neighbor" (nondeterminism breaks replay, resume, AND
    * the oracle): the next hop from `cur` at step `s` in seed `g`'s walk
    * is `nbs[h(cur, s, g) mod degree]` over the SORTED neighbor array,
    * with h the repo's pre-reduced Knuth-multiply + xor-shift mix — a
    * fixed pseudo-random permutation, reproducible across engines, runs,
    * and row order, exactly like the training-shuffle audit. One walk per
    * node, `walkLen` hops. Each hop is one broadcast join of the
    * node-sized frontier against the pinned adjacency (Catalyst reuses
    * the single broadcast exchange across all hops); the census is one
    * node-grain groupBy. Walk frames never exceed node cardinality, so
    * the whole query is metadata-sized after the initial edge dedup — at
    * corpus scale you fan out `walksPerNode` seeds and the same plan
    * holds with frontier ∝ walks, not edges.
    */
  def randomWalkCensus(li: DataFrame, n: Int = 2000,
                       walkLen: Int = 8): DataFrame =
    randomWalkCensusEdges(lineitemEdges(li, n), walkLen)

  private[graft] def randomWalkCensusEdges(und: DataFrame, walkLen: Int): DataFrame = {
    val (_, d0) = undirectedShared(und)
    val dir = d0.select(col("src").as("x"), col("dst").as("nb"))
    val adj = Exec.trackTransient(
      dir.groupBy(col("x"))
        .agg(sort_array(collect_list(col("nb"))).as("nbs"))
        .coalesce(8)
        .localCheckpoint())
    // r17b: under the driver gate the walks run driver-resident — the hop
    // hash is pure 64-bit integer arithmetic (Knuth multiply + xor-shift
    // over pre-reduced ids), replicated literally over the SAME sorted
    // neighbor arrays, so every hop lands on the same neighbor and the
    // visit census is bit-identical (random-walk driver parity spec;
    // oracle at sf0.01/sf0.1). Past the gate the broadcast-join hop chain
    // below runs unchanged.
    val collected = Exec.collectIfSmall(adj.select(col("x"), col("nbs")), Exec.DriverLoopRows)
    if (collected.isDefined) return randomWalkDriver(und.sparkSession, collected.get, walkLen)
    // byte-gated, not unconditional: adjacency rows carry full
    // neighbor arrays, so a large edge frame would blow past the broadcast
    // limit — past the gate the hop joins degrade to shuffles (r14 advisor
    // item). The estimate is one narrow agg over the already-checkpointed
    // frame (a persist+count pass re-materializes the wide array rows:
    // measured +4 s at sf0.1)
    // coalesce: sum over an empty adjacency is NULL, and getLong would NPE
    val sz = adj.agg(
      coalesce(sum(size(col("nbs"))), lit(0L)).cast("long").as("entries"),
      count(lit(1)).as("nodes")).head()
    val approxBytes = sz.getLong(0) * 8L + sz.getLong(1) * 24L
    val adjCur = adj.withColumnRenamed("x", "cur")
    val bAdj = if (approxBytes <= Exec.MaxBroadcastBytes)
      broadcast(adjCur) else adjCur
    var frontier = adj.select(col("x").as("seed"), col("x").as("cur"))
    val visits = scala.collection.mutable.ListBuffer(
      frontier.select(col("cur").as("node")))
    for (step <- 1 to walkLen) {
      val m = s"((cur % 1000003) * 2654435761 + $step * 40503" +
        " + (seed % 1000003))"
      frontier = frontier.join(bAdj, Seq("cur"))
        .select(col("seed"),
          expr(s"element_at(nbs, CAST(($m ^ shiftright($m, 13))" +
            " % size(nbs) AS INT) + 1)").as("cur"))
      visits += frontier.select(col("cur").as("node"))
    }
    visits.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_visits"))
      .orderBy(col("node"))
  }

  /** The in-memory walk loop behind [[randomWalkCensusEdges]]' gate: one
    * walk per node over the collected sorted-neighbor adjacency, next hop
    * = nbs[(m ^ (m >> 13)) mod degree] with
    * m = (cur mod 1000003)·2654435761 + step·40503 + (seed mod 1000003) —
    * the exact SQL hop expression in 64-bit longs. */
  private def randomWalkDriver(spark: SparkSession, rows: Array[Row],
      walkLen: Int): DataFrame = {
    val n = rows.length
    val ids = new Array[Long](n)
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    val nbs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      ids(i) = rows(i).getLong(0)
      idx.put(ids(i), i)
      nbs(i) = rows(i).getSeq[Long](1).toArray
      i += 1
    }
    val visits = new java.util.HashMap[Long, Long]()
    def visit(node: Long): Unit = {
      val c = visits.get(node)
      visits.put(node, if (c == 0L && !visits.containsKey(node)) 1L else c + 1L)
    }
    i = 0
    while (i < n) {
      val seed = ids(i)
      var cur = seed
      visit(cur)
      var step = 1
      while (step <= walkLen) {
        val arr = nbs(idx.get(cur).intValue())
        val m = (cur % 1000003L) * 2654435761L + step.toLong * 40503L +
          (seed % 1000003L)
        cur = arr(((m ^ (m >> 13)) % arr.length).toInt)
        visit(cur)
        step += 1
      }
      i += 1
    }
    import spark.implicits._
    spark.createDataset(
        visits.keySet().toArray(new Array[java.lang.Long](0))
          .map(_.longValue()).sorted
          .map(k => (k, visits.get(k).longValue())).toSeq)
      .toDF("node", "n_visits")
      .orderBy(col("node"))
  }

  /** DIRECTED edge list with genuine cycles: `l_orderkey % n → l_partkey
    * % n` in the SAME id space (unlike [[lineitemEdges]]' disjoint ranges,
    * which are bipartite and acyclic), thinned to `l_quantity ≤ 2` rows so
    * the random digraph sits near the giant-SCC threshold at small SF —
    * rich nontrivial component structure instead of one trivial blob.
    */
  def directedCyclicEdges(li: DataFrame, n: Int): DataFrame =
    li.filter(col("l_quantity") <= 2)
      .select((col("l_orderkey") % n).as("src"), (col("l_partkey") % n).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** A DIRECTED edge frame (src, dst) checkpointed, so the full-shuffle
    * distinct upstream (e.g. [[directedCyclicEdges]]) runs once per query;
    * tracked for release at the next [[Exec.clearPinned]]. */
  private[graft] def directedShared(edges: DataFrame): DataFrame =
    Exec.trackTransient(edges.localCheckpoint())

  /** Directed TRIAD census over [[directedCyclicEdges]] — the motif
    * profile that separates hierarchy from feedback in a directed graph:
    * reciprocal pairs (a⇄b), FEED-FORWARD triangles (a→b→c with the
    * shortcut a→c — the regulatory-network motif), and 3-CYCLES
    * (a→b→c→a, counted once via the min-node rotation). The wedge join
    * keys on the middle node (narrow long pairs, Σ in·out fan-out) and
    * both closures are hash semi-lookups against the same pinned edge
    * frame — the standard relational triangle shape, no adjacency
    * collection. Ratios are floor-quantized; all counts exact.
    */
  def triadCensus(li: DataFrame, n: Int = 2000): DataFrame =
    triadCensusEdges(directedCyclicEdges(li, n))

  private[graft] def triadCensusEdges(edges0: DataFrame): DataFrame = {
    val e = directedShared(edges0)
    val edges = e.agg(count(lit(1)).as("n_edges"))
    val recip = e.as("x")
      .join(e.as("y"), col("x.src") === col("y.dst")
        && col("x.dst") === col("y.src"))
      .filter(col("x.src") < col("x.dst"))
      .agg(count(lit(1)).as("n_reciprocal"))
    val wedges = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
      .filter(col("a") =!= col("c"))
    val ffl = wedges
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"),
        "left_semi")
      .agg(count(lit(1)).as("n_ffl"))
    val cyc = wedges
      .join(e.select(col("dst").as("a"), col("src").as("c")), Seq("a", "c"),
        "left_semi")
      .filter(col("a") < col("b") && col("a") < col("c"))
      .agg(count(lit(1)).as("n_cycles"))
    edges.crossJoin(recip).crossJoin(ffl).crossJoin(cyc)
      .withColumn("ffl_per_cycle", expr(
        """CASE WHEN n_cycles = 0 THEN NULL ELSE
          |floor(CAST(n_ffl AS DOUBLE) / CAST(n_cycles AS DOUBLE)
          |  * 10000 + 0.5) / 10000 END""".stripMargin))
  }

  /** Strongly connected components by FORWARD-BACKWARD COLORING (the
    * Orzan / FW-BW multi-pivot scheme — the SCC formulation that survives
    * a distributed edge list, where Tarjan's sequential DFS cannot run):
    * repeat { (1) forward min-label propagation to fixpoint partitions the
    * remaining nodes into COLOR CLASSES, class f = nodes whose least
    * ancestor is f; (2) one backward pass WITHIN each class marks every
    * node that reaches its pivot f — by the mutual-reachability argument
    * those marked sets are EXACTLY the pivots' SCCs (f →* v by
    * ancestorship, v →* f by the mark), and every class extracts its
    * pivot's SCC simultaneously; (3) peel the marked nodes and re-color
    * the survivors }. Every pass is monotone integer label work, so the
    * fixpoint detectors are exact 1-row checksums (Σlbl strictly decreases
    * / mark count strictly increases), never a double comparison; the
    * inner/outer caps are fail-loud contract guards, not silent truncation.
    *
    * Scale shape: the label and mark frames live at NODE cardinality
    * (bounded by the mod-n construction; at production scale, the
    * condensation's node set) and ride broadcast joins, so the edge list —
    * the data-sized side — NEVER shuffles after the initial dedup: each
    * iteration is a map-side broadcast join plus a map-side-combined
    * min/distinct aggregation whose output is again node-sized. Returns
    * ((node, scc_id) assignment, outer rounds run).
    */
  private[graft] def sccAssignWithRounds(edges0: DataFrame,
      maxOuter: Int = 30, maxInner: Int = 500,
      maxBroadcastLabels: Long = 4000000L): (DataFrame, Int) = {
    // r18: every per-step checkpoint here is LAZY — each trim/forward/
    // backward step already ends in a count/checksum collect (the fixpoint
    // detector), so that action doubles as the checkpoint materialization
    // and each step costs ONE blocking job instead of two.
    var edges = edges0.localCheckpoint(false)
    Exec.trackTransient(edges)
    var remaining = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct().localCheckpoint(false)
    Exec.trackTransient(remaining)
    def gate(df: DataFrame, nRows: Long): DataFrame =
      if (nRows <= maxBroadcastLabels) broadcast(df) else df
    val parts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var outer = 0
    var remCount = remaining.count()
    while (remCount > 0) {
      if (outer >= maxOuter)
        throw new IllegalStateException(
          s"sccAssign: $remCount nodes unassigned after $maxOuter rounds")
      // (0) TRIM to fixpoint: a node lacking an in- OR out-edge in the
      // remaining subgraph cannot lie on a cycle — peel it (and its edges)
      // as a singleton SCC wholesale. Chains and trees drain here in cheap
      // layer steps instead of costing one full FW-BW round per singleton
      // color class (the path graph is FW-BW's known worst case).
      // (terminates unconditionally: every pass strictly shrinks remCount)
      var trimming = true
      while (trimming && remCount > 0) {
        val core = edges.select(col("src").as("id")).distinct()
          .join(edges.select(col("dst").as("id")).distinct(),
            Seq("id"), "left_semi")
          .localCheckpoint(false)
        Exec.trackTransient(core)
        val coreCount = core.count()
        if (coreCount == remCount) trimming = false
        else {
          val singles = remaining
            .join(gate(core, coreCount), Seq("id"), "left_anti")
            .select(col("id"), col("id").as("lbl"))
            .localCheckpoint(false)
          Exec.trackTransient(singles)
          parts += singles
          remaining = core
          edges = edges
            .join(gate(core.withColumnRenamed("id", "src"), coreCount),
              Seq("src"), "left_semi")
            .join(gate(core.withColumnRenamed("id", "dst"), coreCount),
              Seq("dst"), "left_semi")
            .localCheckpoint(false)
          Exec.trackTransient(edges)
          remCount = coreCount
        }
      }
      if (remCount == 0) {
        // everything drained in the trim — no FW-BW round needed
      } else {
      // (1) forward min-label fixpoint: lbl(v) <- min over ancestors
      var f = remaining.select(col("id"), col("id").as("lbl")).localCheckpoint(false)
      Exec.trackTransient(f)
      var checksum = f.agg(sum(col("lbl"))).collect()(0).getLong(0)
      var inner = 0
      var converged = false
      while (!converged) {
        if (inner >= maxInner)
          throw new IllegalStateException(
            s"sccAssign: forward pass not converged after $maxInner steps")
        val nf = edges.join(gate(f.withColumnRenamed("id", "src"), remCount),
            Seq("src"))
          .select(col("dst").as("id"), col("lbl"))
          .union(f)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
          .localCheckpoint(false)
        Exec.trackTransient(nf)
        val ncs = nf.agg(sum(col("lbl"))).collect()(0).getLong(0)
        // min-label is monotone non-increasing, so the exact-long checksum
        // is stationary iff no label moved
        if (ncs == checksum) converged = true
        else { f = nf; checksum = ncs; inner += 1 }
      }
      // (2) backward mark within each color class, all pivots at once
      val eLbl = edges
        .join(gate(f.select(col("id").as("src"), col("lbl").as("slbl")),
          remCount), Seq("src"))
        .join(gate(f.select(col("id").as("dst"), col("lbl").as("dlbl")),
          remCount), Seq("dst"))
        .filter(col("slbl") === col("dlbl"))
        .select(col("src"), col("dst"), col("slbl").as("lbl"))
        .localCheckpoint(false)
      Exec.trackTransient(eLbl)
      var marked = f.filter(col("id") === col("lbl")).localCheckpoint(false)
      Exec.trackTransient(marked)
      var mCount = marked.count()
      inner = 0
      converged = false
      while (!converged) {
        if (inner >= maxInner)
          throw new IllegalStateException(
            s"sccAssign: backward pass not converged after $maxInner steps")
        val nm = eLbl.join(gate(marked.select(col("id").as("dst"),
              col("lbl").as("mlbl")), mCount), Seq("dst"))
          .filter(col("lbl") === col("mlbl"))
          .select(col("src").as("id"), col("lbl"))
          .union(marked)
          .distinct()
          .localCheckpoint(false)
        Exec.trackTransient(nm)
        val nmCount = nm.count()
        if (nmCount == mCount) converged = true
        else { marked = nm; mCount = nmCount; inner += 1 }
      }
      parts += marked // (id, lbl) — lbl IS the scc id (the pivot)
      // (3) peel: marked nodes and their incident edges leave the problem
      val mGate = gate(marked.select(col("id")), mCount)
      remaining = remaining
        .join(mGate, Seq("id"), "left_anti").localCheckpoint(false)
      Exec.trackTransient(remaining)
      edges = edges
        .join(mGate.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(mGate.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .localCheckpoint(false)
      Exec.trackTransient(edges)
      remCount = remaining.count()
      outer += 1
      }
    }
    val assign =
      if (parts.isEmpty) edges.select(col("src").as("id"), col("src").as("lbl"))
      else parts.reduce(_ unionByName _)
    (assign.select(col("id").as("node"), col("lbl").as("scc_id")), outer)
  }

  /** Driver-resident SCC assignment (iterative Tarjan) for a BOUNDED
    * directed edge list — the [[corenessValues]] bounded-metadata doctrine
    * applied to the SCC census (r17): the mod-n construction caps the
    * graph at n nodes / n² edges, so once the data-sized distinct has run
    * (distributed, above this call), the edge list is metadata. One
    * collect, one in-memory Tarjan, and the (node, scc_id = least member)
    * assignment comes back as a |V|-row frame — replacing the FW-BW
    * peel's ~O(rounds × fixpoint-steps) blocking jobs (measured 3.3 s at
    * sf0.1, almost all driver-loop latency). EQUIVALENCE: FW-BW labels
    * every SCC by its pivot, and a pivot is its own minimal ancestor —
    * every member is an ancestor of every other, so the pivot IS the
    * least member; Tarjan + per-component min reproduces the assignment
    * exactly (pinned by SccDriverParitySpec in GraphOpsSpec). Past the
    * driver gate the distributed FW-BW peel runs unchanged.
    */
  private[graft] def sccAssignAuto(e: DataFrame): DataFrame =
    Exec.collectIfSmall(e.select(col("src"), col("dst")), Exec.DriverLoopRows) match {
    case None => sccAssignWithRounds(e)._1
    case Some(rows) =>
      // dense index over node ids
      val idx = new java.util.HashMap[Long, java.lang.Integer]()
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      def id(x: Long): Int = {
        val got = idx.get(x)
        if (got eq null) { idx.put(x, ids.length); ids += x; ids.length - 1 }
        else got.intValue()
      }
      val srcs = new Array[Int](rows.length)
      val dsts = new Array[Int](rows.length)
      var i = 0
      while (i < rows.length) {
        srcs(i) = id(rows(i).getLong(0)); dsts(i) = id(rows(i).getLong(1))
        i += 1
      }
      val nV = ids.length
      // CSR adjacency
      val deg = new Array[Int](nV)
      srcs.foreach(s => deg(s) += 1)
      val off = new Array[Int](nV + 1)
      i = 0
      while (i < nV) { off(i + 1) = off(i) + deg(i); i += 1 }
      val fill = off.clone()
      val adj = new Array[Int](rows.length)
      i = 0
      while (i < rows.length) { adj(fill(srcs(i))) = dsts(i); fill(srcs(i)) += 1; i += 1 }
      // iterative Tarjan
      val index = Array.fill(nV)(-1)
      val low = new Array[Int](nV)
      val onStack = new Array[Boolean](nV)
      val stack = new java.util.ArrayDeque[Int]()
      val comp = Array.fill(nV)(-1)
      var counter = 0
      var nComp = 0
      val callV = new java.util.ArrayDeque[Int]()
      val callE = new java.util.ArrayDeque[Int]()
      var v0 = 0
      while (v0 < nV) {
        if (index(v0) == -1) {
          callV.push(v0); callE.push(off(v0))
          index(v0) = counter; low(v0) = counter; counter += 1
          stack.push(v0); onStack(v0) = true
          while (!callV.isEmpty) {
            val v = callV.peek()
            var ei = callE.pop()
            var descended = false
            while (!descended && ei < off(v + 1)) {
              val w = adj(ei)
              if (index(w) == -1) {
                callE.push(ei + 1)
                callV.push(w); callE.push(off(w))
                index(w) = counter; low(w) = counter; counter += 1
                stack.push(w); onStack(w) = true
                descended = true
              } else {
                if (onStack(w) && low(v) > index(w)) low(v) = index(w)
                ei += 1
              }
            }
            if (!descended) {
              callV.pop()
              if (low(v) == index(v)) {
                var w = -1
                while (w != v) {
                  w = stack.pop(); onStack(w) = false; comp(w) = nComp
                }
                nComp += 1
              }
              if (!callV.isEmpty) {
                val p = callV.peek()
                if (low(p) > low(v)) low(p) = low(v)
              }
            }
          }
        }
        v0 += 1
      }
      // scc_id = least member id per component
      val minId = Array.fill(nComp)(Long.MaxValue)
      i = 0
      while (i < nV) {
        if (ids(i) < minId(comp(i))) minId(comp(i)) = ids(i)
        i += 1
      }
      val spark = e.sparkSession
      import spark.implicits._
      spark.createDataset(
        (0 until nV).map(j => (ids(j), minId(comp(j))))
      ).toDF("node", "scc_id")
    }

  /** Driver-facing SCC census over [[directedCyclicEdges]]: one row per
    * component (scc_id = least member), ordered by id. */
  def sccSummary(li: DataFrame, n: Int = 2000): DataFrame = {
    val assign = sccAssignAuto(directedShared(directedCyclicEdges(li, n)))
    assign.groupBy(col("scc_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("scc_id"))
  }
}
