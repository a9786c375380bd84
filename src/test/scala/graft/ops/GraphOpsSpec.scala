package graft.ops

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {

  import spark.implicits._

  private def edges(pairs: (Long, Long)*) =
    pairs.toDF("a", "b")

  test("triangleCount: K4 has 4 triangles, a path has none") {
    // K4: every pair of {0,1,2,3} — C(4,3) = 4 triangles
    val k4 = edges((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val r = GraphOps.triangleCount(k4).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 6L, 4L)))

    val path = edges((0L, 1L), (1L, 2L), (2L, 3L))
    assert(GraphOps.triangleCount(path).collect()(0).getLong(2) == 0L)
  }

  test("triangleCount: two triangles sharing an edge") {
    // {0,1,2} and {1,2,3} share edge (1,2)
    val g = edges((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))
    assert(GraphOps.triangleCount(g).collect()(0).getLong(2) == 2L)
  }

  test("topTriangleNodes credits every corner of every triangle") {
    // bowtie: triangles {0,1,2} and {2,3,4} meet at node 2
    val g = edges((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (2L, 4L), (3L, 4L))
    val rows = GraphOps.topTriangleNodes(g, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows(2L) == 2L) // the shared node sits in both triangles
    assert(Seq(0L, 1L, 3L, 4L).forall(rows(_) == 1L))
  }

  test("lineitemEdges is undirected-deduplicated and loop-free") {
    val li = Seq((7L, 7L, 7L), (7L, 7L, 7L), (1L, 2L, 3L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
    val e = GraphOps.lineitemEdges(li, 60).collect().map(r => (r.getLong(0), r.getLong(1)))
    // all edges ordered a < b, no duplicates, no self-loops
    assert(e.forall { case (a, b) => a < b })
    assert(e.distinct.length == e.length)
    // row (7,7,7) maps to nodes 7, 67, 127 → 3 edges; row (1,2,3) → 3 more
    assert(e.length == 6)
  }

  test("pageRank: star center accumulates rank, leaves stay symmetric, mass conserves") {
    // star K1,4: hand-computed 3-round power iteration (d = 0.85, N = 5):
    //   r1: center .03+.85*4*.2 = .71,    leaf .03+.85*(.2/4)     = .0725
    //   r2: center .03+.85*4*.0725,       leaf .03+.85*(.71/4)
    //   r3: center .6449750,              leaf .08875625
    // scaled by N: center 3.224875, leaf 0.44378125 (→ .443781 at 1e-6 floor)
    val star = edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val rows = GraphOps.pageRank(star, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.size == 5)
    assert(rows(0L) == 3.224875, s"center got ${rows(0L)}")
    Seq(1L, 2L, 3L, 4L).foreach(l =>
      assert(rows(l) == 0.443781, s"leaf $l got ${rows(l)}"))
    // damped mass conserves: scaled ranks average to 1 (quantization slack)
    assert(math.abs(rows.values.sum / 5 - 1.0) < 1e-5)
  }

  test("kCore: a pendant chain peels round by round, the clique core survives") {
    // triangle {1,2,3} + chain 3-4-5: node 5 (deg 1) peels in round 1,
    // node 4 only becomes sub-k AFTER 5 is gone — the cascade — leaving
    // the triangle, where every node has degree exactly 2
    val g = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val hist = GraphOps.kCore(g, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(2L -> 3L), s"got $hist")
    // k above the degeneracy empties the graph: no rows, not a crash
    assert(GraphOps.kCore(g, k = 4).collect().isEmpty)
  }

  test("kCore early-exits at the fixpoint: rounds run < budget on a fast-converging graph") {
    // triangle + one pendant: round 1 drops node 4, the next iteration sees
    // the survivor count unchanged and stops — 1 executed round against a
    // budget of 5
    val g = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val (hist, roundsRun) = GraphOps.kCoreWithRounds(g, k = 2, rounds = 5)
    assert(hist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(2L -> 3L))
    assert(roundsRun == 1, s"expected early exit after 1 round, ran $roundsRun")
  }

  test("kCore convergeToFixpoint peels a chain needing more rounds than the default budget") {
    // triangle {1,2,3} + pendant chain 3-4-5-6-7-8-9-10: each round removes
    // exactly one chain tail, so reaching the true 2-core takes 7 peel
    // rounds — past the default 5-round budget
    val g = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 10L))
    // the bounded default stops early with chain remnants still attached
    val bounded = GraphOps.kCore(g, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded != Map(2L -> 3L), s"budgeted peel unexpectedly converged: $bounded")
    // the convergence loop reaches the true k-core (and reports its depth)
    val (hist, roundsRun) =
      GraphOps.kCoreWithRounds(g, k = 2, convergeToFixpoint = true)
    assert(hist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(2L -> 3L))
    assert(roundsRun == 7, s"expected 7 peel rounds, ran $roundsRun")
  }

  test("orderPartEdges: disjoint parity id spaces, distinct pairs") {
    val li = Seq((1L, 10L), (1L, 10L), (1L, 1010L), (2L, 7L))
      .toDF("l_orderkey", "l_partkey")
    val e = GraphOps.orderPartEdges(li, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    // order nodes even, bucket nodes odd; 1010 % 1000 = 10 collapses with
    // the duplicate line into ONE (2, 21) edge
    assert(e.toSeq == Seq((2L, 21L), (4L, 15L)), s"got ${e.toSeq}")
  }

  test("degree assortativity: star graph is exactly -1; regular ring yields null, not a crash") {
    // K(1,10): every directed edge pairs degree 10 with degree 1 —
    // perfectly disassortative, r = -1 exactly
    val star = (1L to 10L).map(i => (0L, i)).toDF("a", "b")
    val r = GraphOps.degreeAssortativity(star).collect()(0)
    assert(r.getLong(0) == 20L, s"directed edges: $r")
    assert(r.getDouble(1) == -1.0, s"star assortativity: $r")
    // 6-ring: constant degree 2 -> Pearson undefined -> null on both
    // engines (zero-variance corr), never NaN or an exception
    val ring = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("a", "b")
    val r2 = GraphOps.degreeAssortativity(ring).collect()(0)
    assert(r2.isNullAt(1), s"ring must yield null assortativity: $r2")
    assert(r2.getDouble(2) == 2.0, s"ring avg degree: $r2")
  }

  test("BFS layers: chain fixture labels every hop and censuses the beyond-horizon tail") {
    // path 0-1-…-9 plus the disconnected pair 20-21; seeds node%20==0 → {0, 20}:
    // layers walk the chain one hop per round, 5..9 stay beyond the
    // 4-round horizon (dist = -1), 21 is reached from the second seed
    val edges = ((0L to 8L).map(i => (i, i + 1)) :+ (20L, 21L)).toDF("a", "b")
    val got = GraphOps.bfsLayers(edges, seedMod = 20L, rounds = 4).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(0) == ((2L, 20L, 0L, 20L)), s"layer 0: ${got.get(0)}")
    assert(got(1) == ((2L, 22L, 1L, 21L)), s"layer 1: ${got.get(1)}")
    assert(got(2) == ((1L, 2L, 2L, 2L)))
    assert(got(3) == ((1L, 3L, 3L, 3L)))
    assert(got(4) == ((1L, 4L, 4L, 4L)))
    assert(got(-1) == ((5L, 35L, 5L, 9L)), s"unreached: ${got.get(-1)}")
    assert(got.size == 6)
  }

  test("LPA labels two cliques joined by one bridge as two communities") {
    // K4 {0..3} + K4 {10..13} + bridge (3,10): mode-of-neighbors keeps
    // each clique on its own min label; the census shows both cores
    val twoCliques = edges(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (3L, 10L))
    val census = GraphOps.labelPropagation(twoCliques, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(census == Map(0L -> 4L, 10L -> 4L), s"census: $census")
  }

  test("modularity: planted two-clique partition scores strongly positive, and contributions sum to the total") {
    val twoCliques = edges(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (3L, 10L))
    val rows = GraphOps.modularity(twoCliques, rounds = 2).collect()
    assert(rows.length == 2)
    val qTotal = rows.head.getDouble(5)
    // m=13, per clique: e_c=6, d_c=13 → Q = 2·(6/13 − (13/26)²) ≈ 0.423
    assert(math.abs(qTotal - 0.42307692) < 1e-6, s"qTotal: $qTotal")
    // exact-integer path: contributions sum to the total within quantization
    val sumContrib = rows.map(_.getDouble(4)).sum
    assert(math.abs(sumContrib - qTotal) < 2e-8, s"sum: $sumContrib vs $qTotal")
    // intra/degree columns are the textbook counts
    rows.foreach { r =>
      assert(r.getLong(2) == 6L && r.getLong(3) == 13L, s"row: $r")
    }
  }

  test("closeness: path-center seed scores 0.75, path-end 0.5, all distances exact") {
    // path 0-1-2-3, seeds {0, 2}: from 0 dists are 1+2+3=6 → 3/6 = 0.5;
    // from 2 dists are 1+1+2=4 → 3/4 = 0.75 (the center IS closer)
    val path = edges((0L, 1L), (1L, 2L), (2L, 3L))
    val got = GraphOps.closenessCentrality(path, seedMod = 2L, rounds = 3)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toMap
    assert(got == Map(
      0L -> ((4L, 6L, 3, 0.5)),
      2L -> ((4L, 4L, 2, 0.75))), got.toString)
  }

  test("jaccard link prediction: square graph predicts exactly its two diagonals at score 1.0") {
    // 4-cycle 0-1-2-3-0: the only common-neighbor non-edges are the
    // diagonals (0,2) and (1,3), each with common=2, deg=2/2 → 2/(2+2-2)=1
    val square = edges((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L))
    val got = GraphOps.jaccardLinkPrediction(square).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(got.toSet == Set((0L, 2L, 2L, 1.0), (1L, 3L, 2L, 1.0)), got.mkString(" "))
  }

  test("jaccard link prediction: path wedge scores 1/(dx+dy-common) and existing edges are excluded") {
    // path 0-1-2-3: non-edge wedges (0,2) via 1 and (1,3) via 2;
    // (0,2): deg 1 and 2 → 1/2; (1,3): deg 2 and 1 → 1/2. Edge (1,2)
    // shares neighbors with nothing; adjacent pairs never appear.
    val path = edges((0L, 1L), (1L, 2L), (2L, 3L))
    val got = GraphOps.jaccardLinkPrediction(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(got.toSet == Set((0L, 2L, 0.5), (1L, 3L, 0.5)), got.mkString(" "))
  }

  test("adamic-adar: rare centers outweigh hubs, terms are quantized longs, edges excluded") {
    // hub 0 joins {1,2}; rare center 9 ALSO joins {1,2}; hub 0 additionally
    // touches 3..6 (deg 6). (1,2) gets both centers: term(deg6)+term(deg2);
    // (3,4) etc. get only the hub term. The rare pair must outrank any
    // hub-only pair even though both have common >= 1.
    val g = edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L), (0L, 6L),
      (9L, 1L), (9L, 2L))
    def term(d: Int): Long = math.floor(1e6 / math.log(d) + 0.5).toLong
    val got = GraphOps.adamicAdarLinks(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // (1,2): centers 0 (deg 6) and 9 (deg 2) — exact quantized sum
    assert(got((1L, 2L)) ==
      ((2L, (term(6) + term(2)).toDouble / 1e6)), got.mkString(" "))
    // a hub-only pair: one term(6) contribution
    assert(got((3L, 4L)) == ((1L, term(6).toDouble / 1e6)))
    // the rare-center pair outranks every hub-only pair
    assert(got((1L, 2L))._2 > got((3L, 4L))._2)
    // existing edges never appear as predictions
    assert(!got.contains((0L, 1L)) && !got.contains((1L, 9L)))
  }

  test("k-truss: pendant triangles die, the clique survives, cascades cross rounds, fixpoint early-exits") {
    // K5 on 0..4 plus a pendant triangle (0,1,9): pendant edges (0,9),(1,9)
    // have support 1 < k-2=2 → die round 1; K5 edges each have support >= 3
    // (the pendant only ADDS to (0,1)) → the 4-truss is exactly K5
    val k5pend = edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L),
      (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (0L, 9L), (1L, 9L))
    val (hist, rounds) = GraphOps.kTrussWithRounds(k5pend, k = 4)
    val got = hist.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 10L)), s"got $got") // K5: every edge in 3 triangles
    assert(rounds <= 2, s"K5 must settle fast, took $rounds")
    // CASCADE: two triangles sharing edge (1,2) — (1,2) has support 2 and
    // survives round 1 alone, then has support 0 → the truss is EMPTY, a
    // result only a multi-round peel finds (single-pass filters keep (1,2))
    val bowtie = edges((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    val (h2, r2) = GraphOps.kTrussWithRounds(bowtie, k = 4)
    assert(h2.collect().isEmpty, "cascade must annihilate the bowtie")
    assert(r2 >= 2, s"annihilation needs >= 2 rounds, took $r2")
    // fixpoint early-exit: a pure clique converges after one real round
    val k4c = edges((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val (h3, r3) = GraphOps.kTrussWithRounds(k4c, k = 4, rounds = 5)
    assert(h3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((2L, 6L)))
    assert(r3 == 1, s"early exit should stop after 1 round, ran $r3")
  }

  test("modularity: all-in-one-community partition of a clique scores ~0") {
    // single K4: LPA converges to one label; Q = e/m − (2m/2m)² = 1 − 1 = 0
    val k4 = edges((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val rows = GraphOps.modularity(k4, rounds = 2).collect()
    assert(rows.length == 1)
    assert(rows.head.getDouble(5) == 0.0, s"q_total: ${rows.head.getDouble(5)}")
  }

  test("harmonic centrality: hand-computed sum of reciprocal distances on a path") {
    // path 0-1-2-3-4 with seedMod pinning seed 0 only: within 3 BFS rounds
    // node 0 reaches d=1,2,3 → harmonic = 1 + 1/2 + 1/3 = 11/6; node 4
    // stays outside the horizon — the bounded-radius contract
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.harmonicCentrality(path, seedMod = 1000L, rounds = 3)
      .collect()
    assert(got.length == 1 && got.head.getAs[Long]("seed") == 0L)
    assert(got.head.getAs[Long]("n_reached") == 3L)
    assert(got.head.getAs[Double]("harmonic") ==
      math.floor(11.0 / 6.0 * 1000000 + 0.5) / 1000000, s"got: ${got.head}")
  }

  test("hyperball: per-round estimates equal an HLL recompute over the " +
    "EXACT r-balls, and harmonic telescopes from the quantized values") {
    // path 1-2-3-4-5 plus a disjoint triangle 10-11-12: balls of several
    // sizes, a component boundary, and nodes whose 3-ball saturates early
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val got = GraphOps.hyperballHarmonic(edgeSeq.toDF("a", "b"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    // exact balls by brute-force BFS
    val nbrs = edgeSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, r: Int): Set[Long] =
      (0 until r).foldLeft(Set(v))((s, _) => s ++ s.flatMap(nbrs(_)))
    // replicate the register + estimator math bit-for-bit
    def hash32(node: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"hb:$node".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    def estimate(members: Set[Long]): Double = {
      val regs = members.toSeq.map { v =>
        val h = hash32(v)
        val w = h % 268435456L
        (h / 268435456L,
          if (w == 0) 29 else 29 - java.lang.Long.toBinaryString(w).length)
      }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val npres = regs.size
      val s = regs.values.map(m => math.pow(2.0, -m)).sum
      val raw = 0.673 * 256.0 / (s + (16.0 - npres))
      val e = if (raw <= 40.0 && npres < 16)
        16.0 * math.log(16.0 / (16.0 - npres)) else raw
      math.floor(e * 10000 + 0.5) / 10000
    }
    val allNodes = nbrs.keySet
    assert(got.keySet == allNodes, s"nodes: ${got.keySet}")
    allNodes.foreach { v =>
      val want = (0 to 3).map(r => estimate(ball(v, r)))
      val harmonic = math.floor(((want(1) - want(0)) / 1.0 +
        (want(2) - want(1)) / 2.0 + (want(3) - want(2)) / 3.0)
        * 10000 + 0.5) / 10000
      assert(got(v) == ((want(0), want(1), want(2), want(3), harmonic)),
        s"node $v: got ${got(v)}, want $want + $harmonic")
    }
    // and the estimates rank structure sensibly even at m=16: the path
    // CENTER's 2-ball (5 nodes) is estimated no smaller than an END's
    // (3 nodes) since the register sets nest here by construction of BFS
    assert(got(3L)._3 >= got(1L)._3)
  }

  test("betweenness: hand-computed path graph, one count per seeded endpoint") {
    import spark.implicits._
    // path 0-1-2-3, every node a seed (mod 1). Brandes by hand:
    //   seed 0: delta1(1)=2, delta2(2)=1; seed 3 mirrors (delta1(2)=2,
    //   delta2(1)=1); seeds 1 and 2 each give the middle neighbor 1.
    //   bc(1)=2+1+1=4, bc(2)=1+1+2=4 — 2x the classic all-pairs value
    //   because both endpoints of each pair are seeds (documented
    //   convention). Endpoints 0 and 3 broker nothing -> absent.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = GraphOps.betweennessBounded(edges, seedMod = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 3L, 4.0), (2L, 3L, 4.0)), got.mkString(" "))
  }

  test("hits: exact two-round mirror on a 3-edge graph; shared-auth hub dominates") {
    import spark.implicits._
    // hubs {1,2}, auths {2001, 2002}; 1->both, 2->2002 only. Every group
    // sums <=2 doubles (binary FP addition is commutative), so a plain
    // Scala replay of the recursion is EXACT, not approximate.
    val li = Seq((1L, 1L), (1L, 2L), (2L, 2L))
      .toDF("l_orderkey", "l_partkey")
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val a1 = Map(2001L -> q6(1.0 / 3.0), 2002L -> q6(2.0 / 3.0))
    val h1r = Map(1L -> (a1(2001L) + a1(2002L)), 2L -> a1(2002L))
    val sh1 = h1r(1L) + h1r(2L)
    val h1 = h1r.map { case (k, v) => k -> q6(v / sh1) }
    val a2r = Map(2001L -> h1(1L), 2002L -> (h1(1L) + h1(2L)))
    val sa2 = a2r(2001L) + a2r(2002L)
    val a2 = a2r.map { case (k, v) => k -> q6(v / sa2) }
    val h2r = Map(1L -> (a2(2001L) + a2(2002L)), 2L -> a2(2002L))
    val sh2 = h2r(1L) + h2r(2L)
    val h2 = h2r.map { case (k, v) => k -> q6(v / sh2) }
    val got = GraphOps.hitsBounded(li).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == Map(
      ("hub", 1L) -> h2(1L), ("hub", 2L) -> h2(2L),
      ("auth", 2001L) -> a2(2001L), ("auth", 2002L) -> a2(2002L)), got)
    assert(got(("hub", 1L)) > got(("hub", 2L)), "two-auth hub must dominate")
    assert(got(("auth", 2002L)) > got(("auth", 2001L)),
      "two-hub authority must dominate")
  }

  test("betweenness: star center brokers every spoke pair") {
    import spark.implicits._
    // star: center 0, spokes 1..4; seeds = all. From each spoke seed the
    // center's delta1 = sigma-weighted (1 + delta2) over 3 far spokes = 3;
    // wait — far spokes are L2 with no L3, so delta2=0 and the center gets
    // sv/sw*(1+0) summed 3 times = 3. From the center seed nothing brokers.
    // bc(0) = 4 seeds x 3 = 12; spokes never intermediate -> absent.
    val edges = (1L to 4L).map(s => (0L, s)).toDF("a", "b")
    val got = GraphOps.betweennessBounded(edges, seedMod = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0L, 4L, 12.0)), got.mkString(" "))
  }

  test("triad census: planted FFL, 3-cycle, and reciprocal pair are " +
    "each counted exactly once") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // feed-forward triangle
      (4L, 5L), (5L, 6L), (6L, 4L), // 3-cycle
      (7L, 8L), (8L, 7L))           // reciprocal pair
      .toDF("src", "dst")
    val r = GraphOps.triadCensusEdges(edges).collect()(0)
    assert(r.getLong(0) == 8)  // n_edges
    assert(r.getLong(1) == 1)  // n_reciprocal
    assert(r.getLong(2) == 1)  // n_ffl
    assert(r.getLong(3) == 1)  // n_cycles (min-rotation canonical)
    assert(r.getDouble(4) == 1.0)
  }

  test("random walks: engine census equals an independent per-walk " +
    "replay of the hash rule") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4-1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val got = GraphOps.randomWalkCensusEdges(edges, walkLen = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent sequential replay (no DataFrames)
    val adj = Map(1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L, 3L),
      3L -> Seq(1L, 2L), 4L -> Seq(1L))
    val counts = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for (seed <- adj.keys) {
      var cur = seed
      counts(cur) += 1
      for (step <- 1 to 8) {
        val m = (cur % 1000003L) * 2654435761L + step * 40503L +
          (seed % 1000003L)
        val nbs = adj(cur)
        cur = nbs(((m ^ (m >> 13)) % nbs.size).toInt)
        counts(cur) += 1
      }
    }
    assert(got == counts.toMap, s"got $got want $counts")
    // every walk has length 9 -> total visits = 4 * 9
    assert(got.values.sum == 36L)
  }

  test("coreness: K4 plus a pendant chain decomposes to {3,3,3,3,1,1}; " +
    "a ring is uniformly 2-core") {
    import spark.implicits._
    val k4 = for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)
    val edges = (k4 ++ Seq((3L, 4L), (4L, 5L))).toDF("a", "b")
    val got = GraphOps.corenessValues(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 1L, 5L -> 1L), got.toString)
    val ring = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("a", "b")
    val ringCore = GraphOps.corenessValues(ring).collect()
      .map(r => r.getLong(1)).distinct.toSeq
    assert(ringCore == Seq(2L), s"ring coreness $ringCore")
  }

  test("coreness: distributed delta rounds match the driver fixpoint " +
    "exactly (r18 frontier iteration)") {
    import spark.implicits._
    // K4 core + pendant chain + a ring grafted on so the fixpoint takes
    // several rounds and late rounds have a SMALL changed set (the delta
    // path's interesting regime), plus an isolated dyad
    val k4 = for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)
    val chain = Seq((3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L))
    val ring = (10L until 16L).map(i => (i, if (i == 15L) 10L else i + 1))
    val dyad = Seq((20L, 21L))
    val edges = (k4 ++ chain ++ ring ++ dyad).toDF("a", "b")
    val fast = GraphOps.corenessValues(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ops.Exec.releaseAll(spark)
    val slow = Exec.distributedOnly(GraphOps.corenessValues(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    graft.ops.Exec.releaseAll(spark)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("kCore + coreness: distributed delta rounds cost ONE blocking job " +
    "per round (r18 — the convergence check rides the round aggregate)") {
    import spark.implicits._
    // job census via listener: the loop itself must submit ~1 job/round
    // (plus broadcast builds); the old shape paid an eager checkpoint AND
    // a separate gate/checksum job every round. Ceilings are generous
    // (AQE stage materializations count as jobs) but far below the old
    // shape's census, so a regression to two actions/round trips them.
    val k4 = for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)
    val chain = Seq((3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L))
    // NOT checkpointed: the mid-test releaseAll sweep unpersists every
    // persistent RDD, which would kill a checkpointed fixture
    val edges = (k4 ++ chain).toDF("a", "b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async — wait until the census stops moving
    def settled(): Int = {
      var prev = -1
      var cur = jobs.get()
      var spins = 0
      while (cur != prev && spins < 30) {
        prev = cur; Thread.sleep(100); cur = jobs.get(); spins += 1
      }
      cur
    }
    try {
      jobs.set(0)
      val rounds = Exec.distributedOnly {
        val (hist, rounds) = GraphOps.kCoreWithRounds(edges, k = 2,
          convergeToFixpoint = true)
        hist.collect()
        rounds
      }
      val kcoreJobs = settled()
      // rounds+1 loop aggregates + per-round broadcast builds + gate job
      // + final collect + AQE stage jobs; old shape measured ~3-4x this
      assert(kcoreJobs <= 6 * (rounds + 2),
        s"kCore submitted $kcoreJobs jobs for $rounds rounds")
      graft.ops.Exec.releaseAll(spark)
      jobs.set(0)
      Exec.distributedOnly(GraphOps.corenessValues(edges).collect())
      val corenessJobs = settled()
      assert(corenessJobs <= 60,
        s"coreness submitted $corenessJobs jobs")
      graft.ops.Exec.releaseAll(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("scc: two planted cycles, a bridge, and singletons resolve exactly") {
    import spark.implicits._
    // 0 -> {1,2,3} cycle -> 4 -> {5,6} cycle; SCCs {0} {1,2,3} {4} {5,6}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L), (0L, 1L)).toDF("src", "dst")
    val (assign, _) = GraphOps.sccAssignWithRounds(edges)
    val byNode = assign.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byNode == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 5L, 6L -> 5L), byNode.toString)
  }

  test("scc: a color class holding TWO components forces a second peel " +
    "round and still resolves both") {
    import spark.implicits._
    // class of pivot 0 contains SCC {0,1} AND SCC {2,3} (min ancestor of
    // 2,3 is 0, but they never reach 0) -> round 1 extracts {0,1},
    // round 2 re-colors the survivors and extracts {2,3}
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val (assign, rounds) = GraphOps.sccAssignWithRounds(edges)
    val byNode = assign.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byNode == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L),
      byNode.toString)
    assert(rounds == 2, s"expected a 2-round peel, ran $rounds")
  }

  test("scc: driver-resident Tarjan path matches the distributed FW-BW " +
    "assignment exactly (r17 bounded-metadata fast path)") {
    import spark.implicits._
    // cycles, a bridge, a singleton source, and a two-SCC color class —
    // every shape the FW-BW specs above exercise, in one fixture
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 5L), (0L, 1L), (0L, 7L), (7L, 8L), (8L, 7L))
      .toDF("src", "dst")
    val fast = GraphOps.sccAssignAuto(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (slowDf, _) = GraphOps.sccAssignWithRounds(edges)
    val slow = slowDf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow, s"fast=$fast slow=$slow")
    // past the gate the distributed peel must be the one that runs
    val gated = Exec.distributedOnly(GraphOps.sccAssignAuto(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(gated == slow, s"gated=$gated slow=$slow")
  }

  test("kCore: driver-resident peel matches the distributed rounds exactly, " +
    "including roundsRun (r17b bounded-metadata fast path)") {
    import spark.implicits._
    // clique core + pendant chain: cascading peel over several rounds
    val clique = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val chain = Seq((3L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val g = (clique ++ chain).toDF("a", "b")
    val (fastDf, fastRounds) = GraphOps.kCoreWithRounds(g, k = 2,
      convergeToFixpoint = true)
    val fast = fastDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (slow, slowRounds) = Exec.distributedOnly {
      val (slowDf, slowRounds) = GraphOps.kCoreWithRounds(g, k = 2,
        convergeToFixpoint = true)
      (slowDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq, slowRounds)
    }
    assert(fast == slow, s"fast=$fast slow=$slow")
    assert(fastRounds == slowRounds, s"rounds: $fastRounds vs $slowRounds")
    // bounded-budget variant must agree too (early-exit parity)
    val (fb, fbr) = GraphOps.kCoreWithRounds(g, k = 2, rounds = 2)
    val (sb, sbr) = Exec.distributedOnly {
      val (sb, sbr) = GraphOps.kCoreWithRounds(g, k = 2, rounds = 2)
      (sb.collect().toSeq.map(_.toSeq), sbr)
    }
    assert(fb.collect().toSeq.map(_.toSeq) == sb)
    assert(fbr == sbr)
  }

  test("bfsLayers: driver-resident BFS matches the distributed rounds " +
    "exactly, including unreached dist=-1 (r17b fast path)") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (20L, 21L), (21L, 22L), (40L, 41L), (7L, 8L))
      .toDF("a", "b")
    val fast = GraphOps.bfsLayers(edges, seedMod = 20L, rounds = 2)
      .collect().map(_.toSeq).toSeq
    graft.ops.Exec.releaseAll(spark)
    val slow = Exec.distributedOnly(GraphOps.bfsLayers(edges, seedMod = 20L, rounds = 2)
      .collect().map(_.toSeq).toSeq)
    graft.ops.Exec.releaseAll(spark)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("ktruss: driver-resident peel matches the distributed rounds " +
    "exactly, including roundsRun (r17b fast path)") {
    import spark.implicits._
    // K5 clique (indestructible for k=4) + a triangle fringe that dies
    // round by round + a triangle-free tail (no histogram row)
    val clique = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val fringe = Seq((4L, 10L), (4L, 11L), (10L, 11L), (11L, 12L),
      (12L, 13L), (20L, 21L))
    val g = (clique ++ fringe).toDF("a", "b")
    val (fd, fr) = GraphOps.kTrussWithRounds(g, k = 4, rounds = 3)
    val fast = fd.collect().map(_.toSeq).toSeq
    graft.ops.Exec.releaseAll(spark)
    val (slow, sr) = Exec.distributedOnly {
      val (sd, sr) = GraphOps.kTrussWithRounds(g, k = 4, rounds = 3)
      (sd.collect().map(_.toSeq).toSeq, sr)
    }
    graft.ops.Exec.releaseAll(spark)
    assert(fast == slow, s"fast=$fast slow=$slow")
    assert(fr == sr, s"rounds: $fr vs $sr")
  }

  test("hyperball: driver-resident register rounds match the distributed " +
    "wide-register plan exactly (r17b fast path)") {
    import spark.implicits._
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (2L, 7L), (7L, 8L), (10L, 11L), (5L, 1L), (6L, 2L))
      .toDF("a", "b")
    val fast = GraphOps.hyperballHarmonic(und).collect()
      .map(_.toSeq).toSeq
    graft.ops.Exec.releaseAll(spark)
    val slow = Exec.distributedOnly(GraphOps.hyperballHarmonic(und)
      .collect().map(_.toSeq).toSeq)
    graft.ops.Exec.releaseAll(spark)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("pagerank + ppr: driver-resident power iterations match the " +
    "distributed rounds exactly (r17b fast path)") {
    import spark.implicits._
    // a sink-heavy graph so plain PR's rank-vector drop-out is exercised,
    // with seeds at % 3 for the PPR teleport
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
      (5L, 0L), (6L, 3L), (6L, 9L), (9L, 12L))
      .toDF("a", "b")
    def run(f: => org.apache.spark.sql.DataFrame): Seq[(Long, Double)] = {
      val r = f.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      graft.ops.Exec.releaseAll(spark); r
    }
    val prFast = run(GraphOps.pageRank(edges, topK = 20))
    val prSlow = Exec.distributedOnly(run(GraphOps.pageRank(edges, topK = 20)))
    assert(prFast == prSlow, s"pr fast=$prFast slow=$prSlow")
    val pprFast = run(GraphOps.personalizedPageRank(edges, seedMod = 3L,
      topK = 20))
    val pprSlow = Exec.distributedOnly(run(GraphOps.personalizedPageRank(edges,
      seedMod = 3L, topK = 20)))
    assert(pprFast == pprSlow, s"ppr fast=$pprFast slow=$pprSlow")
  }

  test("random walks: driver-resident hop loop matches the distributed " +
    "broadcast-join chain exactly (r17b fast path)") {
    import spark.implicits._
    // mixed degrees so the mod-degree hop exercises several array sizes
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 0L), (6L, 7L))
      .toDF("a", "b")
    val fast = GraphOps.randomWalkCensusEdges(und, walkLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.ops.Exec.releaseAll(spark)
    val slow = Exec.distributedOnly(GraphOps.randomWalkCensusEdges(und, walkLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    graft.ops.Exec.releaseAll(spark)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  // ACCEPTED ULP RISK (r18, advisor): the driver fast paths accumulate
  // doubles in a fixed (edge/ascending-key) order while the distributed
  // sum() order is partition-dependent. Where summed values are QUANTIZED
  // intermediates (hits rounds 2-4, the Brandes delta sums, pacf,
  // textrank), a sum landing EXACTLY on a 1e-6/1e-4 floor-grid boundary
  // could round differently between the two branches at some scale
  // factor. The parity specs below pin equality on adversarial fixtures
  // (multiple σ>1 nodes, branching DAGs) and the oracle re-verifies both
  // SFs every round; an SF-dependent divergence would surface there as a
  // single-query hash mismatch whose first diagnostic step is re-running
  // the parity spec at that SF with the gate forced both ways.
  test("betweenness: driver-resident Brandes matches the distributed " +
    "forward/backward passes exactly (r17b bounded-metadata fast path)") {
    import spark.implicits._
    // branching shortest-path DAG with multiple σ>1 nodes, a second seed
    // (500), unreached satellites past the 3-hop horizon, and a node with
    // no next-level successor (no contribution row)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 4L), (4L, 5L),
      (5L, 3L), (3L, 6L), (6L, 7L), (2L, 500L), (500L, 8L), (8L, 9L),
      (9L, 10L), (0L, 2L), (4L, 2L))
      .toDF("a", "b")
    val fast = GraphOps.betweennessBounded(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    graft.ops.Exec.releaseAll(spark)
    val slow = Exec.distributedOnly(GraphOps.betweennessBounded(edges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
    graft.ops.Exec.releaseAll(spark)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("hits: driver-resident half-steps match the distributed plan " +
    "exactly (r17b bounded-metadata fast path)") {
    import spark.implicits._
    // bipartite-ish lineitem stand-in: u = orderkey%n, v = partkey%n + n
    val li = Seq((1L, 3L), (1L, 4L), (2L, 3L), (5L, 6L), (7L, 6L), (7L, 4L),
      (8L, 9L), (2L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val fast = GraphOps.hitsBounded(li, n = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    graft.ops.Exec.releaseAll(spark)
    val slow = Exec.distributedOnly(GraphOps.hitsBounded(li, n = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
    graft.ops.Exec.releaseAll(spark)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("scc: fail-loud caps, not silent truncation") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      GraphOps.sccAssignWithRounds(edges, maxOuter = 0)
    }
    assert(ex.getMessage.contains("unassigned"))
  }
}
