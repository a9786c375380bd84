package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupOpsSpec extends SparkSpec {

  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("shingles: distinct 3-gram set; short docs yield empty") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x x x x x")).toDF("doc_id", "text")
    val got = df
      .select(col("doc_id"),
        DedupOps.shinglesFromTokens(TextOps.tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).sorted.toSeq).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L) == Seq())
    assert(got(3L) == Seq("x x x")) // distinct collapses repeats
  }

  test("exact dedup: manufactured duplicates are counted and survivor is min id") {
    val dup = docs.limit(5).withColumn("doc_id", col("doc_id") + 100000L)
    val stats = DedupOps.exactDupStats(docs.unionByName(dup)).collect()(0)
    assert(stats.getAs[Long]("n_dup_groups") == 5)
    assert(stats.getAs[Long]("n_dup_rows") == 5)
  }

  test("MinHash-LSH finds all near-dup pairs that brute-force Jaccard finds") {
    // brute force over all pairs (500 docs -> 125k pairs, fine at sf0.001)
    val base = docs
      .withColumn("sh", DedupOps.shinglesFromTokens(TextOps.tokens(col("text"))))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))
    val a = base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", round(DedupOps.jaccard(col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val lsh = DedupOps.minhashLshPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // verification step guarantees precision; banding with b=8,r=4 makes
    // missing a >=0.5-Jaccard pair overwhelmingly unlikely — require none
    assert(lsh.subsetOf(brute), s"false positives: ${lsh -- brute}")
    assert(brute.subsetOf(lsh), s"missed pairs: ${brute -- lsh}")
  }

  test("winnowing: identical docs share fingerprints; edits keep most windows") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val edited = text.replace("lazy", "hazy")
    val df = Seq((1L, text), (2L, text), (3L, edited)).toDF("doc_id", "text")
    val rows = DedupOps.winnowingFingerprints(df)
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
    assert(rows(1L) == rows(2L), "identical docs must have identical fingerprint sets")
    // a one-token edit only perturbs the windows covering that token
    assert(rows(3L)._1 == rows(1L)._1 || math.abs(rows(3L)._1 - rows(1L)._1) <= 4)
  }

  test("SimHash: identical texts collide; signature is deterministic") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely unrelated content here"))
      .toDF("doc_id", "text")
    graft.functions.SimHash61.register(spark)
    val sigs = df.withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sig", expr("simhash61(toks)"))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("sig")).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))

    val pairs = DedupOps.simhashPairs(df, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("SimHash banding has exact recall at the advertised radius (vs brute force)") {
    // 4×16-bit bands guarantee a shared band for hamming <= 3 (pigeonhole);
    // this pins the contract by comparing against brute-force hamming over
    // ALL signature pairs of the 500-doc sample
    graft.functions.SimHash61.register(spark)
    val sigs = docs.withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sig", expr("simhash61(toks)"))
      .select(col("doc_id"), col("sig"))
    val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val brute = a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = DedupOps.simhashPairs(docs) // default radius 3
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"missed: ${brute -- banded}; spurious: ${banded -- brute}")
  }

  test("near-dup clusters: transitively-linked docs collapse to one survivor") {
    // chain A-B-C: A≈B and B≈C overlap above threshold, A vs C below it —
    // pairwise dedup alone would keep A and C; clustering must not
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 x1 x2 x3"   // shares 7 of A's shingles
    val c = "x9 x8 w3 w4 w5 w6 w7 w8 w9 x1 x2 x3"   // shares B's middle, not A's head
    val isolated = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12"
    val df = Seq((1L, a), (2L, b), (3L, c), (4L, isolated), (5L, c))
      .toDF("doc_id", "text")
    // 16 bands x 2 rows: the banding S-curve catches the moderate (~0.55)
    // A-B similarity reliably; the exact-Jaccard verification still drops
    // A-C (0.33), so the component forms through B only
    val rows = DedupOps.nearDupClusters(df, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byDoc = rows.map(r => r._1 -> r._2).toMap
    // A-B and B-C (and C-C') link 1,2,3,5 into one component rooted at 1
    assert(byDoc(2L) == byDoc(1L) && byDoc(3L) == byDoc(1L) && byDoc(5L) == byDoc(1L),
      s"chain must collapse into one cluster; got $rows")
    assert(byDoc(1L) == 1L)
    assert(!byDoc.contains(4L), "isolated doc has no pair, no cluster row")
    assert(rows.count(_._3) == 1, "exactly one survivor per component")
  }

  test("keep-best resolution: the LONGEST member survives, not the min id; freed chars priced") {
    // same chain fixture, but doc 3 is padded to be the longest member —
    // the naive min-id policy would keep doc 1; keep-best must pick 3
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 x1 x2 x3"
    val c = "x9 x8 w3 w4 w5 w6 w7 w8 w9 x1 x2 x3 padpadpadpad"
    val df = Seq((1L, a), (2L, b), (3L, c), (5L, c))
      .toDF("doc_id", "text")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(col("text")).cast("long"))
    val rows = DedupOps.keepBestResolution(df, bands = 16, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 1, rows.mkString(" "))
    val (cid, n, keep, keepChars, freed) = rows.head
    assert(cid == 1L && n == 4L, rows.head.toString)
    assert(keep == 3L, s"longest member must survive: ${rows.head}")
    assert(keepChars == c.length, rows.head.toString)
    assert(freed == a.length + b.length + c.length, rows.head.toString)
  }

  test("connected components: empty pair graph converges immediately to empty output") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupOps.connectedComponents(empty).collect().isEmpty)
  }

  test("connected components: exceeding maxIters fails loudly instead of splitting components") {
    // a 6-node path needs ~5 propagation rounds; cap at 2 must throw, not
    // silently report several clusters (distributedOnly forces the
    // distributed pointer-jump path — the driver union–find has no rounds)
    val path = (0L until 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      Exec.distributedOnly(DedupOps.connectedComponents(path, maxIters = 2)
        .collect())
    }
  }

  test("connected components: driver union-find == distributed pointer jumping") {
    // r17 parity pin: the gate must be a pure execution-strategy swap.
    // Fixture mixes a chain, a triangle joined to it, an isolated edge, and
    // a star — exercises path compression across non-trivial merges.
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 9L), (9L, 1L), // chain + cycle back
      (20L, 21L), // isolated edge
      (30L, 31L), (30L, 32L), (30L, 33L), (31L, 33L), // star w/ chord
      (40L, 3L) // late attach to the first component
    ).toDF("doc_a", "doc_b")
    val driver = DedupOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val dist = Exec.distributedOnly(DedupOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
    assert(driver == dist, s"driver=$driver dist=$dist")
    assert(driver.filter(_._1 < 20L).forall(_._2 == 1L))
  }

  test("Jaccard blocking compares near-dups straddling a length-bucket edge") {
    // 31 vs 33 chars: buckets 1 and 2 under width 16 — exact-bucket blocking
    // would never compare these two near-identical docs
    val t1 = "alpha beta gamma delta epsilon1" // 31 chars
    val t2 = "alpha beta gamma delta epsilon123" // 33 chars
    assert(t1.length == 31 && t2.length == 33)
    val df = Seq((1L, "en", t1), (2L, "en", t2))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length(col("text")))
    val pairs = DedupOps.ngramJaccardPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)),
      s"boundary-straddling near-dup pair must be found; got ${pairs.toSeq}")
  }

  test("containment finds a short doc embedded in a long one where Jaccard fails") {
    val short = "the quick brown fox jumps over the lazy dog"
    val long = ("completely unrelated preamble text goes here with many words " * 5) +
      short + " and an equally long postamble follows with yet more filler words here"
    val df = Seq((1L, "en", "src0", short), (2L, "en", "src0", long),
      (3L, "en", "src1", short)) // same text, different source -> outside the block
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val pairs = DedupOps.containmentPairs(df, threshold = 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)),
      "the embedded doc must hit containment ~1 against its host")
    assert(pairs(0).getDouble(4) >= 0.9)
    // the same pair is invisible to thresholded Jaccard: |short| << |long|
    val jac = DedupOps.ngramJaccardPairs(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)),
      "Jaccard at 0.5 cannot see the length-divergent containment pair")
  }

  test("edit-distance prefix filter is lossless vs brute-force levenshtein") {
    // brute force over all same-lang pairs on the real corpus
    val keys = docs.select(col("doc_id"), col("lang"),
      rpad(substring(col("text"), 1, 64), 64, " ").as("key"))
    val brute = keys.as("a").join(keys.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.key"), col("b.key")).as("lev"))
      .filter(col("lev") <= 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = DedupOps.editDistancePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == brute, s"missed: ${brute -- got}; extra: ${got -- brute}")
    assert(brute.nonEmpty, "fixture must be non-degenerate")
  }

  test("edit-distance key collapse: replicated docs search as ONE key, expand back") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the riverbank"
    val noisy = "teh quick brwon fox jumps over the lazy dog near the riverbank"
    // 4 exact copies of base + 2 of noisy: the search runs over 2 distinct
    // keys; the expansion must emit C(4,2)+C(2,2 choose)=6+1 zero-distance
    // pairs plus 4*2 cross pairs at the rep-level distance
    val df = ((1L to 4L).map(i => (i, "en", base)) ++
      Seq((10L, "en", noisy), (11L, "en", noisy))).toDF("doc_id", "lang", "text")
    val got = DedupOps.editDistancePairs(df)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3))).toMap
    val zeros = got.filter(_._2 == 0).keys.toSet
    assert(zeros == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (10L, 11L)), s"zero pairs: $zeros")
    val cross = got.filter(_._2 > 0)
    assert(cross.size == 8 && cross.values.forall(_ == 4), s"cross: $cross")
  }

  test("edit-distance catches char-level noise that token-set Jaccard keeps") {
    // OCR-ish noise: transposed chars + punctuation drift inside the prefix
    val base = "the quick brown fox jumps over the lazy dog near the old riverbank today"
    val noisy = "teh quick brwon fox jumps over the lazy dog near the old riverbank today"
    val df = Seq((1L, "en", base), (2L, "en", noisy),
      (3L, "en", "entirely different content about maritime navigation charts"))
      .toDF("doc_id", "lang", "text")
    val pairs = DedupOps.editDistancePairs(df)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3))).toMap
    assert(pairs.keySet == Set((1L, 2L)))
    assert(pairs((1L, 2L)) == 4) // teh->the (2 subs... transpositions cost 2 each)
  }

  test("duplicated-substring spans: shared block, identical docs, self-repeat, clean doc") {
    val common = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG "    // 44 chars
    assert(common.length == 44)
    val p0 = "abcdefghijklmnopqrstuvwxyz0123"                      // 30 unique chars
    val t0 = "ALPHA BETA GAMMA DELTA EPSILON"                      // 30
    val p1 = "zyxwvutsrqponmlkjihgf9876"                           // 25
    val tail1 = "omicron pi rho sigma tau upsilon phi"             // 36
    val ident = "this exact sixty-character string appears twice in the corpus"
    val selfX = "REPEATED-BLOCK-OF-FORTY-FIVE-CHARACTERS-HERE!"    // 45 chars
    assert(selfX.length == 45)
    val df = Seq(
      (0L, p0 + common + t0),        // shared block at 30
      (1L, p1 + common + tail1),     // shared block at 25
      (2L, "a completely unique document with no duplicated forty-char window at all"),
      (3L, ident), (4L, ident),      // whole-doc duplicates
      (5L, selfX + selfX)            // within-doc repeat, spans merge (gap == L)
    ).toDF("doc_id", "text")
    val spans = DedupOps.duplicatedSubstringSpans(df, L = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val byDoc = spans.groupBy(_._1)
    // docs 0/1: exactly the 44-char common block (5 covered windows)
    assert(byDoc(0L).toSeq == Seq((0L, 30, 44, 5L)), s"doc0: ${byDoc.get(0L)}")
    assert(byDoc(1L).toSeq == Seq((1L, 25, 44, 5L)), s"doc1: ${byDoc.get(1L)}")
    // doc 2: clean — no spans at all
    assert(!byDoc.contains(2L))
    // docs 3/4: the whole doc is one span (len 61, 22 windows)
    for (id <- Seq(3L, 4L))
      assert(byDoc(id).toSeq ==
        Seq((id, 0, ident.length, (ident.length - 39).toLong)), s"doc$id: ${byDoc.get(id)}")
    // doc 5: X+X self-repeat — covered heads of both copies merge into ONE
    // removal span covering the whole 90 chars (positions 0..5 and 45..50;
    // the 40-gap rule glues them)
    assert(byDoc(5L).toSeq == Seq((5L, 0, 90, 12L)), s"doc5: ${byDoc.get(5L)}")
  }

  test("duplicated-substring removal: cuts exactly the spans, fingerprint-verified") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val common = "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG "
    val p0 = "abcdefghijklmnopqrstuvwxyz0123"
    val t0 = "ALPHA BETA GAMMA DELTA EPSILON"
    val ident = "this exact sixty-character string appears twice in the corpus"
    val selfX = "REPEATED-BLOCK-OF-FORTY-FIVE-CHARACTERS-HERE!"
    val clean = "a completely unique document with no duplicated forty-char window at all"
    val df = Seq(
      (0L, p0 + common + t0),
      (1L, "zyxwvutsrqponmlkjihgf9876" + common + "omicron pi rho sigma tau upsilon phi"),
      (2L, clean),
      (3L, ident), (4L, ident),
      (5L, selfX + selfX)
    ).toDF("doc_id", "text")
    val got = DedupOps.duplicatedSubstringRemoval(df, L = 40).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4), r.getString(5))).toMap
    // doc 0: common cut, prefix+tail survive — fingerprint of the exact residue
    assert(got(0L) == ((104, 1, 60, 0.4231, md5hex(p0 + t0))), s"doc0: ${got(0L)}")
    // doc 2: untouched — fingerprint of the original
    assert(got(2L) == ((clean.length, 0, clean.length, 0.0, md5hex(clean))))
    // docs 3/4: fully removed → empty residue
    for (id <- Seq(3L, 4L))
      assert(got(id) == ((ident.length, 1, 0, 1.0, md5hex(""))), s"doc$id: ${got(id)}")
    // doc 5: merged self-repeat span covers everything
    assert(got(5L) == ((90, 1, 0, 1.0, md5hex(""))))
  }

  test("duplicated-substring spans on the real corpus: disjoint, in-bounds, evidence-consistent") {
    val lens = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).length).toMap
    val spans = DedupOps.duplicatedSubstringSpans(docs, L = 40).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(spans.nonEmpty, "sf0.001 has a 5% exact-dup slice — spans must exist")
    spans.groupBy(_._1).foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.foreach { case (_, start, len, nw) =>
        assert(len >= 40 && start >= 0 && start + len <= lens(id),
          s"doc $id span [$start,+$len) out of bounds (len ${lens(id)})")
        assert(nw >= 1 && nw <= len - 39, s"doc $id: $nw windows in span len $len")
      }
      sorted.sliding(2).foreach {
        case Array((_, s1, l1, _), (_, s2, _, _)) =>
          assert(s2 > s1 + l1, s"doc $id: spans [$s1,+$l1) and [$s2,...) not disjoint")
        case _ => ()
      }
    }
  }

  test("bloom gate: no false negatives ever; a saturated tiny filter flags FPs honestly") {
    // 3 corpus texts, batch = one exact dup + two fresh texts. At m=64
    // the filter holds up to 9 set bits of 64 — true dup MUST pass (no
    // false negatives by construction); fresh texts may or may not pass
    // (that is the FP census's job), but the counts must reconcile.
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "eta theta iota")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma"), (11L, "kappa lambda mu"),
      (12L, "nu xi omicron")).toDF("doc_id", "text")
    val r = DedupOps.bloomDedupGate(corpus, batch, mBits = 64, k = 3)
      .collect()(0)
    assert(r.getAs[Long]("n_true_dups") == 1L)
    assert(r.getAs[Long]("n_false_neg") == 0L, "bloom gate dropped a true dup")
    assert(r.getAs[Long]("n_candidates") >= 1L)
    assert(r.getAs[Long]("n_candidates") ==
      r.getAs[Long]("n_true_dups") + r.getAs[Long]("n_false_pos"))
    // real corpus at the default 2^20 filter: still zero false negatives,
    // and the candidate set reconciles with truth + FPs
    val real = DedupOps.bloomDedupGate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0)).collect()(0)
    assert(real.getAs[Long]("n_false_neg") == 0L)
    assert(real.getAs[Long]("n_candidates") ==
      real.getAs[Long]("n_true_dups") + real.getAs[Long]("n_false_pos"))
    assert(real.getAs[Long]("bits_set") <= 3L * real.getAs[Long]("n_corpus"))
  }

  test("incremental dedup: delta identity vs full recompute over the union") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val inc = DedupOps.incrementalMinhashPairs(corpus, batch)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    // the contract: incremental == full LSH over corpus ∪ batch, filtered
    // to pairs touching the batch (a doc's signature/bands depend only on
    // its own text, so membership of other docs cannot change a pair)
    val full = DedupOps.minhashLshPairs(docs)
      .collect()
      .filter(r => r.getLong(0) % 10 == 0 || r.getLong(1) % 10 == 0)
      .map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val kind = if (a % 10 == 0 && b % 10 == 0) "new_new" else "new_corpus"
        (a, b, kind, r.getDouble(2))
      }.toSet
    assert(inc == full,
      s"delta identity broken: only-inc=${inc -- full} only-full=${full -- inc}")
  }

  test("incremental substring spans: delta identity vs full recompute") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val inc = DedupOps.incrementalSubstringSpans(corpus, batch)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    // coverage counts over corpus ∪ batch, so the incremental result must
    // equal the full-union span computation restricted to batch docs
    val full = DedupOps.duplicatedSubstringSpans(docs)
      .filter(col("doc_id") % 10 === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(inc == full,
      s"delta identity broken: only-inc=${(inc -- full).take(3)} only-full=${(full -- inc).take(3)}")
    assert(inc.nonEmpty, "the 5% exact-dup slice must produce batch spans")
  }

  test("incremental substring spans: corpus-only duplicates never surface; batch-internal do") {
    // two fresh batch docs sharing a 60-char block with each other but with
    // nothing in the corpus → covered purely batch-internally; a third doc
    // duplicating corpus text → covered via the index; a clean doc → nothing
    val block = "Z" * 60
    val corpusText = docs.orderBy("doc_id").limit(1)
      .collect()(0).getAs[String]("text")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = Seq(
      (2000001L, s"alpha $block omega one"),
      (2000002L, s"start $block finish two"),
      (2000003L, corpusText + " trailing novelty"),
      (2000004L, "entirely novel text with no duplicated block at all here"))
      .toDF("doc_id", "text")
    val got = DedupOps.incrementalSubstringSpans(corpus, batch)
      .filter(col("doc_id") >= 2000000L)
      .collect().map(r => r.getLong(0)).toSet
    assert(got.contains(2000001L) && got.contains(2000002L),
      s"batch-internal duplicate block missed: $got")
    if (corpusText.length >= 40)
      assert(got.contains(2000003L), s"corpus-duplicating doc missed: $got")
    assert(!got.contains(2000004L), s"clean doc flagged: $got")
  }

  test("incremental dedup: batch docs hit their exact corpus twins at 1.0") {
    // batch docs duplicated INTO the corpus: every batch doc must pair with
    // its corpus twin as new_corpus at jaccard 1.0
    val batch = docs.filter(col("doc_id") % 10 === 0).limit(5)
    val twins = batch.withColumn("doc_id", col("doc_id") + 1000000L)
    val got = DedupOps.incrementalMinhashPairs(
      docs.filter(col("doc_id") % 10 =!= 0).unionByName(twins), batch)
      .filter(col("doc_b") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0))
    // every batch doc must hit its identical corpus twin at jaccard 1.0
    // (other ≥0.5 hits against twins of exact-dup siblings may also appear)
    batchIds.foreach { a =>
      assert(got.contains((a, a + 1000000L, "new_corpus", 1.0)),
        s"missing twin pair for $a in $got")
    }
  }

  test("cdc chunking: census equals an independent BigInt-hash " +
    "reimplementation; boundaries survive a prefix insertion") {
    import spark.implicits._
    val M = BigInt((1L << 61) - 1)
    val B = BigInt(131)
    def cdcChunks(text: String): Seq[String] = {
      val bytes = text.getBytes("UTF-8")
      val cuts = (0 to bytes.length - 16).filter { i =>
        val h = (0 until 16).map(j =>
          BigInt(bytes(i + j) & 0xFF) * B.pow(15 - j)).sum.mod(M)
        h % 64 == 0
      }.filter(_ > 0)
      val bs = 0 +: cuts
      bs.zip(bs.drop(1) :+ bytes.length).map { case (s, e) =>
        text.substring(s, e)
      }
    }
    def mix(i: Int): Char = {
      val m = i * 2654435761L
      ('a' + (((m ^ (m >> 13)) % 26 + 26) % 26)).toChar
    }
    val base = (0 until 2000).map(mix).mkString
    val shifted = "INSERTED PREFIX! " + base
    val docs = Seq((1L, base), (2L, shifted), (3L, base))
      .toDF("doc_id", "text")
    val r = DedupOps.cdcChunkCensus(docs).collect()(0)
    val all = Seq(base, shifted, base).flatMap(cdcChunks)
    assert(r.getLong(0) == 3 && r.getLong(1) == all.size.toLong)
    assert(r.getLong(2) == all.distinct.size.toLong)
    assert(r.getLong(3) == all.map(_.length.toLong).sum)
    assert(r.getInt(4) == all.map(_.length).max)
    // content-defined robustness: the prefix insertion leaves most of the
    // shifted doc's chunks identical to the base doc's (byte-offset
    // chunking would shift every one)
    val cb = cdcChunks(base).toSet
    val cs = cdcChunks(shifted)
    assert(cdcChunks(base).size >= 10, s"fixture too few chunks: ${cb.size}")
    val shared = cs.count(cb.contains)
    assert(shared.toDouble / cs.size > 0.8,
      s"only $shared/${cs.size} chunks survived the shift")
  }
}
