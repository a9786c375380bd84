package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SimHash61

/** Deduplication operator family over `documents` (LLM-pipeline extension):
  *
  *   - exact:   hash-groupBy on a content fingerprint — one shuffle on the
  *              16-byte digest, survivor = min(doc_id);
  *   - n-gram Jaccard: exact pairwise similarity, *blocked* so the quadratic
  *              blow-up is bounded per block (lang × n_chars bucket here; at
  *              100 TB the block key IS the partitioner, so each block joins
  *              locally);
  *   - MinHash+LSH: the scale path — constant-size signature per doc, banded
  *              bucketing turns pairwise search into an equi-join on band
  *              hash, candidates verified with exact Jaccard;
  *   - SimHash: 64-bit signature (custom Catalyst expression), near-dups
  *              found by grouping on signature bands / hamming radius.
  */
object DedupOps {

  /** 3-token shingle set (distinct) of the normalized text. Empty when the
    * document has fewer than `n` tokens.
    */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(TextOps.tokens(text), n)

  /** Shingles from an ALREADY-MATERIALIZED token array column. Callers on a
    * hot path must bind tokens to a real column first (`withColumn("toks",
    * TextOps.tokens(...))`): expressions captured inside a higher-order
    * lambda are inlined into its body, so passing the raw tokenizer
    * expression here would re-run regexp+split once per shingle.
    */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column = {
    val sh = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    array_distinct(
      when(size(toks) < n, array().cast("array<string>")).otherwise(sh))
  }

  /** Exact dedup stats: duplicate groups by fingerprint + rows beyond first +
    * survivor count (keep-first = min doc_id).
    */
  def exactDupStats(docs: DataFrame): DataFrame = {
    val byFp = docs
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("survivor"))
    byFp.agg(
      count(lit(1)).as("n_distinct_texts"),
      count(when(col("n") > 1, 1)).as("n_dup_groups"),
      coalesce(sum(when(col("n") > 1, col("n") - 1)), lit(0L)).as("n_dup_rows"))
  }

  /** Exact-dedup SURVIVOR ids (keep-first = min doc_id per content
    * fingerprint) — the row-level twin of [[exactDupStats]]' census, for
    * pipelines that need the surviving documents, not the counts. One
    * shuffle on the 16-byte digest; text never moves.
    */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs.withColumn("fp", TextOps.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  /** Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Cheap size-compatibility prune: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so
    * pairs whose size ratio is below the threshold can be dropped BEFORE the
    * O(|A|+|B|) intersection. Semantics-preserving for any thresholded
    * Jaccard query.
    */
  private[graft] def sizeCompatible(a: Column, b: Column, threshold: Double): Column =
    least(size(a), size(b)).cast("double") / greatest(size(a), size(b)) >= threshold

  /** Exact n-gram Jaccard near-dup pairs within (lang, n_chars bucket)
    * blocks. Blocking bounds the pairwise comparison to each block and maps
    * directly to a co-partitioned self-join at scale.
    *
    * The pairwise set intersection runs over the HASHED shingle sets
    * (native `shingle_hashes`, long arrays): per-pair cost drops from
    * re-hashing ~2·|set| strings to intersecting longs, and the Jaccard
    * value is identical to the string-set value modulo 64-bit hash
    * collisions (P ≈ n²/2⁶⁵ — negligible at any realistic block size).
    */
  def ngramJaccardPairs(docs: DataFrame, bucketWidth: Int = 16,
                        threshold: Double = 0.5): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    // both the candidate pass and the verification join read this — cache
    // so tokenize+shingle runs once (at cluster scale: checkpoint/write
    // the shingled table)
    val base = Exec.pin(docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sh", expr("shingle_hashes(toks, 3)"))
      .filter(size(col("sh")) > 0)
      .withColumn("bucket", (col("n_chars") / bucketWidth).cast("long"))
      .select(col("doc_id"), col("lang"), col("bucket"), col("sh")))
    // candidate generation runs entirely on NARROW columns — (doc_id, lang,
    // bucket, |sh|, one prefix hash per row) — so no shingle array ever
    // enters the length-band exchange (the same arrays-stay-home shape as
    // the LSH verification).
    // Length-band trick: the probe side fans each doc out to buckets
    // {b, b+1} so near-dups whose lengths straddle a bucket EDGE are still
    // compared (exact buckets silently drop a 31-char/33-char pair).
    // CONTRACT: recall is guaranteed only for pairs within one bucket width
    // of each other in character length — a ≥-threshold pair whose lengths
    // diverge further (possible down to ratio=threshold) is not compared
    // here; MinHash-LSH is the dedup-family member whose candidate
    // generation is length-agnostic.
    // PPJoin-style PREFIX FILTER on top of the band (lossless, so the
    // output is unchanged): under any one total order on shingles — here
    // the hash order the arrays are already sorted in — J(A,B) ≥ t implies
    // the first |x| − ⌈t·|x|⌉ + 1 elements of A and B share a hash
    // (size-compat partner ⇒ overlap ≥ ⌈t·|x|⌉; fewer than that many
    // misses cannot push all shared elements past the prefix). Joining on
    // (band, prefix hash) instead of (band) alone bounds candidates by
    // per-hash group sizes — the true near-dup rate — not by band
    // population²: the 10×-corpus bench showed the band-only join going
    // quadratic (100k → 6.8M in-band pairs at sf0.1 → sf1) while the
    // output pair count stays near-linear. A pair sharing several prefix
    // hashes matches several times, so candidates end distinct()ed —
    // narrow (long, long) keys.
    val prefix = base.select(col("doc_id"), col("lang"), col("bucket"),
      size(col("sh")).as("ns"),
      explode(expr(
        s"slice(sh, 1, size(sh) - cast(ceil($threshold * size(sh)) as int) + 1)"))
        .as("g"))
    val a = prefix.select(col("doc_id").as("doc_a"), col("lang"),
      posexplode(array(col("bucket"), col("bucket") + 1)).as(Seq("up", "bucket")),
      col("ns").as("ns_a"), col("g"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("lang"), col("bucket"),
      col("ns").as("ns_b"), col("g"))
    val candidates = a.join(b, Seq("lang", "bucket", "g"))
      .filter(col("up") === 1 || col("doc_a") < col("doc_b"))
      .filter(least(col("ns_a"), col("ns_b")).cast("double")
        / greatest(col("ns_a"), col("ns_b")) >= threshold)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("lang"))
      .distinct()
    // verification attaches the sorted hash arrays by joining the
    // candidate list onto the shingled table. When the planner broadcasts
    // the candidates, the arrays never shuffle; when AQE converts the join
    // at run time, the array side has already been shuffle-written
    val sets = base.select(col("doc_id"), col("sh"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      // shingle_hashes emits sorted arrays: the intersection is a native
      // merge walk (sorted_intersect_count), not a per-pair hash set
      .withColumn("inter", expr("sorted_intersect_count(sh_a, sh_b)"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("lang"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Containment near-dup pairs: C = |A∩B| / min(|A|,|B|) — the asymmetric
    * similarity that catches a SHORT document embedded in a long one, which
    * Jaccard structurally misses (J ≤ |A|/|B| however perfect the overlap)
    * and which length-banded blocking cannot generate candidates for (the
    * interesting pairs are exactly the length-divergent ones). Candidates
    * are therefore blocked on (lang, source) — a metadata block whose size
    * is corpus-fraction-bounded and which co-partitions the self-join at
    * scale; within a block the shingle-hash arrays shuffle ONCE to their
    * block and pairs are verified by the native sorted merge-walk.
    * CONTRACT: recall covers same-(lang, source) pairs; cross-source
    * containment needs the LSH family's length-agnostic bands instead.
    */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    val base = Exec.pin(docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sh", expr("shingle_hashes(toks, 3)"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("lang"), col("source"), col("sh")))
    // Prefix-filtered candidates (lossless, output unchanged): C(A,B) =
    // |A∩B| / min ≥ t needs overlap ≥ ⌈t·|A|⌉ for the SMALLER set A, so
    // under the arrays' hash order A's first |A| − ⌈t·|A|⌉ + 1 elements
    // must hit B SOMEWHERE — probe every doc's prefix against a full
    // per-shingle index of its (lang, source) block, keep probe-side-
    // smaller orientations, and verify survivors. Both explodes carry one
    // narrow long per row (no arrays in any exchange — the old shape
    // shuffled whole shingle arrays to their block and went quadratic in
    // block population: 159k → 16.2M in-block pairs at sf0.1 → sf1, while
    // true ≥t pairs stay near-linear). |A| = |B| ties keep doc_a < doc_b
    // so each unordered pair survives exactly once after distinct().
    val probe = base.select(col("lang"), col("source"),
      col("doc_id").as("doc_a"), size(col("sh")).as("ns_a"),
      explode(expr(
        s"slice(sh, 1, size(sh) - cast(ceil($threshold * size(sh)) as int) + 1)"))
        .as("g"))
    val index = base.select(col("lang"), col("source"),
      col("doc_id").as("doc_b"), size(col("sh")).as("ns_b"),
      explode(col("sh")).as("g"))
    val candidates = probe.join(index, Seq("lang", "source", "g"))
      .filter(col("ns_a") < col("ns_b")
        || (col("ns_a") === col("ns_b") && col("doc_a") < col("doc_b")))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"),
        col("lang"), col("source"))
      .distinct()
    val sets = base.select(col("doc_id"), col("sh"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", expr("sorted_intersect_count(sh_a, sh_b)"))
      .withColumn("containment", round(
        col("inter").cast("double") / least(size(col("sh_a")), size(col("sh_b"))), 4))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("lang"), col("source"),
        col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash-LSH near-dup pairs: signatures → bands (rows-per-band key) →
    * equi-join on (band index, band slice) → distinct candidate pairs →
    * verified with exact Jaccard over the hashed shingle sets. The only
    * shuffles are the band-bucket exchange (O(n·bands)) and the candidate
    * join — never O(n²). Shingle hashing and the k min-hashes run as native
    * Catalyst expressions (graft.functions.MinHash) — tight loops over
    * Tungsten arrays instead of per-element interpreted lambdas. The band
    * key is a 61-bit affine fold of the band's signature rows (band_hashes):
    * a narrow long join key (an array key forces wide comparisons in the
    * exchange), with the SAME fold replayed by the DuckDB oracle, so both
    * engines see identical buckets.
    */
  def minhashLshPairs(docs: DataFrame, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5): DataFrame =
    verifiedPairs(docs, k, bands, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The VERIFIED pair set that the pair list, the degree diagnostic and
    * the clustering pass consume: narrow (two longs + a double),
    * `localCheckpoint`ed and tracked for release at the next
    * [[Exec.clearPinned]].
    */
  private def verifiedPairs(docs: DataFrame, k: Int, bands: Int,
                            threshold: Double): DataFrame =
    Exec.checkpoint(
      minhashLshPairsUnsorted(docs, k, bands, threshold))

  /** Same pair set without the final global sort — for consumers (like the
    * clustering pass) that only need the edges, not a presentation order.
    */
  private def minhashLshPairsUnsorted(docs: DataFrame, k: Int, bands: Int,
                                      threshold: Double): DataFrame = {
    val rowsPerBand = k / bands
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    // IDENTICAL-FINGERPRINT COLLAPSE (r16 sf10 graduation finding): a
    // web-scale corpus carries exact-duplicate GROUPS (boilerplate pages
    // duplicated thousands of times — GenScale's keep-slice models this
    // with groups of size `factor`), and running banding + verification on
    // every member prices Σ|group|² shingle intersections for pairs whose
    // jaccard is 1.0 by definition. Collapse to one representative per
    // normalized-text fingerprint FIRST: banding + verification cost is
    // ∝ DISTINCT texts, and member pairs are re-expanded at the end — a
    // join sized by the OUTPUT, which no pair enumerator can avoid.
    // Output is bit-identical to the uncollapsed form: same-fp docs have
    // identical token lists, hence identical shingle sets and signatures,
    // so within-group pairs are exactly jaccard 1.0 and cross-group pairs
    // inherit the representative pair's exact jaccard.
    val toksOf = TextOps.tokens(col("text"))
    // shingle_hashes(toks, 3) is empty iff size(toks) < 3 — same corpus
    // filter as the signature pipeline below, applied before fingerprinting
    val members = Exec.pin(docs.filter(size(toksOf) >= 3)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")))
    val reps = members.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val withSig = Exec.pin(docs
      .join(reps.select(col("doc_id")), Seq("doc_id"))
      .withColumn("toks", toksOf)
      .withColumn("hs", expr("shingle_hashes(toks, 3)"))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", expr(s"minhash_sig(hs, $k)"))
      // referenced by both the band explode and the verification join —
      // cache so the signature pipeline runs once (tiny: ids + hashes only)
      .select(col("doc_id"), col("hs"), col("sig")))
    // candidate generation on (doc_id, band hash) ONLY — the wide shingle
    // arrays stay out of the band shuffle and the pair-dedup shuffle
    val banded = withSig.select(
      col("doc_id"),
      posexplode(expr(s"band_hashes(sig, $bands, $rowsPerBand)"))
        .as(Seq("band", "band_key")))
    val candidates = banded.as("l")
      .join(banded.as("r"), Seq("band", "band_key"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // verification joins the hashed shingle SETS back (long arrays — much
    // cheaper to intersect than the shingle strings, same Jaccard value
    // modulo negligible 64-bit collisions; shingle_hashes already dedups)
    val sets = withSig.select(col("doc_id"), col("hs").as("hset"))
    // the candidate pair list is normally orders of magnitude smaller than
    // the shingle-set table; Spark broadcasts it onto both set joins while
    // it is small (when only AQE's runtime conversion does, the set side is
    // shuffle-written first). It carries NO hint: a degenerate corpus can
    // make the pair set arbitrarily large, and then the joins stay shuffles.
    val repPairs = candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hset").as("h_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hset").as("h_b")), Seq("doc_b"))
      .filter(sizeCompatible(col("h_a"), col("h_b"), threshold))
      .withColumn("inter", expr("sorted_intersect_count(h_a, h_b)"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (size(col("h_a")) + size(col("h_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // re-expand representative pairs to member pairs (output-sized joins):
    // cross-group pairs inherit the rep jaccard exactly; within-group
    // pairs are identical texts — jaccard 1.0 by construction
    val withRep = members
      .join(reps.withColumnRenamed("doc_id", "rep"), Seq("fp"))
      .select(col("rep"), col("doc_id"))
    val cross = repPairs
      .join(withRep.select(col("rep").as("doc_a"), col("doc_id").as("da")),
        Seq("doc_a"))
      .join(withRep.select(col("rep").as("doc_b"), col("doc_id").as("db")),
        Seq("doc_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val within = withRep.as("x").join(withRep.as("y"), Seq("rep"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** LSH band-configuration tuning sweep — the S-curve audit run BEFORE
    * committing a (bands × rows) choice at corpus scale: for each swept
    * configuration of the same k-hash signature, how many candidate
    * pairs the banding generates (the cost knob) and how many of the
    * REFERENCE true pairs it captures (the recall knob). The reference
    * is the exact-Jaccard-verified pair set of the r=2 sweep member
    * (bands = k/2, two rows per band) — NOT the loosest r=1 member:
    * any run of ≥3 consecutive shared signature positions contains an
    * aligned 2-block, so every tighter config's candidates are a subset
    * of the r=2 candidates and measured recall is still exact RELATIVE
    * to this reference, while the expensive verification join prices
    * |candidates(r=2)| pairs instead of the r=1 member's ~100× blowup
    * (absolute truth is the all-pairs join nobody can afford; this is
    * the standard relative audit — the r=1 member's cost still shows in
    * the sweep as its candidate COUNT). Counts are exact integers;
    * recall is one division. Scale shape: ONE signature pass feeds every config
    * (the persisted sig frame), each config is a band self-join on
    * (band, key) — the same narrow exchange as the production pair
    * generator — and the verification join runs once, on the loose
    * candidates only.
    */
  def lshTuningSweep(docs: DataFrame, k: Int = 24,
                     threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.MinHashFunctions.register(spark)
    val withSig = Exec.pin(docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("hs", expr("shingle_hashes(toks, 3)"))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", expr(s"minhash_sig(hs, $k)"))
      .select(col("doc_id"), col("hs"), col("sig")))
    def candidates(bands: Int): DataFrame = {
      val rpb = k / bands
      val banded = withSig.select(col("doc_id"),
        posexplode(expr(s"band_hashes(sig, $bands, $rpb)"))
          .as(Seq("band", "band_key")))
      banded.as("l").join(banded.as("r"), Seq("band", "band_key"))
        .filter(col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
    }
    val sets = withSig.select(col("doc_id"), col("hs").as("hset"))
    // REFERENCE = exact-verified pairs of the r=2 member, not r=1: any
    // run of ≥3 consecutive shared signature positions contains an
    // aligned 2-block, so every tighter config's captures are ⊆ the r=2
    // candidates and recall stays exact relative to this reference —
    // while the verification join prices |c(r=2)| pairs, not the r=1
    // reference's ~100× blowup (measured 2.3M vs 28k at sf1; the r=1
    // member's cost still shows, as its candidate COUNT). The candidate
    // list joins the sets unhinted, as in the production pair generator.
    // the r=2 candidate set is BOTH the verification input and one of the
    // swept configs — materialize it once (r17; it was band-joined twice)
    val candRef = Exec.checkpoint(candidates(k / 2))
    val truth = Exec.checkpoint(
      candRef
      .join(sets.select(col("doc_id").as("doc_a"), col("hset").as("h_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hset").as("h_b")), Seq("doc_b"))
      .filter(sizeCompatible(col("h_a"), col("h_b"), threshold))
      .withColumn("inter", expr("sorted_intersect_count(h_a, h_b)"))
      .filter(col("inter").cast("double")
        / (size(col("h_a")) + size(col("h_b")) - col("inter")) >= threshold)
      .select(col("doc_a"), col("doc_b")))
    val configs = Seq(k, k / 2, k / 3, k / 4).distinct.filter(k % _ == 0)
    val nTruth = truth.count()
    // r18 (guide §2.4 — remove shuffles outright): the remaining configs'
    // band self-joins are FUSED into one exchange — every config's banded
    // rows ride a single frame keyed (bands, band, band_key), one self-join
    // generates every config's candidate set, and all (count, capture)
    // pairs come back in ONE aggregate job (was one band self-join + one
    // aggregate job PER config). Same total banded rows, a quarter of the
    // job/exchange round-trips. The r=2 member keeps its checkpointed
    // candidate set (it is also the verification input) and joins the
    // fused count tagged with its config. Per-config candidate sets, truth
    // join, and recall arithmetic are unchanged (oracle-verified).
    val bandedAll = configs.filterNot(_ == k / 2).map { b =>
      val rpb = k / b
      withSig.select(lit(b).as("bands"), col("doc_id"),
        posexplode(expr(s"band_hashes(sig, $b, $rpb)"))
          .as(Seq("band", "band_key")))
    }.reduce(_ unionByName _)
    val candAll = bandedAll.as("l")
      .join(bandedAll.as("r"), Seq("bands", "band", "band_key"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("bands"), col("l.doc_id").as("doc_a"),
        col("r.doc_id").as("doc_b"))
      .dropDuplicates("bands", "doc_a", "doc_b")
      .unionByName(candRef.select(lit(k / 2).as("bands"),
        col("doc_a"), col("doc_b")))
    // truth is distinct on (doc_a, doc_b), so the left join preserves
    // candidate rows 1:1 and count(hit) equals a semi-join count exactly
    val byBands = candAll
      .join(truth.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n"), count(col("hit")).as("cap"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = configs.map { b =>
      val (nCand, nCaptured) = byBands.getOrElse(b, (0L, 0L))
      (b, k / b, nCand, nTruth, nCaptured,
        math.floor(nCaptured.toDouble / nTruth.toDouble * 1000000 + 0.5) / 1000000)
    }
    import spark.implicits._
    rows.toDF("bands", "rows_per_band", "n_candidates", "n_true",
      "n_captured", "recall")
      .orderBy(col("bands"))
  }

  /** Incremental (delta) MinHash-LSH dedup — the daily-ingest shape: a NEW
    * batch of documents probes the standing band index of the EXISTING
    * corpus, emitting only new-vs-corpus and new-vs-new verified pairs.
    * The corpus is never re-paired against itself: candidate generation is
    * `batch_bands ⋈ all_bands` with the batch side the smaller join input,
    * so pairing cost scales with |batch| · bucket-occupancy, not |corpus|²
    * — the corpus-side work is the one-time linear index build (signature
    * + band explode, which a production pipeline persists between runs).
    *
    * DELTA IDENTITY (the correctness contract, same proof shape as
    * rel_delta_agg_merge): because a document's signature and band keys
    * depend only on its own text, the incremental pair set equals the full
    * recompute over corpus ∪ batch filtered to pairs touching the batch —
    * the DuckDB oracle computes exactly that full+filter form, and
    * IncrementalDedupSpec pins the identity against [[minhashLshPairs]] on
    * the union. Output pairs are orientation-normalized (doc_a < doc_b, as
    * the full recompute emits them) and labeled `pair_kind`
    * ('new_new' | 'new_corpus') so downstream resolution can treat
    * corpus-side survivors as already-canonical.
    */
  def incrementalMinhashPairs(corpus: DataFrame, batch: DataFrame,
                              k: Int = 32, bands: Int = 8,
                              threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = k / bands
    graft.functions.MinHashFunctions.register(corpus.sparkSession)
    def sigs(docs: DataFrame, isNew: Boolean): DataFrame = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("hs", expr("shingle_hashes(toks, 3)"))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", expr(s"minhash_sig(hs, $k)"))
      .select(col("doc_id"), col("hs"), col("sig"), lit(isNew).as("is_new"))
    // one signature pass per side; both read twice (bands + verification)
    val withSig = Exec.pin(sigs(corpus, isNew = false).union(sigs(batch, isNew = true)))
    def banded(side: DataFrame): DataFrame = side.select(
      col("doc_id"), col("is_new"),
      posexplode(expr(s"band_hashes(sig, $bands, $rowsPerBand)"))
        .as(Seq("band", "band_key")))
    // PROBE: batch bands against the full index. The batch side is the
    // small one; Spark broadcasts it while it is small enough (when only
    // AQE's runtime conversion does, the index side is shuffle-written first).
    // new-new pairs arrive in both orientations; normalize + distinct.
    val batchBands = banded(withSig.filter(col("is_new")))
    val candidates = batchBands
      .as("l")
      .join(banded(withSig).as("r"), Seq("band", "band_key"))
      .filter(col("l.doc_id") =!= col("r.doc_id"))
      .select(
        least(col("l.doc_id"), col("r.doc_id")).as("doc_a"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("doc_b"),
        (col("l.is_new") && col("r.is_new")).as("both_new"))
      .dropDuplicates("doc_a", "doc_b")
    // verification: exact Jaccard on the hashed shingle sets, candidate
    // list joined unhinted onto both set joins (the minhashLshPairs shape)
    val sets = withSig.select(col("doc_id"), col("hs").as("hset"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("hset").as("h_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hset").as("h_b")), Seq("doc_b"))
      .filter(sizeCompatible(col("h_a"), col("h_b"), threshold))
      .withColumn("inter", expr("sorted_intersect_count(h_a, h_b)"))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (size(col("h_a")) + size(col("h_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        when(col("both_new"), lit("new_new")).otherwise(lit("new_corpus"))
          .as("pair_kind"),
        col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Connected components of an undirected pair graph (`doc_a`, `doc_b`
    * columns) via iterative min-label propagation with POINTER JUMPING:
    * each round pushes labels one hop along the edges and then shortcuts
    * every node to its label's label. Shortcutting squares the reach of a
    * round, so the driver loop runs O(log diameter) times instead of
    * O(diameter) — on a 100-TB corpus whose near-dup graph contains a long
    * edit chain, that is the difference between ~6 and ~64 shuffle rounds.
    * The edge list is materialized once and reused.
    * Output: one row per node, its component id (= min node id in the
    * component) and whether it IS that representative. The general building
    * block behind [[nearDupClusters]] — usable over any pair source (exact
    * dedup groups, embedding-cosine pairs, …).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // r17: the pair list is persisted ONCE up front — the driver gate's
    // job materializes it, and the distributed branch rereads the cached
    // pairs instead of recomputing their (possibly expensive) generation
    // subtree
    val und = Exec.pin(pairs.select(col("doc_a"), col("doc_b")))
    val collected = Exec.collectIfSmall(und, Exec.DriverLoopRows)
    if (collected.isDefined) return connectedComponentsDriver(pairs.sparkSession, collected.get)
    val undirected = und
    val bothWays = undirected
      .union(undirected.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // SELF-LOOP per node: each propagation join then carries a node's own
    // label alongside its neighbors', so no per-round `union(labels)` is
    // needed. (Unioning a localCheckpoint'd frame each round also tripped a
    // Spark constraint-rewrite defect — LogicalRDD constraints keep the
    // pre-checkpoint attribute ids; the self-loop form sidesteps the Union
    // node entirely.) One distinct over node ids, materialized once.
    val edges = Exec.pin(bothWays
      .union(bothWays.select(col("doc_a")).distinct()
        .select(col("doc_a"), col("doc_a").as("doc_b"))))
    // seed with each node's one-hop minimum (self-loops put the node itself
    // in its neighbor set) — what the first propagation round would produce
    // from identity labels, for one aggregation instead of a loop round
    var labels = Exec.checkpoint(edges.groupBy(col("doc_a"))
      .agg(min(col("doc_b")).as("label"))
      .select(col("doc_a").as("node"), col("label")))
    // labels only ever DECREASE elementwise, so the exact label sum is a
    // strictly-monotone convergence witness: one scalar aggregation per
    // round instead of a full old-vs-new join. decimal(38,0) keeps the sum
    // exact for any id range.
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // push each node's label one hop along every edge, keep the min.
      // `labels` is lineage-cut, so hop's plan is CONSTANT SIZE per round
      // (one join + agg over a checkpointed frame); embedding it on both
      // sides of the pointer-jump self-join below doubles a constant, not
      // an exponential — so hop needs only a lazy persist (computed once
      // inside the prop job, read from cache on the second join side), and
      // each round materializes exactly ONE eager checkpoint, not two.
      val hop = Exec.pin(edges.as("e")
        .join(labels.as("l"), col("e.doc_a") === col("l.node"))
        .select(col("e.doc_b").as("node"), col("l.label").as("label"))
        .groupBy(col("node")).agg(min(col("label")).as("label")))
      // pointer jump: shortcut each node to its label's current label.
      // Every label IS a node of the graph (it is the min id reached so
      // far), so the self-join is total, and labels only ever decrease —
      // the shortcut is semantics-preserving and squares per-round reach,
      // giving O(log diameter) rounds.
      val prop = Exec.checkpoint(hop.as("a")
        .join(hop.as("b"), col("a.label") === col("b.node"))
        .select(col("a.node").as("node"), col("b.label").as("label")))
      hop.unpersist(false)
      // prop's eager cut just consumed the previous round's label frame —
      // drop its blocks instead of pinning one frame per round
      Exec.unpersistCheckpointed(labels)
      val s = prop.agg(sum(col("label").cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0)
      // null sum ⇔ zero nodes: an empty pair graph is converged immediately
      converged = s == null || (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      labels = prop
      iter += 1
    }
    // an unconverged exit would silently report one real component as
    // several (multiple survivors ⇒ duplicate docs shipped) — fail loudly
    // instead; callers with deeper graphs must raise maxIters
    require(converged,
      s"connectedComponents did not converge within $maxIters iterations — " +
        "component diameter exceeds the cap; raise maxIters")
    edges.unpersist(false)
    // the returned frame reads the final label checkpoint lazily; the
    // caller's clearPinned releases it
    labels
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        (col("node") === col("label")).as("is_survivor"))
      .orderBy(col("doc_id"))
  }

  /** Driver-resident connected components (union–find with path
    * compression) for a BOUNDED pair list — the [[graft.ops.GraphOps]]
    * bounded-metadata doctrine (r17 coreness / SCC) applied to the dedup
    * component pass: the near-dup pair graph is the OUTPUT of a banded +
    * verified candidate generation, orders of magnitude smaller than the
    * corpus, and once materialized it is metadata. The driver gate's one
    * collect, one in-memory union–find, and the
    * (node, min-member label) assignment comes back as a |V|-row frame —
    * replacing ~O(log diameter) pointer-jump rounds of 2 joins + 1
    * checkpoint + 1 convergence collect each (almost pure driver-loop
    * latency on a bench-scale graph). EQUIVALENCE: both compute
    * cluster_id = min node id of the component — union–find's
    * representative is remapped to the component min explicitly, so the
    * assignment is definitionally identical (pinned by the CC parity spec
    * in DedupOpsSpec). Past the driver gate the distributed pointer-jump
    * loop runs unchanged.
    */
  private def connectedComponentsDriver(spark: SparkSession,
      rows: Array[Row]): DataFrame = {
    val idx = new java.util.HashMap[Long, Integer]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = {
      val got = idx.get(x)
      if (got eq null) { idx.put(x, ids.length); ids += x; ids.length - 1 }
      else got.intValue()
    }
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    var i = 0
    while (i < rows.length) {
      val a = id(rows(i).getLong(0)); val b = id(rows(i).getLong(1))
      while (parent.length < ids.length) parent += parent.length
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
      i += 1
    }
    val n = ids.length
    // component label = min node id over members (the pointer-jump result)
    val minId = new Array[Long](n)
    java.util.Arrays.fill(minId, Long.MaxValue)
    i = 0
    while (i < n) {
      val r = find(i)
      if (ids(i) < minId(r)) minId(r) = ids(i)
      i += 1
    }
    import spark.implicits._
    spark.createDataset(
        (0 until n).map(j => (ids(j), minId(find(j)))))
      .toDF("node", "label")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        (col("node") === col("label")).as("is_survivor"))
      .orderBy(col("doc_id"))
  }

  /** Near-duplicate CLUSTERS — the dedup endgame: LSH pairs are only half
    * the job; a pipeline ships one survivor per connected component of the
    * near-dup graph (A≈B≈C must collapse to ONE doc even when A≉C).
    * Near-dup components are shallow (chains of edits), so the propagation
    * converges in a handful of passes at any corpus size.
    */
  def nearDupClusters(docs: DataFrame, k: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5, maxIters: Int = 20): DataFrame =
    connectedComponents(verifiedPairs(docs, k, bands, threshold), maxIters)

  /** Cluster RESOLUTION policy — the decision the dedup pipeline actually
    * ships: per near-dup component, which copy SURVIVES. The naive policy
    * (min doc_id, what [[nearDupClusters]]' is_survivor flags) is
    * arbitrary; this one keeps the LONGEST member (ties to the lowest
    * id) — the "keep the most complete copy" rule retrieval corpora use —
    * and prices the decision: members dropped and characters freed per
    * cluster. One (doc_id)-keyed join of the component labels onto the
    * doc stats and one cluster-keyed aggregate with a min-struct argmax;
    * everything integer-exact. Scale: rides the checkpointed pair graph +
    * pointer-jumping components; this pass adds two narrow exchanges.
    */
  def keepBestResolution(docs: DataFrame, k: Int = 32, bands: Int = 8,
                         threshold: Double = 0.5): DataFrame = {
    val cc = nearDupClusters(docs, k, bands, threshold)
    cc.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("n_chars")).as("negc"), col("doc_id").as("d")))
          .as("best"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("cluster_id"), col("n_members"),
        col("best.d").as("keep_doc"), (-col("best.negc")).as("keep_chars"),
        (col("total_chars") - (-col("best.negc"))).as("chars_freed"))
      .orderBy(col("cluster_id"))
  }

  /** Degree distribution of the near-dup pair graph — the diagnostic a
    * dedup pipeline checks BEFORE clustering: a heavy tail (one node with
    * thousands of edges) means boilerplate flooding a band bucket, and the
    * component pass will produce a mega-cluster that deletes real data.
    * One explode of the edge list + two counts; scales like the pair set.
    */
  def nearDupDegreeHist(docs: DataFrame, k: Int = 32, bands: Int = 8,
                        threshold: Double = 0.5): DataFrame =
    verifiedPairs(docs, k, bands, threshold)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** Winnowing document fingerprints (Schleimer-Wilkerson-Aiken): the set of
    * per-window minima over the ORDERED rolling shingle-hash sequence. Every
    * w-window contributes its min, so any match of length ≥ w+n-1 tokens
    * between two documents shares a fingerprint — the standard local
    * plagiarism/near-dup sketch. Emits per-doc fingerprint-set stats.
    */
  def winnowingFingerprints(docs: DataFrame, window: Int = 4): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    docs
      .withColumn("toks", TextOps.tokens(col("text")))
      // ordered, NON-deduplicated rolling hash sequence — winnowing windows
      // must see repeats, unlike the Jaccard set representation
      .withColumn("hs", expr("shingle_hash_seq(toks, 3)"))
      .filter(size(col("hs")) >= window)
      .withColumn("fp", expr(
        s"array_distinct(transform(sequence(0, size(hs) - $window), i -> array_min(slice(hs, i + 1, $window))))"))
      .select(col("doc_id"), size(col("hs")).as("n_shingles"),
        size(col("fp")).as("n_fingerprints"),
        expr("array_min(fp)").as("min_fp"))
      .orderBy(col("doc_id"))
  }

  /** SimHash signatures + banded candidates: docs sharing any 16-bit band of
    * the 61-bit signature are candidates; report pairs within the given
    * hamming radius.
    *
    * Recall contract: 4 bands guarantee (pigeonhole) that every pair with
    * hamming ≤ 3 shares at least one untouched band, so the default radius 3
    * has EXACT recall — DedupOpsSpec checks it against brute-force hamming.
    * A larger radius needs more band tables (guarantee holds for
    * hamming < #bands), not a bigger filter constant.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    SimHash61.register(docs.sparkSession)
    // identical-fingerprint collapse, same contract as minhashLshPairs
    // (r16 sf10 finding: exact-dup groups of size g put C(g,2) pairs into
    // EVERY band bucket — the uncollapsed sf10 run blew past 550 s):
    // banding + hamming verification run over one representative per
    // normalized text; members re-expand at the end (within-group hamming
    // is 0 by identity, cross-group pairs inherit the rep hamming).
    val members = Exec.pin(docs
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")))
    val reps = members.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    // both sides of the band self-join read this — cache so the corpus is
    // tokenized + hashed once (tiny: two longs per doc)
    val sigs = Exec.pin(docs
      .join(reps.select(col("doc_id")), Seq("doc_id"))
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sig", expr("simhash61(toks)"))
      .select(col("doc_id"), col("sig")))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (shiftright(sig, b * 16) & 65535))"))
        .as(Seq("band", "band_bits")))
    val l = banded.select(col("band"), col("band_bits"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = banded.select(col("band"), col("band_bits"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val repPairs = l.join(r, Seq("band", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", expr(SimHash61.hammingExpr("sig_a", "sig_b")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val withRep = members
      .join(reps.withColumnRenamed("doc_id", "rep"), Seq("fp"))
      .select(col("rep"), col("doc_id"))
    val cross = repPairs
      .join(withRep.select(col("rep").as("doc_a"), col("doc_id").as("da")),
        Seq("doc_a"))
      .join(withRep.select(col("rep").as("doc_b"), col("doc_id").as("db")),
        Seq("doc_b"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val within = withRep.as("x").join(withRep.as("y"), Seq("rep"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(within)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Edit-distance near-dup pairs over a fixed-length document prefix key —
    * the character-level dedup the token-set family misses (transposed
    * words, OCR noise, whitespace drift all move Jaccard little but edit
    * distance a lot). Candidate generation is the PASS-JOIN pigeonhole
    * partition (Li, Deng, Wang, Feng — PVLDB 2011): split every key into
    * `maxDist + 1` contiguous segments; a pair within edit distance
    * `maxDist` must contain one of the partner's segments VERBATIM
    * (pigeonhole — at most `maxDist` edits cannot touch all `maxDist + 1`
    * segments), at a start offset shifted by at most `maxDist` (each edit
    * moves downstream positions by ≤ 1). Candidates therefore come from an
    * equi-join of the exact segments against the aligned probe substrings
    * — ≤ (2·maxDist + 1)·(maxDist + 1) probes per key, and a 13-char exact
    * segment is a far more selective join key than the r10 design's shared
    * rare q-grams, which degraded on the template-heavy corpus (every
    * doc's "rarest" 3-grams were still corpus-common: the r14 bench showed
    * this operator at 60 s = 10% of the whole sf1 run). The filter is
    * LOSSLESS (a symmetric-offset superset of Pass-Join's tight
    * multi-match rule), so the semantics rest on the verification screen:
    * THRESHOLDED `levenshtein` — banded O(d·n) DP with early exit
    * (returns −1 past the bound), never the full O(n²) matrix.
    *
    * Every exchange before verification carries ≤ segment-width strings
    * and long ids; the 64-char keys join in only for the final
    * verification, broadcast while the key table is small. Candidate cardinality is
    * INSTRUMENTED: the count after the segment join is logged, with a
    * warning past 64× the representative count — the signal that a corpus
    * defeats the segment selectivity and the operator is drifting
    * quadratic (the logged gate the r14 verdict asked for).
    *
    * Identical keys are COLLAPSED before the search: the segment pipeline
    * runs over one representative per (lang, key), and group members
    * expand back afterwards (within-group pairs are lev 0 by definition;
    * cross-group pairs inherit their representatives' distance). On the
    * corpus where character-level dedup matters — heavy boilerplate and
    * replication — the candidate join therefore scales with DISTINCT
    * keys, not documents. Output cardinality is still the full pair set
    * (a mega-group of identical docs emits its C(n,2) zero-distance pairs
    * — that is the operator's contract, and the degree-histogram
    * diagnostic is the pre-flight check for it).
    */
  def editDistancePairs(docs: DataFrame, keyLen: Int = 64,
                        maxDist: Int = 4): DataFrame = {
    val keyed = Exec.pin(docs
      .select(col("doc_id"), col("lang"),
        rpad(substring(col("text"), 1, keyLen), keyLen, " ").as("key")))
    // rep = min doc id per identical (lang, key) group; reps are globally
    // unique (a doc belongs to exactly one group)
    val mem = Exec.pin(keyed
      .join(keyed.groupBy(col("lang"), col("key"))
        .agg(min(col("doc_id")).as("rep")), Seq("lang", "key"))
      .select(col("rep"), col("doc_id"), col("lang")))
    val keys = Exec.pin(keyed
      .join(mem.filter(col("doc_id") === col("rep"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi"))
    // Pass-Join segment layout: maxDist+1 contiguous segments covering the
    // key, longer segments first (64 = 13+13+13+13+12 at the defaults).
    // Static literal bounds ⇒ plain substring columns, fully codegen'd.
    val nseg = maxDist + 1
    val lens = (0 until nseg).map(i =>
      if (i < keyLen % nseg) keyLen / nseg + 1 else keyLen / nseg)
    val starts = lens.scanLeft(1)(_ + _).init
    val segDefs = (0 until nseg).map(i => (i + 1, starts(i), lens(i)))
    val segStructs = segDefs.map { case (i, st, ln) =>
      struct(lit(i).as("i"), substring(col("key"), st, ln).as("sg")) }
    val seg = keys
      .select(col("doc_id"), col("lang"),
        explode(array(segStructs: _*)).as("s"))
      .select(col("doc_id"), col("lang"),
        col("s.i").as("i"), col("s.sg").as("sg"))
    val probeStructs = for {
      (i, st, ln) <- segDefs
      off <- -maxDist to maxDist
      if st + off >= 1 && st + off + ln - 1 <= keyLen
    } yield struct(lit(i).as("i"), substring(col("key"), st + off, ln).as("sg"))
    val probe = keys
      .select(col("doc_id").as("doc_p"), col("lang"),
        explode(array(probeStructs: _*)).as("s"))
      .select(col("doc_p"), col("lang"),
        col("s.i").as("i"), col("s.sg").as("sg"))
    // the seg⋈probe match is asymmetric (an untouched segment of a may sit
    // shifted in b, or vice versa) — least/greatest + distinct canonicalize
    // both directions into one unordered pair
    val candidates = seg.join(probe, Seq("lang", "i", "sg"))
      .filter(col("doc_id") =!= col("doc_p"))
      .select(least(col("doc_id"), col("doc_p")).as("doc_a"),
        greatest(col("doc_id"), col("doc_p")).as("doc_b"), col("lang"))
      .distinct()
    // materialize the narrow pair list once: the count instruments the
    // candidate cardinality (the logged quadratic-drift gate) and the
    // verification join below re-reads the same materialization
    val cand = Exec.checkpoint(candidates)
    val nCand = cand.count()
    val nReps = keys.count()
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    log.info(s"editDistancePairs: $nReps representative keys, " +
      s"$nCand candidate pairs after the Pass-Join segment filter")
    if (nCand > 64L * math.max(nReps, 1L))
      log.warn(s"editDistancePairs: candidate pairs ($nCand) exceed 64x " +
        s"the representative count ($nReps) — the segment filter is not " +
        "selective on this corpus and the verification join is drifting " +
        "quadratic; consider a longer key or a smaller maxDist")
    // the per-doc key column for verification: a key row is ~80 B,
    // candidates can be orders of magnitude more pairs. `keys` is
    // materialized (counted above), so the planner sizes it up front:
    // broadcast keys mean nothing wide ever enters an exchange; too large,
    // the joins are shuffles (narrow pairs move, each key row moves once)
    val prof = keys.select(col("doc_id"), col("key"))
    val repPairs = cand
      .join(prof.select(col("doc_id").as("doc_a"), col("key").as("key_a")),
        Seq("doc_a"))
      .join(prof.select(col("doc_id").as("doc_b"), col("key").as("key_b")),
        Seq("doc_b"))
      .withColumn("lev", levenshtein(col("key_a"), col("key_b"), maxDist))
      .filter(col("lev") >= 0)
      .select(col("doc_a"), col("doc_b"), col("lang"), col("lev"))
    // expand representatives back to members: identical-key pairs are
    // distance 0; cross-group member pairs inherit the rep-level distance
    val within = mem
      .join(mem.select(col("rep"), col("doc_id").as("doc_b")), Seq("rep"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("lang"),
        lit(0).as("lev"))
    val cross = repPairs
      .join(mem.select(col("rep").as("doc_a"), col("doc_id").as("ma")), Seq("doc_a"))
      .join(mem.select(col("rep").as("doc_b"), col("doc_id").as("mb")), Seq("doc_b"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("lang"), col("lev"))
    within.unionByName(cross)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Distributed BLOOM-FILTER dedup gate — the membership pre-screen a
    * crawl frontier or chunk store runs before paying exact dedup (Bloom,
    * CACM 1970; the standard web-crawl "have we fetched this?" shape): the
    * standing corpus's content keys populate an m-bit filter, an incoming
    * batch passes the gate only where ALL k probed bits are set, and only
    * gate survivors would pay the exact verification join. The filter is
    * represented RELATIONALLY as the distinct set-bit POSITIONS — at most
    * m narrow longs regardless of corpus size (m is a constant), i.e. the
    * union of per-partition bitmaps a cluster would OR together, with no
    * driver-side bitset and no UDAF state. No false negatives by
    * construction (every corpus key set its own bits — spec-pinned);
    * false positives are what the census measures.
    *
    * Determinism: bit i of a text = `hash61(i || ':' || text) % m` — k
    * independent full-width MD5-based hashes (DuckDB
    * `md5_number_lower & (2^61−1)`), no overflow-prone integer mixing.
    * With m a power of two, `bits_set/m` is IEEE-EXACT, so the
    * theoretical FP probability (bits_set/m)^k is bit-identical
    * cross-engine from exact integer inputs.
    *
    * Scale shape: positions are narrow longs; the bit set is bounded by m
    * (8 MB of longs at the 2^20 default) and broadcast BY CONSTRUCTION —
    * the one broadcast in the family that needs no byte gate; the truth
    * check joins 61-bit content keys, never text. Everything is linear in
    * corpus + batch rows.
    */
  /** Per-doc, per-hash-function bit positions of the Bloom filter —
    * shared by [[bloomDedupGate]] and the streaming
    * [[graft.stream.BloomStream]] twin so both sides hash identically. */
  private[graft] def bloomPositions(docs: DataFrame, mBits: Int,
                                    k: Int): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    val bitCols = (0 until k).map(i =>
      expr(s"hash61(concat('$i:', text)) % $mBits").as(s"p$i"))
    docs.select((col("doc_id") +: bitCols): _*)
      .select(col("doc_id"),
        explode(array((0 until k).map(i => col(s"p$i")): _*)).as("bit"))
  }

  /** 61-bit content keys (the dedup_exact fingerprint family). */
  private[graft] def bloomKeys(docs: DataFrame): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), expr("hash61(text)").as("h"))
  }

  /** Judge one batch against a standing bit set + key set: per doc, does
    * it pass the Bloom gate (all k bits set) and is it a TRUE duplicate
    * (content key present). Returns (doc_id, pass, dup) — the row-level
    * form [[bloomDedupGate]] aggregates and the stream twin persists. */
  private[graft] def bloomJudge(bits: DataFrame, keys: DataFrame,
                                batch: DataFrame, mBits: Int,
                                k: Int): DataFrame = {
    val gate = bloomPositions(batch, mBits, k)
      // bounded: ≤ mBits distinct rows by construction — broadcastable at
      // any corpus size, which is the whole point of a Bloom gate
      .join(broadcast(bits.select(col("bit")).distinct()
        .withColumn("hit", lit(1L))), Seq("bit"), "left")
      .groupBy(col("doc_id"))
      .agg((count(lit(1)) === sum(coalesce(col("hit"), lit(0L))))
        .as("pass"))
    val truth = bloomKeys(batch)
      .join(keys.select(col("h")).distinct().withColumn("dup", lit(1L)),
        Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(0L)).as("dup"))
    gate.join(truth, Seq("doc_id"))
  }

  def bloomDedupGate(corpus: DataFrame, batch: DataFrame,
                     mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    require(Integer.bitCount(mBits) == 1,
      "mBits must be a power of two (keeps bits_set/m IEEE-exact)")
    val bits = Exec.checkpoint(
      bloomPositions(corpus, mBits, k).select(col("bit")).distinct())
    val judged = Exec.checkpoint(
      bloomJudge(bits, bloomKeys(corpus), batch, mBits, k))
    val stats = judged.agg(
      count(lit(1)).as("n_batch"),
      sum(when(col("pass"), 1L).otherwise(0L)).as("n_candidates"),
      sum(col("dup")).as("n_true_dups"),
      sum(when(col("pass") && col("dup") === 0L, 1L).otherwise(0L))
        .as("n_false_pos"),
      sum(when(!col("pass") && col("dup") === 1L, 1L).otherwise(0L))
        .as("n_false_neg"))
    val nCorpus = corpus.agg(count(lit(1)).as("n_corpus"))
    val nBits = bits.agg(count(lit(1)).as("bits_set"))
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    stats.crossJoin(nCorpus).crossJoin(nBits)
      .select(col("n_corpus"), col("n_batch"),
        lit(mBits).as("m_bits"), lit(k).as("k_hashes"),
        col("bits_set"), col("n_candidates"), col("n_true_dups"),
        col("n_false_pos"), col("n_false_neg"),
        q6(col("n_false_pos").cast("double")
          / greatest(col("n_batch") - col("n_true_dups"), lit(1L))
            .cast("double")).as("fp_rate_realized"),
        // (bits_set/m)^k as an explicit left-to-right product — pow() is
        // not correctly-rounded-guaranteed across engines; k IEEE
        // multiplications of an exact power-of-two quotient are
        q6(Seq.fill(k)(col("bits_set").cast("double") / lit(mBits.toDouble))
          .reduce(_ * _)).as("fp_rate_theoretical"))
  }

  /** Exact duplicated-substring SPANS — the character-level "ExactSubstr"
    * dedup a training pipeline runs to cut verbatim boilerplate that
    * whole-doc and shingle dedup both miss (a 60-char licence header inside
    * otherwise-distinct documents). Published approach: find every
    * substring of length ≥ L that occurs twice anywhere in the corpus and
    * mask it out (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — suffix-array formulation; the distributed
    * equivalent used here is stride-1 window hashing).
    *
    * Semantics: hash every length-L character window (stride 1, 61-bit
    * MD5); a window whose hash occurs ≥ 2 times corpus-wide is *covered*;
    * per document, covered window starts whose spans overlap or touch
    * (gap ≤ L) merge into maximal spans — the byte ranges a removal pass
    * would drop. Output (doc_id, span_start, span_len, n_windows).
    *
    * Scale shape: window hashing is ONE native rolling pass per document
    * (graft.functions.RollingHashes — O(1) per window, no per-window
    * string allocation; the MD5-of-substring formulation measured ~2×
    * slower end-to-end). Duplicate detection is ONE exchange of the
    * narrow (h, doc_id, pos) rows keyed on the hash + a per-key window
    * count — the distributed "sort every window" shape, conceptually the
    * poor-man's suffix array. This deliberately avoids the
    * groupBy-count + join-back formulation: with ~one distinct hash per
    * window, the partial aggregate degenerates (every map-side hash-table
    * insert is a miss, then spills to a sort anyway) and the join re-pays
    * the window pass — measured 2.7× slower at sf1 (35 s → 13 s warm for
    * the full operator). WindowExec's per-key frames are occurrence
    * groups (tiny, spillable), so a boilerplate hash repeated millions of
    * times degrades to disk, not OOM. The island merge afterwards is a
    * per-doc window over covered positions only. Total cost is linear in
    * corpus characters — never pairwise, unlike every similarity-join
    * family member.
    */
  /** CONTENT-DEFINED CHUNKING census (Rabin chunking, the storage-dedup
    * primitive under every dedupe filesystem and artifact store): a chunk
    * boundary falls wherever the L-byte rolling hash satisfies
    * `h ≡ 0 (mod mask)` — boundaries move WITH the content, so an
    * insertion shifts only its own chunk while byte-offset chunking would
    * shift every chunk after it. No min/max-size clamp (FastCDC's clamps
    * make boundaries sequentially dependent; the pure Rabin rule keeps
    * every cut an independent per-position predicate — fully parallel and
    * independently replayable by the oracle). Expected chunk ≈ mask
    * bytes. The census reports cross-document chunk-level dedup: total vs
    * distinct chunk fingerprints, the dedup ratio a chunk store would
    * realize, and size stats. One native rolling pass per doc (O(1) per
    * window), per-row array work to cut chunks — linear in corpus bytes,
    * never pairwise.
    *
    * Exchange + parallelism discipline (the r14 4.6× scale coefficient
    * lived here): chunk STRINGS never leave the map side — each document
    * reduces IN PLACE to one narrow row of per-doc stats plus its chunk
    * fingerprints as an array of 61-bit MD5 LONGS (the repo-standard
    * Md5Hash61 = DuckDB `md5_number_lower & (2^61−1)`, so both engines
    * collide, astronomically rarely, identically). The two distinct
    * counts run as SEPARATE single-distinct aggregations combined on one
    * row: the old two-countDistinct form planned an Expand that TRIPLED
    * the exchanged rows, one copy carrying a 32-char md5 hex string. And
    * the char-linear rolling/cut/hash map pass is spread to the session's
    * parallelism first — the corpus otherwise inherits the source
    * parquet's partition count (ONE file at small SF, so the whole pass
    * ran single-threaded: the actual r14 wall).
    */
  def cdcChunkCensus(docs: DataFrame, L: Int = 16, mask: Int = 64)
      : DataFrame = {
    graft.functions.RollingHash.register(docs.sparkSession)
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    val nPart = docs.sparkSession.sparkContext.defaultParallelism
    val perDoc = Exec.checkpoint(docs
      .repartition(nPart, col("doc_id"))
      .select(col("doc_id"), col("text"),
        expr(s"""filter(transform(rolling_hashes(text, $L),
                |  (h, i) -> IF(h % $mask = 0, i, -1)), x -> x > 0)"""
          .stripMargin).as("cuts"))
      .withColumn("bs", expr("concat(array(0), cuts)"))
      .withColumn("chunks", expr(
        """zip_with(bs,
          |  concat(slice(bs, 2, size(bs) - 1), array(length(text))),
          |  (s, e) -> substring(text, s + 1, e - s))""".stripMargin))
      .select(col("doc_id"),
        size(col("chunks")).cast("long").as("nc"),
        length(col("text")).cast("long").as("bytes"),
        expr("array_max(transform(chunks, c -> length(c)))").as("maxlen"),
        expr("transform(chunks, c -> hash61(c))").as("fps")))
    val base = perDoc.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      sum(col("nc")).as("n_chunks"),
      sum(col("bytes")).as("total_bytes"),
      max(col("maxlen")).as("max_chunk_len"))
    val nd = perDoc.select(explode(col("fps")).as("fp")).distinct()
      .agg(count(lit(1)).as("n_distinct_chunks"))
    base.crossJoin(nd)
      .select(col("n_docs"), col("n_chunks"), col("n_distinct_chunks"),
        col("total_bytes"), col("max_chunk_len"),
        (floor((lit(1.0) - col("n_distinct_chunks").cast("double")
          / col("n_chunks").cast("double")) * 10000 + 0.5) / 10000)
          .as("dedup_ratio"),
        (floor(col("total_bytes").cast("double")
          / col("n_chunks").cast("double") * 10000 + 0.5) / 10000)
          .as("avg_chunk_len"))
  }

  def duplicatedSubstringSpans(docs: DataFrame, L: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.RollingHash.register(docs.sparkSession)
    val wins = docs
      .filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(expr(s"rolling_hashes(text, $L)")).as(Seq("pos", "h")))
    val covered = wins
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("n_occ") >= 2)
      .select(col("doc_id"), col("pos"))
    mergeIslands(covered, L)
  }

  /** Gaps-and-islands merge of covered window starts into maximal spans —
    * the shared back half of the ExactSubstr family (batch and
    * incremental front halves differ only in how "covered" is decided).
    */
  private def mergeIslands(covered: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    covered
      // island break: this window's span [pos, pos+L) neither overlaps nor
      // touches the previous one's; first row per doc starts an island
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= L, 0).otherwise(1))
      .withColumn("grp", sum(col("brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start"), max(col("pos")).as("last"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("start").cast("int").as("span_start"),
        (col("last") - col("start") + L).cast("int").as("span_len"),
        col("n_windows"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Incremental (delta) ExactSubstr dedup — the daily-ingest twin of
    * [[duplicatedSubstringSpans]] and the character-level companion of
    * [[incrementalMinhashPairs]]: NEW batch documents probe the STANDING
    * window-hash index of the corpus, emitting duplicated-substring spans
    * in batch docs only. A batch window is covered iff its hash occurs
    * anywhere else in corpus ∪ batch — i.e. corpus_count(h) +
    * batch_count(h) ≥ 2 — which makes the result EXACTLY the full
    * recompute over the union restricted to batch docs (the delta
    * identity, proven by the DuckDB oracle and pinned against the batch
    * operator in DedupOpsSpec).
    *
    * Scale shape: the corpus contributes ONE linear scan, and its windows
    * NEVER shuffle — the batch's distinct hash set (materialized, and
    * broadcast while its measured size is small)
    * semi-join-filters the corpus window stream map-side, so only hashes
    * the batch can actually match reach the occurrence-count exchange (a
    * first cut aggregated ALL corpus hashes and paid a corpus-wide
    * shuffle: 18.4 s at sf1, MORE than the full batch recompute; the
    * probe-set pushdown makes the exchange batch-proportional). In
    * production the counted index is persisted once and the scan
    * disappears too; a batch too large to broadcast falls back to the
    * shuffle join. Batch-internal duplicates ride a window count
    * over the batch's own hashes. Cost per ingest ∝ batch chars +
    * matched index rows, never corpus².
    */
  def incrementalSubstringSpans(corpus: DataFrame, batch: DataFrame,
                                L: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.RollingHash.register(corpus.sparkSession)
    def wins(docs: DataFrame): DataFrame = docs
      .filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(expr(s"rolling_hashes(text, $L)")).as(Seq("pos", "h")))
    // probe + coverage both read the batch windows — pin one pass
    val batchWins = Exec.pin(wins(batch))
    // probe-set pushdown: a corpus hash the batch never produces cannot
    // change any batch window's coverage — drop it BEFORE the aggregate.
    // The set is often past AQE's runtime threshold yet small enough to
    // broadcast (unhinted it shuffled the corpus: 9.5 → 17.1 s at sf1), and
    // rolling_hashes emits one hash per character, past any static
    // estimate — so it is materialized (the set the join would compute
    // anyway) and broadcast on its measured size
    val probeSet = Exec.broadcastIfKnownSmall(Exec.checkpoint(
      batchWins.select(col("h")).distinct()))
    val index = wins(corpus)
      .join(probeSet, Seq("h"), "left_semi")
      .groupBy(col("h")).agg(count(lit(1)).as("n_corpus"))
    val covered = batchWins
      .withColumn("n_batch", count(lit(1)).over(Window.partitionBy(col("h"))))
      .join(index, Seq("h"), "left")
      .filter(coalesce(col("n_corpus"), lit(0L)) + col("n_batch") >= 2)
      .select(col("doc_id"), col("pos"))
    mergeIslands(covered, L)
  }

  /** Duplicated-substring REMOVAL — the second half of the ExactSubstr
    * pass: cut every [[duplicatedSubstringSpans]] span out of its document
    * and emit the surgery evidence (kept length, removal fraction, md5 of
    * the rewritten text — the fingerprint convention the scrub operators
    * use, so the full rewritten payload is oracle-comparable without
    * shipping it).
    *
    * The cut is one codegen'd HOF fold per document: spans are disjoint
    * and sorted (island-merge invariant), so a single left-to-right
    * `aggregate` stitches the kept segments — no per-span joins, no UDF.
    * Span rows are tiny relative to the corpus; the only new exchanges
    * are the per-doc span collect and the docs-side join key.
    */
  def duplicatedSubstringRemoval(docs: DataFrame, L: Int = 40): DataFrame = {
    val perDoc = duplicatedSubstringSpans(docs, L)
      .groupBy(col("doc_id"))
      .agg(expr("array_sort(collect_list(struct(span_start, span_len)))").as("spans"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("text")).otherwise(expr(
          """aggregate(spans,
            |  named_struct('e', 0, 't', CAST('' AS STRING)),
            |  (acc, s) -> named_struct(
            |    'e', s.span_start + s.span_len,
            |    't', concat(acc.t, substring(text, acc.e + 1, s.span_start - acc.e))),
            |  acc -> concat(acc.t, substring(text, acc.e + 1, length(text) - acc.e)))"""
            .stripMargin)))
      .select(col("doc_id"),
        length(col("text")).as("orig_len"),
        coalesce(size(col("spans")), lit(0)).as("n_spans"),
        length(col("kept")).as("kept_len"),
        md5(col("kept")).as("kept_fp"))
      .withColumn("frac_removed",
        floor((col("orig_len") - col("kept_len")).cast("double")
          / greatest(col("orig_len"), lit(1)).cast("double") * 10000 + 0.5) / 10000)
      .select(col("doc_id"), col("orig_len"), col("n_spans"),
        col("kept_len"), col("frac_removed"), col("kept_fp"))
      .orderBy(col("doc_id"))
  }
}
