package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Edge of a Viterbi lattice row — file-scoped so Spark can derive its
  * encoder without an outer-instance capture.
  */
case class VEdge(j: Int, i: Int, skey: Long)

class TextOpsSpec extends SparkSpec {

  import spark.implicits._

  test("wordpiece greedy longest-match: hand-computed segmentation on a tiny vocab") {
    // corpus: "abab" x2 + "cd". With vocabPerClass = 2:
    //  - initial class masses: a/ab/aba/abab all 2 (from abab), c/cd 1 →
    //    top-2 by (cnt desc, piece asc) = {a, ab}; singles add {c}
    //  - continuation masses: b=4, then a/ab/ba/bab = 2 → top-2 = {b, a};
    //    singles add {b, d, ...}
    // greedy("abab"): init longest at 0 = "ab" → cont "a" → cont "b" = 3
    // pieces (char-level would be 4 — the greedy step must win);
    // greedy("cd") = c|d = 2 pieces
    val df = Seq((1L, "abab abab cd")).toDF("doc_id", "text")
    val got = TextOps.wordpieceEncode(df, vocabPerClass = 2).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_words") == 3L)
    assert(r.getAs[Long]("n_pieces") == 8L, s"want ab|a|b x2 + c|d: $r")
    assert(r.getAs[Double]("pieces_per_word") ==
      math.floor(8.0 / 3 * 10000 + 0.5) / 10000)
  }

  test("repetition stats: looped text flags, varied text passes, short docs are safe") {
    val looped = Seq.fill(30)("buy now").mkString(" ")          // one bigram dominates
    val varied = "the quick brown fox jumps over the lazy dog while rain falls softly"
    val df = Seq((1L, looped), (2L, varied), (3L, "single"), (4L, ""))
      .toDF("doc_id", "text")
    val rows = TextOps.repetitionStats(df).collect()
      .map(r => r.getLong(0) -> r).toMap

    assert(rows(1L).getAs[Boolean]("is_repetitive"),
      "a looping bigram must flag as repetitive")
    assert(rows(1L).getAs[Double]("top_bigram_frac") > 0.4)
    assert(!rows(2L).getAs[Boolean]("is_repetitive"),
      "varied natural text must not flag")
    // 1-token docs have no bigrams: frac 0, distinct ratio 1, no flag, no crash
    assert(rows(3L).getAs[Double]("top_bigram_frac") == 0.0)
    assert(!rows(3L).getAs[Boolean]("is_repetitive"))
    assert(rows.contains(4L), "empty text must still produce a row")
  }

  test("repetition stats: distinct ratio is exact on a known composition") {
    // 10 tokens, 5 distinct -> ratio 0.5; not < 0.5, so ratio alone must not flag
    val text = "a b c d e a b c d e"
    val r = TextOps.repetitionStats(Seq((1L, text)).toDF("doc_id", "text"))
      .collect()(0)
    assert(r.getAs[Int]("n_tokens") == 10)
    assert(r.getAs[Double]("distinct_ratio") == 0.5)
  }

  test("filter decisions: first failing rule wins; clean docs keep") {
    val docs = Seq(
      (1L, "a b c"), // 3 tokens -> too_short
      (2L, ("x y " * 30).trim), // 60 tokens, 2 distinct -> low_diversity fires before repetitive
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12")) // clean
      .toDF("doc_id", "text")
    val got = TextOps.filterDecisions(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getString(3))).toMap
    assert(got(1L) == (false, "too_short"))
    assert(got(2L) == (false, "low_diversity"))
    assert(got(3L) == (true, "ok"))
  }

  test("cross-doc n-grams: shared boilerplate found, doc-internal repeats not double-counted") {
    val boiler = "this content is provided as is for you"
    val df = Seq(
      (1L, s"$boiler and more words follow here now"),
      (2L, s"totally different opening text then $boiler"),
      // doc 3 contains the boilerplate TWICE — must still count once
      (3L, s"$boiler $boiler"),
      (4L, "unrelated text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val rows = TextOps.crossDocNgrams(df, n = 8, minDocs = 2, k = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows(boiler) == 3L,
      s"8-gram '$boiler' appears in docs 1,2,3 -> df 3; got $rows")
    assert(rows.values.forall(_ >= 2), "minDocs filter must hold")
  }

  test("chunking: overlapping chunks tile the text; trailing chunk is short") {
    // 180 chars, size 120 / stride 90 -> chunks at 0 and 90; the second is
    // 90 chars (truncated), and together they cover every character
    val text = ("x" * 89 + "|") * 2  // 180 chars
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val rows = TextOps.chunkFixedOverlap(df).collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1))
    assert(rows(0).getInt(2) == 120)          // full first chunk
    assert(rows(1).getInt(2) == 90)           // 180 - 90 remaining
    // chunk 0 ends past chunk 1's start: the 30-char overlap is real
    val df2 = Seq((2L, "ab")).toDF("doc_id", "text")
    val tiny = TextOps.chunkFixedOverlap(df2).collect()
    assert(tiny.length == 1 && tiny(0).getInt(2) == 2)
  }

  test("pii scrub masks emails, urls and phone numbers everywhere") {
    val df = Seq((7L, "reach me at bob@corp.example or https://x.example/a +1-222-333-4444 thanks"))
      .toDF("doc_id", "text")
    val r = TextOps.piiScrub(df).collect()(0)
    // 1 email/url/phone in the text + 1 each appended deterministically
    assert(r.getInt(1) == 2, s"emails: ${r.getInt(1)}")
    assert(r.getInt(2) == 2, s"urls: ${r.getInt(2)}")
    assert(r.getInt(3) == 2, s"phones: ${r.getInt(3)}")
  }

  test("block dedup: repeated 10-token block in a later doc is flagged; first keeps it") {
    val block = (1 to 10).map(i => s"w$i").mkString(" ")
    val other = (11 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, s"$block $other"),  // owns both blocks (first occurrence)
      (2L, s"$block"),         // duplicate of doc 1's first block
      (3L, s"$other $block"))  // both blocks duplicated
      .toDF("doc_id", "text")
    val rows = TextOps.duplicateBlocks(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L) == (2L, 0L), "first occurrences are never duplicates")
    assert(rows(2L) == (1L, 1L))
    assert(rows(3L) == (2L, 2L))
  }

  test("sequence packing: budgets cut mid-document and spans are contiguous") {
    // budget 512; docs of 400/400/200 tokens -> doc2 straddles seqs 0-1,
    // doc3 sits fully in seq 1 (cum 800..1000)
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words(400)), (2L, words(400)), (3L, words(200)))
      .toDF("doc_id", "text")
    val rows = TextOps.packSequences(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows(1L) == (0L, 0L, 1L))
    assert(rows(2L) == (0L, 1L, 2L), "doc 2 must straddle the 512 boundary")
    assert(rows(3L) == (1L, 1L, 1L))
  }

  test("sharded packing == oracle form per shard, and its plan has no unpartitioned window") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = (1L to 30L).map(i => (i, words(100 + (i % 7).toInt * 60),
      s"src${i % 3}")).toDF("doc_id", "text", "source")
    val sharded = TextOps.packSequences(df, 512, col("source"))
    // per-shard identity: the sharded result restricted to one shard is
    // exactly the oracle-form (global) packer run on that shard alone
    (0 to 2).foreach { s =>
      val got = sharded.filter(col("shard") === s"src$s").drop("shard")
        .collect().map(_.toSeq).toSeq
      val want = TextOps.packSequences(df.filter(col("source") === s"src$s"), 512)
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"shard src$s diverges from the oracle form")
    }
    // plan guard: the production shape must never funnel through one task
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val unpart = sharded.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(unpart.isEmpty, "sharded packSequences has an unpartitioned window")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("quality classifier: hand-computed margins, custom weights, zero shuffle") {
    import java.security.MessageDigest
    def dim(g: String): Int = {
      val hex = MessageDigest.getInstance("MD5").digest(g.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 64).toInt
    }
    def wFix(d: Int): Long = ((d + 1).toLong * 2654435761L) % 997L - 498L
    val df = Seq((1L, "the cat sat"), (2L, "solo"), (3L, "a a"))
      .toDF("doc_id", "text")
    val got = TextOps.qualityClassifier(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    // doc 1: unigrams the/cat/sat + bigrams "the cat"/"cat sat" → 5 grams
    val g1 = Seq("the", "cat", "sat", "the cat", "cat sat")
    val num1 = g1.map(g => wFix(dim(g))).sum
    assert(got(1L)._1 == 5L)
    assert(got(1L)._2 == num1.toDouble / (997.0 * 5.0), s"got ${got(1L)}")
    assert(got(1L)._3 == (num1 >= 0))
    // doc 2: one token, no bigram — n_grams = 1 (the sequence() guard)
    assert(got(2L)._1 == 1L)
    assert(got(2L)._2 == wFix(dim("solo")).toDouble / 997.0)
    // doc 3: repeated token counts twice (tf, not distinct)
    val num3 = 2 * wFix(dim("a")) + wFix(dim("a a"))
    assert(got(3L)._1 == 3L && got(3L)._2 == num3.toDouble / (997.0 * 3.0))
    // custom-weights path: all-positive weights force keep on every doc
    val allPos = TextOps.qualityClassifier(df, weights = Seq.fill(64)(7L))
      .collect()
    assert(allPos.forall(_.getBoolean(3)))
    assert(allPos.map(r => r.getDouble(2)).forall(_ == 7.0 / 997.0),
      "uniform weights must give the same normalized margin for every doc")
    // the serving shape is a row-local fold: no exchange anywhere
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exchanges = TextOps.qualityClassifier(df).queryExecution.executedPlan
        .collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      // one final orderBy is allowed to range-shuffle; nothing else may
      assert(exchanges.size <= 1,
        s"classifier inference must be map-side: ${exchanges.size} shuffles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("hash split: deterministic, complete, and roughly proportioned") {
    val docs = (1L to 1000L).map(i => (i, "x", "en", i))
      .toDF("doc_id", "text", "lang", "n_chars")
    val rows = TextOps.hashSplitStats(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("test", "val", "train"))
    assert(rows.values.sum == 1000L)
    // md5 buckets are uniform-ish: each 10% split within [5%, 15%]
    assert(rows("test") > 50 && rows("test") < 150, s"test split ${rows("test")}")
    assert(rows("val") > 50 && rows("val") < 150, s"val split ${rows("val")}")
    // identical input -> identical assignment (stability)
    val again = TextOps.hashSplitStats(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == rows)
  }

  test("decontamination flags an eval doc sharing a 5-gram with train, not clean ones") {
    val leak = "one two three four five six"
    val df = Seq(
      (2L, "en", s"train doc contains the span $leak right here"),
      (1L, "en", s"eval doc also carries $leak inside its text body"),   // contaminated
      (3L, "en", "a completely different eval document with no overlap at all"),
      (5L, "de", "noch ein sauberes eval dokument ohne gemeinsame folgen hier"))
      .toDF("doc_id", "lang", "text")
    val rows = TextOps.decontaminationScan(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("en", 2L, 1L), ("de", 1L, 0L)), s"got $rows")
  }

  test("unigram surprisal: rare-token docs score higher than common-token docs") {
    val df = Seq(
      (1L, "common common common common"),       // all high-probability tokens
      (2L, "common rareone rareapart raretwo"),  // mostly singletons
      (3L, "common common rareone common"))
      .toDF("doc_id", "text")
    val rows = TextOps.unigramSurprisal(df).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rows(2L) > rows(3L) && rows(3L) > rows(1L),
      s"surprisal must order by rarity: $rows")
    // doc of only the most common token: surprisal = -ln(count/total) exactly
    val total = 12.0
    val pCommon = 8.0 / total  // 'common' appears 8x across the 12 tokens
    assert(math.abs(rows(1L) - (-math.log(pCommon))) < 1e-4)
  }

  test("zipf fit recovers slope -1 on an exact zipfian frequency table") {
    // freq(rank) = 1200/rank for ranks 1..8, token names pad the rank order
    val docs = (1 to 8).flatMap { r =>
      Seq.fill(1200 / r)(s"t$r")
    }.mkString(" ")
    val df = Seq((1L, docs)).toDF("doc_id", "text")
    val row = TextOps.zipfFit(df, k = 8).collect()(0)
    assert(row.getLong(0) == 8L)
    val slope = row.getDouble(1)
    assert(math.abs(slope + 1.0) < 0.02, s"slope $slope should be ~ -1")
  }

  test("tf-idf: corpus-universal term scores zero; distinctive term ranks first") {
    val df = Seq(
      (1L, "en", "common common apple apple apple"),
      (2L, "en", "common apple"),
      (3L, "de", "common zug zug zug"))
      .toDF("doc_id", "lang", "text")
    val rows = TextOps.tfidfTopTerms(df, k = 3).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getDouble(3))).toMap
    // 'common' is in every doc: idf = ln(3/3) = 0 -> score 0 in both langs
    val enScores = rows.collect { case ((l, _), (t, s)) if l == "en" => t -> s }.toMap
    assert(enScores("common") == 0.0)
    // 'apple' (df 2) beats 'common' in en; 'zug' (df 1) ranks first in de
    assert(rows(("en", 1))._1 == "apple")
    assert(rows(("de", 1))._1 == "zug")
    assert(rows(("de", 1))._2 > 0.0)
  }

  test("bm25: distinct rare terms beat a saturated repeated term; length normalizes") {
    import spark.implicits._
    // N=4 token-bearing docs, avgdl=3.25; query {spark, merge, vector}:
    // d2 matches TWO rarer terms (df 2 and 1) and is short — it must beat
    // d1's four saturated 'spark's; d3 matches nothing and must be absent
    val docs = Seq(
      (1L, "spark spark spark spark"),
      (2L, "spark merge"),
      (3L, "the the the the the the"),
      (4L, "vector"))
      .toDF("doc_id", "text")
    val rows = TextOps.bm25Search(docs, Seq("spark", "merge", "vector"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq == Seq(2L, 4L, 1L), rows.mkString(","))
    assert(rows.map(_._4).toSeq == Seq(2L, 1L, 1L), "n_matched wrong")
    // scores strictly decrease down the ranking (no quantization ties here)
    assert(rows.sliding(2).forall { case Array(h, t) => h._3 > t._3 })
    // saturation: d1's score is far below 4x a single-occurrence score —
    // tf*(k1+1)/(tf+k1·norm) caps the contribution of repeated terms
    val single = TextOps.bm25Search(docs, Seq("spark"))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(single(1L) < 4 * single(2L) * 0.6,
      s"term saturation missing: ${single(1L)} vs 4x${single(2L)}")
  }

  test("bm25: query terms with resolver metacharacters resolve (indexed tf columns)") {
    import spark.implicits._
    val docs = Seq((1L, "spark merge"), (2L, "other words here"))
      .toDF("doc_id", "text")
    // '.', backtick, '*' in a term must not break col() resolution — the
    // per-term columns are tf_0..tf_n, never spliced from the raw term
    val rows = TextOps.bm25Search(docs, Seq("a.b", "we`ird", "spark", "*"))
      .collect().map(r => r.getLong(1))
    assert(rows.toSeq == Seq(1L), "only the doc matching the plain term ranks")
  }

  test("block dedup: empty-text docs pin to ONE empty block (cross-engine), no descent") {
    import spark.implicits._
    // tokens('') is [''] (size 1) in Spark AND DuckDB (split semantics), so
    // an empty doc owns exactly one md5('') block in both engines and two
    // empty docs are mutual duplicates — pinned here. The size-0 guard in
    // the block expression is for genuinely empty arrays, where Spark's
    // sequence(0, -1) would DESCEND into phantom [0, -1] indices while
    // DuckDB's range(0, 0) is empty.
    val df = Seq((1L, ""), (2L, "  "), (3L, "w1 w2 w3")).toDF("doc_id", "text")
    val diag = TextOps.duplicateBlocks(df, blockTokens = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(diag(1L) == (1L, 0L), s"diag: $diag")
    assert(diag(2L) == (1L, 1L), "second empty doc duplicates the first")
    assert(diag(3L) == (1L, 0L))
    val rw = TextOps.rewriteDedupBlocks(df, blockTokens = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(rw(1L) == (1, 1) && rw(2L) == (1, 0), s"rewrite: $rw")
    assert(rw(3L) == (3, 3))
  }

  test("mixing sample: basis-point bounds are exact, default applies, draw is deterministic") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, s"doc $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val stats = TextOps.mixingSampleStats(docs,
      Map("src0" -> 10000, "src1" -> 0), defaultBp = 5000)
    val m = stats.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m("src0") == ((100L, 100L, 1.0)), s"bp 10000 must keep ALL: $m")
    assert(m("src1")._2 == 0L && m("src1")._3 == 0.0, s"bp 0 must keep NONE: $m")
    // src2 rides the 50% default; the hash draw should land near it
    assert(m("src2")._3 == 0.5)
    assert(m("src2")._2 > 25L && m("src2")._2 < 75L, s"default draw implausible: $m")
    // reproducible: an identical second evaluation returns identical rows
    val again = TextOps.mixingSampleStats(docs,
      Map("src0" -> 10000, "src1" -> 0), defaultBp = 5000).collect()
    assert(stats.collect().toSeq == again.toSeq)
  }

  test("BPE merges: the textbook corpus learns es→est→lo→low→ew in order") {
    import spark.implicits._
    // Sennrich et al.'s worked example: low×5 lower×2 newest×6 widest×3.
    // Hand-derived rounds (max pair count, ties to lexicographic smallest):
    //   1: (e,s)=9   [newest 6 + widest 3; ties (s,t)=9, (e,s) wins lex]
    //   2: (es,t)=9
    //   3: (l,o)=7   [low 5 + lower 2; ties (o,w)=7, (l,o) wins lex]
    //   4: (lo,w)=7
    //   5: (e,w)=6   [ties (n,e)=6 and (w,est)=6, (e,w) wins lex]
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L),
      (4, "lo", "w", "low", 7L),
      (5, "e", "w", "ew", 6L)), s"got ${got.toSeq}")
  }

  test("BPE merge fold is greedy left-to-right: overlapping pairs don't chain") {
    import spark.implicits._
    // 'aaaa' (freq 1): round 1 must merge (a,a) into TWO 'aa' symbols
    // (non-overlapping), so round 2's best pair is (aa,aa) — a chained
    // (overlapping) merge would instead see (aa,a) or (aaa,a)
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, rounds = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(got.toSeq == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)), s"got ${got.toSeq}")
  }

  test("BPE exhausted rounds emit no merge row and leave the vocab intact") {
    import spark.implicits._
    // 'ab' exhausts after one merge; rounds 2 and 3 find no adjacent pair
    // and must be silent no-ops (not an all-NULL merge row, and not an
    // empty segmentation collapsing the vocab tally)
    val docs = Seq((1L, "ab ab c")).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(docs, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(merges.toSeq == Seq((1, "a", "b", 2L)), s"got ${merges.toSeq}")
    val vocab = TextOps.bpeVocab(docs, rounds = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab == Map("ab" -> 2L, "c" -> 1L), s"got $vocab")
    // fully degenerate: single-char words have no pairs from round 1 on
    val single = Seq((1L, "a b a")).toDF("doc_id", "text")
    assert(TextOps.bpeMerges(single, rounds = 2).count() == 0L)
  }

  test("heavy hitters: threshold semantics, not a top-k") {
    import spark.implicits._
    // 'x' 6/12 tokens (50%), 'y' 4/12 (33.3%), rest below: at φ=30% exactly
    // {x, y} qualify no matter how many distinct tokens exist
    val docs = Seq((1L, "x x x y y z"), (2L, "x x x y y w"))
      .toDF("doc_id", "text")
    val rows = TextOps.heavyHitters(docs, 30.0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("x" -> 6L, "y" -> 4L))
    // the support threshold bounds output size: at φ=30% at most
    // 100/30 = 3 tokens can ever qualify, whatever the corpus
    assert(rows.size <= 3)
  }

  test("ngram novelty: first occurrence owns the gram, later docs score the overlap") {
    import spark.implicits._
    // doc1's two 5-grams are both first occurrences (novelty 1); doc2
    // shares "a b c d e" with doc1 (novelty 0.5); doc3 shares "b c d e f"
    // with doc1 (0.5); a <5-token doc has no grams and emits no row
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e x"),
      (3L, "b c d e f g"),
      (4L, "too short")).toDF("doc_id", "text")
    val rows = TextOps.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(1L).getDouble(3) == 1.0)
    assert(rows(2L).getDouble(3) == 0.5 && rows(2L).getLong(1) == 2L)
    assert(rows(3L).getDouble(3) == 0.5)
  }

  test("cross-doc ngrams: hash-qualified two-pass equals direct string counting") {
    import spark.implicits._
    // 5-grams: "a b c d e" appears in all 3 docs; every other 5-gram in 1.
    // At minDocs=2 the two-pass hash qualification must surface exactly it.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "z z a b c d e"),
      (3L, "a b c d e")).toDF("doc_id", "text")
    val rows = TextOps.crossDocNgrams(docs).collect()
    assert(rows.length == 1, s"got ${rows.mkString(";")}")
    assert(rows(0).getString(0) == "a b c d e" && rows(0).getLong(1) == 3L)
  }

  test("bigram surprisal: unique continuations score ln2 against a 50/50 prefix") {
    import spark.implicits._
    // corpus bigrams: (x,y)x2, (y,z), (y,x). Prefix counts: x->2, y->2.
    // s(x,y) = -ln(2/2) = 0; s(y,z) = s(y,x) = -ln(1/2) = ln 2.
    // Both docs: (0 + ln2)/2 = 0.3466 after q4.
    val docs = Seq((1L, "x y z"), (2L, "x y x")).toDF("doc_id", "text")
    val rows = TextOps.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(1) == 2 && rows(2L).getLong(1) == 2)
    assert(rows(1L).getDouble(2) == 0.3466, s"got ${rows(1L).getDouble(2)}")
    assert(rows(2L).getDouble(2) == 0.3466)
    // single-token docs have no bigrams and emit no row (documented)
    val single = TextOps.bigramSurprisal(
      Seq((1L, "solo")).toDF("doc_id", "text")).count()
    assert(single == 0)
  }

  test("rewrite dedup: non-first duplicate blocks are cut, first kept, tails safe") {
    import spark.implicits._
    // 3-token blocks: doc1 owns [a b c][d e f]; doc2's [a b c] and doc4's
    // [d e f] are non-first occurrences and must be cut; doc3 IS one dup
    // block, so it rewrites to empty; doc4 keeps only its short tail [g]
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y z a b c"),
      (3L, "a b c"),
      (4L, "d e f g")).toDF("doc_id", "text")
    val rows = TextOps.rewriteDedupBlocks(docs, blockTokens = 3).collect()
      .map(r => r.getLong(0) -> r).toMap

    assert(rows(1L).getAs[Int]("n_kept") == 6, "first occurrence keeps everything")
    assert(rows(2L).getAs[Int]("n_kept") == 3)
    assert(rows(3L).getAs[Int]("n_kept") == 0, "all-duplicate doc rewrites to empty")
    assert(rows(4L).getAs[Int]("n_kept") == 1, "tail block after a cut survives")
    // the surviving text is exactly the kept prefix, not a reshuffle
    val xyzFp = spark.sql("SELECT md5('x y z') AS fp").collect()(0).getString(0)
    assert(rows(2L).getAs[String]("clean_fp") == xyzFp)
  }

  test("PMI collocations: hand-computed log-space value; sub-support pairs drop") {
    import spark.implicits._
    // one doc "a b a b a b a b a b": bigrams (a,b) x5, (b,a) x4;
    // unigrams a x5, b x5; Nu=10, Nb=9. Only (a,b) meets minCount=5:
    // PMI = ln(5) + 2 ln(10) - ln(9) - ln(5) - ln(5) = ln(100/45) ≈ 0.7985
    val docs = Seq((1L, "a b a b a b a b a b")).toDF("doc_id", "text")
    val rows = TextOps.collocationsPmi(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(("a", "b", 5L, 0.7985)), s"got ${rows.toSeq}")
  }

  test("temperature mixing: sqrt flattening boosts small sources, probabilities sum to 1") {
    // sources of 1 / 4 / 16 docs: masses 1 / 2 / 4 (sqrt), total mass 7,
    // total docs 21 — hand-checkable p_temp and boosts
    val docs = ((0 until 1).map(i => (i.toLong, "x" * 10, "small")) ++
      (0 until 4).map(i => (100L + i, "y" * 20, "mid")) ++
      (0 until 16).map(i => (200L + i, "z" * 30, "big")))
      .toDF("doc_id", "text", "source")
    def q4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val got = TextOps.mixingTemperatureWeights(docs, alpha = 0.5).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getLong(6))).toMap
    assert(got("small") == ((1L, 10L, q4(1.0 / 21), q4(1.0 / 7),
      q4((1.0 / 7) / (1.0 / 21)), math.floor(1.0 / 7 * 21).toLong)))
    assert(got("mid") == ((4L, 80L, q4(4.0 / 21), q4(2.0 / 7),
      q4((2.0 / 7) / (4.0 / 21)), math.floor(2.0 / 7 * 21).toLong)))
    assert(got("big") == ((16L, 480L, q4(16.0 / 21), q4(4.0 / 7),
      q4((4.0 / 7) / (16.0 / 21)), math.floor(4.0 / 7 * 21).toLong)))
    // the flattening direction: rare source boosted, dominant source damped
    assert(got("small")._5 > 1.0 && got("big")._5 < 1.0)
    // raw p_temp sums to 1 (quantized values to within rounding)
    assert(math.abs(got.values.map(_._4).sum - 1.0) < 3e-4)
  }

  test("BPE encode: textbook corpus segments low/lower/newest/widest as the learned merges dictate") {
    import spark.implicits._
    // merges learned from this corpus (proven by the bpeMerges spec):
    // es, est, lo, low, ew — hand-applied greedy left-to-right:
    //   low    -> [low]         lower  -> [low, e, r]
    //   newest -> [n, ew, est]  widest -> [w, i, d, est]
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextOps.bpeEncode(docs).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(1) == 16L, s"n_words ${row.getLong(1)}")
    // 5*1 + 2*3 + 6*3 + 3*4 = 41 subwords
    assert(row.getLong(2) == 41L, s"n_subwords ${row.getLong(2)}")
    assert(row.getDouble(3) == math.floor(41.0 / 16 * 10000 + 0.5) / 10000)
    val expected = (Seq.fill(5)("low") ++ Seq.fill(2)("low|e|r") ++
      Seq.fill(6)("n|ew|est") ++ Seq.fill(3)("w|i|d|est")).mkString(" ")
    val md = java.security.MessageDigest.getInstance("MD5")
    val fp = md.digest(expected.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getString(4) == fp, "segmentation fingerprint mismatch")
  }

  test("URL census: normalization (case, www., registered domain), https share, blocklist") {
    import spark.implicits._
    // odd doc_ids dodge the deterministic augmentation; doc 2 exercises it
    val docs = Seq(
      (1L, "visit https://www.Foo.Example.COM/x thing http://a.b.example3.org/y"),
      (2L, "x"),
      (3L, "again https://foo.example.com/z and plain text")
    ).toDF("doc_id", "text")
    val got = TextOps.urlCensus(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    // doc 2's augmentation: https://cdn2.example2.org/... + http://WWW.Example2.ORG/...
    assert(got("example.com") == ((2L, 2L, 1.0, false)))
    assert(got("example2.org") == ((2L, 1L, 0.5, false)))
    assert(got("example3.org") == ((1L, 1L, 0.0, true)))
    assert(got.size == 3)
  }

  test("perplexity buckets: terciles partition the corpus with monotone surprisal ranges") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = TextOps.perplexityBuckets(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == Set("head", "middle", "tail"))
    // every scored doc lands in exactly one bucket
    val nScored = docs.filter(length(trim(col("text"))) > 0).count()
    assert(got.values.map(_._1).sum == nScored)
    // the tercile construction: head <= lo < middle <= hi < tail
    assert(got("head")._4 <= got("middle")._3, "head/middle overlap")
    assert(got("middle")._4 <= got("tail")._3, "middle/tail overlap")
    // roughly thirds (exact split depends on ties at the thresholds)
    got.values.foreach(v =>
      assert(v._1 > nScored / 5 && v._1 < nScored / 2, s"lopsided: $got"))
  }

  test("Kneser-Ney cross-entropy: formulaic docs score below rare-bigram docs, probabilities stay in (0,1]") {
    import org.apache.spark.sql.functions.col
    // docs 1-8 repeat the same frequent bigrams; doc 9 is made of bigrams
    // seen nowhere else — its smoothed probability must be lower (higher CE)
    val common = (1L to 8L).map(i => (i, "alpha beta alpha beta alpha beta"))
    val rare = Seq((9L, "gamma delta epsilon zeta"))
    val df = (common ++ rare).toDF("doc_id", "text")
    val got = TextOps.knPerplexity(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    assert(got.length == 9)
    val ce = got.map(t => t._1 -> t._3).toMap
    assert((1L to 8L).map(ce).toSet.size == 1, "identical docs must tie")
    assert(ce(9L) > ce(1L), s"rare ${ce(9L)} must exceed common ${ce(1L)}")
    // CE of a probability in (0,1] is >= 0 on every doc
    got.foreach(t => assert(t._3 >= 0, s"negative CE: $t"))
  }

  test("textrank: the hub word outranks its spokes and damped mass is conserved") {
    // star-ish corpus: "hub" is adjacent to every other word, spokes only
    // to hub — centrality must put hub first regardless of raw frequency
    val docs = Seq(
      (1L, "hub red hub blue hub green"),
      (2L, "red hub green hub blue"),
      (3L, "hub yellow")).toDF("doc_id", "text")
    val got = TextOps.textrankKeywords(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    assert(got.head._1 == "hub", s"top: ${got.toSeq}")
    assert(got.length == 5)
    assert(got.forall(_._2 > 0))
    // damped PageRank over a dangling-free graph conserves rank mass:
    // scaled ranks (mean 1.0) must sum to the vocabulary size
    val total = got.map(_._2).sum
    assert(math.abs(total - 5.0) < 1e-3, s"mass: $total")
    // spokes with identical attachment tie exactly (quantized space)
    val spokes = got.toMap
    assert(spokes("red") == spokes("blue") && spokes("blue") == spokes("green"),
      s"asymmetric spokes: ${got.toSeq}")
  }

  test("textrank: driver-resident rank rounds match the distributed " +
    "plan exactly (r17b fast path)") {
    val docs = Seq(
      (1L, "hub red hub blue hub green"),
      (2L, "red hub green hub blue"),
      (3L, "hub yellow yellow mauve"),
      (4L, "mauve red blue mauve")).toDF("doc_id", "text")
    val fast = TextOps.textrankKeywords(docs).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    graft.ops.Exec.releaseAll(spark)
    val slow = Exec.distributedOnly(TextOps.textrankKeywords(docs).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq)
    graft.ops.Exec.releaseAll(spark)
    assert(fast == slow, s"fast=$fast slow=$slow")
  }

  test("token counts: six consumers give the same rows after clearPinned") {
    val docs = Seq(
      (1L, "src0", "alpha beta alpha gamma"),
      (2L, "src1", "beta beta delta"),
      (3L, "src0", "alpha delta epsilon zeta eta theta iota kappa"),
      (4L, "src2", "gamma gamma gamma beta alpha"))
      .toDF("doc_id", "source", "text")
    def norm(rs: Array[org.apache.spark.sql.Row]): Seq[Seq[Any]] =
      rs.map(r => (0 until r.length)
        .map(i => if (r.isNullAt(i)) null else r.get(i))).toSeq
    graft.ops.Exec.releaseAll(spark)
    val runs: Seq[(String, () => Array[org.apache.spark.sql.Row])] = Seq(
      ("tokenFrequency", () => TextOps.tokenFrequency(docs, 5).collect()),
      ("heavyHitters", () => TextOps.heavyHitters(docs, 10.0).collect()),
      ("featureHashing", () => TextOps.featureHashing(docs, 8).collect()),
      ("zipfFit", () => TextOps.zipfFit(docs, 5).collect()),
      ("jsDivergence", () => TextOps.jsDivergence(docs).collect()),
      ("oovRate", () => TextOps.oovRate(docs, Seq(2, 4)).collect()))
    runs.foreach { case (name, f) =>
      val first = norm(f())
      graft.ops.Exec.clearPinned(spark) // the between-query contract
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name: clearPinned left RDD blocks pinned")
      val again = norm(f())
      graft.ops.Exec.clearPinned(spark)
      assert(again == first, s"$name: again=$again first=$first")
    }
    // the global rollup of the per-source counts equals a direct count
    val direct = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).count()
      .orderBy(col("count").desc, col("token")).limit(5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val rolled = TextOps.tokenFrequency(docs, 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.ops.Exec.clearPinned(spark)
    assert(rolled == direct, s"rollup=$rolled direct=$direct")
  }

  test("unigram LM: textbook corpus — char coverage, whole-word dominance") {
    // 50× "hello world" + 10× the fragmented variant: frequent whole words
    // must survive as single pieces; every char of every word occurrence
    // must be covered by exactly one Viterbi piece (the Σ c·len invariant)
    val df = Seq.tabulate(60) { i =>
      (i.toLong, if (i < 50) "hello world" else "hell low orld")
    }.toDF("doc_id", "text")
    // 30 candidate slots: the corpus has 29 distinct substrings ≤6 chars
    // (single chars included — they out-rank rare whole words at smaller
    // budgets and "hello" would rightly segment as hell+o)
    val out = TextOps.unigramLmPieces(df, vocabSize = 30).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // total chars across word occurrences:
    // 50·(5+5) + 10·(4+3+4) = 610, covered exactly once per EM round
    val totalChars = 610L
    assert(out.map { case (p, _, _, c1) => c1 * p.length }.sum == totalChars,
      s"round-1 coverage broken: $out")
    assert(out.map { case (p, _, _, _) => p }.distinct.length == out.length)
    val c2 = out.map { case (p, _, _, _) => p }
      .zip(out.map(_._4)).toMap
    assert(c2.getOrElse("hello", 0L) >= 50L, s"hello not dominant: $out")
    assert(c2.getOrElse("world", 0L) >= 50L, s"world not dominant: $out")
    // the round-2 coverage invariant holds too
    assert(out.map { case (p, _, _, _) => p }
      .zip(out.map(_._4)).map { case (p, c) => c * p.length }.sum == totalChars)
  }

  test("unigram Viterbi fold == exhaustive segmentation search (200 random lattices)") {
    // 200 deterministic random lattices, all evaluated in ONE DataFrame
    // pass through the IDENTICAL expressions the trainer runs; each case
    // verified against (a) full 2^(len-1) segmentation enumeration for
    // the optimal packed key, and (b) an independent right-to-left
    // smallest-i backtrack for the tie rule
    val rnd = new scala.util.Random(20260815L)
    val cases = (0 until 200).map { id =>
      val len = 1 + rnd.nextInt(8)
      val word = Seq.fill(len)(('a' + rnd.nextInt(3)).toChar).mkString
      val subs = (for {
        i <- 0 until len; l <- 1 to (len - i)
      } yield word.substring(i, i + l)).distinct
      // all single chars (coverage) + a random half of the multi-grams,
      // random negative quantized-log scores
      val vocab = subs.filter(s => s.length == 1 || rnd.nextBoolean())
        .map(s => s -> -(1L + rnd.nextInt(20000000))).toMap
      val es = (for {
        i <- 0 until len; l <- 1 to (len - i)
        p = word.substring(i, i + l) if vocab.contains(p)
      } yield VEdge(i + l, i, vocab(p))).sortBy(e => (e.j, e.i))
      (id, word, es, vocab)
    }
    val got = cases.map { case (id, w, es, _) => (id, w, es) }
      .toDF("id", "word", "es")
      .withColumn("dp", expr(TextOps.ViterbiDpExpr))
      .withColumn("cuts", expr(TextOps.ViterbiCutsExpr))
      .collect()
      .map(r => r.getInt(0) -> ((r.getSeq[Long](3), r.getSeq[Int](4)))).toMap
    cases.foreach { case (id, word, es, vocab) =>
      val len = word.length
      def key(pieces: Seq[String]): Long = 64L * pieces.map(vocab).sum - pieces.length
      val bestKey = (for {
        mask <- 0 until (1 << (len - 1))
        cuts = 0 +: (1 until len).filter(b => ((mask >> (b - 1)) & 1) == 1) :+ len
        pieces = cuts.sliding(2).map(s => word.substring(s.head, s.last)).toSeq
        if pieces.forall(vocab.contains)
      } yield key(pieces)).max
      val (dp, cuts) = got(id)
      assert(dp.last == bestKey, s"case $id '$word': dp ${dp.last} != $bestKey")
      val pieces = cuts.sliding(2).map(s => word.substring(s.head, s.last)).toSeq
      assert(pieces.forall(vocab.contains), s"case $id: non-vocab piece in $pieces")
      assert(key(pieces) == bestKey, s"case $id: suboptimal segmentation $pieces")
      // independent backtrack: smallest split point at every step
      val sdp = Array.fill(len + 1)(Long.MinValue / 4)
      sdp(0) = 0L
      es.foreach { e =>
        if (sdp(e.i) + e.skey * 64 - 1 > sdp(e.j)) sdp(e.j) = sdp(e.i) + e.skey * 64 - 1
      }
      val bf = scala.collection.mutable.ListBuffer(len)
      var pos = len
      while (pos > 0) {
        val bi = es.filter(e => e.j == pos &&
          sdp(e.i) + e.skey * 64 - 1 == sdp(pos)).map(_.i).min
        bf.prepend(bi)
        pos = bi
      }
      assert(cuts == bf.toSeq, s"case $id '$word': cuts $cuts != $bf")
    }
  }

  test("unigram LM encode: fertility on the textbook corpus") {
    val df = Seq.tabulate(60) { i =>
      (i.toLong, if (i < 50) "hello world" else "hell low orld")
    }.toDF("doc_id", "text")
    // budget 20: the single chars (l=140, o=80) and the 60-count tier fill
    // the vocab, so the 50-count whole words hello/world fall out and must
    // segment as subwords: hello -> hell+o, world -> w+orld, low -> lo+w;
    // hell and orld (60-tier) stay whole
    val got = TextOps.unigramLmEncode(df, vocabSize = 20).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.size == 60)
    assert(got(0L) == ((2L, 4L, 2.0)), s"got ${got(0L)}")
    assert(got(55L) == ((3L, 4L, 1.3333)), s"got ${got(55L)}")
  }

  test("unigram LM: real corpus — nonempty, coverage invariant at both rounds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // topK wide open: the tiling invariant needs EVERY vocab row
    val out = TextOps.unigramLmPieces(docs, topK = 1000).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val totalChars = docs
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(length(col("w")).between(1, 12))
      .agg(sum(length(col("w")))).collect()(0).getLong(0)
    assert(out.map { case (p, c1, _) => c1 * p.length }.sum == totalChars,
      "round-1 Viterbi pieces must tile every word exactly")
    assert(out.map { case (p, _, c2) => c2 * p.length }.sum == totalChars,
      "round-2 Viterbi pieces must tile every word exactly")
  }

  test("pipeline e2e: stage invariants hold on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextOps.pipelineE2E(docs)
    val rows = out.collect()
    assert(rows.nonEmpty, "pipeline must keep something at sf0.001")
    val ids = rows.map(_.getAs[Long]("doc_id"))
    // stage 3: the eval slice never reaches the training output
    assert(ids.forall(_ % 97 != 0), "eval docs leaked into the output")
    // stage 1+2: survivors passed the filter and are fingerprint-unique
    val kept = TextOps.filterDecisions(docs).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.forall(kept), "a filtered-out doc survived the pipeline")
    val fps = docs.filter(col("doc_id").isin(ids: _*))
      .select(TextOps.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps.distinct.length == fps.length, "duplicate fingerprints survived")
    // stage 5: the packer's running cut is self-consistent
    rows.foreach { r =>
      assert(r.getAs[Long]("n_seqs_spanned") ==
        r.getAs[Long]("last_seq") - r.getAs[Long]("first_seq") + 1)
    }
    // and strictly fewer docs than the raw corpus went through
    assert(rows.length < docs.count())
  }

  private val pipelineArgs = (Map("src0" -> 9000, "src1" -> 5000, "src2" -> 500), 7500, 97L, 5, 512)

  private def pipelineBranches(docs: org.apache.spark.sql.DataFrame) = {
    val (keepBp, defaultBp, evalMod, n, budget) = pipelineArgs
    (TextOps.pipelineE2EOnDriver(docs, keepBp, defaultBp, evalMod, n, budget),
      TextOps.pipelineE2EDistributed(docs, keepBp, defaultBp, evalMod, n, budget))
  }

  private def pipelineDocs(rows: (Long, String, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  test("pipeline e2e: the driver branch equals the distributed branch on the corpus and edge cases") {
    val rng = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    def good(len: Int): String = Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val (t1, t2, evalText) = (good(30), good(40), good(25))
    val edge = pipelineDocs(
      (910001L, "", "src0"), (910002L, " \t\n ", "src0"), (910003L, "solo", "src1"),
      (910004L, t1, "src0"), (910005L, t1, "src1"),          // exact duplicate texts
      (910006L, "  " + t1.toUpperCase.replace(" ", "\t\n  ") + "\n", "src0"),
      (910007L, "İstanbul ẞtraße " + t2, "src0"),          // non-ASCII case folding
      (910008L, "i̇stanbul ßtraße " + t2, "src1"),
      (97L * 9400, evalText, "src0"),                         // eval slice
      (910009L, evalText.split(" ").take(6).mkString(" ") + " " + good(30), "src0"),
      (910010L, good(50), "other"), (910011L, good(50), null), (910012L, good(50), "src2"),
      (910013L, Seq.fill(20)("w1 w2").mkString(" "), "src0")) // repetitive
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cases = Seq(
      "sf0.001 corpus" -> corpus,
      "edge docs" -> edge,
      "corpus + edge docs" -> corpus.select("doc_id", "text", "source").unionByName(edge),
      "empty input" -> edge.limit(0))
    cases.foreach { case (name, docs) =>
      val (driver, distributed) = pipelineBranches(docs)
      assert(driver.isDefined, s"$name: the small input must take the driver branch")
      val (got, want) = (driver.get.collect().toSeq, distributed.collect().toSeq)
      assert(got == want, s"$name: driver=${got.take(5)} distributed=${want.take(5)}")
      assert(driver.get.schema == distributed.schema, s"$name: ${driver.get.schema}")
    }
    val kept = pipelineBranches(edge)._1.get.collect().map(_.getLong(0)).toSet
    assert(kept(910004L) && !kept(910005L) && !kept(910006L), s"keep-first dedup: $kept")
    assert(!kept(910008L), s"the case-folded duplicate must go: $kept")
    assert(!kept(910009L), s"the doc sharing a 5-gram with the eval slice must go: $kept")
  }

  test("pipeline e2e: null text and a batch of a few very long documents take the distributed branch") {
    val withNull = pipelineDocs((1L, "a b c d e f g h i j k", "src0"), (2L, null, "src0"))
    assert(pipelineBranches(withNull)._1.isEmpty)
    assert(TextOps.pipelineE2E(withNull).collect().toSeq == pipelineBranches(withNull)._2.collect().toSeq)
    val long = pipelineDocs((1 to 3).map(d =>
      (d.toLong, (0 until 30000).map(i => s"d${d}w$i").mkString(" "), "src0")): _*)
    assert(Exec.collectInternalIfSmall(TextOps.pipelineFeatures(long, 5), Exec.SmallInputRows, 512L << 10).isEmpty,
      "three 30k-token documents exceed a 512 KiB budget")
    assert(pipelineBranches(long)._1.isDefined, "the default budget holds them")
  }

  test("fertilityByLang: exact counts, and the rollup agrees with bpeEncode per-doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa aaaa bb", "xx"),
      (2L, "aaaa cc", "xx"),
      (3L, "dd ee ff gg", "yy"))
      .toDF("doc_id", "text", "lang")
    val byLang = TextOps.fertilityByLang(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(byLang.keySet == Set("xx", "yy"))
    val xx = byLang("xx")
    assert(xx.getLong(1) == 2L, "two xx docs")
    assert(xx.getLong(2) == 5L, "xx word occurrences")
    assert(xx.getLong(4) == 16L, "xx chars: 4+4+2+4+2")
    val yy = byLang("yy")
    assert(yy.getLong(1) == 1L && yy.getLong(2) == 4L && yy.getLong(4) == 8L)
    // fertility = subwords/words; chars_per_subword = chars/subwords —
    // internally consistent and bounded by [1, chars/words]
    Seq(xx, yy).foreach { r =>
      assert(r.getDouble(5) >= 1.0 - 1e-9)
      assert(math.abs(r.getDouble(5) - r.getLong(3).toDouble / r.getLong(2)) < 1e-3)
      assert(math.abs(r.getDouble(6) - r.getLong(4).toDouble / r.getLong(3)) < 1e-3)
    }
    // cross-op agreement: summing bpeEncode's per-doc counts over each
    // language reproduces the rollup (stage-interface consistency)
    val perDoc = TextOps.bpeEncode(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(perDoc(1L)._1 + perDoc(2L)._1 == xx.getLong(2))
    assert(perDoc(1L)._2 + perDoc(2L)._2 == xx.getLong(3))
    assert(perDoc(3L)._1 == yy.getLong(2) && perDoc(3L)._2 == yy.getLong(3))
  }

  test("jsDivergence: hand-computed overlap pair, ln2 for disjoint vocabularies") {
    import spark.implicits._
    // A: p(a)=2/3, p(b)=1/3; B: mirrored → JS = (2/3)ln(4/3)+(1/3)ln(2/3)
    //   = 0.0566 at q4. C shares no tokens with A → JS = ln 2 = 0.6931.
    val docs = Seq(
      (1L, "a a b", "A"), (2L, "a b b", "B"), (3L, "c c", "C"))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.jsDivergence(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rows.size == 3)
    val ab = rows(("A", "B"))
    assert(ab._1 == 2 && ab._2 == 2, s"A-B union/shared $ab")
    val want = math.floor(
      ((2.0 / 3) * math.log(4.0 / 3) + (1.0 / 3) * math.log(2.0 / 3))
        * 10000 + 0.5) / 10000
    assert(ab._3 == want, s"A-B js ${ab._3} vs $want")
    val ac = rows(("A", "C"))
    assert(ac._2 == 0 && ac._3 == math.floor(math.log(2.0) * 10000 + 0.5) / 10000,
      s"disjoint pair must sit at ln2: $ac")
    // symmetry: the operator emits each unordered pair exactly once
    assert(!rows.contains(("B", "A")) && !rows.contains(("C", "A")))
  }

  test("rougeL: hand-computed LCS, identical-pair saturation, disjoint-pair zero guard") {
    import spark.implicits._
    // LCS("a b c b d", "b d c a b") = 3 ("b c b"); identical docs (1,4)
    // saturate at f1 = 1; disjoint (1,3) must hit the lcs = 0 guard
    val docs = Seq(
      (1L, "a b c b d"), (2L, "b d c a b"), (3L, "x y z"), (4L, "a b c b d"))
      .toDF("doc_id", "text")
    val rows = TextOps.rougeL(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))).toMap
    assert(rows.size == 6)
    assert(rows((1L, 2L)) == ((5, 5, 3, 0.6, 0.6, 0.6)), s"${rows((1L, 2L))}")
    assert(rows((1L, 4L)) == ((5, 5, 5, 1.0, 1.0, 1.0)), s"${rows((1L, 4L))}")
    assert(rows((1L, 3L)) == ((5, 3, 0, 0.0, 0.0, 0.0)), s"${rows((1L, 3L))}")
  }

  test("shuffleShards: matches a driver-side replication and is input-order invariant") {
    import spark.implicits._
    val fixture = (0L until 60L).map(i =>
      (i, s"src${(i % 3)}", 10L + i))
    val docs = fixture.toDF("doc_id", "source", "n_chars")
    def pos(id: Long): Long =
      graft.functions.Md5Hash61.hash61(s"shuf:$id".getBytes("UTF-8"))
    val nShards = 2
    // driver-side replication: per shard, docs in pos order, run lengths
    val byShard = fixture.groupBy { case (id, _, _) => (pos(id) % nShards).toInt }
      .view.mapValues(_.sortBy { case (id, _, _) => (pos(id), id) }).toMap
    val got = TextOps.shuffleShards(docs, nShards).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.size == nShards)
    (0 until nShards).foreach { s =>
      val rows = byShard(s)
      val runs = rows.map(_._2).foldLeft(List.empty[(String, Long)]) {
        case ((src, len) :: rest, cur) if src == cur => (src, len + 1) :: rest
        case (acc, cur) => (cur, 1L) :: acc
      }
      assert(got(s) == ((rows.size.toLong, rows.map(_._2).distinct.size.toLong,
        rows.map(_._3).sum, rows.head._1, runs.map(_._2).max)), s"shard $s: ${got(s)}")
    }
    // the permutation is a function of doc_id alone: reversed input, same audit
    val reversed = fixture.reverse.toDF("doc_id", "source", "n_chars")
    val again = TextOps.shuffleShards(reversed, nShards).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(again.toSeq == TextOps.shuffleShards(docs, nShards).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq)
  }

  test("source diversity: uniform mix scores effective-sources == sources; dominance collapses it") {
    import spark.implicits._
    def q4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    // 4 sources x equal 3-token docs -> p = 1/4 each, H = ln 4,
    // eff = 4, inv-simpson = 4
    val uniform = (0 until 4).flatMap(s => Seq((s"s$s", "a b c")))
      .toDF("source", "text")
    val u = TextOps.sourceDiversity(uniform).collect()
    assert(u.length == 4)
    u.foreach { r =>
      assert(r.getAs[Double]("share") == 0.25)
      assert(r.getAs[Double]("eff_sources") == 4.0,
        s"eff_sources ${r.getAs[Double]("eff_sources")}")
      assert(r.getAs[Double]("inv_simpson") == 4.0)
    }
    // dominant source: 9 tokens vs 1 -> eff well under 2
    val skewed = Seq(("big", "a b c d e f g h i"), ("small", "z"))
      .toDF("source", "text")
    val s = TextOps.sourceDiversity(skewed).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(5), r.getDouble(6))).toMap
    assert(s("big")._1 == 9L && s("small")._1 == 1L)
    assert(s("big")._2 == 0.9 && s("small")._2 == 0.1)
    val h = -(0.9 * math.log(0.9)) + -(0.1 * math.log(0.1))
    assert(s("big")._3 == q4(math.exp(h)), s"eff ${s("big")._3}")
    assert(s("big")._4 == q4(1.0 / (0.81 + 0.01)))
  }

  test("dsir weights: LM-ratio math matches an independent reimplementation; top-k selects exactly k") {
    import java.security.MessageDigest
    def hash32(s: String): Long =
      java.lang.Long.parseLong(
        MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString, 16)
    def bucket(t: String): Long = hash32(t) % 64
    // target (en) talks about alpha, raw (de) about beta; doc 5 mixes
    val rows = Seq(
      (1L, "alpha alpha beta", "en"), (2L, "alpha gamma", "en"),
      (3L, "beta beta beta", "de"), (4L, "beta gamma", "de"),
      (5L, "alpha beta", "de"))
    val docs = rows.toDF("doc_id", "text", "lang")
    // independent reimplementation of the smoothed LM ratio
    val toks = rows.map { case (id, t, l) => (id, t.split(" ").toSeq, l) }
    val ct = toks.filter(_._3 == "en").flatMap(_._2).groupBy(bucket)
      .map { case (b, g) => b -> g.size.toLong }
    val cr = toks.flatMap(_._2).groupBy(bucket)
      .map { case (b, g) => b -> g.size.toLong }
    val tTot = toks.filter(_._3 == "en").map(_._2.size).sum.toLong
    val rTot = toks.map(_._2.size).sum.toLong
    def lr(b: Long): Double =
      math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tTot + 64).toDouble) -
        math.log((cr(b) + 1).toDouble / (rTot + 64).toDouble)
    def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = toks.map { case (id, ts, _) =>
      id -> round6(ts.groupBy(bucket)
        .map { case (b, g) => g.size * lr(b) }.sum)
    }.toMap
    val got = TextOps.dsirWeights(docs, k = 3).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    expected.foreach { case (id, w) =>
      assert(got(id)._2 == w, s"doc $id: got ${got(id)._2}, want $w")
    }
    // the all-alpha target-typical doc must outscore the all-beta raw doc
    assert(got(1L)._2 > got(3L)._2)
    // distinct gumbel keys in this fixture → exactly k selected
    assert(got.values.map(_._3).toSeq.distinct.size == 5)
    assert(got.values.count(_._4) == 3, got.toString)
    // n_toks faithful
    assert(got(1L)._1 == 3L && got(4L)._1 == 2L)
  }

  test("canonicalUrlDedup: scheme/case/www/port/fragment/tracking/slash " +
    "obfuscations of one page collapse to one canonical key") {
    import spark.implicits._
    // doc_ids 0..3 are the four variants of page 0; 4..7 of page 1;
    // 2000 repeats page 0's variant 0 VERBATIM (n_urls > n_raw_forms)
    val docs = (Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 2000L))
      .map(id => (id, "plain text")).toDF("doc_id", "text")
    val rows = TextOps.canonicalUrlDedup(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(
      "example0.org/page/0", "example0.org/page/0?ref=0&z=1",
      "example1.org/page/1", "example1.org/page/1?ref=1&z=1"))
    val m = rows.toMap
    // page 0: variants 0,1,2 from docs 0,1,2 plus doc 2000's verbatim
    // repeat of variant 0 -> 4 urls, only 3 distinct raw forms
    assert(m("example0.org/page/0?ref=0&z=1") == ((4L, 3L, 4L)))
    assert(m("example0.org/page/0") == ((1L, 1L, 1L)))
    assert(m("example1.org/page/1?ref=1&z=1") == ((3L, 3L, 3L)))
    assert(m("example1.org/page/1") == ((1L, 1L, 1L)))
  }

  test("htmlTextLines/htmlExtract: fixture page with known structure — " +
    "script/style dropped, block tags split, inline tags stripped") {
    import spark.implicits._
    val html = "<html><head><title>My Site</title>" +
      "<style>p{color:red}</style><script>var x=1;</script></head>" +
      "<body><nav><a href=\"/\">Home</a> <a href=\"/b\">Blog</a></nav>" +
      "<h1>A   Post</h1>" +
      "<p>This is the real article text, with <b>bold</b> words in it.</p>" +
      "<footer>We use cookies.</footer></body></html>"
    val pages = Seq((1L, html)).toDF("doc_id", "html")
    val lines = pages.select(TextOps.htmlTextLines(col("html")).as("l"))
      .head().getSeq[String](0)
    assert(lines == Seq("My Site", "Home Blog", "A Post",
      "This is the real article text, with bold words in it.",
      "We use cookies."), lines.toString)
    val ex = TextOps.htmlExtract(pages).head()
    assert(ex.getLong(1) == html.length, "n_html_chars")
    // extracted text = the five lines joined by single spaces
    assert(ex.getLong(2) == lines.mkString(" ").length, "n_text_chars")
    assert(ex.getLong(4) == 2L, "n_links: Home + Blog")
    assert(ex.getLong(5) == "HomeBlog".length.toLong, "link_chars")
  }

  test("htmlBoilerplateCensus: precedence buckets are disjoint, sum to " +
    "n_lines, and each arm of the C4 rule fires on the fixture") {
    import spark.implicits._
    val html = "<html><body>" +
      "<p>Tiny.</p>" + // 1 word w/ punct -> short
      "<p>no terminal punctuation here at all</p>" + // nopunct
      "<p>This sentence is long enough and properly terminated.</p>" + // kept
      "<p>Please accept our cookie banner now.</p>" + // blacklist wins
      "</body></html>"
    val r = TextOps.htmlBoilerplateCensus(
      Seq((7L, html)).toDF("doc_id", "html")).head()
    val (nl, nb, ns, nn, nk, kc) = (r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    assert((nl, nb, ns, nn, nk) == ((4L, 1L, 1L, 1L, 1L)), r.toString)
    assert(nb + ns + nn + nk == nl, "buckets must partition the lines")
    assert(kc ==
      "This sentence is long enough and properly terminated.".length)
    assert(r.getDouble(7) == 0.75, "boiler_ratio 3/4")
  }

  test("piiRedactCensus: fixture doc with known PII — exact counts, " +
    "redaction order, fingerprint of the hand-redacted text") {
    import spark.implicits._
    val text = "Mail a.b+c@test.org or x@y.io, call +44 20 79460000, " +
      "server 192.168.1.254 answered"
    val r = TextOps.piiRedactCensus(Seq((1L, text)).toDF("doc_id", "text"))
      .head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L && r.getLong(3) == 1L,
      s"email/phone/ip counts: $r")
    assert(r.getLong(4) == 4L, "n_redacted sums the buckets")
    val want = "Mail <EMAIL> or <EMAIL>, call <PHONE>, server <IP> answered"
    val md = java.security.MessageDigest.getInstance("MD5")
    val wantFp = md.digest(want.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getString(6) == wantFp, "redacted payload drifted")
    assert(r.getLong(5) == (want.length - text.length).toLong)
    // injection: every bucket non-vacuous on the driver corpus
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val agg = TextOps.piiRedactCensus(TextOps.syntheticPiiDocs(docs))
      .agg(sum(col("n_email")), sum(col("n_phone")), sum(col("n_ipv4")),
        sum(when(col("n_email") > 0 && col("n_phone") > 0 &&
          col("n_ipv4") > 0, 1L).otherwise(0L))).head()
    assert(agg.getLong(0) > 0 && agg.getLong(1) > 0 && agg.getLong(2) > 0)
    assert(agg.getLong(3) > 0, "multi-PII docs (lcm moduli) must exist")
  }

  test("syntheticPages wrapper populates EVERY census bucket by " +
    "construction, independent of driver-corpus structure") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val census = TextOps.htmlBoilerplateCensus(TextOps.syntheticPages(docs))
    val agg = census.agg(
      sum(col("n_blacklist")), sum(col("n_short")), sum(col("n_nopunct")),
      sum(col("n_kept")),
      sum(when(col("n_lines") =!=
        col("n_blacklist") + col("n_short") + col("n_nopunct") + col("n_kept"),
        1L).otherwise(0L))).head()
    assert(agg.getLong(0) > 0, "blacklist arm vacuous")
    assert(agg.getLong(1) > 0, "short arm vacuous")
    assert(agg.getLong(2) > 0, "nopunct arm vacuous")
    assert(agg.getLong(3) > 0, "kept arm vacuous")
    assert(agg.getLong(4) == 0, "bucket partition invariant broken")
    // and the markup census: links + nonzero text on every page
    val ex = TextOps.htmlExtract(TextOps.syntheticPages(docs))
    assert(ex.filter(col("n_links") =!= 4 || col("n_text_chars") === 0)
      .count() == 0, "every synthetic page has 4 links and visible text")
  }
}
