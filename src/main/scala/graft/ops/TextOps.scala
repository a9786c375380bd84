package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators over the `documents` table (SURVEY.md §2.12 +
  * LLM-pipeline extensions): normalization, tokenization, token statistics,
  * quality scoring, language ID, and content fingerprinting.
  *
  * All column expressions are built-ins (codegen'd, no UDFs): at 100 TB these
  * run at scan speed with no shuffle except the final aggregates.
  */
object TextOps {

  /** The exact (source, token, n) count table that six operators (token
    * frequency, heavy hitters, feature hashing, Zipf fit, JS divergence,
    * OOV curve) reduce: VOCABULARY-sized (never the token stream), so
    * global counts are exact integer rollups of the per-source counts.
    *
    * NOTE: the build ends in an EAGER `localCheckpoint` (tracked for
    * release at the next [[Exec.clearPinned]]), so constructing any
    * consumer frame runs a Spark job at DataFrame-construction time, not
    * at first action. */
  private[graft] def sourceTokenCounts(docs: DataFrame): DataFrame = {
    // tolerate source-less frames (library callers, spec fixtures): a
    // constant source yields the same global rollups, and the one consumer
    // that reads sources (jsDivergence) always receives the full table
    val srcCol =
      if (docs.columns.contains("source")) col("source")
      else lit("_").as("source")
    Exec.checkpoint(docs
      .select(srcCol, explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n")))
  }

  /** Global (token, n) counts as an exact rollup of [[sourceTokenCounts]]. */
  private def globalTokenCounts(docs: DataFrame): DataFrame =
    sourceTokenCounts(docs)
      .groupBy(col("token")).agg(sum(col("n")).as("n"))

  /** Whitespace-collapsed, trimmed, lowercased text — the canonical form all
    * fingerprints/shingles are computed over.
    */
  def normalize(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokenization of normalized text. */
  def tokens(c: Column): Column = split(normalize(c), " ")

  /** Deterministic 128-bit content fingerprint of the normalized text.
    * (md5 rather than a rolling hash so any engine can reproduce it.)
    */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Per-language corpus statistics. */
  def statsByLang(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_tokens", size(tokens(col("text"))))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"))

  /** Corpus composition diversity — the source-mix audit a curation
    * report leads with: per-source token share plus the two standard
    * concentration summaries, Shannon entropy H = −Σ p ln p (and its
    * exponential, the "effective number of sources" — 20 equal sources
    * score 20, one dominant source scores ~1) and the inverse Simpson
    * index 1/Σ p² (the collision-probability view, harsher on dominance).
    * Shares are exact-integer token-count ratios; the three global
    * summaries aggregate the |sources|-row frame and broadcast back onto
    * it (the [[heavyHitters]] 1-row-total shape), so the fact table is
    * scanned once and everything after is metadata-sized at any corpus
    * scale. ln/exp touch libm once per source → 6/4 dp quantizers absorb
    * the ulp spread.
    */
  def sourceDiversity(docs: DataFrame): DataFrame = {
    def q6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    // one fact scan; persisted because the total and the shares both read
    // it (released under the Exec.clearPinned contract like its siblings)
    val bySrc = Exec.pin(docs
      .withColumn("n_tokens", size(tokens(col("text"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens")))
    val total = bySrc.agg(sum(col("n_tokens")).as("total"))
    val shared = bySrc.crossJoin(broadcast(total))
      .withColumn("p",
        col("n_tokens").cast("double") / col("total").cast("double"))
      .withColumn("hterm", -(col("p") * log(col("p"))))
      .withColumn("p2", col("p") * col("p"))
    val globals = shared.agg(sum(col("hterm")).as("h"),
      sum(col("p2")).as("s2"))
    shared.crossJoin(broadcast(globals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        q6(col("p")).as("share"),
        q6(col("h")).as("entropy"),
        q4(exp(col("h"))).as("eff_sources"),
        q4(lit(1.0) / col("s2")).as("inv_simpson"))
      .orderBy(col("source"))
  }

  /** Global token frequency, top-k (explode → count → top-k). The explode
    * fan-out is bounded by total token count; the aggregate is map-side
    * combined before the single shuffle on token.
    * Building the frame runs the [[sourceTokenCounts]] checkpoint job.
    */
  def tokenFrequency(docs: DataFrame, k: Int): DataFrame =
    globalTokenCounts(docs)
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Exact heavy hitters: tokens whose corpus frequency exceeds `supportPct`
    * percent of all tokens (φ-frequent items). Two aggregations — the
    * map-side-combined token count and a one-row total broadcast back as the
    * threshold — so the full pass stays one shuffle on the token key and the
    * output is bounded by 100/φ rows REGARDLESS of corpus size (the property
    * that makes the support threshold, unlike a raw top-k, safe to compute
    * distributed: no global sort, no skew on the limit). The `misra_gries`
    * aggregate (Misra–Gries within partitions, merged) trades exactness for
    * one pass; this is the exact form.
    * Building the frame runs the [[sourceTokenCounts]] checkpoint job.
    */
  def heavyHitters(docs: DataFrame, supportPct: Double): DataFrame = {
    // the token counts are a vocabulary-sized rollup of the per-source
    // counts (exact integers); the persist is load-bearing for the two
    // downstream reads and released under the Exec.clearPinned contract.
    val counts = Exec.cachedScan(Exec.pin(globalTokenCounts(docs)))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") > col("total") * supportPct / 100.0)
      .select(col("token"), col("n"),
        (floor(col("n") / col("total") * 1000000 + 0.5) / 10000).as("pct"))
      .orderBy(col("n").desc, col("token"))
  }

  /** Tiny stopword set used by quality scoring and language ID. Chosen to be
    * reproducible in plain SQL on any engine.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** C4-style scrub pass: digit runs collapse to a `<NUM>` placeholder.
    * Emits the match count and the fingerprint of the scrubbed text (the
    * fingerprint makes the full rewritten payload oracle-comparable without
    * shipping megabytes of text through the compare).
    */
  def scrubDigits(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit("[0-9]+")).cast("int").as("n_digit_runs"),
      md5(regexp_replace(col("text"), "[0-9]+", "<NUM>")).as("scrubbed_fp"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------- PII scrubbing

  /** PII patterns for the detection/redaction pass — deliberately RE2-safe
    * (no backrefs, no lookaround) so the DuckDB oracle replays them
    * verbatim. The usual pipeline triad: emails, international-format
    * phone numbers, dotted-quad IPs.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+[0-9]{1,3} [0-9]{2,4} [0-9]{3,8}", "<PHONE>"),
    ("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))

  /** PII detection + redaction census — the scrub stage every corpus runs
    * before training (emails/phones/IPs out, placeholder tags in): per doc,
    * the per-pattern match counts, the redacted-text fingerprint (payload
    * oracle-comparable without shipping the text), and the char delta.
    * Patterns apply in [[PiiPatterns]] order — email first, so the dotted
    * host of an already-redacted email can't double-count as an IP. Pure
    * per-row expression work: zero shuffle, scan-speed at any corpus size.
    */
  def piiRedactCensus(docs: DataFrame): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col("text")) {
      case (c, (_, pat, tag)) => regexp_replace(c, pat, tag)
    }
    val counts = PiiPatterns.foldLeft(docs.withColumn("redacted", redacted)) {
      case (df, (name, pat, _)) =>
        df.withColumn(s"n_$name",
          regexp_count(col("text"), lit(pat)).cast("long"))
    }
    counts.select(col("doc_id") +: PiiPatterns.map { case (n, _, _) =>
        col(s"n_$n") } :+
        (col("n_email") + col("n_phone") + col("n_ipv4")).as("n_redacted") :+
        (length(col("redacted")) - length(col("text"))).cast("long")
          .as("char_delta") :+
        md5(col("redacted")).as("redacted_fp"): _*)
      .orderBy(col("doc_id"))
  }

  /** Deterministic PII injection for the driver corpus (which is clean
    * text): every doc_id % 3 == 0 doc gains an email, % 5 == 0 a phone,
    * % 7 == 0 an IP — SQL-expressible so the DuckDB oracle replays it, and
    * overlapping moduli exercise multi-PII docs. The census buckets are
    * non-vacuous by construction (the r15 lesson).
    */
  def syntheticPiiDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" Contact user"), col("doc_id").cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit(" or call +352 621 123456 today")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" (logged from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".77)"))).otherwise(lit(""))).as("text"))

  /** Gopher-style repetition signals per document: distinct-token ratio and
    * the fraction of all bigrams taken by the single most frequent bigram.
    * Highly repetitive documents (boilerplate, keyword stuffing, generation
    * loops) show a low distinct ratio and a high top-bigram share — the
    * standard cheap repetition filter for LLM corpora. Computed relationally
    * (explode → count → max per doc): map-side combined, one shuffle on
    * (doc_id, bigram), no per-row quadratic work — the shape that survives
    * 100 TB, unlike a per-document frequency map in a UDF.
    */
  def repetitionStats(docs: DataFrame,
                      maxTopBigramFrac: Double = 0.18,
                      minDistinctRatio: Double = 0.5): DataFrame = {
    val base = docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
    // sequence(0, n-2) counts DOWN when n < 2 — guard single-token docs to
    // an empty bigram list (explode then emits no row; the left join covers)
    val bigrams = base
      .select(col("doc_id"),
        explode(when(size(col("toks")) < 2, array().cast("array<string>"))
          .otherwise(expr(
            "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))")))
          .as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_bigram_n"), sum(col("n")).as("n_bigrams"))
    base.select(col("doc_id"), col("n_tokens"), col("n_distinct"))
      .join(bigrams, Seq("doc_id"), "left")
      .withColumn("distinct_ratio",
        q4(col("n_distinct").cast("double") / col("n_tokens")))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams").isNull, lit(0.0))
          .otherwise(q4(col("top_bigram_n").cast("double") / col("n_bigrams"))))
      .withColumn("is_repetitive",
        col("top_bigram_frac") > maxTopBigramFrac
          || col("distinct_ratio") < minDistinctRatio)
      .select(col("doc_id"), col("n_tokens"), col("distinct_ratio"),
        col("top_bigram_frac"), col("is_repetitive"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic quality score in [0,1]: length saturation + punctuation
    * discipline + stopword prevalence — the standard cheap pre-filter shape
    * for LLM training corpora (cf. C4/Gopher-style rules).
    */
  /** Quantize to 4 decimals with pure double arithmetic. Unlike `round`
    * (whose half-way tie behavior differs between engines — Spark rounds the
    * shortest decimal representation, others round the binary value), this
    * computes identically on any IEEE-754 engine.
    */
  def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000

  /** [[q4]] on the driver: Spark's `floor` of a double yields a long
    * (NaN → 0, saturating), which is then divided as a double. */
  def q4(x: Double): Double = math.floor(x * 10000 + 0.5).toLong / 10000.0

  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val stopHits = size(filter(toks, t => t.isin(Stopwords: _*)))
    val punct = length(regexp_replace(col("text"), "[^.,;:!?]", ""))
    docs
      .withColumn("n_tokens", nTokens)
      .withColumn("len_score", least(col("n_chars") / lit(500.0), lit(1.0)))
      .withColumn("stop_ratio",
        when(nTokens > 0, stopHits.cast("double") / nTokens).otherwise(0.0))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, punct.cast("double") / col("n_chars")).otherwise(0.0))
      .withColumn("quality",
        q4(lit(0.4) * col("len_score") + lit(0.3) * (lit(1.0) - col("punct_ratio"))
          + lit(0.3) * least(col("stop_ratio") * 5.0, lit(1.0))))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        q4(col("len_score")).as("len_score"),
        q4(col("stop_ratio")).as("stop_ratio"),
        q4(col("punct_ratio")).as("punct_ratio"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** BPE-style pre-tokenizer regex (GPT-2-shaped, simplified to the syntax
    * subset Java regex and RE2 treat identically): optional-space-prefixed
    * letter runs, digit runs, punctuation runs, or whitespace runs.
    */
  val BpePattern: String = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"

  /** Token counting with the BPE-ish pre-tokenizer (regexp_count — codegen'd,
    * no explode) vs plain whitespace tokens, per language.
    */
  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_ws_tokens", size(tokens(col("text"))))
      .withColumn("n_bpe_tokens",
        regexp_count(normalize(col("text")), lit(BpePattern)))
      .groupBy(col("lang"))
      .agg(sum(col("n_ws_tokens")).as("ws_tokens"),
        sum(col("n_bpe_tokens")).as("bpe_tokens"),
        round(avg(col("n_bpe_tokens")), 4).as("avg_bpe_tokens"))
      .orderBy(col("lang"))

  /** Marker words per language for the n-gram/stopword language-ID heuristic.
    * Deterministic argmax with a fixed tie-break order (en,de,fr,es,zh).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "la", "y", "es", "los"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Language-ID: count marker-word hits per language over the token set,
    * pick the argmax (ties resolved by marker list order). Aggregated into a
    * (declared_lang, guessed_lang) confusion table.
    */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = LangMarkers.foldLeft(docs.withColumn("toks", toks)) {
      case (acc, (lang, markers)) =>
        acc.withColumn(s"score_$lang",
          size(filter(col("toks"), t => t.isin(markers: _*))))
    }
    val best = LangMarkers.map(_._1).foldRight(lit("und")) { case (lang, alt) =>
      val isMax = LangMarkers.map(_._1).filter(_ != lang)
        .map(o => col(s"score_$lang") >= col(s"score_$o"))
        .reduce(_ && _)
      when(col(s"score_$lang") > 0 && isMax, lit(lang)).otherwise(alt)
    }
    scored
      .withColumn("guessed", best)
      .groupBy(col("lang"), col("guessed"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("guessed"))
  }

  /** Composed keep/drop FILTER DECISION per document — the operator a
    * pretraining pipeline actually ships (cf. C4/Gopher rule stacks): the
    * individual signals (token count, lexical diversity, bigram looping)
    * fold into one verdict plus the FIRST failing rule as the reason, so
    * drop rates are attributable per rule downstream. Pure composition of
    * the existing signal computations — same single explode + aggregate
    * shape, one decision column on top.
    */
  def filterDecisions(docs: DataFrame,
                      minTokens: Int = 10, maxTokens: Int = 100000,
                      minDistinctRatio: Double = 0.3,
                      maxTopBigramFrac: Double = 0.3): DataFrame =
    repetitionStats(docs)
      .withColumn("reason",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_tokens") > maxTokens, "too_long")
          .when(col("distinct_ratio") < minDistinctRatio, "low_diversity")
          .when(col("top_bigram_frac") > maxTopBigramFrac, "repetitive")
          .otherwise("ok"))
      .select(col("doc_id"), col("n_tokens"),
        (col("reason") === "ok").as("keep"), col("reason"))
      .orderBy(col("doc_id"))

  /** Cross-document n-gram repetition scan (boilerplate / eval-contamination
    * detection for a pretraining corpus): the top-k n-grams by the number of
    * DISTINCT documents containing them. TWO passes so the corpus-wide
    * exchange never carries strings: pass 1 explodes the native
    * `shingle_hashes` (per-doc distinct ⇒ plain count == doc frequency) and
    * aggregates 8-byte keys; only hashes meeting `minDocs` qualify — the
    * boilerplate set. Because only the TOP-K by doc count can survive the
    * final limit, the qualifier set is then cut at the k-th-largest count
    * `c_k` (one TakeOrdered over the hash counts + a 1-row broadcast): any
    * hash with `n_docs < c_k` cannot outrank the k hashes already at or
    * above it, so dropping them is EXACT, and the candidate set shrinks
    * from |boilerplate| to ~k + boundary ties. The r13 sf1 graduation
    * measured why this matters: the raw qualifier set outgrew the 1M
    * broadcast gate (7.4× wall at 10× data — pass 2 degraded to a second
    * corpus-wide shuffle); the boundary cut keeps the broadcast-filter
    * path at any corpus size that has ≥k repeated n-grams above the tie
    * floor. Pass 2 re-derives the string shingles and joins the candidate
    * set on `hash61(ngram)`, broadcast below the gate and, past it, the cut
    * materialized and broadcast on its measured size, so the only strings
    * that ever shuffle are candidate n-grams. Counts are exact modulo
    * 61-bit hash collisions (P ≈ n²/2⁶² — the documented contract of the
    * whole hash family).
    */
  def crossDocNgrams(docs: DataFrame, n: Int = 5, minDocs: Int = 2,
                     k: Int = 20,
                     maxBroadcastQualifiers: Long = 1000000L): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    val base = docs.withColumn("toks", tokens(col("text")))
    // pinned: read by the gate count, then by the pass-2 join — and when
    // the boundary cut kicks in, by its probe and filter too
    val counts = Exec.pin(base
      .select(explode(expr(s"shingle_hashes(toks, $n)")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs))
    // ADAPTIVE boundary cut: below the gate the raw set broadcasts as-is
    // (the cut would be pure overhead); past it, cut at c_k instead of
    // degrading to a corpus-wide string shuffle
    val qualifying =
      if (counts.count() <= maxBroadcastQualifiers) broadcast(counts)
      else {
        // k-th-largest count (TakeOrdered: per-partition top-k, k-row
        // merge over the CACHED counts); empty-corpus degenerate: min over
        // no rows is null, the filter drops all
        val ck = counts.orderBy(col("n_docs").desc).limit(k)
          .agg(min(col("n_docs")).as("ck"))
        // materialized: the cut is ~k rows plus ties, but its static
        // estimate is that of all of `counts`, which would plan pass 2 as
        // a shuffle of the corpus strings
        Exec.broadcastIfKnownSmall(Exec.checkpoint(
          counts.crossJoin(broadcast(ck))
            .filter(col("n_docs") >= col("ck"))
            .select(col("h"), col("n_docs"))))
      }
    // pass 2 re-derives string shingles row-at-a-time (transient, CPU-only —
    // they are broadcast-filtered against the qualifier set BEFORE the first
    // exchange, so corpus-scale strings never shuffle). Measured note: slicing
    // strings from `toks` only for qualifying posexplode positions is SLOWER,
    // not faster — carrying the token array through the explode copies it once
    // per position (O(len²) bytes/doc in Tungsten rows).
    base
      .select(explode(DedupOps.shinglesFromTokens(col("toks"), n)).as("ngram"))
      .withColumn("h", expr("hash61(ngram)"))
      .join(qualifying, Seq("h"))
      .groupBy(col("ngram"))
      .agg(first(col("n_docs")).as("n_docs"))
      .orderBy(col("n_docs").desc, col("ngram"))
      .limit(k)
  }

  /** Fixed-size overlapping character chunking — the RAG/context-window
    * preparation operator: chunk i covers [i·stride, i·stride + size). Pure
    * per-row `sequence` + `explode` + `substring` (codegen'd, no UDF): a
    * document fans out into ⌈len/stride⌉ rows with no shuffle at all, so at
    * corpus scale chunking runs at scan speed and the chunk id is stable
    * (doc_id, chunk_idx). Chunks travel as md5 fingerprints, not payloads.
    */
  def chunkFixedOverlap(docs: DataFrame, size: Int = 120, stride: Int = 90): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          ceil(length(col("text")).cast("double") / stride).cast("long") - 1))
          .as("chunk_idx"))
      .withColumn("chunk",
        expr(s"substring(text, CAST(chunk_idx * $stride + 1 AS INT), $size)"))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** PII patterns shared with the oracle SQL — restricted to the regex
    * subset Java and RE2 treat identically (no backrefs, no lookaround).
    */
  val EmailRe: String = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val UrlRe: String = "https?://[^ ]+"
  val PhoneRe: String = "\\+[0-9][0-9-]{6,}[0-9]"

  /** PII scrubbing pass (emails → `<EMAIL>`, URLs → `<URL>`, phone numbers →
    * `<PHONE>`, applied in that fixed order): the corpus here contains no
    * PII, so a deterministic synthetic contact line derived from doc_id is
    * appended first — making the scrub observable — and the oracle replays
    * the same augmentation. Counts come from `regexp_count` on the augmented
    * text; the scrubbed payload is compared by md5 fingerprint. All
    * codegen'd per-row expressions, no shuffle before the final sort.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail.example via https://site"),
      col("doc_id"), lit(".example/p or +1-555-01"),
      lpad((col("doc_id") % 100).cast("string"), 2, "0"))
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(aug, EmailRe, "<EMAIL>"),
          UrlRe, "<URL>"),
        PhoneRe, "<PHONE>")
    docs.select(col("doc_id"),
        regexp_count(aug, lit(EmailRe)).cast("int").as("n_emails"),
        regexp_count(aug, lit(UrlRe)).cast("int").as("n_urls"),
        regexp_count(aug, lit(PhoneRe)).cast("int").as("n_phones"),
        length(scrubbed).as("scrub_len"),
        md5(scrubbed).as("scrub_fp"))
      .orderBy(col("doc_id"))
  }

  /** Exact block-level dedup (the C4 "duplicate paragraph removal" shape on
    * a corpus without paragraph marks): split each document into
    * non-overlapping `blockTokens`-token blocks, keep the globally FIRST
    * occurrence of each distinct block (ordered by doc_id, block position),
    * report per-document duplication. The shuffle is keyed by the block's
    * md5 fingerprint — never the block text — so the wide exchange carries
    * 32-char keys; survivor choice is a row_number over (doc_id, block_idx),
    * deterministic on any engine.
    */
  def duplicateBlocks(docs: DataFrame, blockTokens: Int = 10): DataFrame = {
    val blocks = docs
      .withColumn("toks", tokens(col("text")))
      // empty docs emit NO blocks: sequence(0, -1) DESCENDS in Spark, so an
      // unguarded transform would fabricate phantom indices [0, -1] with
      // md5('') fingerprints — the guard matches DuckDB range(0, n)
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(toks) = 0 THEN CAST(array() AS array<string>)
           |ELSE transform(sequence(0, CAST(floor((size(toks) - 1) / $blockTokens) AS INT)),
           |  i -> md5(concat_ws(' ', slice(toks, i * $blockTokens + 1, $blockTokens)))) END""".stripMargin))
        .as(Seq("block_idx", "block_fp")))
    val w = Window.partitionBy(col("block_fp")).orderBy(col("doc_id"), col("block_idx"))
    blocks.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        count(when(col("rn") > 1, 1)).as("n_dup_blocks"))
      .withColumn("dup_frac",
        q4(col("n_dup_blocks").cast("double") / col("n_blocks")))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level duplicate-block REMOVAL — the rewrite step that follows
    * [[duplicateBlocks]]'s diagnostic: every non-first occurrence of a
    * repeated `blockTokens`-token block is cut from its document and the
    * survivors are re-concatenated in order (the C4/RefinedWeb "remove
    * duplicated spans, keep the first" transformation, not just the count).
    *
    * Scale shape: the global winner election shuffles ONLY (block_fp 32ch,
    * doc_id, block_idx) — never text. The per-doc list of losing block
    * indices (tiny: ints) joins back to `docs` on doc_id; the single wide
    * exchange is the documents themselves keyed by doc_id, which any
    * rewrite that emits text must pay exactly once. Token excision is a
    * codegen'd higher-order `filter` over positions — no explode of the
    * text side at all.
    */
  def rewriteDedupBlocks(docs: DataFrame, blockTokens: Int = 10): DataFrame = {
    val blocks = docs
      .withColumn("toks", tokens(col("text")))
      // empty docs emit NO blocks: sequence(0, -1) DESCENDS in Spark, so an
      // unguarded transform would fabricate phantom indices [0, -1] with
      // md5('') fingerprints — the guard matches DuckDB range(0, n)
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(toks) = 0 THEN CAST(array() AS array<string>)
           |ELSE transform(sequence(0, CAST(floor((size(toks) - 1) / $blockTokens) AS INT)),
           |  i -> md5(concat_ws(' ', slice(toks, i * $blockTokens + 1, $blockTokens)))) END""".stripMargin))
        .as(Seq("block_idx", "block_fp")))
    val w = Window.partitionBy(col("block_fp")).orderBy(col("doc_id"), col("block_idx"))
    val losers = blocks
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("block_idx"))).as("dup_idxs"))
    docs
      .withColumn("toks", tokens(col("text")))
      .join(losers, Seq("doc_id"), "left")
      .withColumn("dup_idxs",
        coalesce(col("dup_idxs"), expr("CAST(array() AS array<int>)")))
      .withColumn("kept", expr(
        s"""filter(toks, (t, i) ->
           |  NOT array_contains(dup_idxs, CAST(floor(i / $blockTokens) AS INT)))""".stripMargin))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("kept")).as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** Per-document mean unigram surprisal — the perplexity-proxy quality
    * filter of LLM corpora (documents whose tokens are improbable under the
    * corpus unigram model are gibberish/noise; documents far BELOW the norm
    * are boilerplate): −(1/n)·Σ ln p(tᵢ) with p from corpus counts. One
    * explode feeds both the model (token counts) and the scoring join —
    * shuffles keyed by token then doc_id, the shape that holds at corpus
    * scale (the unigram model stays distributed; nothing collects).
    */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val toks = Exec.pin(docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(col("toks")).as("token")))
    val model = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(model, Seq("token"))
      .crossJoin(broadcast(total))
      .withColumn("surprisal", -log(col("cnt") / col("n_total")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        q4(sum(col("surprisal")) / count(lit(1))).as("mean_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** N-gram novelty curve — the dataset-curation signal: per document (in
    * doc_id ingest order), the fraction of its distinct n-grams never seen
    * in ANY earlier document. A corpus whose tail documents contribute no
    * new n-grams is saturated; near-duplicate shards show as novelty
    * cliffs. First occurrence is a `min(doc_id)` aggregate on the 61-bit
    * shingle hash (8-byte shuffle keys, the same kernel as the dedup
    * family), joined back to the per-doc explode on the hash — strings
    * never shuffle at all. Two narrow exchanges at any corpus size.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 5): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    val grams = Exec.pin(docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(expr(s"shingle_hashes(toks, $n)")).as("h")))
    val firstSeen = grams.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .withColumn("novelty",
        q4(col("n_novel").cast("double") / col("n_grams")))
      .orderBy(col("doc_id"))
  }

  /** Bigram conditional surprisal — the sharper perplexity proxy: per
    * document, −(1/n)·Σ ln p(tᵢ | tᵢ₋₁) under the corpus MLE bigram model
    * p(b|a) = C(a,b)/C(a·) (every scored bigram is observed, so no
    * smoothing is needed and no probability is 0). Text that is locally
    * incoherent scores high even when its unigrams are common — the case
    * [[unigramSurprisal]] cannot see. One explode feeds the model counts
    * AND the scoring join; shuffles are keyed by (a,b) then doc_id, both
    * narrow, and the model stays distributed at corpus scale.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val bi = Exec.pin(docs
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS a, toks[i + 1] AS b))""".stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b")))
    val prefix = bi.groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val pairs = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    bi.join(pairs, Seq("a", "b"))
      .join(prefix, Seq("a"))
      .withColumn("s", -log(col("cab").cast("double") / col("ca")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        q4(sum(col("s")) / count(lit(1))).as("mean_surprisal"))
      .orderBy(col("doc_id"))
  }

  /** Feature-hashing (hashing-trick) collision census — the vectorizer a
    * pipeline reaches for when the vocabulary doesn't fit anywhere: each
    * token maps to dimension `md5(token) % dims` with NO dictionary, so
    * featurization is stateless and map-side at any corpus size; the
    * price is collisions, and this census is the audit that prices them
    * (distinct tokens per dimension, occupancy skew, and which token
    * dominates each slot — the thing you check before trusting a hashed
    * model's coefficients). Deterministic end to end: the md5-prefix hash
    * is the portable-hash doctrine shared with the HLL queries, counts
    * are exact, the dominant token is a `min(struct(-n, token))` argmax
    * (ties to the lexicographically smallest). One shuffle on token, one
    * on dimension — both vocabulary-sized.
    * Building the frame runs the [[sourceTokenCounts]] checkpoint job.
    */
  def featureHashing(docs: DataFrame, dims: Int = 64): DataFrame = {
    val perTok = globalTokenCounts(docs)
      .withColumn("dim", expr(
        s"CAST(conv(substring(md5(token), 1, 8), 16, 10) AS BIGINT) % $dims"))
    perTok.groupBy(col("dim"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n")).as("n_occurrences"),
        min(struct((-col("n")).as("negn"), col("token").as("t"))).as("m"))
      .select(col("dim"), col("n_tokens"), col("n_occurrences"),
        col("m.t").as("top_token"), (-col("m.negn")).as("top_n"))
      .orderBy(col("dim"))
  }

  /** fastText-style LINEAR QUALITY CLASSIFIER inference — the model-based
    * member the heuristic filter battery (Gopher, C4, surprisal, KN
    * perplexity) lacks: score = Σ w[h(gram)] over the document's hashed
    * unigrams + bigrams, normalized by gram count, thresholded at 0.
    * This is exactly the FineWeb-edu / fastText serving shape: the weight
    * vector ships WITH THE PLAN as a literal array (the broadcast-weights
    * architecture — swap in trained weights via the `weights` parameter
    * and nothing else changes), features come from the same stateless
    * md5-prefix hashing trick [[featureHashing]] audits, and inference is
    * a ROW-LOCAL codegen fold — zero shuffle, scan-speed at any corpus
    * size, the property that makes classifier filtering affordable at
    * 100 TB where a join-against-vocabulary model is not.
    *
    * Determinism by integer construction: weights are integers (the
    * deterministic fixture derives w_d = ((d+1)·2654435761 mod 997) − 498,
    * which the oracle replays), the fold accumulates an exact long (
    * order-invariant, unlike a float dot product), and the only float op
    * is the final single division — correctly-rounded IEEE on both
    * engines. `keep` compares the INTEGER numerator against 0.
    */
  def qualityClassifier(docs: DataFrame, dims: Int = 64,
                        weights: Seq[Long] = Nil): DataFrame = {
    val w =
      if (weights.nonEmpty) weights
      else (0 until dims).map(d => ((d + 1).toLong * 2654435761L) % 997L - 498L)
    require(w.length == dims,
      s"qualityClassifier: got ${w.length} weights for $dims dimensions")
    val wArr = w.mkString("array(", "L, ", "L)")
    def wOf(g: String) =
      s"element_at($wArr, CAST(CAST(conv(substring(md5($g), 1, 8), 16, 10) " +
        s"AS BIGINT) % $dims AS INT) + 1)"
    docs
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 1)
      .withColumn("uni_num", expr(
        s"aggregate(transform(toks, t -> ${wOf("t")}), 0L, (a, v) -> a + v)"))
      // sequence(0, -1) would DESCEND, not empty — guard the 1-token doc
      .withColumn("bi_num", expr(
        s"""IF(size(toks) >= 2,
           |   aggregate(transform(sequence(0, size(toks) - 2),
           |       i -> ${wOf("concat(toks[i], ' ', toks[i + 1])")}),
           |     0L, (a, v) -> a + v),
           |   0L)""".stripMargin))
      .withColumn("num", col("uni_num") + col("bi_num"))
      .withColumn("n_grams",
        (size(col("toks")) * 2 - 1).cast("long"))
      .select(col("doc_id"), col("n_grams"),
        (col("num").cast("double")
          / (lit(997.0) * col("n_grams").cast("double"))).as("margin"),
        (col("num") >= 0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style importance weights + Gumbel top-k selection (Xie et al.
    * 2023, "Data Selection for Language Models via Importance Resampling"):
    * fit two hashed-unigram bag-of-words LMs — one on the TARGET domain
    * (here: one language's documents, the in-domain proxy), one on the RAW
    * corpus — and weight every document by its log likelihood ratio
    *   log w(d) = Σ_b n_b(d) · (ln p_target[b] − ln p_raw[b]),
    * add-1 smoothed over the `dims` hash buckets. Selection is the paper's
    * Gumbel-perturbed top-k: key = log w + g where g = −ln(−ln u) and u is
    * a DETERMINISTIC uniform from md5(doc_id) (the repo's no-RNG doctrine;
    * the prime pre-reduction keeps the id-domain math overflow-free on
    * engines that raise rather than wrap). Keys are rounded to 6 dp BEFORE
    * the threshold comparison so cross-engine libm noise in ln cannot flip
    * a selection.
    *
    * Scale shape: ONE corpus explode feeds a single (doc_id, lang, bucket)
    * exchange, persisted; both LMs and their totals re-aggregate those
    * ≤ |docs|·dims reduced rows, never the token stream again. The
    * bucket→ratio table is `dims` rows (broadcast), per-doc scoring is one
    * doc_id exchange, and the selection threshold is a TakeOrdered(k) +
    * 1-row broadcast — no unpartitioned window anywhere, so the plan holds
    * at any corpus size. Ties AT the rounded threshold all select (may
    * exceed k; documented over a fragile exact-k tiebreak).
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  dims: Int = 64, k: Int = 100): DataFrame = {
    val bucket = expr(
      s"CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % $dims")
    // one corpus scan; the persist is load-bearing (four downstream reads)
    // and released under the Exec.clearPinned contract like its siblings
    val db = Exec.pin(docs
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("lang"), bucket.as("b"))
      .agg(count(lit(1)).as("n")))
    // r18 (guide §6 — one pass instead of three): the raw-LM counts, the
    // target-LM counts, and both smoothing totals are all rollups of the
    // SAME (bucket, lang) grain — ONE groupBy(b) with a conditional sum
    // replaces the old cr/ct/totals trio of scans over the persisted
    // frame, and the totals become a dims-row rollup of the bucket table.
    // Exact-integer equivalences: sum(when(lang=t, n) else 0) per bucket =
    // the old filtered sum (0 where the old left join produced NULL, which
    // the +1 smoothing already coalesced to 0); summing the per-bucket
    // longs reproduces both totals exactly.
    val byBucket = Exec.pin(db.groupBy(col("b")).agg(
      sum(col("n")).as("cr"),
      sum(when(col("lang") === targetLang, col("n")).otherwise(0L)).as("ct")))
    val totals = byBucket.agg(
      sum(col("ct")).as("t_total"), sum(col("cr")).as("r_total"))
    val lr = byBucket
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct") + 1L).cast("double") /
            (col("t_total") + dims).cast("double")) -
          log((col("cr") + 1L).cast("double") /
            (col("r_total") + dims).cast("double"))).as("lr"))
    val gumbel = expr(
      "-ln(-ln((CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8)," +
        " 16, 10) AS BIGINT) % 1000003 AS DOUBLE) + 0.5) / 1000003.0))")
    val scored = db.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_toks"),
        sum(col("n").cast("double") * col("lr")).as("raw"))
      .select(col("doc_id"), col("n_toks"),
        (floor(col("raw") * 1e6 + 0.5) / 1e6).as("logw"),
        (floor((col("raw") + gumbel) * 1e6 + 0.5) / 1e6).as("g_key"))
    val thresh = scored.orderBy(col("g_key").desc, col("doc_id"))
      .limit(k).agg(min(col("g_key")).as("thresh"))
    scored.crossJoin(broadcast(thresh))
      .select(col("doc_id"), col("n_toks"), col("logw"), col("g_key"),
        (col("g_key") >= col("thresh")).as("sel"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy per document — the
    * smoothed-LM quality filter (CCNet-style) done with the actual KN
    * estimator instead of raw MLE: the discount δ moves mass from seen
    * bigrams to a CONTINUATION unigram model (how many distinct contexts
    * precede b — "glasses" may be frequent but only ever follows
    * "sun"), so formulaic text scores high-probability only when its
    * continuations are genuinely diverse. Every scored bigram is
    * observed (the model trains on the corpus it scores), so c(a·) > 0
    * and no branch divides by zero:
    *   p(b|a) = (max(c(ab) − δ, 0) + δ·N1+(a·)·N1+(·b)/N1+(··)) / c(a·).
    * All model quantities are exact integer counts; the probability is a
    * fixed left-to-right arithmetic expression mirrored token-for-token
    * in the oracle. Scale shape: one corpus explode feeds counts AND the
    * scoring join ([[bigramSurprisal]]'s plan plus two narrow model
    * joins on a/b); the one-row N1+(··) scalar broadcasts. The model
    * tables are vocabulary-sized and join by hash — never required to
    * fit in a broadcast at 100 TB.
    */
  def knPerplexity(docs: DataFrame, delta: Double = 0.75): DataFrame = {
    val bi = Exec.pin(docs
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS a, toks[i + 1] AS b))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b")))
    val cab = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ctx = cab.groupBy(col("a"))
      .agg(sum(col("cab")).as("ca"), count(lit(1)).as("n1fwd"))
    val cont = cab.groupBy(col("b")).agg(count(lit(1)).as("n1back"))
    val tot = cab.agg(count(lit(1)).as("n1tot"))
    bi.join(cab, Seq("a", "b")).join(ctx, Seq("a")).join(cont, Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("pkn",
        (greatest(col("cab").cast("double") - lit(delta), lit(0.0))
          + lit(delta) * col("n1fwd")
            * (col("n1back").cast("double") / col("n1tot")))
          / col("ca"))
      .withColumn("s", -log(col("pkn")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        q4(sum(col("s")) / count(lit(1))).as("kn_ce"))
      .orderBy(col("doc_id"))
  }

  /** TextRank keyword extraction — weighted PageRank over the word
    * co-occurrence graph (edge (u,v) weighted by how often the tokens are
    * ADJACENT anywhere in the corpus): the graph-centrality answer to
    * "which words matter" where TF-IDF gives the frequency answer — a
    * word ranks high when its neighbors rank high, so connective hub
    * terms beat merely-common ones. The corpus is scanned once into the
    * weighted edge list (integer counts); the graph itself is
    * vocabulary-sized — ≪ corpus, the same reduction argument as the
    * sketch queries — so the `iters` damped-rank rounds run over a
    * metadata-sized frame: per round ONE narrow (dst)-keyed aggregate,
    * with the rank vector joined against the edge frame
    * ([[GraphOps.pageRank]]'s round shape, plus the weight/wdeg factor).
    * Vocabulary count is a driver scalar (graph metadata, pageRank's
    * contract); output is the top-`topK` words by damped rank scaled to
    * mean 1.0, floor-quantized at 1e-6 so ordering happens in quantized
    * space on both engines.
    */
  def textrankKeywords(docs: DataFrame, iters: Int = 3,
                       damping: Double = 0.85, topK: Int = 20): DataFrame = {
    val bg = docs
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(toks[i] AS a, toks[i + 1] AS b))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    val und = bg.select(col("a").as("src"), col("b").as("dst"))
      .union(bg.select(col("b").as("src"), col("a").as("dst")))
    val wedge = Exec.checkpoint(
      und.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w")))
    // read by the degree join, the vocabulary count and the rank rounds
    val wdeg = Exec.pin(wedge.groupBy(col("src")).agg(sum(col("w")).as("wdeg")))
    val withDeg = Exec.checkpoint(
      wedge.join(wdeg, Seq("src")))
    val n = wdeg.count()
    // r17b: the bigram graph is vocabulary-sized metadata once the corpus
    // scan has reduced to weighted edges — under the measured gate the
    // damped-rank rounds run driver-resident (the GraphOps.pageRank driver
    // doctrine, word keys instead of longs): same (w·pr)/wdeg accumulation,
    // same drop-out-to-dst contract, same final floor quantization. The
    // top-k SELECTION still happens in Spark (orderBy desc + word tie +
    // limit) so string collation semantics are untouched. Parity spec pins
    // driver == distributed; oracle at both SFs.
    val collected = Exec.collectIfSmall(
      withDeg.select(col("src"), col("dst"), col("w"), col("wdeg")), Exec.DriverLoopRows)
    if (collected.isDefined)
      return textrankDriver(docs.sparkSession, collected.get, n, iters, damping, topK)
    var ranks = wdeg.select(col("src").as("word"))
      .withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to iters) {
      ranks = withDeg
        .join(ranks.withColumnRenamed("word", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("w") * col("pr") / col("wdeg")).as("c"))
        .select(col("dst").as("word"),
          (lit((1.0 - damping) / n) + lit(damping) * col("c")).as("pr"))
    }
    ranks
      .select(col("word"),
        (floor(col("pr") * lit(n.toDouble) * 1e6 + 0.5) / 1e6).as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("word"))
      .limit(topK)
  }

  /** The in-memory damped-rank rounds behind [[textrankKeywords]]' gate. */
  private def textrankDriver(spark: SparkSession, rows: Array[Row], n: Long,
      iters: Int, damping: Double, topK: Int): DataFrame = {
    val m = rows.length
    val idx = new java.util.HashMap[String, Integer]()
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    def id(x: String): Int = {
      val got = idx.get(x)
      if (got eq null) { idx.put(x, words.length); words += x; words.length - 1 }
      else got.intValue()
    }
    val esrc = new Array[Int](m); val edst = new Array[Int](m)
    val ew = new Array[Long](m); val ewdeg = new Array[Long](m)
    var i = 0
    while (i < m) {
      esrc(i) = id(rows(i).getString(0)); edst(i) = id(rows(i).getString(1))
      ew(i) = rows(i).getLong(2); ewdeg(i) = rows(i).getLong(3); i += 1
    }
    val nV = words.length
    var pr = Array.fill(nV)(1.0 / n)
    var present = Array.fill(nV)(true)
    var it = 0
    while (it < iters) {
      val c = new Array[Double](nV)
      val hasIn = new Array[Boolean](nV)
      i = 0
      while (i < m) {
        if (present(esrc(i))) {
          c(edst(i)) += ew(i) * pr(esrc(i)) / ewdeg(i)
          hasIn(edst(i)) = true
        }
        i += 1
      }
      val next = new Array[Double](nV)
      var j = 0
      while (j < nV) {
        if (hasIn(j)) next(j) = (1.0 - damping) / n + damping * c(j)
        j += 1
      }
      pr = next; present = hasIn; it += 1
    }
    import spark.implicits._
    spark.createDataset(
        (0 until nV).filter(present(_)).map(j => (words(j),
          math.floor(pr(j) * n.toDouble * 1e6 + 0.5) / 1e6)))
      .toDF("word", "rank_scaled")
      .orderBy(col("rank_scaled").desc, col("word"))
      .limit(topK)
  }

  /** Zipf's-law fit over the top-k token frequencies: OLS slope/intercept of
    * ln(freq) against ln(rank) via `regr_slope`/`regr_intercept` (a natural
    * corpus should fit slope ≈ −1; a synthetic or heavily-duplicated corpus
    * deviates — a cheap distribution-level corpus diagnostic). The top-k
    * selection is a TakeOrdered (per-partition top-k, k-row merge) — on a
    * web-scale corpus the vocabulary is billions of hapax-dominated rows,
    * so it must NEVER funnel through one unpartitioned window partition;
    * the rank window that follows runs over the ≤k-row post-limit frame
    * (whitelisted bounded window), and the regression is one tiny aggregate.
    * Building the frame runs the [[sourceTokenCounts]] checkpoint job.
    */
  def zipfFit(docs: DataFrame, k: Int = 100): DataFrame = {
    val freq = globalTokenCounts(docs)
    val topk = freq.orderBy(col("n").desc, col("token")).limit(k)
    val w = Window.orderBy(col("n").desc, col("token")) // bounded: ≤k rows post-limit
    topk.withColumn("rank", row_number().over(w))
      .agg(count(lit(1)).as("n_terms"),
        q4(regr_slope(log(col("n")), log(col("rank")))).as("slope"),
        q4(regr_intercept(log(col("n")), log(col("rank")))).as("intercept"))
  }

  /** Sequence packing for training (concatenate-and-cut): tokens laid out in
    * doc_id order WITHIN EACH SHARD and cut into fixed `budget`-token
    * sequences; per document, which of its shard's sequences it lands in
    * (documents straddle boundaries — the standard pretraining packing).
    * The cumulative count is one running-sum window partitioned by shard;
    * all arithmetic is exact integer division. This sharded signature IS
    * the production shape — a 100 TB pipeline packs each shard
    * independently (sequence ids are shard-local, exactly how training
    * shards are consumed), so the window never funnels the corpus through
    * one task. The 2-arg overload is the DEGENERATE single-shard case kept
    * for the oracle (`txt_pack_sequences`), expressed through this same
    * window — not a separate unpartitioned code path.
    */
  def packSequences(docs: DataFrame, budget: Int, shard: Column): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard", shard)
      .withColumn("n_tokens", size(tokens(col("text"))))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("shard"), col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("first_seq"),
        expr(s"(cum - 1) div $budget").as("last_seq"))
      .withColumn("n_seqs_spanned", col("last_seq") - col("first_seq") + 1)
      .orderBy(col("shard"), col("doc_id"))
  }

  /** Oracle-form global packing: the single-shard degenerate case of the
    * sharded primary API above (one constant shard ⇒ one window partition
    * — bounded by that contract, and only acceptable because the oracle
    * needs a corpus-global sequence numbering to be SQL-expressible).
    */
  def packSequences(docs: DataFrame, budget: Int = 512): DataFrame =
    packSequences(docs, budget, lit(0)).drop("shard")

  /** Deterministic hash-based train/val/test split + per-split stats: bucket
    * = first 32 bits of md5(doc_id) mod 100, so the assignment is stable
    * across runs, engines and corpus growth (a doc never changes split when
    * new docs arrive — the property a random() split lacks). Pure per-row
    * expressions + one aggregate.
    */
  def hashSplitStats(docs: DataFrame, testPct: Int = 10, valPct: Int = 10): DataFrame =
    docs
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when(col("bucket") < testPct, "test")
          .when(col("bucket") < testPct + valPct, "val")
          .otherwise("train"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"))

  /** Source-mixing sampler — the data-mixing step a pretraining corpus goes
    * through: each source carries a target keep fraction (basis points of
    * 1/10000), and a document survives iff its content-stable md5 bucket
    * lands under its source's threshold. The draw is salted ('mix:') so it
    * is independent of the split/sample hashes, reproducible across runs,
    * engines, and row order, and refreshing the corpus keeps prior
    * keep/drop decisions stable (the property that lets an incremental
    * pipeline mix without resampling history). Selection is a per-row hash
    * compare — zero shuffle until the per-source stats rollup, ≤ |sources|
    * output rows at any scale. Realized fractions are floor-half-up 4dp.
    */
  def mixingSampleStats(docs: DataFrame, keepBp: Map[String, Int],
                        defaultBp: Int = 7500): DataFrame = {
    require((defaultBp +: keepBp.values.toSeq).forall(bp => bp >= 0 && bp <= 10000),
      "keep fractions are basis points in [0, 10000]")
    def thr = keepBp.toSeq.sortBy(_._1).foldLeft(lit(defaultBp)) {
      case (acc, (src, bp)) => when(col("source") === src, lit(bp)).otherwise(acc)
    }
    docs
      .withColumn("bucket", mixBucket)
      .withColumn("kept", (col("bucket") < thr).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
      .withColumn("target_frac", thr.cast("double") / 10000.0)
      .withColumn("realized_frac",
        floor(col("n_kept").cast("double") / col("n_total") * 10000 + 0.5) / 10000)
      .select(col("source"), col("n_total"), col("n_kept"),
        col("target_frac"), col("realized_frac"))
      .orderBy(col("source"))
  }

  /** The salted 'mix:' md5 bucket of `doc_id`, in [0, 10000). */
  private def mixBucket: Column = expr(
    "CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 10000")

  /** Temperature-scaled source mixture weights — the multinomial sampling
    * recipe of multi-source/multilingual pretraining (T5 §3.3.1, XLM-R
    * §3.1: p_s ∝ n_s^α, α < 1 flattens the source distribution so small
    * sources are upsampled without letting any source dominate). Emits,
    * per source: the natural share, the temperature-scaled sampling
    * probability, the resulting up/down-sampling boost, and the expected
    * document draw for an epoch of the corpus size. One tiny aggregation
    * (≤ |sources| rows) then window math on that reduced frame — scans the
    * corpus once, shuffles only per-source counts.
    *
    * α = 0.5 keeps cross-engine parity exact: the powered mass is
    * `sqrt(n)` (IEEE-correctly-rounded everywhere), not libm `pow` whose
    * final ulp differs across implementations. Other α values use `pow`
    * and accept that ulp (quantization makes a flip astronomically rare).
    */
  def mixingTemperatureWeights(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val w = Window.partitionBy()
    val bySource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("n_chars"))
    val mass =
      if (alpha == 0.5) sqrt(col("n_docs").cast("double"))
      else pow(col("n_docs").cast("double"), lit(alpha))
    bySource
      .withColumn("mass", mass)
      .withColumn("total_docs", sum(col("n_docs")).over(w))
      .withColumn("share", col("n_docs").cast("double") / col("total_docs"))
      .withColumn("p_temp", col("mass") / sum(col("mass")).over(w))
      .select(col("source"), col("n_docs"), col("n_chars"),
        q4(col("share")).as("share"),
        q4(col("p_temp")).as("p_temp"),
        q4(col("p_temp") / col("share")).as("boost"),
        floor(col("p_temp") * col("total_docs")).cast("long").as("expected_docs"))
      .orderBy(col("source"))
  }

  /** Deterministic stratified sample: the first `perGroup` documents per
    * language in md5-of-id order — a "random" sample that is reproducible
    * across runs and engines and stays balanced across strata (a plain
    * corpus-level sample over-represents the dominant language). One window
    * pass per stratum; at corpus scale the rank prunes before anything wide
    * is touched.
    */
  def stratifiedSample(docs: DataFrame, perGroup: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("hk"), col("doc_id"))
    docs
      .withColumn("hk", md5(concat(lit("sample:"), col("doc_id").cast("string"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perGroup)
      .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rn"))
  }

  /** Train/eval decontamination scan — the eval-integrity gate of an LLM
    * pipeline: an eval document is CONTAMINATED when any of its `n`-gram
    * shingles appears anywhere in the train split (here: even/odd doc_id as
    * the deterministic split). One distinct-hash frame for train, one
    * shuffle keyed by the 61-bit shingle hash for the probe — document
    * text never moves, and the join partitions by shingle exactly as it
    * would across 1000 executors.
    */
  def decontaminationScan(docs: DataFrame, n: Int = 5): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    val base = Exec.pin(docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", expr(s"shingle_hashes(toks, $n)"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("lang"), col("sh")))
    val trainHashes = base.filter(col("doc_id") % 2 === 0)
      .select(explode(col("sh")).as("h")).distinct()
    val evalDocs = base.filter(col("doc_id") % 2 === 1)
    val hit = evalDocs.select(col("doc_id"), explode(col("sh")).as("h"))
      .join(trainHashes, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    evalDocs.select(col("doc_id"), col("lang"))
      .join(hit, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_eval"),
        count(when(col("contaminated"), 1)).as("n_contaminated"))
      .withColumn("contaminated_frac",
        q4(col("n_contaminated").cast("double") / col("n_eval")))
      .orderBy(col("lang"))
  }

  /** TF-IDF top terms per language: tf = corpus-wide term count within the
    * language, idf = ln(N_docs / doc-frequency across the whole corpus).
    * Two aggregations (both keyed by token after one explode) + a per-lang
    * top-k window; N rides along from a 1-row broadcast instead of a
    * driver-side collect. Score is floor-quantized at 4dp and ranking runs
    * on the QUANTIZED value (ties by token) so ordering is engine-stable.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 10): DataFrame = {
    // ONE wide shuffle: per-(doc, token) counts. Both tf (sum within
    // language) and df (row count per token — (doc, token) rows are unique
    // by construction) derive from this far smaller frame, instead of a
    // full distinct plus two aggregations over the raw exploded tokens.
    val perDoc = Exec.pin(docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt")))
    val tf = perDoc.groupBy(col("lang"), col("token")).agg(sum(col("cnt")).as("tf"))
    val df = perDoc.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val scored = tf.join(df, Seq("token"))
      .crossJoin(broadcast(total))
      .withColumn("score", floor(
        col("tf") * log(col("n_total").cast("double") / col("df")) * 10000 + 0.5) / 10000)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("token"), col("score"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Okapi BM25 retrieval: rank documents against a fixed term query —
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), with
    * the Lucene idf = ln(1 + (N−df+0.5)/(df+0.5)). ONE corpus pass: the
    * single explode feeds a single per-doc aggregate computing dl and one
    * conditional-count tf column per query term, so document length and
    * term frequencies come out of the same exchange (the query is a fixed
    * term list — columns, not join rows). Corpus stats (N over
    * token-bearing docs, avgdl, every per-term df) collapse to ONE 1-row
    * broadcast; scoring is then a shuffle-free scan, and the top-N is a
    * distributed TakeOrdered — NOT a global row_number window, whose
    * single-partition sort dies on a common term at corpus scale. Scores
    * floor-quantized at 4dp, ranked on the quantized value with doc_id
    * ties — engine-stable. The shape of a distributed first-stage
    * retriever over 100 TB of text.
    */
  def bm25Search(docs: DataFrame, query: Seq[String], topN: Int = 20,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25Search needs at least one query term")
    val qterms = query.distinct // dup terms are one column (and one score term)
    // per-term columns are indexed tf_0..tf_n, NOT tf_<term>: a raw term
    // containing '.', '`' or other resolver metacharacters would break
    // col() at analysis time if spliced into a column name
    val ti = qterms.indices
    def tfc(i: Int): Column = col(s"tf_$i")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    // the stats aggregate and the scoring scan both read this: pin it so
    // the corpus explode+aggregate runs once (it is |docs| numeric rows,
    // tiny next to the corpus it summarizes)
    val perDoc = Exec.pin(toks.groupBy(col("doc_id")).agg(
      count(lit(1)).as("dl"),
      ti.map(i => count(when(col("token") === qterms(i), 1)).as(s"tf_$i")): _*))
    // N counts token-BEARING docs (dl ≥ 1): empty docs can't match and are
    // excluded from avgdl by construction; documented contract, oracle same
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl") +:
        ti.map(i => count(when(tfc(i) > 0, 1)).as(s"df_$i")): _*)
    def idf(i: Int): Column =
      log(lit(1.0) + (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
    def w(i: Int): Column =
      idf(i) * (tfc(i) * lit(k1 + 1)) /
        (tfc(i) + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    // tf=0 terms contribute exactly 0 to the sum, so no per-term filter
    val scored = perDoc
      .crossJoin(broadcast(stats))
      .withColumn("n_matched",
        ti.map(i => (tfc(i) > 0).cast("long")).reduce(_ + _))
      .filter(col("n_matched") > 0)
      .withColumn("score",
        floor(ti.map(w).reduce(_ + _) * 10000 + 0.5) / 10000)
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(topN)
    top.withColumn("rank",
        // bounded: ≤topN rows post-limit
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .select(col("rank"), col("doc_id"), col("score"), col("n_matched"))
      .orderBy(col("rank"))
  }

  /** PMI collocation mining — the corpus-level "which word pairs belong
    * together" pass (phrase detection for tokenizer/vocab construction, cf.
    * word2phrase): pointwise mutual information of adjacent token pairs,
    * PMI = ln(p(w1,w2) / (p(w1)·p(w2))), support-filtered at `minCount`.
    * Occurrence bigrams come from one `slice`+`arrays_zip`+`explode` scan
    * (no per-doc distinct — PMI is frequency-weighted); unigram and bigram
    * totals ride the same pinned token frame. The PMI is computed in
    * log-space (sums of `ln` of exact integer counts — products would
    * overflow a long at corpus scale) and floor-quantized before the
    * ordering and cut. Joins against the unigram table are plain hash
    * joins on the word — the vocabulary may exceed broadcast size at
    * 100 TB and never needs to.
    */
  def collocationsPmi(docs: DataFrame, minCount: Int = 5, k: Int = 20): DataFrame = {
    val toks = Exec.pin(docs.select(tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2))
    val bg = Exec.pin(toks
      .withColumn("aa", slice(col("toks"), lit(1), size(col("toks")) - 1))
      .withColumn("bb", slice(col("toks"), lit(2), size(col("toks")) - 1))
      .select(explode(arrays_zip(col("aa"), col("bb"))).as("p"))
      .select(col("p.aa").as("w1"), col("p.bb").as("w2")))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val totals = uni.agg(sum(col("cw")).as("nu"))
      .crossJoin(bg.agg(count(lit(1)).as("nb")))
    bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("cw1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("cw2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("cab"),
        (floor((log(col("cab")) + lit(2.0) * log(col("nu")) - log(col("nb"))
          - log(col("cw1")) - log(col("cw2"))) * 10000 + 0.5) / 10000).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** BPE merge learning — the tokenizer-training primitive (Sennrich et al.
    * 2016, the subword algorithm behind GPT/Llama vocabularies): starting
    * from characters, repeatedly find the most frequent adjacent symbol
    * pair (corpus-frequency-weighted) and fuse it into one symbol, emitting
    * the learned merge table `(round, p1, p2, merged, pair_count)`.
    *
    * Scale shape — the part that matters at 100 TB: the corpus is touched
    * ONCE, by the word-frequency aggregate (one shuffle on the word). All
    * `rounds` iterations run on the VOCABULARY (|distinct words| rows, each
    * with a freq weight), so per-round cost is one narrow (p1, p2, freq)
    * pair aggregate — map-side combined — plus a 1-row global argmax
    * (min over (-cnt, p1, p2) structs: max count, ties to the
    * lexicographically smallest pair, engine-stable) broadcast back into a
    * left-to-right greedy fold (`aggregate()` — a higher-order function,
    * evaluated via CodegenFallback; at |vocab| rows per round the
    * interpreted lambda is noise, so a native expression would buy
    * nothing) that rewrites each word's symbol array in place. No driver
    * loop over data, no collect; the word frame is lineage-cut per round
    * so the plan stays flat — the 1-row `best` is NOT checkpointed, it
    * inlines into the round's broadcast.
    *
    * Exhausted rounds (every word fully merged, no adjacent pairs left)
    * emit NO merge row and leave the segmentation unchanged — the global
    * argmax over zero pairs yields an all-NULL row that is filtered from
    * the merge table and no-ops through the fold (NULL never equals a
    * symbol).
    *
    * The greedy fold merges non-overlapping occurrences left to right
    * ('a a a' + merge (a,a) → ['aa', 'a']), and a symbol minted this round
    * never re-pairs within the round — the standard BPE step, replayed
    * exactly by the oracle's `list_reduce` over space-joined symbols
    * (symbols contain no spaces: words come from whitespace tokenization).
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 5): DataFrame =
    bpeTrain(docs, rounds)._1

  /** The subword VOCABULARY after `rounds` BPE merges: every symbol left in
    * the segmented corpus with its frequency-weighted occurrence count —
    * what the trained tokenizer would actually emit, top-`topK` by count
    * (ties to the lexicographically smaller symbol). Same single corpus
    * pass + vocabulary-sized rounds as [[bpeMerges]]; the final tally is
    * one narrow (symbol, freq) aggregate.
    */
  def bpeVocab(docs: DataFrame, rounds: Int = 5, topK: Int = 30): DataFrame =
    bpeTrain(docs, rounds)._2
      .select(explode(col("syms")).as("sym"), col("freq"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("sym"))
      .limit(topK)

  /** CCNet-style perplexity bucketing — split the corpus into head /
    * middle / tail thirds by language-model score (CCNet §4.4: documents
    * sorted by LM perplexity, best third kept as "head"; the proxy model
    * here is the corpus unigram LM, so the score is each doc's mean
    * unigram surprisal — [[unigramSurprisal]]'s statistic). The
    * scale-honest shape: NO global sort of the corpus — the tercile
    * thresholds are exact percentiles over the PER-DOC aggregate (one
    * narrow |docs|-row frame), broadcast back as one row, and the bucket
    * label is then a map-side comparison. Output is the per-bucket census
    * (doc count, surprisal spread), the monitoring view a curation
    * pipeline actually tracks.
    */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val toks = Exec.pin(docs.withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), explode(col("toks")).as("token")))
    val model = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    // checkpointed: the per-doc frame feeds both the threshold percentiles
    // and the final labeling — without the cut the token join runs twice
    val perDoc = Exec.checkpoint(toks.join(model, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(q4(sum(-log(col("cnt") / col("n_total"))) / count(lit(1))).as("m")))
    val thr = perDoc.agg(expr("percentile(m, 0.33)").as("lo"),
      expr("percentile(m, 0.67)").as("hi"))
    perDoc.crossJoin(broadcast(thr))
      .withColumn("bucket", when(col("m") <= col("lo"), "head")
        .when(col("m") <= col("hi"), "middle").otherwise("tail"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        q4(avg(col("m"))).as("mean_surprisal"),
        q4(min(col("m"))).as("min_surprisal"),
        q4(max(col("m"))).as("max_surprisal"))
      .orderBy(col("bucket"))
  }

  /** ENCODE with the trained tokenizer: apply the `rounds` learned BPE
    * merges, in rank order, to every document — the inference half of
    * [[bpeMerges]] (training learns the merge table; this is what a
    * pretraining pipeline then runs over the full corpus). The merge
    * table is collected into ONE broadcast row (5 rows of (p1,p2) — the
    * Holt-coefficient pattern) and each merge round is a codegen'd
    * left-to-right `aggregate` fold, exactly the training fold. Scale
    * shape: segmentation is computed ONCE PER DISTINCT WORD (Zipfian
    * corpora make the vocabulary orders of magnitude smaller than the
    * token stream) and joined back to per-doc occurrences — AQE
    * broadcasts the vocabulary side when it fits. Output per doc: word
    * count, subword count, fertility (subwords/word — THE tokenizer
    * health metric), and an md5 fingerprint of the full word-ordered
    * segmentation, so one flipped merge boundary anywhere fails the hash.
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val vocab = bpeSegTable(docs, rounds)
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .join(vocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("nsub")).cast("long").as("n_subwords"),
        q4(sum(col("nsub")).cast("double") / count(lit(1))).as("fertility"),
        md5(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("seg")))),
            x => x.getField("seg")))).as("enc_fp"))
      .orderBy(col("doc_id"))
  }

  /** Segment every DISTINCT corpus word with the `rounds`-merge BPE model
    * trained on the same corpus → (word, seg, nsub). The shared encode core
    * of [[bpeEncode]] and [[fertilityByLang]]: Zipfian corpora make the
    * vocabulary orders of magnitude smaller than the token stream, so
    * segmentation runs once per distinct word and joins back to occurrences
    * (AQE broadcasts the vocabulary side when it fits). Checkpointed and
    * tracked for release at the next [[Exec.clearPinned]].
    */
  private def bpeSegTable(docs: DataFrame, rounds: Int): DataFrame = {
    val mtab = bpeTrain(docs, rounds)._1
      .agg(sort_array(collect_list(struct(col("round"), col("p1"), col("p2"))))
        .as("marr"))
    val chars = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .crossJoin(broadcast(mtab))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    // bpeTrain drops null (no-pair-left) rounds, so a tiny corpus can
    // learn FEWER than `rounds` merges — under ANSI mode element_at past
    // the short table's end throws, so each round no-ops unless the table
    // actually holds a rank-r merge (the oracle's b.p1 IS NULL branch)
    Exec.checkpoint((1 to rounds).foldLeft(chars) { (df, r) =>
      df.withColumn("syms", expr(
        s"""IF(size(marr) >= $r,
           |  aggregate(syms, CAST(array() AS array<string>),
           |    (acc, x) -> CASE
           |      WHEN size(acc) > 0 AND element_at(acc, -1) = element_at(marr, $r).p1
           |           AND x = element_at(marr, $r).p2
           |      THEN concat(slice(acc, 1, size(acc) - 1),
           |                  array(concat(element_at(marr, $r).p1,
           |                               element_at(marr, $r).p2)))
           |      ELSE concat(acc, array(x)) END),
           |  syms)""".stripMargin))
    }.select(col("word"), concat_ws("|", col("syms")).as("seg"),
      size(col("syms")).as("nsub")))
  }

  /** Tokenizer fertility / compression census per language — THE tokenizer
    * equity readout a multilingual pretraining pipeline tracks: languages
    * whose words fragment into more subwords (higher fertility, lower
    * chars-per-subword) pay more sequence positions for the same content,
    * so a vocabulary trained lopsidedly taxes them at training AND serving
    * time. Reuses the [[bpeVocab]] encode core (segment once per distinct
    * word, join back to occurrences), then rolls word/subword/char counts
    * up to the language grain. Counts are exact integers; the two ratios
    * are single divisions quantized once. Scale shape: the corpus is
    * touched once, the vocabulary join broadcasts, and the final exchange
    * is |languages| rows.
    */
  def fertilityByLang(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val vocab = bpeSegTable(docs, rounds)
    docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(vocab, Seq("word"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("nsub")).cast("long").as("n_subwords"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        q4(sum(col("nsub")).cast("double") / count(lit(1))).as("fertility"),
        q4(sum(length(col("word"))).cast("double")
          / sum(col("nsub")).cast("double")).as("chars_per_subword"))
      .orderBy(col("lang"))
  }

  /** URL → registered-domain census (the C4/RefinedWeb domain-filter
    * step): extract every URL, normalize it to a registered domain (host
    * lowercased, leading `www.` stripped, last two dot-labels kept), and
    * aggregate a per-domain census — URL count, distinct-document reach,
    * https share, blocklist verdict. The corpus carries no URLs, so a
    * deterministic pair (an https CDN link and an http `WWW.`-cased link,
    * both derived from doc_id) is appended on even doc_ids and the oracle
    * replays the augmentation — the mixed case and `www.` prefix make the
    * normalization observable, not decorative. Per-row work (regex
    * extract, host parse, label slice) is all codegen'd; the single
    * exchange is the domain groupBy, whose cardinality is the domain
    * vocabulary — not the corpus — so the pass is one explode + one
    * narrow aggregation at any scale, and the census itself is exactly
    * the frame a crawl pipeline joins (broadcast) back against the corpus
    * to drop blocklisted domains.
    */
  def urlCensus(docs: DataFrame,
                blocklist: Seq[String] = Seq("example3.org", "example5.org"))
      : DataFrame = {
    val aug = when(col("doc_id") % 2 === 0,
      concat(col("text"),
        lit(" https://cdn"), col("doc_id") % 7,
        lit(".example"), col("doc_id") % 13, lit(".org/p/"), col("doc_id"),
        lit(" http://WWW.Example"), col("doc_id") % 13,
        lit(".ORG/q?id="), col("doc_id")))
      .otherwise(col("text"))
    val host = lower(regexp_extract(col("url"), "^https?://([^/?#]+)", 1))
    val bare = regexp_replace(host, "^www\\.", "")
    val domain = concat_ws(".", slice(split(bare, "\\."), -2, 2))
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(aug, lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), domain.as("domain"),
        col("url").startsWith("https://").cast("double").as("https"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"),
        q4(avg(col("https"))).as("https_share"))
      .withColumn("blocked", col("domain").isin(blocklist: _*))
      .orderBy(col("domain"))
  }

  /** URL canonicalization + cross-document dedup — the crawl-frontier
    * collapse step upstream of [[urlCensus]]'s domain filter: the same
    * logical page arrives as `https://www.Example.org:443/p?utm_source=x&
    * ref=1#top`, `http://example.org/p/?ref=1`, `HTTPS://EXAMPLE.org/p?
    * ref=1`, and a crawler that treats those as four pages re-fetches and
    * re-trains on duplicates. Canonical form: scheme dropped, host
    * lowercased with `www.` and default ports (:80/:443) stripped,
    * fragment dropped, tracking params (utm_ prefix, fbclid, gclid)
    * removed, the SURVIVING query params sorted, trailing path slash
    * stripped. The
    * corpus carries no URLs, so each doc appends one deterministic variant
    * (doc_id%4 picks the obfuscation; doc_id%500 the logical page) and the
    * oracle replays the construction — three variants of each page
    * collapse to one canonical key, the fourth (fragment-only, no query)
    * keeps its own, so every normalization rule is observable in the
    * output counts. Everything is per-row regex/array work (codegen'd,
    * zero UDFs); the single exchange is the canonical-key groupBy, whose
    * cardinality is the LOGICAL page space — at crawl scale this is
    * exactly the frontier-dedup shuffle, and it carries (key, counts),
    * never documents.
    */
  def canonicalUrlDedup(docs: DataFrame): DataFrame = {
    // page id from doc_id div 4 so consecutive ids cover all four variants
    // of the SAME page (doc_id % 500 would lock variant = page % 4 — 500
    // and 4 are not coprime — and no page would ever cross variants)
    val u = expr("(doc_id div 4) % 500")
    val m = u % 13
    val r = u % 7
    val url = when(col("doc_id") % 4 === 0,
        concat(lit("https://www.Example"), m, lit(".org:443/page/"), u,
          lit("?utm_source=feed&ref="), r, lit("&z=1#top")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("http://example"), m, lit(".org/page/"), u,
          lit("/?ref="), r, lit("&z=1&utm_campaign=x")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://EXAMPLE"), m, lit(".org/page/"), u,
          lit("?z=1&ref="), r))
      .otherwise(
        concat(lit("https://example"), m, lit(".org:443/page/"), u,
          lit("/#sec")))
    val aug = concat(col("text"), lit(" "), url)
    val host = regexp_replace(
      regexp_replace(
        lower(regexp_extract(col("url"), "^https?://([^/?#]+)", 1)),
        "^www\\.", ""),
      ":(443|80)$", "")
    val path = regexp_replace(
      regexp_extract(col("url"), "^https?://[^/?#]+([^?#]*)", 1), "/$", "")
    val qSorted = array_join(array_sort(filter(
      split(regexp_extract(col("url"), "\\?([^#]*)", 1), "&"),
      x => !(x.rlike("^(utm_|fbclid|gclid)") || x === lit("")))), "&")
    val canonical = concat(host, path,
      when(qSorted === "", lit("")).otherwise(concat(lit("?"), qSorted)))
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(aug, lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), col("url"), canonical.as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url")).as("n_raw_forms"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("canonical_url"))
  }

  /** Shared BPE training loop: returns (merge table, final segmented
    * word-frequency frame), both eagerly checkpointed, so the merge table
    * owns its blocks instead of reading the per-round frames, and tracked
    * for release at the next [[Exec.clearPinned]]. See
    * [[bpeMerges]] for the scale shape.
    */
  private def bpeTrain(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val (m, c) = bpeTrainBuild(docs, rounds)
    (Exec.checkpoint(m), Exec.checkpoint(c))
  }

  private def bpeTrainBuild(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    var cur = Exec.checkpoint(docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select(col("freq"), col("syms")))
    val merges = (1 to rounds).map { r =>
      val pairs = cur.filter(size(col("syms")) >= 2)
        .withColumn("aa", slice(col("syms"), lit(1), size(col("syms")) - 1))
        .withColumn("bb", expr("slice(syms, 2, size(syms) - 1)"))
        .select(col("freq"), explode(arrays_zip(col("aa"), col("bb"))).as("z"))
        .select(col("z.aa").as("p1"), col("z.bb").as("p2"), col("freq"))
      val best = pairs
        .groupBy(col("p1"), col("p2")).agg(sum(col("freq")).as("cnt"))
        .agg(min(struct((-col("cnt")).as("negc"), col("p1"), col("p2"))).as("mb"))
        .select(col("mb.p1").as("p1"), col("mb.p2").as("p2"),
          (-col("mb.negc")).as("cnt"))
      // `best` is deliberately NOT checkpointed: A/B-measured (round 9,
      // 6 reps at sf0.1) — an eager 1-row localCheckpoint per round left
      // txt_bpe_merges flat (1.37 vs 1.32 s warm) and cost txt_bpe_vocab
      // ~20% (1.20 vs 0.99 s): five extra blocking jobs outweigh
      // recomputing a tiny argmax whose pair scan reads the already-
      // checkpointed `cur`.
      cur = Exec.checkpoint(cur
        .crossJoin(broadcast(best.select(col("p1").as("bp1"), col("p2").as("bp2"))))
        .withColumn("syms", expr(
          """aggregate(syms, CAST(array() AS array<string>),
            |  (acc, x) -> CASE
            |    WHEN size(acc) > 0 AND element_at(acc, -1) = bp1 AND x = bp2
            |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(bp1, bp2)))
            |    ELSE concat(acc, array(x)) END)""".stripMargin))
        .select(col("freq"), col("syms")))
      // every round's frame must OUTLIVE the call (round r's lazy `best`
      // in the merges result reads round r-1's blocks), so superseded
      // frames can't be dropped eagerly here — register each for the
      // between-query drain instead
      best.filter(col("p1").isNotNull)
        .select(lit(r).as("round"), col("p1"), col("p2"),
          concat(col("p1"), col("p2")).as("merged"), col("cnt"))
    }
    (merges.reduce(_ unionByName _).orderBy(col("round")), cur)
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training — the OTHER
    * tokenizer-training family beside BPE ([[bpeMerges]] is the greedy
    * bottom-up merger; this is the top-down probabilistic pruner): start
    * from a substring candidate vocabulary, estimate piece probabilities,
    * re-segment the corpus under them, re-estimate — bounded hard-EM
    * (Viterbi E-step) rounds over a vocabulary-sized candidate table.
    *
    * Determinism doctrine (cross-engine exact): piece scores are the
    * INTEGER-QUANTIZED logs floor(ln(c/T)·1e6) — after quantization the
    * whole Viterbi DP is exact int64 arithmetic. The DP key packs
    * (score_sum, piece_count) as `64·score − k` (k ≤ maxWordLen < 64), so
    * the comparison is lexicographic (max score, then fewest pieces), and
    * the backtrack resolves any residual tie by the SMALLEST split point
    * (longest final piece) via an explicit min — three deterministic
    * rules both engines replay bit-for-bit. The only float is ln itself,
    * which both engines evaluate correctly-rounded on the same rational
    * c/T (the txt_surprisal precedent); a flip would need the product to
    * land within one ulp of an integer multiple of 1e-6.
    *
    * Algorithm, per EM round r ∈ {1, 2}:
    *   scores = floor(ln(c_{r−1}+1) − ln(T_{r−1})) · 1e6 (add-one
    *   smoothing keeps pruned-to-zero and never-chosen pieces finite);
    *   E: per word, the max-score segmentation over vocab pieces (DP
    *   over ≤ maxWordLen positions, edges = vocab substrings);
    *   M: c_r(p) = Σ_words freq(w) · (occurrences of p in w's Viterbi
    *   segmentation); round 2 prunes c_1 = 0 pieces except single chars
    *   (coverage guarantee — every position must stay reachable).
    *
    * Scale shape: everything downstream of the one corpus scan (the
    * word-frequency aggregate) is VOCABULARY-sized — the word table,
    * the ≤ |words|·maxWordLen·maxPieceLen occurrence/edge frames, and
    * 2·maxWordLen tiny DP/backtrack joins per EM round, all on narrow
    * (word, pos, long) rows. At 100 TB the corpus scan dominates and
    * the EM loop is unchanged — the same posture as [[bpeMerges]].
    * Words longer than `maxWordLen` chars are excluded from training
    * (documented contract; bounds the DP depth statically). The word
    * and count frames ride `dpPartitions` partitions (default 1 —
    * vocabulary-sized; a 100-TB word table raises the knob, the plan is
    * unchanged).
    *
    * Output: top `topK` pieces by final count — (piece, c0 substring
    * count, c1 round-1 Viterbi count, c2 round-2 Viterbi count), all
    * exact integers, ordered (c2 desc, piece).
    */
  def unigramLmPieces(docs: DataFrame, vocabSize: Int = 40,
                      maxPieceLen: Int = 6, maxWordLen: Int = 12,
                      topK: Int = 50, dpPartitions: Int = 1): DataFrame = {
    val st = unigramTrain(docs, vocabSize, maxPieceLen, maxWordLen, dpPartitions)
    val c2 = viterbiPieceCounts(st.occ, st.vocab1, dpPartitions)
    st.vocab0.select(col("piece"))
      .join(st.c0.withColumnRenamed("cnt", "c0"), Seq("piece"))
      .join(st.c1.withColumnRenamed("cnt", "c1"), Seq("piece"), "left")
      .join(c2.withColumnRenamed("cnt", "c2"), Seq("piece"), "left")
      .select(col("piece"), col("c0"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
      .orderBy(col("c2").desc, col("piece"))
      .limit(topK)
  }

  /** APPLY the trained unigram-LM tokenizer to the corpus — the encode
    * half beside [[unigramLmPieces]] (the [[bpeEncode]] analogue): train
    * the same two hard-EM rounds, then segment every document's words
    * under the final (round-2) vocabulary and report per-document
    * tokenization stats. Because a word's segmentation is a pure function
    * of the trained scores, encoding is ONE vocabulary-sized Viterbi pass
    * plus a broadcast join from the corpus token stream onto the per-word
    * piece counts — document text never shuffles. Words longer than
    * `maxWordLen` are outside the training contract and excluded from the
    * census (the trainer's documented exclusion, applied consistently).
    *
    * Output: (doc_id, n_words, n_pieces, pieces_per_word 4dp) — the
    * fertility statistic a tokenizer rollout is judged by.
    */
  def unigramLmEncode(docs: DataFrame, vocabSize: Int = 40,
                      maxPieceLen: Int = 6, maxWordLen: Int = 12,
                      dpPartitions: Int = 1): DataFrame = {
    val st = unigramTrain(docs, vocabSize, maxPieceLen, maxWordLen, dpPartitions)
    val wordPieces = viterbiSegmented(st.occ, st.vocab1)
      .select(col("word"), (size(col("cuts")) - 1).as("n_pieces"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .join(wordPieces, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        (floor(col("n_pieces").cast("double") / col("n_words")
          * 10000 + 0.5) / 10000).as("pieces_per_word"))
      .orderBy(col("doc_id"))
  }

  /** WordPiece greedy longest-match-first encode — the third tokenizer
    * family beside BPE merges and the unigram-LM Viterbi: BERT-style
    * encoding picks, at each position, the LONGEST vocabulary piece that
    * matches, with word-INITIAL pieces and continuation pieces kept as
    * separate vocabularies (the `##` distinction). Vocabulary = top
    * `vocabPerClass` substrings per class by corpus mass, plus every
    * observed single character per class (coverage: a greedy step always
    * has a fallback, so no [UNK] is reachable by construction).
    *
    * The greedy walk is precomputed as a JUMP TABLE — per (word, position,
    * class) the farthest matching piece end, one aggregate — and then each
    * word's walk is a row-local `aggregate` fold over its jump array
    * (positions strictly increase, so ≤|word| steps): no per-step
    * shuffle, no recursion in the distributed plan. All counts are exact
    * integers; the DuckDB oracle replays the identical jump table with a
    * recursive-CTE walk — an independent mechanism, hash-exact.
    *
    * Output: per-document fertility census (n_words, n_pieces,
    * pieces_per_word), directly comparable against [[unigramLmEncode]]
    * and [[bpeEncode]] for tokenizer-choice A/B readouts.
    */
  def wordpieceEncode(docs: DataFrame, vocabPerClass: Int = 30,
                      maxPieceLen: Int = 6, maxWordLen: Int = 12): DataFrame = {
    val words = docs.select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val occ = words.select(col("word"), col("freq"),
        explode(expr(
          s"""flatten(transform(sequence(0, length(word) - 1),
             |  i -> transform(sequence(1, least($maxPieceLen, length(word) - i)),
             |    l -> struct(i AS i, i + l AS j,
             |                substring(word, i + 1, l) AS piece))))""".stripMargin))
          .as("o"))
      .select(col("word"), col("freq"), col("o.i").as("i"), col("o.j").as("j"),
        col("o.piece").as("piece"), (col("o.i") === 0).as("init"))
    val mass = occ.groupBy(col("piece"), col("init"))
      .agg(sum(col("freq")).as("cnt"))
    val wIn = Window.partitionBy(col("init"))
      .orderBy(col("cnt").desc, col("piece"))
    val vocab = mass.withColumn("rk", row_number().over(wIn))
      .filter(col("rk") <= vocabPerClass || length(col("piece")) === 1)
      .select(col("piece"), col("init"))
    val jumps = occ.join(broadcast(vocab), Seq("piece", "init"))
      .groupBy(col("word"), col("i"), col("init"))
      .agg(max(col("j")).as("jmp"))
    val wordPieces = jumps.groupBy(col("word"))
      .agg(sort_array(collect_list(struct(col("i"), col("init"), col("jmp"))))
        .as("js"))
      .withColumn("st", expr(
        """aggregate(sequence(1, length(word)),
          |  array(0, 0),
          |  (st, x) -> IF(element_at(st, 1) >= length(word), st,
          |    array(
          |      element_at(transform(filter(js,
          |        e -> e.i = element_at(st, 1)
          |          AND e.init = (element_at(st, 1) = 0)), e -> e.jmp), 1),
          |      element_at(st, 2) + 1)))""".stripMargin))
      .select(col("word"), element_at(col("st"), 2).as("n_pieces"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .join(wordPieces, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        (floor(col("n_pieces").cast("double") / col("n_words")
          * 10000 + 0.5) / 10000).as("pieces_per_word"))
      .orderBy(col("doc_id"))
  }

  /** Trained unigram-LM state shared by the pieces and encode operators:
    * the occurrence/edge frame, the candidate counts, the initial vocab,
    * round-1 Viterbi counts, and the pruned round-2 vocabulary.
    */
  private final case class UnigramState(occ: DataFrame, c0: DataFrame,
                                        vocab0: DataFrame, c1: DataFrame,
                                        vocab1: DataFrame)

  private def unigramTrain(docs: DataFrame, vocabSize: Int,
                           maxPieceLen: Int, maxWordLen: Int,
                           dpPartitions: Int): UnigramState = {
    // word-frequency table: the only corpus-wide aggregate (map-side
    // combined; the coalesce touches only the post-shuffle merge)
    val words = Exec.checkpoint(docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .coalesce(dpPartitions))
    // every substring occurrence (word, start i, end j, piece) — feeds
    // candidate counting AND the DP edge lists; (word, i, j) is unique
    val occ = Exec.checkpoint(words.select(col("word"), col("freq"),
        explode(expr(
          s"""flatten(transform(sequence(0, length(word) - 1),
             |  i -> transform(sequence(1, least($maxPieceLen, length(word) - i)),
             |    l -> struct(i AS i, i + l AS j,
             |                substring(word, i + 1, l) AS piece))))""".stripMargin))
          .as("o"))
      .select(col("word"), col("freq"),
        col("o.i").as("i"), col("o.j").as("j"), col("o.piece").as("piece"))
      .coalesce(dpPartitions))
    val c0 = occ.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    // initial vocab: top-V candidates by substring mass, plus ALL single
    // chars (coverage: every position must have an outgoing edge)
    val vocab0 = Exec.checkpoint(
      c0.orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
        .unionByName(c0.filter(length(col("piece")) === 1))
        .dropDuplicates("piece"))
    val c1 = viterbiPieceCounts(occ, vocab0, dpPartitions)
    // prune never-chosen multi-char pieces; single chars stay (coverage)
    val vocab1 = Exec.checkpoint(
      vocab0.select(col("piece"))
        .join(c1, Seq("piece"), "left")
        .filter(col("cnt").isNotNull || length(col("piece")) === 1)
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt")))
    UnigramState(occ, c0, vocab0, c1, vocab1)
  }

  /** Viterbi-segment every word of the occurrence frame under a scored
    * vocabulary — the hard-EM E-step as a ROW-LOCAL higher-order fold,
    * not a round of joins: each word's lattice depends only on its own
    * (i, j, score) edge list, so the per-word edges are collected into an
    * array sorted by (j, i) and the whole DP + backtrack runs inside two
    * codegen'd `aggregate` folds — ONE distributed job per call
    * regardless of word length (a first cut orchestrated 2·maxWordLen
    * tiny DP/backtrack JOINS per round: ~50 jobs of pure scheduler
    * overhead, 16.8 s at sf1 for a 31-word table; this shape is ~6×
    * faster and is how the DP scales to a 10M-word table — per-row
    * parallelism, no driver round loop).
    *
    * Scores: add-one-smoothed quantized logs floor(ln((c+1)/T)·1e6) —
    * after quantization the whole DP is exact int64 arithmetic. DP
    * state: dp[p] (1-based element p+1) = best packed key
    * (64·score − pieces) reaching position p, init dp[0] = 0 and −2⁶²
    * elsewhere (an effective −∞ that survives adding an edge cost
    * without overflow). Edges sorted by (j, i): every dp[i] is final
    * before any edge targeting j > i folds in. Backtrack state: the
    * CUT-POSITION list, head = current position, prepending the SMALLEST
    * i whose dp value explains the head's — the explicit min makes
    * residual score ties deterministic. Returns one row per word:
    * (word, freq, cuts) where cuts = [0, …, length(word)] are the
    * segmentation boundaries.
    */
  /** The Viterbi forward-DP fold (consumes `word` + sorted edge array
    * `es`, produces the packed-key array `dp`) — package-visible so the
    * ScalaCheck property suite can run the IDENTICAL expression against a
    * brute-force segmentation enumerator.
    */
  private[ops] val ViterbiDpExpr: String =
    """aggregate(es,
      |  concat(array(CAST(0 AS BIGINT)),
      |    transform(sequence(1, length(word)),
      |      x -> CAST(-4611686018427387904 AS BIGINT))),
      |  (acc, e) -> transform(acc, (v, p) ->
      |    IF(p = e.j,
      |       greatest(v, element_at(acc, e.i + 1) + e.skey * 64 - 1),
      |       v)))""".stripMargin

  /** The backtrack fold (consumes `word`, `es`, `dp`, produces the
    * cut-position list) — shared with the property suite.
    */
  private[ops] val ViterbiCutsExpr: String =
    """aggregate(sequence(1, length(word)),
      |  array(length(word)),
      |  (ps, x) -> IF(element_at(ps, 1) <= 0, ps,
      |    concat(array(array_min(transform(filter(es,
      |        e -> e.j = element_at(ps, 1)
      |          AND element_at(dp, e.i + 1) + e.skey * 64 - 1
      |            = element_at(dp, element_at(ps, 1) + 1)),
      |      e -> e.i))), ps)))""".stripMargin

  private def viterbiSegmented(occ: DataFrame, vocab: DataFrame): DataFrame = {
    // T rides along via a 1-row broadcast (no driver collect)
    val total = vocab.agg(sum(col("cnt") + 1).as("t"))
    val scored = vocab.crossJoin(broadcast(total))
      .select(col("piece"),
        floor((log(col("cnt") + 1) - log(col("t"))) * 1e6)
          .cast("long").as("skey"))
    occ.join(broadcast(scored), Seq("piece"))
      .groupBy(col("word"), col("freq"))
      .agg(array_sort(collect_list(
        struct(col("j"), col("i"), col("skey")))).as("es"))
      .withColumn("dp", expr(ViterbiDpExpr))
      .withColumn("cuts", expr(ViterbiCutsExpr))
      .select(col("word"), col("freq"), col("cuts"))
  }

  /** The hard-EM M-step: per-piece Viterbi counts from the segmented
    * words (pieces absent from every best segmentation get no row).
    */
  private def viterbiPieceCounts(occ: DataFrame, vocab: DataFrame,
                                 dpPartitions: Int): DataFrame = {
    val out = Exec.checkpoint(viterbiSegmented(occ, vocab)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, size(cuts) - 1),
          |  k -> substring(word, element_at(cuts, k) + 1,
          |    element_at(cuts, k + 1) - element_at(cuts, k)))""".stripMargin))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .coalesce(dpPartitions))
    out
  }

  /** The COMPOSED training-data pipeline, end to end in one plan:
    * quality filter → exact dedup → eval-decontamination → source mixing
    * → sequence packing. Every stage is the registered per-stage operator
    * (filterDecisions, [[DedupOps.exactSurvivors]], the
    * decontaminationScan probe shape, the mixingSampleStats bucket draw,
    * packSequences), chained on document IDs so the stage INTERFACES are
    * exercised together — the drift a per-stage spec cannot catch (e.g. a
    * stage renaming doc_id, changing its keep semantics, or reordering
    * rows ahead of the order-sensitive packer). Semantics:
    *
    *   1. keep docs whose filterDecisions verdict is ok;
    *   2. keep the min-doc_id survivor per exact content fingerprint;
    *   3. hold out docs with doc_id % `evalMod` == 0 as the eval slice
    *      and drop any TRAIN doc sharing a 5-gram shingle hash with it
    *      (the eval slice itself leaves the training corpus too);
    *   4. keep docs whose salted 'mix:' md5 bucket lands under their
    *      source's basis-point threshold (same draw as txt_mixing_sample);
    *   5. pack the survivors into `budget`-token sequences in doc_id
    *      order (same math as txt_pack_sequences).
    *
    * Two branches, chosen once per input by [[Exec.collectInternalIfSmall]]
    * (at most `Exec.SmallInputRows` documents whose features fit
    * `Exec.DefaultDriverCollectBytes`; never under
    * `SPARK_GRAFT_DRIVER_GATE=off`):
    *
    *   - small input ([[pipelineE2EOnDriver]]): one narrow projection
    *     computes each document's Spark-evaluated features (tokens,
    *     fingerprint, `n`-gram shingle hashes, mixing draw) in one bounded
    *     collect, and the driver runs the five stages over those rows. The
    *     result is a local frame, so collecting it starts no job.
    *   - otherwise ([[pipelineE2EDistributed]]): stages 1–4 are semi/anti-
    *     joins on bare doc_id (text never re-shuffles); the only wide
    *     exchange is the 5-gram hash probe, keyed by the 61-bit shingle hash
    *     exactly as decontaminationScan partitions it. The final global-order
    *     window is the packer's documented contract (per-shard at 100 TB).
    */
  def pipelineE2E(docs: DataFrame,
                  keepBp: Map[String, Int] =
                    Map("src0" -> 9000, "src1" -> 5000, "src2" -> 500),
                  defaultBp: Int = 7500,
                  evalMod: Long = 97L, n: Int = 5,
                  budget: Int = 512): DataFrame =
    pipelineE2EOnDriver(docs, keepBp, defaultBp, evalMod, n, budget)
      .getOrElse(pipelineE2EDistributed(docs, keepBp, defaultBp, evalMod, n, budget))

  /** The distributed branch of [[pipelineE2E]]. */
  private[graft] def pipelineE2EDistributed(docs: DataFrame, keepBp: Map[String, Int],
      defaultBp: Int, evalMod: Long, n: Int, budget: Int): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    // 1. quality filter (C4/Gopher rule stack verdict)
    val d1 = docs.join(
      filterDecisions(docs).filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    // 2. exact dedup survivors
    // read by the shingle probe AND the stage-4 filter
    val d2 = Exec.pin(d1.join(DedupOps.exactSurvivors(d1), Seq("doc_id"), "left_semi"))
    // 3. decontamination against the held-out eval slice
    val withSh = d2
      .withColumn("toks", tokens(col("text")))
      .withColumn("sh", expr(s"shingle_hashes(toks, $n)"))
      .select(col("doc_id"), col("sh"))
    val evalHashes = withSh.filter(col("doc_id") % evalMod === 0)
      .select(explode(col("sh")).as("h")).distinct()
    val contaminated = withSh.filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .join(evalHashes, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
    val d3 = d2.filter(col("doc_id") % evalMod =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 4. source mixing (salted stable draw, same as mixingSampleStats)
    val thr = keepBp.toSeq.sortBy(_._1).foldLeft(lit(defaultBp)) {
      case (acc, (src, bp)) => when(col("source") === src, lit(bp)).otherwise(acc)
    }
    val d4 = d3.filter(mixBucket < thr)
    // 5. sequence packing over the surviving corpus
    packSequences(d4, budget)
  }

  /** The small-input branch of [[pipelineE2E]], or None when the gate sends
    * `docs` to the distributed branch. Spark evaluates every per-row
    * expression (normalization, md5, shingle hashing), so the driver never
    * re-implements Spark's string or hash semantics; it runs the relational
    * steps with the distributed branch's rules: `filterDecisions`' default
    * verdict, keep-first exact dedup, the `doc_id % evalMod` eval slice and
    * its shingle probe, the mixing threshold and the packing cumsum in
    * doc_id order. Tokens compare as `UTF8String`, Spark's byte equality; a
    * bigram is a token pair, since tokens never hold the ' ' that joins
    * them. Inputs outside the shapes this branch mirrors (a null doc_id or
    * text, a repeated doc_id, non-long/string key columns) also take the
    * distributed branch.
    */
  private[graft] def pipelineE2EOnDriver(docs: DataFrame, keepBp: Map[String, Int],
      defaultBp: Int, evalMod: Long, n: Int, budget: Int): Option[DataFrame] = {
    val fields = docs.schema.map(f => f.name -> f).toMap
    val typed = Seq("doc_id" -> LongType, "text" -> StringType, "source" -> StringType)
      .forall { case (c, t) => fields.get(c).exists(_.dataType == t) }
    if (!typed) return None
    Exec.collectInternalIfSmall(pipelineFeatures(docs, n), Exec.SmallInputRows).flatMap { rows =>
      val ids = rows.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
      if (ids.size != rows.length || rows.exists(_.isNullAt(2))) None
      else Some(pipelineLocal(docs, rows, fields("doc_id").nullable, keepBp,
        defaultBp, evalMod, budget))
    }
  }

  /** The per-document features [[pipelineE2EOnDriver]] collects: doc_id,
    * source, tokens, distinct-token count, fingerprint, `n`-gram shingle
    * hashes and mixing draw, all evaluated by Spark. */
  private[graft] def pipelineFeatures(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("source"), col("toks"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        fingerprint(col("text")).as("fp"),
        expr(s"shingle_hashes(toks, $n)").as("sh"),
        mixBucket.as("mix"))
  }

  private def pipelineLocal(docs: DataFrame, rows: Array[InternalRow],
      idNullable: Boolean, keepBp: Map[String, Int], defaultBp: Int,
      evalMod: Long, budget: Int): DataFrame = {
    def id(r: InternalRow): Long = r.getLong(0)
    def toks(r: InternalRow): ArrayData = r.getArray(2)
    // 1. quality filter: filterDecisions with its default rules
    def keep(r: InternalRow): Boolean = {
      val t = toks(r)
      val nTok = t.numElements()
      val distinctRatio = q4(r.getInt(3).toDouble / nTok)
      val topBigramFrac =
        if (nTok < 2) 0.0
        else {
          val counts = scala.collection.mutable.HashMap.empty[(UTF8String, UTF8String), Int]
          (0 until nTok - 1).foreach { i =>
            val bg = (t.getUTF8String(i), t.getUTF8String(i + 1))
            counts(bg) = counts.getOrElse(bg, 0) + 1
          }
          q4(counts.values.max.toDouble / (nTok - 1))
        }
      !(nTok < 10 || nTok > 100000 || distinctRatio < 0.3 || topBigramFrac > 0.3)
    }
    val d1 = rows.filter(keep)
    // 2. exact dedup: the min doc_id per fingerprint
    val firsts = d1.groupBy(_.getUTF8String(4)).valuesIterator.map(_.map(id).min).toSet
    val d2 = d1.filter(r => firsts(id(r)))
    // 3. decontamination against the held-out eval slice
    val (evalSlice, train) = d2.partition(id(_) % evalMod == 0)
    val evalHashes = evalSlice.flatMap(_.getArray(5).toLongArray()).toSet
    val d3 = train.filterNot(_.getArray(5).toLongArray().exists(evalHashes))
    // 4. source mixing
    val thr = keepBp.map { case (src, bp) => UTF8String.fromString(src) -> bp }
    val d4 = d3.filter { r =>
      r.getLong(6) < (if (r.isNullAt(1)) defaultBp else thr.getOrElse(r.getUTF8String(1), defaultBp))
    }
    // 5. sequence packing in doc_id order
    var cum = 0L
    val packed = d4.sortBy(id).map { r =>
      val nTok = toks(r).numElements()
      cum += nTok
      val (first, last) = ((cum - nTok) / budget, (cum - 1) / budget)
      Row(id(r), nTok, first, last, last - first + 1)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, idNullable),
      StructField("n_tokens", IntegerType),
      StructField("first_seq", LongType),
      StructField("last_seq", LongType),
      StructField("n_seqs_spanned", LongType)))
    docs.sparkSession.createDataFrame(java.util.Arrays.asList(packed: _*), schema)
  }

  /** Vocabulary-coverage / OOV curve — the first number a tokenizer or
    * embedding-table sizing decision reads: for each candidate vocabulary
    * size k (word-level, frequency-ranked with deterministic alphabetical
    * tie-break), the fraction of corpus TOKEN OCCURRENCES covered by the
    * top-k words and the complementary OOV rate. One corpus scan to the
    * word-frequency table; the top-max(ks) selection is a TakeOrdered
    * (per-partition top-k, max(ks)-row merge) — the vocabulary frame is
    * hapax-dominated and corpus-scale, so it must never funnel through a
    * single unpartitioned window partition. The rank + running-sum windows
    * run over the ≤max(ks)-row post-limit frame (whitelisted bounded
    * window); totals come from one partial-aggregable corpus aggregate,
    * and the coverage ratios are single divisions of exact longs.
    * Building the frame runs the [[sourceTokenCounts]] checkpoint job.
    */
  def oovRate(docs: DataFrame, ks: Seq[Int] = Seq(5, 10, 20)): DataFrame = {
    val freq = globalTokenCounts(docs)
      .select(col("token").as("word"), col("n").as("f"))
    val top = freq.orderBy(col("f").desc, col("word")).limit(ks.max)
    val w = Window.orderBy(col("f").desc, col("word")) // bounded: ≤max(ks) rows post-limit
    val ranked = top
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum(col("f")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = freq.agg(sum(col("f")).as("total"),
      count(lit(1)).as("n_distinct"))
    val kDf = docs.sparkSession.createDataFrame(
      ks.map(Tuple1(_))).toDF("k")
    // coverage at k = cum at rank min(k, n_distinct): take the largest
    // rank ≤ k (a k past the vocabulary covers everything)
    kDf.join(broadcast(ranked), col("rk") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("cum")).as("covered"))
      .crossJoin(broadcast(totals))
      .select(col("k"), col("n_distinct"), col("covered"), col("total"),
        q4(col("covered").cast("double") / col("total")).as("coverage"),
        q4((col("total") - col("covered")).cast("double") / col("total"))
          .as("oov_rate"))
      .orderBy(col("k"))
  }

  /** T5-style span-corruption plan statistics — the masking step of a
    * denoising-pretraining pipeline, made deterministic and block-local:
    * each document's token stream is cut into fixed blocks of `blockLen`
    * tokens and every FULL block masks exactly one span whose length
    * (2..4, mean 3 → 15 % corruption at blockLen 20) and offset come from
    * an md5 draw on (doc, block) — so the plan needs no sequential walk
    * (a greedy left-to-right sampler is a per-doc fold; the block form is
    * embarrassingly parallel and reproducible from any engine, which is
    * what makes the mask auditable downstream). Emits the per-document
    * corruption census: blocks, spans, masked tokens, realized rate.
    */
  def spanCorruptionStats(docs: DataFrame, blockLen: Int = 20): DataFrame = {
    val nTok = size(tokens(col("text")))
    val d = docs.select(col("doc_id"), nTok.as("n_tokens"))
      .withColumn("n_blocks", expr(s"n_tokens div $blockLen"))
    val spans = d.filter(col("n_blocks") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_blocks") - 1)).as("b"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(concat('sc:', CAST(doc_id AS STRING), " +
          "':', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("span_len", (col("h") % 3 + 2).cast("int"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_len")).cast("long").as("n_masked"))
    d.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_blocks"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        q4(coalesce(col("n_masked"), lit(0L)).cast("double")
          / col("n_tokens")).as("corrupt_rate"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-paper rule census (Rae et al. 2021, table A1 — the published
    * heuristic filter battery every LLM-data pipeline reimplements): per
    * rule, how many documents pass, plus the all-rules keep rate.
    *
    *   r1  word count in [minWords, maxWords]
    *   r2  mean word length in [3, 10]
    *   r3  ≥80 % of words contain an alphabetic character
    *   r4  ≥2 distinct required stopwords present
    *   r5  symbol-to-word ratio ('#' or '…' per word) ≤ 0.1
    *
    * Every rule is decided in EXACT integer arithmetic (5·n_alpha ≥ 4·n_tok
    * instead of a double ratio, etc.), so no engine can disagree at a
    * threshold boundary. One corpus scan, one single-row aggregate, a
    * 6-row stack — nothing scales with the corpus but the scan.
    */
  def gopherRules(docs: DataFrame, minWords: Int = 50,
                  maxWords: Int = 100000): DataFrame = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // materialize the token array ONCE per row in its own projection: the
    // census reads it four times, and inlining the normalize+split into
    // each consumer re-tokenizes the document per rule
    val withToks = docs.select(col("text"), tokens(col("text")).as("toks"))
    val toks = col("toks")
    val d = withToks.select(
      size(toks).as("n_tok"),
      aggregate(toks, lit(0L), (a, t) => a + length(t)).as("sum_len"),
      // "contains an alphabetic char" via translate-shrink, not a per-token
      // regex (rlike inside an interpreted HOF lambda costs a compile per
      // evaluation)
      size(filter(toks,
        t => length(translate(t, "abcdefghijklmnopqrstuvwxyz", "")) < length(t)))
        .as("n_alpha"),
      size(filter(typedLit(gopherStops), s => array_contains(toks, s)))
        .as("n_stop"),
      (length(regexp_replace(col("text"), "[^#]", ""))
        + regexp_count(col("text"), lit("\\.\\.\\."))).as("n_sym"))
    val flags = d.select(
      col("n_tok").between(minWords, maxWords).as("r1"),
      (col("sum_len") >= lit(3L) * col("n_tok")
        && col("sum_len") <= lit(10L) * col("n_tok")).as("r2"),
      (lit(5L) * col("n_alpha") >= lit(4L) * col("n_tok")).as("r3"),
      (col("n_stop") >= 2).as("r4"),
      (lit(10L) * col("n_sym") <= col("n_tok")).as("r5"))
    flags
      .select(col("r1"), col("r2"), col("r3"), col("r4"), col("r5"),
        (col("r1") && col("r2") && col("r3") && col("r4") && col("r5")).as("keep"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("r1"), 1)).as("p1"),
        count(when(col("r2"), 1)).as("p2"),
        count(when(col("r3"), 1)).as("p3"),
        count(when(col("r4"), 1)).as("p4"),
        count(when(col("r5"), 1)).as("p5"),
        count(when(col("keep"), 1)).as("pk"))
      .select(expr(
        """stack(6,
          |  'r1_word_count', p1, 'r2_mean_word_len', p2,
          |  'r3_alpha_words', p3, 'r4_stopwords', p4,
          |  'r5_symbol_ratio', p5, 'r6_all_rules', pk) AS (rule, n_pass)"""
          .stripMargin),
        col("n_docs"))
      .select(col("rule"), col("n_pass"), col("n_docs"),
        q4(col("n_pass").cast("double") / col("n_docs")).as("pass_rate"))
      .orderBy(col("rule"))
  }

  /** Pairwise Jensen–Shannon divergence between the per-source unigram
    * distributions — the corpus-mixture drift monitor a data pipeline runs
    * when a new crawl/source lands: JS is symmetric, bounded by ln 2, and
    * (unlike KL) finite when a token appears in only one source, so it is
    * the standard "did this source's vocabulary distribution move"
    * statistic. For each unordered source pair (sa < sb), with unigram
    * probabilities p, q and mixture m = (p+q)/2:
    *
    *   JS = ½·Σ p·ln(2p/(p+q)) + ½·Σ q·ln(2q/(p+q))
    *
    * a token missing from one side contributes its ½·p·ln 2 mass through
    * the same expression (q = 0), so one full-outer token join covers all
    * three token classes. Scale shape: ONE corpus scan to (source, token)
    * counts; per-source totals broadcast; the pair expansion multiplies
    * the VOCABULARY-sized count frame by the (tiny) source-pair frame and
    * full-outer joins on (sa, sb, token) — corpus text never moves, and
    * every exchange carries (source, token, count) rows. Per-token terms
    * ride exact integer ratios; the final sum is doubles of uniform
    * magnitude under q4 flooring (the knPerplexity doctrine).
    * Building the frame runs the [[sourceTokenCounts]] checkpoint job.
    */
  def jsDivergence(docs: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    // the (source, token, n) checkpoint serves the three reads below
    val counts = sourceTokenCounts(docs)
    val totals = counts.groupBy(col("source")).agg(sum(col("n")).as("tot"))
    val srcs = totals.select(col("source"))
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(broadcast(srcs.select(col("source").as("sb"))))
      .filter(col("sa") < col("sb")) // |sources|² rows — metadata-sized
    val left = pairs
      .join(counts.select(col("source").as("sa"), col("token"),
        col("n").as("na")), Seq("sa"))
    val right = pairs
      .join(counts.select(col("source").as("sb"), col("token"),
        col("n").as("nb")), Seq("sb"))
    val ta = totals.select(col("source").as("sa"), col("tot").as("tota"))
    val tb = totals.select(col("source").as("sb"), col("tot").as("totb"))
    left.join(right, Seq("sa", "sb", "token"), "full_outer")
      .join(broadcast(ta), Seq("sa"))
      .join(broadcast(tb), Seq("sb"))
      .withColumn("pa", col("na").cast("double") / col("tota").cast("double"))
      .withColumn("pb", col("nb").cast("double") / col("totb").cast("double"))
      // identical operand order on both engines; a NULL side contributes 0
      .withColumn("term",
        coalesce(lit(0.5) * col("pa")
          * log(lit(2.0) * col("pa") / (col("pa") + coalesce(col("pb"), lit(0.0)))),
          lit(0.0))
        + coalesce(lit(0.5) * col("pb")
          * log(lit(2.0) * col("pb") / (coalesce(col("pa"), lit(0.0)) + col("pb"))),
          lit(0.0)))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_union"),
        count(when(col("na").isNotNull && col("nb").isNotNull, 1)).as("n_shared"),
        q4(sum(col("term"))).as("js_nats"))
      .orderBy(col("sa"), col("sb"))
  }

  /** ROUGE-L between document pairs — the reference-based evaluation
    * metric family (the number an eval harness reports when comparing a
    * model output against a reference, and the decontamination signal
    * n-gram overlap misses when the copy is PARAPHRASED with insertions):
    * longest common subsequence of the token streams, with
    * recall = LCS/|ref|, precision = LCS/|cand|, F1. The LCS is the
    * classic rolling-row DP as a row-local nested HOF fold — O(|a|·|b|)
    * integer ops per pair, NO shuffle (the DuckDB oracle replays the same
    * recurrence as a recursive CTE with an inner list_reduce; the
    * recurrence max(prev[j], cur[j−1], prev[j−1]+match) is exact-integer,
    * so parity is bitwise). Pairs are the id-bounded audit slice, like
    * [[graft.ops.TimeSeriesOps.dtwPairs]]; at corpus scale the pair list
    * comes from a dedup/retrieval shortlist and the metric itself stays
    * per-pair row-local — the shape is shortlist-bounded by construction.
    * Tokens truncate to `maxTokens` so per-pair cost is capped.
    */
  def rougeL(docs: DataFrame, maxDocId: Long = 10, maxTokens: Int = 40): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val t = docs.filter(col("doc_id") < maxDocId)
      .select(col("doc_id"),
        slice(tokens(col("text")), 1, maxTokens).as("toks"))
    val ta = t.select(col("doc_id").as("doc_a"), col("toks").as("ta"))
    val tb = t.select(col("doc_id").as("doc_b"), col("toks").as("tb"))
    ta.join(broadcast(tb), col("doc_a") < col("doc_b")) // id-bounded slice
      .withColumn("lcs", expr(
        """aggregate(
          |  ta,
          |  transform(sequence(0, size(tb)), x -> 0),
          |  (prev, x) -> aggregate(
          |    sequence(1, size(tb)),
          |    array(0),
          |    (cur, j) -> array_append(cur,
          |      greatest(prev[j], cur[j - 1],
          |        prev[j - 1] + IF(tb[j - 1] = x, 1, 0)))),
          |  row -> row[size(tb)])""".stripMargin))
      .select(col("doc_a"), col("doc_b"),
        size(col("ta")).as("n_a"), size(col("tb")).as("n_b"), col("lcs"), {
          val r = col("lcs").cast("double") / size(col("ta")).cast("double")
          q4(r).as("rouge_recall")
        }, {
          val p = col("lcs").cast("double") / size(col("tb")).cast("double")
          q4(p).as("rouge_precision")
        }, {
          val r = col("lcs").cast("double") / size(col("ta")).cast("double")
          val p = col("lcs").cast("double") / size(col("tb")).cast("double")
          when(col("lcs") === 0, lit(0.0))
            .otherwise(q4(lit(2.0) * r * p / (r + p))).as("rouge_f1")
        })
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Deterministic training-shuffle audit — the "global shuffle" every
    * pre-training run needs, without ever materializing a global order:
    * each doc's position is its portable MD5-61 key (a fixed pseudo-random
    * permutation — reproducible across runs, engines, executors, and input
    * row order), its shard is pos mod nShards, and training consumes each
    * shard in pos order. The audit reports, per shard: size, source
    * diversity, char mass, the deterministic head doc, and the LONGEST
    * consecutive same-source run (the interleave-quality signal — a long
    * run means a training window sees one source back to back, exactly
    * what the shuffle exists to prevent). The run-length pass is a
    * gaps-and-islands walk under a window PARTITIONED BY SHARD — bounded
    * parallelism equal to the shard count, which is the contract: a shard
    * IS the unit a trainer reads sequentially, and production sets
    * nShards to O(reader count), not 8. Zero data moves except the one
    * hash-shard exchange — the same exchange the shuffle itself needs.
    */
  def shuffleShards(docs: DataFrame, nShards: Int = 8): DataFrame = {
    graft.functions.MinHashFunctions.register(docs.sparkSession)
    val sharded = docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("pos", expr("hash61(concat('shuf:', CAST(doc_id AS STRING)))"))
      .withColumn("shard", pmod(col("pos"), lit(nShards.toLong)).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"), col("doc_id"))
    val runs = sharded
      .withColumn("new_run",
        when(lag(col("source"), 1).over(w) === col("source"), 0L).otherwise(1L))
      .withColumn("run_id", sum(col("new_run")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val maxRun = runs.groupBy(col("shard"), col("run_id"))
      .agg(count(lit(1)).as("rl"))
      .groupBy(col("shard")).agg(max(col("rl")).as("max_src_run"))
    val stats = sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"),
        min(struct(col("pos"), col("doc_id"))).getField("doc_id").as("head_doc"))
    stats.join(maxRun, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("n_sources"), col("sum_chars"),
        col("head_doc"), col("max_src_run"))
      .orderBy(col("shard"))
  }

  // ------------------------------------------------------- HTML extraction

  /** Block-level HTML tags — boundaries between text "lines" for the
    * boilerplate census (trafilatura/jusText treat block elements as the
    * paragraph unit; inline tags like `<a>`/`<b>` do NOT split text).
    */
  private val BlockTags =
    "html|head|body|title|nav|footer|header|h[1-6]|p|div|li|ul|ol|br|tr|td|table"

  /** `<script>`/`<style>` payloads removed wholesale (their content is code,
    * not text). `[^<]*` instead of a dotall backreference keeps the pattern
    * RE2-compatible (DuckDB oracle) — the documented constraint is no nested
    * markup inside script/style, which holds for anything this census should
    * count as text anyway.
    */
  private def dropScriptStyle(html: Column): Column =
    regexp_replace(html, "<(script|style)[^>]*>[^<]*</(script|style)>", " ")

  /** Visible text lines of an HTML page: script/style payloads dropped,
    * block tags become line breaks, inline tags become spaces, every line
    * whitespace-collapsed, empties dropped. Pure per-row expression work —
    * no shuffle, runs at scan speed at any corpus size.
    */
  def htmlTextLines(html: Column): Column = {
    val blocked = regexp_replace(dropScriptStyle(html),
      s"</?($BlockTags)[^>]*>", "\n")
    val stripped = regexp_replace(blocked, "<[^>]*>", " ")
    filter(
      transform(split(stripped, "\n"),
        l => trim(regexp_replace(l, "\\s+", " "))),
      l => length(l) > 0)
  }

  /** Tag-strip + markup-density census — the preprocessing stage every
    * web-scale corpus (C4, RefinedWeb) runs BEFORE any other text operator:
    * per page, the extracted visible text, its size relative to the raw
    * markup, and the link density (boilerplate-heavy pages are link-dense;
    * content pages are text-dense). Expects (doc_id, html). All built-ins,
    * zero shuffle.
    */
  def htmlExtract(pages: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    val text = trim(regexp_replace(
      regexp_replace(dropScriptStyle(col("html")), "<[^>]*>", " "),
      "\\s+", " "))
    val anchors = regexp_extract_all(col("html"), lit("<a [^>]*>([^<]*)</a>"), lit(1))
    pages
      .withColumn("text", text)
      .withColumn("link_chars",
        aggregate(anchors, lit(0L), (a, x) => a + length(x).cast("long")))
      .select(col("doc_id"),
        length(col("html")).cast("long").as("n_html_chars"),
        length(col("text")).cast("long").as("n_text_chars"),
        q4(length(col("text")).cast("double") /
          greatest(length(col("html")), lit(1))).as("text_markup_ratio"),
        size(anchors).cast("long").as("n_links"),
        col("link_chars"),
        q4(col("link_chars").cast("double") /
          greatest(length(col("text")), lit(1)).cast("double"))
          .as("link_density"))
      .orderBy(col("doc_id"))
  }

  /** C4-style boilerplate line census (Raffel et al. 2020 §2.2: keep lines
    * that end in terminal punctuation and have ≥ 3 words; drop
    * cookie/javascript notices): per page, how many visible lines survive
    * and why the rest died. Precedence: blacklist > too-short > no terminal
    * punctuation > kept — each line lands in exactly one bucket, so the
    * buckets sum to n_lines (the invariant the spec pins). Zero shuffle.
    */
  def htmlBoilerplateCensus(pages: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000 + 0.5) / 10000
    def words(l: Column): Column = size(split(l, " "))
    def black(l: Column): Column =
      lower(l).contains("cookie") || lower(l).contains("javascript")
    def short(l: Column): Column = !black(l) && words(l) < 3
    def nopunct(l: Column): Column =
      !black(l) && words(l) >= 3 && !l.rlike("[.!?]$")
    def kept(l: Column): Column =
      !black(l) && words(l) >= 3 && l.rlike("[.!?]$")
    pages
      .withColumn("lines", htmlTextLines(col("html")))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(filter(col("lines"), l => black(l))).cast("long").as("n_blacklist"),
        size(filter(col("lines"), l => short(l))).cast("long").as("n_short"),
        size(filter(col("lines"), l => nopunct(l))).cast("long").as("n_nopunct"),
        size(filter(col("lines"), l => kept(l))).cast("long").as("n_kept"),
        aggregate(filter(col("lines"), l => kept(l)), lit(0L),
          (a, x) => a + length(x).cast("long")).as("kept_chars"))
      .withColumn("boiler_ratio",
        q4((col("n_lines") - col("n_kept")).cast("double") /
          greatest(col("n_lines"), lit(1L)).cast("double")))
      .orderBy(col("doc_id"))
  }

  /** Deterministic synthetic page wrapper for the driver corpus: the
    * documents table carries clean text, so the registry queries wrap each
    * doc in a realistic page (head + style + script, link-dense nav, bare
    * headline, the doc text as the content paragraph — terminally
    * punctuated except every 7th doc — a share bar, and a cookie-notice
    * footer) with a transformation simple enough that the DuckDB oracle
    * replays it verbatim. Every census bucket is exercised BY CONSTRUCTION,
    * independent of driver-data structure (the r15 non-vacuity lesson).
    */
  def syntheticPages(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><style>body{margin:0;font:14px serif}</style>" +
        "<script>var tracker=1;</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/t\">"), col("lang"),
      lit("</a></nav><h1>"), col("source"), lit(" #"),
      col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
      when(col("doc_id") % 7 =!= 0, lit(".")).otherwise(lit("")),
      lit("</p><div><a href=\"#\">Share</a> <a href=\"#\">Tweet</a></div>" +
        "<footer>We use cookies and javascript to improve this site "),
      col("source"), lit("</footer></body></html>")).as("html"))
}
