package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, built
  * entirely from codegen'd `org.apache.spark.sql.functions` (no UDFs in the
  * hot path — every expression stays inside WholeStageCodegen and is
  * column-prunable/pushdown-friendly at the parquet scan).
  */
object TextAnalysis {

  /** Non-empty whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Shingles from an already-materialized token array column.
    *
    * Callers that feed a generator should project `tokens(text)` into a
    * real column first and pass that attribute here: the split+filter then
    * runs once per row instead of once per `element_at` (the inlined form
    * is O(tokens²) per document — measured 10× slower at sf0.1). */
  def shinglesOfTokens(tk: Column, n: Int): Column =
    when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(tk, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Per-token 64-bit hashes — project into a real column before
    * feeding [[windowHashesOfTokenHashes]] (the [[shinglesOfTokens]]
    * materialization discipline: inlined, CollapseProject would
    * re-evaluate the whole transform per consumer reference). */
  def tokenHashes(tk: Column): Column = transform(tk, t => xxhash64(t))

  /** 64-bit IDENTITY hashes of the sliding n-token windows, from an
    * already-materialized token-hash array column ([[tokenHashes]]):
    * each window hash combines its n per-token hashes with one
    * fixed-width xxhash64 call — collision-equivalent to hashing the
    * window text (tokens carry no spaces, so text concatenation is
    * injective; xxhash64 chains per-value, so long-tuple collisions are
    * the same negligible class as string-hash collisions), but with no
    * per-window string allocation and each token's bytes hashed once
    * instead of once per covering window (r19 optimization, guide §1.2
    * "per-task work": the window-STRING build dominated the shingle
    * stage CPU). ONLY for consumers that need window identity and whose
    * oracle compares window TEXT — never where a dialect-portable hash
    * value (md5) is itself replayed by the oracle (MinHash/SimHash). */
  def windowHashesOfTokenHashes(th: Column, n: Int): Column =
    when(size(th) >= n,
      transform(sequence(lit(1), size(th) - (n - 1)),
        i => xxhash64((0 until n).map(k => element_at(th, i + lit(k))): _*)))
      .otherwise(array().cast("array<bigint>"))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: alpha runs, digit runs, single symbols. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0))).cast("long")

  /** Punctuation-character share of all characters (0 when empty). */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^.,!?;:]", ""))
    when(length(text) === 0, 0.0).otherwise(punct * lit(1.0) / length(text))
  }

  /** Mean token length (0 when no tokens). */
  def avgTokenLen(text: Column): Column = {
    val tk = tokens(text)
    val total = aggregate(tk, lit(0), (acc, t) => acc + length(t))
    when(size(tk) === 0, 0.0).otherwise(total * lit(1.0) / size(tk))
  }

  val EnglishStopwords: Seq[String] = Seq("the", "and", "of", "to", "in", "a", "is")

  /** Share of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val tk = tokens(text)
    val sw = size(filter(tk, t => array_contains(typedLit(EnglishStopwords), t)))
    when(size(tk) === 0, 0.0).otherwise(sw * lit(1.0) / size(tk))
  }

  /** Composite quality score in [0,1]: length credit × cleanliness. A
    * deterministic linear form (no exp/log — bit-identical across engines). */
  def qualityScore(text: Column): Column =
    least(lit(1.0), tokenCount(text) / lit(100.0)) * (lit(1.0) - punctRatio(text))

  // --- repetition metrics (Gopher-style quality rules) -----------------
  // All take a MATERIALIZED token-array column (see shinglesOfTokens on
  // why: inlining tokens(text) into a higher-order function re-evaluates
  // the split per lambda step). Pure array expressions — per-row map,
  // no shuffle, stays in WholeStageCodegen.

  /** Share of tokens that are repeats of an earlier token: 1 − distinct/n
    * (0 for empty docs). High values mark boilerplate/spam. */
  def dupTokenRatio(tk: Column): Column =
    when(size(tk) === 0, 0.0)
      .otherwise((size(tk) - size(array_distinct(tk))) * lit(1.0) / size(tk))

  /** Frequency share of the single most repeated token (0 for empty
    * docs) — the "most common word fraction" rule. One codegen'd O(n)
    * hash-map pass per row (`functions.TopTokenCount`); the equivalent
    * higher-order-function form is O(distinct·n) per DOCUMENT, which a
    * 10k-token page turns quadratic. */
  def topTokenFraction(tk: Column): Column = {
    val maxCnt = graft.functions.TokenStats.topTokenCount(tk)
    when(size(tk) === 0, 0.0).otherwise(maxCnt * lit(1.0) / size(tk))
  }

  /** Share of 2-token shingles that are repeats — catches phrase-level
    * boilerplate single-token stats miss. */
  def dupBigramFraction(tk: Column): Column = {
    val bg = shinglesOfTokens(tk, 2)
    when(size(bg) <= 0, 0.0)
      .otherwise((size(bg) - size(array_distinct(bg))) * lit(1.0) / size(bg))
  }

  /** Integer-exact composite quality gate (the C4/Gopher-style curation
    * filter), designed to sit AT THE SCAN: every clause compares raw
    * integer counts with CROSS-MULTIPLIED thresholds — no float division
    * anywhere — so the predicate ships byte-identically to any SQL
    * dialect and pushes into the parquet scan as one codegen'd filter
    * (plan-pinned for q100). Clauses, all required:
    *
    *   - token count within [minTokens, maxTokens]
    *   - duplicate-token share < 60%:  (n - distinct) * 10 < n * 6
    *   - top-token share < 12%:        maxCount * 100 < n * 12
    *   - stopword share >= 5%:         stopwords * 20 >= n
    *
    * Takes a MATERIALIZED token-array column like the repetition
    * metrics above (inlining tokens(text) into the lambdas would
    * re-split per step). */
  def qualityGate(tk: Column, minTokens: Long = 20,
                  maxTokens: Long = 2000): Column = {
    val n = size(tk).cast("long")
    val dups = n - size(array_distinct(tk)).cast("long")
    val maxCnt = graft.functions.TokenStats.topTokenCount(tk).cast("long")
    val stops = size(filter(tk,
      t => array_contains(typedLit(EnglishStopwords), t))).cast("long")
    n >= minTokens && n <= maxTokens &&
      dups * 10 < n * 6 &&
      maxCnt * 100 < n * 12 &&
      stops * 20 >= n
  }

  /** Hashed bag-of-words linear classifier score — the model-based
    * quality stage of a curation stack (CCNet / GPT-3-style: a linear
    * model over feature-hashed tokens, trained offline, scored at the
    * scan). The weight vector is a LITERAL (ship the trained weights
    * with the job, typically fixed-point ints = round(w * 1000)); the
    * score of a document is the sum of `weights(h(token) mod D)` over
    * its tokens — one `transform` + `aggregate` over the token array
    * with a literal-array lookup, fully codegen'd, NO shuffle/join/UDF,
    * so at 100 TB it rides the same single scan as [[qualityGate]] and
    * composes with it (rule gate first, model score on survivors).
    *
    * `fastHash = true` buckets with xxhash64 (production); the default
    * md5-derived bucket ([[Dedup.baseHash32]]) is dialect-portable so an
    * external engine can certify scores bit-exactly — identical plan
    * shape, only the hash expression differs. Thresholding belongs to
    * the caller; keep it integer-exact by cross-multiplying against the
    * token count (see q104) rather than dividing. */
  def bowScore(tk: Column, weights: Seq[Int],
               fastHash: Boolean = false): Column = {
    require(weights.nonEmpty, "bowScore needs a non-empty weight vector")
    val wlit = array(weights.map(lit): _*)
    val bucket = (t: Column) => {
      val h = if (fastHash) xxhash64(t) else Dedup.baseHash32(t)
      (pmod(h, lit(weights.length)) + 1).cast("int")
    }
    aggregate(
      transform(tk, t => element_at(wlit, bucket(t)).cast("long")),
      lit(0L), (acc, x) => acc + x)
  }

  /** Language-marker word lists (distinct across languages on purpose). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "fr" -> Seq("le", "les", "des", "une", "est"),
    "de" -> Seq("der", "die", "und", "nicht", "ist"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  /** N-gram-heuristic language ID: count marker-word hits per language,
    * argmax with fixed priority order (en>es>fr>de>zh) on ties. */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val scores = LangMarkers.map { case (lang, words) =>
      lang -> words.map(w =>
        when(padded.contains(s" $w "), 1).otherwise(0)).reduce(_ + _)
    }
    scores.zipWithIndex.init.foldRight(lit(scores.last._1): Column) {
      (elem, acc) =>
        val ((lang, s), i) = elem
        val rest = scores.drop(i + 1).map(_._2)
        when(rest.map(r => s >= r).reduce(_ && _), lang).otherwise(acc)
    }
  }

  /** Canonical-form document fingerprint: lowercase, strip punctuation,
    * collapse whitespace, md5. Equal fingerprints ⇒ same canonical text. */
  def fingerprint(text: Column): Column = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(text), "[.,!?;:]", ""), "\\s+", " "))
    md5(norm.cast("binary"))
  }
}
