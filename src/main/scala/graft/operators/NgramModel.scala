package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference-corpus n-gram language-model scoring — the CCNet-style
  * quality gate (Wenzek et al., "CCNet: Extracting High Quality
  * Monolingual Datasets from Web Crawl Data", LREC 2020): train a cheap
  * n-gram model on a trusted corpus, score candidate documents by how
  * much of their content the model has seen, and keep/bucket candidates
  * by that score. CCNet uses a KenLM perplexity; here the model is the
  * raw integer count table and the score is integer match statistics — a
  * monotone stand-in for log-probability that stays dialect-portable
  * (hash-exact against a SQL oracle) where floating log sums would not.
  */
object NgramModel {

  /** Score `candidates` against a token-n-gram count model built from
    * `reference`.
    *
    * Scale (100 TB): the model is one hash aggregation keyed by a
    * portable 60-bit n-gram hash — map-side combine collapses repeats
    * before the shuffle, and only (hash, count) pairs ever move, never
    * n-gram text. Scoring is one equi-join on the hash (AQE broadcasts
    * the model side when it is small — not forced, so a huge reference
    * vocabulary degrades to a sort-merge join instead of an OOM) plus one
    * aggregation. Everything is codegen'd column expressions; no UDFs.
    *
    * @return one row per candidate doc:
    *         (doc_id, total_ngrams, matched_ngrams, model_mass) where
    *         matched_ngrams counts candidate n-gram occurrences present
    *         in the model and model_mass sums the model's count for each
    *         occurrence (higher = more like the reference corpus).
    */
  def ngramCommonness(candidates: DataFrame, reference: DataFrame,
                      idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    // n-gram occurrences by ShingleIndex's hash identity (the oracle
    // joins on n-gram TEXT); repeats count, so no distinct
    def grams(df: DataFrame): DataFrame =
      ShingleIndex.windows(df, Seq(col(idCol).as("doc_id")), col(textCol), n)
    val model = grams(reference).groupBy(col("h"))
      .agg(count(lit(1)).as("__mc"))
    val scored = grams(candidates)
      .join(model, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("total_ngrams"),
        count(col("__mc")).as("matched_ngrams"),
        sum(coalesce(col("__mc"), lit(0L))).as("model_mass"))
    // docs with fewer than n tokens emit no n-grams — re-attach as zeros
    // so the score surface covers every candidate
    candidates.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total_ngrams"), lit(0L)).as("total_ngrams"),
        coalesce(col("matched_ngrams"), lit(0L)).as("matched_ngrams"),
        coalesce(col("model_mass"), lit(0L)).as("model_mass"))
  }

  /** Per-document bigram predictability — the surprisal-shaped quality
    * score ([[ngramCommonness]]'s conditional sibling): each adjacent
    * token pair (w₁, w₂) contributes ⌊10⁶ · c(w₁w₂) / c(w₁·)⌋, the
    * corpus probability of w₂ GIVEN w₁ in integer micro-units, and a
    * document's score is the sum — boilerplate scores near 10⁶ per
    * bigram (every continuation is the usual one), unpredictable or
    * garbled text near 0. One floor per rational (the BM25/RRF
    * discipline) keeps the score integer-exact cross-engine where a
    * log-probability sum would hash-diverge.
    *
    * Scale: counts are built in one pass over the exploded bigram
    * stream — two hash aggregations keyed by 60-bit hashes (bigram,
    * and bigram-start for the denominator), map-side combined, carrying
    * 8-byte keys only. Scoring joins the stream to both count tables by
    * hash equi-join (model sides are vocabulary-sized; AQE broadcasts
    * them when small, degrades to sort-merge when not — never a forced
    * broadcast) and re-aggregates per document. c(w₁·) counts w₁'s
    * occurrences AS a bigram start, so every contribution is a true
    * conditional: the per-document sum is ≤ 10⁶ · n_bigrams.
    *
    * @return (doc_id, n_bigrams, pred_micro) for every input doc;
    *         docs with < 2 tokens carry zeros. */
  def bigramPredictability(docs: DataFrame, idCol: String,
                           textCol: String,
                           scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L, s"scale must be positive, got $scale")
    // r19 optimization: identity-only hashes (the oracle counts raw
    // strings — guide §1.2). Bigram identity = one xxhash64 over the
    // two token hashes, start identity = the token's own hash: no
    // bigram STRING is ever built and each token's bytes are hashed
    // once, vs the previous two md5-hex-conv chains plus a
    // substring_index per occurrence. The frame is also checkpointed:
    // it feeds three consumers (both count aggregations and the scoring
    // join), and un-checkpointed the tokenize+hash subtree planned and
    // ran once per consumer.
    val bigrams = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokenHashes(TextAnalysis.tokens(col(textCol))).as("__th"))
      .select(col("doc_id"),
        explode(when(size(col("__th")) >= 2,
          transform(sequence(lit(1), size(col("__th")) - 1),
            i => struct(
              xxhash64(element_at(col("__th"), i),
                element_at(col("__th"), i + 1)).as("bh"),
              element_at(col("__th"), i).as("w1h"))))
          .otherwise(array().cast("array<struct<bh:bigint,w1h:bigint>>")))
          .as("__p"))
      .select(col("doc_id"), col("__p.bh").as("bh"), col("__p.w1h").as("w1h"))
      .localCheckpoint()
    val bgCnt = bigrams.groupBy(col("bh")).agg(count(lit(1)).as("__cbg"))
    val w1Cnt = bigrams.groupBy(col("w1h")).agg(count(lit(1)).as("__cw1"))
    val scored = bigrams
      .join(bgCnt, Seq("bh"))
      .join(w1Cnt, Seq("w1h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr(s"(${scale}L * __cbg) div __cw1")).as("pred_micro"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("pred_micro"), lit(0L)).as("pred_micro"))
  }

  /** Transactional basket LIFT pairs — [[tokenLift]]'s shape on
    * (basket, item) facts instead of (document, token) text: the
    * co-purchase / co-occurrence association miner over orders,
    * sessions, or playlists. Same exact rational,
    * lift(a,b) = c(ab)·N / (c(a)·c(b)) in micro-units with one floor,
    * over basket-level distinct membership.
    *
    * Scale: the pair generator is a self-equi-join ON THE BASKET KEY
    * of the distinct (basket, item) frame — each basket contributes
    * C(size, 2) pairs, so cost is Σ size², which a single pathological
    * mega-basket would blow quadratically: baskets wider than
    * `maxBasket` are EXCLUDED up front (from pairs, marginals, AND N —
    * one consistent universe), the documented df-cap convention of the
    * dedup family. Pair counts map-side combine; `minSupport` prunes
    * before the marginal joins; N rides as a 1-row broadcast.
    *
    * @return (item_a, item_b, n_both, n_a, n_b, lift_micro) with
    *         item_a < item_b */
  def basketLift(df: DataFrame, basketCol: String, itemCol: String,
                 minSupport: Long = 2L, maxBasket: Long = 1024L,
                 scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L, s"scale must be positive, got $scale")
    require(minSupport >= 1L, s"minSupport must be >= 1, got $minSupport")
    require(maxBasket >= 2L, s"maxBasket must be >= 2, got $maxBasket")
    val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
      .localCheckpoint()
    val kept = items.join(
      items.groupBy(col("__b")).agg(count(lit(1)).as("__sz"))
        .filter(col("__sz") <= maxBasket).select(col("__b")),
      Seq("__b"), "left_semi")
      .localCheckpoint()
    val n = kept.agg(countDistinct(col("__b")).as("__n"))
    val freq = kept.groupBy(col("__i")).agg(count(lit(1)).as("__d"))
    val pairs = kept
      .join(kept.select(col("__b"), col("__i").as("__i2")), Seq("__b"))
      .filter(col("__i") < col("__i2"))
      .groupBy(col("__i").as("item_a"), col("__i2").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    pairs
      .join(freq.select(col("__i").as("item_a"), col("__d").as("n_a")),
        Seq("item_a"))
      .join(freq.select(col("__i").as("item_b"), col("__d").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(n))
      .select(col("item_a"), col("item_b"), col("n_both"),
        col("n_a"), col("n_b"),
        expr(s"(${scale}L * CAST(n_both AS DECIMAL(38,0)) * __n)" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b)").as("lift_micro"))
  }

  /** Document-level token LIFT pairs — the PMI-shaped association
    * miner ("which terms travel together across documents"), kept
    * exact by trading the log for the raw ratio:
    * lift(a,b) = P(ab)/(P(a)·P(b)) = c(ab)·N/(c(a)·c(b)), reported
    * as ⌊10⁶·lift⌋ per unordered pair with document-level counts
    * (a document contributes one co-occurrence however often the
    * tokens repeat inside it).
    *
    * Scale: pairs come from each document's DISTINCT token set —
    * O(distinct²) per doc, bounded by document length, never a
    * vocabulary cross join; pair counts map-side combine, marginal
    * doc frequencies are a |vocab|-row frame joined twice, N rides as
    * a 1-row broadcast. `minDocs` prunes the long tail BEFORE the
    * joins.
    *
    * @return (w1, w2, n_docs_both, lift_micro) with w1 < w2 */
  def tokenLift(docs: DataFrame, idCol: String, textCol: String,
                minDocs: Long = 2L, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L, s"scale must be positive, got $scale")
    val toks = docs
      .select(col(idCol).as("doc_id"),
        array_distinct(TextAnalysis.tokens(col(textCol))).as("__tk"))
      .localCheckpoint()
    val occur = toks.select(col("doc_id"), explode(col("__tk")).as("w"))
    val dfreq = occur.groupBy(col("w")).agg(count(lit(1)).as("__df"))
    val n = toks.agg(count(lit(1)).as("__n"))
    val pairs = toks
      .select(col("doc_id"), explode(col("__tk")).as("w1"), col("__tk"))
      .select(col("doc_id"), col("w1"), explode(col("__tk")).as("w2"))
      .filter(col("w1") < col("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_docs_both"))
      .filter(col("n_docs_both") >= minDocs)
    pairs
      .join(dfreq.select(col("w").as("w1"), col("__df").as("__d1")), Seq("w1"))
      .join(dfreq.select(col("w").as("w2"), col("__df").as("__d2")), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("n_docs_both"),
        // numerator in DECIMAL(38,0): scale·c(ab)·N wraps a long past
        // ~10⁹ documents, and a governance miner must not wrap
        expr(s"(${scale}L * CAST(n_docs_both AS DECIMAL(38,0)) * __n)" +
          " div (CAST(__d1 AS DECIMAL(38,0)) * __d2)").as("lift_micro"))
  }
}
