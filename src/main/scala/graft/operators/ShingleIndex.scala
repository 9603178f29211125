package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one n-gram shingle index every near-duplicate operator builds on:
  * the Jaccard pair family ([[Dedup]]), PPJoin ([[SetSimJoin]]),
  * decontamination and source overlap ([[Scrub]], [[CorpusStats]]),
  * n-gram commonness ([[NgramModel]]) and q95's novelty.
  *
  * Shingle identity (r19): one xxhash64 over the n per-token xxhash64s
  * of a window ([[TextAnalysis.tokenHashes]] projected into a real
  * column first, then the window combine). Every oracle compares shingle
  * TEXT, so only identity matters; only fixed-width 8-byte hashes ever
  * shuffle, never shingle strings. Producers and consumers of a stored
  * index (q256) stay consistent because this is the only code path that
  * computes the identity.
  *
  * The index is the explode + distinct form. A narrow per-document
  * `array_distinct` build was measured and rejected three times (r5
  * 3.4x, r13 2.3x slower at sf0.1, r20): projection collapse
  * re-evaluates the shingle array per consumer. Nothing here
  * checkpoints: an index with several plan consumers is materialized by
  * its caller, where the caller's comment says why.
  */
private[graft] object ShingleIndex {

  /** Project `keys` plus the token-hash column `__th`, then the window
    * combine over it — the only call of the window-hash expression. */
  private def windowHashes(df: DataFrame, keys: Seq[Column], tokens: Column,
                           n: Int, out: Column => Column): DataFrame = {
    val th = df.select(keys :+ TextAnalysis.tokenHashes(tokens).as("__th"): _*)
    th.select(th.columns.init.map(col).toSeq :+
      out(TextAnalysis.windowHashesOfTokenHashes(col("__th"), n)): _*)
  }

  /** `keys` plus `__w`, each row's window-hash ARRAY in window order,
    * from an already-materialized token-array column — for the span
    * operators that need window positions. */
  def windowArrays(df: DataFrame, keys: Seq[Column], tokens: Column,
                   n: Int): DataFrame =
    windowHashes(df, keys, tokens, n, _.as("__w"))

  /** `keys` plus `h`, one row per window OCCURRENCE (repeats kept) — the
    * n-gram count model's input. */
  def windows(df: DataFrame, keys: Seq[Column], text: Column,
              n: Int): DataFrame =
    windowHashes(df, keys, TextAnalysis.tokens(text), n, explode(_).as("h"))

  /** The shingle index: distinct (keys…, h) rows. `keys` is whatever a
    * shingle set belongs to — a document, a source, a group, or nothing
    * (one set for the whole frame). Text with fewer than n tokens, and
    * null text, contribute no rows. */
  def build(df: DataFrame, keys: Seq[Column], text: Column, n: Int): DataFrame =
    windows(df, keys, text, n).distinct()

  /** Document frequency per hash: (h, df). One map-side-combined
    * aggregation — a viral hash never lands in one task the way a
    * count-over-window would route it. Over a distinct index, the count
    * per hash IS the number of key sets holding it. */
  def docFreq(idx: DataFrame): DataFrame =
    idx.groupBy(col("h")).agg(count(lit(1)).as("df"))

  /** The viral-hash set of an index: hashes whose document frequency
    * within `counted` exceeds the cap (absolute `maxDf`, or `maxDfFrac`
    * of the 1-row `nDocs` count aliased `__n`, which rides the plan
    * broadcast so the threshold scales with the data). The result is
    * NOT hint-broadcast: bounded for sane caps, but an adversarial cap
    * (df 1) makes it large, and an AQE shuffle anti-join degrades, never
    * OOMs. */
  private def viralHashes(counted: DataFrame, nDocs: Option[DataFrame],
                          maxDf: Long, maxDfFrac: Double): DataFrame = {
    val dfreq = docFreq(counted)
    val viral =
      if (maxDfFrac > 0)
        dfreq.crossJoin(broadcast(nDocs.getOrElse(sys.error(
            "viralHashes: fractional cap needs the corpus count"))))
          .filter(col("df") > ceil(col("__n") * maxDfFrac))
      else dfreq.filter(col("df") > maxDf)
    viral.select(col("h"))
  }

  /** The df cap: `idx` without the [[viralHashes]] of `counted`. Shared
    * by the Jaccard pair family and `Scrub.fuzzyDecontaminate` so the
    * threshold semantics (`>`, ceil) cannot drift between them. A capped
    * hash leaves every side of a two-sided index (the one-universe rule),
    * so intersections and set sizes stay consistent. */
  def capped(idx: DataFrame, counted: DataFrame, nDocs: Option[DataFrame],
             maxDf: Long, maxDfFrac: Double): DataFrame =
    idx.join(viralHashes(counted, nDocs, maxDf, maxDfFrac), Seq("h"),
      "left_anti")

  /** Attach each key set's size `sz` to every index row, so the exact
    * size-ratio bound (jaccard >= t ⇒ min(sz) >= t·max(sz)) can prune
    * inside the candidate join itself. */
  def withSizes(idx: DataFrame, keys: Seq[String]): DataFrame =
    idx.join(idx.groupBy(keys.map(col): _*).agg(count(lit(1)).as("sz")), keys)

  /** The size-ratio-pruned intersect-count Jaccard tail over two sized
    * (doc, h, sz) indexes: pairs (`leftOut`, `rightOut`, jaccard) with
    * jaccard >= `threshold`. `within` restricts a self-join to
    * left.doc < right.doc, so each unordered pair is emitted once. */
  def jaccardPairs(left: DataFrame, right: DataFrame, threshold: Double,
                   leftOut: String, rightOut: String,
                   within: Boolean): DataFrame = {
    val sameHash = col("l.h") === col("r.h")
    val jaccard =
      col("__c") * lit(1.0) / (col("__szl") + col("__szr") - col("__c"))
    left.as("l")
      .join(right.as("r"),
        (if (within) sameHash && col("l.doc") < col("r.doc") else sameHash) &&
          least(col("l.sz"), col("r.sz")) >=
            lit(threshold) * greatest(col("l.sz"), col("r.sz")))
      .groupBy(col("l.doc").as(leftOut), col("r.doc").as(rightOut),
        col("l.sz").as("__szl"), col("r.sz").as("__szr"))
      .agg(count(lit(1)).as("__c"))
      .select(col(leftOut), col(rightOut), jaccard.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
