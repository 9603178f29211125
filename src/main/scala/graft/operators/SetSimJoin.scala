package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT set-similarity join via prefix filtering — the PPJoin family
  * (Chaudhuri et al. ICDE'06 SSJoin; Bayardo et al. WWW'07 All-Pairs;
  * Xiao et al. WWW'08 PPJoin; Vernica et al. SIGMOD'10 for the
  * MapReduce staging). Same output contract as
  * [[Dedup.ngramJaccardPairs]] — every pair of documents whose
  * token-shingle Jaccard reaches the threshold, with the exact
  * similarity — but a fundamentally smaller candidate stage:
  *
  *   - each document's shingle-hash set is sorted by GLOBAL document
  *     frequency ascending (rarest first, ties by hash), and only its
  *     PREFIX — the first `sz − ceil(t·sz) + 1` hashes — enters the
  *     inverted index. Any pair with Jaccard ≥ t must share a prefix
  *     hash (the textbook prefix-filter lemma: qualifying pairs
  *     overlap in ≥ ceil(t·max(szₐ,sz_b)) ≥ ceil(t·szₓ) elements, so
  *     skipping the last ceil(t·szₓ)−1 of either side cannot hide the
  *     whole intersection) — NO false negatives, unlike LSH;
  *   - viral boilerplate shingles have the HIGHEST df, sort to the
  *     suffix, and never reach the join — the skew guard
  *     `ngramJaccardPairs` needs an explicit df cap for falls out of
  *     the ordering here, with no recall loss;
  *   - the exact size-ratio bound (min ≥ t·max) prunes inside the
  *     candidate join itself, before the pair ever materializes.
  *
  * Scale shape (the 100 TB story): only 8-byte hashes and fixed-width
  * (doc, sz) rows shuffle in the candidate stage; the full per-doc
  * hash arrays (still hashes, never shingle text) ship only to VERIFY
  * the deduplicated candidate pairs — cost scales with true near-dup
  * incidence, not corpus size. At threshold 0.8 the prefix is ~20% of
  * each set, an ~25× smaller self-join input than the full inverted
  * index. Verification is one hash-based `array_intersect` per
  * candidate pair, O(|a|+|b|) row-local.
  *
  * 64-bit shingle-hash collisions (~n²/2⁶⁵) could in principle merge
  * two shingles — the accepted q21 idiom, negligible at any corpus
  * size.
  */
object SetSimJoin {

  private def requireThreshold(threshold: Double): Unit =
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")

  /** Per-doc hash array in (df ASC, h ASC) order from (doc, h, df) rows:
    * (doc, arr, sz) — the one reassembly shuffle of a PPJoin build. */
  private def orderedSets(withDf: DataFrame): DataFrame = withDf
    .groupBy(col("doc"))
    .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("__ps"))
    .select(col("doc"),
      transform(col("__ps"), p => p("h")).as("arr"),
      size(col("__ps")).cast("long").as("sz"))

  /** Prefix rows (doc, sz, h): the first sz − ceil(t·sz) + 1 hashes of
    * each rarest-first set — the only rows entering a candidate join. */
  private def prefix(sets: DataFrame, threshold: Double): DataFrame =
    sets.select(col("doc"), col("sz"),
      explode(slice(col("arr"), lit(1),
        (col("sz") - ceil(col("sz") * lit(threshold)) + 1).cast("int"))).as("h"))

  /** Exact verify of candidate pairs (`l`, `r`): attach both sets and
    * count the hash-based intersection, O(|a|+|b|) per pair — arrays
    * join in only here. Output (l, r, __c, __sl, __sr). */
  private def intersected(cand: DataFrame, l: String, lSets: DataFrame,
                          r: String, rSets: DataFrame): DataFrame =
    cand
      .join(lSets.select(col("doc").as(l), col("arr").as("__al"),
        col("sz").as("__sl")), l)
      .join(rSets.select(col("doc").as(r), col("arr").as("__ar"),
        col("sz").as("__sr")), r)
      .select(col(l), col(r),
        size(array_intersect(col("__al"), col("__ar"))).cast("long").as("__c"),
        col("__sl"), col("__sr"))

  /** [[intersected]] pairs whose Jaccard reaches `threshold`:
    * (l, r, jaccard). */
  private def verifiedJaccard(cand: DataFrame, l: String, lSets: DataFrame,
                              r: String, rSets: DataFrame,
                              threshold: Double): DataFrame = {
    val jaccard = col("__c") * lit(1.0) / (col("__sl") + col("__sr") - col("__c"))
    intersected(cand, l, lSets, r, rSets)
      .filter(jaccard >= lit(threshold))
      .select(col(l), col(r), jaccard.as("jaccard"))
  }

  /** All document pairs with shingle-set Jaccard ≥ `threshold`, by
    * prefix-filtered candidate generation + exact verification.
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b. */
  def ppjoinPairs(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, threshold: Double = 0.5): DataFrame = {
    requireThreshold(threshold)
    // (doc, h) distinct shingle-hash index — one tokenize/explode scan.
    // Materialized ONCE: it feeds the df count and the per-doc sort
    // (Spark re-plans the subtree per consumer; the ngramJaccardPairs
    // lesson). The verify intersects full hash sets, so ShingleIndex's
    // window identity is all the join needs.
    val sh = ShingleIndex.build(df, Seq(col(idCol).as("doc")), col(textCol), n)
      .localCheckpoint()
    // global df per hash — distinct-hash-bounded, so AQE broadcasts it
    // back in the common case and the join below stays narrow. The
    // ordered sets are materialized: they feed the prefix explode AND
    // both verify joins.
    val sets = orderedSets(sh.join(ShingleIndex.docFreq(sh), "h"))
      .localCheckpoint()
    val pre = prefix(sets, threshold)
    // candidate pairs: shared prefix hash + exact size-ratio bound
    // (J ≥ t ⇒ min(sz) ≥ t·max(sz)), deduplicated before any array
    // ships anywhere
    val cand = pre.as("a")
      .join(pre.as("b"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc") &&
          least(col("a.sz"), col("b.sz")) >=
            lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    verifiedJaccard(cand, "doc_a", sets, "doc_b", sets, threshold)
  }

  /** CONTAINMENT pairs: (inner, outer) where the inner document's
    * shingle set is ≥ `threshold` contained in the outer's —
    * |inner ∩ outer| ≥ t·|inner| — the quote/excerpt/boilerplate-reuse
    * shape a symmetric Jaccard threshold misses (a 50-shingle quote
    * inside a 5000-shingle page has Jaccard ≈ 0.01 but containment
    * 1.0). Asymmetric prefix economy: the INNER side indexes only its
    * rarest `sz − ceil(t·sz) + 1` hashes (overlap ≥ ceil(t·sz_inner)
    * makes the standard prefix lemma apply one-sided), while the outer
    * side must offer its FULL set — containment admits arbitrarily
    * large outers, so no size-ratio bound and no outer prefix exist.
    * Self-pairs are excluded; both directions of a mutual containment
    * emit. Output: (inner_doc, outer_doc, containment). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8): DataFrame = {
    requireThreshold(threshold)
    val sh = ShingleIndex.build(df, Seq(col(idCol).as("doc")), col(textCol), n)
      .localCheckpoint()
    val sets = orderedSets(sh.join(ShingleIndex.docFreq(sh), "h"))
      .localCheckpoint()
    // candidate = inner prefix hash appearing ANYWHERE in the outer set
    val cand = prefix(sets, threshold).as("i")
      .join(sh.as("o"),
        col("i.h") === col("o.h") && col("i.doc") =!= col("o.doc"))
      .select(col("i.doc").as("inner_doc"), col("o.doc").as("outer_doc"))
      .distinct()
    intersected(cand, "inner_doc", sets, "outer_doc", sets)
      .filter(col("__c") >= ceil(col("__sl") * lit(threshold)))
      .select(col("inner_doc"), col("outer_doc"),
        (col("__c") * lit(1.0) / col("__sl")).as("containment"))
  }

  /** Incremental form — the production shape (q61's framing): a new
    * BATCH probes the incumbent CORPUS for Jaccard ≥ `threshold`
    * matches, batch×corpus only, never a corpus self-join. The shared
    * global hash order both prefixes need comes from the CORPUS df
    * (batch-only hashes take df 0 — rarest-first; only CONSISTENCY of
    * the order matters for the cross-collection prefix lemma, and the
    * corpus side is the one whose ordering is worth paying for: its
    * index is the reusable artifact a daily drop probes). Output:
    * (batch_doc, corpus_doc, jaccard). */
  def ppjoinProbe(corpus: DataFrame, batch: DataFrame, idCol: String,
                  textCol: String, n: Int = 3,
                  threshold: Double = 0.5): DataFrame = {
    requireThreshold(threshold)
    def shOf(df: DataFrame) =
      ShingleIndex.build(df, Seq(col(idCol).as("doc")), col(textCol), n)
        .localCheckpoint()
    // the corpus and batch index builds (and below, the two ordered-set
    // reassemblies) are independent eager checkpoints — overlap each
    // pair on Par's pool (r20, guide §2.6): the small batch build rides
    // alongside the dominant corpus build instead of queueing behind it
    val Seq(shC, shB) = graft.Par.eval[DataFrame](Seq(
      () => shOf(corpus), () => shOf(batch)))
    val dfreq = ShingleIndex.docFreq(shC)
    def setsOf(sh: DataFrame) = orderedSets(sh
      .join(dfreq, Seq("h"), "left")
      .select(col("doc"), col("h"), coalesce(col("df"), lit(0L)).as("df")))
      .localCheckpoint()
    val Seq(setsC, setsB) = graft.Par.eval[DataFrame](Seq(
      () => setsOf(shC), () => setsOf(shB)))
    val cand = prefix(setsB, threshold).as("b")
      .join(prefix(setsC, threshold).as("c"),
        col("b.h") === col("c.h") &&
          least(col("b.sz"), col("c.sz")) >=
            lit(threshold) * greatest(col("b.sz"), col("c.sz")))
      .select(col("b.doc").as("batch_doc"), col("c.doc").as("corpus_doc"))
      .distinct()
    verifiedJaccard(cand, "batch_doc", setsB, "corpus_doc", setsC, threshold)
  }
}
