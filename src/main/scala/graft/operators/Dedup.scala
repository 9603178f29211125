package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes (the 100 TB story):
  *   - exact dedup is a single hash aggregation on a digest — map-side
  *     partial agg collapses duplicates before the shuffle, and the digest
  *     (16 bytes) rather than the document body is what shuffles;
  *   - n-gram jaccard uses the inverted-index (shingle → doc) join: only
  *     docs sharing a shingle ever meet, so cost scales with true overlap,
  *     not |docs|². Shingle hashes (xxhash64), not shingle strings, shuffle.
  *     Frequency-capping drops degenerate shingles (df > maxShingleDf) that
  *     would otherwise create quadratic hot keys — classic skew control.
  */
object Dedup {

  /** Exact dedup by content digest: one row per distinct text with the
    * surviving (minimum) id and the duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** Near-duplicate pairs by n-gram (token-shingle) Jaccard similarity,
    * via inverted-index join + per-pair intersection count.
    *
    * @param maxShingleDf drop shingles appearing in more than this many
    *        docs (0 = keep all): skew guard for degenerate content. A
    *        shingle shared by k docs contributes k² candidate rows to the
    *        inverted-index join, so one viral boilerplate shingle turns
    *        the whole query quadratic — the cap bounds per-key fan-out.
    * @param maxShingleDfFrac like maxShingleDf but as a fraction of the
    *        corpus size (0 = off), for SF-independent registrations. The
    *        corpus count rides the plan as a broadcast 1-row aggregate,
    *        and the threshold scales with the data instead of going
    *        stale. (Construction DOES run jobs either way — the index is
    *        eagerly checkpointed, see the body comment.)
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Long = 0L,
                        maxShingleDfFrac: Double = 0.0): DataFrame = {
    // Materialize the index ONCE: it feeds four plan consumers (the df
    // cap, sizes, and both sides of the candidate self-join), and Spark
    // duplicates the subtree per consumer — measured at sf0.001 the
    // tokenize/explode/distinct pipeline planned 4 windows and 8 scans
    // with zero exchange reuse (the joins broadcast, so no shared
    // shuffle stage exists to reuse). Only fixed-width (doc, h) rows are
    // stored, never shingle text; construction runs the one job (same
    // eager-localCheckpoint trade as connectedComponents).
    val sh0 = ShingleIndex.build(df, Seq(col(idCol).as("doc")), col(textCol), n)
      .localCheckpoint()
    val sh =
      if (maxShingleDf <= 0 && maxShingleDfFrac <= 0) sh0
      else {
        val nDocs =
          if (maxShingleDfFrac > 0)
            Some(df.agg(countDistinct(col(idCol)).as("__n")))
          else None
        ShingleIndex.capped(sh0, sh0, nDocs, maxShingleDf, maxShingleDfFrac)
          .localCheckpoint()
      }
    jaccardPairsWithinIndex(ShingleIndex.withSizes(sh, Seq("doc")), threshold)
  }

  /** Near-duplicate pairs of a NEW batch against an EXISTING corpus —
    * incremental ingestion dedup: a fresh crawl drop is admitted only
    * where it doesn't near-duplicate what the corpus already holds,
    * WITHOUT ever re-deduping the corpus against itself (no corpus
    * self-join — the asymmetric join's cost is |batch shingles| probing
    * the corpus index, not |corpus|²). Same inverted-index shape and
    * in-join size-ratio prune as [[ngramJaccardPairs]].
    *
    * @param maxShingleDfFrac drop shingles present in more than this
    *        fraction of CORPUS documents (0 = off) — the skew guard: a
    *        boilerplate shingle in half the corpus index would make
    *        every daily drop quadratic on that one key. The df is a
    *        map-side-combined aggregation over the checkpointed
    *        side-tagged union of both indexes; a capped shingle leaves
    *        BOTH sides, so intersections and set sizes stay consistent
    *        under the same universe rule as the symmetric operator.
    * @param bloomFpp when > 0, build a Bloom filter over the BATCH
    *        shingle hashes (the small side — a daily drop vs a 100 TB
    *        corpus) and probe it at the CORPUS index scan, pruning
    *        corpus shingles that cannot match any batch shingle BEFORE
    *        the candidate join's shuffle — the classic runtime
    *        semi-join reduction. Semantics-preserving by construction:
    *        a pruned corpus shingle has no batch partner, so it could
    *        only have produced join misses; false positives merely ride
    *        to the join and fail the equality there. Set sizes are
    *        computed before the probe, so jaccard denominators are
    *        unchanged. The filter build is an explicit bounded action
    *        (same contract as IVF training): if the batch index exceeds
    *        `maxBloomItems` the prefilter is SKIPPED — the operator
    *        degrades to the plain join rather than collecting an
    *        oversized sketch to the driver.
    * @param maxBloomItems bloom-build bound, in (side, doc, h) index
    *        rows (an overestimate of distinct hashes — costs sketch
    *        bits, never correctness). The default (~64M rows, ≈100 MB
    *        of sketch at 1% fpp) is sized to what a driver can
    *        comfortably hold and broadcast.
    * @return (batch_doc, corpus_doc, jaccard) with jaccard >= threshold
    */
  def incrementalJaccardPairs(corpus: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 3,
                              threshold: Double = 0.5,
                              maxShingleDfFrac: Double = 0.0,
                              bloomFpp: Double = 0.0,
                              maxBloomItems: Long = 1L << 26): DataFrame = {
    // The index feeds FOUR plan consumers (the df cap, sizes, and both
    // candidate-join inputs); Spark duplicates the subtree per consumer —
    // measured at sf0.1, the tokenize/explode/distinct pipeline executed
    // 4x and the tables scanned 12x (exchange reuse does NOT kick in:
    // the joins broadcast, so there is no shared shuffle stage).
    // Materialize it ONCE instead — same eager-localCheckpoint trade as
    // connectedComponents (construction runs a job; blocks are lost with
    // an executor, acceptable for a batch operator, and only fixed-width
    // (side, doc, h) rows are stored, never text).
    def side(df: DataFrame, s: String): DataFrame = ShingleIndex.build(df,
      Seq(lit(s).as("side"), col(idCol).as("doc")), col(textCol), n)
    val u0 = side(batch, "b").union(side(corpus, "c")).localCheckpoint()
    // corpus-df cap counting the CORPUS side only; a capped shingle
    // leaves BOTH sides (one-universe rule)
    val uc =
      if (maxShingleDfFrac <= 0) u0
      else {
        val nCorpus = corpus.agg(countDistinct(col(idCol)).as("__n"))
        ShingleIndex.capped(u0, u0.filter(col("side") === "c"),
          Some(nCorpus), 0L, maxShingleDfFrac).localCheckpoint()
      }
    // sizes AFTER the cap: jaccard is computed over the capped universe
    val idx = ShingleIndex.withSizes(uc, Seq("side", "doc"))
    // runtime semi-join reduction of the (big) corpus side — see the
    // @param bloomFpp contract. Sizes above came from the UNpruned index,
    // so denominators are exact; the probe expression is codegen'd
    // (functions/BloomMightContainLong) and runs at the scan of the
    // checkpointed index, upstream of the join's exchange.
    val corpusIdx = {
      val base = idx.filter(col("side") === "c")
      if (bloomFpp <= 0) base
      else {
        val nBatchRows = uc.filter(col("side") === "b").count()
        if (nBatchRows == 0 || nBatchRows > maxBloomItems) base
        else {
          val bloom = uc.filter(col("side") === "b")
            .stat.bloomFilter("h", nBatchRows, bloomFpp)
          base.filter(
            graft.functions.BloomProbe.mightContainLong(col("h"), bloom))
        }
      }
    }
    jaccardPairsAgainstIndex(corpusIdx, idx.filter(col("side") === "b"),
      threshold)
  }

  // -------------------------------------------------------------------
  // MinHash + LSH and SimHash — the sketch-based scale paths. Both build
  // on md5-derived base hashes chosen to be reproducible in any SQL
  // dialect (oracle parity): leading hex chars of md5, read as an
  // integer (60 bits for MinHash, two 32-bit halves for SimHash).
  // -------------------------------------------------------------------

  /** Dialect-portable 32-bit content hash. */
  def baseHash32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** Dialect-portable 60-bit content hash (15 hex chars of md5): wide
    * enough that join-key collisions are negligible at any corpus size,
    * small enough to stay a positive BIGINT in every dialect. */
  def baseHash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Mersenne prime 2^31-1: universal-hash modulus small enough that
    * `a*h+b` stays inside 63 bits for 31-bit `a`, `h`. */
  val MinHashP: Long = 2147483647L

  /** Fixed universal-hash coefficients (a, b) — k = 12 permutations,
    * grouped into 4 bands of 3 for LSH banding. Deterministic so results
    * are stable under replay and reproducible by the oracle. */
  val MinHashCoeffs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eedL)
    Seq.fill(12)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
                  rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Near-duplicate pairs via MinHash signatures + banded LSH:
    * shingle → 60-bit hash ([[baseHash60]]) → k permutation-min
    * signature → band buckets →
    * candidate pairs where any band collides → exact Jaccard verify.
    *
    * Scale: the signature is one hash-aggregate over the inverted index
    * (k mins computed map-side), the bucket join only shuffles
    * (band, bandValue) keys, and the exact verify touches candidate pairs
    * only — never |docs|². This is the standard web-scale dedup shape
    * (the verify step bounds false positives from banding).
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, rowsPerBand: Int = 3,
                      threshold: Double = 0.3): DataFrame =
    minHashLshPairsOfTokens(
      df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk")),
      idCol, "__tk", n, rowsPerBand, threshold)

  /** [[minHashLshPairs]] over an ALREADY-TOKENIZED corpus (a token-array
    * column instead of raw text): the crawl funnel's near-dup stage
    * (q263) tokenizes once in its single extraction pass and must not
    * re-tokenize here. [[minHashLshPairs]] tokenizes and delegates
    * here. */
  def minHashLshPairsOfTokens(df: DataFrame, idCol: String,
                              tokensCol: String, n: Int = 3,
                              rowsPerBand: Int = 3,
                              threshold: Double = 0.3): DataFrame = {
    // shingle strings are hashed once (60-bit, oracle-reproducible) and
    // never flow further: signatures, sizes, and the verify join all work
    // on the hash — at scale only fixed-width keys shuffle
    // materialized once (fixed-width (doc, h) rows): the hashed shingle
    // index feeds the signature aggregate, the size aggregate, and both
    // sides of the verify join — un-checkpointed, Spark re-derives it
    // per consumer (measured: 6 scans of the source at sf0.001)
    val sh = df
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.shinglesOfTokens(col(tokensCol), n)).as("sg"))
      .select(col("doc"), baseHash60(col("sg")).as("h"))
      .distinct()
      .localCheckpoint()
    minHashLshPairsOverIndex(sh, rowsPerBand, threshold)
  }

  /** The shared LSH tail over a hashed shingle index (fixed-width
    * (doc, h) rows): signatures → banded self-join candidates → exact
    * Jaccard verify with the size-ratio prune. */
  private def minHashLshPairsOverIndex(sh: DataFrame, rowsPerBand: Int,
                                       threshold: Double): DataFrame = {
    val mins = MinHashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") % lit(MinHashP) * lit(a) + lit(b)) % lit(MinHashP)).as(s"m$i")
    }
    // 1 row per doc, 12 long columns — tiny; checkpointing it keeps the
    // signature aggregation from running once per self-join side
    val sig = sh.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
      .localCheckpoint()
    val nBands = MinHashCoeffs.length / rowsPerBand
    val bandCols = (0 until nBands).map { bIdx =>
      concat_ws(",",
        (0 until rowsPerBand).map(r => col(s"m${bIdx * rowsPerBand + r}")): _*)
    }
    val banded = sig
      .select(col("doc"), posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    // exact verify restricted to candidates (bounded by LSH recall), with
    // the size-ratio bound (jaccard >= t ⇒ min(sz) >= t*max(sz)) applied
    // before intersections are counted
    val idx = ShingleIndex.withSizes(sh, Seq("doc"))
    cand
      .join(idx.as("sa"), col("doc_a") === col("sa.doc"))
      .join(idx.as("sb"),
        col("doc_b") === col("sb.doc") && col("sa.h") === col("sb.h") &&
          least(col("sa.sz"), col("sb.sz")) >=
            lit(threshold) * greatest(col("sa.sz"), col("sb.sz")))
      .groupBy(col("doc_a"), col("doc_b"),
        col("sa.sz").as("sza"), col("sb.sz").as("szb"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_a"), col("doc_b"),
        (col("c") * lit(1.0) / (col("sza") + col("szb") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-duplicate pair graph: the step that
    * turns pairwise dedup output (q21/q26/q28/q45) into dedup GROUPS, so
    * each component keeps exactly one document. Component label = the
    * minimum node id reachable through any chain of pairs (A~B, B~C ⇒
    * {A,B,C} collapse together even though A and C were never compared).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes min(own label, neighbors' labels); a round costs one shuffle
    * on node id and covers one hop. Dedup graphs are near-degenerate
    * (tiny cliques and chains), so 3–5 rounds close almost any real
    * corpus. For the pathological deep graph (a web-scale chain of
    * near-dups), rounds after `shortcutAfter` add a pointer-doubling
    * shortcut — every node also takes min(label, label(label)), the
    * path-halving step of Kiveris et al.'s MapReduce CC family — so
    * propagation distance DOUBLES per round and any diameter D closes in
    * ~shortcutAfter + log₂ D rounds: the default maxIters=20 covers
    * diameters past 30 000 instead of 20 hops. The common shallow case
    * never pays the shortcut's extra self-join. ITERATIVE OPERATOR: each
    * round is a Spark job over the edge join (driver loops, data never
    * leaves executors); per-round results are localCheckpoint()ed so
    * lineage stays O(1) instead of O(rounds). Convergence is detected by
    * the monotone label-sum invariant: labels only ever decrease, so an
    * unchanged sum means a fixpoint (of BOTH steps — each is per-element
    * non-increasing, so an unchanged sum means neither step moved any
    * label, which is exactly the propagation fixpoint that certifies
    * per-component constant labels) — one cheap 1-row aggregate per
    * round instead of a changed-rows join.
    *
    * @param nodes one column `id` (every doc, so singletons label
    *        themselves)
    * @param edges columns `src`, `dst` (undirected pairs, any order)
    * @return (id, component) with component = min id in the component
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIters: Int = 20,
                          shortcutAfter: Int = 4): DataFrame = {
    // materialize the (possibly expensive) edge pipeline ONCE — every
    // propagation round joins against it, and without this the whole
    // upstream pair-generation subtree would re-run per round. Edges are
    // restricted to nodes×nodes FIRST: an endpoint outside `nodes` must
    // not propagate its id as a label (a foreign minimum would silently
    // orphan a whole component from the keep-min pattern).
    val nodeIds = nodes.select(col("id"))
    // restrict BEFORE doubling: both endpoints are checked either way,
    // but this way each semi-join probes |E| rows, not 2|E|. The trailing
    // select re-pins column ORDER — a using-column join moves its key to
    // the front, and the symmetric union below merges BY POSITION.
    val restricted = edges.select(col("src"), col("dst"))
      .join(nodeIds.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(nodeIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
    val sym = restricted
      .union(restricted.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    // (sum, count) in ONE 1-row action: count detects the empty edge set
    // (previously a separate isEmpty job) and the sum is the convergence
    // yardstick — one driver action per round, none wasted (r20,
    // guide §1.2: at sf-bench scale the fixpoint's wall is driver/job
    // latency × action count, and at cluster scale every action is a
    // scheduling round-trip)
    def sumCount(df: DataFrame): (Long, Long) = {
      val r = df.agg(sum(col("component")), count(lit(1))).head()
      (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
    }
    // propagate ONLY over nodes that touch an edge: singletons can never
    // change label, so carrying them through every round just inflates
    // each iteration's join — on a near-dup graph the active set is a
    // tiny fraction of the corpus. Singletons re-attach in one final join.
    // Labels are SEEDED with round 1's propagation already applied:
    // every active node starts at min(own id, min neighbor id). This is
    // the same single exchange+aggregation the old identity init
    // (distinct over sym's src) cost, but a full propagation round rides
    // it for free — one round fewer in every closure (r20, guide §1.2).
    var labels = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("__nm"))
      .select(col("src").as("id"),
        least(col("src"), col("__nm")).as("component"))
      .localCheckpoint(eager = false)
    var (lastSum, nActive) = sumCount(labels)
    var converged = nActive == 0L
    var it = 1
    while (!converged && it < maxIters) {
      // one round = the edge join plus ONE exchange: neighbor candidates
      // (label(src) proposed to dst) UNION the nodes' own labels, min per
      // node — the old join + groupBy + left-join-back shape spent a
      // second join re-attaching own labels that a union row carries for
      // free (r20, guide §2.4: two operators keyed the same way share
      // one exchange)
      val neighborCand = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("component"))
      val prop = labels.union(neighborCand)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
      // pointer-doubling past shortcutAfter: follow the label's own label
      // (component values are always live node ids, so the lookup is an
      // inner self-join; the union row keeps the own-label fallback the
      // old left-join's coalesce provided). `prop` feeds both sides, so
      // it is checkpointed EAGERLY first — without that the propagation
      // join+agg subtree would execute twice inside the shortcut join.
      val next = (if (it < shortcutAfter) prop.localCheckpoint(eager = false)
        else {
          val p = prop.localCheckpoint()
          p.union(
            p.as("x")
              .join(p.select(col("id").as("lid"), col("component").as("lcomp")),
                col("x.component") === col("lid"))
              .select(col("x.id").as("id"), col("lcomp").as("component")))
            .groupBy(col("id")).agg(min(col("component")).as("component"))
            .localCheckpoint(eager = false)
        })
      // lazy checkpoint: the convergence-sum action below is what
      // materializes it — one job per round instead of an eager
      // checkpoint job plus the aggregation job
      val s = sumCount(next)._1
      converged = s == lastSum
      lastSum = s
      labels = next
      it += 1
    }
    // silent wrong answers are worse than failure: an unconverged result
    // would give one component two different labels with nothing to
    // distinguish it from an engine bug
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds — " +
          "with pointer-doubling past round " + shortcutAfter + " reach " +
          s"is at least 2^(${maxIters - shortcutAfter}) hops (more counting " +
          "the plain propagation hop each doubling round adds); a graph " +
          "needing this diameter is pathological — raise maxIters")
    // singletons (and any node absent from the edge set) label themselves
    nodes.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Per-document shingle index: (doc, h, sz) — fixed-width rows
    * (never shingle text) that a later batch can probe without
    * re-tokenizing the corpus (q256 writes one for its base corpus once
    * and builds one per delta). `sz` is the doc's distinct-shingle
    * count, carried per row so the exact size-ratio prune runs inside
    * the candidate join. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame =
    // materialized once: the size aggregation AND the size-attach join
    // both read it, and without the cut the tokenize/explode/distinct
    // pipeline executes per consumer (the ngramJaccardPairs sh0
    // rationale); only fixed-width (doc, h) rows are stored. Producers
    // and consumers of the persisted index share ShingleIndex's one hash
    // identity, so the artifact stays internally consistent.
    ShingleIndex.withSizes(
      ShingleIndex.build(df, Seq(col(idCol).as("doc")), col(textCol), n)
        .localCheckpoint(),
      Seq("doc"))

  /** Jaccard pairs of a batch index against a stored corpus index —
    * [[incrementalJaccardPairs]]' candidate join over PRE-SHINGLED
    * (doc, h, sz) frames: the corpus is probed, never re-tokenized and
    * never self-joined. No df cap here by design: caps are
    * population-dependent, and this entry exists for the incremental ==
    * full-closure equality (q256's contract). Both indexes must come
    * from [[shingleIndex]] in the same build: its hash identity is the
    * only join key. */
  def jaccardPairsAgainstIndex(corpusIdx: DataFrame, batchIdx: DataFrame,
                               threshold: Double): DataFrame =
    ShingleIndex.jaccardPairs(batchIdx, corpusIdx, threshold,
      "batch_doc", "corpus_doc", within = false)

  /** Jaccard pairs WITHIN one index (doc_a < doc_b) — the
    * [[ngramJaccardPairs]] tail over a pre-shingled frame. */
  def jaccardPairsWithinIndex(idx: DataFrame, threshold: Double): DataFrame =
    ShingleIndex.jaccardPairs(idx, idx, threshold, "doc_a", "doc_b",
      within = true)

  /** Incrementally extend a component labeling with a NEW batch of
    * nodes and the edges that touch it — the clustering counterpart of
    * [[incrementalJaccardPairs]] (which admits documents; this one
    * maintains their component labels). A daily crawl drop must NOT
    * re-run the closure over the whole corpus: existing components are
    * internally connected by construction, so CONTRACTING each to its
    * label preserves the union graph's connectivity exactly, and only
    * the components the new edges TOUCH can change. The reduced graph —
    * nodes = touched labels, edges = new edges mapped through the
    * labeling — is delta-sized, not corpus-sized: untouched components
    * never enter a shuffle, and the fixpoint runs over a graph bounded
    * by the batch's edge count.
    *
    * Label algebra: labels are min-ids, the super-label of a merged
    * group is the min over its member labels, and min∘min = min over
    * the union — so the result is BIT-IDENTICAL to a full
    * [[connectedComponents]] over (base ∪ delta) with the full edge
    * set (q256 pins this against the full-closure oracle; the edge
    * operators must be run WITHOUT population-dependent df caps for
    * that equality, since a cap computed over the base corpus can
    * differ from one over the union).
    *
    * @param baseLabels (id, component) — an existing labeling (from
    *        [[connectedComponents]] or a previous incremental round)
    * @param deltaIds one column `id` — the new nodes (label themselves
    *        until an edge says otherwise). MUST be disjoint from the
    *        base ids (the q61/q138 admission discipline: arriving ids
    *        are NEW); an overlapping id would carry two label rows
    * @param newEdges (src, dst) — every edge with at least one new
    *        endpoint (delta↔base and delta↔delta)
    * @return (id, component) over base ∪ delta */
  def incrementalComponents(baseLabels: DataFrame, deltaIds: DataFrame,
                            newEdges: DataFrame): DataFrame = {
    // the working labeling feeds the two edge-endpoint joins AND the
    // final re-attach — materialize once (fixed-width rows only)
    val labels = baseLabels.select(col("id"), col("component"))
      .unionByName(deltaIds.select(col("id"), col("id").as("component")))
      .localCheckpoint()
    // materialize the label-mapped edge list ONCE: it feeds the touched
    // node set AND connectedComponents' edge restriction (two semi-joins)
    // AND its symmetric union — without the cut the (possibly expensive)
    // newEdges pipeline upstream re-executes per consumer (measured on
    // q256: the delta probe ran ~4x, 8.0 s vs 3.4 s). Fixed-width label
    // pairs only, delta-sized.
    val el = newEdges.select(col("src"), col("dst"))
      .join(labels.select(col("id").as("src"), col("component").as("__ls")),
        Seq("src"))
      .join(labels.select(col("id").as("dst"), col("component").as("__ld")),
        Seq("dst"))
      .select(col("__ls").as("src"), col("__ld").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint()
    val touched = el.select(col("src").as("id"))
      .union(el.select(col("dst").as("id"))).distinct()
    // delta-sized fixpoint over the contracted graph: (label → super)
    val superOf = connectedComponents(touched, el)
      .select(col("id").as("component"), col("component").as("__sup"))
    labels.join(superOf, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("__sup"), col("component")).as("component"))
  }

  /** 64-bit SimHash over distinct whitespace tokens: bit j of the
    * fingerprint is set when more token hashes have bit j set than clear.
    * The 64 hash bits per token come from two dialect-portable 32-bit
    * halves of ONE md5 (hex chars 1–8 → bits 0–31, chars 9–16 → bits
    * 32–63), so the oracle reproduces the fingerprint exactly. Bit 63 is
    * set by adding Long.MinValue (two's complement — every partial sum
    * stays in BIGINT range because bits 0–62 total at most 2^63−1).
    * Fully narrow: tokens are deduped, hashed, and bit-summed inside one
    * row via higher-order array functions — no explode, no shuffle, no
    * aggregation state. Docs with no tokens produce no fingerprint. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r19 restructure (guide §1.2 / §4.1): the narrow form computed TWO
    // md5s per distinct token (one per 32-bit half) and then ran 64
    // higher-order aggregate() lambdas per document — each re-walking
    // the token array INTERPRETED (HOFs sit outside whole-stage
    // codegen), 64·|tokens| lambda steps per doc. Now: one md5 per
    // distinct token sliced twice (bit-identical halves — the oracle
    // replays the same hex ranges of the same digest), exploded, and 64
    // plain sum() aggregates — one codegen'd pass with map-side partial
    // aggregation (64 longs of state per doc), the standard
    // sketch-partials shape at any scale.
    val halves = df
      .select(col(idCol).as("doc_id"),
        array_distinct(TextAnalysis.tokens(col(textCol))).as("__tk"))
      .select(col("doc_id"), explode(col("__tk")).as("__t"))
      .select(col("doc_id"), md5(col("__t").cast("binary")).as("__md"))
      .select(col("doc_id"),
        conv(substring(col("__md"), 1, 8), 16, 10).cast("long").as("__hlo"),
        conv(substring(col("__md"), 9, 8), 16, 10).cast("long").as("__hhi"))
    val sums = (0 until 64).map { j =>
      val h = if (j < 32) col("__hlo") else col("__hhi")
      val jj = if (j < 32) j else j - 32
      sum(when(shiftright(h, jj).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__s$j")
    }
    val fp = (0 until 64).map { j =>
      val w = if (j == 63) lit(Long.MinValue) else lit(1L << j)
      when(col(s"__s$j") > 0, w).otherwise(lit(0L))
    }.reduce(_ + _)
    halves.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** Near-duplicate pairs by SimHash hamming distance, with 16-bit-band
    * blocking: docs sharing any of the four 16-bit bands are candidates
    * (a fingerprint pair within hamming 3 always agrees on at least one
    * band — pigeonhole), then the exact popcount filter runs on
    * candidates only.
    *
    * Scale: 65 536 buckets per band — per-bucket fan-out at n docs is
    * ~n/65 536 under a uniform fingerprint, so the candidate join stays
    * near-linear far past the point where the old 8-bit bands (256
    * buckets) degenerated toward n²/256 per band. Band extraction masks
    * after the shift, so arithmetic-vs-logical shift of the (signed)
    * fingerprint cannot differ between engines. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // 4 bands pigeonhole-guarantee recall only up to hamming 3 (4 or more
    // flipped bits can hit all four bands); past that the blocking would
    // silently under-recall, so refuse rather than mislead
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simHashPairs: 16-bit×4 banding guarantees candidate recall only " +
        s"for maxHamming <= 3 (got $maxHamming); use minHashLshPairs or " +
        "ngramJaccardPairs for looser similarity")
    def byteBand(sim: Column, b: Int): Column =
      shiftright(sim, 16 * b).bitwiseAND(lit(65535L))
    // 1 row per doc, 2 fixed-width columns; without the checkpoint the
    // 64-bitsum fingerprint expression evaluates once per self-join side
    val s = simHash(df, idCol, textCol).localCheckpoint()
    val banded = s.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(byteBand(col("simhash"), _)): _*))
        .as(Seq("band", "bv")))
    // canonical-band join: a pair meets only in its FIRST agreeing band
    // (all lower bands must differ), so each pair is emitted exactly once
    // and the dedup shuffle a distinct() would need disappears. The
    // popcount filter runs inside the join, before anything shuffles on.
    val lowerBandsDiffer = (0 until 3).map { j =>
      col("a.band") <= j ||
        byteBand(col("a.simhash"), j) =!= byteBand(col("b.simhash"), j)
    }.reduce(_ && _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id") && lowerBandsDiffer &&
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
          .as("hamming"))
  }

  /** Near-duplicate pairs over an arbitrary 63-bit fingerprint column
    * (e.g. [[graft.operators.MediaCodec.dHash63]] image hashes, audio
    * fingerprints) with 21-bit×3 band blocking: a pair within hamming 2
    * leaves at least one band untouched (pigeonhole), so candidates
    * sharing any band have guaranteed recall up to `maxHamming` = 2 —
    * the [[simHashPairs]] discipline generalized to fingerprints that
    * arrive precomputed rather than derived from text.
    *
    * Scale: 2 097 152 buckets per band; only (id, 8-byte hash) rows
    * ride the self-join — whatever media the fingerprint came from
    * stays in its original partitions. Canonical-band emit (a pair
    * meets only in its first agreeing band) keeps each pair single
    * without a distinct() shuffle. Band extraction masks after the
    * shift; a 63-bit hash is non-negative so engines cannot differ on
    * sign extension. */
  def hammingPairs63(hashes: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 2,
      s"hammingPairs63: 21-bit×3 banding guarantees candidate recall only " +
        s"for maxHamming <= 2 (got $maxHamming); rehash with more bands " +
        "or use simHashPairs' 16-bit×4 layout for hamming 3")
    def band(hc: Column, b: Int): Column =
      shiftright(hc, 21 * b).bitwiseAND(lit(0x1FFFFFL))
    // 1 row per doc, 2 fixed-width columns; the checkpoint stops the
    // (possibly expensive — a full image decode) fingerprint subtree
    // from evaluating once per self-join side
    val s = hashes.select(col(idCol).as("doc_id"), col(hashCol).as("__dh"))
      .localCheckpoint()
    val banded = s.select(col("doc_id"), col("__dh"),
      posexplode(array((0 until 3).map(band(col("__dh"), _)): _*))
        .as(Seq("band", "bv")))
    val lowerBandsDiffer = (0 until 2).map { j =>
      col("a.band") <= j || band(col("a.__dh"), j) =!= band(col("b.__dh"), j)
    }.reduce(_ && _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id") && lowerBandsDiffer &&
          bit_count(col("a.__dh").bitwiseXOR(col("b.__dh"))) <= maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.__dh").bitwiseXOR(col("b.__dh"))).cast("long")
          .as("hamming"))
  }

  /** Video near-dup pairs from FRAME-grained 63-bit perceptual hashes
    * ([[graft.operators.MediaCodec.videoFrameHashes]]): the
    * [[hammingPairs63]] band join run at frame grain, then aggregated
    * to owner pairs — two videos are near-duplicates when at least
    * `minFrames` cross-video frame pairs land within `maxHamming`.
    * Output (doc_a, doc_b, n_frames), doc_a < doc_b.
    *
    * Scale: identical to [[hammingPairs63]] — 2 097 152 buckets per
    * 21-bit band, only (doc, frame, 8-byte hash) rows ride the
    * self-join, canonical-band emit keeps each FRAME pair single
    * without a distinct() (so the per-owner count is exact), and the
    * final aggregation is map-side combinable on (doc_a, doc_b). Frame
    * bytes never shuffle. */
  def videoFrameDupPairs(frames: DataFrame, idCol: String, frameCol: String,
                         hashCol: String, maxHamming: Int = 2,
                         minFrames: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 2,
      s"videoFrameDupPairs: 21-bit×3 banding guarantees candidate recall " +
        s"only for maxHamming <= 2 (got $maxHamming)")
    require(minFrames >= 1, s"minFrames must be >= 1, got $minFrames")
    def band(hc: Column, b: Int): Column =
      shiftright(hc, 21 * b).bitwiseAND(lit(0x1FFFFFL))
    val s = frames.select(col(idCol).as("doc_id"), col(frameCol).as("__f"),
      col(hashCol).as("__dh")).localCheckpoint()
    val banded = s.select(col("doc_id"), col("__f"), col("__dh"),
      posexplode(array((0 until 3).map(band(col("__dh"), _)): _*))
        .as(Seq("band", "bv")))
    val lowerBandsDiffer = (0 until 2).map { j =>
      col("a.band") <= j || band(col("a.__dh"), j) =!= band(col("b.__dh"), j)
    }.reduce(_ && _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id") && lowerBandsDiffer &&
          bit_count(col("a.__dh").bitwiseXOR(col("b.__dh"))) <= maxHamming)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_frames"))
      .filter(col("n_frames") >= minFrames)
  }

  /** Span-level duplicate REMOVAL — the transform [[duplicateSpanCoverage]]
    * is the signal for: every token position covered by some k-token
    * window whose text occurs at least twice in the corpus is CUT, and
    * the surviving tokens re-join in order — Lee et al.'s exact-substring
    * dedup applied as an edit instead of a drop (the boilerplate leaves;
    * the unique prose stays). Both occurrences of a duplicated window are
    * cut; span-keeping policies (keep-first) need an order over
    * occurrences that a distributed corpus doesn't naturally have.
    *
    * Scale: identical shuffle shape to [[duplicateSpanCoverage]] (60-bit
    * window hashes aggregate map-side; duplicated starts semi-join back),
    * plus one per-doc collect of duplicated starts — bounded by doc
    * length, like the coverage window. The cut itself is row-local and
    * LINEAR in doc length: the sorted starts decompose into disjoint
    * covered regions (start j newly covers min(k, next_start − start)
    * positions — the same gain decomposition [[duplicateSpanCoverage]]
    * sums analytically), those regions flatten into a boolean mask, and
    * one zip_with+filter pass keeps the uncovered tokens. No per-token
    * scan of the starts array, so a boilerplate-saturated doc (starts ≈
    * tokens/1) costs O(tokens), not O(tokens²).
    *
    * @return (doc_id, n_tokens, kept_tokens, clean_text), one row per
    *         input doc (clean_text = "" when everything was duplicated)
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 8): DataFrame = {
    // ShingleIndex's identity-only window hash: the oracle groups by
    // window TEXT, so no window string is ever built
    val base = ShingleIndex.windowArrays(
      df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__tk")),
      Seq(col("doc_id"), col("__tk")), col("__tk"), k)
    val wins = base
      .select(col("doc_id"), posexplode(col("__w")).as(Seq("pos", "wh")))
    // duplicated-hash detection: aggregation + semi-join, never a window
    // over the hash (see duplicateSpanCoverage's scale note)
    val dupHashes = wins.groupBy(col("wh")).agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select(col("wh"))
    val starts = wins
      .join(dupHashes, Seq("wh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("__st"))
    base.join(starts, Seq("doc_id"), "left")
      // materialize the coalesced starts BEFORE the lambdas: referenced
      // inside a HOF it would re-evaluate per element (generator-token
      // rule)
      .select(col("doc_id"), col("__tk"),
        coalesce(col("__st"), array().cast("array<int>")).as("__st"))
      // disjoint-region decomposition of the sorted starts: start j
      // newly covers covLen = min(k, next_start − s) positions from s,
      // preceded by an uncovered gap of max(0, s − prev − k) (s itself
      // for the first start); the tail after the last region is
      // n − s_last − k uncovered positions. Flattening
      // gap/cover run-lengths yields a boolean mask aligned with the
      // token array — every step O(1) per emitted element.
      .select(col("doc_id"), col("__tk"),
        flatten(concat(
          transform(col("__st"), (s, j) => concat(
            // try_element_at: the j==0 prev probe and the past-the-end
            // next probe must yield null, not an ANSI index error
            array_repeat(lit(false),
              when(j === 0, s).otherwise(
                greatest(lit(0), s - try_element_at(col("__st"), j) - lit(k)))),
            array_repeat(lit(true),
              least(lit(k),
                coalesce(try_element_at(col("__st"), j + lit(2)) - s, lit(k)))))),
          array(array_repeat(lit(false),
            when(size(col("__st")) === 0, size(col("__tk")))
              .otherwise(greatest(lit(0),
                size(col("__tk")) - element_at(col("__st"), -1) - lit(k)))))))
          .as("__mask"))
      .select(col("doc_id"), size(col("__tk")).cast("long").as("n_tokens"),
        filter(
          zip_with(col("__tk"), col("__mask"),
            (t, m) => when(m, lit(null)).otherwise(t)),
          t => t.isNotNull).as("__kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("__kept")).cast("long").as("kept_tokens"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  /** Span-level duplicate coverage — the exact-substring dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022): for every document, how many of its token
    * positions fall inside some k-token window whose text occurs at
    * least twice anywhere in the corpus (including repeats within the
    * same document). The doc-level Jaccard/MinHash family scores whole
    * documents; this exposes verbatim boilerplate embedded in
    * otherwise-unique documents — the signal a pipeline uses to CUT a
    * span rather than drop a doc.
    *
    * Scale (100 TB): portable 60-bit window hashes shuffle, never window
    * text; duplicate detection is one hash aggregation with map-side
    * combine plus a semi-join back (never a window over the hash, which
    * would serialize a viral hash into one task); coverage is an
    * interval union computed analytically from
    * the sorted duplicated-window starts (each start covers
    * min(k, next_start − start) new tokens), so there is no k×
    * position-explosion join. The per-doc window sort holds only that
    * doc's duplicated starts — bounded by doc length, never by corpus
    * size.
    *
    * @return one row per input doc:
    *         (doc_id, n_tokens, covered_tokens, dup_windows)
    */
  def duplicateSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 8): DataFrame = {
    // project the token array before the generator (see shinglesOfTokens
    // scaladoc: inlining it re-evaluates the split per element)
    // ShingleIndex's identity-only window hash, as in
    // removeDuplicateSpans
    val base = ShingleIndex.windowArrays(
      df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__tk")),
      Seq(col("doc_id"), size(col("__tk")).cast("long").as("n_tokens")),
      col("__tk"), k)
    val wins = base
      .select(col("doc_id"), posexplode(col("__w")).as(Seq("pos", "wh")))
    // duplicated-hash detection is a hash AGGREGATION, not a window: a
    // window over wh would route every occurrence of one hash into a
    // single task (a corpus-wide boilerplate 8-gram = one straggler
    // partition), while groupBy partial-aggregates map-side and the
    // semi-join back is AQE-skew-splittable on hot hashes
    val dupHashes = wins.groupBy(col("wh")).agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2)
      .select(col("wh"))
    val dupStarts = wins
      .join(dupHashes, Seq("wh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val perDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val covered = dupStarts
      .withColumn("__gain",
        least(coalesce(lead(col("pos"), 1).over(perDoc) - col("pos"), lit(k)),
          lit(k)))
      .groupBy(col("doc_id"))
      .agg(sum(col("__gain")).as("covered_tokens"),
        count(lit(1)).as("dup_windows"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
  }
}
