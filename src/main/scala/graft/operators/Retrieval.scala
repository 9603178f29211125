package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked retrieval over the corpus — the missing sibling of the ANN
  * family: term-based candidate generation (BM25) and an integer-exact
  * quantized-embedding re-rank, the two stages a production
  * retrieve-then-rerank pipeline actually runs over a 100 TB corpus.
  *
  * INTEGER-EXACT SCORING (the [[LinkGraph]] discipline): classical BM25
  * multiplies a log idf by a float length normalization — neither
  * replays bit-identically across engines (libm `ln` differs in the
  * last ulp, and a floor on top of it flips on boundary inputs). Here
  * both factors are exact rationals evaluated with 64-bit integer
  * arithmetic and ONE final floor per (term, doc):
  *
  *   idf    = (2N - 2df + 1) / (2df + 1)          -- the +0.5 odds form
  *            of Robertson idf with the log dropped (same df ordering;
  *            the log's damping is monotone, so per-TERM ranking is
  *            preserved — multi-term mixes weight rare terms harder,
  *            a documented variant, not an approximation error)
  *   tfnorm = 22000·tf / (10000·tf + 3000 + 9·L)  -- k1=1.2, b=0.75 as
  *            exact rationals; L = ⌊1000·dl·N / Σdl⌋ is the per-mille
  *            relative doc length, itself exact integer division
  *   score  = Σ_terms ⌊SCALE · 22000·tf·(2N-2df+1) /
  *                     ((10000·tf+3000+9·L)·(2df+1))⌋
  *
  * Every division is integer division on positives (Spark `DIV` ==
  * DuckDB `//` here), so the oracle replays the score bit-for-bit.
  * Magnitude bound: the numerator is ≤ SCALE·22000·tf·(2N+1), which
  * stays under 2^63 while tf·N ≤ 2·10⁹ at SCALE=10⁵ (e.g. N = 10⁸
  * docs with tf ≤ 20, or N = 2·10⁶ with tf ≤ 10³) — beyond that,
  * lower SCALE or run the same expressions in DECIMAL(38,0)
  * (documented, not built: the gate certifies the long lane).
  *
  * Scale shape: TWO passes over tokens, both pruned. Pass 1 (corpus
  * stats) aggregates per-doc token counts — map-side combined, output
  * |docs| rows + a 1-row (N, Σdl) broadcast. Pass 2 (postings) filters
  * to the query terms BEFORE the tf groupBy — Catalyst pushes the
  * `isin` through the aggregation to the scan, so only matching
  * postings shuffle (at 100 TB this is the inverted-index probe; the
  * full tf table is never materialized). The query set is a literal
  * broadcast; df comes from the filtered postings themselves (df of
  * term t only needs rows with tok = t). Top-k is a per-query
  * row_number over |candidates|, never a global sort.
  */
object Retrieval {

  /** The inverted-index parts: postings (doc_id, tok, tf), doc lengths
    * (doc_id, dl), and the 1-row corpus stats (n_docs, sum_len). All
    * three merge ADDITIVELY across disjoint document sets — postings and
    * lengths by union (each (doc, tok) lives in exactly one part), stats
    * by summing — which is what lets a daily delta refresh the index
    * without rescanning the base corpus ([[mergeParts]]). */
  final case class IndexParts(postings: DataFrame, doclen: DataFrame,
                              stats: DataFrame)

  /** Build index parts from a corpus slice: one tokenization, two
    * map-side-combined aggregations. */
  def indexParts(docs: DataFrame, idCol: String, textCol: String): IndexParts = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    // doc length is one narrow row-local expression — size(tokens) —
    // not an explode + re-group of the whole token stream (r19, guide
    // §2.4: the groupBy(doc_id) rebuilt per-doc counts the projection
    // already knows). The dl > 0 filter preserves the exact prior
    // semantics: a zero-token doc contributed no dl row (and must not
    // inflate n_docs, which enters every BM25 idf).
    val dl = docs.select(col(idCol).as("doc_id"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_len"))
    val postings = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    IndexParts(postings, dl, stats)
  }

  /** Additive index merge. CONTRACT: the parts' document sets are
    * disjoint (the q61/q138 refresh discipline — a delta admits only new
    * documents); a doc in both parts would double-count in dl/stats and
    * split its postings. */
  def mergeParts(a: IndexParts, b: IndexParts): IndexParts = IndexParts(
    a.postings.unionByName(b.postings),
    a.doclen.unionByName(b.doclen),
    a.stats.unionByName(b.stats)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_len")).as("sum_len")))

  /** Persist index parts as a parquet artifact (the q151/q171 pattern —
    * an index is a TABLE, not a driver object). Postings are RANGE-
    * partitioned by token and sorted within partitions: each file then
    * covers a tight token range, so the pushed `In(tok)` prunes via
    * per-file/row-group min-max stats — a hash repartition would
    * co-locate each token but leave every file's stats spanning the
    * whole vocabulary, skipping nothing.
    *
    * CONTRACT (r19 ADVICE): `parts.doclen` and `parts.stats` are NOT
    * written as given — they are recomputed from the just-written
    * postings under the dl == Σtf invariant every [[IndexParts]]
    * construction path maintains (the fields are honored only
    * in-memory, e.g. by [[bm25]] over unwritten parts). A caller
    * constructing parts whose doclen deliberately disagrees with its
    * postings would have that intent silently overwritten here — keep
    * such parts in memory or write them separately. The read-back also
    * assumes read-after-write consistency of the target filesystem
    * (true for local disk and HDFS; eventually-consistent stores need a
    * consistent view layer). */
  def writeIndex(parts: IndexParts, path: String): Unit = {
    parts.postings.repartitionByRange(col("tok")).sortWithinPartitions("tok")
      .write.mode("overwrite").parquet(s"$path/postings")
    // doclen/stats are DERIVED from the just-written postings (dl is Σtf
    // by construction — indexParts, mergeParts and readIndex all keep the
    // parts consistent, and a doc with zero tokens has no dl row on
    // either path): writing parts.doclen/parts.stats directly re-ran the
    // whole tokenize+explode lineage once per artifact (three corpus
    // passes per part, r19 measured), while this reads back the tiny
    // written file (guide §1.2).
    val spark = parts.postings.sparkSession
    val dl = spark.read.parquet(s"$path/postings")
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    dl.write.mode("overwrite").parquet(s"$path/doclen")
    spark.read.parquet(s"$path/doclen")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_len"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  def readIndex(spark: SparkSession, path: String): IndexParts = IndexParts(
    spark.read.parquet(s"$path/postings"),
    spark.read.parquet(s"$path/doclen"),
    spark.read.parquet(s"$path/stats"))

  private def validated(queries: Seq[(Long, Seq[String])]): Unit = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "every query needs at least one term")
    require(queries.forall(q => q._2.distinct.size == q._2.size),
      "query terms must be distinct (a repeated term would join, and " +
        "therefore count, twice)")
  }

  /** Score a query set against index parts. The term filter is the
    * FIRST thing applied to postings — on a parquet-backed index it
    * reaches the scan as a pushed `In` filter; on an inline build
    * Catalyst pushes it through the tf groupBy to the corpus scan.
    * df is derived from the filtered slice (df of term t only needs
    * rows with tok = t). */
  def bm25FromIndex(parts: IndexParts, queries: Seq[(Long, Seq[String])],
                    k: Int, scale: Long = 100000L): DataFrame = {
    validated(queries)
    val spark = parts.postings.sparkSession
    import spark.implicits._

    val allTerms = queries.flatMap(_._2).distinct
    val tf = parts.postings.filter(col("tok").isin(allTerms: _*))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qdf = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")

    val scored = tf
      .join(dfreq, "tok") // shares the tok shuffle key with the df groupBy
      .join(broadcast(qdf), col("tok") === col("term"))
      .join(parts.doclen, "doc_id")
      .crossJoin(broadcast(parts.stats))
      .withColumn("__l", expr("1000L * dl * n_docs DIV sum_len"))
      .withColumn("__s", expr(
        s"($scale" + "L * 22000L * tf * (2L * n_docs - 2L * df + 1L)) DIV " +
          "((10000L * tf + 3000L + 9L * __l) * (2L * df + 1L))"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__s")).as("score"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), asc("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** BM25 top-k over a corpus in one shot (inline index build + probe).
    * `queries` = (query_id, terms). Output: (query_id, doc_id, score,
    * rank) with rank 1..k by (score DESC, doc_id). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Long, Seq[String])], k: Int,
               scale: Long = 100000L): DataFrame =
    bm25FromIndex(indexParts(docs, idCol, textCol), queries, k, scale)

  /** Exact phrase search via a POSITIONAL index — the capability
    * term-level BM25 cannot express: "hash join" as ADJACENT tokens,
    * not co-occurrence. Positional postings (doc, term) -> sorted
    * position array are built only for the phrase terms (same
    * pushed-below-the-groupBy pruning as [[bm25FromIndex]]); a phrase
    * of n terms is then n-1 equi-joins on doc_id and ONE codegen'd
    * array expression counting start positions p with pos_i ∋ p+i for
    * every following term — no positional self-join of the corpus, no
    * explode of position pairs. Arrays are bounded by document length;
    * the per-phrase join is over docs containing ALL terms, the
    * smallest set available. Output: (phrase_id, n_docs, n_occ) with
    * docs counted only when at least one full occurrence exists. */
  def phraseStats(docs: DataFrame, idCol: String, textCol: String,
                  phrases: Seq[(Long, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.size >= 2),
      "every phrase needs at least two terms")
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val allTerms = phrases.flatMap(_._2).distinct
    val postings = toks.filter(col("tok").isin(allTerms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      // lazy cut: consumed once per phrase term, so without it every
      // phrase would re-tokenize the corpus; materializes at the first
      // action (plan-only consumers never pay the scan)
      .localCheckpoint(false)

    val perPhrase = phrases.map { case (pid, terms) =>
      val parts = terms.zipWithIndex.map { case (t, i) =>
        postings.filter(col("tok") === t)
          .select(col("doc_id"), col("ps").as(s"__p$i"))
      }
      val joined = parts.reduce(_.join(_, "doc_id"))
      val adjacent = filter(col("__p0"), p =>
        terms.indices.tail.map(i => array_contains(col(s"__p$i"), p + i))
          .reduce(_ && _))
      joined.select(lit(pid).as("phrase_id"), col("doc_id"),
          size(adjacent).cast("long").as("occ"))
        .filter(col("occ") > 0)
    }
    perPhrase.reduce(_.unionByName(_))
      .groupBy(col("phrase_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
  }

  /** Retrieve-then-rerank: BM25 candidates (kCand per query) re-scored
    * by the integer dot product of symmetric int8 codes ([[Quantize]]'s
    * quantization — codes are exact on both engines, and an int8 GEMM
    * is precisely what a GPU reranker runs), top `kOut` kept by
    * (dot DESC, doc_id). Embeddings join is an equi-join on the
    * candidate set — |queries|·kCand rows probe the embedding table,
    * never the reverse; the query-side codes are a broadcast literal
    * join of |queries| rows. */
  def bm25Rerank(docs: DataFrame, idCol: String, textCol: String,
                 emb: DataFrame, embIdCol: String, embCol: String,
                 queries: Seq[(Long, Seq[String], Long)],
                 kCand: Int, kOut: Int): DataFrame = {
    val dot = candidatesWithDot(docs, idCol, textCol, emb, embIdCol,
      embCol, queries, kCand)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("dot"), asc("doc_id"))
    dot.withColumn("rerank", row_number().over(w).cast("long"))
      .filter(col("rerank") <= kOut)
      .select(col("query_id"), col("doc_id"), col("bm25_score"),
        col("dot"), col("rerank"))
  }

  /** The shared candidate stage of [[bm25Rerank]] and [[rrfHybrid]]:
    * BM25 top-kCand with its lexical rank, joined to the int8-code
    * integer dot product against each query's vector. Output carries
    * (query_id, doc_id, bm25_score, bm25_rank, dot). */
  private def candidatesWithDot(docs: DataFrame, idCol: String,
                                textCol: String, emb: DataFrame,
                                embIdCol: String, embCol: String,
                                queries: Seq[(Long, Seq[String], Long)],
                                kCand: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val cand = bm25TopK(docs, idCol, textCol,
      queries.map { case (qid, ts, _) => (qid, ts) }, kCand)
      .withColumnRenamed("score", "bm25_score")
      .withColumnRenamed("rank", "bm25_rank")

    // the embedding id lands under a private name so an embIdCol that
    // happens to be called "doc_id" (the natural schema for document
    // embeddings) can't collide with the candidate side's doc_id
    val codes = Quantize.int8Codes(emb, embIdCol, embCol)
      .withColumnRenamed(embIdCol, "__eid")
    val qmap = queries.map { case (qid, _, qvec) => (qid, qvec) }
      .toDF("query_id", "qvec_id")
    val qcodes = codes.join(broadcast(qmap), col("__eid") === col("qvec_id"))
      .select(col("query_id"), col("codes").as("qc"))

    cand
      .join(codes, cand("doc_id") === codes("__eid"))
      .join(broadcast(qcodes), "query_id")
      .withColumn("dot", aggregate(
        zip_with(col("codes"), col("qc"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .select(col("query_id"), col("doc_id"), col("bm25_score"),
        col("bm25_rank"), col("dot"))
  }

  /** Exact int8-dot top-k over the WHOLE embedding table (restricted to
    * ids present in `universe`) — the gold standard a candidate-stage
    * system is judged against. |queries| narrow dot computations per
    * row, one top-k window; no pairs, no cartesian. */
  def dotTopK(emb: DataFrame, embIdCol: String, embCol: String,
              queries: Seq[(Long, Long)], k: Int,
              universe: DataFrame, universeIdCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val allCodes = Quantize.int8Codes(emb, embIdCol, embCol)
      .withColumnRenamed(embIdCol, "__eid")
    val codes = allCodes
      .join(universe.select(col(universeIdCol).as("__eid")).distinct(),
        Seq("__eid"), "left_semi")
    val qmap = queries.toDF("query_id", "qvec_id")
    val qcodes = allCodes
      .join(broadcast(qmap), col("__eid") === col("qvec_id"))
      .select(col("query_id"), col("codes").as("qc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("dot"), asc("doc_id"))
    codes.crossJoin(broadcast(qcodes))
      .withColumn("dot", aggregate(
        zip_with(col("codes"), col("qc"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .select(col("query_id"), col("__eid").as("doc_id"), col("dot"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified re-rank: greedily pick kOut of the BM25 candidates,
    * each pick maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked — the diversity stage that keeps a RAG context
    * window or a dedup-aware search page from filling with k copies of
    * the same document.
    *
    * Integer-exact: relevance is the int8-code query dot, similarity
    * the int8-code doc-doc dot, λ is in tenths, so every MMR score is
    * λ₁₀·rel − (10−λ₁₀)·maxsim — pure 64-bit integers, ties by doc_id;
    * the DuckDB oracle replays the greedy chain pick by pick. The
    * first pick's maxsim is defined as 0 (nothing selected yet), which
    * makes pick 1 the pure-relevance argmax under the same formula.
    *
    * Scale: greedy selection is inherently sequential in k, but every
    * per-iteration frame is CANDIDATE-sized, never corpus-sized — the
    * pairwise similarity table is |queries|·kCand² rows built ONCE
    * (localCheckpointed; kCand is a knob, 20–100), and each of the
    * kOut rounds is two joins + one window over ≤ |queries|·kCand
    * rows. The corpus is touched exactly as often as [[bm25Rerank]]
    * touches it: once for postings, once for candidate codes. */
  def mmrRerank(docs: DataFrame, idCol: String, textCol: String,
                emb: DataFrame, embIdCol: String, embCol: String,
                queries: Seq[(Long, Seq[String], Long)],
                kCand: Int, kOut: Int, lambdaTenths: Int = 7): DataFrame = {
    require(kOut >= 1 && kCand >= kOut,
      s"need kCand >= kOut >= 1, got kCand=$kCand kOut=$kOut")
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths must be in [0, 10], got $lambdaTenths")
    val lam = lambdaTenths.toLong
    val cand = candidatesWithDot(docs, idCol, textCol, emb, embIdCol,
      embCol, queries, kCand)
      .select(col("query_id"), col("doc_id"), col("dot").as("rel"))
      .localCheckpoint()

    // the pairwise-similarity table only exists when diversity is
    // actually consulted (kOut >= 2) — a pure-relevance kOut=1 call
    // must not pay the candidate self-join or its checkpoint job
    lazy val sims = {
      val codes = Quantize.int8Codes(emb, embIdCol, embCol)
        .withColumnRenamed(embIdCol, "__eid")
      val candCodes = cand.select(col("query_id"), col("doc_id"))
        .join(codes, cand("doc_id") === codes("__eid"))
        .select(col("query_id"), col("doc_id"), col("codes"))
      val c1 = candCodes.select(col("query_id"), col("doc_id").as("d1"),
        col("codes").as("__ca"))
      val c2 = candCodes.select(col("query_id"), col("doc_id").as("d2"),
        col("codes").as("__cb"))
      c1.join(c2, Seq("query_id"))
        .filter(col("d1") =!= col("d2"))
        .withColumn("s", aggregate(
          zip_with(col("__ca"), col("__cb"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
        .select(col("query_id"), col("d1"), col("d2"), col("s"))
        .localCheckpoint()
    }

    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("mmr_score"), asc("doc_id"))
    def pickTop(scored: DataFrame, pick: Int): DataFrame = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn("pick", lit(pick.toLong))

    // pick 1 and the similarity table depend only on the checkpointed
    // candidates — build them concurrently (r20, guide §2.6): the sims
    // self-join job back-fills the cores pick 1's tiny window job
    // leaves idle (both are materialized eagerly either way when
    // kOut >= 2; kOut == 1 keeps the lazy-sims contract)
    var picked =
      if (kOut == 1)
        pickTop(cand
          .withColumn("max_sim", lit(0L))
          .withColumn("mmr_score", lit(lam) * col("rel")), 1)
          .localCheckpoint()
      else {
        val Seq(p1, _) = graft.Par.eval[DataFrame](Seq(
          () => pickTop(cand
            .withColumn("max_sim", lit(0L))
            .withColumn("mmr_score", lit(lam) * col("rel")), 1)
            .localCheckpoint(),
          () => sims))
        p1
      }
    for (p <- 2 to kOut) {
      val remaining = cand.join(picked.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      // fresh aliases for the join keys: sims/remaining both descend
      // from cand through localCheckpoint (which PRESERVES exprIds), so
      // joining on the original attributes would be a self-referential
      // trivially-true predicate
      val ms = sims.join(picked.select(col("query_id"),
          col("doc_id").as("d2")), Seq("query_id", "d2"))
        .groupBy(col("query_id"), col("d1"))
        .agg(max(col("s")).as("max_sim"))
        .select(col("query_id").as("__mq"), col("d1").as("__md"),
          col("max_sim"))
      val scored = remaining.join(ms,
        remaining("query_id") === col("__mq") &&
          remaining("doc_id") === col("__md"))
        .select(col("query_id"), col("doc_id"), col("rel"),
          col("max_sim"))
        .withColumn("mmr_score",
          lit(lam) * col("rel") - lit(10L - lam) * col("max_sim"))
      picked = picked.union(pickTop(scored, p)).localCheckpoint()
    }
    picked.select(col("query_id"), col("doc_id"), col("rel"),
      col("max_sim"), col("mmr_score"), col("pick"))
  }

  /** KWIC snippets for a ranked result set — the search-results page's
    * last mile: for every (query, doc) pair of `ranked`, the FIRST
    * occurrence position of any query term in the document and a
    * ±`context`-token window around it, joined with spaces. Exact
    * strings and integer positions, so the snippet surface rides the
    * same hash oracle as the ranking that produced it.
    *
    * Scale: term positions come from one posexplode filtered to the
    * query terms BEFORE any join (the postings-probe discipline — only
    * matching positions shuffle); the snippet slice re-joins the
    * |ranked|-sized pair set to the token arrays of RANKED DOCUMENTS
    * ONLY (semi-join pruned), never re-tokenizing the corpus at large.
    *
    * @return (query_id, doc_id, first_pos, snippet); pairs whose doc
    *         contains no query term (possible when `ranked` came from
    *         another stage) are absent. */
  def snippets(docs: DataFrame, idCol: String, textCol: String,
               ranked: DataFrame, queries: Seq[(Long, Seq[String])],
               context: Int = 2): DataFrame = {
    require(context >= 0, s"context must be >= 0, got $context")
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = ranked.select(col("query_id"), col("doc_id"))
    // lazy: both consumers (positions, snippet slice) share one
    // materialization at the first action, and plan-only consumers
    // (Explain, plan audits) never pay the upstream retrieval pipeline
    val toks = docs
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .join(pairs.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .localCheckpoint(eager = false)
    val qterms = queries.flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("query_id", "__term")
    val positions = toks
      .select(col("doc_id"), posexplode(col("__tk")).as(Seq("__p", "__w")))
      .join(broadcast(qterms), col("__w") === col("__term"))
      .select(col("query_id"), col("doc_id"), (col("__p") + 1).as("__pos"))
    val firstPos = pairs.join(positions, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(col("__pos")).cast("long").as("first_pos"))
    firstPos.join(toks, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("first_pos"),
        array_join(slice(col("__tk"),
          greatest(col("first_pos") - context, lit(1)),
          least(col("first_pos") + context, size(col("__tk")))
            - greatest(col("first_pos") - context, lit(1)) + 1), " ")
          .as("snippet"))
  }

  /** Ranking-quality card: recall hits and MRR of a `system` ranking
    * (query_id, doc_id, rank) against a `gold` relevant set (query_id,
    * doc_id). MRR's 1/r is floored to integer micro-units
    * (⌊10⁶/first_relevant_rank⌋, 0 when nothing relevant surfaced) so
    * the metric replays bit-for-bit cross-engine — the same
    * rational-exactness trick as RRF. One left join + one groupBy. */
  def rankingEval(system: DataFrame, gold: DataFrame): DataFrame = {
    // gold may come from an external judgment table with duplicate
    // (query_id, doc_id) rows — distinct BEFORE the join so duplicates
    // cannot fan out system rows and inflate n_sys/hits
    val j = system.join(
      gold.select(col("query_id"), col("doc_id")).distinct()
        .withColumn("__rel", lit(1)),
      Seq("query_id", "doc_id"), "left")
    j.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_sys"),
        sum(coalesce(col("__rel"), lit(0))).cast("long").as("hits"),
        min(when(col("__rel") === 1, col("rank"))).as("__fr"))
      .withColumn("mrr_micro",
        coalesce(expr("1000000L DIV __fr"), lit(0L)))
      .drop("__fr")
  }

  /** Hybrid retrieval by reciprocal rank fusion: the candidates' BM25
    * rank and their int8-dot rank fuse as
    * Σ ⌊scale / (rrfK + rank)⌋ — RRF's 1/(k+r) is a RATIONAL, so with
    * one floor per leg the fused score is integer-exact and the oracle
    * replays the hybrid ranking bit-for-bit (the same trick that made
    * BM25 portable; a float RRF would hash-diverge). Rank semantics:
    * both legs are ranked WITHIN the BM25 candidate set — the
    * production shape, where the lexical stage owns recall and the
    * vector leg only reorders (a corpus-wide vector rank would need the
    * full ANN index instead; that path is q49/q151). Ties break by
    * doc_id everywhere. */
  def rrfHybrid(docs: DataFrame, idCol: String, textCol: String,
                emb: DataFrame, embIdCol: String, embCol: String,
                queries: Seq[(Long, Seq[String], Long)],
                kCand: Int, kOut: Int, rrfK: Int = 60,
                scale: Long = 1000000L): DataFrame = {
    val dot = candidatesWithDot(docs, idCol, textCol, emb, embIdCol,
      embCol, queries, kCand)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(desc("dot"), asc("doc_id"))
    val fused = dot
      .withColumn("dot_rank", row_number().over(we).cast("long"))
      .withColumn("fused", expr(
        s"$scale" + s"L DIV (${rrfK}L + bm25_rank) + " +
          s"$scale" + s"L DIV (${rrfK}L + dot_rank)"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(desc("fused"), asc("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= kOut)
      .select(col("query_id"), col("doc_id"), col("bm25_rank"),
        col("dot_rank"), col("fused"), col("rank"))
  }
}
