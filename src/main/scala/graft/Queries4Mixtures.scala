package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.{DnsWire, DnstapCodec}
import graft.dns.{DnsAnalog, DnstapRows}
import graft.functions.{Anonymize, DnsNames, IpFunctions, VectorFunctions}
import graft.operators.{AsOfMatch, CorpusStats, Dedup, GroupingSetCounter, MediaCodec, Multimodal, NgramModel, Packing, Percentiles, Quantize, Sampling, Scrub, ShingleIndex, Similarity, SkewAgg, TextAnalysis}

/** Mixture, quality and real-media families (q79-q103): cluster mixes, hard negatives, BPE pair stats, cross-modal manifests, leakage, zipf, novelty, PNG/JPEG/WAV codecs, BoW quality.
  *
  * Mechanical r12 split of the former single-file SparkEntry registry;
  * see [[QueriesBase]] for the chaining rationale. */
private[graft] trait Queries4Mixtures extends Queries3Curation {

  // ---------------------------------------------------------------------
  // q79 — semantic-cluster x source mix (documents ⋈ embeddings on id +
  // IVF cell assignment): which sources dominate which semantic region —
  // the cross-modal training-mix diagnostic. Shares are integer basis
  // points (exact in both dialects); the cell-total window partitions on
  // cell over per-(cell,source) aggregates, bounded by |sources|.
  // ---------------------------------------------------------------------
  private[graft] def q79ClusterSourceMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val c = corpus(spark, dir)
    val cents = Similarity.collectCentroids(c.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("ce")))
    val ca = c
      .withColumn("cell", Similarity.cellAssignExpr(cents, col("embedding")))
      .select(col("vec_id"), col("cell"))
    val counts = docs.join(ca, docs("doc_id") === ca("vec_id"))
      .groupBy(col("cell"), col("source")).agg(count(lit(1)).as("n_docs"))
    val wc = Window.partitionBy(col("cell"))
    counts.withColumn("__tot", sum(col("n_docs")).over(wc))
      .select(col("cell"), col("source"), col("n_docs"),
        call_function("div", col("n_docs") * lit(10000L), col("__tot"))
          .as("share_bp"))
  }

  private[graft] val q79Sql =
    s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 8),
      |ca AS (SELECT vec_id, cell FROM (
      |  SELECT e.vec_id, c.cell,
      |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |           ORDER BY ${duckCosine("e.embedding", "ce")} DESC, c.cell) AS crn
      |  FROM embeddings e CROSS JOIN c) WHERE crn = 1),
      |n AS (SELECT cell, source, CAST(count(*) AS BIGINT) AS n_docs
      |      FROM documents d JOIN ca ON d.doc_id = ca.vec_id
      |      GROUP BY 1, 2)
      |SELECT cell, source, n_docs,
      |  CAST((n_docs * 10000) // (SUM(n_docs) OVER (PARTITION BY cell)) AS BIGINT) AS share_bp
      |FROM n""".stripMargin

  // ---------------------------------------------------------------------
  // q80 — ADC search with Lloyd-TRAINED PQ codebooks (the production
  // variant of q75; training is a bounded driver-side sample action, not
  // SQL-expressible — rows-only check, the q46 precedent). Same
  // encode/search plans; only the literal codebook differs.
  // ---------------------------------------------------------------------
  private[graft] def q80PqAdcTrained(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val books = Quantize.pqTrainCodebooks(c, "vec_id", "embedding",
      m = 4, ksub = 16, iters = 5, sampleN = 512)
    val codes = Quantize.pqEncode(c, "vec_id", "embedding", books)
    Quantize.pqSearchAdc(codes, probes(spark, dir), k = 5, books)
  }

  // ---------------------------------------------------------------------
  // q81 — hard-negative mining (operators/Similarity.hardNegatives):
  // per-probe top-3 most-similar DIFFERENT-label vectors via the IVF
  // cell join — the batch-construction step of contrastive training.
  // Label mismatch is evaluated inside the join, before ranking.
  // ---------------------------------------------------------------------
  private[graft] def q81HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val c = e.select(col("vec_id"), col("embedding"), col("label"))
    val p = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("label").as("plabel"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("ce"))
    Similarity.hardNegatives(c, p, k = 3, cents)
  }

  private[graft] val q81Sql =
    s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 8),
      |ca AS (SELECT vec_id, embedding, label, cell FROM (
      |  SELECT e.vec_id, e.embedding, e.label, c.cell,
      |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |           ORDER BY ${duckCosine("e.embedding", "ce")} DESC, c.cell) AS crn
      |  FROM embeddings e CROSS JOIN c) WHERE crn = 1),
      |p0 AS (SELECT vec_id AS probe_id, embedding AS pe, label AS plabel
      |       FROM embeddings WHERE vec_id < 3),
      |pa AS (SELECT probe_id, pe, plabel, cell AS pcell FROM (
      |  SELECT p0.probe_id, p0.pe, p0.plabel, c.cell,
      |         ROW_NUMBER() OVER (PARTITION BY p0.probe_id
      |           ORDER BY ${duckCosine("pe", "ce")} DESC, c.cell) AS crn
      |  FROM p0 CROSS JOIN c) WHERE crn = 1),
      |s AS (SELECT probe_id, ca.vec_id, ca.label AS neg_label,
      |        ${duckCosine("pe", "ca.embedding")} AS cosine
      |      FROM pa JOIN ca ON ca.cell = pa.pcell AND ca.vec_id <> pa.probe_id
      |        AND ca.label <> pa.plabel),
      |r AS (SELECT probe_id, vec_id, neg_label, cosine,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      |      FROM s)
      |SELECT probe_id, vec_id, neg_label, cosine, rn FROM r WHERE rn <= 3""".stripMargin

  // ---------------------------------------------------------------------
  // q82 — first-round BPE pair statistics (operators/CorpusStats
  // .bpePairCounts): top-20 adjacent character pairs weighted by word
  // frequency — tokenizer-training counting over the vocabulary-bounded
  // distinct-word table, global top-k via count-bit-length banding.
  // ---------------------------------------------------------------------
  private[graft] def q82BpePairs(spark: SparkSession, dir: String): DataFrame =
    CorpusStats.bpePairCounts(Tables.documents(spark, dir), "text", k = 20)

  private[graft] val q82Sql =
    """WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM documents),
      |wc AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
      |p AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1), i -> substr(w, i, 2))) AS pair, c
      |      FROM wc WHERE len(w) >= 2),
      |g AS (SELECT pair, CAST(sum(c) AS BIGINT) AS n_occ FROM p GROUP BY 1),
      |r AS (SELECT pair, n_occ,
      |        CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, pair) AS BIGINT) AS rk
      |      FROM g)
      |SELECT pair, n_occ, rk FROM r WHERE rk <= 20""".stripMargin

  // ---------------------------------------------------------------------
  // q83 — two-stage quantized retrieval (operators/Quantize
  // .pqSearchRefined): ADC top-20 shortlist, then exact L2 re-rank of
  // ONLY those 20 per probe — recall recovery with a bounded
  // full-precision read (|probes| x 20 rows, broadcast against the
  // scan). QuantizeSpec measures the recall gain over raw ADC (q78).
  // ---------------------------------------------------------------------
  private[graft] def q83PqRefine(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val books = Quantize.pqCodebooks(c, "vec_id", "embedding", m = 4, ksub = 16)
    val codes = Quantize.pqEncode(c, "vec_id", "embedding", books)
    Quantize.pqSearchRefined(codes, c, probes(spark, dir),
      shortlistK = 20, k = 5, books)
  }

  private[graft] val q83Sql =
    s"""WITH sub AS (SELECT unnest(generate_series(0, 3)) AS sub),
      |cb AS (SELECT s.sub, e.vec_id AS code, e.embedding AS cv
      |       FROM embeddings e CROSS JOIN sub s WHERE e.vec_id < 16),
      |enc AS (SELECT vec_id, sub, code FROM (
      |  SELECT x.vec_id, cb.sub, cb.code,
      |         ROW_NUMBER() OVER (PARTITION BY x.vec_id, cb.sub
      |           ORDER BY ${duckSubL2("x.embedding", "cb.cv", "cb.sub")}, cb.code) AS rn
      |  FROM embeddings x CROSS JOIN cb) WHERE rn = 1),
      |dt AS (SELECT p.vec_id AS probe_id, cb.sub, cb.code,
      |         ${duckSubL2("p.embedding", "cb.cv", "cb.sub")} AS d
      |       FROM embeddings p CROSS JOIN cb WHERE p.vec_id < 3),
      |s AS (SELECT dt.probe_id, enc.vec_id,
      |        SUM(CASE WHEN dt.sub = 0 THEN d END) + SUM(CASE WHEN dt.sub = 1 THEN d END)
      |        + SUM(CASE WHEN dt.sub = 2 THEN d END) + SUM(CASE WHEN dt.sub = 3 THEN d END) AS adist
      |      FROM enc JOIN dt ON enc.sub = dt.sub AND enc.code = dt.code
      |      WHERE enc.vec_id <> dt.probe_id GROUP BY 1, 2),
      |sl AS (SELECT probe_id, vec_id FROM (
      |  SELECT probe_id, vec_id,
      |         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS rn
      |  FROM s) WHERE rn <= 20),
      |rf AS (SELECT sl.probe_id, sl.vec_id,
      |         ${duckL2Full("p.embedding", "e.embedding")} AS l2
      |       FROM sl JOIN embeddings p ON p.vec_id = sl.probe_id
      |            JOIN embeddings e ON e.vec_id = sl.vec_id),
      |r AS (SELECT probe_id, vec_id, l2,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY l2, vec_id) AS BIGINT) AS rn
      |      FROM rf)
      |SELECT probe_id, vec_id, l2, rn FROM r WHERE rn <= 5""".stripMargin

  // ---------------------------------------------------------------------
  // q84 — cross-modal manifest: the corpus that survives BOTH text-side
  // transitive near-dup collapse (q52's connected-components keepers)
  // AND embedding-side semantic dedup (q74's SemDeDup keepers), joined
  // on doc_id = vec_id. One oracle certifies the recursive-CTE closure,
  // the IVF assignment, the within-cell pair search, and the join
  // end-to-end — the "text dedup alone is not enough" curation step.
  // ---------------------------------------------------------------------
  private[graft] def q84CrossModalManifest(spark: SparkSession, dir: String): DataFrame = {
    val textKeep = q52TransitiveDedupKeep(spark, dir)
    val semKeep = q74SemanticDedup(spark, dir)
      .filter(col("keep")).select(col("vec_id").as("doc_id"))
    textKeep.join(semKeep, Seq("doc_id"))
  }

  private[graft] val q84Sql =
    s"""$q48Closure,
      |tkeep AS (SELECT v AS doc_id FROM r GROUP BY v HAVING v = MIN(l)),
      |cc AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 8),
      |ca2 AS (SELECT vec_id, embedding, cell FROM (
      |  SELECT e2.vec_id, e2.embedding, cc.cell,
      |         ROW_NUMBER() OVER (PARTITION BY e2.vec_id
      |           ORDER BY ${duckCosine("e2.embedding", "ce")} DESC, cc.cell) AS crn
      |  FROM embeddings e2 CROSS JOIN cc) WHERE crn = 1),
      |sdup AS (SELECT DISTINCT b.vec_id FROM ca2 a JOIN ca2 b
      |         ON a.cell = b.cell AND a.vec_id < b.vec_id
      |         WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.4)
      |SELECT tkeep.doc_id FROM tkeep
      |JOIN ca2 ON ca2.vec_id = tkeep.doc_id
      |LEFT JOIN sdup ON sdup.vec_id = tkeep.doc_id
      |WHERE sdup.vec_id IS NULL""".stripMargin

  // ---------------------------------------------------------------------
  // q85 — incremental semantic dedup (operators/Similarity
  // .semanticDedupIncremental): which batch embeddings already have a
  // semantic near-dup in the corpus — the embedding-side sibling of
  // q61/q68's text-side delta probe. Batch side broadcasts; the corpus
  // never shuffles and never self-joins.
  // ---------------------------------------------------------------------
  private[graft] def q85IncrementalSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = corpus(spark, dir)
    val slice = pmod(Dedup.baseHash32(col("vec_id").cast("string")), lit(10))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("ce"))
    Similarity.semanticDedupIncremental(
      corpus = e.filter(slice =!= 0), batch = e.filter(slice === 0),
      cents = cents, threshold = 0.35)
  }

  private[graft] val q85Sql =
    s"""WITH c AS (SELECT vec_id AS cell, embedding AS ce FROM embeddings WHERE vec_id < 8),
      |a AS (SELECT vec_id, embedding,
      |        CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS sl
      |      FROM embeddings),
      |ca AS (SELECT vec_id, embedding, cell FROM (
      |  SELECT a.vec_id, a.embedding, c.cell,
      |         ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |           ORDER BY ${duckCosine("a.embedding", "ce")} DESC, c.cell) AS crn
      |  FROM a CROSS JOIN c WHERE a.sl <> 0) WHERE crn = 1),
      |ba AS (SELECT vec_id, embedding, cell FROM (
      |  SELECT a.vec_id, a.embedding, c.cell,
      |         ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |           ORDER BY ${duckCosine("a.embedding", "ce")} DESC, c.cell) AS crn
      |  FROM a CROSS JOIN c WHERE a.sl = 0) WHERE crn = 1)
      |SELECT vec_id, dup_of, cosine FROM (
      |  SELECT ba.vec_id, ca.vec_id AS dup_of,
      |         ${duckCosine("ba.embedding", "ca.embedding")} AS cosine
      |  FROM ca JOIN ba ON ca.cell = ba.cell)
      |WHERE cosine >= 0.35""".stripMargin

  // ---------------------------------------------------------------------
  // q86 — tokenizer vocabulary build (operators/CorpusStats.buildVocab):
  // frequency-filtered tokens with contiguous frequency-ranked ids —
  // the vocab artifact every tokenizer assumes, computed as the banded
  // two-phase global rank (no global sort; nothing collected).
  // ---------------------------------------------------------------------
  private[graft] def q86BuildVocab(spark: SparkSession, dir: String): DataFrame =
    CorpusStats.buildVocab(Tables.documents(spark, dir), "text", minCount = 5L)

  private[graft] val q86Sql =
    """WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
      |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_occ FROM t GROUP BY 1 HAVING count(*) >= 5)
      |SELECT tok AS token, n_occ,
      |  CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, tok) - 1 AS BIGINT) AS token_id
      |FROM c""".stripMargin

  // ---------------------------------------------------------------------
  // q87 — top-N-by-score per group (operators/Sampling
  // .topPerGroupByScore): the 10 longest documents per source (long-
  // context mining) — score-ordered sibling of q53's hash cap, banded by
  // score bit length so no full-group window ever forms.
  // ---------------------------------------------------------------------
  private[graft] def q87LongestPerSource(spark: SparkSession, dir: String): DataFrame =
    Sampling.topPerGroupByScore(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", "source", "n_chars", n = 10)

  private[graft] val q87Sql =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |           ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // q88 — fuzzy decontamination (operators/Scrub.fuzzyDecontaminate):
  // train docs within 30% edit distance of an eval doc, candidates
  // blocked by shared 5-gram shingles — catches paraphrased eval leaks
  // that q56's exact shingle overlap underweights. levenshtein has
  // identical integer semantics in both engines, so the oracle
  // certifies the distances themselves. The blocking stage runs with
  // the viral-shingle df cap ON (>10% of train docs, the q91-q93
  // convention) and the oracle applies the IDENTICAL cap, so the
  // hash also certifies the capped candidate universe.
  // ---------------------------------------------------------------------
  private[graft] def q88FuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Scrub.fuzzyDecontaminate(
      train = docs.filter(col("source") =!= "src0"),
      eval = docs.filter(col("source") === "src0"),
      idCol = "doc_id", textCol = "text", n = 5, maxDistBp = 3000L,
      maxShingleDfFrac = 0.1)
  }

  private[graft] val q88Sql =
    """WITH t AS (SELECT doc_id, source, text, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |sh AS (SELECT DISTINCT doc_id, source, sg FROM (
      |  SELECT doc_id, source, unnest(CASE WHEN len(tk) >= 5
      |    THEN list_transform(generate_series(1, len(tk)-4),
      |           i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4])
      |    ELSE [] END) AS sg FROM t)),
      |ev AS (SELECT doc_id AS eval_id, sg FROM sh WHERE source = 'src0'),
      |tr AS (SELECT doc_id, sg FROM sh WHERE source <> 'src0'),
      |nt AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents WHERE source <> 'src0'),
      |viral AS (SELECT sg FROM tr GROUP BY sg
      |          HAVING COUNT(*) > (SELECT ceil(n * 0.1) FROM nt)),
      |trc AS (SELECT doc_id, sg FROM tr WHERE sg NOT IN (SELECT sg FROM viral)),
      |cand AS (SELECT DISTINCT s.doc_id, e.eval_id
      |         FROM trc s JOIN ev e USING (sg)),
      |d AS (SELECT c.doc_id, c.eval_id,
      |        CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
      |        CAST(floor(levenshtein(a.text, b.text) * 10000 /
      |          greatest(len(a.text), len(b.text))) AS BIGINT) AS dist_bp
      |      FROM cand c JOIN documents a ON a.doc_id = c.doc_id
      |                  JOIN documents b ON b.doc_id = c.eval_id)
      |SELECT doc_id, eval_id, lev, dist_bp FROM d WHERE dist_bp <= 3000""".stripMargin

  // ---------------------------------------------------------------------
  // q89 — per-source length percentiles (operators/Percentiles.byRank,
  // the generalized q32/q47 engine on the curation domain): the
  // data-card length-distribution stat per source, exact nearest-rank
  // over a (source, n_chars) histogram — no per-row window, no sort.
  // ---------------------------------------------------------------------
  private[graft] def q89LengthPercentiles(spark: SparkSession, dir: String): DataFrame =
    Percentiles.byRank(Tables.documents(spark, dir), "source", "n_chars",
      Seq("p25_chars" -> 0.25, "p50_chars" -> 0.5,
        "p75_chars" -> 0.75, "p95_chars" -> 0.95))

  private[graft] val q89Sql =
    """WITH r AS (SELECT source, n_chars,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
      |        COUNT(*) OVER (PARTITION BY source) AS n
      |      FROM documents WHERE n_chars IS NOT NULL)
      |SELECT source,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.25) AS BIGINT) + 1 THEN n_chars END) AS p25_chars,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) + 1 THEN n_chars END) AS p50_chars,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.75) AS BIGINT) + 1 THEN n_chars END) AS p75_chars,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.95) AS BIGINT) + 1 THEN n_chars END) AS p95_chars,
      |  CAST(MAX(n) AS BIGINT) AS n_rows
      |FROM r GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q90 — vocabulary encode (operators/CorpusStats.encodeWithVocab):
  // q86's vocab applied back to the corpus — per-doc token/OOV counts
  // and an id-sum checksum that pins the id assignments end-to-end
  // (build + encode certified by one oracle). Vocabulary flows through
  // the token-keyed join, never broadcast.
  // ---------------------------------------------------------------------
  private[graft] def q90VocabEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    CorpusStats.encodeWithVocab(docs, "doc_id", "text",
      CorpusStats.buildVocab(docs, "text", minCount = 5L))
  }

  private[graft] val q90Sql =
    """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS n_occ FROM t GROUP BY 1 HAVING count(*) >= 5),
      |v AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, tok) - 1 AS BIGINT) AS token_id FROM c)
      |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(sum(coalesce(v.token_id, 0)) AS BIGINT) AS id_sum
      |FROM t LEFT JOIN v USING (tok)
      |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q91 — split-leakage report: near-duplicate pairs (q21's inverted-
  // index Jaccard) that STRADDLE a q62 split boundary — a near-dup of a
  // held-out document sitting in train is eval contamination that
  // document-level dedup alone won't surface if the pipeline splits
  // before deduplicating. Composes the pair operator with the split
  // labels; one oracle certifies pairs + labels + the straddle filter.
  // ---------------------------------------------------------------------
  private[graft] def q91SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // pairs served from the q48-family artifact (r16 pattern, extended
    // r20): q21 keeps the live certification of this exact builder
    // (n=3, t=0.5, frac=0.1); rebuilding it per diagnostic was ~1.7 s
    // of redundant shingle/join work per query at sf0.1 — production
    // reads the ingest-time pair table, exactly like q93 already does
    val pairs = textPairsArtifact(spark, dir)
    // labels computed ONCE PER DOC and joined ABOVE the pair
    // aggregation — inlining the md5 label expression on doc_a/doc_b
    // lets Catalyst push the straddle filter below the aggregate onto
    // the raw shingle-match rows, evaluating two md5s on tens of
    // millions of candidates instead of thousands of docs (measured
    // 6.9 s -> 0.9 s at sf0.1; same rows, same oracle). The label side
    // is deliberately NOT hint-broadcast: it is one row per document,
    // which at corpus scale is a table, not a literal — AQE broadcasts
    // the post-aggregation pair side (tiny) instead.
    val labels = docs.select(col("doc_id"),
      Sampling.splitLabel(col("doc_id"),
        Seq("val" -> 10, "test" -> 10), rest = "train").as("split"))
    pairs
      .join(labels.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(labels.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  private[graft] val q91Sql =
    s"""WITH $q21PairCtes,
      |p AS (SELECT x AS doc_a, y AS doc_b, c*1.0/(sa.s + sb.s - c) AS jaccard
      |      $q21PairJoin),
      |l AS (SELECT doc_a, doc_b, jaccard,
      |        CAST(('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS ha,
      |        CAST(('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS hb
      |      FROM p)
      |SELECT doc_a, doc_b, jaccard,
      |  CASE WHEN ha < 10 THEN 'val' WHEN ha < 20 THEN 'test' ELSE 'train' END AS split_a,
      |  CASE WHEN hb < 10 THEN 'val' WHEN hb < 20 THEN 'test' ELSE 'train' END AS split_b
      |FROM l
      |WHERE (CASE WHEN ha < 10 THEN 'val' WHEN ha < 20 THEN 'test' ELSE 'train' END)
      |   <> (CASE WHEN hb < 10 THEN 'val' WHEN hb < 20 THEN 'test' ELSE 'train' END)""".stripMargin

  // ---------------------------------------------------------------------
  // q92 — near-dup degree report: per document, how many near-duplicate
  // partners it has in the q21 pair graph (0 for most) — the dedup
  // diagnostic that separates a one-off copy from a template family
  // (high-degree nodes are boilerplate hubs; they also predict CC
  // fixpoint cost). Degree aggregation runs over the tiny pair set.
  // ---------------------------------------------------------------------
  private[graft] def q92DupDegree(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // served from the q48-family pairs artifact (the q91/q93 routing —
    // q21 stays the builder's live certification)
    val pairs = textPairsArtifact(spark, dir)
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    docs.select(col("doc_id")).join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("degree"), lit(0L)).as("degree"))
  }

  private[graft] val q92Sql =
    s"""WITH $q21PairCtes,
      |p AS (SELECT x, y
      |      $q21PairJoin),
      |d AS (SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
      |        SELECT x AS v FROM p UNION ALL SELECT y AS v FROM p) GROUP BY 1)
      |SELECT doc_id, CAST(coalesce(degree, 0) AS BIGINT) AS degree
      |FROM documents LEFT JOIN d USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // q93 — per-source dedup-rate report: what fraction of each source's
  // documents has at least one near-dup partner anywhere in the corpus
  // (integer basis points) — the "which feed is recycling content"
  // curation summary. Duplicated-id set and source labels both join
  // ABOVE the pair aggregation (the q91 lesson).
  // ---------------------------------------------------------------------
  private[graft] def q93SourceDupRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = textPairsArtifact(spark, dir) // serving path; q21 stays live
    val dup = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct().withColumn("__isdup", lit(1L))
    docs.select(col("doc_id"), col("source"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__isdup"), lit(0L))).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        floor(col("n_dup") * 10000 / col("n_docs")).cast("long").as("dup_bp"))
  }

  private[graft] val q93Sql =
    s"""WITH $q21PairCtes,
      |p AS (SELECT x, y
      |      $q21PairJoin),
      |d AS (SELECT DISTINCT v AS doc_id FROM (
      |        SELECT x AS v FROM p UNION ALL SELECT y AS v FROM p)),
      |j AS (SELECT source, documents.doc_id,
      |        CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS isdup
      |      FROM documents LEFT JOIN d ON documents.doc_id = d.doc_id)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(isdup) AS BIGINT) AS n_dup,
      |  CAST(floor(sum(isdup) * 10000 / count(*)) AS BIGINT) AS dup_bp
      |FROM j GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q94 — Zipf band histogram: token types and occurrence mass per
  // frequency bit-length band — the corpus-health sketch (a healthy
  // natural-language corpus shows the Zipf staircase; a synthetic or
  // template-heavy one shows a spike). Integer-exact: the band is the
  // binary-string length of the count in both dialects.
  // ---------------------------------------------------------------------
  private[graft] def q94ZipfBands(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .groupBy(length(bin(col("f"))).cast("long").as("freq_bits"))
      .agg(count(lit(1)).as("n_token_types"), sum(col("f")).as("total_occurrences"))

  private[graft] val q94Sql =
    """WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS f FROM t GROUP BY 1)
      |SELECT CAST(length(bin(f)) AS BIGINT) AS freq_bits,
      |  CAST(count(*) AS BIGINT) AS n_token_types,
      |  CAST(sum(f) AS BIGINT) AS total_occurrences
      |FROM c GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q95 — document novelty: the share of a document's distinct 3-gram
  // shingles that appear in NO other document (integer basis points) —
  // the informativeness signal dual to q73's boilerplate report (df-1
  // shingles are this document's unique content). One shingle-keyed df
  // aggregation + one per-doc aggregation; hashes shuffle, never text.
  // ---------------------------------------------------------------------
  private[graft] def q95Novelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the oracle groups by shingle TEXT; ShingleIndex's hash identity
    // stands in for it
    val sh = ShingleIndex.build(docs, Seq(col("doc_id")), col("text"), 3)
    sh.join(ShingleIndex.docFreq(sh), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        floor(col("n_unique") * 10000 / col("n_shingles")).cast("long")
          .as("novelty_bp"))
  }

  private[graft] val q95Sql =
    """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |sh AS (SELECT DISTINCT doc_id, sg FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
      |    THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [] END) AS sg FROM t)),
      |d AS (SELECT sg, count(*) AS df FROM sh GROUP BY 1)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  CAST(floor(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 10000 / count(*)) AS BIGINT) AS novelty_bp
      |FROM sh JOIN d USING (sg) GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q96 — duplicate-cluster size histogram: how many q48 components
  // have 1, 2, 3... members — the one-line answer to "is duplication a
  // few giant template families or many small copies", which decides
  // between span removal (q72) and doc dropping (q52). Two tiny
  // aggregations over the component labels.
  // ---------------------------------------------------------------------
  private[graft] def q96ClusterSizes(spark: SparkSession, dir: String): DataFrame =
    dedupClustersArtifact(spark, dir)
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  private[graft] val q96Sql =
    s"""$q48Closure,
      |m AS (SELECT v AS doc_id, MIN(l) AS component FROM r GROUP BY v),
      |s AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      |      FROM m GROUP BY 1)
      |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
      |FROM s GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q97 — per-source rarity percentiles: the Percentiles engine applied
  // to q58's integer rarity score keyed by source — "which feeds skew
  // gibberish-heavy" as exact distribution stats, not means. Composes
  // two operators; one oracle certifies the whole chain.
  // ---------------------------------------------------------------------
  private[graft] def q97SourceRarityPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rare = CorpusStats.rareTokenStats(docs, "doc_id", "text", rareBelow = 10L)
    val withSource = rare.join(docs.select(col("doc_id"), col("source")), "doc_id")
    Percentiles.byRank(withSource, "source", "rare_bp",
      Seq("p50_rare_bp" -> 0.5, "p95_rare_bp" -> 0.95))
  }

  private[graft] val q97Sql =
    """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
      |              FROM documents),
      |cf AS (SELECT tok, COUNT(*) AS cf FROM toks GROUP BY 1),
      |rb AS (SELECT doc_id,
      |         CAST(FLOOR(SUM(CASE WHEN cf < 10 THEN 1 ELSE 0 END) * 10000 / COUNT(*)) AS BIGINT) AS rare_bp
      |       FROM toks JOIN cf USING (tok) GROUP BY doc_id),
      |j AS (SELECT d.source, rb.rare_bp FROM rb JOIN documents d USING (doc_id)),
      |r AS (SELECT source, rare_bp,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY rare_bp) AS rn,
      |        COUNT(*) OVER (PARTITION BY source) AS n
      |      FROM j)
      |SELECT source,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) + 1 THEN rare_bp END) AS p50_rare_bp,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.95) AS BIGINT) + 1 THEN rare_bp END) AS p95_rare_bp,
      |  CAST(MAX(n) AS BIGINT) AS n_rows
      |FROM r GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q98 — PII audit rollup by source (q54's planted-pattern counts
  // aggregated per feed): the compliance summary a scrub pass reports —
  // which sources carry the PII burden. One map-side-combined
  // aggregation over codegen'd regex counts.
  // ---------------------------------------------------------------------
  private[graft] def q98PiiBySource(spark: SparkSession, dir: String): DataFrame = {
    val counts = Scrub.piiCounts(plantedPii).map { case (n, c) => c.as(n) }
    Tables.documents(spark, dir)
      .select(Seq(col("source")) ++ counts: _*)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("total_emails"),
        sum(col("n_ipv4")).as("total_ipv4"),
        sum(col("n_phones")).as("total_phones"))
  }

  private[graft] val q98Sql =
    s"""WITH p AS (SELECT source,
      |  $plantedPiiSql
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(t, '${Scrub.EmailPattern}'))) AS BIGINT) AS total_emails,
      |  CAST(sum(len(regexp_extract_all(t, '${Scrub.Ipv4Pattern}'))) AS BIGINT) AS total_ipv4,
      |  CAST(sum(len(regexp_extract_all(t, '${Scrub.PhonePattern}'))) AS BIGINT) AS total_phones
      |FROM p GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q99 — bucketed length percentiles (operators/Percentiles.byRank with
  // the `bucket` knob): q89's per-source length distribution with values
  // floored into 64-char buckets BEFORE the histogram — the bounded-state
  // path for unbounded domains (state per key = distinct BUCKETS, not
  // distinct values; the q47 latency-ms pattern applied to lengths).
  // Percentiles land on bucket boundaries, a documented resolution
  // trade; q89 (exact) is unchanged.
  // ---------------------------------------------------------------------
  private[graft] def q99LengthPercentilesBucketed(spark: SparkSession, dir: String): DataFrame =
    Percentiles.byRank(Tables.documents(spark, dir), "source", "n_chars",
      Seq("p25_bucket" -> 0.25, "p50_bucket" -> 0.5,
        "p75_bucket" -> 0.75, "p95_bucket" -> 0.95), bucket = 64L)

  private[graft] val q99Sql =
    """WITH b AS (SELECT source,
      |        CAST(floor(n_chars / 64) * 64 AS BIGINT) AS v
      |      FROM documents WHERE n_chars IS NOT NULL),
      |r AS (SELECT source, v,
      |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rn,
      |        COUNT(*) OVER (PARTITION BY source) AS n
      |      FROM b)
      |SELECT source,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.25) AS BIGINT) + 1 THEN v END) AS p25_bucket,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.5) AS BIGINT) + 1 THEN v END) AS p50_bucket,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.75) AS BIGINT) + 1 THEN v END) AS p75_bucket,
      |  MIN(CASE WHEN rn = CAST(floor((n-1) * 0.95) AS BIGINT) + 1 THEN v END) AS p95_bucket,
      |  CAST(MAX(n) AS BIGINT) AS n_rows
      |FROM r GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q100 — composite quality filter (operators/TextAnalysis.qualityGate):
  // the C4/Gopher-style curation gate as ONE integer-exact scan-level
  // predicate — length band, duplicate-token and top-token repetition
  // caps, stopword floor, all cross-multiplied (no float division), so
  // the entire pipeline is a single pushed-down filter over one scan
  // (no shuffle, no join; the plan audit pins filter-at-scan).
  // ---------------------------------------------------------------------
  private[graft] def q100QualityFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("__tk", TextAnalysis.tokens(col("text")))
      .filter(TextAnalysis.qualityGate(col("__tk"), minTokens = 20, maxTokens = 2000))
      .select(col("doc_id"), col("source"),
        size(col("__tk")).cast("long").as("n_tokens"))

  private[graft] val q100Sql =
    """WITH t AS (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |m AS (SELECT doc_id, source, len(tk) AS n, len(list_distinct(tk)) AS d,
      |        list_aggregate(list_transform(list_distinct(tk),
      |          u -> len(list_filter(tk, x -> x = u))), 'max') AS mx,
      |        len(list_filter(tk, x -> x IN ('the','and','of','to','in','a','is'))) AS stop
      |      FROM t)
      |SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens
      |FROM m
      |WHERE n >= 20 AND n <= 2000
      |  AND (n - d) * 10 < n * 6
      |  AND mx * 100 < n * 12
      |  AND stop * 20 >= n""".stripMargin

  // ---------------------------------------------------------------------
  // q101 — leakage-free splitting: train/val/test assignment hashed on
  // the q48 dedup-cluster COMPONENT instead of the document id, so every
  // near-duplicate chain lands in one split BY CONSTRUCTION — the
  // preventive counterpart of the q91 straddle report (which measures
  // exactly the leakage a per-doc split admits). Singleton components
  // (component = own id) hash identically to q62's per-doc split, so
  // only duplicate clusters move. Cost is the q48 fixpoint + one hash
  // projection; no additional shuffle beyond the closure itself.
  // ---------------------------------------------------------------------
  private[graft] def q101ClusterSplit(spark: SparkSession, dir: String): DataFrame =
    dedupClustersArtifact(spark, dir)
      .select(col("doc_id"),
        Sampling.splitLabel(col("component"),
          Seq("val" -> 10, "test" -> 10), rest = "train").as("split"))

  private[graft] val q101Sql =
    s"""$q48Closure,
      |comp AS (SELECT v AS doc_id, MIN(l) AS component FROM r GROUP BY v),
      |h AS (SELECT doc_id,
      |        CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS hv
      |      FROM comp)
      |SELECT doc_id,
      |  CASE WHEN hv < 10 THEN 'val' WHEN hv < 20 THEN 'test' ELSE 'train' END AS split
      |FROM h""".stripMargin

  // ---------------------------------------------------------------------
  // q102/q103 — REAL media codecs (operators/MediaCodec): PNG IHDR with
  // CRC verification, JPEG marker-segment walk to SOF0, WAV RIFF chunk
  // walk — replacing the synthetic GRFT container (q29–q31, kept as the
  // plumbing oracle) with parsers valid on any real file of these
  // formats. The encoder builds real format bytes deterministically
  // from (doc_id, text) and corrupts every 37th row format-specifically
  // (CRC flip / truncation / bad form type); the oracle recomputes every
  // header field and exact container byte count from doc_id + strlen —
  // a drift anywhere in the 3 binary layouts breaks the hash. q103 is
  // the decode-audit ledger: corrupt rows are dropped WITH a count,
  // never silently.
  // ---------------------------------------------------------------------
  private[graft] def realMediaOf(spark: SparkSession, dir: String) =
    MediaCodec.attachMedia(Tables.documents(spark, dir))

  private[graft] def q102MediaCodec(spark: SparkSession, dir: String): DataFrame =
    MediaCodec.extractMetadata(realMediaOf(spark, dir)).toDF()

  private[graft] val q102Sql =
    """WITH d AS (SELECT doc_id, strlen(text) AS pl FROM documents
      |           WHERE doc_id % 37 <> 0)
      |SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 64 + doc_id % 1024
      |                       WHEN 1 THEN 64 + (doc_id * 5) % 1024 END AS INTEGER) AS width,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 64 + (doc_id * 7) % 768
      |                       WHEN 1 THEN 64 + (doc_id * 3) % 1024 END AS INTEGER) AS height,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 8 + 8 * (doc_id % 2)
      |                       WHEN 1 THEN 8 ELSE 16 END AS INTEGER) AS bit_depth,
      |  CAST(CASE doc_id % 3 WHEN 2 THEN 1 + doc_id % 2 ELSE 3 END AS INTEGER) AS channels,
      |  CAST(CASE doc_id % 3 WHEN 2 THEN
      |         CASE (doc_id // 3) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 32000 END
      |       END AS INTEGER) AS sample_rate,
      |  CAST(CASE doc_id % 3 WHEN 2 THEN (pl * 1000) //
      |         ((CASE (doc_id // 3) % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 32000 END)
      |          * (1 + doc_id % 2) * 2)
      |       END AS BIGINT) AS duration_ms,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 57 + pl WHEN 1 THEN 45 + pl
      |       ELSE 44 + pl + pl % 2 END AS BIGINT) AS n_bytes
      |FROM d""".stripMargin

  private[graft] def q103MediaAudit(spark: SparkSession, dir: String): DataFrame =
    MediaCodec.audit(realMediaOf(spark, dir))

  private[graft] val q103Sql =
    """WITH s AS (SELECT
      |    CASE WHEN doc_id % 37 = 0 THEN 'corrupt'
      |         WHEN doc_id % 3 = 0 THEN 'png'
      |         WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS status,
      |    CASE WHEN doc_id % 37 = 0 AND doc_id % 3 = 1 THEN 10
      |         WHEN doc_id % 3 = 0 THEN 57 + strlen(text)
      |         WHEN doc_id % 3 = 1 THEN 45 + strlen(text)
      |         ELSE 44 + strlen(text) + strlen(text) % 2 END AS len
      |  FROM documents)
      |SELECT status, count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS n_bytes
      |FROM s GROUP BY status""".stripMargin

  // ---------------------------------------------------------------------
  // q104 — model-based quality score (TextAnalysis.bowScore): the
  // CCNet/GPT-3-style hashed bag-of-words linear classifier as a pure
  // scan-level expression — fixed-point literal weights, feature-hashed
  // token buckets, integer-exact banding by cross-multiplication (the
  // q100 discipline). The oracle interpolates the SAME Scala weight
  // list into its SQL, so the two sides cannot drift. Plan: one scan,
  // no shuffle/join (pinned in PlanAuditSpec).
  // ---------------------------------------------------------------------

  /** Fixed-point (×1000) weights for the q104 hashed BoW quality model,
    * 32 buckets — stands in for an offline-trained linear model shipped
    * with the job as a literal. */
  private[graft] val BowWeights: Seq[Int] = Seq(
    312, -184, 77, -451, 208, 129, -63, 540,
    -291, 18, 344, -127, 92, -385, 461, -22,
    153, -509, 276, 64, -148, 398, -236, 11,
    487, -73, 329, -412, 188, -57, 243, -316)
}
