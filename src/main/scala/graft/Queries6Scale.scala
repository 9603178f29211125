package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{HeavyHitters, Importance, MediaCodec, SetSimJoin, WordPiece}

/** Registry slice 6 (round 13): scale-pattern extensions — exact
  * prefix-filtered set-similarity join, count-min-sketch heavy hitters
  * with exact verification, the WordPiece tokenizer family, and DSIR
  * importance selection. See each operator's scaladoc for the 100 TB
  * story; correctness per the usual split (hash-exact DuckDB oracles
  * where SQL can express the op, spec-pinned rows-only where floats /
  * iterative argmax chains cannot). */
private[graft] trait Queries6Scale extends Queries5Tokenizer {

  // ---------------------------------------------------------------------
  // q142 — PPJoin: EXACT Jaccard-threshold pairs via prefix filtering
  // (operators/SetSimJoin). Same answer shape as q21's inverted-index
  // join (the oracle is the plain exact all-pairs SQL, no df cap —
  // prefix filtering needs none: viral shingles sort out of the
  // prefix), but the self-join input is the ~(1−t) prefix slice of
  // each set. Registered at t = 0.8, the operator's real operating
  // point (near-dup removal), where the prefix is ~20% of each set —
  // at t = 0.5 the prefix is half the set and the plain inverted
  // index wins (measured 13.2 s vs 8.3 s at sf0.1; 0.8 re-times at
  // ~3 s). Exactness is threshold-independent — the SetSimJoinSpec
  // property pins ppjoin == ngramJaccardPairs at 0.5 AND 0.8 on
  // random corpora; PlanAuditSpec pins never-BNLJ.
  // ---------------------------------------------------------------------
  private[graft] def q142Ppjoin(spark: SparkSession, dir: String): DataFrame =
    SetSimJoin.ppjoinPairs(Tables.documents(spark, dir), "doc_id", "text",
      n = 3, threshold = 0.8)

  private[graft] val q142Sql =
    """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS doc, sg FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
      |    THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [] END) AS sg FROM t)),
      |sz AS (SELECT doc, count(*) AS s FROM sh GROUP BY 1),
      |i AS (SELECT a.doc AS x, b.doc AS y, count(*) AS c
      |      FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc < b.doc GROUP BY 1, 2)
      |SELECT x AS doc_a, y AS doc_b, c*1.0/(sa.s + sb.s - c) AS jaccard
      |FROM i JOIN sz sa ON i.x = sa.doc JOIN sz sb ON i.y = sb.doc
      |WHERE c*1.0/(sa.s + sb.s - c) >= 0.8""".stripMargin

  // ---------------------------------------------------------------------
  // q148 — incremental PPJoin (operators/SetSimJoin.ppjoinProbe): the
  // q61 framing (a ~10% hash slice plays the new crawl batch) with the
  // prefix-filtered probe instead of the full inverted-index join —
  // batch×corpus candidates only, corpus df defines the shared prefix
  // order, never a corpus self-join. Hash-exact against the exact
  // batch×corpus Jaccard SQL at t = 0.8; the SetSimJoinSpec property
  // pins probe == incremental reference on random corpora.
  // ---------------------------------------------------------------------
  private[graft] def q148PpjoinProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val slice = pmod(graft.operators.Dedup.baseHash32(col("doc_id").cast("string")), lit(10))
    SetSimJoin.ppjoinProbe(
      corpus = docs.filter(slice =!= 0),
      batch = docs.filter(slice === 0),
      idCol = "doc_id", textCol = "text", n = 3, threshold = 0.8)
  }

  private[graft] val q148Sql =
    """WITH t AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS hv,
      |    list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS doc, hv, sg FROM (
      |  SELECT doc_id, hv, unnest(CASE WHEN len(tk) >= 3
      |    THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [] END) AS sg FROM t)),
      |sz AS (SELECT doc, count(*) AS s FROM sh GROUP BY 1),
      |i AS (SELECT b.doc AS x, c.doc AS y, count(*) AS cnt
      |      FROM sh b JOIN sh c ON b.sg = c.sg AND b.hv = 0 AND c.hv <> 0
      |      GROUP BY 1, 2)
      |SELECT x AS batch_doc, y AS corpus_doc,
      |  cnt*1.0/(sa.s + sb.s - cnt) AS jaccard
      |FROM i JOIN sz sa ON i.x = sa.doc JOIN sz sb ON i.y = sb.doc
      |WHERE cnt*1.0/(sa.s + sb.s - cnt) >= 0.8""".stripMargin

  // ---------------------------------------------------------------------
  // q143/q144 — count-min-sketch heavy hitters (operators/HeavyHitters).
  // The sketch is the scale artifact (fixed d×w grid, map-side combined,
  // additive); the final answer is EXACT — candidates are a CMS superset
  // (never-underestimate), the verify scan trims false positives — so
  // the plain HAVING query certifies it, sketch and all. q144 builds
  // per-source partial grids and MERGES them by cell addition (no
  // corpus rescan) before the same candidate/verify pattern.
  // ---------------------------------------------------------------------
  private[graft] def docTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("token"))

  private[graft] def q143HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    HeavyHitters.heavyHitters(docTokens(spark, dir).select(col("token")),
      "token", minFrac = 0.02)

  private[graft] val q143Sql =
    """WITH tok AS (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS token FROM documents),
      |tot AS (SELECT count(*) AS n FROM tok)
      |SELECT token, count(*) AS cnt FROM tok CROSS JOIN tot
      |GROUP BY token, n HAVING count(*) >= CEIL(n * 0.02)""".stripMargin

  private[graft] def q144HhBySource(spark: SparkSession, dir: String): DataFrame =
    HeavyHitters.heavyHittersBySource(docTokens(spark, dir), "token", "source",
      minFrac = 0.02)

  private[graft] val q144Sql =
    """WITH tok AS (SELECT source AS src, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS token FROM documents),
      |tot AS (SELECT count(*) AS n FROM tok),
      |ex AS (SELECT token, src, count(*) AS cnt FROM tok GROUP BY 1, 2),
      |hv AS (SELECT token FROM ex CROSS JOIN tot GROUP BY token, n
      |       HAVING sum(cnt) >= CEIL(n * 0.02))
      |SELECT token, src, cnt FROM ex JOIN hv USING (token)""".stripMargin

  // ---------------------------------------------------------------------
  // q145/q146 — WORDPIECE, the third tokenizer family (operators/
  // WordPiece): likelihood-scored merges (exact BigInt rational argmax)
  // over the bounded distinct-word ledger, greedy longest-match-first
  // encoding once per distinct word + 8-byte-hash join. Rows-only BY
  // DESIGN like the unigram family (q129/q139): the rational argmax
  // chain and the greedy matcher have no cross-engine SQL form;
  // WordPieceSpec pins trainer determinism + encode against brute-force
  // references on random corpora.
  // ---------------------------------------------------------------------
  private[graft] def q145WordpieceTrain(spark: SparkSession, dir: String): DataFrame =
    WordPiece.trainMerges(Tables.documents(spark, dir), "text", maxK = 48)

  private[graft] def q146WordpieceEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    WordPiece.encodedCounts(docs, "doc_id", "text", docs, "text", maxK = 48)
  }

  // ---------------------------------------------------------------------
  // q149 — containment pairs (operators/SetSimJoin.containmentPairs):
  // the quote/excerpt shape — inner ≥80% contained in outer — that a
  // symmetric Jaccard threshold cannot see. One-sided prefix economy
  // (inner prefixes × full outer index). Hash-exact vs the exact
  // asymmetric-overlap SQL.
  // ---------------------------------------------------------------------
  private[graft] def q149Containment(spark: SparkSession, dir: String): DataFrame =
    SetSimJoin.containmentPairs(Tables.documents(spark, dir), "doc_id", "text",
      n = 3, threshold = 0.8)

  private[graft] val q149Sql =
    """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS doc, sg FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
      |    THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [] END) AS sg FROM t)),
      |sz AS (SELECT doc, count(*) AS s FROM sh GROUP BY 1),
      |i AS (SELECT a.doc AS x, b.doc AS y, count(*) AS c
      |      FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc <> b.doc GROUP BY 1, 2)
      |SELECT x AS inner_doc, y AS outer_doc, c*1.0/sa.s AS containment
      |FROM i JOIN sz sa ON i.x = sa.doc
      |WHERE c >= CEIL(sa.s * 0.8)""".stripMargin

  // ---------------------------------------------------------------------
  // q151 — IVF index as a persisted ARTIFACT: build the q49 index
  // (first-8 centroids), write centroids + cell-partitioned postings to
  // parquet, reload, and SERVE the same multiprobe search from the
  // artifact. Certification: the roundtrip answer is byte-identical to
  // the in-memory path, so it registers against q49's own oracle — the
  // strongest possible persistence pin. The temp artifact lives under
  // java.io.tmpdir (construction writes it; bounded: the embeddings
  // table, once).
  // ---------------------------------------------------------------------
  private[graft] def q151IvfArtifact(spark: SparkSession, dir: String): DataFrame = {
    val out = scopedTempDir("graft_ivf_artifact")
    val corp = corpus(spark, dir)
    val cents = corp.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("ce"))
    graft.operators.Similarity.writeIvfIndex(corp, cents, out)
    graft.operators.Similarity.annFromIndex(spark, out, probes(spark, dir),
      k = 3, nprobe = 2)
  }

  // ---------------------------------------------------------------------
  // q152 — JSONL ingest with corrupt-record quarantine (sources/
  // JsonlIngest): the documents table round-trips through JSONL (the
  // LLM-corpus interchange format) with floor(n/100)+1 deterministic
  // malformed lines injected; the PERMISSIVE explicit-schema read
  // quarantines them into the audit ledger instead of failing the job
  // or silently dropping them. Hash-exact: per-source counts must
  // survive the round trip and the corrupt count must equal the
  // injection arithmetic.
  // ---------------------------------------------------------------------
  private[graft] def q152JsonlIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val out = scopedTempDir("graft_jsonl_ingest")
    val nNoise = (docs.count() / 100L + 1L).toInt
    graft.sources.JsonlIngest.writeJsonlWithNoise(docs, out,
      (0 until nNoise).map(i => s"""{"doc_id": $i, "text": unquoted-$i"""))
    val back = graft.sources.JsonlIngest.readPermissive(spark, out,
      docs.schema)
    graft.sources.JsonlIngest.audit(back, "source", "n_chars")
  }

  private[graft] val q152Sql =
    """SELECT source AS src, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1
      |UNION ALL
      |SELECT '__corrupt__' AS src,
      |  CAST(count(*) // 100 + 1 AS BIGINT) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_chars
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // q156 — join-key skew diagnostic (operators/SkewAgg.keySkewCard):
  // the pre-flight report run before committing a join/groupBy key at
  // scale — top hot keys with share, vs-mean ratio, and the salt
  // factor that would level each to the mean. One map-side-combined
  // key count + 1-row broadcast stats + TakeOrdered. Hash-exact.
  // ---------------------------------------------------------------------
  private[graft] def q156SkewCard(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SkewAgg.keySkewCard(Tables.events(spark, dir), "user_id",
      k = 10)

  private[graft] val q156Sql =
    """WITH c AS (SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1),
      |s AS (SELECT sum(n_rows) AS total, count(*) AS d FROM c)
      |SELECT user_id, n_rows,
      |  CAST(FLOOR(n_rows * 10000 / total) AS BIGINT) AS share_bp,
      |  CAST(FLOOR(n_rows * 100 * d / total) AS BIGINT) AS vs_mean_pct,
      |  CAST(CEIL(n_rows * d / total) AS BIGINT) AS suggested_salts
      |FROM c CROSS JOIN s
      |ORDER BY n_rows DESC, user_id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q155 — heavy hitters through the NATIVE CMS aggregate (functions/
  // CmsSketchAgg): per-source binary sketches via cms_sketch_agg,
  // merged with cms_merge_agg (one binary VALUE per group — the shape
  // the DataFrame cell-table path of q143/q144 cannot produce), then
  // the same candidates → exact-verify pattern with cms_estimate as
  // the codegen'd probe. Exists precisely to put the custom-aggregate
  // tier under the DuckDB gate: the final answer must STILL be
  // byte-identical to the exact HAVING query (never-underestimate ⇒
  // candidate superset ⇒ verify trims), so any drift in the native
  // update/merge/serialize path fails the oracle. Threshold 0.03 vs
  // q143's 0.02 keeps the two registrations' answers distinct.
  // ---------------------------------------------------------------------
  private[graft] def q155CmsNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{CmsFunctions, CmsSketch}
    val toks = docTokens(spark, dir)
    val image = toks.groupBy(col("source"))
      .agg(CmsFunctions.cms_sketch_agg(col("token"), 4, 512).as("sk"))
      .agg(CmsFunctions.cms_merge_agg(col("sk")))
      .collect().head.getAs[Array[Byte]](0)
    val (_, w, cells) = CmsSketch.deserialize(image)
    val total = cells.view.slice(0, w).sum // depth-0 row = stream length
    val t = math.ceil(total * 0.03).toLong
    val cand = toks.select(col("token"))
      .filter(CmsFunctions.cms_estimate(lit(image), col("token")) >= t)
      .distinct()
    toks.join(broadcast(cand), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= t)
  }

  private[graft] val q155Sql =
    """WITH tok AS (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS token FROM documents),
      |tot AS (SELECT count(*) AS n FROM tok)
      |SELECT token, count(*) AS cnt FROM tok CROSS JOIN tot
      |GROUP BY token, n HAVING count(*) >= CEIL(n * 0.03)""".stripMargin

  // ---------------------------------------------------------------------
  // q153/q154 — AVI/RIFF container walk (operators/MediaCodec AVI
  // section): the LITTLE-endian RIFF sibling of the q125 ISO-BMFF walk,
  // with the two byte disciplines MP4 never exercises (LE sizes,
  // even-byte chunk padding excluded from the size). Deterministic-
  // encoder oracle: every field is arithmetic over (doc_id,
  // strlen(text)); every 59th doc carries the chunk-overrun corruption
  // and must drop (q153) / ledger as bad_riff (q154).
  // ---------------------------------------------------------------------
  private[graft] def q153AviMeta(spark: SparkSession, dir: String): DataFrame =
    MediaCodec.aviMetadata(
      MediaCodec.attachAvi(Tables.documents(spark, dir))).toDF()

  private[graft] val q153Sql =
    """WITH v AS (SELECT doc_id, strlen(text) AS len,
      |            1 + strlen(text) // 64 AS fr
      |       FROM documents WHERE doc_id % 59 <> 0)
      |SELECT doc_id,
      |  CAST(1 + doc_id % 2 AS INT) AS n_streams,
      |  CAST(fr AS BIGINT) AS total_frames,
      |  CAST(160 + doc_id % 1280 AS INT) AS width,
      |  CAST(120 + (doc_id * 7) % 720 AS INT) AS height,
      |  CAST(4 + 72*(fr-1) + 8 + len % 64 + (len % 64) % 2 AS BIGINT) AS movi_bytes,
      |  CAST(fr AS BIGINT) AS n_chunks,
      |  CAST(fr AS BIGINT) AS idx_entries
      |FROM v""".stripMargin

  private[graft] def q154AviAudit(spark: SparkSession, dir: String): DataFrame =
    MediaCodec.aviAudit(MediaCodec.attachAvi(Tables.documents(spark, dir)))

  private[graft] val q154Sql =
    """WITH v AS (SELECT
      |    CASE WHEN doc_id % 59 = 0 THEN 'bad_riff' ELSE 'avi' END AS status,
      |    strlen(text) AS len, 1 + strlen(text) // 64 AS fr,
      |    1 + doc_id % 2 AS st
      |  FROM documents)
      |SELECT status, count(*) AS n_docs,
      |  CAST(sum(12 + 8 + (4 + 64 + 124*st) + 8
      |    + (4 + 72*(fr-1) + 8 + len % 64 + (len % 64) % 2)
      |    + 8 + 16*fr) AS BIGINT) AS n_bytes
      |FROM v GROUP BY status""".stripMargin

  // ---------------------------------------------------------------------
  // q150 — tokenizer selection card: the three trained families (BPE,
  // unigram-LM, WordPiece) encoded over the same corpus, fertility
  // (pieces per 100 words, integer basis points) and OOV/UNK rates per
  // source — the comparison a team actually runs before freezing a
  // tokenizer. Composite-by-construction like q107/q111 (re-derives
  // the component pipelines; each component family is separately
  // certified by its own queries/specs). Rows-only: every component
  // tokenizer is rows-only.
  // ---------------------------------------------------------------------
  private[graft] def q150TokenizerCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // The three tokenizer legs share NOTHING until the final join, and
    // each trainer ends in a driver-side collect that leaves the
    // executors idle while the next family trains — so the legs run on
    // Par's pool and each leg pins its result with an eager
    // localCheckpoint (r20, guide §2.6 overlap independent jobs;
    // measured 3.1 s serial → 1.9 s overlapped at sf0.1).
    // BPE: deep in-memory trainer + frozen-table apply — NOT the serial
    // distributed bpeTrainCore (32 driver round-trips; measured 3.5×
    // slower for this card at sf0.1)
    val Seq(bpe, uni, wp) = Par.eval[DataFrame](Seq(
      () => {
        val bpeMerges = graft.operators.CorpusStats
          .bpeTrainMergesDeep(docs, "text", maxK = 32)
        graft.operators.CorpusStats
          .bpeApplyMerges(docs, "doc_id", "text", bpeMerges)
          .select(col("doc_id"), col("n_words").as("bw"),
            col("n_bpe_tokens").as("bp"))
          .localCheckpoint()
      },
      () => {
        val pieces = graft.operators.UnigramLm.train(docs, "text",
          vocabSize = 256)
        graft.operators.UnigramLm
          .encodedCounts(docs, "doc_id", "text", pieces)
          .select(col("doc_id"), col("n_pieces").as("up"),
            col("n_oov").as("uo"))
          .localCheckpoint()
      },
      () => graft.operators.WordPiece
        .encodedCounts(docs, "doc_id", "text", docs, "text", maxK = 32)
        .select(col("doc_id"), col("n_pieces").as("wp"),
          col("n_unk_words").as("wu"))
        .localCheckpoint()))
    docs.select(col("doc_id"), col("source"))
      .join(bpe, "doc_id").join(uni, "doc_id").join(wp, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bw")).as("n_words"),
        floor(sum(col("bp")) * 100 / sum(col("bw"))).as("bpe_per_100w"),
        floor(sum(col("up")) * 100 / sum(col("bw"))).as("unigram_per_100w"),
        floor(sum(col("wp")) * 100 / sum(col("bw"))).as("wordpiece_per_100w"),
        floor(sum(col("uo")) * 10000 / sum(col("bw"))).as("unigram_oov_bp"),
        floor(sum(col("wu")) * 10000 / sum(col("bw"))).as("wordpiece_unk_bp"))
  }

  // ---------------------------------------------------------------------
  // q147 — DSIR importance selection (operators/Importance): hashed-
  // unigram log-likelihood-ratio scores against the English slice as
  // the target distribution, deterministic top-k. HASH-EXACT since r14
  // via the quantized-integer path (Importance.dsirSelectMicro): libm
  // ln is transcendental — floor(1e6·ln(x)) can disagree across
  // implementations at floor boundaries, and comparing Π(t/r)^c as
  // exact rationals overflows any fixed width — so the score replaces
  // ln with ilog2Micro, a 20-step truncating square-and-compare
  // fixed-point iteration in pure 64-bit integers that BOTH engines
  // replay bit-identically (the oracle's recursive CTE runs the same
  // iteration; md5 bucketing replaces xxhash64 for the same reason).
  // This integer path is Importance's only DSIR scorer.
  // ---------------------------------------------------------------------
  private[graft] def q147DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Importance.dsirSelectMicro(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text", k = 100, buckets = 4096)
  }

  private[graft] val q147Sql =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents),
      |tb AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) % 4096 AS b
      |  FROM tok, LATERAL UNNEST(tk) AS t(tok)),
      |rawc AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY 1),
      |tgtc AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tb
      |         WHERE lang = 'en' GROUP BY 1),
      |tots AS (SELECT (SELECT COALESCE(sum(c), 0) FROM rawc) + 4096 AS rtot,
      |                (SELECT COALESCE(sum(c), 0) FROM tgtc) + 4096 AS ttot),
      |vals AS (
      |  SELECT DISTINCT v FROM (
      |    SELECT c + 1 AS v FROM rawc UNION ALL SELECT c + 1 FROM tgtc
      |    UNION ALL SELECT rtot FROM tots UNION ALL SELECT ttot FROM tots
      |    UNION ALL SELECT 1)),
      |ipt AS (SELECT v, (SELECT max(e) FROM range(63) t(e)
      |                   WHERE (v >> CAST(e AS INT)) >= 1) AS ip FROM vals),
      |fx(v, ip, x, acc, i) AS (
      |  SELECT v, ip,
      |    CAST(CASE WHEN ip <= 30 THEN v << CAST(30 - ip AS INT)
      |              ELSE v >> CAST(ip - 30 AS INT) END AS BIGINT),
      |    CAST(0 AS BIGINT), 0 FROM ipt
      |  UNION ALL
      |  SELECT v, ip,
      |    CASE WHEN ((x*x) >> 30) >= 2147483648 THEN ((x*x) >> 30) >> 1
      |         ELSE (x*x) >> 30 END,
      |    CASE WHEN ((x*x) >> 30) >= 2147483648 THEN (acc << 1) | 1
      |         ELSE acc << 1 END,
      |    i + 1 FROM fx WHERE i < 20),
      |ilog AS (SELECT v, (CAST(ip AS BIGINT) << 20) + acc AS lm
      |         FROM fx WHERE i = 20),
      |konst AS (SELECT
      |    (SELECT lm FROM ilog, tots WHERE v = rtot)
      |  - (SELECT lm FROM ilog, tots WHERE v = ttot) AS k0),
      |lr AS (
      |  SELECT CAST(g.b AS BIGINT) AS b,
      |    (SELECT lm FROM ilog WHERE v = COALESCE(t.c, 0) + 1)
      |  - (SELECT lm FROM ilog WHERE v = COALESCE(r.c, 0) + 1)
      |  + (SELECT k0 FROM konst) AS lrm
      |  FROM range(4096) g(b)
      |  LEFT JOIN tgtc t ON t.b = g.b
      |  LEFT JOIN rawc r ON r.b = g.b),
      |sc AS (
      |  SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS nt,
      |    CAST(sum(lr.lrm) AS BIGINT) AS s
      |  FROM tb JOIN lr ON lr.b = tb.b GROUP BY 1)
      |SELECT d.doc_id, COALESCE(sc.nt, 0) AS n_tokens,
      |  COALESCE(sc.s, 0) AS score_micro
      |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
      |ORDER BY score_micro DESC, d.doc_id
      |LIMIT 100""".stripMargin
}
