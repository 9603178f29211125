package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Warc

/** Registry slice 11 (round 14): ingest-format codecs beyond the media
  * containers — WARC, the archive format web-scale corpora actually
  * arrive in. Certification follows the deterministic-encoder pattern:
  * the oracle replays every length census arithmetically from strlen,
  * pinning the byte layout (Content-Length digits included), and the
  * parser must hand back the original text bit-for-bit. */
private[graft] trait Queries11Formats extends Queries10Information {

  // ---------------------------------------------------------------------
  // q247 — WARC parse (operators/Warc): two-record request+response
  // archive per document; the Content-Length-hopping walk must recover
  // URI, HTTP status, content type and the EXACT body, and the total
  // archive length census pins the encoder layout arithmetically
  // (digit counts of the Content-Length values included — the
  // strongest layout certificate in the codec family).
  // ---------------------------------------------------------------------
  private[graft] def q247WarcParse(spark: SparkSession, dir: String): DataFrame =
    Warc.parseColumns(Warc.attachArchives(Tables.documents(spark, dir)))
      .select(col("doc_id"), col("n_records"), col("uri"),
        col("http_status"), col("content_type"),
        length(col("body")).cast("int").as("body_len"),
        md5(col("body")).as("body_md5"), col("warc_len"))

  private[graft] val q247Sql =
    """WITH c AS (SELECT doc_id, source, text,
      |    strlen(CAST(doc_id AS VARCHAR)) AS d, strlen(source) AS s,
      |    strlen(text) AS t FROM documents),
      |l AS (SELECT *, 30 + d + s AS cl1,
      |    63 + strlen(CAST(t AS VARCHAR)) + t AS cl2 FROM c)
      |SELECT doc_id, CAST(2 AS INT) AS n_records,
      |  'http://' || source || '/doc/' || doc_id AS uri,
      |  CAST(200 AS INT) AS http_status,
      |  'text/plain' AS content_type,
      |  CAST(t AS INT) AS body_len,
      |  md5(text) AS body_md5,
      |  CAST(264 + 3*s + 3*d + strlen(CAST(cl1 AS VARCHAR))
      |    + strlen(CAST(cl2 AS VARCHAR)) + strlen(CAST(t AS VARCHAR)) + t
      |    AS INT) AS warc_len
      |FROM l""".stripMargin

  // ---------------------------------------------------------------------
  // q248 — WARC tear audit: every 53rd archive cut at half (the
  // interrupted-transfer case). Complete records ahead of the tear are
  // KEPT — the request record survives whenever the half-cut clears
  // record 1, which the oracle decides arithmetically — but a torn
  // archive certifies no body chars (the response is always the torn
  // record under a half-cut, since record 1 is a strict prefix of
  // half the archive only when the cut clears it).
  // ---------------------------------------------------------------------
  private[graft] def q248WarcAudit(spark: SparkSession, dir: String): DataFrame =
    Warc.audit(Warc.parseColumns(
      Warc.attachArchives(Tables.documents(spark, dir), truncateEvery = 53)))

  private[graft] val q248Sql =
    """WITH c AS (SELECT doc_id, source, text,
      |    strlen(CAST(doc_id AS VARCHAR)) AS d, strlen(source) AS s,
      |    strlen(text) AS t FROM documents),
      |l AS (SELECT *, 30 + d + s AS cl1,
      |    63 + strlen(CAST(t AS VARCHAR)) + t AS cl2 FROM c),
      |w AS (SELECT *, 264 + 3*s + 3*d + strlen(CAST(cl1 AS VARCHAR))
      |    + strlen(CAST(cl2 AS VARCHAR)) + strlen(CAST(t AS VARCHAR)) + t
      |      AS wl,
      |    115 + 2*s + 2*d + strlen(CAST(cl1 AS VARCHAR)) AS r1 FROM l)
      |SELECT source, 'warc_ok' AS status, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(2 * count(*) AS BIGINT) AS n_records_kept,
      |  CAST(sum(t) AS BIGINT) AS body_chars
      |FROM w WHERE doc_id % 53 <> 0 GROUP BY 1
      |UNION ALL
      |SELECT source, 'warc_torn', CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN wl // 2 >= r1 THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(0 AS BIGINT)
      |FROM w WHERE doc_id % 53 = 0 GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q252 — real-FILE WARC ingest (sources/WarcFiles): the crawl analogue
  // of the reference's socket source, and the missing end of q247/q248 —
  // a directory of .warc/.warc.gz FILES read via binaryFile (one file =
  // one task, the non-splittable-gzip crawl grain), each file audited
  // with the tear taxonomy: 16 clean (8 plain + 8 gzip), 2 torn plain
  // (last archive half-cut — complete records ahead of the tear kept),
  // 2 corrupt gzip (zeroed magic — decode fails, file COUNTED, never
  // thrown). Hash-exact: the oracle replays the bucketing (doc_id % 20),
  // the kept-record census (the q248 half-cut arithmetic on each
  // bucket's LAST archive) and the certified body volume from strlen.
  // ---------------------------------------------------------------------
  // fixture memoized per (JVM, sf dir) like the q253 pairs artifact
  // (r16, ADVICE): the archive-dir WRITE is a driver-side collect plus
  // local file I/O — fixture construction, not the WARC ingest path this
  // entry certifies — so the warm pass pays it once and every timed run
  // measures only readAudit; the dirs delete on JVM exit (scopedTempDir)
  private val warcFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def q252WarcFiles(spark: SparkSession, dir: String): DataFrame = {
    val out = warcFixtureDir.computeIfAbsent(dir, _ => {
      val d = scopedTempDir("graft_warc_files")
      graft.sources.WarcFiles.writeArchiveDir(
        Tables.documents(spark, dir), d)
      d
    })
    graft.sources.WarcFiles.readAudit(spark, out)
  }

  private[graft] val q252Sql =
    """WITH c AS (SELECT doc_id, source, text, doc_id % 20 AS f,
      |    strlen(CAST(doc_id AS VARCHAR)) AS d, strlen(source) AS s,
      |    strlen(text) AS t FROM documents),
      |l AS (SELECT *, 30 + d + s AS cl1,
      |    63 + strlen(CAST(t AS VARCHAR)) + t AS cl2 FROM c),
      |w AS (SELECT *, 264 + 3*s + 3*d + strlen(CAST(cl1 AS VARCHAR))
      |    + strlen(CAST(cl2 AS VARCHAR)) + strlen(CAST(t AS VARCHAR)) + t
      |      AS wl,
      |    115 + 2*s + 2*d + strlen(CAST(cl1 AS VARCHAR)) AS r1 FROM l),
      |ld AS (SELECT f, max(doc_id) AS last_id FROM w GROUP BY 1),
      |agg AS (SELECT w.f, count(*) AS n, sum(w.t) AS sum_t,
      |    max(CASE WHEN w.doc_id = ld.last_id THEN w.t END) AS t_last,
      |    max(CASE WHEN w.doc_id = ld.last_id THEN w.wl END) AS wl_last,
      |    max(CASE WHEN w.doc_id = ld.last_id THEN w.r1 END) AS r1_last
      |  FROM w JOIN ld ON w.f = ld.f GROUP BY 1)
      |SELECT 'part-' || CAST(f AS VARCHAR) ||
      |    (CASE WHEN f % 2 = 1 THEN '.warc.gz' ELSE '.warc' END) AS file,
      |  CASE WHEN f % 5 <> 0 THEN 'warc_ok'
      |       WHEN f % 2 = 1 THEN 'warc_corrupt' ELSE 'warc_torn' END AS status,
      |  CAST(CASE WHEN f % 5 <> 0 THEN 2 * n
      |       WHEN f % 2 = 1 THEN 0
      |       ELSE 2 * (n - 1) +
      |         (CASE WHEN wl_last // 2 >= r1_last THEN 1 ELSE 0 END)
      |       END AS INT) AS n_records,
      |  CAST(CASE WHEN f % 5 <> 0 THEN n WHEN f % 2 = 1 THEN 0
      |       ELSE n - 1 END AS INT) AS n_responses,
      |  CAST(CASE WHEN f % 5 <> 0 THEN sum_t WHEN f % 2 = 1 THEN 0
      |       ELSE sum_t - t_last END AS BIGINT) AS body_chars
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------------
  // q254 — crawl-to-corpus COMPOSITION: documents → HTML page
  // (HtmlExtract.encodePage) → archived as a text/html WARC response →
  // Content-Length record walk recovers the page → tag walker strips
  // boilerplate and recovers the ORIGINAL text bit-for-bit through BOTH
  // container layers (md5(extracted) == md5(text)) — the actual shape
  // of web-crawl training-data ingestion, certified end to end. One
  // linear narrow pipeline (three partition-local maps, no shuffle, no
  // checkpoint); the oracle reuses q161's page-structure arithmetic —
  // the composition cannot drift from the layers it composes.
  // ---------------------------------------------------------------------
  private[graft] def q254CrawlExtract(spark: SparkSession, dir: String): DataFrame =
    graft.operators.HtmlExtract.extractColumns(
        Warc.parseColumns(Warc.attachHtmlArchives(Tables.documents(spark, dir)))
          .select(col("doc_id"), col("source"), col("body").as("html")))
      .select(col("doc_id"), col("n_tags"), col("n_links"), col("n_pars"),
        length(col("body")).cast("int").as("text_len"),
        md5(col("body")).as("text_md5"))

  private[graft] val q254Sql =
    """WITH c AS (SELECT doc_id, strlen(text) AS len, md5(text) AS h,
      |    (strlen(text) + 79) // 80 AS p,
      |    2 + doc_id % 4 AS m,
      |    strlen(text) - 80 * ((strlen(text) + 79) // 80 - 1) AS last_len
      |  FROM documents),
      |i AS (SELECT *,
      |    (CASE WHEN p >= 2 THEN (p-2) // 3 + 1 ELSE 0 END)
      |    + (CASE WHEN (p-1) % 3 = 0 AND last_len >= 11 THEN 1 ELSE 0 END)
      |    AS inl
      |  FROM c)
      |SELECT doc_id,
      |  CAST(12 + m + p + inl AS INT) AS n_tags,
      |  CAST(4 + m + inl AS INT) AS n_links,
      |  CAST(p AS INT) AS n_pars,
      |  CAST(len AS INT) AS text_len,
      |  h AS text_md5
      |FROM i""".stripMargin

  // ---------------------------------------------------------------------
  // q255 — GPT-style concat-and-chunk packing (Packing.concatChunks):
  // per-source token streams cut every 512 tokens, documents spanning
  // chunk boundaries (the packing most LLM training actually runs; the
  // consumer masks cross-document attention). The assignment is a pure
  // function of the per-stream window cumsum — hash-exact against a
  // DuckDB cumsum + generate_series oracle — closing the gap q51's
  // partitioning-dependent first-fit leaves open (that one is rows-only
  // TERMINALLY; this sibling discipline is fully certifiable).
  // ---------------------------------------------------------------------
  private[graft] def q255ConcatPack(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.concatChunks(
      Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"),
          size(graft.operators.TextAnalysis.tokens(col("text")))
            .cast("long").as("n_toks")),
      "source", "doc_id", "n_toks", capacity = 512L)

  private[graft] val q255Sql =
    """WITH d AS (SELECT source AS stream, doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS n
      |  FROM documents),
      |o AS (SELECT *, CAST(COALESCE(SUM(n) OVER (PARTITION BY stream
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) AS BIGINT) AS s
      |  FROM d WHERE n > 0),
      |x AS (SELECT stream, doc_id, n, s,
      |    UNNEST(generate_series(s // 512, (s + n - 1) // 512)) AS k
      |  FROM o)
      |SELECT stream, CAST(k AS BIGINT) AS chunk_id, doc_id,
      |  CAST(GREATEST(s, k * 512) - k * 512 AS BIGINT) AS start_in_chunk,
      |  CAST(LEAST((k + 1) * 512, s + n) - GREATEST(k * 512, s) AS BIGINT)
      |    AS n_toks_in_chunk
      |FROM x""".stripMargin

  // ---------------------------------------------------------------------
  // q256 — INCREMENTAL closure maintenance (Dedup.incrementalComponents):
  // a daily drop (doc_id % 7 = 0) joins an already-labeled corpus; its
  // edges come from the delta-probe (incrementalJaccardPairs — the
  // corpus never self-joins) plus the delta's own tiny pair table, and
  // the labeling updates by contracting existing components to their
  // labels and running the fixpoint over the DELTA-SIZED reduced graph
  // only. Hash-exact against the FULL closure oracle over base ∪ delta —
  // the contraction law (min∘min = min over the union) is what the
  // oracle certifies. Edges run WITHOUT the df cap: a cap computed over
  // the base corpus could differ from one over the union, and the
  // incremental == full equality needs population-independent edges.
  // ---------------------------------------------------------------------
  // the base labeling AND the base shingle index are the STORED
  // artifacts an incremental round extends — production computed both
  // when the base corpus was admitted (Dedup.shingleIndex is exactly
  // this fixed-width frame). Memoized per (JVM, sf dir) like
  // the q253 pairs artifact: the bench warm pass pays the one-time
  // build, the timed runs measure the actual incremental work (delta
  // index + probe + delta pairs + reduced-graph fixpoint). r20: the
  // probe previously re-shingled the whole base corpus per timed run
  // (incrementalJaccardPairs tokenizes both sides); probing the stored
  // index via jaccardPairsAgainstIndex — the same candidate join over
  // pre-shingled frames, bit-identical pairs by construction — removes
  // the corpus re-tokenization from the incremental path, which is the
  // point of the incremental design at 100 TB.
  private val ccBaseArtifact =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def q256IncrementalClosure(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, dir)
    val base = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    val (labelsPath, idxPath) = ccBaseArtifact.computeIfAbsent(dir, _ => {
      val root = scopedTempDir("graft_cc_base")
      val idxOut = root + "/shingle_idx"
      val labelsOut = root + "/labels"
      // build the index once; the base labeling derives from the SAME
      // stored frame (jaccardPairsWithinIndex == ngramJaccardPairs'
      // tail), so the two artifacts can never disagree
      Dedup.shingleIndex(base, "doc_id", "text", n = 3)
        .write.mode("overwrite").parquet(idxOut)
      val baseIdx = spark.read.parquet(idxOut)
      val baseEdges = Dedup.jaccardPairsWithinIndex(baseIdx, threshold = 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      Dedup.connectedComponents(base.select(col("doc_id").as("id")),
          baseEdges)
        .write.mode("overwrite").parquet(labelsOut)
      (labelsOut, idxOut)
    })
    // ONE eager job in the incremental path: the delta's own shingle
    // index (delta-sized). Both pair legs consume it lazily — the
    // delta-vs-base probe against the stored corpus index and the
    // delta self-join — and materialize inside the fixpoint's first
    // action.
    val batchIdx = Dedup.shingleIndex(delta, "doc_id", "text", n = 3)
    val corpusIdx = spark.read.parquet(idxPath)
    val deltaBase = Dedup.jaccardPairsAgainstIndex(corpusIdx, batchIdx,
        threshold = 0.5)
      .select(col("batch_doc").as("src"), col("corpus_doc").as("dst"))
    val deltaDelta = Dedup.jaccardPairsWithinIndex(batchIdx, threshold = 0.5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    Dedup.incrementalComponents(spark.read.parquet(labelsPath),
        delta.select(col("doc_id").as("id")),
        deltaBase.unionByName(deltaDelta))
      .select(col("id").as("doc_id"), col("component"))
  }

  // ---------------------------------------------------------------------
  // q257 — WARC corpus EXTRACTION in the byte domain (r16): the serving
  // side q252's audit ledger doesn't provide — per-response-record rows
  // with bit-exact payload bytes (WarcFiles.readRecords), certified on
  // genuinely NON-ASCII payloads. Every document's text is prefixed
  // with 2-, 3- and 4-byte UTF-8 sequences (é → ☃ 🎉), archived as
  // UTF-8 BYTES (encodeArchiveBytes — Content-Length counts bytes, the
  // on-the-wire meaning), written through real .warc/.warc.gz files,
  // and read back through binaryFile + the byte walk. Hash-exact: Spark
  // md5(body bytes) must equal DuckDB md5(chr(...)||text) — DuckDB
  // hashes the UTF-8 encoding of its string, so the certificate fails
  // on any single corrupted payload byte (exactly what the previous
  // whole-file US_ASCII decode did to every non-ASCII byte).
  // ---------------------------------------------------------------------
  private val warcUtf8FixtureDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def q257WarcCorpus(spark: SparkSession, dir: String): DataFrame = {
    // é U+00E9 (2-byte), → U+2192 and ☃ U+2603 (3-byte), 🎉 U+1F389
    // (4-byte, surrogate pair in the JVM, chr(127881) in DuckDB)
    val prefix = "é→☃🎉 "
    val out = warcUtf8FixtureDir.computeIfAbsent(dir, _ => {
      val d = scopedTempDir("graft_warc_utf8")
      graft.sources.WarcFiles.writeUtf8ArchiveDir(
        Tables.documents(spark, dir).select(col("doc_id"), col("source"),
          concat(lit(prefix), col("text")).as("text")), d)
      d
    })
    graft.sources.WarcFiles.readRecords(spark, out)
      .select(
        substring_index(col("uri"), "/", -1).cast("long").as("doc_id"),
        md5(col("body")).as("body_md5"))
  }

  private[graft] val q257Sql =
    """SELECT doc_id,
      |  md5(chr(233)||chr(8594)||chr(9731)||chr(127881)||' '||text)
      |    AS body_md5
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // q258 — content-type DISPATCH over a multi-format crawl (r17, VERDICT
  // #8): the real Common Crawl front end. Documents are archived as a
  // MIXED corpus (doc_id % 4 → HTML page / PDF / plain text / unknown
  // binary) across 10 .warc/.warc.gz files with one torn file (f=0, a
  // sacrificial partial record appended — every real record still
  // serves) and one corrupt gzip (f=5 — serves nothing, its docs leave
  // the censuses). WarcFiles.dispatchRecords routes each served record's
  // payload to its format's extractor in ONE narrow pass; the result is
  // the per-format census (docs + certified extracted chars, raw bytes
  // for the unknown type) plus the per-status FILE census. Hash-exact:
  // the HTML/PDF extractors recover the original text exactly (q254's
  // md5 certificate / PdfExtract's roundtrip contract), so every census
  // is strlen arithmetic, and the file statuses replay from the bucket
  // residues.
  // ---------------------------------------------------------------------
  private val warcTypedFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The typed multi-format crawl fixture, memoized per (JVM, sf dir) —
    * shared by q258 (census) and q259 (the full corpus-build funnel). */
  private[graft] def q258FixtureDir(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    warcTypedFixtureDir.computeIfAbsent(dir, _ => {
      val d = scopedTempDir("graft_warc_typed")
      val rows = Tables.documents(spark, dir)
        .select(col("doc_id").cast("long"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
        .map { case (id, src, text) =>
          val (body, ct) = (id % 4) match {
            case 0 => (graft.operators.HtmlExtract.encodePage(id, text)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8),
              "text/html")
            case 1 => (graft.operators.PdfExtract.encodePdf(id, text),
              "application/pdf")
            case 2 => (text.getBytes(
              java.nio.charset.StandardCharsets.UTF_8), "text/plain")
            case _ => (text.getBytes(
              java.nio.charset.StandardCharsets.UTF_8),
              "application/octet-stream")
          }
          (id, src, body, ct)
        }
      graft.sources.WarcFiles.writeTypedArchiveDir(rows, d)
      d
    })
  }

  private[graft] def q258CrawlDispatch(spark: SparkSession, dir: String): DataFrame = {
    val out = q258FixtureDir(spark, dir)
    val census = graft.sources.WarcFiles
      .dispatchRecords(graft.sources.WarcFiles.readRecords(spark, out))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"))
    val statuses = graft.sources.WarcFiles.readAudit(spark, out)
      .groupBy(concat(lit("status_"), col("status")).as("format"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_chars", lit(0L))
    census.unionByName(statuses)
  }

  private[graft] val q258Sql =
    """WITH fs AS (SELECT DISTINCT doc_id % 10 AS f FROM documents)
      |SELECT CASE doc_id % 4 WHEN 0 THEN 'text/html'
      |    WHEN 1 THEN 'application/pdf' WHEN 2 THEN 'text/plain'
      |    ELSE 'application/octet-stream' END AS format,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id % 4 = 3 THEN strlen(text)
      |    ELSE length(text) END) AS BIGINT) AS n_chars
      |FROM documents WHERE doc_id % 10 <> 5 GROUP BY 1
      |UNION ALL
      |SELECT 'status_warc_ok', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
      |FROM fs WHERE f <> 0 AND f <> 5 GROUP BY 1
      |UNION ALL
      |SELECT 'status_warc_torn', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
      |FROM fs WHERE f = 0 GROUP BY 1
      |UNION ALL
      |SELECT 'status_warc_corrupt', CAST(count(*) AS BIGINT),
      |  CAST(0 AS BIGINT)
      |FROM fs WHERE f = 5 GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q259 — the full crawl→training-corpus funnel (r17): WARC bytes →
  // content-type dispatch (q258's fixture and routing) → text extraction
  // (WarcFiles.dispatchText — HTML/PDF/plain served as TEXT, binary
  // excluded) → the q100 quality gate → global exact dedup (md5, keep
  // min doc_id) → token counts → 512-token chunk budget, manifested per
  // source. The integration certificate the per-stage entries can't
  // give: every stage's count is pinned through the REAL byte-domain
  // ingest (torn file's records all serve, corrupt gzip's docs leave
  // every stage). Plan shape: ONE dispatch/extraction pass checkpointed
  // compact (the text never persists), one corpus shuffle (the dedup
  // groupBy on the text hash, map-side partial), then tiny per-source
  // aggregates joined broadcast — no window over the corpus, no join
  // before the aggregates. The chunk
  // count is ceil-division arithmetic on the surviving token sum
  // (q255 certifies the assignment itself; a manifest needs the count).
  // ---------------------------------------------------------------------
  private[graft] def q259CorpusBuild(spark: SparkSession, dir: String): DataFrame = {
    val out = q258FixtureDir(spark, dir)
    // NOT checkpointed: pinning the record frame would materialize the
    // archive (bodies + uris) in storage memory — the crawled census is
    // a cheap second scan, and the expensive half (extraction) runs
    // once via the compact flagged checkpoint below
    val recs = graft.sources.WarcFiles.readRecords(spark, out)
    val crawled = recs
      .select(substring_index(substring_index(col("uri"), "/", 3), "/", -1)
        .as("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_crawled"))
    // ONE dispatch/extraction pass: the quality verdict rides as a
    // nullable hash column and the frame checkpoints COMPACT (id,
    // source, hash, token count — the text never persists), so the
    // three downstream censuses re-read ~50 bytes/doc instead of
    // re-extracting the corpus (the naive three-consumer plan ran the
    // dispatch three times)
    val txt = graft.sources.WarcFiles.dispatchText(recs)
    val flagged = txt.filter(col("ok"))
      .withColumn("__tk", graft.operators.TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        when(graft.operators.TextAnalysis.qualityGate(col("__tk"),
          minTokens = 20, maxTokens = 2000), md5(col("text"))).as("__h"),
        size(col("__tk")).cast("long").as("n"))
      .localCheckpoint()
    val stageBySrc = flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_extracted"),
        count(col("__h")).as("docs_quality"))
    // the one corpus-sized exchange: min-doc-id per exact text hash
    // (partial aggregation map-side; min over a struct orders by the
    // leading doc_id, so the winner carries its own source and count)
    val uniq = flagged.filter(col("__h").isNotNull)
      .groupBy(col("__h"))
      .agg(min(struct(col("doc_id"), col("source"), col("n"))).as("w"))
      .select(col("w.source").as("source"), col("w.n").as("n"))
    val uniqBySrc = uniq.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_unique"), sum(col("n")).as("__toks"))
    crawled
      .join(stageBySrc, Seq("source"), "left")
      .join(uniqBySrc, Seq("source"), "left")
      .select(col("source"), col("docs_crawled"),
        coalesce(col("docs_extracted"), lit(0L)).as("docs_extracted"),
        coalesce(col("docs_quality"), lit(0L)).as("docs_quality"),
        coalesce(col("docs_unique"), lit(0L)).as("docs_unique"),
        coalesce(col("__toks"), lit(0L)).as("tokens"),
        ((coalesce(col("__toks"), lit(0L)) + lit(511L)) / lit(512L))
          .cast("long").as("n_chunks"))
  }

  private[graft] val q259Sql =
    """WITH served AS (SELECT doc_id, source, text FROM documents
      |  WHERE doc_id % 10 <> 5),
      |t AS (SELECT doc_id, source, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM served WHERE doc_id % 4 < 3),
      |m AS (SELECT doc_id, source, text, len(tk) AS n,
      |    len(list_distinct(tk)) AS d,
      |    list_aggregate(list_transform(list_distinct(tk),
      |      u -> len(list_filter(tk, x -> x = u))), 'max') AS mx,
      |    len(list_filter(tk,
      |      x -> x IN ('the','and','of','to','in','a','is'))) AS stop
      |  FROM t),
      |q AS (SELECT doc_id, source, text, n FROM m
      |  WHERE n >= 20 AND n <= 2000 AND (n - d) * 10 < n * 6
      |    AND mx * 100 < n * 12 AND stop * 20 >= n),
      |u AS (SELECT source, n FROM (SELECT source, n,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM q) WHERE rn = 1),
      |ac AS (SELECT source, count(*) AS docs_crawled FROM served GROUP BY 1),
      |ae AS (SELECT source, count(*) AS docs_extracted FROM t GROUP BY 1),
      |aq AS (SELECT source, count(*) AS docs_quality FROM q GROUP BY 1),
      |au AS (SELECT source, count(*) AS docs_unique, sum(n) AS toks
      |  FROM u GROUP BY 1)
      |SELECT ac.source, CAST(docs_crawled AS BIGINT) AS docs_crawled,
      |  CAST(COALESCE(docs_extracted, 0) AS BIGINT) AS docs_extracted,
      |  CAST(COALESCE(docs_quality, 0) AS BIGINT) AS docs_quality,
      |  CAST(COALESCE(docs_unique, 0) AS BIGINT) AS docs_unique,
      |  CAST(COALESCE(toks, 0) AS BIGINT) AS tokens,
      |  CAST((COALESCE(toks, 0) + 511) // 512 AS BIGINT) AS n_chunks
      |FROM ac LEFT JOIN ae ON ac.source = ae.source
      |  LEFT JOIN aq ON ac.source = aq.source
      |  LEFT JOIN au ON ac.source = au.source""".stripMargin

  private[graft] val q256Sql =
    """WITH RECURSIVE
      |t AS (SELECT doc_id, list_filter(string_split(text, ' '),
      |        x -> x <> '') AS tk FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS doc, sg FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
      |    THEN list_transform(generate_series(1, len(tk)-2),
      |           i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [] END) AS sg FROM t)),
      |sz AS (SELECT doc, count(*) AS s FROM sh GROUP BY 1),
      |i AS (SELECT a.doc AS x, b.doc AS y, count(*) AS c
      |      FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc < b.doc
      |      GROUP BY 1, 2),
      |p AS (SELECT x AS src, y AS dst
      |      FROM i JOIN sz sa ON i.x = sa.doc JOIN sz sb ON i.y = sb.doc
      |      WHERE c*1.0/(sa.s + sb.s - c) >= 0.5),
      |e AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
      |r(v, l) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, r.l FROM r JOIN e ON e.src = r.v WHERE r.l < e.dst)
      |SELECT v AS doc_id, MIN(l) AS component FROM r GROUP BY v""".stripMargin

  // ---------------------------------------------------------------------
  // q260 — MEDIA dispatch through MediaCodec sniffing (r17, VERDICT #8's
  // media arm; fixture WIDENED r18, VERDICT #6, to the FULL sniff
  // chain): a multimodal crawl fixture (doc_id % 8 → HTML / PDF / PNG /
  // JPEG / WAV / BMP / GIF / MP4 — every parser in the chain now has an
  // end-to-end census lane) served through WarcFiles.dispatchMedia —
  // image/audio/video records are sniffed by the magic-byte parser
  // chain (the bytes, not the declared type, are what certify) and
  // censused per (declared, sniffed, ok) with total bytes, total pixels
  // (images + video dims) and total duration (audio + video). Every
  // 31st media record DECLARES a plausible-but-wrong type (crawls lie)
  // — one lying pairing PER FORMAT (png↔jpeg, wav→mpeg, bmp↔gif,
  // mp4→webm), so each census row pairs the lie with the true sniffed
  // format. Media rows at doc_id % 37 == 0 are truncated to 8 bytes —
  // no parser accepts them (every minimum-header check exercised), so
  // they land as sniffed = '' / ok = 0 rows, never a crash. Hash-exact:
  // every dimension/duration/byte count replays from the q102/q117/q125
  // encoder arithmetic on (doc_id, strlen) residues; text-family
  // records yield NO row here (they are q258/q259's lanes — one record,
  // one lane).
  // ---------------------------------------------------------------------
  private val warcMediaFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def q260FixtureDir(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    warcMediaFixtureDir.computeIfAbsent(dir, _ => {
      val d = scopedTempDir("graft_warc_media")
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val rows = Tables.documents(spark, dir)
        .select(col("doc_id").cast("long"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
        .map { case (id, src, text) =>
          val tb = text.getBytes(utf8)
          def dmg(b: Array[Byte]): Array[Byte] =
            if (id % 37 == 0) b.take(8) else b
          // crawls LIE about media types: every 31st media record
          // declares a plausible-but-wrong type — the sniff census must
          // report the divergence, not trust the header
          def lie(honest: String, wrong: String): String =
            if (id % 31 == 0) wrong else honest
          val mc = graft.operators.MediaCodec
          val (body, ct) = (id % 8) match {
            case 0 => (graft.operators.HtmlExtract.encodePage(id, text)
              .getBytes(utf8), "text/html")
            case 1 => (graft.operators.PdfExtract.encodePdf(id, text),
              "application/pdf")
            case 2 => (dmg(mc.encodePng(id, tb)),
              lie("image/png", "image/jpeg"))
            case 3 => (dmg(mc.encodeJpeg(id, tb)),
              lie("image/jpeg", "image/png"))
            case 4 => (dmg(mc.encodeWav(id, tb)),
              lie("audio/wav", "audio/mpeg"))
            case 5 => (dmg(mc.encodeBmp(id, tb)),
              lie("image/bmp", "image/gif"))
            case 6 => (dmg(mc.encodeGif(id, tb)),
              lie("image/gif", "image/bmp"))
            case _ => (dmg(mc.encodeMp4(id, tb)),
              lie("video/mp4", "video/webm"))
          }
          (id, src, body, ct)
        }
      graft.sources.WarcFiles.writeTypedArchiveDir(rows, d, files = 4,
        tornFile = -1, corruptFile = -1)
      d
    })
  }

  private[graft] def q260MediaDispatch(spark: SparkSession, dir: String): DataFrame = {
    val out = q260FixtureDir(spark, dir)
    graft.sources.WarcFiles
      .dispatchMedia(graft.sources.WarcFiles.readRecords(spark, out))
      .groupBy(col("declared"), col("sniffed"), col("ok"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(coalesce(col("width").cast("long") * col("height"), lit(0L)))
          .as("px_total"),
        sum(coalesce(col("duration_ms"), lit(0L))).as("dur_ms_total"))
  }

  private[graft] val q260Sql =
    """WITH m AS (SELECT doc_id, strlen(text) AS pl, doc_id % 8 AS l,
      |    doc_id % 31 = 0 AS lying, doc_id % 37 = 0 AS corrupt
      |  FROM documents WHERE doc_id % 8 >= 2)
      |SELECT CASE WHEN lying THEN
      |    CASE l WHEN 2 THEN 'image/jpeg' WHEN 3 THEN 'image/png'
      |      WHEN 4 THEN 'audio/mpeg' WHEN 5 THEN 'image/gif'
      |      WHEN 6 THEN 'image/bmp' ELSE 'video/webm' END
      |  ELSE
      |    CASE l WHEN 2 THEN 'image/png' WHEN 3 THEN 'image/jpeg'
      |      WHEN 4 THEN 'audio/wav' WHEN 5 THEN 'image/bmp'
      |      WHEN 6 THEN 'image/gif' ELSE 'video/mp4' END
      |  END AS declared,
      |  CASE WHEN corrupt THEN ''
      |    ELSE CASE l WHEN 2 THEN 'png' WHEN 3 THEN 'jpeg'
      |      WHEN 4 THEN 'wav' WHEN 5 THEN 'bmp' WHEN 6 THEN 'gif'
      |      ELSE 'mp4' END END AS sniffed,
      |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS INTEGER) AS ok,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN corrupt THEN 8
      |    WHEN l = 2 THEN 57 + pl
      |    WHEN l = 3 THEN 45 + pl
      |    WHEN l = 4 THEN 44 + pl + pl % 2
      |    WHEN l = 5 THEN 54 + pl
      |    WHEN l = 6 THEN 14 + pl
      |    ELSE 148 + (1 + doc_id % 3) * 100 + pl END) AS BIGINT) AS n_bytes,
      |  CAST(sum(CASE WHEN corrupt THEN 0
      |    WHEN l = 2 THEN (64 + doc_id % 1024) * (64 + (doc_id * 7) % 768)
      |    WHEN l = 3
      |      THEN (64 + (doc_id * 5) % 1024) * (64 + (doc_id * 3) % 1024)
      |    WHEN l = 5 THEN (16 + doc_id % 512) * (16 + (doc_id * 3) % 512)
      |    WHEN l = 6 THEN (1 + doc_id % 640) * (1 + (doc_id * 11) % 480)
      |    WHEN l = 7
      |      THEN (160 + doc_id % 1280) * (120 + (doc_id * 7) % 720)
      |    ELSE 0 END) AS BIGINT) AS px_total,
      |  CAST(sum(CASE WHEN corrupt THEN 0
      |    WHEN l = 4 THEN (pl * 1000) //
      |      ((8000 << CAST((doc_id // 3) % 3 AS INTEGER))
      |        * (1 + doc_id % 2) * 2)
      |    WHEN l = 7 THEN pl
      |    ELSE 0 END) AS BIGINT) AS dur_ms_total
      |FROM m GROUP BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------------
  // q261 — multimodal training manifest (the capstone over q259/q260):
  // ONE crawl archive served through BOTH dispatch lanes — text records
  // extracted and token-counted, media records sniffed and measured —
  // joined into the per-source manifest a multimodal training run
  // actually consumes (text volume in tokens, media volume in assets /
  // bytes / pixels / milliseconds, damage counted). Plan shape: each
  // lane is one narrow archive pass feeding a tiny per-source
  // aggregate; the two aggregates join broadcast-small (|sources|
  // rows). Hash-exact: text tokens replay from the roundtrip-exact
  // extractors, media measures from the q102/q125 encoder arithmetic.
  // ---------------------------------------------------------------------
  private[graft] def q261MultimodalManifest(spark: SparkSession, dir: String): DataFrame = {
    val out = q260FixtureDir(spark, dir)
    val recs = graft.sources.WarcFiles.readRecords(spark, out)
    val text = graft.sources.WarcFiles.dispatchText(recs)
      .filter(col("ok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_text"),
        sum(size(graft.operators.TextAnalysis.tokens(col("text")))
          .cast("long")).as("tokens"))
    val media = graft.sources.WarcFiles.dispatchMedia(recs)
      .groupBy(col("source"))
      .agg(sum(col("ok").cast("long")).as("docs_media_ok"),
        sum(lit(1L) - col("ok").cast("long")).as("docs_media_bad"),
        sum(col("n_bytes")).as("media_bytes"),
        sum(coalesce(col("width").cast("long") * col("height"), lit(0L)))
          .as("px_total"),
        sum(coalesce(col("duration_ms"), lit(0L))).as("dur_ms_total"))
    text.join(media, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("docs_text"), lit(0L)).as("docs_text"),
        coalesce(col("tokens"), lit(0L)).as("tokens"),
        coalesce(col("docs_media_ok"), lit(0L)).as("docs_media_ok"),
        coalesce(col("docs_media_bad"), lit(0L)).as("docs_media_bad"),
        coalesce(col("media_bytes"), lit(0L)).as("media_bytes"),
        coalesce(col("px_total"), lit(0L)).as("px_total"),
        coalesce(col("dur_ms_total"), lit(0L)).as("dur_ms_total"))
  }

  // ---------------------------------------------------------------------
  // q263 — NEAR-DUP composed into the crawl funnel (r18, VERDICT #3):
  // q259 dedups exactly (md5) but not fuzzily; a production corpus
  // build runs near-dup after the exact stage. Same fixture and stages
  // as q259 (dispatch → extraction → quality gate → exact keep-min),
  // then MinHash-LSH candidate pairs over the exact winners (q26's
  // signatures/bands, threshold 0.5), exact-Jaccard verify, connected-
  // component closure (q48's fixpoint), keep-min per component, and the
  // per-source token/chunk manifest counting only the kept docs.
  //
  // Plan shape: STILL one extraction pass — the checkpoint additionally
  // carries the token ARRAY for quality survivors (nulls elsewhere), so
  // the near-dup stage shingles from the checkpoint instead of
  // re-walking the archive (minHashLshPairsOfTokens); candidates come
  // from band buckets (never an all-pairs join — PlanAuditSpec pins
  // both); the closure's fixpoint runs over the winner set only.
  // Hash-exact at both SFs: every stage nests an existing oracle (q259
  // funnel CTEs + q26 minhash CTEs at 0.5 + q48's recursive closure).
  // ---------------------------------------------------------------------
  private[graft] def q263CorpusNearDup(spark: SparkSession, dir: String): DataFrame = {
    val out = q258FixtureDir(spark, dir)
    val recs = graft.sources.WarcFiles.readRecords(spark, out)
    val txt = graft.sources.WarcFiles.dispatchText(recs)
    def gate(c: org.apache.spark.sql.Column) =
      graft.operators.TextAnalysis.qualityGate(c,
        minTokens = 20, maxTokens = 2000)
    val flagged = txt.filter(col("ok"))
      .withColumn("__tk0", graft.operators.TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        when(gate(col("__tk0")), md5(col("text"))).as("__h"),
        size(col("__tk0")).cast("long").as("n"),
        when(gate(col("__tk0")), col("__tk0")).as("__tk"))
      .localCheckpoint()
    // exact dedup keep-min — q259's one corpus shuffle
    val uniq = flagged.filter(col("__h").isNotNull)
      .groupBy(col("__h"))
      .agg(min(struct(col("doc_id"), col("source"), col("n"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.source").as("source"),
        col("w.n").as("n"))
      .localCheckpoint() // feeds winner restrict + CC seed + manifest
    val winnersTk = flagged
      .join(uniq.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("__tk"))
    val pairs = graft.operators.Dedup.minHashLshPairsOfTokens(
      winnersTk, "doc_id", "__tk", n = 3, rowsPerBand = 3, threshold = 0.5)
    val comp = graft.operators.Dedup.connectedComponents(
      uniq.select(col("doc_id").as("id")),
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    uniq.join(comp.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_exact"),
        sum(when(col("doc_id") === col("component"), 1L).otherwise(0L))
          .as("docs_kept"),
        sum(when(col("doc_id") === col("component"), col("n"))
          .otherwise(0L)).as("tokens_kept"))
      .select(col("source"), col("docs_exact"), col("docs_kept"),
        col("tokens_kept"),
        ((col("tokens_kept") + lit(511L)) / lit(512L)).cast("long")
          .as("n_chunks"))
  }

  private[graft] val q263Sql = {
    val p = graft.operators.Dedup.MinHashP
    val minExprs = graft.operators.Dedup.MinHashCoeffs.zipWithIndex
      .map { case ((a, b), i) => s"MIN((h*$a+$b)%$p) AS m$i" }
      .mkString(", ")
    val bandSelects =
      (0 until graft.operators.Dedup.MinHashCoeffs.length / 3).map { bi =>
        val cat = (0 until 3).map(j => s"CAST(m${bi * 3 + j} AS VARCHAR)")
          .mkString(" || ',' || ")
        s"SELECT doc, $bi AS band, $cat AS bv FROM sig"
      }.mkString(" UNION ALL ")
    s"""WITH RECURSIVE
      |served AS (SELECT doc_id, source, text FROM documents
      |  WHERE doc_id % 10 <> 5),
      |t AS (SELECT doc_id, source, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM served WHERE doc_id % 4 < 3),
      |m AS (SELECT doc_id, source, text, tk, len(tk) AS n,
      |    len(list_distinct(tk)) AS d,
      |    list_aggregate(list_transform(list_distinct(tk),
      |      u -> len(list_filter(tk, x -> x = u))), 'max') AS mx,
      |    len(list_filter(tk,
      |      x -> x IN ('the','and','of','to','in','a','is'))) AS stop
      |  FROM t),
      |q AS (SELECT doc_id, source, text, tk, n FROM m
      |  WHERE n >= 20 AND n <= 2000 AND (n - d) * 10 < n * 6
      |    AND mx * 100 < n * 12 AND stop * 20 >= n),
      |u AS (SELECT doc_id, source, tk, n FROM (SELECT doc_id, source, tk, n,
      |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |  FROM q) WHERE rn = 1),
      |shp AS (SELECT DISTINCT doc_id AS doc, sg FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
      |    THEN list_transform(generate_series(1, len(tk)-2),
      |           i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [] END) AS sg FROM u)),
      |hh AS (SELECT DISTINCT doc,
      |    CAST(('0x' || substr(md5(sg),1,15)) AS BIGINT) AS h FROM shp),
      |sig AS (SELECT doc, $minExprs
      |  FROM (SELECT doc, h % $p AS h FROM hh) GROUP BY doc),
      |bands AS ($bandSelects),
      |cand AS (SELECT DISTINCT a.doc AS x, b.doc AS y FROM bands a
      |  JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc < b.doc),
      |sz AS (SELECT doc, count(*) AS s FROM hh GROUP BY doc),
      |i AS (SELECT x, y, count(*) AS c FROM cand
      |  JOIN hh sa ON sa.doc = x JOIN hh sb ON sb.doc = y AND sa.h = sb.h
      |  GROUP BY x, y),
      |pp AS (SELECT x AS src, y AS dst
      |  FROM i JOIN sz za ON x = za.doc JOIN sz zb ON y = zb.doc
      |  WHERE c*1.0/(za.s + zb.s - c) >= 0.5),
      |e AS (SELECT src, dst FROM pp UNION ALL SELECT dst, src FROM pp),
      |r(v, l) AS (
      |  SELECT doc_id, doc_id FROM u
      |  UNION
      |  SELECT e.dst, r.l FROM r JOIN e ON e.src = r.v WHERE r.l < e.dst),
      |cc AS (SELECT v AS doc_id, MIN(l) AS component FROM r GROUP BY v)
      |SELECT u.source, CAST(count(*) AS BIGINT) AS docs_exact,
      |  CAST(sum(CASE WHEN u.doc_id = cc.component THEN 1 ELSE 0 END)
      |    AS BIGINT) AS docs_kept,
      |  CAST(sum(CASE WHEN u.doc_id = cc.component THEN u.n ELSE 0 END)
      |    AS BIGINT) AS tokens_kept,
      |  CAST((sum(CASE WHEN u.doc_id = cc.component THEN u.n ELSE 0 END)
      |    + 511) // 512 AS BIGINT) AS n_chunks
      |FROM u JOIN cc ON u.doc_id = cc.doc_id GROUP BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q262 — CHARSET-certified text dispatch (r18, VERDICT #1): a crawl
  // fixture whose text records declare the charsets a real crawl
  // carries (doc_id % 10 → latin-1 / windows-1252 / UTF-8 / a LYING
  // latin-1 declaration over UTF-8 bytes / a lying UTF-8 declaration
  // over latin-1 bytes / an unknown name / HTML whose charset rides a
  // <meta charset> tag with no transport param / three BOM lanes —
  // UTF-8, UTF-16LE, and a UTF-16BE BOM that BEATS a lying transport
  // declaration, the WHATWG precedence), each body prefixed with a
  // deterministic non-ASCII marker so the decode actually matters. WarcFiles.dispatchRecords routes every record through
  // TextCharsets: the census pins per (declared type, charset used,
  // decode class) counts and certified char volumes. The failure
  // classes are now COUNTED, not silently served: lane 4's malformed
  // UTF-8 lands as `replaced`, lane 5's unknown name as `fallback`.
  // Lane 3 documents the UNDETECTABLE lie — UTF-8 bytes declared
  // latin-1 decode without error to mojibake (latin-1 maps every byte),
  // so its census row is honest arithmetic over the wrong chars; no
  // engine can catch that class from bytes alone. Hash-exact: every
  // char count replays from strlen residues (the markers add +2/+3
  // chars by lane), and the HTML lane rides the q254 roundtrip-exact
  // extraction certificate.
  // ---------------------------------------------------------------------
  private val warcCharsetFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def q262FixtureDir(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    warcCharsetFixtureDir.computeIfAbsent(dir, _ => {
      val d = scopedTempDir("graft_warc_charset")
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
      val cp1252 = java.nio.charset.Charset.forName("windows-1252")
      val rows = Tables.documents(spark, dir)
        .select(col("doc_id").cast("long"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
        .map { case (id, src, text) =>
          val utf16le = java.nio.charset.StandardCharsets.UTF_16LE
          val utf16be = java.nio.charset.StandardCharsets.UTF_16BE
          val (body, ct) = (id % 10) match {
            case 0 => (("é " + text).getBytes(latin1),
              "text/plain; charset=iso-8859-1")
            case 1 => (("€ " + text).getBytes(cp1252),
              "text/plain; charset=windows-1252")
            case 2 => (("é☃ " + text).getBytes(utf8),
              "text/plain; charset=utf-8")
            case 3 => // the lie latin-1 cannot reject: UTF-8 bytes
              (("é " + text).getBytes(utf8),
                "text/plain; charset=ISO-8859-1")
            case 4 => // the lie UTF-8 DOES reject: 0xE9 is malformed
              (("é " + text).getBytes(latin1),
                "text/plain; charset=utf-8")
            case 5 => (("é " + text).getBytes(utf8),
              "text/plain; charset=x-unknown-cs")
            case 6 =>
              val page = graft.operators.HtmlExtract
                .encodePage(id, "é " + text)
                .replaceFirst("<head>",
                  "<head><meta charset=\"iso-8859-1\">")
              (page.getBytes(latin1), "text/html")
            // BOM lanes (WHATWG: BOM > transport > meta, stripped)
            case 7 => (Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
              ("é " + text).getBytes(utf8), "text/plain")
            case 8 => (Array(0xFF.toByte, 0xFE.toByte) ++
              ("é " + text).getBytes(utf16le), "text/plain")
            case _ => // BOM beats a LYING transport declaration
              (Array(0xFE.toByte, 0xFF.toByte) ++
                ("é " + text).getBytes(utf16be),
                "text/plain; charset=iso-8859-1")
          }
          (id, src, body, ct)
        }
      graft.sources.WarcFiles.writeTypedArchiveDir(rows, d, files = 4,
        tornFile = -1, corruptFile = -1)
      d
    })
  }

  private[graft] def q262CharsetDispatch(spark: SparkSession, dir: String): DataFrame = {
    val out = q262FixtureDir(spark, dir)
    graft.sources.WarcFiles
      .dispatchRecords(graft.sources.WarcFiles.readRecords(spark, out))
      .groupBy(col("format"), col("charset"), col("decode"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"))
  }

  private[graft] val q262Sql =
    """WITH m AS (SELECT doc_id % 10 AS lane, strlen(text) AS pl
      |  FROM documents)
      |SELECT CASE lane WHEN 0 THEN 'text/plain; charset=iso-8859-1'
      |    WHEN 1 THEN 'text/plain; charset=windows-1252'
      |    WHEN 2 THEN 'text/plain; charset=utf-8'
      |    WHEN 3 THEN 'text/plain; charset=ISO-8859-1'
      |    WHEN 4 THEN 'text/plain; charset=utf-8'
      |    WHEN 5 THEN 'text/plain; charset=x-unknown-cs'
      |    WHEN 6 THEN 'text/html'
      |    WHEN 9 THEN 'text/plain; charset=iso-8859-1'
      |    ELSE 'text/plain' END AS format,
      |  CASE lane WHEN 1 THEN 'windows-1252'
      |    WHEN 2 THEN 'utf-8' WHEN 4 THEN 'utf-8' WHEN 5 THEN 'utf-8'
      |    WHEN 7 THEN 'utf-8' WHEN 8 THEN 'utf-16le'
      |    WHEN 9 THEN 'utf-16be'
      |    ELSE 'iso-8859-1' END AS charset,
      |  CASE lane WHEN 4 THEN 'replaced' WHEN 5 THEN 'fallback'
      |    ELSE 'ok' END AS decode,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN lane = 2 OR lane = 3 THEN pl + 3
      |    ELSE pl + 2 END) AS BIGINT) AS n_chars
      |FROM m GROUP BY 1, 2, 3""".stripMargin

  private[graft] val q261Sql =
    """WITH t AS (SELECT source,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
      |  FROM documents WHERE doc_id % 8 < 2),
      |tt AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_text,
      |    CAST(sum(n) AS BIGINT) AS tokens FROM t GROUP BY 1),
      |m AS (SELECT source, doc_id, strlen(text) AS pl, doc_id % 8 AS l,
      |    doc_id % 37 = 0 AS corrupt
      |  FROM documents WHERE doc_id % 8 >= 2),
      |mm AS (SELECT source,
      |  CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT)
      |    AS docs_media_ok,
      |  CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
      |    AS docs_media_bad,
      |  CAST(sum(CASE WHEN corrupt THEN 8
      |    WHEN l = 2 THEN 57 + pl
      |    WHEN l = 3 THEN 45 + pl
      |    WHEN l = 4 THEN 44 + pl + pl % 2
      |    WHEN l = 5 THEN 54 + pl
      |    WHEN l = 6 THEN 14 + pl
      |    ELSE 148 + (1 + doc_id % 3) * 100 + pl END) AS BIGINT)
      |    AS media_bytes,
      |  CAST(sum(CASE WHEN corrupt THEN 0
      |    WHEN l = 2 THEN (64 + doc_id % 1024) * (64 + (doc_id * 7) % 768)
      |    WHEN l = 3
      |      THEN (64 + (doc_id * 5) % 1024) * (64 + (doc_id * 3) % 1024)
      |    WHEN l = 5 THEN (16 + doc_id % 512) * (16 + (doc_id * 3) % 512)
      |    WHEN l = 6 THEN (1 + doc_id % 640) * (1 + (doc_id * 11) % 480)
      |    WHEN l = 7
      |      THEN (160 + doc_id % 1280) * (120 + (doc_id * 7) % 720)
      |    ELSE 0 END) AS BIGINT) AS px_total,
      |  CAST(sum(CASE WHEN corrupt THEN 0
      |    WHEN l = 4 THEN (pl * 1000) //
      |      ((8000 << CAST((doc_id // 3) % 3 AS INTEGER))
      |        * (1 + doc_id % 2) * 2)
      |    WHEN l = 7 THEN pl
      |    ELSE 0 END) AS BIGINT) AS dur_ms_total
      |  FROM m GROUP BY 1)
      |SELECT COALESCE(tt.source, mm.source) AS source,
      |  COALESCE(docs_text, 0) AS docs_text,
      |  COALESCE(tokens, 0) AS tokens,
      |  COALESCE(docs_media_ok, 0) AS docs_media_ok,
      |  COALESCE(docs_media_bad, 0) AS docs_media_bad,
      |  COALESCE(media_bytes, 0) AS media_bytes,
      |  COALESCE(px_total, 0) AS px_total,
      |  COALESCE(dur_ms_total, 0) AS dur_ms_total
      |FROM tt FULL JOIN mm ON tt.source = mm.source""".stripMargin

  // ---------------------------------------------------------------------
  // q264 — HTTP body-encoding decode (r19, VERDICT #3): the WARC walks
  // previously served the bytes after CRLFCRLF as the body, so a
  // response carrying a chunked or gzip/deflate body — legal in WARC,
  // common in non-normalized crawls — served chunk-framing noise or
  // compressed bytes as "text", and the charset decode censused it as
  // `replaced` rather than as what it is. Fixture: doc_id % 8 →
  // identity / chunked / gzip / deflate / chunked+gzip (de-chunk THEN
  // gunzip, wire order) / malformed chunked (non-hex size line) /
  // lying gzip (raw bytes) / unsupported coding (br). The decode lives
  // in the shared record builder, so ALL THREE walks (whole-array,
  // bounded stream, char-domain excluded by its ASCII scope note) get
  // it; each failure class censuses with an EMPTY body — compressed
  // garbage never reaches a text decode. Hash-exact: good lanes must
  // recover the original bytes bit-for-bit (md5(body) == md5(text),
  // the q257 cross-engine certificate), bad lanes pin md5('') and 0
  // bytes.
  // ---------------------------------------------------------------------
  private val warcEncodedFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def q264FixtureDir(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    warcEncodedFixtureDir.computeIfAbsent(dir, _ => {
      val d = scopedTempDir("graft_warc_encoded")
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val ct = "text/plain; charset=utf-8"
      val rows = Tables.documents(spark, dir)
        .select(col("doc_id").cast("long"), col("source"), col("text"))
        .as[(Long, String, String)].collect().toSeq
        .map { case (id, src, text) =>
          val b = text.getBytes(utf8)
          val (body, headers) = (id % 8) match {
            case 0 => (b, Seq("Content-Type" -> ct,
              "Content-Length" -> b.length.toString))
            case 1 => (Warc.chunkEncode(b, 7),
              Seq("Content-Type" -> ct, "Transfer-Encoding" -> "chunked"))
            case 2 => (Warc.gzipEncode(b),
              Seq("Content-Type" -> ct, "Content-Encoding" -> "gzip"))
            case 3 => (Warc.deflateEncode(b),
              Seq("Content-Type" -> ct, "Content-Encoding" -> "deflate"))
            case 4 => (Warc.chunkEncode(Warc.gzipEncode(b), 11),
              Seq("Content-Type" -> ct, "Transfer-Encoding" -> "chunked",
                "Content-Encoding" -> "gzip"))
            case 5 => // declared chunked, framing garbage: non-hex size
              ("zz\r\n".getBytes(utf8) ++ b,
                Seq("Content-Type" -> ct, "Transfer-Encoding" -> "chunked"))
            case 6 => // declared gzip over raw bytes: magic check fails
              (b, Seq("Content-Type" -> ct, "Content-Encoding" -> "gzip"))
            case _ => // a coding this walk does not decode
              (b, Seq("Content-Type" -> ct, "Content-Encoding" -> "br"))
          }
          (id, src, body, headers)
        }
      graft.sources.WarcFiles.writeHttpArchiveDir(rows, d)
      d
    })
  }

  private[graft] def q264EncodedBodies(spark: SparkSession, dir: String): DataFrame = {
    val out = q264FixtureDir(spark, dir)
    graft.sources.WarcFiles.readRecords(spark, out)
      .select(
        coalesce(expr("try_cast(substring_index(uri, '/', -1) AS BIGINT)"),
          lit(-1L)).as("doc_id"),
        col("encoding"),
        md5(col("body")).as("body_md5"),
        length(col("body")).cast("long").as("n_bytes"))
  }

  private[graft] val q264Sql =
    """SELECT doc_id,
      |  CASE doc_id % 8 WHEN 0 THEN '' WHEN 1 THEN 'chunked'
      |    WHEN 2 THEN 'gzip' WHEN 3 THEN 'deflate'
      |    WHEN 4 THEN 'chunked+gzip' WHEN 5 THEN 'bad_chunked'
      |    WHEN 6 THEN 'bad_gzip' ELSE 'unsupported' END AS encoding,
      |  CASE WHEN doc_id % 8 <= 4 THEN md5(text) ELSE md5('') END
      |    AS body_md5,
      |  CAST(CASE WHEN doc_id % 8 <= 4 THEN strlen(text) ELSE 0 END
      |    AS BIGINT) AS n_bytes
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // q265 — REVISIT records as free dedup edges (r19, VERDICT #4): a
  // real crawl's refetch of an unchanged page stores a `revisit` marker
  // (WARC-Refers-To-Target-URI, identical-payload-digest profile)
  // instead of the body — the crawler ALREADY detected the duplicate,
  // so re-discovering it by hashing at corpus scale is the dominant
  // avoidable shuffle on refetch-heavy crawls. Fixture: every doc
  // serves once; each doc_id % 3 == 0 also gets a revisit at a shifted
  // URI referring back to it. The manifest consumes the edges directly:
  // stored docs count/measure from their bodies, revisits resolve
  // against the stored records by URI (a dangling edge would break the
  // census — resolution IS the certificate) and credit the bytes the
  // crawler saved; docs_unique comes from the resolved-target distinct,
  // exactly what the exact-dedup stage would have hash-discovered had
  // the bodies been stored. Plan shape: the revisit side is marker-
  // small (no bodies), so its join against the record frame broadcasts
  // at real scale — the corpus-sized hash shuffle is precisely what
  // this entry REMOVES.
  // ---------------------------------------------------------------------
  private val warcRevisitFixtureDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def q265RevisitDedup(spark: SparkSession, dir: String): DataFrame = {
    val out = warcRevisitFixtureDir.computeIfAbsent(dir, _ => {
      val d = scopedTempDir("graft_warc_revisit")
      graft.sources.WarcFiles.writeRevisitArchiveDir(
        Tables.documents(spark, dir), d)
      d
    })
    // checkpoint the COMPACT frames (source label, 64-bit uri hash,
    // byte count — the bodies and uri STRINGS never persist: the
    // per-row string in a checkpoint is the r14 q241 corpus-
    // materialization class, so the join key is xxhash64(uri), exactly
    // as equality-joinable and 8 bytes wide): the manifest consumes
    // docs three times and revisits twice, and without the pin each
    // consumer re-walks the archive (measured: 6 binaryFile scans)
    val docs = graft.sources.WarcFiles.readRecords(spark, out)
      .select(
        substring_index(substring_index(col("uri"), "/", 3), "/", -1)
          .as("source"),
        xxhash64(col("uri")).as("uh"),
        length(col("body")).cast("long").as("n_bytes"))
      .localCheckpoint()
    val revs = graft.sources.WarcFiles.readRevisits(spark, out)
      .select(xxhash64(col("refers_to")).as("rh"))
      .localCheckpoint()
    val stored = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_stored"),
        sum(col("n_bytes")).as("bytes_stored"))
    // each edge must RESOLVE against a stored record — the join is the
    // certificate that the crawler's dup markers point at real docs.
    // The marker side is body-free and far smaller than the record
    // frame at any real crawl scale: broadcast it (the checkpoint's
    // LogicalRDD stats would otherwise default it to a shuffle join)
    val resolved = broadcast(revs).join(docs, revs("rh") === docs("uh"))
      .select(docs("source"), docs("uh").as("target"), docs("n_bytes"))
    val dup = resolved.groupBy(col("source"))
      .agg(count(lit(1)).as("revisit_edges"),
        sum(col("n_bytes")).as("bytes_saved"))
    val uniq = docs.select(col("source"), col("uh").as("target"))
      .unionByName(resolved.select(col("source"), col("target")))
      .groupBy(col("source"))
      .agg(countDistinct(col("target")).as("docs_unique"),
        count(lit(1)).as("docs_fetched"))
    stored.join(dup, Seq("source"), "left")
      .join(uniq, Seq("source"), "left")
      .select(col("source"), col("docs_stored"),
        coalesce(col("revisit_edges"), lit(0L)).as("revisit_edges"),
        col("docs_fetched"), col("docs_unique"), col("bytes_stored"),
        coalesce(col("bytes_saved"), lit(0L)).as("bytes_saved"))
  }

  private[graft] val q265Sql =
    """WITH d AS (SELECT doc_id, source, strlen(text) AS b FROM documents),
      |s AS (SELECT source, count(*) AS docs_stored, sum(b) AS bytes_stored
      |  FROM d GROUP BY 1),
      |r AS (SELECT source, count(*) AS revisit_edges, sum(b) AS bytes_saved
      |  FROM d WHERE doc_id % 3 = 0 GROUP BY 1)
      |SELECT s.source, CAST(docs_stored AS BIGINT) AS docs_stored,
      |  CAST(COALESCE(revisit_edges, 0) AS BIGINT) AS revisit_edges,
      |  CAST(docs_stored + COALESCE(revisit_edges, 0) AS BIGINT)
      |    AS docs_fetched,
      |  CAST(docs_stored AS BIGINT) AS docs_unique,
      |  CAST(bytes_stored AS BIGINT) AS bytes_stored,
      |  CAST(COALESCE(bytes_saved, 0) AS BIGINT) AS bytes_saved
      |FROM s LEFT JOIN r ON s.source = r.source""".stripMargin
}
