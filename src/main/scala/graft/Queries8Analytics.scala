package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfMatch, Dedup, EditPairs, GraphStats, NgramModel, Profile, Sampling, TextAnalysis, TimeSeries}

/** Registry slice 8 (round 13, continued): structural analytics and
  * selection — exact triangle counting over the link graph, MMR
  * diversified retrieval, FastSS edit-distance-1 vocabulary mining,
  * deterministic weighted (priority) sampling in both global-sort and
  * native-mergeable-aggregate forms, trailing-window feature
  * engineering, rendezvous sharding, bigram predictability scoring,
  * and the integer-exact correlation card. */
private[graft] trait Queries8Analytics extends Queries7Pipelines {

  // ---------------------------------------------------------------------
  // q191 — exact triangle counting + local clustering coefficients
  // (operators/GraphStats) over the SAME deterministic q165 link graph.
  // Spark runs the degree-ordered compact-forward enumeration (out-
  // degrees bounded by O(sqrt m), wedge join cost O(m^1.5) — the shape
  // that survives power-law graphs); the oracle enumerates naively in
  // id order. The two orders finding the IDENTICAL triangle set is the
  // correctness certificate.
  // ---------------------------------------------------------------------
  private[graft] def q191Triangles(spark: SparkSession, dir: String): DataFrame =
    GraphStats.triangleStats(q165Edges(spark, dir))

  private[graft] val q191Sql =
    """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |raw AS (SELECT doc_id AS src, (doc_id * 7 + 13 * t.k) % nn.n AS dst
      |        FROM documents, nn,
      |        LATERAL UNNEST(generate_series(1, 1 + doc_id % 3)) AS t(k)),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM raw WHERE src <> dst),
      |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
      |        (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
      |        GROUP BY v),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM und e1 JOIN und e2 ON e2.a = e1.b
      |             JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corners AS (SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
      |            UNION ALL SELECT z AS v FROM tri),
      |tc AS (SELECT v, CAST(count(*) AS BIGINT) AS tri FROM corners GROUP BY v)
      |SELECT d.v AS doc_id, d.deg,
      |  COALESCE(t.tri, CAST(0 AS BIGINT)) AS tri,
      |  CAST(CASE WHEN d.deg >= 2
      |       THEN (2000000 * COALESCE(t.tri, 0)) // (d.deg * (d.deg - 1))
      |       ELSE 0 END AS BIGINT) AS lcc_micro
      |FROM deg d LEFT JOIN tc t ON t.v = d.v""".stripMargin

  // ---------------------------------------------------------------------
  // q192 — MMR diversified re-rank (operators/Retrieval.mmrRerank):
  // greedy λ·rel − (1−λ)·maxsim selection over the BM25 candidate set,
  // integer-exact (int8 dots, λ in tenths), ties by doc_id. The oracle
  // replays the greedy chain as three chained CTE picks — the funnel
  // pattern, applied to diversity selection.
  // ---------------------------------------------------------------------
  private[graft] def q192Mmr(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.mmrRerank(Tables.documents(spark, dir),
      "doc_id", "text",
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      bm25Queries.map { case (qid, ts) => (qid, ts, 100L + qid * 101L) },
      kCand = 20, kOut = 3, lambdaTenths = 7)

  private[graft] val q192Sql = {
    val pick = (p: Int, prev: String) =>
      s"""rem$p AS (SELECT c.* FROM cand c LEFT JOIN $prev s
         |  ON s.query_id = c.query_id AND s.doc_id = c.doc_id
         |  WHERE s.doc_id IS NULL),
         |ms$p AS (SELECT r.query_id, r.doc_id, r.rel,
         |    CAST(max(sim.s) AS BIGINT) AS max_sim
         |  FROM rem$p r JOIN $prev p ON p.query_id = r.query_id
         |       JOIN sim ON sim.query_id = r.query_id
         |            AND sim.d1 = r.doc_id AND sim.d2 = p.doc_id
         |  GROUP BY 1, 2, 3),
         |sel$p AS (SELECT query_id, doc_id, rel, max_sim,
         |    CAST(7 * rel - 3 * max_sim AS BIGINT) AS mmr_score,
         |    CAST($p AS BIGINT) AS pick FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY 7 * rel - 3 * max_sim DESC, doc_id) AS rn FROM ms$p)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $bm25Cte,
      |cand0 AS (SELECT query_id, doc_id FROM rk WHERE rank <= 20),
      |sv AS (SELECT vec_id, embedding,
      |         list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
      |           (a, b) -> CASE WHEN b > a THEN b ELSE a END) / 127.0 AS scale
      |       FROM embeddings),
      |codes AS (SELECT vec_id,
      |         list_transform(embedding, x -> CAST(
      |           CASE WHEN scale = 0 THEN 0.0
      |                ELSE LEAST(127.0, GREATEST(-127.0,
      |                  FLOOR(CAST(x AS DOUBLE) / scale + 0.5))) END
      |           AS BIGINT)) AS codes
      |        FROM sv),
      |qm AS (SELECT CAST(query_id AS BIGINT) AS query_id,
      |              CAST(qvec_id AS BIGINT) AS qvec_id
      |       FROM (VALUES (1, 201), (2, 302), (3, 403)) AS t(query_id, qvec_id)),
      |qc AS (SELECT qm.query_id, codes.codes AS qcodes
      |       FROM qm JOIN codes ON codes.vec_id = qm.qvec_id),
      |cand AS (SELECT c.query_id, c.doc_id,
      |          CAST(list_sum(list_transform(range(1, len(dc.codes) + 1),
      |            i -> dc.codes[i] * qc.qcodes[i])) AS BIGINT) AS rel
      |         FROM cand0 c JOIN codes dc ON dc.vec_id = c.doc_id
      |              JOIN qc ON qc.query_id = c.query_id),
      |sim AS (SELECT a.query_id, a.doc_id AS d1, b.doc_id AS d2,
      |          CAST(list_sum(list_transform(range(1, len(ca.codes) + 1),
      |            i -> ca.codes[i] * cb.codes[i])) AS BIGINT) AS s
      |        FROM cand0 a JOIN cand0 b ON a.query_id = b.query_id
      |             AND a.doc_id <> b.doc_id
      |             JOIN codes ca ON ca.vec_id = a.doc_id
      |             JOIN codes cb ON cb.vec_id = b.doc_id),
      |sel1 AS (SELECT query_id, doc_id, rel, CAST(0 AS BIGINT) AS max_sim,
      |           CAST(7 * rel AS BIGINT) AS mmr_score,
      |           CAST(1 AS BIGINT) AS pick FROM (
      |         SELECT *, row_number() OVER (PARTITION BY query_id
      |           ORDER BY 7 * rel DESC, doc_id) AS rn FROM cand) WHERE rn = 1),
      |${pick(2, "sel1")},
      |sel12 AS (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2),
      |${pick(3, "sel12")}
      |SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
      |UNION ALL SELECT * FROM sel3""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q193 — FastSS edit-distance-1 pair mining (operators/EditPairs)
  // over a deterministically-corrupted token stream: occurrences picked
  // by a position-salted hash (1-in-11, tokens of ≥ 3 chars) lose their
  // second character, and the deletion-neighborhood equi-join mines the
  // (clean, typo) variant pairs back out of the resulting vocabulary —
  // candidates by shared variant, truth by exact levenshtein ≤ 1 (both
  // engines' levenshtein is the standard unit-cost DP).
  // ---------------------------------------------------------------------
  private[graft] def q193TypoPairs(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text")))
        .as(Seq("pos", "tok")))
    val corrupt = length(col("tok")) >= 3 &&
      pmod(Dedup.baseHash32(concat(col("doc_id"), lit(":"), col("pos"),
        lit(":typo"))), lit(11)) === 0
    val vocab = toks
      .select(when(corrupt, concat(substring(col("tok"), 1, 1),
          expr("substring(tok, 3, 2147483647)")))
        .otherwise(col("tok")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    EditPairs.distanceOnePairs(vocab, "w", "c")
  }

  private[graft] val q193Sql =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |occ AS (SELECT doc_id, i - 1 AS pos, ts[i] AS tok
      |        FROM tk, LATERAL UNNEST(generate_series(1, len(ts))) AS t(i)),
      |cor AS (SELECT CASE WHEN length(tok) >= 3 AND
      |          CAST(('0x' || substr(md5(doc_id || ':' || pos || ':typo'), 1, 8))
      |            AS BIGINT) % 11 = 0
      |        THEN substr(tok, 1, 1) || substr(tok, 3) ELSE tok END AS w
      |        FROM occ),
      |voc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM cor GROUP BY w),
      |vars AS (SELECT DISTINCT w, c,
      |          CASE WHEN t.i = 0 THEN w
      |               ELSE substr(w, 1, t.i - 1) || substr(w, t.i + 1) END AS var
      |         FROM voc, LATERAL UNNEST(generate_series(0, length(w))) AS t(i)),
      |pairs AS (SELECT DISTINCT a.w AS w1, b.w AS w2, a.c AS c1, b.c AS c2
      |          FROM vars a JOIN vars b ON a.var = b.var AND a.w < b.w)
      |SELECT w1, w2, c1, c2 FROM pairs WHERE levenshtein(w1, w2) <= 1""".stripMargin

  // ---------------------------------------------------------------------
  // q194 — deterministic weighted sampling without replacement
  // (operators/Sampling.prioritySample): top-100 documents by the
  // priority w/u with the hash-derived 60-bit uniform — inclusion
  // probability ∝ n_chars, bit-replayable (the priority is ONE IEEE
  // double division on both engines, ties by doc_id; only integers are
  // emitted). Plans as TakeOrderedAndProject: no full sort, no shuffle.
  // ---------------------------------------------------------------------
  private[graft] def q194PrioritySample(spark: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(Tables.documents(spark, dir), "doc_id",
      "n_chars", k = 100)
      .select(col("doc_id"), col("n_chars"), col("rank"))

  private[graft] val q194Sql =
    """WITH u AS (SELECT doc_id, n_chars,
      |    CAST(('0x' || substr(md5(doc_id || ':pri'), 1, 15)) AS BIGINT) + 1 AS u
      |  FROM documents),
      |r AS (SELECT doc_id, n_chars,
      |    CAST(row_number() OVER (ORDER BY
      |      CAST(n_chars AS DOUBLE) / CAST(u AS DOUBLE) DESC, doc_id)
      |      AS BIGINT) AS rank
      |  FROM u)
      |SELECT doc_id, n_chars, rank FROM r WHERE rank <= 100""".stripMargin

  // ---------------------------------------------------------------------
  // q195 — trailing-window rolling features (operators/TimeSeries
  // .rollingFeatures): per-user trailing-hour count / cent-sum / max
  // over a RANGE frame on integer microseconds (frame membership is
  // tie-order-free — the reason this is hash-stable), plus the exact
  // inter-event gap under the total (ts, event_id) order. One exchange
  // on user_id serves all four features.
  // ---------------------------------------------------------------------
  private[graft] def q195Rolling(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.rollingFeatures(Tables.events(spark, dir), "user_id", "ts",
      "event_id", "value", windowSec = 3600L)

  private[graft] val q195Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
      |SELECT event_id, user_id, ts_us,
      |  CAST(count(*) OVER wr AS BIGINT) AS n_win,
      |  CAST(sum(cents) OVER wr AS BIGINT) AS cents_win,
      |  CAST(max(cents) OVER wr AS BIGINT) AS max_cents_win,
      |  CAST(COALESCE(ts_us - lag(ts_us) OVER wl, -1) AS BIGINT) AS gap_us
      |FROM e
      |WINDOW wr AS (PARTITION BY user_id ORDER BY ts_us
      |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
      |       wl AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin

  // ---------------------------------------------------------------------
  // q196 — rendezvous (HRW) sharding balance + movement card
  // (operators/Sampling.rendezvousCard): per-shard rows/weight under 16
  // shards plus how many rows relocate under 17 — the measured
  // minimal-movement property (≈ 1/17 of rows move, vs ~15/16 for
  // mod-n). The argmax is one narrow generated-array expression per
  // row; ties break toward the lowest shard id on both engines.
  // ---------------------------------------------------------------------
  private[graft] def q196Shards(spark: SparkSession, dir: String): DataFrame =
    Sampling.rendezvousCard(Tables.documents(spark, dir), "doc_id",
      "n_chars", nShards = 16)

  private[graft] val q196Sql = {
    val assign = (name: String, n: Int) =>
      s"""h$name AS (SELECT d.doc_id, d.n_chars, t.s,
         |    CAST(('0x' || substr(md5(d.doc_id || ':hrw:' || t.s), 1, 15))
         |      AS BIGINT) AS h
         |  FROM documents d,
         |  LATERAL UNNEST(generate_series(0, ${n - 1})) AS t(s)),
         |a$name AS (SELECT doc_id, n_chars, CAST(s AS BIGINT) AS shard FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY h DESC, s) AS rn FROM h$name) WHERE rn = 1)""".stripMargin
    s"""WITH ${assign("16", 16)},
      |${assign("17", 17)}
      |SELECT a16.shard,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(a16.n_chars) AS BIGINT) AS sum_w,
      |  CAST(sum(CASE WHEN a17.shard <> a16.shard THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_moved
      |FROM a16 JOIN a17 ON a16.doc_id = a17.doc_id
      |GROUP BY a16.shard""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q197 — bigram predictability scoring (operators/NgramModel
  // .bigramPredictability): per-document Σ ⌊10⁶·c(w₁w₂)/c(w₁·)⌋ — the
  // surprisal-shaped CCNet-style quality signal kept integer-exact
  // (one floor per rational). Counts key on 60-bit hashes; the oracle
  // counts raw strings — agreement certifies the hash lane.
  // ---------------------------------------------------------------------
  private[graft] def q197BigramPred(spark: SparkSession, dir: String): DataFrame =
    NgramModel.bigramPredictability(Tables.documents(spark, dir),
      "doc_id", "text")

  private[graft] val q197Sql =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |bg AS (SELECT doc_id, ts[i] AS w1, ts[i] || ' ' || ts[i + 1] AS g
      |       FROM tk, LATERAL UNNEST(generate_series(1, len(ts) - 1)) AS t(i)),
      |bc AS (SELECT g, CAST(count(*) AS BIGINT) AS cbg FROM bg GROUP BY g),
      |wc AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1 FROM bg GROUP BY w1),
      |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |         CAST(sum((1000000 * bc.cbg) // wc.cw1) AS BIGINT) AS pred_micro
      |       FROM bg JOIN bc USING (g) JOIN wc USING (w1) GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(sc.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
      |  COALESCE(sc.pred_micro, CAST(0 AS BIGINT)) AS pred_micro
      |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q198 — integer-exact Pearson correlation card (operators/Profile
  // .corrCard): r² in micro-units + sign between raw length and token
  // count per source, from the six integer sufficient statistics with
  // DECIMAL(38,0) squares and ONE floor — the feature-drift check that
  // must not itself be subject to float drift.
  // ---------------------------------------------------------------------
  private[graft] def q198FeatureCorr(spark: SparkSession, dir: String): DataFrame =
    Profile.corrCard(
      Tables.documents(spark, dir)
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
      "source", "n_chars", "n_tokens")

  private[graft] val q198Sql =
    """WITH d AS (SELECT source, CAST(n_chars AS HUGEINT) AS x,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS HUGEINT) AS y
      |  FROM documents),
      |a AS (SELECT source, CAST(count(*) AS HUGEINT) AS n,
      |        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |        sum(x * x) AS sxx, sum(y * y) AS syy
      |      FROM d GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |  CAST(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
      |    THEN (1000000 * (n * sxy - sx * sy) * (n * sxy - sx * sy))
      |         // ((n * sxx - sx * sx) * (n * syy - sy * sy))
      |    ELSE 0 END AS BIGINT) AS corr2_micro,
      |  CAST(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
      |    THEN sign(n * sxy - sx * sy) ELSE 0 END AS BIGINT) AS corr_sign
      |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // q199 — per-source weighted sample via the NATIVE mergeable k-ledger
  // aggregate (functions/TopKPriorityAgg through operators/Sampling
  // .groupedPrioritySample): the same draw as q194 but ONE aggregation
  // with O(k) state per group instead of a per-group sort window.
  // ---------------------------------------------------------------------
  private[graft] def q199GroupedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.groupedPrioritySample(Tables.documents(spark, dir),
      "doc_id", "n_chars", "source", k = 10)

  private[graft] val q199Sql =
    """WITH u AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
      |    CAST(n_chars AS DOUBLE) /
      |      (CAST(('0x' || substr(md5(doc_id || ':pri'), 1, 15)) AS BIGINT) + 1)
      |      AS pri
      |  FROM documents)
      |SELECT source, doc_id, w, CAST(rn AS BIGINT) AS rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY pri DESC, doc_id) AS rn FROM u) WHERE rn <= 10""".stripMargin

  // ---------------------------------------------------------------------
  // q200/q201 — entity resolution (operators/RecordLinkage) over a
  // deterministically-dirtied customer set: every third customer gains
  // a duplicate with one name digit bumped and the balance nudged by a
  // few cents. OR-blocking (nation+balance-band ∪ name-suffix) bounds
  // the comparison space; scoring runs levenshtein on candidates only;
  // match = name within 1 edit AND (balance within 5 cents + same
  // nation) reaching score ≥ 4. q201 closes matches transitively and
  // emits the golden-record survivorship card. Blocking recall is BY
  // DESIGN part of the answer: a pair both keys miss is absent on both
  // engines — the oracle replays blocking, scoring and closure alike.
  // ---------------------------------------------------------------------
  private[graft] def erRecords(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir).select(
      col("c_custkey").as("rid"), col("c_name").as("name"),
      col("c_nationkey").cast("long").as("nat"),
      floor(col("c_acctbal") * 100).cast("long").as("bal"))
    val dirty = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 3 === 0)
      .select((col("c_custkey") + 10000000L).as("rid"),
        concat(
          expr("substring(c_name, 1, 9 + CAST(c_custkey % 9 AS INT))"),
          ((expr("CAST(substring(c_name, 10 + CAST(c_custkey % 9 AS INT), 1) AS BIGINT)")
            + 1L) % 10L).cast("string"),
          expr("substring(c_name, 11 + CAST(c_custkey % 9 AS INT), 2147483647)"))
          .as("name"),
        col("c_nationkey").cast("long").as("nat"),
        (floor(col("c_acctbal") * 100).cast("long")
          + col("c_custkey") % 7 - 3L).as("bal"))
    base.union(dirty)
  }

  private[graft] def erMatchesFrom(recs: DataFrame): DataFrame = {
    // the balance band TRUNCATES (Spark `div` == DuckDB's integer `//`
    // for all signs — empirically DuckDB // truncates toward zero on
    // integers; floor-division here would shift every negative-balance
    // record one band off the oracle)
    val pairs = graft.operators.RecordLinkage.blockPairs(recs, "rid", Seq(
      concat(col("nat"), lit(":"), expr("bal div 1000")),
      substring(col("name"), 15, 4)))
    graft.operators.RecordLinkage
      .attachSides(pairs, recs, "rid", Seq("name", "nat", "bal"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("a_name"), col("b_name")).cast("long").as("name_dist"),
        abs(col("a_bal") - col("b_bal")).as("bal_diff"),
        (when(levenshtein(col("a_name"), col("b_name")) <= 1, 3L).otherwise(0L)
          + when(abs(col("a_bal") - col("b_bal")) <= 5, 1L).otherwise(0L)
          + when(col("a_nat") === col("b_nat"), 1L).otherwise(0L)).as("score"))
      .filter(col("score") >= 4)
  }

  private[graft] def q200ErPairs(spark: SparkSession, dir: String): DataFrame =
    erMatchesFrom(erRecords(spark, dir).localCheckpoint())

  private[graft] val erRecordsCte =
    """recs AS (
      |  SELECT c_custkey AS rid, c_name AS name,
      |    CAST(c_nationkey AS BIGINT) AS nat,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 10000000, concat(
      |      substr(c_name, 1, 9 + (c_custkey % 9)),
      |      CAST((CAST(substr(c_name, 10 + (c_custkey % 9), 1) AS BIGINT)
      |            + 1) % 10 AS VARCHAR),
      |      substr(c_name, 11 + (c_custkey % 9))),
      |    CAST(c_nationkey AS BIGINT),
      |    CAST(floor(c_acctbal * 100) AS BIGINT) + c_custkey % 7 - 3
      |  FROM customer WHERE c_custkey % 3 = 0),
      |kk AS (SELECT rid, name, nat, bal,
      |         concat(CAST(nat AS VARCHAR), ':',
      |                CAST(bal // 1000 AS VARCHAR)) AS k1,
      |         substr(name, 15, 4) AS k2 FROM recs),
      |cand AS (SELECT a.rid AS id_a, b.rid AS id_b
      |         FROM kk a JOIN kk b ON a.k1 = b.k1 AND a.rid < b.rid
      |         UNION
      |         SELECT a.rid, b.rid
      |         FROM kk a JOIN kk b ON a.k2 = b.k2 AND a.rid < b.rid),
      |sc AS (SELECT c.id_a, c.id_b,
      |        CAST(levenshtein(ra.name, rb.name) AS BIGINT) AS name_dist,
      |        CAST(abs(ra.bal - rb.bal) AS BIGINT) AS bal_diff,
      |        CAST(CASE WHEN levenshtein(ra.name, rb.name) <= 1 THEN 3 ELSE 0 END
      |           + CASE WHEN abs(ra.bal - rb.bal) <= 5 THEN 1 ELSE 0 END
      |           + CASE WHEN ra.nat = rb.nat THEN 1 ELSE 0 END AS BIGINT) AS score
      |       FROM cand c JOIN recs ra ON ra.rid = c.id_a
      |            JOIN recs rb ON rb.rid = c.id_b),
      |m AS (SELECT id_a, id_b, name_dist, bal_diff, score FROM sc
      |      WHERE score >= 4)""".stripMargin

  private[graft] val q200Sql =
    s"""WITH $erRecordsCte
      |SELECT id_a, id_b, name_dist, bal_diff, score FROM m""".stripMargin

  private[graft] def q201ErClusters(spark: SparkSession, dir: String): DataFrame = {
    // ONE checkpointed record set feeds both the match pipeline and
    // the card's member join — the base+dirty union never builds twice
    val recs = erRecords(spark, dir).localCheckpoint()
    graft.operators.RecordLinkage.clusterCard(recs, "rid",
      erMatchesFrom(recs), "bal")
  }

  private[graft] val q201Sql =
    s"""WITH RECURSIVE $erRecordsCte,
      |e AS (SELECT id_a AS src, id_b AS dst FROM m
      |      UNION ALL SELECT id_b, id_a FROM m),
      |r(v, l) AS (
      |  SELECT rid, rid FROM recs
      |  UNION
      |  SELECT e.dst, r.l FROM r JOIN e ON e.src = r.v WHERE r.l < e.dst),
      |comp AS (SELECT v, MIN(l) AS component FROM r GROUP BY v),
      |j AS (SELECT comp.component, recs.bal
      |      FROM comp JOIN recs ON recs.rid = comp.v)
      |SELECT component, CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(max(bal) - min(bal) AS BIGINT) AS val_spread
      |FROM j GROUP BY component HAVING count(*) >= 2""".stripMargin

  // ---------------------------------------------------------------------
  // q202 — k-core decomposition (operators/GraphStats.kCore) of the
  // q165 graph at k = 3: 12 peeling rounds, exact integer degrees; the
  // oracle replays the identical rounds as generated CTEs (the
  // q165/q105 pattern). GraphStatsSpec pins that round 13 would be a
  // no-op — the fixed count IS the fixpoint on this graph.
  // ---------------------------------------------------------------------
  private[graft] def q202KCore(spark: SparkSession, dir: String): DataFrame =
    GraphStats.kCore(q165Edges(spark, dir), k = 3, iters = 12)

  private[graft] val q202Sql = {
    // every eN is referenced 3x by round N+1 (twice for degrees, once
    // as the surviving edge set) — without MATERIALIZED DuckDB inlines
    // the chain into 3^12 copies of the base scan and dies on file
    // handles before it dies on CPU
    val rounds = (1 to 12).map { i =>
      s"""d$i AS (SELECT v, count(*) AS deg FROM
         |  (SELECT a AS v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY v),
         |k$i AS (SELECT v FROM d$i WHERE deg >= 3),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |        JOIN k$i x ON x.v = e.a JOIN k$i y ON y.v = e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |raw AS (SELECT doc_id AS src, (doc_id * 7 + 13 * t.k) % nn.n AS dst
      |        FROM documents, nn,
      |        LATERAL UNNEST(generate_series(1, 1 + doc_id % 3)) AS t(k)),
      |e0 AS MATERIALIZED (
      |       SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |       FROM raw WHERE src <> dst),
      |$rounds
      |SELECT v AS doc_id, CAST(count(*) AS BIGINT) AS core_deg FROM
      |  (SELECT a AS v FROM e12 UNION ALL SELECT b FROM e12)
      |GROUP BY v""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q203 — declarative data-quality card (operators/QualityRules): the
  // Deequ-shaped gate a drop clears before anything trusts it. All
  // per-table rules fold into ONE aggregation per table; uniqueness is
  // count−distinct in the same pass; referential integrity is the one
  // joining rule (left-anti against distinct parent keys). Output is
  // |rules| rows.
  // ---------------------------------------------------------------------
  private[graft] def q203QualityCard(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityRules._
    val li = Tables.lineitem(spark, dir)
    val orders = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    checkTable(li, Seq(
        Rule("li_qty_range", col("l_quantity") < 1 || col("l_quantity") > 50),
        Rule("li_price_positive", col("l_extendedprice") <= 0),
        Rule("li_discount_range", col("l_discount") < 0 || col("l_discount") > 0.1)))
      .union(checkTable(cust, Seq(
        Rule("cust_name_shape", length(col("c_name")) =!= 18),
        Rule("cust_acctbal_range",
          col("c_acctbal") < -1000.0 || col("c_acctbal") > 10000.0))))
      .union(checkUnique(orders, "orders_key_unique", col("o_orderkey")))
      .union(checkUnique(li, "li_key_unique",
        struct(col("l_orderkey"), col("l_linenumber"))))
      .union(checkReferential(orders, "orders_custkey_fk",
        col("o_custkey"), cust, col("c_custkey")))
      .union(checkReferential(li, "li_orderkey_fk",
        col("l_orderkey"), orders, col("o_orderkey")))
  }

  private[graft] val q203Sql =
    """SELECT 'li_qty_range' AS rule,
      |  CAST(count(*) AS BIGINT) AS n_checked,
      |  CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_violations FROM lineitem
      |UNION ALL
      |SELECT 'li_price_positive', CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'li_discount_range', CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
      |    AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'cust_name_shape', CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN length(c_name) <> 18 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM customer
      |UNION ALL
      |SELECT 'cust_acctbal_range', CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN c_acctbal < -1000.0 OR c_acctbal > 10000.0
      |      THEN 1 ELSE 0 END) AS BIGINT) FROM customer
      |UNION ALL
      |SELECT 'orders_key_unique', CAST(count(*) AS BIGINT),
      |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
      |UNION ALL
      |SELECT 'li_key_unique', CAST(count(*) AS BIGINT),
      |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders_custkey_fk',
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
      |  (SELECT CAST(count(*) AS BIGINT) FROM orders o LEFT JOIN
      |     (SELECT DISTINCT c_custkey FROM customer) c
      |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
      |UNION ALL
      |SELECT 'li_orderkey_fk',
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
      |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l LEFT JOIN
      |     (SELECT DISTINCT o_orderkey FROM orders) o
      |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)""".stripMargin

  // ---------------------------------------------------------------------
  // q204 — content-defined chunking dedup card (operators/Chunker): the
  // windowed rolling fingerprint is POSITIONAL (last 8 codepoints), so
  // both engines state boundaries per position with no sequential
  // recurrence; chunks are mask-hit spans, hashed with the portable
  // 60-bit md5 lane, and the card measures cross-document chunk
  // sharing — content addressing's storage win, replayed exactly.
  // ---------------------------------------------------------------------
  private[graft] def q204CdcChunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunker.dedupCard(Tables.documents(spark, dir),
      "doc_id", "text")

  private[graft] val q204Sql = {
    val pows = (0 until graft.operators.Chunker.Window)
      .map(j => math.pow(31.0, j).toLong)
    val hTerms = pows.zipWithIndex.map { case (p, j) =>
      if (j == 0) s"CAST(ord(cs[i]) AS BIGINT) * $p"
      else s"CASE WHEN i - $j >= 1 THEN CAST(ord(cs[i - $j]) AS BIGINT) * $p ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    """WITH c0 AS (SELECT doc_id, text, string_split(text, '') AS cs
      |            FROM documents),
      |h AS (SELECT doc_id, text, len(cs) AS n,
      |        list_transform(range(1, len(cs) + 1), i -> HTERMS) AS hs
      |      FROM c0),
      |b AS (SELECT doc_id, text, n,
      |        list_append(list_filter(range(1, n + 1),
      |          i -> hs[i] % 16 = 0 AND i <> n), n) AS bounds
      |      FROM h WHERE n > 0),
      |ck AS (SELECT doc_id,
      |        CASE WHEN t.k = 1 THEN 1 ELSE bounds[t.k - 1] + 1 END AS start,
      |        bounds[t.k] - (CASE WHEN t.k = 1 THEN 1
      |                       ELSE bounds[t.k - 1] + 1 END) + 1 AS len,
      |        text
      |       FROM b, LATERAL UNNEST(range(1, len(bounds) + 1)) AS t(k)),
      |ch AS (SELECT doc_id, CAST(len AS BIGINT) AS len,
      |        CAST(('0x' || substr(md5(substr(text, start, len)), 1, 15))
      |          AS BIGINT) AS h
      |       FROM ck),
      |cen AS (SELECT h, count(DISTINCT doc_id) AS docs FROM ch GROUP BY h)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  CAST(sum(len) AS BIGINT) AS n_bytes
      |FROM ch JOIN cen USING (h) GROUP BY doc_id""".stripMargin
      .replace("HTERMS", hTerms)
  }

  // ---------------------------------------------------------------------
  // q205 — exponentially-decayed trailing feature (operators/TimeSeries
  // .decayedFeatures): newest event full weight, halved per step back
  // over the last 16 events, FLOOR division per term — the exact-
  // arithmetic EWMA both engines replay (a float decay or an unbounded
  // recursion could not).
  // ---------------------------------------------------------------------
  private[graft] def q205Decayed(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.decayedFeatures(Tables.events(spark, dir),
      "user_id", "ts", "event_id", "value", depth = 16)

  private[graft] val q205Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
      |w AS (SELECT event_id, user_id, ts_us,
      |        list(cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |          ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst
      |      FROM e)
      |SELECT event_id, user_id, ts_us,
      |  CAST(len(lst) AS BIGINT) AS n_frame,
      |  CAST(list_sum(list_transform(range(1, len(lst) + 1),
      |    k -> lst[k] // (CAST(1 AS BIGINT) << (len(lst) - k))))
      |    AS BIGINT) AS decayed_cents
      |FROM w""".stripMargin

  // ---------------------------------------------------------------------
  // q206 — last-touch attribution (operators/AsOfMatch.asOfJoin reused
  // as the marketing join): each purchase credits the latest view/click
  // touch within a 7-day lookback, else 'direct'; ties at one timestamp
  // resolve to the highest event id on both engines (the asOfJoin
  // (ts, side, tiebreak) order == the oracle's QUALIFY pre-dedup).
  // One window pass, no join node — the q159 shape with a CASE on top.
  // ---------------------------------------------------------------------
  private[graft] def q206Attribution(spark: SparkSession, dir: String): DataFrame =
    AsOfMatch.lastTouchAttribution(Tables.events(spark, dir), "user_id",
      "ts", "event_id", "value", "event_type", convType = "purchase",
      touchTypes = Seq("view", "click"), lookbackUs = 604800000000L)

  private[graft] val q206Sql =
    """WITH p AS (SELECT event_id, user_id, ts,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |t0 AS (SELECT user_id, ts, event_type AS ch
      |       FROM events WHERE event_type IN ('view', 'click')
      |       QUALIFY row_number() OVER (PARTITION BY user_id, ts
      |                                  ORDER BY event_id DESC) = 1),
      |a AS (SELECT p.cents,
      |        CASE WHEN t.ts IS NULL
      |               OR epoch_us(p.ts) - epoch_us(t.ts) > 604800000000
      |             THEN 'direct' ELSE t.ch END AS channel
      |      FROM p ASOF LEFT JOIN t0 t
      |        ON p.user_id = t.user_id AND t.ts <= p.ts)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_conv,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM a GROUP BY channel""".stripMargin

  // ---------------------------------------------------------------------
  // q207 — σ-outlier buckets (operators/TimeSeries.anomalyBuckets) on
  // the q190 gap-filled series: (n − mean)² > 9·var stated as the
  // cross-multiplied integer comparison in a DECIMAL/HUGEINT lane, so
  // the boundary decision replays bit-for-bit. Zero-filled silence
  // counts toward (and can itself be) the anomaly.
  // ---------------------------------------------------------------------
  private[graft] def q207Anomaly(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.anomalyBuckets(Tables.events(spark, dir),
      "event_type", "ts", bucketSec = 3600L, sigmas = 3)

  private[graft] val q207Sql =
    """WITH b AS (SELECT event_type,
      |    epoch_us(ts) // 3600000000 AS bucket_id FROM events),
      |c AS (SELECT event_type, bucket_id, count(*) AS n FROM b GROUP BY 1, 2),
      |st AS (SELECT min(bucket_id) AS lo, max(bucket_id) AS hi FROM b),
      |hours AS (SELECT unnest(range(lo, hi + 1)) AS bucket_id FROM st),
      |types AS (SELECT DISTINCT event_type FROM events),
      |ser AS (SELECT t.event_type, h.bucket_id,
      |          CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
      |        FROM types t CROSS JOIN hours h
      |        LEFT JOIN c ON c.event_type = t.event_type
      |                   AND c.bucket_id = h.bucket_id),
      |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS m,
      |        CAST(sum(n_events) AS HUGEINT) AS s1,
      |        CAST(sum(n_events * n_events) AS HUGEINT) AS s2
      |      FROM ser GROUP BY event_type)
      |SELECT ser.event_type, ser.bucket_id, ser.n_events,
      |  CAST(sign(m * ser.n_events - s1) AS BIGINT) AS dev_sign
      |FROM ser JOIN s USING (event_type)
      |WHERE (m * ser.n_events - s1) * (m * ser.n_events - s1)
      |      > 9 * (m * s2 - s1 * s1)""".stripMargin

  // ---------------------------------------------------------------------
  // q208 — incremental ER probe (RecordLinkage.blockProbe): a "daily
  // drop" of re-imported customers links against the resolved base as
  // (delta × base) ∪ (delta × delta) — never base × base, so per-drop
  // cost is linear in the drop (the q148/q61 incremental discipline
  // applied to linkage). Same OR-keys and scoring as q200.
  // ---------------------------------------------------------------------
  private[graft] def erDelta(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_custkey") % 5 === 0)
      .select((col("c_custkey") + 20000000L).as("rid"),
        concat(
          expr("substring(c_name, 1, 9 + CAST((c_custkey + 4) % 9 AS INT))"),
          ((expr("CAST(substring(c_name, 10 + CAST((c_custkey + 4) % 9 AS INT), 1) AS BIGINT)")
            + 1L) % 10L).cast("string"),
          expr("substring(c_name, 11 + CAST((c_custkey + 4) % 9 AS INT), 2147483647)"))
          .as("name"),
        col("c_nationkey").cast("long").as("nat"),
        (floor(col("c_acctbal") * 100).cast("long")
          + col("c_custkey") % 5 - 2L).as("bal"))

  private[graft] def q208ErProbe(spark: SparkSession, dir: String): DataFrame = {
    val base = erRecords(spark, dir).localCheckpoint()
    val delta = erDelta(spark, dir).localCheckpoint()
    val keys = Seq(
      concat(col("nat"), lit(":"), expr("bal div 1000")), // truncating, see q200
      substring(col("name"), 15, 4))
    val pairs = graft.operators.RecordLinkage.blockProbe(base, delta,
      "rid", keys)
    graft.operators.RecordLinkage
      .attachSides(pairs, base.union(delta), "rid", Seq("name", "nat", "bal"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("a_name"), col("b_name")).cast("long").as("name_dist"),
        abs(col("a_bal") - col("b_bal")).as("bal_diff"),
        (when(levenshtein(col("a_name"), col("b_name")) <= 1, 3L).otherwise(0L)
          + when(abs(col("a_bal") - col("b_bal")) <= 5, 1L).otherwise(0L)
          + when(col("a_nat") === col("b_nat"), 1L).otherwise(0L)).as("score"))
      .filter(col("score") >= 4)
  }

  private[graft] val q208Sql =
    """WITH recsB AS (
      |  SELECT c_custkey AS rid, c_name AS name,
      |    CAST(c_nationkey AS BIGINT) AS nat,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS bal FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 10000000, concat(
      |      substr(c_name, 1, 9 + (c_custkey % 9)),
      |      CAST((CAST(substr(c_name, 10 + (c_custkey % 9), 1) AS BIGINT)
      |            + 1) % 10 AS VARCHAR),
      |      substr(c_name, 11 + (c_custkey % 9))),
      |    CAST(c_nationkey AS BIGINT),
      |    CAST(floor(c_acctbal * 100) AS BIGINT) + c_custkey % 7 - 3
      |  FROM customer WHERE c_custkey % 3 = 0),
      |recsD AS (
      |  SELECT c_custkey + 20000000 AS rid, concat(
      |      substr(c_name, 1, 9 + ((c_custkey + 4) % 9)),
      |      CAST((CAST(substr(c_name, 10 + ((c_custkey + 4) % 9), 1) AS BIGINT)
      |            + 1) % 10 AS VARCHAR),
      |      substr(c_name, 11 + ((c_custkey + 4) % 9))) AS name,
      |    CAST(c_nationkey AS BIGINT) AS nat,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) + c_custkey % 5 - 2 AS bal
      |  FROM customer WHERE c_custkey % 5 = 0),
      |allr AS (SELECT *, FALSE AS is_delta FROM recsB
      |         UNION ALL SELECT *, TRUE FROM recsD),
      |kk AS (SELECT rid, name, nat, bal,
      |         concat(CAST(nat AS VARCHAR), ':',
      |                CAST(bal // 1000 AS VARCHAR)) AS k1,
      |         substr(name, 15, 4) AS k2,
      |         is_delta FROM allr),
      |cand AS (
      |  SELECT least(a.rid, b.rid) AS id_a, greatest(a.rid, b.rid) AS id_b
      |  FROM kk a JOIN kk b ON a.k1 = b.k1 AND a.rid <> b.rid
      |  WHERE a.is_delta
      |  UNION
      |  SELECT least(a.rid, b.rid), greatest(a.rid, b.rid)
      |  FROM kk a JOIN kk b ON a.k2 = b.k2 AND a.rid <> b.rid
      |  WHERE a.is_delta),
      |sc AS (SELECT c.id_a, c.id_b,
      |        CAST(levenshtein(ra.name, rb.name) AS BIGINT) AS name_dist,
      |        CAST(abs(ra.bal - rb.bal) AS BIGINT) AS bal_diff,
      |        CAST(CASE WHEN levenshtein(ra.name, rb.name) <= 1 THEN 3 ELSE 0 END
      |           + CASE WHEN abs(ra.bal - rb.bal) <= 5 THEN 1 ELSE 0 END
      |           + CASE WHEN ra.nat = rb.nat THEN 1 ELSE 0 END AS BIGINT) AS score
      |       FROM cand c JOIN allr ra ON ra.rid = c.id_a
      |            JOIN allr rb ON rb.rid = c.id_b)
      |SELECT id_a, id_b, name_dist, bal_diff, score FROM sc
      |WHERE score >= 4""".stripMargin

  // ---------------------------------------------------------------------
  // q209 — nearest-in-time join (AsOfMatch.nearestJoin): each purchase
  // matched to the CLOSEST error event of its user on either side,
  // ties preferring the backward candidate — two window passes on one
  // key exchange, replayed by two DuckDB ASOF joins (<= and >=) with
  // the per-timestamp tie pre-dedups the window orders imply.
  // ---------------------------------------------------------------------
  private[graft] def q209NearestError(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("err_id"))
    AsOfMatch.nearestJoin(purchases, errors, Seq("user_id"), "ts",
        tieBreak = "event_id", rightPayload = Seq("err_id"))
      .select(col("event_id"), col("user_id"), col("nearest_ts"),
        col("dt_us"), col("err_id"))
  }

  private[graft] val q209Sql =
    """WITH p AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |eb AS (SELECT user_id, ts, event_id FROM events
      |       WHERE event_type = 'error'
      |       QUALIFY row_number() OVER (PARTITION BY user_id, ts
      |                                  ORDER BY event_id DESC) = 1),
      |ef AS (SELECT user_id, ts, event_id FROM events
      |       WHERE event_type = 'error'
      |       QUALIFY row_number() OVER (PARTITION BY user_id, ts
      |                                  ORDER BY event_id ASC) = 1),
      |b AS (SELECT p.event_id, p.user_id, p.ts, t.ts AS bts,
      |        t.event_id AS bid
      |      FROM p ASOF LEFT JOIN eb t
      |        ON p.user_id = t.user_id AND t.ts <= p.ts),
      |f AS (SELECT p.event_id, t.ts AS fts, t.event_id AS fid
      |      FROM p ASOF LEFT JOIN ef t
      |        ON p.user_id = t.user_id AND t.ts >= p.ts),
      |j AS (SELECT b.event_id, b.user_id, b.ts, b.bts, b.bid, f.fts, f.fid
      |      FROM b JOIN f USING (event_id)),
      |sel AS (SELECT *,
      |    CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
      |         WHEN fts IS NULL THEN 'b' WHEN bts IS NULL THEN 'f'
      |         WHEN epoch_us(ts) - epoch_us(bts)
      |              <= epoch_us(fts) - epoch_us(ts) THEN 'b'
      |         ELSE 'f' END AS side
      |  FROM j)
      |SELECT event_id, user_id,
      |  CASE side WHEN 'b' THEN bts WHEN 'f' THEN fts END AS nearest_ts,
      |  CASE WHEN side IS NULL THEN NULL
      |       ELSE epoch_us(ts) - epoch_us(CASE side WHEN 'b' THEN bts
      |                                    ELSE fts END) END AS dt_us,
      |  CASE side WHEN 'b' THEN bid WHEN 'f' THEN fid END AS err_id
      |FROM sel""".stripMargin

  // ---------------------------------------------------------------------
  // q210 — trailing-window exact distinct count (TimeSeries
  // .rollingDistinct): distinct event types per user over the trailing
  // hour — RANGE-frame collect_set vs the oracle's windowed
  // list_distinct, both tie-order-free.
  // ---------------------------------------------------------------------
  private[graft] def q210RollingDistinct(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.rollingDistinct(Tables.events(spark, dir), "user_id", "ts",
      "event_id", "event_type", windowSec = 3600L)

  private[graft] val q210Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |    event_type FROM events)
      |SELECT event_id, user_id, ts_us,
      |  CAST(len(list_distinct(list(event_type) OVER (
      |    PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)))
      |    AS BIGINT) AS n_distinct_win
      |FROM e""".stripMargin

  // ---------------------------------------------------------------------
  // q211 — equal-frequency feature binning (Sampling.equalFreqBins):
  // per-source n_chars deciles via the two-phase banded rank engine
  // (never a bare-group sort window) and the explicit
  // ⌊nBins·(rank−1)/n⌋ formula — the oracle states the same formula
  // over the naive single window; the two agreeing certifies the
  // banded rank.
  // ---------------------------------------------------------------------
  private[graft] def q211FeatureBins(spark: SparkSession, dir: String): DataFrame =
    Sampling.equalFreqBins(Tables.documents(spark, dir), "source",
      "n_chars", "doc_id", nBins = 10, bandWidth = 8L)
      .select(col("doc_id"), col("source"), col("n_chars"), col("bin"))

  private[graft] val q211Sql =
    """WITH r AS (SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT doc_id, source, n_chars,
      |  CAST((10 * (rk - 1)) // n AS BIGINT) AS bin
      |FROM r""".stripMargin

  // ---------------------------------------------------------------------
  // q212 — χ² association card (Profile.chiSquareCard) between lang
  // and source: per-cell ⌊10⁶·(O·N−R·C)²/(N·R·C)⌋ in the DECIMAL/
  // HUGEINT lanes — the bias/independence governance check with no
  // float in the loop.
  // ---------------------------------------------------------------------
  private[graft] def q212ChiSquare(spark: SparkSession, dir: String): DataFrame =
    Profile.chiSquareCard(Tables.documents(spark, dir), "lang", "source")

  private[graft] val q212Sql =
    """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      |               FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, CAST(sum(n) AS HUGEINT) AS rr FROM cells GROUP BY lang),
      |c AS (SELECT source, CAST(sum(n) AS HUGEINT) AS cc FROM cells GROUP BY source),
      |t AS (SELECT CAST(sum(n) AS HUGEINT) AS tt FROM cells)
      |SELECT cells.lang, cells.source, cells.n,
      |  CAST((1000000 * (n * tt - rr * cc) * (n * tt - rr * cc))
      |       // (tt * rr * cc) AS BIGINT) AS chi_micro
      |FROM cells JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t""".stripMargin

  // ---------------------------------------------------------------------
  // q213 — first-order Markov transition matrix (Funnel
  // .transitionMatrix): adjacent event-type pairs under the total
  // (ts, id) order per user, conditional probability in integer
  // micro-units — one truncating division per cell.
  // ---------------------------------------------------------------------
  private[graft] def q213Transitions(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.transitionMatrix(Tables.events(spark, dir),
      "user_id", "ts", "event_id", "event_type")

  private[graft] val q213Sql =
    """WITH p AS (SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (SELECT prev AS from_type, event_type AS to_type,
      |        CAST(count(*) AS BIGINT) AS n
      |      FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS ft FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  CAST((1000000 * n) // ft AS BIGINT) AS p_micro
      |FROM c JOIN f USING (from_type)""".stripMargin

  // ---------------------------------------------------------------------
  // q214 — Gini diversity card (Profile.giniDiversity) over tokens per
  // source: the log-free concentration metric an entropy card cannot
  // state cross-engine exactly; 60-bit token hashes vs the oracle's
  // raw-string counts — agreement certifies the hash lane.
  // ---------------------------------------------------------------------
  private[graft] def q214Gini(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
    Profile.giniDiversity(docs, "source", col("tok"))
  }

  private[graft] val q214Sql =
    """WITH tk AS (SELECT source,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, CAST(count(*) AS HUGEINT) AS c
      |      FROM tk GROUP BY 1, 2),
      |g AS (SELECT source, CAST(sum(c) AS HUGEINT) AS n,
      |        CAST(count(*) AS BIGINT) AS d,
      |        CAST(sum(c * c) AS HUGEINT) AS s2
      |      FROM c GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n_items, d AS n_distinct,
      |  CAST((1000000 * (n * n - s2)) // (n * n) AS BIGINT) AS gini_micro
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // q215 — SCD2 interval builder (operators/Scd2): a synthetic 3-
  // version change log over documents (v2 touches only source, and
  // only for every 4th doc — every 2nd doc's v2 is a NO-OP the change
  // compression must drop; v3 bumps n_chars for every 6th) turned into
  // validity-interval history rows. The oracle states the same
  // compression + lead() interval assignment.
  // ---------------------------------------------------------------------
  private[graft] def scd2Log(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val srcAt = when(col("doc_id") % 4 === 0,
      concat(col("source"), lit("_b"))).otherwise(col("source"))
    val v1 = docs.select(col("doc_id"), lit(1L).as("v"), col("source"),
      col("n_chars"))
    val v2 = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), lit(2L).as("v"), srcAt.as("source"),
        col("n_chars"))
    val v3 = docs.filter(col("doc_id") % 6 === 0)
      .select(col("doc_id"), lit(3L).as("v"), srcAt.as("source"),
        (col("n_chars") + 10L).as("n_chars"))
    v1.union(v2).union(v3)
  }

  private[graft] def q215Scd2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Scd2.intervals(scd2Log(spark, dir), "doc_id", "v",
      Seq("source", "n_chars"))

  private[graft] val q215Sql =
    """WITH log AS (
      |  SELECT doc_id, 1 AS v, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id, 2, CASE WHEN doc_id % 4 = 0 THEN source || '_b'
      |                    ELSE source END, n_chars
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, 3, CASE WHEN doc_id % 4 = 0 THEN source || '_b'
      |                    ELSE source END, n_chars + 10
      |  FROM documents WHERE doc_id % 6 = 0),
      |c AS (SELECT *,
      |        lag(v) OVER w IS NULL AS first,
      |        (lag(source) OVER w IS NOT DISTINCT FROM source) AND
      |        (lag(n_chars) OVER w IS NOT DISTINCT FROM n_chars) AS same
      |      FROM log WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
      |k AS (SELECT doc_id, v, source, n_chars FROM c WHERE first OR NOT same)
      |SELECT doc_id, CAST(v AS BIGINT) AS valid_from,
      |  CAST(lead(v) OVER (PARTITION BY doc_id ORDER BY v) - 1
      |    AS BIGINT) AS valid_to,
      |  source, CAST(n_chars AS BIGINT) AS n_chars
      |FROM k""".stripMargin

  // ---------------------------------------------------------------------
  // q220 — point-in-time read (Scd2.pointInTime) against the q215
  // history: every doc asked for its state as of version
  // 1 + doc_id % 3 — the leakage-free feature-store join, an EQUI join
  // on the key with containment as a per-key residual (no bins needed;
  // contrast q131/q134's keyless range joins). The oracle restates the
  // q215 compression + intervals and the same containment.
  // ---------------------------------------------------------------------
  private[graft] def q220PitRead(spark: SparkSession, dir: String): DataFrame = {
    val history = q215Scd2(spark, dir)
    val facts = Tables.documents(spark, dir)
      .select(col("doc_id"), (lit(1L) + col("doc_id") % 3).as("asof_v"))
    graft.operators.Scd2.pointInTime(history, "doc_id", facts, "asof_v",
      Seq("source", "n_chars"))
  }

  private[graft] val q220Sql =
    """WITH log AS (
      |  SELECT doc_id, 1 AS v, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id, 2, CASE WHEN doc_id % 4 = 0 THEN source || '_b'
      |                    ELSE source END, n_chars
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, 3, CASE WHEN doc_id % 4 = 0 THEN source || '_b'
      |                    ELSE source END, n_chars + 10
      |  FROM documents WHERE doc_id % 6 = 0),
      |c AS (SELECT *,
      |        lag(v) OVER w IS NULL AS first,
      |        (lag(source) OVER w IS NOT DISTINCT FROM source) AND
      |        (lag(n_chars) OVER w IS NOT DISTINCT FROM n_chars) AS same
      |      FROM log WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
      |k AS (SELECT doc_id, v, source, n_chars FROM c WHERE first OR NOT same),
      |h AS (SELECT doc_id, CAST(v AS BIGINT) AS valid_from,
      |        CAST(lead(v) OVER (PARTITION BY doc_id ORDER BY v) - 1
      |          AS BIGINT) AS valid_to,
      |        source, CAST(n_chars AS BIGINT) AS n_chars
      |      FROM k),
      |f AS (SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS asof_v
      |      FROM documents)
      |SELECT f.doc_id, f.asof_v, h.source, h.n_chars
      |FROM f JOIN h ON h.doc_id = f.doc_id
      |WHERE h.valid_from <= f.asof_v
      |  AND (h.valid_to IS NULL OR f.asof_v <= h.valid_to)""".stripMargin

  // ---------------------------------------------------------------------
  // q221 — interval-union covered time (TimeSeries.coveredTime): each
  // event opens a 5-minute activity interval; overlaps merge into
  // islands (touching intervals merge — zero gap is no gap) and the
  // per-user active time is the union length, never double-counted.
  // Oracle: the classic gaps-and-islands SQL over the same intervals.
  // ---------------------------------------------------------------------
  private[graft] def q221CoveredTime(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.coveredTime(
      Tables.events(spark, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + 300000000L).as("e")),
      "user_id", "s", "e")

  private[graft] val q221Sql =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + 300000000 AS e FROM events),
      |m AS (SELECT user_id, s, e,
      |        max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |      FROM iv),
      |f AS (SELECT user_id, s, e,
      |        CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS new
      |      FROM m),
      |g AS (SELECT user_id, s, e,
      |        sum(new) OVER (PARTITION BY user_id ORDER BY s, e
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |      FROM f),
      |isls AS (SELECT user_id, isl, min(s) AS ms, max(e) AS me,
      |           count(*) AS cnt
      |         FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_intervals,
      |  CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(me - ms) AS BIGINT) AS covered_us
      |FROM isls GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q216 — winsorized robust-stats card (Percentiles.winsorizedCard):
  // per-source [p10, p90] bounds from the exact histogram fold, then
  // the clipped integer mean — outlier-immune location, one floor per
  // mean (the q6 discipline).
  // ---------------------------------------------------------------------
  private[graft] def q216Winsorized(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Percentiles.winsorizedCard(Tables.documents(spark, dir),
      "source", "n_chars", loP = 0.1, hiP = 0.9)

  private[graft] val q216Sql =
    """WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
      |r AS (SELECT source, v,
      |        row_number() OVER (PARTITION BY source ORDER BY v) AS rk,
      |        count(*) OVER (PARTITION BY source) AS n FROM v),
      |b AS (SELECT source,
      |        max(CASE WHEN rk = CAST(floor((n - 1) * 0.1) AS BIGINT) + 1
      |            THEN v END) AS lo,
      |        max(CASE WHEN rk = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1
      |            THEN v END) AS hi
      |      FROM r GROUP BY source),
      |c AS (SELECT v.source, v.v,
      |        least(greatest(v.v, b.lo), b.hi) AS w, b.lo, b.hi
      |      FROM v JOIN b USING (source))
      |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(lo) AS BIGINT) AS lo, CAST(min(hi) AS BIGINT) AS hi,
      |  CAST(floor(sum(v) / count(*)) AS BIGINT) AS mean_floor,
      |  CAST(floor(sum(w) / count(*)) AS BIGINT) AS wins_mean_floor,
      |  CAST(sum(CASE WHEN v <> w THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
      |FROM c GROUP BY source""".stripMargin

  // ---------------------------------------------------------------------
  // q217 — source-distribution cosine (Profile.distributionCosine):
  // pairwise cos² between sources' token-count vectors — the mirror-
  // feed detector at the distribution level; inverted-index pair dots,
  // DECIMAL/HUGEINT squares.
  // ---------------------------------------------------------------------
  private[graft] def q217SourceCosine(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
    Profile.distributionCosine(toks, "source", col("tok"))
  }

  private[graft] val q217Sql =
    """WITH tk AS (SELECT source,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, CAST(count(*) AS HUGEINT) AS c
      |      FROM tk GROUP BY 1, 2),
      |nrm AS (SELECT source, sum(c * c) AS n2 FROM c GROUP BY source),
      |d AS (SELECT a.source AS g_a, b.source AS g_b,
      |        CAST(sum(a.c * b.c) AS BIGINT) AS dot
      |      FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT g_a, g_b, dot,
      |  CAST((1000000 * CAST(dot AS HUGEINT) * dot) // (na.n2 * nb.n2)
      |    AS BIGINT) AS cos2_micro
      |FROM d JOIN nrm na ON na.source = d.g_a
      |       JOIN nrm nb ON nb.source = d.g_b""".stripMargin

  // ---------------------------------------------------------------------
  // q218 — token lift pairs (NgramModel.tokenLift): document-level
  // PMI-shaped association with the log traded for the exact ratio;
  // pairs from per-document DISTINCT token sets, never a vocabulary
  // cross join.
  // ---------------------------------------------------------------------
  private[graft] def q218TokenLift(spark: SparkSession, dir: String): DataFrame =
    NgramModel.tokenLift(Tables.documents(spark, dir), "doc_id", "text",
      minDocs = 5L)

  private[graft] val q218Sql =
    """WITH tk AS (SELECT doc_id,
      |    list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS ts
      |  FROM documents),
      |occ AS (SELECT doc_id, unnest(ts) AS w FROM tk),
      |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM occ GROUP BY w),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk),
      |p AS (SELECT a.w AS w1, b.w AS w2
      |      FROM occ a JOIN occ b ON a.doc_id = b.doc_id AND a.w < b.w),
      |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_docs_both
      |       FROM p GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT pc.w1, pc.w2, pc.n_docs_both,
      |  CAST((1000000 * CAST(n_docs_both AS HUGEINT) * nn.n)
      |       // (CAST(d1.df AS HUGEINT) * d2.df) AS BIGINT) AS lift_micro
      |FROM pc JOIN dfq d1 ON d1.w = pc.w1
      |        JOIN dfq d2 ON d2.w = pc.w2 CROSS JOIN nn""".stripMargin

  // ---------------------------------------------------------------------
  // q219 — KWIC snippets (Retrieval.snippets) for the q180 BM25 top-10:
  // first query-term hit position + a ±2-token window, exact strings —
  // the search-results page's last mile riding the same hash oracle as
  // the ranking it annotates. Positions probe only query-term tokens;
  // token arrays re-join for RANKED docs only.
  // ---------------------------------------------------------------------
  private[graft] def q219Snippets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ranked = graft.operators.Retrieval.bm25TopK(docs, "doc_id", "text",
      bm25Queries, k = 10)
    graft.operators.Retrieval.snippets(docs, "doc_id", "text", ranked,
      bm25Queries, context = 2)
  }

  private[graft] val q219Sql =
    s"""WITH $bm25Cte,
      |top AS (SELECT query_id, doc_id FROM rk WHERE rank <= 10),
      |tk AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents
      |  WHERE doc_id IN (SELECT DISTINCT doc_id FROM top)),
      |pos AS (SELECT q.query_id, tk.doc_id, t.i AS p
      |        FROM tk, LATERAL UNNEST(generate_series(1, len(ts))) AS t(i)
      |        JOIN q ON tk.ts[t.i] = q.term),
      |fp AS (SELECT top.query_id, top.doc_id,
      |         CAST(min(pos.p) AS BIGINT) AS first_pos
      |       FROM top JOIN pos ON pos.query_id = top.query_id
      |            AND pos.doc_id = top.doc_id
      |       GROUP BY 1, 2)
      |SELECT fp.query_id, fp.doc_id, fp.first_pos,
      |  array_to_string(tk.ts[greatest(fp.first_pos - 2, 1)
      |    :least(fp.first_pos + 2, len(tk.ts))], ' ') AS snippet
      |FROM fp JOIN tk ON tk.doc_id = fp.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q225 — frequent event paths (Funnel.frequentPaths, r14): 3-step
  // sliding windows of each user's time-ordered event-type sequence,
  // counted corpus-wide with a support floor — path mining, the k=3
  // generalization of q213's transition matrix. One per-user sort
  // window carries both lags; counts combine map-side.
  // ---------------------------------------------------------------------
  private[graft] def q225FrequentPaths(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.frequentPaths(Tables.events(spark, dir),
      "user_id", "ts", "event_id", "event_type", k = 3, minSupport = 5L)

  private[graft] val q225Sql =
    """WITH o AS (SELECT user_id, event_type,
      |        lag(event_type, 2) OVER w AS a,
      |        lag(event_type, 1) OVER w AS b
      |      FROM events
      |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |p AS (SELECT user_id, a || '>' || b || '>' || event_type AS path
      |      FROM o WHERE a IS NOT NULL)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_occ,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM p GROUP BY path HAVING count(*) >= 5""".stripMargin

  // ---------------------------------------------------------------------
  // q224 — robust scaling (Percentiles.robustScale, r14): per-source
  // median/IQR standardization of document lengths — the feature-
  // normalization step done integer-exact where a z-score can't be
  // (z needs sqrt; quartiles are rank selections, so
  // 1e6·(x − median) DIV IQR is pure integer arithmetic, truncating
  // division on both engines). One histogram pass builds the card;
  // the |sources|-row card broadcasts back onto the rows.
  // ---------------------------------------------------------------------
  private[graft] def q224RobustScale(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Percentiles.robustScale(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"),
        col("n_chars")),
      "source", "n_chars")

  private[graft] val q224Sql =
    """WITH v AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v
      |           FROM documents),
      |r AS (SELECT source, v,
      |        row_number() OVER (PARTITION BY source ORDER BY v) AS rk,
      |        count(*) OVER (PARTITION BY source) AS n FROM v),
      |c AS (SELECT source,
      |        max(CASE WHEN rk = CAST(floor((n - 1) * 0.25) AS BIGINT) + 1
      |            THEN v END) AS p25,
      |        max(CASE WHEN rk = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
      |            THEN v END) AS median,
      |        max(CASE WHEN rk = CAST(floor((n - 1) * 0.75) AS BIGINT) + 1
      |            THEN v END) AS p75
      |      FROM r GROUP BY source)
      |SELECT v.doc_id, v.source, v.v AS n_chars, c.p25, c.median, c.p75,
      |  CASE WHEN c.p75 - c.p25 = 0 THEN NULL
      |       ELSE (1000000 * (v.v - c.median)) // (c.p75 - c.p25)
      |  END AS scaled_micro
      |FROM v JOIN c USING (source)""".stripMargin
}
