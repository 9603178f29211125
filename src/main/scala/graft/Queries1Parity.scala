package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.{DnsWire, DnstapCodec}
import graft.dns.{DnsAnalog, DnstapRows}
import graft.functions.{Anonymize, DnsNames, IpFunctions, VectorFunctions}
import graft.operators.{AsOfMatch, CorpusStats, Dedup, GroupingSetCounter, MediaCodec, Multimodal, NgramModel, Packing, Percentiles, Quantize, Sampling, Scrub, Similarity, SkewAgg, TextAnalysis}

/** DNS-analog parity queries and the analytics core (q1-q25): grouping sets, latency matching, top-k, joins, windows, sessionization, text stats, exact/near dedup baselines, the dnstap pipeline parity query.
  *
  * Mechanical r12 split of the former single-file SparkEntry registry;
  * see [[QueriesBase]] for the chaining rationale. */
private[graft] trait Queries1Parity extends QueriesBase {
  // ---------------------------------------------------------------------
  // q1 — pricing-summary aggregation (TPC-H Q1 shape): the reference's
  // downstream-query surface is filter→groupBy→agg (SURVEY §2.9); this is
  // the canonical Spark form with pushed-down filter + partial aggregation.
  // ---------------------------------------------------------------------
  private[graft] def q1LineitemAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = java.sql.Timestamp.valueOf("1998-09-01 00:00:00")
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit(cutoff))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum((dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .cast(DecimalType(18, 4))).cast("double").as("sum_disc_price"),
        sum((dec($"l_extendedprice") * (lit(1) - dec($"l_discount")) *
          (lit(1) + dec($"l_tax"))).cast(DecimalType(18, 6)))
          .cast("double").as("sum_charge"),
        (sum(dec($"l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  private[graft] val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // q2/q3 — the reference's core operator: multi-grouping-set dedup count
  // with __ANY__ sentinel (A1/A2, aggregator.go:240-330), on the events→DNS
  // analog mapping. One generator + one shuffle (see GroupingSetCounter).
  // ---------------------------------------------------------------------
  private[graft] def q2QueryGroupingSets(spark: SparkSession, dir: String): DataFrame =
    GroupingSetCounter(DnsAnalog.queries(Tables.events(spark, dir)),
      fixed = Seq("identity"), address = Seq("query_address"),
      question = Seq("question_name", "question_type"), tsCol = "ts")

  private[graft] val q2Sql =
    s"""${DnsAnalog.oracleCte}
      |SELECT identity,
      |  CASE WHEN GROUPING(query_address)=1 THEN '__ANY__' ELSE query_address END AS query_address,
      |  CASE WHEN GROUPING(question_name)=1 THEN '__ANY__' ELSE question_name END AS question_name,
      |  CASE WHEN GROUPING(question_type)=1 THEN '__ANY__' ELSE question_type END AS question_type,
      |  COUNT(*) AS counter, MIN(ts) AS first_seen
      |FROM dns
      |GROUP BY GROUPING SETS ((identity, query_address, question_name, question_type),
      |                        (identity, query_address),
      |                        (identity, question_name, question_type))""".stripMargin

  private[graft] def q3ResponseGroupingSets(spark: SparkSession, dir: String): DataFrame =
    GroupingSetCounter(
      DnsAnalog.responses(Tables.events(spark, dir)).filter(!col("is_success")),
      fixed = Seq("identity", "response_status"), address = Seq("query_address"),
      question = Seq("question_name", "question_type"), tsCol = "ts")

  private[graft] val q3Sql =
    s"""${DnsAnalog.oracleCte}
      |SELECT identity, response_status,
      |  CASE WHEN GROUPING(query_address)=1 THEN '__ANY__' ELSE query_address END AS query_address,
      |  CASE WHEN GROUPING(question_name)=1 THEN '__ANY__' ELSE question_name END AS question_name,
      |  CASE WHEN GROUPING(question_type)=1 THEN '__ANY__' ELSE question_type END AS question_type,
      |  COUNT(*) AS counter, MIN(ts) AS first_seen
      |FROM dns
      |WHERE response_status <> 'NOERROR'
      |GROUP BY GROUPING SETS ((identity, response_status, query_address, question_name, question_type),
      |                        (identity, response_status, query_address),
      |                        (identity, response_status, question_name, question_type))""".stripMargin

  // q4 — pass-through mode (A3, Aggregate=false, aggregator.go:556-586):
  // the identity plan, one output row per input with counter=1.
  private[graft] def q4Passthrough(spark: SparkSession, dir: String): DataFrame =
    DnsAnalog.responses(Tables.events(spark, dir)).select(
      col("ts").as("response_time"), col("identity"), col("response_status"),
      col("query_address"), col("question_name"), col("question_type"),
      col("counter"))

  private[graft] val q4Sql =
    s"""${DnsAnalog.oracleCte}
      |SELECT ts AS response_time, identity, response_status, query_address,
      |       question_name, question_type, CAST(1 AS BIGINT) AS counter
      |FROM dns""".stripMargin

  // ---------------------------------------------------------------------
  // q5/q6 — query↔response latency matching (SURVEY §2.6) + per-identity
  // average (A4), batch analog: as-of match via one window pass (AsOfMatch).
  // clicks play queries, purchases play responses, user_id is the match key.
  // ---------------------------------------------------------------------
  private[graft] def q5Deltas(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
    AsOfMatch.deltas(ev, keyCols = Seq("user_id"), tsCol = "ts",
        tieBreak = "event_id",
        isQuery = col("event_type") === "click",
        isResponse = col("event_type") === "purchase")
      .select(concat(lit("srv"), (col("user_id") % 4).cast("string")).as("identity"),
        col("ts").as("response_time"), col("delta_us"))
  }

  private[graft] val q5MatchCte =
    """WITH m AS (
      |  SELECT user_id, ts, event_type,
      |         last_value(CASE WHEN event_type='click' THEN ts END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS qts
      |  FROM events WHERE event_type IN ('click','purchase')),
      |deltas AS (
      |  SELECT 'srv' || CAST(user_id % 4 AS VARCHAR) AS identity,
      |         ts AS response_time,
      |         epoch_us(ts) - epoch_us(qts) AS delta_us
      |  FROM m WHERE event_type='purchase' AND qts IS NOT NULL)""".stripMargin

  private[graft] val q5Sql = s"$q5MatchCte\nSELECT identity, response_time, delta_us FROM deltas"

  private[graft] def q6LatencyAvg(spark: SparkSession, dir: String): DataFrame =
    AsOfMatch.avgByIdentity(q5Deltas(spark, dir), "identity")

  private[graft] val q6Sql =
    s"""$q5MatchCte
      |SELECT identity,
      |       CAST(FLOOR(SUM(delta_us) * 1.0 / COUNT(*)) AS BIGINT) AS avg_delta_us,
      |       COUNT(*) AS n_samples
      |FROM deltas GROUP BY identity""".stripMargin

  // ---------------------------------------------------------------------
  // q7–q10 — the documented downstream query surface (SURVEY §2.9,
  // doc/quickstart.md:97-154): top-k, time-bucketed series, latency series.
  // ---------------------------------------------------------------------
  private[graft] def q7TopAddresses(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id").cast("string").as("query_address"))
      .agg(count(lit(1)).as("counter"))
      .orderBy(desc("counter"), asc("query_address"))
      .limit(10)

  private[graft] val q7Sql =
    """SELECT CAST(user_id AS VARCHAR) AS query_address, COUNT(*) AS counter
      |FROM events GROUP BY 1 ORDER BY counter DESC, query_address LIMIT 10""".stripMargin

  private[graft] def q8TopNxdomain(spark: SparkSession, dir: String): DataFrame =
    DnsAnalog.responses(Tables.events(spark, dir))
      .filter(col("response_status") === "NXDOMAIN")
      .groupBy(concat(col("question_name"), lit(" "), col("question_type")).as("name_type"))
      .agg(count(lit(1)).as("counter"))
      .orderBy(desc("counter"), asc("name_type"))
      .limit(10)

  private[graft] val q8Sql =
    s"""${DnsAnalog.oracleCte}
      |SELECT question_name || ' ' || question_type AS name_type, COUNT(*) AS counter
      |FROM dns WHERE response_status = 'NXDOMAIN'
      |GROUP BY 1 ORDER BY counter DESC, name_type LIMIT 10""".stripMargin

  private[graft] def q9NonOkTimeseries(spark: SparkSession, dir: String): DataFrame =
    DnsAnalog.responses(Tables.events(spark, dir))
      .filter(!col("is_success"))
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("response_status"))
      .agg(count(lit(1)).as("counter"))

  private[graft] val q9Sql =
    s"""${DnsAnalog.oracleCte}
      |SELECT date_trunc('hour', ts) AS bucket, response_status, COUNT(*) AS counter
      |FROM dns WHERE response_status <> 'NOERROR' GROUP BY 1, 2""".stripMargin

  private[graft] def q10LatencyTimeseries(spark: SparkSession, dir: String): DataFrame =
    q5Deltas(spark, dir)
      .groupBy(date_trunc("hour", col("response_time")).as("bucket"), col("identity"))
      .agg(floor(sum(col("delta_us")) / count(lit(1))).as("avg_delta_us"))

  private[graft] val q10Sql =
    s"""$q5MatchCte
      |SELECT date_trunc('hour', response_time) AS bucket, identity,
      |       CAST(FLOOR(SUM(delta_us) * 1.0 / COUNT(*)) AS BIGINT) AS avg_delta_us
      |FROM deltas GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q11–q13 — the source-path scalar/generator operators (SURVEY §2.2/2.3):
  // P2 IP rendering as a codegen'd Catalyst expression, P3/P4 code→name
  // tables, F1 questions-explode. Exercised on synthetic inputs derived from
  // events/documents; the oracle recomputes the same values independently.
  // ---------------------------------------------------------------------
  private[graft] def q11IpRender(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(col("event_id"),
      IpFunctions.ipv4_string((col("event_id") * lit(2654435761L)) % lit(4294967296L))
        .as("ip"))

  private[graft] val q11Sql =
    """SELECT event_id,
      |  CAST((x // 16777216) % 256 AS VARCHAR) || '.' || CAST((x // 65536) % 256 AS VARCHAR)
      |    || '.' || CAST((x // 256) % 256 AS VARCHAR) || '.' || CAST(x % 256 AS VARCHAR) AS ip
      |FROM (SELECT event_id, (event_id * 2654435761) % 4294967296 AS x FROM events)""".stripMargin

  private[graft] def q12DnsNames(spark: SparkSession, dir: String): DataFrame = {
    val m = col("user_id") % 7
    val qcode = when(m === 0, 1).when(m === 1, 5).when(m === 2, 15)
      .when(m === 3, 16).when(m === 4, 28).when(m === 5, 65).otherwise(9999)
    val rcode = when(col("value") < 2, 0).when(col("value") < 10, 3).otherwise(2)
    Tables.events(spark, dir).select(col("event_id"),
      DnsNames.qtype_name(qcode).as("qtype_name"),
      DnsNames.rcode_name(rcode).as("rcode_name"))
  }

  private[graft] val q12Sql =
    """SELECT event_id,
      |  CASE user_id % 7 WHEN 0 THEN 'A' WHEN 1 THEN 'CNAME' WHEN 2 THEN 'MX'
      |       WHEN 3 THEN 'TXT' WHEN 4 THEN 'AAAA' WHEN 5 THEN 'HTTPS'
      |       ELSE 'TYPE9999' END AS qtype_name,
      |  CASE WHEN value < 2 THEN 'NOERROR' WHEN value < 10 THEN 'NXDOMAIN'
      |       ELSE 'SERVFAIL' END AS rcode_name
      |FROM events""".stripMargin

  private[graft] def q13ExplodeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token")).limit(20)

  private[graft] val q13Sql =
    """SELECT token, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q14–q16 — the relational surface Spark gives for free over the output
  // tables (SURVEY §2.10: the reference answers these downstream; our engine
  // exposes them as first-class operators): star-schema join with broadcast
  // dims, window-function top-n per group, gap-based sessionization (the
  // batch form of a session window).
  // ---------------------------------------------------------------------
  private[graft] def q14JoinEnrich(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    // nation/region are tiny at any SF (25/5 rows) -> broadcast; customer
    // scales with SF -> shuffle hash/sort-merge picked by Catalyst+AQE.
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
           count(lit(1)).as("n_orders"))
  }

  private[graft] val q14Sql =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  private[graft] def q15WindowTopn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  private[graft] val q15Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t WHERE rn <= 3""".stripMargin

  private[graft] def q16Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 48L * 3600 * 1000000 // 48h inactivity closes a session
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
  }

  private[graft] val q16Sql =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts,
      |         CAST(SUM(CASE WHEN prev_ts IS NULL
      |                    OR epoch_us(ts) - epoch_us(prev_ts) > 172800000000
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM g)
      |SELECT user_id, session_no, COUNT(*) AS n_events,
      |       MIN(ts) AS session_start, MAX(ts) AS session_end
      |FROM s GROUP BY user_id, session_no""".stripMargin

  // ---------------------------------------------------------------------
  // q17–q21 — training-data pipeline text operators over `documents`:
  // token/quality stats, language ID, canonical fingerprint, exact dedup,
  // n-gram-Jaccard near-dup via inverted-index join (operators/TextAnalysis,
  // operators/Dedup). All pure codegen'd column expressions, no UDFs.
  // ---------------------------------------------------------------------
  private[graft] def q17TextStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(t).as("n_tokens"),
      TextAnalysis.bpeTokenCount(t).as("n_bpe_tokens"),
      TextAnalysis.punctRatio(t).as("punct_ratio"),
      TextAnalysis.avgTokenLen(t).as("avg_token_len"),
      TextAnalysis.stopwordRatio(t).as("stopword_ratio"),
      TextAnalysis.qualityScore(t).as("quality"))
  }

  private[graft] val q17Sql =
    """WITH t AS (SELECT doc_id, text,
      |             list_filter(string_split(text,' '), x -> x <> '') AS toks,
      |             CASE WHEN length(text)=0 THEN 0.0
      |                  ELSE length(regexp_replace(text,'[^.,!?;:]','','g'))*1.0/length(text)
      |             END AS pr
      |           FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
      |  pr AS punct_ratio,
      |  CASE WHEN len(toks)=0 THEN 0.0
      |       ELSE list_sum(list_transform(toks, x -> length(x)))*1.0/len(toks) END AS avg_token_len,
      |  CASE WHEN len(toks)=0 THEN 0.0
      |       ELSE len(list_filter(toks, x -> list_contains(['the','and','of','to','in','a','is'], x)))*1.0/len(toks) END AS stopword_ratio,
      |  LEAST(1.0, len(toks)/100.0) * (1.0 - pr) AS quality
      |FROM t""".stripMargin

  private[graft] def q18LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))

  // Generated from the same marker table as TextAnalysis.langId — no drift.
  private[graft] val q18Sql = {
    val scores = TextAnalysis.LangMarkers.map { case (lang, words) =>
      val s = words.map(w => s"(CASE WHEN contains(p, ' $w ') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      (lang, s"s_$lang", s"$s AS s_$lang")
    }
    val langs = scores.map(_._1)
    val chain = langs.init.zipWithIndex.map { case (lang, i) =>
      val rest = langs.drop(i + 1).map(l => s"s_$lang >= s_$l").mkString(" AND ")
      s"WHEN $rest THEN '$lang'"
    }.mkString(" ")
    s"""WITH s AS (SELECT doc_id, ${scores.map(_._3).mkString(", ")}
       |           FROM (SELECT doc_id, ' ' || text || ' ' AS p FROM documents))
       |SELECT doc_id, CASE $chain ELSE '${langs.last}' END AS lang_pred FROM s""".stripMargin
  }

  private[graft] def q19Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  private[graft] val q19Sql =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
      |                          '\s+', ' ', 'g'))) AS fp
      |FROM documents""".stripMargin

  private[graft] def q20DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")

  private[graft] val q20Sql =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_docs
      |FROM documents GROUP BY 1""".stripMargin

  // skew guard ON at the registration: shingles in >10% of the corpus are
  // boilerplate that would fan out quadratically in the inverted-index
  // join; at the driver SFs the cap drops nothing (max df is 25 of 5000
  // docs at sf0.1), so the oracle — which applies the identical cap —
  // certifies the guard really is a no-op on clean data
  private[graft] def q21NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
      n = 3, threshold = 0.5, maxShingleDfFrac = 0.1)

  /** q21's pair-pipeline CTE block, shared verbatim by the q48/q52
    * clustering oracles (appended after WITH / WITH RECURSIVE). */
  private[graft] val q21PairCtes =
    """t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id AS doc, sg FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
      |    THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [] END) AS sg FROM t)),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      |dfq AS (SELECT sg, count(*) AS df FROM sh0 GROUP BY 1),
      |sh AS (SELECT sh0.doc, sh0.sg FROM sh0 JOIN dfq USING (sg)
      |       CROSS JOIN nd WHERE df <= CEIL(n * 0.1)),
      |sz AS (SELECT doc, count(*) AS s FROM sh GROUP BY 1),
      |i AS (SELECT a.doc AS x, b.doc AS y, count(*) AS c
      |      FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc < b.doc GROUP BY 1, 2)""".stripMargin

  private[graft] val q21Sql =
    s"""WITH $q21PairCtes
      |SELECT x AS doc_a, y AS doc_b, c*1.0/(sa.s + sb.s - c) AS jaccard
      |FROM i JOIN sz sa ON i.x = sa.doc JOIN sz sb ON i.y = sb.doc
      |WHERE c*1.0/(sa.s + sb.s - c) >= 0.5""".stripMargin

  // ---------------------------------------------------------------------
  // q22–q24 — similarity search over embeddings (operators/Similarity):
  // exact brute-force top-k, LSH-bucketed ANN (the scale path), and
  // embedding-cosine near-dup pairs. Cosine is a codegen'd native
  // expression; the DuckDB oracle reproduces the identical left-to-right
  // double accumulation via list_reduce (verified bit-exact).
  // ---------------------------------------------------------------------
  /** DuckDB cosine with the same op order as functions.VectorOps.cosine,
    * including its zero-vector guard (either norm 0 → 0.0, never NaN). */
  private[graft] def duckCosine(a: String, b: String): String = {
    def dotOf(x: String, y: String): String =
      s"list_reduce(list_transform(generate_series(1, len($x)), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (x,y) -> x+y)"
    s"CASE WHEN ${dotOf(a, a)} = 0 OR ${dotOf(b, b)} = 0 THEN 0.0 " +
      s"ELSE ${dotOf(a, b)} / (sqrt(${dotOf(a, a)}) * sqrt(${dotOf(b, b)})) END"
  }

  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))

  private[graft] def probes(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))

  private[graft] def q22KnnBruteforce(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnBruteForce(corpus(spark, dir), probes(spark, dir), k = 5)

  private[graft] val q22Sql =
    s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 3),
      |s AS (SELECT probe_id, e.vec_id, ${duckCosine("pe", "e.embedding")} AS cosine
      |      FROM p, embeddings e WHERE e.vec_id <> p.probe_id),
      |r AS (SELECT probe_id, vec_id, cosine,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      |      FROM s)
      |SELECT probe_id, vec_id, cosine, rn FROM r WHERE rn <= 5""".stripMargin

  private[graft] def q23AnnLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.annLshBucketed(corpus(spark, dir), probes(spark, dir), k = 3)

  private[graft] val q23Sql =
    s"""WITH eb AS (SELECT vec_id, embedding, ${duckHyperplaneBucket("embedding", 0, 6)} AS bucket FROM embeddings),
      |p AS (SELECT vec_id AS probe_id, embedding AS pe, bucket AS pbucket FROM eb WHERE vec_id < 3),
      |s AS (SELECT probe_id, e.vec_id, ${duckCosine("pe", "e.embedding")} AS cosine
      |      FROM p JOIN eb e ON e.bucket = p.pbucket AND e.vec_id <> p.probe_id),
      |r AS (SELECT probe_id, vec_id, cosine,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rn
      |      FROM s)
      |SELECT probe_id, vec_id, cosine, rn FROM r WHERE rn <= 3""".stripMargin

  private[graft] def q24EmbeddingDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingCosinePairs(corpus(spark, dir), threshold = 0.4)

  private[graft] val q24Sql =
    s"""SELECT vec_a, vec_b, cosine FROM (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |         ${duckCosine("a.embedding", "b.embedding")} AS cosine
      |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id) t
      |WHERE cosine >= 0.4""".stripMargin

  // ---------------------------------------------------------------------
  // q25 — end-to-end dnstap codec drive (S3/S4 + P1–P8 + F1): events rows
  // are rendered into real dnstap protobuf frames (ProtoWriter + DNS wire
  // encoder), then decoded back through the full source path
  // (DnstapCodec.decode → DnsWire.parse → DnstapRows.toQueryRows). The
  // oracle recomputes the expected rows directly from events — any codec
  // bug breaks the hash match. Deserialization is inherently row-wise, so
  // this is a typed Dataset map (the one sanctioned non-columnar stage,
  // SURVEY §4 "custom work").
  // ---------------------------------------------------------------------
  private[graft] def q25DnstapPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qtypeCodes = Array(1, 5, 15, 16, 28, 65, 9999)
    val frames = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").as("k"))
      .as[(Long, java.sql.Timestamp, Long, String, String)]
      .map { case (eventId, ts, userId, eventType, k) =>
        val addr = Array(
          ((userId >> 24) & 0xff).toByte, ((userId >> 16) & 0xff).toByte,
          ((userId >> 8) & 0xff).toByte, (userId & 0xff).toByte)
        val wire = DnsWire.encode((eventId % 65536).toInt, 0, isResponse = false,
          Seq(DnsWire.Question(s"q$k.example.com.", qtypeCodes((userId % 7).toInt))))
        val inst = ts.toInstant
        DnstapCodec.encode(DnstapCodec.Frame(DnstapCodec.TypeMessage, Some(eventType),
          Some(DnstapCodec.Message(DnstapCodec.ClientQuery,
            queryAddress = Some(addr),
            queryPort = Some((1024 + userId % 60000).toInt),
            queryTimeSec = Some(inst.getEpochSecond),
            queryTimeNsec = Some(inst.getNano),
            queryMessage = Some(wire)))))
      }
    frames
      .flatMap(b => DnstapCodec.decode(b).toSeq.flatMap(f => DnstapRows.toQueryRows(f)))
      .select(col("queryTime").as("query_time"), col("identity"),
        col("queryAddress").as("query_address"), col("queryPort").as("query_port"),
        col("questionName").as("question_name"), col("questionType").as("question_type"),
        col("id").cast("long").as("id"), col("counter"))
  }

  private[graft] val q25Sql =
    """SELECT ts AS query_time, event_type AS identity,
      |  CAST((user_id // 16777216) % 256 AS VARCHAR) || '.' ||
      |    CAST((user_id // 65536) % 256 AS VARCHAR) || '.' ||
      |    CAST((user_id // 256) % 256 AS VARCHAR) || '.' ||
      |    CAST(user_id % 256 AS VARCHAR) AS query_address,
      |  CAST(1024 + user_id % 60000 AS INTEGER) AS query_port,
      |  'q' || json_extract_string(props, '$.k') || '.example.com.' AS question_name,
      |  CASE user_id % 7 WHEN 0 THEN 'A' WHEN 1 THEN 'CNAME' WHEN 2 THEN 'MX'
      |       WHEN 3 THEN 'TXT' WHEN 4 THEN 'AAAA' WHEN 5 THEN 'HTTPS'
      |       ELSE 'TYPE9999' END AS question_type,
      |  event_id % 65536 AS id,
      |  CAST(1 AS BIGINT) AS counter
      |FROM events""".stripMargin

  // ---------------------------------------------------------------------
  // q26–q28 — sketch-based dedup (operators/Dedup): MinHash signatures +
  // banded LSH candidates with exact-Jaccard verify, and 64-bit SimHash
  // fingerprints + hamming-distance pairs via 16-bit-band blocking. Oracle
  // SQL is generated from the same coefficient tables as the Scala
  // operators, over the shared dialect-portable base hash
  // (first 8 hex chars of md5 as an integer).
  // ---------------------------------------------------------------------
  private[graft] val shingleCte =
    """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS doc, sg FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
      |    THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
      |    ELSE [] END) AS sg FROM t))""".stripMargin
}
