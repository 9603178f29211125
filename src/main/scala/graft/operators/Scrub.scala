package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-scrubbing operators for a training-data pipeline: PII redaction
  * and benchmark decontamination. Like [[TextAnalysis]], everything is
  * built from codegen'd `org.apache.spark.sql.functions` — regex scrub is
  * a per-row map with no shuffle, and decontamination is a broadcast
  * semi-join against the (small) benchmark shingle set, so both scale
  * linearly in corpus size.
  */
object Scrub {

  /** PII patterns, deliberately RE2-compatible (no backreferences or
    * lookaround) so the DuckDB oracle runs the byte-identical regex. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 literals and NANP-style phone numbers with typed
    * placeholder tokens. Email first: the other patterns cannot create new
    * email matches, and `<EMAIL>` contains no digits to confuse them. */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    regexp_replace(noIp, PhonePattern, "<PHONE>")
  }

  /** Occurrence counts per PII class (on the UNredacted text) — the audit
    * trail a compliance pass wants next to the scrub itself. */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long"),
    "n_ipv4" -> size(regexp_extract_all(text, lit(Ipv4Pattern), lit(0))).cast("long"),
    "n_phones" -> size(regexp_extract_all(text, lit(PhonePattern), lit(0))).cast("long"))

  /** Benchmark decontamination: count, per training document, the distinct
    * n-token shingles it shares with an evaluation corpus — documents with
    * hits are contaminated and must be dropped before training (the
    * standard eval-leakage guard).
    *
    * Plan shape at 100 TB: the training side explodes to distinct
    * (doc, shingle-HASH) pairs with map-side combine — shingles are
    * xxhash64'd BEFORE the distinct, so the only corpus-sized shuffle
    * moves fixed 8-byte keys, never n-token text (the same one-universe
    * convention as the whole Jaccard/fuzzy blocking family; a 64-bit
    * collision merging two shingles is negligible-probability at any
    * corpus size — note a cross-side collision, a train-only shingle
    * hashing equal to an eval-only shingle, WOULD invent a spurious
    * hit, so the guarantee is probabilistic, not structural). The eval
    * side — benchmark suites are tiny relative to a training corpus —
    * collapses to distinct hashes and is BROADCAST, so the corpus never
    * shuffles on the join and the whole operator is scan → explode →
    * broadcast-semi-join → one aggregate on doc id.
    *
    * The broadcast assumption is ENFORCED, not hoped for: a distinct
    * shingle count above `maxEvalShingles` kills the job with a clear
    * message before the broadcast build can OOM an executor (the guard
    * lives inside the broadcast subtree, so the count completes first —
    * same contract as `Similarity.knnBruteForce`). The bound counts
    * shingles, not bytes — size it to shingle width; Spark's broadcast
    * limits remain the hard backstop. An eval suite past the bound
    * should be decontaminated in batches, or pass `maxEvalShingles = 0`
    * to drop the hint entirely and let AQE pick the join (degrades to a
    * shuffle join on shingle past the broadcast threshold — slower,
    * never OOM).
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String, n: Int = 5,
                    maxEvalShingles: Long = 1L << 22): DataFrame = {
    def shingleSet(df: DataFrame, keys: Column*): DataFrame =
      ShingleIndex.build(df, keys, col(textCol), n)
    val trainSh = shingleSet(train, col(idCol))
    val evalSh =
      if (maxEvalShingles <= 0) shingleSet(eval)
      else {
        // the guard path has two consumers of the eval shingle pipeline
        // (the count aggregate and the broadcast stream) — materialize it
        // once so tokenize+explode+distinct doesn't run twice (same
        // eager-localCheckpoint trade as the Dedup pair family)
        val evalSh0 = shingleSet(eval).localCheckpoint()
        // the 1-row count stays explicitly broadcast: if Catalyst chose
        // the shingle side as build side, the full eval set would be
        // collected before the assert runs — the window the guard closes
        val nSh = evalSh0.agg(count(lit(1)).as("__n_sg"))
        broadcast(evalSh0.crossJoin(broadcast(nSh))
          .filter(assert_true(col("__n_sg") <= lit(maxEvalShingles),
            lit(s"decontaminate: eval shingle set exceeds maxEvalShingles=" +
              s"$maxEvalShingles; batch the eval suite or pass " +
              "maxEvalShingles=0 to allow a shuffle join")).isNull)
          .drop("__n_sg"))
      }
    trainSh.join(evalSh, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits")) // (id, h) distinct ⇒ count = distinct shingles
  }

  /** FUZZY benchmark decontamination: training documents within edit
    * distance `maxDistBp` basis points (of the longer body) of any eval
    * document — catches the paraphrased/reformatted eval leaks that
    * exact shingle overlap ([[decontaminate]]) underweights. Two stages:
    *
    *  1. BLOCKING — candidate (train, eval) pairs share at least one
    *     n-token shingle; only 64-bit shingle hashes shuffle, and the
    *     candidate set is id pairs, not bodies. n is the recall/cost
    *     knob: a pair within maxDistBp edit distance almost surely
    *     shares a verbatim n-gram (n=5 default), while short n explodes
    *     the candidate set superlinearly with corpus growth (measured
    *     n=3: 1.2k pairs at sf0.01 -> 106k at sf0.1; n=5: 2 -> 134 with
    *     identical final output — blocking recall is heuristic, the
    *     verify stage is exact on whatever survives).
    *     `maxShingleDfFrac` > 0 additionally drops shingles present in
    *     more than that fraction of TRAIN documents from blocking (the
    *     `Dedup.incrementalJaccardPairs` agg+anti-join cap): one viral
    *     boilerplate 5-gram in f% of train docs and most eval docs
    *     would otherwise emit |train_f| x |eval| candidate pairs, each
    *     paying a full-body levenshtein — the exact quadratic hot key
    *     the Jaccard family caps. Dropping it from one join side kills
    *     the pair, so only the train side is filtered. Like n itself
    *     this trades blocking recall for a bounded fan-out; pairs whose
    *     ONLY shared shingle is viral are no longer candidates (they
    *     share boilerplate, not content).
    *  2. VERIFY — `levenshtein` (identical integer semantics in Spark
    *     and DuckDB — the oracle certifies the distances themselves) on
    *     the candidate bodies only. Train bodies take one id-keyed
    *     exchange to meet their candidate ids; the eval side broadcasts
    *     (an eval suite is bounded by contract — same assumption as
    *     [[decontaminate]]'s guarded broadcast). Before levenshtein
    *     runs, candidates failing the FREE necessary length condition
    *     are pruned: lev(a,b) >= abs(|a|-|b|), so a pair whose length
    *     difference alone already lands past `maxDistBp` cannot reach
    *     the final threshold — the floor-form comparison is the exact
    *     dist_bp expression applied to the length gap, monotone in lev,
    *     hence semantics-preserving for the thresholded output while
    *     skipping the O(|a|*|b|) distance on hopeless pairs.
    *
    * Output: (id, eval_id, lev, dist_bp), dist_bp = floor(10000 *
    * lev / max(|train body|, |eval body|)) — integer-exact. */
  def fuzzyDecontaminate(train: DataFrame, eval: DataFrame,
                         idCol: String, textCol: String, n: Int = 5,
                         maxDistBp: Long = 3000L,
                         maxEvalDocs: Long = 1L << 20,
                         maxShingleDfFrac: Double = 0.0): DataFrame = {
    def shingleHashes(df: DataFrame, as: String): DataFrame =
      ShingleIndex.build(df, Seq(col(idCol).as(as)), col(textCol), n)
    val trainSh0 = shingleHashes(train, "__tid")
    val trainSh =
      if (maxShingleDfFrac <= 0) trainSh0
      else {
        // two plan consumers (the df aggregate and the anti-join probe
        // side) — materialize the tokenize/explode/distinct pipeline
        // once, the same eager-localCheckpoint trade as the Dedup pair
        // family. The cap itself is the shared ShingleIndex.capped.
        val t0 = trainSh0.localCheckpoint()
        val nTrain = train.agg(countDistinct(col(idCol)).as("__n"))
        ShingleIndex.capped(t0, t0, Some(nTrain), 0L, maxShingleDfFrac)
      }
    val cand = trainSh
      .join(shingleHashes(eval, "eval_id"), "h")
      .select(col("__tid"), col("eval_id")).distinct()
    // the eval-body broadcast is ENFORCED-bounded, knnBruteForce-style:
    // the 1-row count is a stage dependency of the broadcast child, so
    // an oversized eval suite fails loudly before the build can OOM
    val nEval = eval.agg(count(lit(1)).as("__n_eval"))
    val evalBodies = eval.select(col(idCol).as("eval_id"), col(textCol).as("__et"))
      .crossJoin(broadcast(nEval))
      .filter(assert_true(col("__n_eval") <= lit(maxEvalDocs),
        lit(s"fuzzyDecontaminate: eval side exceeds maxEvalDocs=$maxEvalDocs; " +
          "batch the eval suite")).isNull)
      .drop("__n_eval")
    val out = cand
      .join(train.select(col(idCol).as("__tid"), col(textCol).as("__tt")), "__tid")
      .join(broadcast(evalBodies), "eval_id")
      // length prune BELOW the levenshtein projection: dist_bp applied
      // to the length gap is a lower bound on the pair's dist_bp (lev >=
      // abs(len diff), floor is monotone), so dropped pairs could never
      // pass the final filter. Uses abs() so PlanAuditSpec can pin the
      // prune's position relative to the levenshtein projection. The
      // gap is cast to long BEFORE the x10000 (like dist_bp's lev):
      // an int multiply overflows (throws, under ANSI) at ~215 KB gaps.
      .filter(floor(abs(length(col("__tt")) - length(col("__et"))).cast("long")
        * 10000 /
        greatest(length(col("__tt")), length(col("__et")))) <= maxDistBp)
      .withColumn("lev", levenshtein(col("__tt"), col("__et")).cast("long"))
      .withColumn("dist_bp",
        floor(col("lev") * 10000 / greatest(length(col("__tt")), length(col("__et"))))
          .cast("long"))
      .filter(col("dist_bp") <= maxDistBp)
    out.select(col("__tid").as(idCol), col("eval_id"), col("lev"), col("dist_bp"))
  }

  /** k-anonymity audit card — the re-identification governance check
    * PII REDACTION cannot give ([[redactPii]] removes direct
    * identifiers; this measures the QUASI-identifiers left behind): for
    * each threshold k, how many (quasi-column combination) groups hold
    * fewer than k rows, and what share of all rows sits in them? A row
    * in a size-1 group is unique on its quasi-identifiers —
    * re-identifiable by anyone holding an external table with the same
    * columns; risk_bp is the exact share of such rows in basis points.
    *
    * Scale: ONE map-side-combined groupBy over the quasi columns
    * collapses the corpus to |distinct combinations| rows; the
    * per-threshold lines come from exploding the (literal, tiny) k
    * axis over that frame — everything after the first aggregation is
    * combination-sized, window-free, and the totals ride a 1-row
    * broadcast. Bucket continuous quasi columns BEFORE calling (a
    * raw measurement column would make every group size 1 and the
    * audit vacuous — caller's modeling decision, documented).
    *
    * @return one row per k: (k, n_groups, n_rows, n_groups_below,
    *         n_rows_at_risk, min_group_size, risk_bp) */
  def kAnonymityCard(df: DataFrame, quasiCols: Seq[String],
                     ks: Seq[Long] = Seq(2L, 5L, 10L)): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(ks.nonEmpty && ks.forall(_ >= 2L),
      s"thresholds must all be >= 2, got ${ks.mkString(",")}")
    val sizes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint() // consumed by totals AND the per-k explode
    val totals = sizes.agg(count(lit(1)).as("n_groups"),
      sum(col("__c")).as("n_rows"),
      min(col("__c")).as("min_group_size"))
    val kAxis = array(ks.map(lit): _*)
    sizes
      .select(explode(kAxis).as("k"), col("__c"))
      .groupBy(col("k"))
      .agg(sum(when(col("__c") < col("k"), 1L).otherwise(0L))
        .as("n_groups_below"),
        sum(when(col("__c") < col("k"), col("__c")).otherwise(0L))
          .as("n_rows_at_risk"))
      .crossJoin(broadcast(totals))
      .select(col("k"), col("n_groups"), col("n_rows"),
        col("n_groups_below"), col("n_rows_at_risk"),
        col("min_group_size"),
        expr("(10000L * n_rows_at_risk) div n_rows").as("risk_bp"))
  }

  /** Cross-source overlap matrix: exact pairwise shingle-set Jaccard
    * between every pair of groups (sources, crawls, snapshots), in
    * parts-per-million. The contamination panel [[decontaminate]]
    * doesn't give: decontaminate answers "is THIS doc tainted by THAT
    * benchmark"; this answers "which ingestion sources are feeding me
    * the same content" — the dedup-budget planner and the
    * provenance-dispute auditor read the same matrix.
    *
    * Scale: the corpus collapses to DISTINCT (group, shingle-hash)
    * pairs (60-bit portable hashes — text never shuffles; map-side
    * combine on the distinct). The intersection self-join fans each
    * shingle out by at most |groups|² — sound ONLY for modest group
    * cardinality, so the operator counts groups first and refuses
    * loudly past `maxGroups` (the kAnonymityCard caller-contract made
    * enforceable: one cheap single-column distinct count). Group sizes
    * (≤ |groups| rows) broadcast onto the pair frame; the full matrix
    * including zero-overlap pairs comes from the size-frame pair axis
    * (≤ |groups|² rows, broadcast nested loop over two tiny frames).
    *
    * @return one row per unordered pair (group_a < group_b):
    *         (group_a, group_b, n_a, n_b, n_common, jaccard_ppm). */
  def sourceOverlapMatrix(docs: DataFrame, groupCol: String,
                          textCol: String, n: Int = 3,
                          maxGroups: Int = 1024): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    // ONE narrow (column-pruned) scan serves BOTH the group-cardinality
    // guard and the pair axis — the axis must be built from ALL groups,
    // not just shingle-bearing ones, or a source of sub-n-token docs
    // silently vanishes from the matrix instead of reporting 0 ppm
    val groups = docs.select(col(groupCol).as("__g")).distinct()
      .localCheckpoint()
    val nGroups = groups.count()
    require(nGroups <= maxGroups,
      s"sourceOverlapMatrix saw $nGroups groups (> $maxGroups): the " +
        "intersection join fans out by |groups|^2 per shingle — bucket " +
        "the group column or raise maxGroups deliberately")
    // the hash only keys the intersection join — both engines count
    // distinct common shingles through their own collision-free-on-data
    // identity (the oracle its md5-60, this side ShingleIndex's)
    val sh = ShingleIndex.build(docs, Seq(col(groupCol).as("__g")),
        col(textCol), n)
      .localCheckpoint() // sizes AND both sides of the intersection join
    val sizes = groups.join(
        sh.groupBy(col("__g")).agg(count(lit(1)).as("__n0")),
        Seq("__g"), "left")
      .select(col("__g"), coalesce(col("__n0"), lit(0L)).as("__n"))
    val inter = sh.as("a").join(sh.as("b"), Seq("h"))
      .where(col("a.__g") < col("b.__g"))
      .groupBy(col("a.__g").as("__ga"), col("b.__g").as("__gb"))
      .agg(count(lit(1)).as("n_common"))
    val axis = sizes.as("sa").join(sizes.as("sb"),
        col("sa.__g") < col("sb.__g"))
      .select(col("sa.__g").as("__ga"), col("sb.__g").as("__gb"),
        col("sa.__n").as("n_a"), col("sb.__n").as("n_b"))
    axis.join(broadcast(inter), Seq("__ga", "__gb"), "left")
      .select(col("__ga").as("group_a"), col("__gb").as("group_b"),
        col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      // two shingle-less groups share nothing and miss nothing: 0 ppm
      // by convention (the CASE also keeps the division away from 0/0)
      .withColumn("jaccard_ppm",
        expr("CAST(CASE WHEN n_a + n_b - n_common = 0 THEN 0 " +
          "ELSE (1000000L * n_common) div (n_a + n_b - n_common) END " +
          "AS BIGINT)"))
  }
}
