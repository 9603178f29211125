package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation.
  *
  * Everything here is RNG-free: membership is a pure function of a
  * portable content hash ([[Dedup.baseHash32]] — first 8 hex chars of
  * md5), so samples are identical under task retry, micro-batch replay,
  * AQE re-planning, and across engines (the DuckDB oracle reproduces the
  * exact row set — something `rand()`-based sampling can never certify).
  * The predicate is a codegen'd column expression evaluated at the scan,
  * so at 100 TB the sample never materializes the rejected rows past the
  * filter.
  *
  * Every operator here hashes the id with a DISTINCT per-purpose salt
  * (except [[splitLabel]], the canonical unsalted split identity):
  * selections made by different operators over the same corpus must be
  * statistically independent, or composing them skews the realized
  * fractions — an unsalted 0.3-epoch subsample would keep exactly
  * hv < 30, wholly containing the val split (hv < 10) and realizing
  * 20/80 = 25% of train instead of 30%. The salt makes each operator's
  * hash a fresh uniform draw while staying replay-deterministic and
  * oracle-reproducible (the salt is a public string constant).
  */
object Sampling {

  /** Per-purpose salted hash — see the object scaladoc. */
  private def purposeHash(id: Column, salt: String): Column =
    Dedup.baseHash32(concat(id.cast("string"), lit(salt)))

  /** Membership predicate: hash(id||":sample") mod denom < num. */
  def hashSamplePredicate(id: Column, num: Int, denom: Int = 100): Column =
    pmod(purposeHash(id, ":sample"), lit(denom)) < lit(num)

  /** Keep ~num/denom of rows, chosen by id hash. */
  def hashSample(df: DataFrame, idCol: String, num: Int,
                 denom: Int = 100): DataFrame =
    df.filter(hashSamplePredicate(col(idCol), num, denom))

  /** Deterministic per-group cap: keep at most `n` rows per group,
    * chosen by hash order (not arrival order, which is
    * partitioning-dependent) — the "at most N documents per domain /
    * source / language" balancing step of a training-data mix. The hash
    * rank makes the kept set a pure function of the data, so
    * replay/retry/engine all agree (the DuckDB oracle reproduces it
    * row-for-row). Ties are impossible: the rank order is (hash, id),
    * and ids are unique.
    *
    * Scale form: a naive `row_number() OVER (PARTITION BY group)` puts
    * every row of a group into ONE task's sort — a single-reducer
    * scale-killer when the corpus is balanced over a handful of
    * languages/sources. Instead, rank selection runs in two bounded
    * phases over hash-prefix buckets (the q32 percentile trick):
    *
    *  1. count rows per (group, bucket) where bucket = hv >> shift
    *     preserves hash order — map-side combined, at most
    *     groups x `buckets` rows ever shuffle;
    *  2. a running sum over each group's <= `buckets` counts (bounded
    *     window state) gives each bucket its strictly-below row count;
    *     `below >= n` drops whole buckets BEFORE any sort, leaving at
    *     most n + one boundary bucket (~group_size/`buckets` rows) per
    *     group, which a (group, bucket) window ranks by (hash, id) —
    *     `rank <= n - below` is then exact for boundary rows and
    *     trivially true for rows of fully-kept buckets.
    *
    * One scan, one bounded histogram shuffle, and one window whose
    * partitions never exceed ~n + group_size/`buckets` rows, so the
    * operator survives a 100 TB corpus with 5 languages. The kept set is
    * bit-identical to the global-rank definition. */
  def capPerGroup(df: DataFrame, idCol: String, groupCol: String,
                  n: Int, buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val shift = 32 - java.lang.Integer.numberOfTrailingZeros(buckets)
    val withB = df
      .withColumn("__hv", Dedup.baseHash32(col(idCol).cast("string")))
      .withColumn("__bk", shiftright(col("__hv"), shift))
    // Phase 1: per-(group, bucket) histogram — partial-agg combined
    // before the shuffle, at most groups x buckets rows.
    val counts = withB
      .groupBy(col(groupCol).as("__g"), col("__bk").as("__b"))
      .agg(count(lit(1)).as("__cnt"))
    // Running count of rows in strictly-lower buckets; the window
    // partition holds at most `buckets` rows per group.
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = counts.withColumn("__below",
      coalesce(sum(col("__cnt")).over(wc), lit(0L)))
    // `below < n` prunes whole buckets past the rank-n threshold before
    // the sort; the surviving window partitions on (group, bucket) and so
    // holds at most the fully-kept rows (< n) plus one boundary bucket.
    val joined = withB
      .join(cum, withB(groupCol) <=> cum("__g") && withB("__bk") === cum("__b"))
      .filter(col("__below") < n)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__bk"))
      .orderBy(col("__hv"), col(idCol))
    joined
      .withColumn("__rk", row_number().over(wb))
      .filter(col("__rk") <= lit(n.toLong) - col("__below"))
      .drop("__rk", "__hv", "__bk", "__g", "__b", "__cnt", "__below")
  }

  /** Deterministic per-stratum weight budget: keep rows of each stratum
    * in salted-hash order while the running weight total (inclusive)
    * stays within `budget` — "each source contributes at most B tokens
    * to the mix", the budget-shaped sibling of [[capPerGroup]]'s
    * count-shaped rule. The kept set is a pure function of the data
    * (order is (hash, id); ids are unique, so no ties), replay-stable,
    * and exactly reproducible by the SQL oracle's running-sum window.
    * A single row heavier than the whole budget is dropped along with
    * everything after it — budget means budget.
    *
    * Scale form mirrors [[capPerGroup]], generalized from row counts to
    * weight sums: a naive `SUM(w) OVER (PARTITION BY stratum ORDER BY
    * hash)` sorts every row of a stratum in ONE task. Instead:
    *
    *  1. per-(stratum, bucket) weight sums, bucket = hash >> shift
    *     (order-preserving) — map-side combined, at most
    *     strata x `buckets` rows shuffle;
    *  2. a running sum over each stratum's <= `buckets` sums gives each
    *     bucket the weight strictly below it; `below >= budget` drops
    *     whole buckets BEFORE any sort, and the surviving rows (fully
    *     kept buckets plus one boundary bucket per stratum) take a
    *     bounded (stratum, bucket) window whose inclusive running sum
    *     finishes the exact rule: keep while below + run <= budget.
    */
  def weightBudget(df: DataFrame, idCol: String, weightCol: String,
                   stratumCol: String, budget: Long,
                   buckets: Int = 1024): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val shift = 32 - java.lang.Integer.numberOfTrailingZeros(buckets)
    // ENFORCED non-negative weights: the whole-bucket prune
    // (__below > budget drops the bucket before the exact per-row
    // filter) is only sound when running sums are monotone — a negative
    // weight (a correction/delta feed) could bring a later row back
    // under budget inside a dropped bucket. Fail loudly instead of
    // silently dropping rows the running-sum definition keeps.
    val guarded = df.filter(assert_true(
      col(weightCol).isNull || col(weightCol) >= 0,
      lit(s"weightBudget: negative $weightCol — the bucket prune needs a " +
        "monotone running sum; filter or clamp negative weights first")).isNull)
    val withB = guarded
      .withColumn("__hv", purposeHash(col(idCol), ":budget"))
      .withColumn("__bk", shiftright(col("__hv"), shift))
    val sums = withB
      .groupBy(col(stratumCol).as("__g"), col("__bk").as("__b"))
      .agg(sum(col(weightCol)).as("__wsum"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = sums.withColumn("__below",
      coalesce(sum(col("__wsum")).over(wc), lit(0L)))
    // <= (not <): a bucket whose strictly-below weight EQUALS the budget
    // can still keep leading zero-weight rows (inclusive cum == budget);
    // the final run filter rejects everything else in it
    val joined = withB
      .join(cum, withB(stratumCol) <=> cum("__g") && withB("__bk") === cum("__b"))
      .filter(col("__below") <= budget)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol), col("__bk"))
      .orderBy(col("__hv"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    joined
      .withColumn("__run", sum(col(weightCol)).over(wb))
      .filter(col("__below") + col("__run") <= budget)
      .drop("__hv", "__bk", "__g", "__b", "__wsum", "__below", "__run")
  }

  /** Deterministic shard id in [0, nShards): hash(id||":shard") mod n.
    * Shard membership is a pure function of the data — the shard a
    * document trains in never depends on partitioning, retries, or
    * engine — and the modulo is portable SQL (the DuckDB oracle
    * reproduces it). The salt keeps shards independent of split labels:
    * unsalted, any nShards sharing a factor with 100 concentrates each
    * split into a subset of shards (nShards=20 would put ALL val docs in
    * shards 0–9). */
  def shardId(id: Column, nShards: Int): Column =
    pmod(purposeHash(id, ":shard"), lit(nShards))

  /** Per-shard balance report: row count, total weight (e.g. chars or
    * tokens — what actually bounds a training step), id range. One
    * map-side-combined aggregation over nShards keys; at 100 TB this is
    * the cheap preflight that catches a skewed shard before a 1000-GPU
    * job does. */
  def shardStats(df: DataFrame, idCol: String, weightCol: String,
                 nShards: Int): DataFrame =
    df.groupBy(shardId(col(idCol), nShards).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol)).as("total_weight"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))

  /** Write the corpus as `nShards` hash-sharded parquet directories
    * (`shard=K/`). The explicit RANGE repartition on the shard column
    * aligns tasks 1:1 with output directories (contiguous shard ranges
    * per partition — hash repartition would collide several shard values
    * into one task and leave ~1/e of tasks empty), so each task writes
    * one shard's file run instead of every task spraying a file into
    * every shard directory (nShards × tasks small files — the classic
    * partitioned-write mistake at scale). COST NOTE: range partitioning
    * samples the input to place boundaries, so the upstream frame is
    * evaluated twice per write — persist/checkpoint the input first when
    * it is more than a scan, or accept hash repartition's collided
    * shards (still one file per directory, ~1/e of tasks idle). */
  def writeSharded(df: DataFrame, idCol: String, nShards: Int,
                   path: String): Unit =
    df.withColumn("shard", shardId(col(idCol), nShards))
      .repartitionByRange(nShards, col("shard"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)

  /** Deterministic train/val/test (or any K-way) split label: hash
    * buckets 0..99 are carved into contiguous ranges by percent weight,
    * in the order given; leftover buckets fall to `rest`. A document's
    * split never depends on partitioning or corpus growth — adding data
    * never moves an old doc between splits (the property a rand() split
    * lacks, and the one that keeps eval sets eval forever).
    *
    * This is the one UNSALTED selection — the canonical split identity
    * every other operator's salt protects its independence from. */
  def splitLabel(id: Column, weights: Seq[(String, Int)],
                 rest: String = "train"): Column = {
    require(weights.map(_._2).sum <= 100 && weights.forall(_._2 > 0),
      "split weights are positive percents summing to <= 100")
    val hv = pmod(Dedup.baseHash32(id.cast("string")), lit(100))
    val (expr, _) = weights.foldLeft((lit(rest): Column, 0)) {
      case ((acc, lo), (label, w)) =>
        (when(hv >= lo && hv < lo + w, label).otherwise(acc), lo + w)
    }
    expr
  }

  /** Epoch-weighted mixture expansion: emit each document `factor` times,
    * where factor is a per-stratum epoch count in hundredths (140 = 1.4
    * epochs, 30 = 0.3). The integer part replicates every doc; the
    * fractional part replicates a deterministic hash slice — so factor
    * 140 means every doc once plus a 40% slice again, and factor 30
    * SUBSAMPLES to a 30% slice. This is the "source X is seen 1.4 times
    * per training run" mixture step. Output adds a `copy` ordinal
    * (1-based). Pure row-local generate after one scan — no shuffle; the
    * output multiplies rows by the mean factor, which the caller chose.
    * The fractional slice uses the ":epoch"-salted hash, so composing
    * with [[splitLabel]] (the documented split → mix pipeline order)
    * realizes the requested fraction WITHIN each split instead of
    * correlating with the split boundaries. */
  def epochExpand(df: DataFrame, idCol: String, stratumCol: String,
                  factorCentiByStratum: Map[String, Int],
                  defaultCenti: Int = 100): DataFrame = {
    val centi = factorCentiByStratum.foldLeft(lit(defaultCenti)) {
      case (acc, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(f)).otherwise(acc)
    }
    val hv = pmod(purposeHash(col(idCol), ":epoch"), lit(100))
    val copies = (centi / lit(100)).cast("long") +
      when(hv < pmod(centi, lit(100)), 1L).otherwise(0L)
    df.withColumn("__n", copies)
      .withColumn("copy",
        explode(when(col("__n") >= 1, sequence(lit(1L), col("__n")))
          .otherwise(array().cast("array<bigint>"))))
      .drop("__n")
  }

  /** Temperature-flattened mixture weights: per-stratum sampling weights
    * w_s ∝ (total weight of stratum s)^T — the standard multilingual /
    * multi-source rebalance (T=1 is proportional sampling, T→0 uniform;
    * T=0.5 is the common compromise that upweights low-resource strata
    * without drowning the head). Emits per stratum: doc count, total
    * weight (e.g. tokens), the integer score floor(10^6 ·
    * total_weight^T), and the mixture share in parts-per-million via
    * integer division of score sums.
    *
    * Determinism contract: only T ∈ {0.5, 1.0} is accepted — sqrt is
    * IEEE-754 correctly rounded in every engine (pow is NOT), so
    * floor(10^6·sqrt(x)) is bit-identical between Spark and the DuckDB
    * oracle, and everything after the floor is integer-exact. The ppm
    * division is `div` (integer division) over DECIMAL(38,0) operands —
    * exact divideToIntegralValue, so there is no Long overflow at 100 TB
    * token totals AND no intermediate decimal rounding (a plain decimal
    * `/` rounds HALF_UP at scale 6 before any floor — one-off-high at
    * quotients within 5e-7 of an integer); operands are positive, so
    * truncate-vs-floor dialect differences cannot bite either.
    *
    * Scale: one map-side-combined aggregation to #strata rows, a 1-row
    * score total broadcast back over them — nothing here ever holds more
    * than #strata rows after the first aggregation. */
  def temperatureMixWeights(df: DataFrame, stratumCol: String,
                            weightCol: String,
                            temperature: Double = 0.5): DataFrame = {
    require(temperature == 0.5 || temperature == 1.0,
      "temperatureMixWeights: only T=0.5 (sqrt, IEEE-exact and therefore " +
        s"oracle-portable) and T=1.0 are supported, got $temperature")
    val per = df.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(col(weightCol)).as("total_weight"))
    val score =
      if (temperature == 1.0) col("total_weight")
      else floor(lit(1000000.0) * sqrt(col("total_weight").cast("double")))
        .cast("long")
    val scored = per.withColumn("score", score)
    val tot = scored.agg(sum(col("score")).as("__tot"))
    // ppm through DECIMAL(38,0): score * 1e6 overflows Long once a
    // stratum passes ~9.2e12 tokens at T=1.0 — squarely inside the
    // 100 TB envelope. `div` on decimals is exact divideToIntegralValue
    // (NOT floor of a rounded `/` quotient, which rounds HALF_UP at
    // scale 6 first and can land one too high near-integer quotients).
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    scored.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_docs"), col("total_weight"), col("score"),
        call_function("div",
          col("score").cast(dec38) * lit(1000000L), col("__tot").cast(dec38))
          .cast("long").as("weight_ppm"))
  }

  /** Stratified variant: per-stratum keep rates (percent), e.g. keep 50%
    * of English but 100% of low-resource languages — the standard
    * training-mix rebalance. Unlisted strata fall back to `defaultPct`.
    * One scan, no shuffle: the stratum column and the hash predicate
    * compose into a single filter. */
  def stratifiedHashSample(df: DataFrame, idCol: String, stratumCol: String,
                           pctByStratum: Map[String, Int],
                           defaultPct: Int): DataFrame = {
    val pct = pctByStratum.foldLeft(lit(defaultPct)) {
      case (acc, (stratum, p)) =>
        when(col(stratumCol) === stratum, lit(p)).otherwise(acc)
    }
    df.filter(pmod(purposeHash(col(idCol), ":sample"), lit(100)) < pct)
  }

  /** Keep the top `n` rows of each group by a non-null, non-negative
    * integer SCORE (descending, ties to the lower id) — "the N longest / most
    * valuable documents per source", the score-ordered sibling of
    * [[capPerGroup]]'s hash-ordered cap. Same two-phase shape, but
    * hash-prefix buckets are replaced by score-bit-length bands (the
    * count-banding of CorpusStats.vocabDrift): ascending band order is
    * descending score magnitude, so whole bands past rank n drop before
    * any sort, and the surviving (group, band) windows re-sort by the
    * exact (score desc, id) order. Bit-identical to the global-rank
    * definition; no full-group window ever forms. */
  def topPerGroupByScore(df: DataFrame, idCol: String, groupCol: String,
                         scoreCol: String, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // ENFORCED non-null, non-negative: bin() of a negative long is a
    // 64-char two's-complement string, so a negative score would band at
    // -64 and silently outrank every positive score; a NULL score would
    // band to a NULL __bk that the band equi-join silently DROPS —
    // diverging from the nulls-last rank definition. Fail loudly on both
    // (the simHashPairs maxHamming-guard contract); callers with nullable
    // scores coalesce to a sentinel first.
    val guarded = df.filter(assert_true(
      col(scoreCol).isNotNull && col(scoreCol) >= 0,
      lit(s"topPerGroupByScore: NULL or negative $scoreCol — score " +
        "banding requires non-null, non-negative scores; coalesce or " +
        "clamp the score first")).isNull)
    val withB = guarded.withColumn("__bk", -length(bin(col(scoreCol))))
    val counts = withB
      .groupBy(col(groupCol).as("__g"), col("__bk").as("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = counts.withColumn("__below",
      coalesce(sum(col("__cnt")).over(wc), lit(0L)))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__bk"))
      .orderBy(col(scoreCol).desc, col(idCol))
    withB
      .join(cum, withB(groupCol) <=> cum("__g") && withB("__bk") === cum("__b"))
      .filter(col("__below") < n)
      .withColumn("__rk", row_number().over(wb))
      .filter(col("__rk") <= lit(n.toLong) - col("__below"))
      .drop("__rk", "__bk", "__g", "__b", "__cnt", "__below")
  }

  /** Deterministic GLOBAL training order: every row gets a contiguous
    * 0-based position `pos`, ordered by (bin asc, hash asc, id asc) —
    * the curriculum/shuffle step of a training pipeline ("easy bins
    * first, deterministically shuffled within each bin"). The order is a
    * pure function of the data (":order"-salted hash, ids unique → no
    * ties), so a resumed or re-run job reads the same sequence — which
    * is what makes checkpoint-resume training reproducible.
    *
    * Scale form — a naive `row_number() OVER (ORDER BY ...)` is a
    * SINGLE-TASK global sort. Instead, the [[capPerGroup]] two-phase
    * bucket-histogram trick, globalized:
    *
    *  1. count rows per (bin, bucket), bucket = hv >> shift
    *     (order-preserving within a bin) — map-side combined, at most
    *     bins x `buckets` rows shuffle;
    *  2. a running count over the (bin, bucket) sequence — a window over
    *     <= bins x buckets TOTAL rows (one bounded task, explicitly not
    *     per-row work) — gives each bucket its global offset;
    *  3. row_number within each (bin, bucket) + offset = exact global
    *     position; each window partition holds ~n/(bins x buckets) rows.
    *
    * The emitted order equals the single-sort definition row-for-row
    * (the SQL oracle states it as one ROW_NUMBER). Downstream writers
    * keep locality: `repartitionByRange(pos)` gives sequential shards. */
  def globalOrder(df: DataFrame, idCol: String, binCol: String,
                  buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val shift = 32 - java.lang.Integer.numberOfTrailingZeros(buckets)
    val withB = df
      .withColumn("__hv", purposeHash(col(idCol), ":order"))
      .withColumn("__bk", shiftright(col("__hv"), shift))
    val counts = withB
      .groupBy(col(binCol).as("__g"), col("__bk").as("__b"))
      .agg(count(lit(1)).as("__cnt"))
    // global running count across ALL (bin, bucket) pairs, in order —
    // the unpartitioned window is the deliberate bounded single task
    // over bins x buckets histogram rows, never data rows
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("__g"), col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = counts.withColumn("__off", coalesce(sum(col("__cnt")).over(wc), lit(0L)))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col(binCol), col("__bk"))
      .orderBy(col("__hv"), col(idCol))
    withB
      .join(cum, withB(binCol) <=> cum("__g") && withB("__bk") === cum("__b"))
      .withColumn("pos", col("__off") + row_number().over(wb) - 1)
      .drop("__hv", "__bk", "__g", "__b", "__cnt", "__off")
  }

  /** Deterministic weighted sampling without replacement (priority
    * sampling, Duffield–Lund–Thorup): each row draws the deterministic
    * 60-bit uniform u = hash(id||":pri") + 1 and gets priority w/u —
    * the top-k rows by priority are a weighted sample in which a row's
    * inclusion probability is ∝ its weight, and the whole draw replays
    * bit-identically under retry/replay/engine (the [[hashSample]]
    * guarantee extended to WEIGHTED selection, which `rand()`-based
    * A-Res sampling can never certify).
    *
    * Exactness discipline: the priority itself is ONE double division
    * w/u (identical IEEE-754 operation on both engines, so the ORDER
    * is cross-engine deterministic; ties — distinct rationals colliding
    * after rounding — break by id in both engines) and is never
    * emitted: output columns are integers only.
    *
    * Scale: orderBy+limit plans as TakeOrderedAndProject — each
    * partition keeps a k-row heap and only |partitions|·k rows ever
    * reach the driver-side merge; there is NO full sort and NO shuffle
    * of the corpus. The rejected 1 − k/n of the data dies at the scan.
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pri = priorityDraw(col(idCol), col(weightCol))
    // the unpartitioned rank window runs AFTER limit(k): a deliberate
    // bounded single task over <= k rows (the globalOrder convention),
    // never over the input
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(pri.desc, col(idCol))
    df.withColumn("__pri", pri)
      .orderBy(col("__pri").desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .drop("__pri")
  }

  /** 60-bit per-purpose salted hash — [[purposeHash]]'s wide sibling
    * for order-by-priority use where 32 bits of u granularity would
    * make rounding ties common. */
  private def purposeHash60(id: Column, salt: String): Column =
    Dedup.baseHash60(concat(id.cast("string"), lit(salt)))

  /** THE priority draw of [[prioritySample]] — shared by the grouped
    * aggregate form so both select the same sample: one IEEE double
    * division of the weight by the deterministic 60-bit uniform. */
  private[graft] def priorityDraw(id: Column, w: Column): Column =
    w.cast("double") / (purposeHash60(id, ":pri") + lit(1L)).cast("double")

  /** Per-group weighted sample via the native mergeable k-ledger
    * aggregate ([[graft.functions.TopKPriorityAgg]]) — same draw as
    * [[prioritySample]], but ONE aggregation instead of a per-group
    * sort window: map-side partials keep ≤ k entries each, so a
    * billion-row group costs its scan plus k-ledger merges.
    * Output: (groupCol, doc_id, w, rank). */
  def groupedPrioritySample(df: DataFrame, idCol: String,
                            weightCol: String, groupCol: String,
                            k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the draw uses the LONG-CAST weight — the same value the ledger
    // stores; drawing from a fractional raw weight would make a
    // priority re-derived from the ledger differ near the k boundary
    df.groupBy(col(groupCol))
      .agg(graft.functions.TopKPriorityFunctions.topk_priority_agg(
        col(idCol).cast("long"), col(weightCol).cast("long"),
        priorityDraw(col(idCol), col(weightCol).cast("long")), k).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col(groupCol), col("__e.doc_id").as("doc_id"),
        col("__e.w").as("w"), (col("__i") + 1).cast("long").as("rank"))
  }

  /** Equal-frequency (quantile) feature binning — the discretization
    * step before bucketed training features or stratified reporting:
    * each row's bin is ⌊nBins·(rank−1)/n⌋ over its group's exact
    * (value, id) rank. NOT ntile(): the explicit floor formula is
    * stated identically in both engines (ntile's remainder rule is a
    * second thing to keep in sync), and the rank comes from the
    * TWO-PHASE banded engine — counts per (group, value-band), a
    * bounded running-offset window over ≤ bands rows per group, then
    * row_number INSIDE each (group, band) — never a bare-group sort
    * window (the q53/q32 single-reducer discipline; bands preserve
    * value order, so offset + in-band rank is the exact global rank).
    *
    * @param bandWidth width of the value bands phase 1 counts —
    *        pick so groups' value ranges span ≥ ~64 bands
    * @return input columns + `bin` (0-based, < nBins) */
  def equalFreqBins(df: DataFrame, groupCol: String, valueCol: String,
                    idCol: String, nBins: Int, bandWidth: Long): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(bandWidth >= 1, s"bandWidth must be >= 1, got $bandWidth")
    // NULL values are excluded (the byRank convention, stated rather
    // than silently losing them through the band equi-join)
    val withB = df.filter(col(valueCol).isNotNull).withColumn("__band",
      graft.functions.IntMath.floordiv(col(valueCol), bandWidth))
    val counts = withB.groupBy(col(groupCol).as("__g"), col("__band").as("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))
    val cum = counts
      .withColumn("__off", coalesce(sum(col("__cnt")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(wTot))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__band"))
      .orderBy(col(valueCol), col(idCol))
    withB
      .join(cum, withB(groupCol) <=> cum("__g") && withB("__band") === cum("__b"))
      .withColumn("__rank", col("__off") + row_number().over(wIn))
      .withColumn("bin",
        expr(s"($nBins" + "L * (__rank - 1)) div __n"))
      .drop("__band", "__g", "__b", "__cnt", "__off", "__n", "__rank")
  }

  /** Rendezvous (highest-random-weight) shard assignment: a row's
    * shard under n shards is argmax over s ∈ [0, n) of
    * hash(id||":hrw:"||s). Unlike mod-n sharding ([[shardId]]), moving
    * n → n+1 relocates only ~1/(n+1) of the rows — the property that
    * makes resharding a 100 TB corpus an incremental copy instead of a
    * full rewrite. The argmax is one narrow generated-array expression
    * per row (no explode, no join, no shuffle); ties are impossible in
    * practice (60-bit hashes) and break toward the lowest shard id on
    * both engines by construction. */
  def rendezvousShard(id: Column, nShards: Int): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val hashes = array((0 until nShards).map(s =>
      purposeHash60(id, s":hrw:$s")): _*)
    (array_position(hashes, array_max(hashes)) - 1).cast("long")
  }

  /** Per-shard balance + movement card for [[rendezvousShard]]: rows
    * and weight per shard under `nShards`, plus how many of the
    * shard's rows would RELOCATE under nShards+1 — the measured
    * minimal-movement property (expect ≈ n_rows/(nShards+1) total,
    * vs ~all for mod-n). */
  def rendezvousCard(df: DataFrame, idCol: String, weightCol: String,
                     nShards: Int): DataFrame =
    df.select(rendezvousShard(col(idCol), nShards).as("shard"),
        rendezvousShard(col(idCol), nShards + 1).as("__next"),
        col(weightCol).as("__w"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__w")).cast("long").as("sum_w"),
        sum(when(col("__next") =!= col("shard"), 1L).otherwise(0L))
          .as("n_moved"))
}
