package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dense time-series gap-fill — the dashboard/monitoring primitive the
  * q9/q10 sparse series lack: a (key, bucket) count series where EVERY
  * bucket in the observed range appears, zero-filled, so downstream
  * movers (rate-of-change, anomaly windows, chart axes) never trip on
  * missing rows.
  *
  * Scale shape: the only data-sized work is one map-side-combined
  * (key, bucket) count. The dense axis is GENERATED, not scanned —
  * sequence() over a 1-row min/max aggregate, cross-joined with the
  * distinct key set — so its size is |keys| × |calendar buckets|,
  * bounded by wall-clock time and key cardinality, independent of row
  * count; at 100 TB the axis for a year of hours and a thousand keys
  * is ~9M rows, trivia next to the scan. After the count aggregation
  * every frame in the plan is axis-sized.
  */
object TimeSeries {

  /** Zero-filled per-`keyCol` counts in `bucketSec`-wide buckets over
    * the data's observed [min, max] bucket range. Output: (keyCol,
    * bucket_id, n_events) with bucket_id = epoch_seconds DIV bucketSec
    * — integer division TRUNCATING toward zero, the cross-engine-paired
    * semantics (Spark `DIV` == DuckDB `//`; for pre-1970 timestamps
    * this is NOT floor division). Rows with NULL `tsCol` are excluded
    * from the densified axis (min/max ignore the NULL bucket and the
    * generated axis never contains it — the same NULL exclusion
    * Percentiles.byRank documents). */
  def gapFill(df: DataFrame, keyCol: String, tsCol: String,
              bucketSec: Long): DataFrame = {
    require(bucketSec >= 1, s"bucketSec must be positive, got $bucketSec")
    val b = df.select(col(keyCol),
      expr(s"CAST(${tsCol} AS LONG) DIV ${bucketSec}L").as("bucket_id"))
    // the axis law lives ONCE, in densify — every observed key and
    // bucket appears in the count frame, so densifying it is exactly
    // the keys × [min, max] axis with zeros
    densify(b.groupBy(col(keyCol), col("bucket_id"))
      .agg(count(lit(1)).as("n")), keyCol)
  }

  /** Per-key trailing-window features over an event stream — the
    * feature-engineering primitive of fraud/abuse/engagement models:
    * for every event, the count / integer-cent sum / max of the key's
    * events in the trailing `windowSec` seconds, plus the exact gap to
    * the key's previous event.
    *
    * Exactness: the trailing frame is a RANGE frame over integer epoch
    * microseconds, so frame MEMBERSHIP is integer-exact and identical
    * regardless of how ties are ordered (a RANGE frame includes every
    * peer row — the reason this is hash-stable where a ROWS frame over
    * a tie would not be). The summed quantity is ⌊value·100⌋ — one
    * deterministic double multiply+floor per row, then integer sums —
    * never a float accumulation; max is order-free. The gap feature
    * does depend on order, so ITS window orders by (ts, event_id) —
    * total, hence deterministic.
    *
    * Scale: ONE exchange on the key; all three windows declare the
    * same partitioning so Catalyst plans a single shuffle and sorts
    * within it. Frame state is bounded by the window's time width, not
    * the key's history — a hot key costs memory proportional to its
    * event rate × windowSec only.
    */
  def rollingFeatures(df: DataFrame, keyCol: String, tsCol: String,
                      idCol: String, valueCol: String,
                      windowSec: Long): DataFrame = {
    require(windowSec >= 1, s"windowSec must be positive, got $windowSec")
    val us = windowSec * 1000000L
    val withT = df.withColumn("__tus", unix_micros(col(tsCol)))
      .withColumn("__cents", floor(col(valueCol) * lit(100.0)).cast("long"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__tus"))
      .rangeBetween(-us, 0)
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__tus"), col(idCol))
    withT.select(col(idCol), col(keyCol), col("__tus").as("ts_us"),
      count(lit(1)).over(wr).as("n_win"),
      sum(col("__cents")).over(wr).as("cents_win"),
      max(col("__cents")).over(wr).as("max_cents_win"),
      coalesce(col("__tus") - lag(col("__tus"), 1).over(wl), lit(-1L))
        .as("gap_us"))
  }

  /** Exponentially-decayed trailing feature ([[rollingFeatures]]'s
    * recency-weighted sibling): over the last `depth` events of the
    * key, Σ trunc(cents_j / 2^(age_j)) — the newest event counts in
    * full, each step back halves, with ONE truncating integer division
    * per term (the one-division-per-rational discipline; a float decay
    * would hash-diverge, and an unbounded recursive EWMA cannot replay
    * positionally — the power-of-two kernel over a bounded ROWS frame
    * is the exact-arithmetic formulation of the same signal).
    *
    * Scale: one exchange on the key (shared with any other window on
    * the same partitioning); the per-row frame array is ≤ depth
    * elements, folded by a codegen'd aggregate — no UDF.
    *
    * @return (idCol, keyCol, ts_us, n_frame, decayed_cents) */
  def decayedFeatures(df: DataFrame, keyCol: String, tsCol: String,
                      idCol: String, valueCol: String,
                      depth: Int = 16): DataFrame = {
    require(depth >= 1 && depth <= 62, s"depth must be in [1, 62], got $depth")
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col("__tus"), col(idCol))
      .rowsBetween(-(depth - 1), 0)
    // powers[j+1] = 2^j as a literal array — shiftleft() only takes a
    // static count, so the variable exponent routes through element_at
    val pows = array((0 until depth).map(j => lit(1L << j)): _*)
    val withT = df.withColumn("__tus", unix_micros(col(tsCol)))
      .withColumn("__cents", floor(col(valueCol) * lit(100.0)).cast("long"))
    val lst = collect_list(col("__cents")).over(wl)
    withT
      .withColumn("__lst", lst)
      .select(col(idCol), col(keyCol), col("__tus").as("ts_us"),
        size(col("__lst")).cast("long").as("n_frame"),
        aggregate(
          transform(sequence(lit(1), size(col("__lst"))), k => {
            val c = element_at(col("__lst"), k)
            val p = element_at(pows, size(col("__lst")) - k + 1)
            // TRUNCATING division per term — (c - c % p) / p is exact
            // (numerator divisible, magnitudes << 2^53) and matches
            // DuckDB's integer `//`, which truncates toward zero for
            // all signs (verified empirically; floor would diverge on
            // negative cents)
            ((c - (c % p)) / p).cast("long")
          }),
          lit(0L), (acc, x) => acc + x).as("decayed_cents"))
  }

  /** Trailing-window exact distinct count — the cardinality sibling of
    * [[rollingFeatures]] ("how many distinct event types / endpoints /
    * SKUs did this key touch in the last hour"): a RANGE frame
    * collect_set sized by the window's time width. Frame membership is
    * integer and tie-order-free like the other RANGE features; the
    * per-row set is bounded by the category cardinality × window rate
    * (use a sketch beyond that — this is the exact lane).
    *
    * @return (idCol, keyCol, ts_us, n_distinct_win) */
  def rollingDistinct(df: DataFrame, keyCol: String, tsCol: String,
                      idCol: String, catCol: String,
                      windowSec: Long): DataFrame = {
    require(windowSec >= 1, s"windowSec must be positive, got $windowSec")
    val us = windowSec * 1000000L
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("__tus"))
      .rangeBetween(-us, 0)
    df.withColumn("__tus", unix_micros(col(tsCol)))
      .select(col(idCol), col(keyCol), col("__tus").as("ts_us"),
        size(collect_set(col(catCol)).over(wr)).cast("long")
          .as("n_distinct_win"))
  }

  /** σ-outlier buckets over the gap-filled series — the anomaly layer
    * a dense series exists for: a (key, bucket) is anomalous when
    * (n − mean)² > sigmas²·var over ITS key's buckets. Stated as the
    * cross-multiplied integer comparison
    * (m·n − Σn)² > sigmas²·(m·Σn² − (Σn)²) in a DECIMAL(38,0) lane, so
    * the flag replays bit-for-bit (a float z-score at the threshold
    * boundary would not). Zero-filled gaps COUNT toward the
    * statistics — silence is signal for anomaly purposes.
    *
    * Scale: the series is axis-sized ([[gapFill]]); stats are one
    * |keys|-row aggregation joined back by key. Output only the
    * flagged rows. */
  def anomalyBuckets(df: DataFrame, keyCol: String, tsCol: String,
                     bucketSec: Long, sigmas: Int = 3): DataFrame =
    anomalyFromSeries(gapFill(df, keyCol, tsCol, bucketSec), keyCol, sigmas)

  /** The stats + flag stage of [[anomalyBuckets]] over an ALREADY
    * dense (keyCol, bucket_id, n_events) series. Bucket counts are
    * ADDITIVE (a bucket count is a 1-cell histogram), so partial counts
    * from any slicing of the input, summed per (key, bucket) and
    * gap-filled, give exactly this series and the batch answer. */
  def anomalyFromSeries(series: DataFrame, keyCol: String,
                        sigmas: Int = 3): DataFrame = {
    require(sigmas >= 1, s"sigmas must be >= 1, got $sigmas")
    val n = col("n_events").cast("decimal(38,0)")
    // stats aggregate over a fresh-attribute clone: joining a frame
    // with an aggregate of ITSELF otherwise trips conflicting-
    // reference resolution on some lineages (densified streaming
    // partials; parquet-scan lineages happen to dedup)
    val stats = series.toDF(series.columns: _*).groupBy(col(keyCol))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__m"),
        sum(n).as("__s1"), sum(n * n).as("__s2"))
    series.join(stats, Seq(keyCol))
      .withColumn("__dev", expr("__m * n_events - __s1"))
      .filter(expr(
        s"__dev * __dev > ${sigmas.toLong * sigmas} * (__m * __s2 - __s1 * __s1)"))
      .select(col(keyCol), col("bucket_id"), col("n_events"),
        signum(col("__dev")).cast("long").as("dev_sign"))
  }

  /** Covered time per key — the interval-UNION aggregate ("how long
    * was this user active / this host down", from possibly-overlapping
    * interval rows): overlaps must not double-count, so intervals
    * merge into islands first (gaps-and-islands: an interval whose
    * start exceeds the running max end of its predecessors opens a new
    * island) and the answer is Σ island lengths. All integer
    * microseconds; touching intervals (start == previous end) MERGE —
    * zero-length gap is no gap.
    *
    * Scale: one exchange on the key, two window passes over it (the
    * running max end, then the island running count), one aggregation.
    * The q157 sessionize shape generalized to arbitrary,
    * possibly-overlapping intervals — session_window cannot express
    * pre-built intervals, which is why this exists.
    *
    * @return (keyCol, n_intervals, n_islands, covered_us) */
  def coveredTime(df: DataFrame, keyCol: String, startCol: String,
                  endCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol))
    val wPrev = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.filter(col(endCol) >= col(startCol))
      .withColumn("__pmax", max(col(endCol)).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col(startCol) > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wRun))
      .groupBy(col(keyCol), col("__isl"))
      .agg(min(col(startCol)).as("__s"), max(col(endCol)).as("__e"),
        count(lit(1)).as("__cnt"))
      .groupBy(col(keyCol))
      .agg(sum(col("__cnt")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__e") - col("__s")).cast("long").as("covered_us"))
  }

  /** Seasonal-naive forecast backtest per key — the "can we even
    * forecast this series, and does seasonality help" triage every
    * capacity/demand pipeline runs before reaching for a model: on the
    * DENSE integer-cent bucket series, score the two zero-parameter
    * baselines (predict bucket t from t−season vs from t−1) by total
    * absolute error, and name the winner. A trained model that cannot
    * beat the winning baseline is noise — this card is the floor it
    * must clear.
    *
    * Exactness: bucket values are Σ⌊value·100⌋ per (key, bucket) —
    * integer cents, zero-filled gaps counting as 0 (silence is a real
    * observation for forecasting) — and both scores are Σ|cₜ − cₜ₋ₗ|
    * over the buckets where BOTH lags exist (the dense axis makes lag
    * membership positional, not data-dependent). Integer sums,
    * truncating-division MAE, winner by exact comparison: the whole
    * card replays cross-engine.
    *
    * Scale: one map-side-combined (key, bucket) cent aggregation over
    * the scan; the axis is generated ([[gapFill]]'s law) and the two
    * lags ride ONE per-key sort window over the axis-sized frame —
    * |keys| × calendar buckets, independent of row count.
    *
    * @return (keyCol, n_eval, sae_seasonal_cents, sae_naive_cents,
    *         mae_seasonal_cents, mae_naive_cents, winner) */
  def forecastBacktest(df: DataFrame, keyCol: String, tsCol: String,
                       valueCol: String, bucketSec: Long,
                       season: Int = 7): DataFrame = {
    require(bucketSec >= 1, s"bucketSec must be positive, got $bucketSec")
    require(season >= 2, s"season must be >= 2, got $season")
    val cents = df.select(col(keyCol),
      expr(s"CAST(${tsCol} AS LONG) DIV ${bucketSec}L").as("bucket_id"),
      floor(col(valueCol) * lit(100.0)).cast("long").as("__cents"))
      .groupBy(col(keyCol), col("bucket_id"))
      .agg(sum(col("__cents")).as("n"))
    backtestFromSeries(densify(cents, keyCol), keyCol, season)
  }

  /** The lag + scoring stage of [[forecastBacktest]] over an ALREADY
    * dense (keyCol, bucket_id, n_events) series — public so streamed
    * partials serve the identical card: per-window (key, bucket) cent
    * sums are ADDITIVE (a cent sum is a 1-cell weighted histogram), so
    * merged streaming partials densify into exactly this series and the
    * backtest equals batch (StreamForecastSpec pins the equality). */
  def backtestFromSeries(dense: DataFrame, keyCol: String,
                         season: Int): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("bucket_id"))
    dense
      .withColumn("__ls", lag(col("n_events"), season).over(w))
      .withColumn("__l1", lag(col("n_events"), 1).over(w))
      .filter(col("__ls").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("n_events") - col("__ls"))).as("sae_seasonal_cents"),
        sum(abs(col("n_events") - col("__l1"))).as("sae_naive_cents"))
      .select(col(keyCol), col("n_eval"),
        col("sae_seasonal_cents"), col("sae_naive_cents"),
        expr("sae_seasonal_cents div n_eval").as("mae_seasonal_cents"),
        expr("sae_naive_cents div n_eval").as("mae_naive_cents"),
        when(col("sae_seasonal_cents") < col("sae_naive_cents"),
          lit("seasonal"))
          .when(col("sae_seasonal_cents") > col("sae_naive_cents"),
            lit("naive"))
          .otherwise(lit("tie")).as("winner"))
  }

  /** Densify a MERGED sparse (keyCol, bucket_id, n) bucket-count
    * frame (e.g. re-aggregated streaming partials) into the gap-fill
    * shape — the serving-side counterpart of [[gapFill]] for
    * pipelines whose counts arrive as partials instead of raw rows.
    * Same axis law: range from the observed min/max, keys × buckets,
    * zeros where silent. */
  def densify(counts: DataFrame, keyCol: String): DataFrame = {
    val range = counts.agg(min(col("bucket_id")).as("lo"),
      max(col("bucket_id")).as("hi"))
    val keys = counts.select(col(keyCol)).distinct()
    val axis = keys.crossJoin(broadcast(range))
      .select(col(keyCol),
        explode(sequence(col("lo"), col("hi"))).as("bucket_id"))
    // fresh attribute ids for the probe side: axis derives FROM counts
    // (keys + range), and joining a frame against its own ancestor
    // trips conflicting-reference resolution
    val probe = counts.toDF(counts.columns: _*)
    axis.join(probe, Seq(keyCol, "bucket_id"), "left")
      .select(col(keyCol), col("bucket_id"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }
}
