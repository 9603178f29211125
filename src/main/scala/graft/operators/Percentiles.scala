package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact rank-selection percentiles per key — the generalized form of
  * the q32/q47 latency engine, usable on any (key, integer value)
  * domain (latency deltas, document lengths, quality scores).
  *
  * Two-phase: a (key, value) histogram with map-side combine (the only
  * data-sized shuffle), then one bounded per-key fold over the sorted
  * histogram — value at rank r is the first entry whose cumulative
  * count reaches r, the exact nearest-rank definition the SQL oracle
  * states as ROW_NUMBER. No per-row window, no full sort.
  *
  * State per key is bounded by the number of DISTINCT values, not rows;
  * for unbounded domains pass `bucket` > 1 to floor values into
  * range/bucket buckets BEFORE the histogram (q47's realizable 100 TB
  * path — percentiles then land on bucket boundaries, a documented
  * resolution trade).
  */
object Percentiles {

  /** Per-`keyCol` percentiles of integer `valCol`. `ps` maps output
    * column name -> fraction in [0,1); rank = floor((n-1)*p) + 1
    * (nearest-rank, 1-based). Adds `n_rows` per key. */
  def byRank(df: DataFrame, keyCol: String, valCol: String,
             ps: Seq[(String, Double)], bucket: Long = 1L): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0 && p < 1 },
      "percentile fractions must be in [0, 1)")
    foldHist(histogram(df, keyCol, valCol, bucket), col(keyCol), keyCol, ps)
  }

  /** The bucket-floored long value every histogram form uses — ONE
    * definition so byRank and rollup cannot drift apart (their
    * cross-certifying specs pin the equalities). */
  private def bucketedValue(v: Column, bucket: Long): Column =
    if (bucket <= 1L) v.cast("long")
    else (floor(v / bucket) * bucket).cast("long")

  /** The shared (key, __v, __cnt) histogram build. NULL values are
    * excluded, matching the SQL rank oracle (a window over non-null
    * rows): un-filtered, a NULL __v would sort FIRST in sort_array and
    * the fold could return NULL as a low percentile. */
  private def histogram(df: DataFrame, keyCol: String, valCol: String,
                        bucket: Long): DataFrame =
    df.filter(col(valCol).isNotNull)
      .select(col(keyCol), bucketedValue(col(valCol), bucket).as("__v"))
      .groupBy(col(keyCol), col("__v")).agg(count(lit(1)).as("__cnt"))

  private def rankSelect(h: Column, rank: Column): Column =
    aggregate(h,
      struct(lit(0L).as("cum"), lit(null).cast("long").as("v")),
      (acc, x) => struct(
        (acc("cum") + x("__cnt")).as("cum"),
        when(acc("v").isNull && acc("cum") + x("__cnt") >= rank, x("__v"))
          .otherwise(acc("v")).as("v")),
      acc => acc("v"))

  /** The shared sorted-histogram rank fold over a (`key`, __v, __cnt)
    * histogram — both the per-key level and the merged-global level of
    * [[rollup]] run exactly this. */
  private def foldHist(hist: DataFrame, key: Column, keyName: String,
                       ps: Seq[(String, Double)]): DataFrame = {
    val agged = hist.groupBy(key.as(keyName))
      .agg(sum(col("__cnt")).as("__n"),
        sort_array(collect_list(struct(col("__v"), col("__cnt")))).as("__h"))
    val outCols = col(keyName) +:
      ps.map { case (name, p) =>
        rankSelect(col("__h"), floor((col("__n") - 1) * p) + 1).as(name)
      } :+ col("__n").as("n_rows")
    agged.select(outCols: _*)
  }

  /** Two-level percentiles from ONE corpus scan — the mergeable-partial
    * rollup of the family (the q133/q144 law applied to exact
    * histograms): the (key, value) histogram IS the partial state, the
    * per-key level folds each key's slice, and the global level
    * re-aggregates the HISTOGRAM by value-cell addition (|keys × distinct
    * values| rows, never corpus rows) before the identical fold. Exact
    * histograms merge losslessly by addition, so — unlike a quantile
    * sketch — the rolled-up percentiles are exactly the percentiles of
    * the union, which is what lets one SQL oracle certify both levels.
    *
    * The histogram is localCheckpointed: it is consumed by both levels,
    * and without the cut the corpus would be scanned once per level —
    * the exact double-scan this operator exists to avoid. At 100 TB the
    * checkpoint is sketch-sized (use `bucket` to bound distinct values,
    * the [[byRank]] trade). Output key column is `scope` (keys cast to
    * string; the global row is `allLabel`). CONTRACT: no key's string
    * form equals `allLabel` — a colliding key would be output-
    * indistinguishable from the global row; pick another label then. */
  def rollup(df: DataFrame, keyCol: String, valCol: String,
             ps: Seq[(String, Double)], bucket: Long = 1L,
             allLabel: String = "__ALL__"): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0 && p < 1 },
      "percentile fractions must be in [0, 1)")
    // lazy: materializes once at the first action and is reused by both
    // levels (plan-only consumers never pay the scan)
    val hist = histogram(df, keyCol, valCol, bucket)
      .localCheckpoint(false)
    val perKey = foldHist(hist, col(keyCol).cast("string"), "scope", ps)
    val merged = hist.groupBy(col("__v")).agg(sum(col("__cnt")).as("__cnt"))
    val global = foldHist(merged, lit(allLabel), "scope", ps)
    perKey.unionByName(global)
  }

  /** Winsorized robust-stats card: per key, the exact [loP, hiP]
    * percentile bounds and the integer mean of values CLIPPED to them
    * — the outlier-immune location estimate a mean-of-raw can't give
    * (one viral document shifts a raw mean; it moves a winsorized
    * mean by at most the clip bound). Means are one floor of exact
    * integer sums (the A4/q6 discipline).
    *
    * Scale: the percentile side is the [[byRank]] histogram fold
    * (sketch-sized via `bucket`); the clip pass re-joins the |keys|-row
    * bounds frame (AQE broadcasts it) and aggregates once.
    *
    * @return (keyCol, n_rows, lo, hi, mean_floor, wins_mean_floor,
    *         n_clipped) */
  def winsorizedCard(df: DataFrame, keyCol: String, valCol: String,
                     loP: Double, hiP: Double,
                     bucket: Long = 1L): DataFrame = {
    require(loP < hiP, s"need loP < hiP, got $loP >= $hiP")
    val bounds = byRank(df, keyCol, valCol, Seq("lo" -> loP, "hi" -> hiP),
      bucket).select(col(keyCol), col("lo"), col("hi"))
    val v = col(valCol).cast("long")
    df.filter(col(valCol).isNotNull)
      .join(bounds, Seq(keyCol))
      .select(col(keyCol), v.as("__v"),
        least(greatest(v, col("lo")), col("hi")).as("__w"),
        col("lo"), col("hi"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"),
        min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        floor(sum(col("__v")) / count(lit(1))).cast("long").as("mean_floor"),
        floor(sum(col("__w")) / count(lit(1))).cast("long")
          .as("wins_mean_floor"),
        sum(when(col("__v") =!= col("__w"), 1L).otherwise(0L))
          .as("n_clipped"))
  }

  /** Row-level ROBUST scaling (median/IQR standardization) per key —
    * the feature-normalization step of a training pipeline done
    * integer-exact where a z-score cannot be (z needs a sqrt; median
    * and quartiles are rank SELECTIONS, so
    * `scale·(x − median) DIV (p75 − p25)` is pure integer arithmetic
    * and replays bit-for-bit cross-engine — truncating division on
    * both engines, the q200 sign rule).
    *
    * One histogram pass computes the per-key (p25, median, p75) card
    * via [[byRank]] (map-side-combined histogram; fold state bounded by
    * distinct values), and the |keys|-row card BROADCASTS back onto the
    * rows — at 100 TB the only data-sized work is the histogram shuffle
    * and the row-local scale map. Degenerate keys (IQR = 0) emit NULL
    * scaled values rather than a division error. NULL `valCol` rows
    * pass through with NULL scaled value (excluded from the card, the
    * [[byRank]] convention). */
  def robustScale(df: DataFrame, keyCol: String, valCol: String,
                  scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L, s"scale must be positive, got $scale")
    val card = byRank(df, keyCol, valCol,
      Seq("p25" -> 0.25, "median" -> 0.5, "p75" -> 0.75))
      .select(col(keyCol), col("p25"), col("median"), col("p75"))
    // LEFT join: a key whose values are all NULL has no card row (NULLs
    // are excluded from the histogram), and the documented contract is
    // pass-through-with-NULL-scaled, not silent row deletion
    df.join(broadcast(card), Seq(keyCol), "left")
      .withColumn("scaled_micro",
        when(col("p75") - col("p25") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"(${scale}L * (CAST($valCol AS LONG) - median)) DIV (p75 - p25)")))
  }
}
