package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection with Importance Resampling — DSIR (Xie et al.,
  * NeurIPS 2023, public algorithm): score every RAW document by the
  * log-likelihood ratio of its hashed unigram features under the
  * TARGET distribution vs the raw distribution, then keep the top-k —
  * the published recipe for "select web data that looks like the
  * curated set" without training a classifier.
  *
  * Scale shape (the 100 TB story):
  *   - both feature distributions are B-bounded aggregations (token →
  *     xxhash64 mod B bucket, count) with map-side combine — the only
  *     shuffles are ≤ B rows each, whatever the corpus size;
  *   - the per-bucket log-ratio table collects under a loud require
  *     (B ≤ 2²⁰) and rides back as a broadcast literal map, so SCORING
  *     is one narrow map-side pass: per document a fold over its
  *     tokens, no join, no shuffle of text;
  *   - selection is top-k by (score DESC, id ASC) — a TakeOrdered,
  *     never a full sort.
  *
  * Determinism: bucket counts are exact integers; the log-ratio table
  * is computed ONCE driver-side with StrictMath.log (bit-identical
  * across JVMs) and add-one smoothing, so each document's score is a
  * fixed-order left-to-right double sum of table constants — replay-
  * stable. Floats bar a cross-engine SQL oracle for THIS path (DuckDB
  * ln ≠ JVM log — ImportanceSpec pins it against an in-memory
  * reference instead); the [[dsirSelectMicro]] family removes the
  * float entirely via [[ilog2Micro]] and registers hash-exact. */
object Importance {

  /** Loud bound on the collected per-bucket ratio table. */
  val MaxBuckets: Int = 1 << 20

  /** Hashed-unigram bucket counts of a corpus: (bucket, n), ≤ B rows. */
  private def bucketCounts(df: DataFrame, textCol: String, buckets: Int): Array[(Long, Long)] =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(pmod(xxhash64(col("__t")), lit(buckets.toLong)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** The FROZEN scoring artifact: per-bucket log-likelihood ratios +
    * the both-unseen default — trained once, then applied by
    * [[scoreWith]] to every later batch as a stateless narrow fold. */
  case class RatioTable(ratio: Map[Long, Double], default: Double, buckets: Int)

  /** Train the ratio table: log((tgt[b]+1)/tgtTot) − log((raw[b]+1)/rawTot),
    * add-one smoothed, StrictMath throughout. */
  def ratioTable(raw: DataFrame, target: DataFrame, textCol: String,
                 buckets: Int = 4096): RatioTable = {
    require(buckets >= 1 && buckets <= MaxBuckets,
      s"buckets must be in [1, $MaxBuckets], got $buckets")
    val tgt = bucketCounts(target, textCol, buckets).toMap
    val rawC = bucketCounts(raw, textCol, buckets).toMap
    val tgtTot = tgt.valuesIterator.sum + buckets.toLong
    val rawTot = rawC.valuesIterator.sum + buckets.toLong
    val logTot = StrictMath.log(rawTot.toDouble) - StrictMath.log(tgtTot.toDouble)
    // only buckets differing from the both-unseen constant are stored
    val ratio: Map[Long, Double] = (tgt.keySet ++ rawC.keySet).iterator.map { b =>
      b -> (StrictMath.log(tgt.getOrElse(b, 0L) + 1.0) -
        StrictMath.log(rawC.getOrElse(b, 0L) + 1.0) + logTot)
    }.toMap
    RatioTable(ratio, logTot, buckets)
  }

  /** Score any corpus (batch or stream — the expression is stateless)
    * with a frozen table. Output: (idCol, n_tokens, score). The table
    * rides as a DENSE literal array (B doubles, default-filled), so
    * every token lookup is an O(1) `element_at` index — a map literal
    * would linear-scan its entries per token (ArrayBasedMapData has no
    * hash index), a CPU cost that compounds at corpus scale. */
  def scoreWith(df: DataFrame, idCol: String, textCol: String,
                table: RatioTable): DataFrame = {
    val dense: Array[Double] = Array.tabulate(table.buckets)(b =>
      table.ratio.getOrElse(b.toLong, table.default))
    val m = typedLit(dense.toSeq)
    val tk = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol), tk.as("__tk"))
      .select(col(idCol), size(col("__tk")).cast("long").as("n_tokens"),
        aggregate(col("__tk"), lit(0.0d), (acc, t) =>
          acc + element_at(m,
            (pmod(xxhash64(t), lit(table.buckets.toLong)) + 1).cast("int")))
          .as("score"))
  }

  /** Per-document DSIR importance score of every `raw` document:
    * Σ_tokens log P̂_target(bucket) − log P̂_raw(bucket), add-one
    * smoothed. Output: (idCol, n_tokens, score). */
  def dsirScores(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, buckets: Int = 4096): DataFrame =
    scoreWith(raw, idCol, textCol, ratioTable(raw, target, textCol, buckets))

  // -------------------------------------------------------------------
  // Quantized-integer path: the SAME DSIR recipe with the log replaced
  // by a deterministic fixed-point integer logarithm, which makes the
  // whole family cross-engine hash-exact (q147's oracle replays the
  // table build AND the scoring in pure BIGINT arithmetic — a
  // recursive CTE runs the identical 20-step iteration).
  // -------------------------------------------------------------------

  /** Deterministic integer logarithm ≈ floor(2²⁰·log2 n): the integer
    * part is the bit length minus one; twenty fraction bits come from
    * the classic square-and-compare iteration on a 30-bit truncating
    * fixed-point mantissa. The value is defined BY the iteration (it
    * sits within 1 micro-unit below the true floor — measured over
    * 2×10⁵ values: diff ∈ {0, −1}); because it never touches a float,
    * any engine with 64-bit integers replays it bit-identically —
    * THE property libm `ln` can't give (floor(1e6·ln x) may disagree
    * across implementations at floor boundaries). */
  def ilog2Micro(n: Long): Long = graft.functions.IntLog.ilog2Micro(n)

  /** [[RatioTable]]'s integer sibling: per-bucket log-likelihood
    * ratios in 2⁻²⁰·log2 units ("micro-bits"), exact BIGINTs. */
  case class RatioTableMicro(ratio: Map[Long, Long], default: Long, buckets: Int)

  /** Bucket counts under the dialect-portable md5 hash (vs the
    * Spark-only xxhash64 of the float path) so an oracle can rebuild
    * the identical table from the corpus. */
  private def bucketCountsPortable(df: DataFrame, textCol: String,
                                   buckets: Int): Array[(Long, Long)] =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(pmod(Dedup.baseHash32(col("__t")), lit(buckets.toLong)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Train the integer ratio table: ilog(tgt[b]+1) − ilog(raw[b]+1) +
    * (ilog(rawTot) − ilog(tgtTot)) — the add-one-smoothed likelihood
    * ratio of [[ratioTable]] with every log quantized by
    * [[ilog2Micro]]. Same collect bound, same broadcast-literal
    * scale shape. */
  def ratioTableMicro(raw: DataFrame, target: DataFrame, textCol: String,
                      buckets: Int = 4096): RatioTableMicro = {
    require(buckets >= 1 && buckets <= MaxBuckets,
      s"buckets must be in [1, $MaxBuckets], got $buckets")
    val tgt = bucketCountsPortable(target, textCol, buckets).toMap
    val rawC = bucketCountsPortable(raw, textCol, buckets).toMap
    val k0 = ilog2Micro(rawC.valuesIterator.sum + buckets.toLong) -
      ilog2Micro(tgt.valuesIterator.sum + buckets.toLong)
    val ratio: Map[Long, Long] = (tgt.keySet ++ rawC.keySet).iterator.map { b =>
      b -> (ilog2Micro(tgt.getOrElse(b, 0L) + 1L) -
        ilog2Micro(rawC.getOrElse(b, 0L) + 1L) + k0)
    }.toMap
    RatioTableMicro(ratio, k0, buckets)
  }

  /** [[scoreWith]] on the integer table: per-document score is an
    * exact BIGINT sum of table constants — order-insensitive, so the
    * score is partitioning-invariant AND oracle-comparable. Output:
    * (idCol, n_tokens, score_micro). */
  def scoreMicroWith(df: DataFrame, idCol: String, textCol: String,
                     table: RatioTableMicro): DataFrame = {
    val dense: Array[Long] = Array.tabulate(table.buckets)(b =>
      table.ratio.getOrElse(b.toLong, table.default))
    val m = typedLit(dense.toSeq)
    val tk = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol), tk.as("__tk"))
      .select(col(idCol), size(col("__tk")).cast("long").as("n_tokens"),
        aggregate(col("__tk"), lit(0L), (acc, t) =>
          acc + element_at(m,
            (pmod(Dedup.baseHash32(t), lit(table.buckets.toLong)) + 1).cast("int")))
          .as("score_micro"))
  }

  /** [[dsirSelect]] through the quantized path — identical semantics
    * at 2⁻²⁰-log2 score granularity, hash-exact against a pure-SQL
    * oracle. */
  def dsirSelectMicro(raw: DataFrame, target: DataFrame, idCol: String,
                      textCol: String, k: Int, buckets: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    scoreMicroWith(raw, idCol, textCol,
      ratioTableMicro(raw, target, textCol, buckets))
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
  }

  /** Top-`k` raw documents by importance (score DESC, id ASC — total
    * deterministic order). The published DSIR sampler draws Gumbel-
    * perturbed ranks; the deterministic argmax-k variant keeps the
    * pipeline replay-stable and is what a curation run wants pinned. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, k: Int, buckets: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    dsirScores(raw, target, idCol, textCol, buckets)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}
