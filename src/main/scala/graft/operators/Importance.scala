package graft.operators

import org.apache.spark.sql.DataFrame
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
  *     md5-derived hash mod B bucket, count) with map-side combine —
  *     the only shuffles are ≤ B rows each, whatever the corpus size;
  *   - the per-bucket log-ratio table collects under a loud require
  *     (B ≤ 2²⁰) and rides back as a broadcast literal array, so
  *     SCORING is one narrow map-side pass: per document a fold over
  *     its tokens, no join, no shuffle of text;
  *   - selection is top-k by (score DESC, id ASC) — a TakeOrdered,
  *     never a full sort.
  *
  * Determinism: the published recipe's natural log is replaced by a
  * deterministic fixed-point integer logarithm ([[ilog2Micro]]), so the
  * table and every score are exact BIGINTs and the whole family is
  * cross-engine hash-exact: q147's oracle replays the table build AND
  * the scoring in pure BIGINT arithmetic (a recursive CTE runs the
  * identical 20-step iteration). */
object Importance {

  /** Loud bound on the collected per-bucket ratio table. */
  val MaxBuckets: Int = 1 << 20

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

  /** The FROZEN scoring artifact: per-bucket log-likelihood ratios in
    * 2⁻²⁰·log2 units ("micro-bits"), exact BIGINTs, plus the
    * both-unseen default — trained once by [[ratioTableMicro]], then
    * applied by [[scoreMicroWith]] as a stateless narrow fold. */
  case class RatioTableMicro(ratio: Map[Long, Long], default: Long, buckets: Int)

  /** Bucket counts under the dialect-portable md5 hash (not the
    * Spark-only xxhash64) so an oracle can rebuild the identical table
    * from the corpus. */
  private def bucketCountsPortable(df: DataFrame, textCol: String,
                                   buckets: Int): Array[(Long, Long)] =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(pmod(Dedup.baseHash32(col("__t")), lit(buckets.toLong)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** Train the integer ratio table: ilog(tgt[b]+1) − ilog(raw[b]+1) +
    * (ilog(rawTot) − ilog(tgtTot)) — the add-one-smoothed likelihood
    * ratio log((tgt[b]+1)/tgtTot) − log((raw[b]+1)/rawTot) with every
    * log quantized by [[ilog2Micro]], collected under [[MaxBuckets]]. */
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

  /** Score any corpus with a frozen table: per-document score is an
    * exact BIGINT sum of table constants — order-insensitive, so the
    * score is partitioning-invariant AND oracle-comparable. The table
    * rides as a DENSE literal array (B longs, default-filled), so every
    * token lookup is an O(1) `element_at` index — a map literal would
    * linear-scan its entries per token (ArrayBasedMapData has no hash
    * index). Output: (idCol, n_tokens, score_micro). */
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

  /** Top-`k` raw documents by quantized importance (score DESC, id ASC
    * — total deterministic order), hash-exact against a pure-SQL
    * oracle. The published DSIR sampler draws Gumbel-perturbed ranks;
    * the deterministic argmax-k variant keeps the pipeline
    * replay-stable and is what a curation run wants pinned. */
  def dsirSelectMicro(raw: DataFrame, target: DataFrame, idCol: String,
                      textCol: String, k: Int, buckets: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    scoreMicroWith(raw, idCol, textCol,
      ratioTableMicro(raw, target, textCol, buckets))
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
  }
}
