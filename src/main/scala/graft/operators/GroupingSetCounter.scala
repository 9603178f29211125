package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-grouping-set deduplicating counter — the reference's core
  * aggregation (`AggregateQuery`/`AggregateResponse`,
  * /root/reference/src/aggregator/aggregator.go:240-330): each input row is
  * counted under up to three groupings simultaneously, with collapsed
  * columns replaced by the sentinel `__ANY__` (aggregator.go:32).
  *
  * Spark-first shape: each row becomes one struct per enabled set
  * (`inline(array(struct(...)))`, collapsed columns already `__ANY__`, a
  * set index keeping a real `"__ANY__"` apart) and one `groupBy` counts
  * them. Unlike `Expand`, the generator keeps its child's partitioning:
  * over one partition (a coalesced W1 batch) both aggregate phases run in
  * one task with no exchange; over many (q2/q3) the partial aggregate
  * collapses duplicates before the one shuffle.
  *
  * Semantics notes (SURVEY §2.5):
  *   - counter is `count(*)` of input rows (ingest seeds counter=1, P8);
  *   - timestamp is `min(ts)` — the reference keeps the first-seen arrival
  *     timestamp (aggregator.go:229-238); `min` is the deterministic,
  *     replay-safe equivalent;
  *   - the reference's crosswise config flags are preserved:
  *     `groupbyQuestion=true` collapses the question columns,
  *     `groupbyQueryAddress=true` collapses the address columns.
  */
object GroupingSetCounter {
  val AnyTag = "__ANY__"

  /** @param fixed    key columns present in every grouping set (identity;
    *                 plus response_status for responses — never collapsed)
    * @param address  address key columns (collapsed in the by-question set)
    * @param question question key columns (collapsed in the by-address set)
    */
  def apply(df: DataFrame,
            fixed: Seq[String], address: Seq[String], question: Seq[String],
            tsCol: String, tsOut: String = "first_seen",
            writeUngrouped: Boolean = true,
            groupbyQuestion: Boolean = true,
            groupbyQueryAddress: Boolean = true): DataFrame = {
    val all = fixed ++ address ++ question
    val sets: Seq[Seq[String]] = Seq(
      if (writeUngrouped) Some(all) else None,
      if (groupbyQuestion) Some(fixed ++ address) else None,
      if (groupbyQueryAddress) Some(fixed ++ question) else None).flatten
    require(sets.nonEmpty, "at least one grouping set must be enabled")

    val expanded = sets.zipWithIndex.map { case (set, i) =>
      struct(lit(i).as("__set") +:
        all.map(c => (if (set.contains(c)) col(c) else lit(AnyTag)).as(c)) :+
        col(tsCol).as(tsOut): _*)
    }
    df.select(inline(array(expanded: _*)))
      .groupBy(("__set" +: all).map(col): _*)
      .agg(count(lit(1)).as("counter"), min(col(tsOut)).as(tsOut))
      .drop("__set")
  }
}
