package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Heavy-hitter detection via a count-min sketch (Cormode & Muthukrishnan
  * 2005) with an EXACT verification pass — the two-scan pattern that
  * makes frequent-token mining affordable at 100 TB:
  *
  *   1. SKETCH scan: every token occurrence increments `depth` cells of
  *      a d×w counter grid (cell = (i, xxhash64(i, token) mod w)). The
  *      grid is a fixed-size additive aggregate — map-side combine
  *      collapses each partition to ≤ d·w rows before the only shuffle,
  *      so the full-vocabulary groupBy the naive plan needs never runs.
  *      Cells are EXACT integers (deterministic, mergeable by plain
  *      addition — the per-source rollup sums partial grids without
  *      rescanning the corpus, the q133 HLL idiom).
  *   2. CANDIDATE filter: the collected grid (bounded by construction:
  *      d·w cells, guarded by a loud require) rides back to the
  *      scanners as a broadcast literal map; each occurrence's estimate
  *      is the MIN over its d cells. CMS never underestimates, so
  *      `est ≥ T` keeps a SUPERSET of the true heavy hitters — no false
  *      negatives, the property the exactness of the final answer
  *      rests on. The filter drops ~everything before a distinct.
  *   3. VERIFY scan: exact counts for the surviving candidates only — a
  *      broadcast semi-join pushes the candidate filter below the
  *      aggregation, so the wide groupBy runs over a vanishing fraction
  *      of the stream. `cnt ≥ T` then trims the sketch's false
  *      positives, making the output BYTE-IDENTICAL to the exact
  *      `GROUP BY token HAVING count ≥ T` — which is exactly how the
  *      DuckDB oracle certifies it (q143/q144), sketch and all.
  */
object HeavyHitters {

  /** Loud bound on the collected sketch grid (d·w cells). */
  val MaxSketchCells: Long = 1L << 20

  /** The d×w count-min cell grid of a token column, optionally keyed by
    * extra group columns (per-source partial sketches). Output:
    * (groupCols..., depth, bucket, n) — exact integers, additive. */
  /** The d cells one item occurrence increments, as an array of
    * (depth, bucket) structs — the one hash layout every grid and
    * probe in this object uses. */
  def cellStructs(itemHash: Column, depth: Int, width: Int): Column =
    // takes the PRE-HASHED item (callers project xxhash64(item) into a
    // real column first — the shinglesOfTokens materialization
    // discipline): the item's bytes are hashed once per occurrence and
    // each depth hashes two longs, instead of re-hashing the item
    // string per grid row (r19, guide §1.2 — the sketch and candidate
    // scans are the operator's two full passes and this was their
    // per-occurrence CPU). Plain array/struct expressions, no
    // higher-order function: the whole cell build stays inside
    // WholeStageCodegen. CMS correctness is hash-agnostic (any
    // pairwise-independent-ish family never underestimates, which is
    // all the exact verify rests on), and the grid build and the
    // candidate probe share this one function so the layout cannot
    // drift between them.
    array((0 until depth).map(i => struct(
      lit(i).as("depth"),
      pmod(xxhash64(lit(i), itemHash), lit(width.toLong)).as("bucket")
    )): _*)

  def cmsCells(items: DataFrame, itemCol: String, depth: Int, width: Int,
               groupCols: Seq[String] = Nil): DataFrame = {
    require(depth >= 1 && width >= 1 && depth.toLong * width <= MaxSketchCells,
      s"sketch grid d=$depth w=$width exceeds MaxSketchCells=$MaxSketchCells")
    val cells = items.select(
        groupCols.map(col) :+ xxhash64(col(itemCol)).as("__ih"): _*)
      .select(
        groupCols.map(col) :+
          explode(cellStructs(col("__ih"), depth, width)).as("__c"): _*)
    cells.groupBy((groupCols.map(col) :+ col("__c.depth").as("depth") :+
        col("__c.bucket").as("bucket")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** CMS point-estimate column for `item` against a COLLECTED grid
    * (flat key depth·w + bucket). Missing cells estimate 0 — correct
    * for a grid built over the same stream (every occurrence hit its
    * cells), and conservative for merged grids. The grid rides as a
    * DENSE literal array (d·w longs — the require-bounded size), so
    * each of the d probes is an O(1) `element_at` index; the map-
    * literal form would LINEAR-SCAN its entries per probe
    * (ArrayBasedMapData has no hash index), a per-token CPU cost that
    * compounds at corpus scale. */
  private def estimate(item: Column, grid: Map[Long, Long],
                       depth: Int, width: Int): Column = {
    val dense: Array[Long] = Array.tabulate(depth * width)(i =>
      grid.getOrElse(i.toLong, 0L))
    val m = typedLit(dense.toSeq)
    // same hash-once keying as cellStructs (the caller passes the
    // pre-hashed item column); the probe is an UNROLLED least() of d
    // element_at's — plain codegen'd expressions, where the previous
    // transform-over-sequence lambda fell out of whole-stage codegen
    least((0 until depth).map(i =>
      element_at(m, (lit(i * width) +
        pmod(xxhash64(lit(i), item), lit(width.toLong)) + 1).cast("int"))): _*)
  }

  /** Exact heavy hitters of a token stream: every token whose total
    * occurrence count reaches `minFrac` of the stream, found via the
    * sketch → candidates → exact-verify pattern above. `items` is
    * scanned exactly twice (sketch, verify); both scans are map-side
    * narrow until their fixed-size / candidate-bounded aggregations.
    * Output: (token, cnt) — byte-identical to the exact HAVING query. */
  def heavyHitters(items: DataFrame, itemCol: String, minFrac: Double,
                   depth: Int = 4, width: Int = 512): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"minFrac in (0,1], got $minFrac")
    val cells = cmsCells(items, itemCol, depth, width)
      .collect().map(r => (r.getInt(0).toLong * width + r.getLong(1),
        r.getLong(2))).toMap
    // total stream length = one full depth row of the grid (exact)
    val total = cells.collect { case (k, n) if k < width => n }.sum
    val t = math.ceil(total * minFrac).toLong
    val est = estimate(col("__ih"), cells, depth, width)
    val cand = items.select(col(itemCol), xxhash64(col(itemCol)).as("__ih"))
      .filter(est >= t).select(col(itemCol)).distinct()
    items.join(broadcast(cand), Seq(itemCol), "left_semi")
      .groupBy(col(itemCol)).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= t)
  }

  /** Rollup form: per-`srcCol` partial grids are built ONCE, merged by
    * plain cell addition into the global grid (no corpus rescan — the
    * mergeability CMS shares with HLL), and the merged grid drives the
    * same candidates → exact-verify pattern. Output: the per-source
    * breakdown (token, src, cnt) of every GLOBALLY heavy token —
    * byte-identical to the exact two-level GROUP BY. */
  def heavyHittersBySource(items: DataFrame, itemCol: String, srcCol: String,
                           minFrac: Double, depth: Int = 4,
                           width: Int = 512): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"minFrac in (0,1], got $minFrac")
    val partial = cmsCells(items, itemCol, depth, width, Seq(srcCol))
      .localCheckpoint(false) // partials are the reusable artifact
    // merge without rescan: sum cells across sources
    val merged = partial.groupBy(col("depth"), col("bucket"))
      .agg(sum(col("n")).as("n"))
      .collect().map(r => (r.getInt(0).toLong * width + r.getLong(1),
        r.getLong(2))).toMap
    val total = merged.collect { case (k, n) if k < width => n }.sum
    val t = math.ceil(total * minFrac).toLong
    val est = estimate(col("__ih"), merged, depth, width)
    val cand = items.select(col(itemCol), xxhash64(col(itemCol)).as("__ih"))
      .filter(est >= t).select(col(itemCol)).distinct()
    val exact = items.join(broadcast(cand), Seq(itemCol), "left_semi")
      .groupBy(col(itemCol), col(srcCol)).agg(count(lit(1)).as("cnt"))
    // globally heavy = sum over sources reaches T; keep the breakdown
    val heavy = exact.groupBy(col(itemCol))
      .agg(sum(col("cnt")).as("__tot")).filter(col("__tot") >= t)
      .select(col(itemCol))
    exact.join(broadcast(heavy), Seq(itemCol), "left_semi")
      .select(col(itemCol), col(srcCol).as("src"), col("cnt"))
  }
}
