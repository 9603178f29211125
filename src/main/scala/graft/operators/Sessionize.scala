package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gap-based sessionization — the first aggregation any behavioural /
  * interaction-log pipeline runs (and, for training-data work, the unit
  * for dialogue-turn grouping and per-session dedup): consecutive events
  * of one key belong to one session while the gap between neighbours
  * stays under `gapSec`; a gap of `gapSec` or more starts a new session.
  *
  * Spark-first shape: the NATIVE `session_window` aggregation — Spark's
  * own merging session windows (`UpdatingSessionsExec` + one hash
  * exchange on the partition keys), not a hand-rolled
  * lag/flag/running-sum window chain. The native operator is the one
  * that also runs under Structured Streaming with watermark-driven state
  * eviction — declaring the session in the plan is exactly the "let
  * Catalyst pick the physical strategy" bet this engine makes
  * everywhere.
  *
  * Scale (100 TB): one exchange keyed by `keyCols` (NOT by session —
  * sessions of one key are computed by a partition-local sort+merge), so
  * cost is the same as any per-key aggregation; no self-join, no global
  * sort. Skew lives where it always lives: a single pathological key (a
  * bot with 10⁸ events) lands on one task. The mitigation is upstream
  * and semantic — split such keys by calendar day before sessionizing
  * (a key that hot has no meaningful cross-day sessions) — not a salt,
  * which would break gap merging across the salt boundary. Under
  * Structured Streaming, state is bounded by the watermark: a session
  * closes (and its state evicts) once the watermark passes
  * `last_ts + gap`.
  *
  * Merge semantics (pinned by SessionizeSpec and the DuckDB oracle):
  * an event at `t` extends a session whose current end
  * (`prev_ts + gap`) is AT LEAST `t` — a gap of exactly `gapSec`
  * still merges; only a strictly larger gap starts a new session.
  * `session_end` is `last_ts + gapSec` (the native window's close
  * time, i.e. when a streaming run would emit it).
  */
object Sessionize {

  /** One row per (key, session): start/end, event count, and any extra
    * aggregates the caller wants computed per session.
    *
    * @param extraAggs additional per-session aggregate columns (already
    *                  aliased); appended after the standard four.
    */
  def sessions(events: DataFrame, keyCols: Seq[String], tsCol: String,
               gapSec: Long, extraAggs: Seq[Column] = Nil): DataFrame = {
    require(gapSec >= 1, s"gapSec must be >= 1, got $gapSec")
    val aggs = count(lit(1)).as("n_events") +: extraAggs
    val grouped = events
      .groupBy((session_window(col(tsCol), s"$gapSec seconds")
        +: keyCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    // aggregate column names read back from the result schema (Spark 4
    // Columns don't expose their alias), in declaration order
    val aggNames = grouped.columns.filterNot(
      n => n == "session_window" || keyCols.contains(n))
    grouped.select(keyCols.map(col) ++ Seq(
      col("session_window.start").as("session_start"),
      col("session_window.end").as("session_end")) ++
      aggNames.map(col): _*)
  }

  /** Session-duration histogram with conversion: sessions bucketed by
    * active duration (last−first event, minutes), with the share that
    * contains at least one `convType` event, in integer basis points.
    * The downstream card a growth/quality team reads; for corpus work
    * the same shape reports dialogue-length distribution. Input is
    * [[sessions]] output built with `n_conv` in `extraAggs`. */
  def durationFunnel(sessions: DataFrame, gapSec: Long): DataFrame =
    sessions
      .withColumn("__mins", graft.functions.IntMath.floordiv(
        unix_micros(col("session_end")) - unix_micros(col("session_start"))
          - lit(gapSec * 1000000L), 60000000L))
      .groupBy(col("__mins").as("duration_min"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        floor(sum(when(col("n_conv") > 0, 1L).otherwise(0L)) * 10000
          / count(lit(1))).as("converted_bp"))
}
