package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Micro-batch sinks (K1–K3, /root/reference/src/clickhouse/clickhouse.go).
  *
  * The reference's sink is a ClickHouse columnar-insert writer with
  * config-driven column projection (empty configured name drops the
  * column), a linear-backoff retry queue capped at 16 batches (overflow =
  * silent data loss). Our equivalents:
  *   - projection: `ColumnProjection.apply` — a `select`, so Catalyst
  *     prunes the dropped columns all the way into the upstream plan (O3);
  *   - delivery: `RetryingSink` retries with the reference's backoff
  *     schedule but then FAILS the batch instead of dropping data — Spark's
  *     checkpointed micro-batch retry is a strict upgrade over drop-on-
  *     overflow (SURVEY O8 recommendation);
  *   - targets: parquet append (the lake-native default), an in-memory
  *     collector for tests, and a JDBC writer for real ClickHouse
  *     deployments (`clickhouse-jdbc` on the classpath; not exercisable in
  *     this offline environment).
  */
trait BatchSink extends Serializable {
  def write(df: DataFrame, batchId: Long): Unit
}
object BatchSink {
  /** Persist in at most `defaultParallelism` partitions: AQE cannot shrink a cached plan. */
  def cacheCoalesced(df: DataFrame): DataFrame =
    df.coalesce(df.sparkSession.sparkContext.defaultParallelism).persist()
}

/** Config-driven output projection: (sourceColumn → outputName); empty
  * output name drops the column, mirroring clickhouse.go:124-137. */
final case class ColumnProjection(mapping: Seq[(String, String)]) {
  def apply(df: DataFrame): DataFrame = {
    val cols = mapping.collect { case (src, out) if out.nonEmpty => col(src).as(out) }
    // Nil mapping = identity; a mapping that drops EVERY column is a
    // misconfiguration — surfacing it beats silently writing all columns
    require(mapping.isEmpty || cols.nonEmpty,
      "column projection drops every configured column")
    if (cols.isEmpty) df else df.select(cols: _*)
  }
}
object ColumnProjection {
  val identity: ColumnProjection = ColumnProjection(Nil)
}

/** Parquet table sink, idempotent under micro-batch replay: rows land in
  * a `__batch_id=<id>` partition and a replayed (df, batchId) OVERWRITES
  * exactly its own partition (dynamic partition overwrite), so a batch
  * retried after a partial append yields its rows once. The partition
  * column doubles as delivery lineage; every other partition is untouched
  * by a replay. A plain mode("append") here would double-write on every
  * foreachBatch retry. */
final class ParquetAppendSink(path: String,
                              projection: ColumnProjection = ColumnProjection.identity)
    extends BatchSink {
  override def write(df: DataFrame, batchId: Long): Unit =
    projection(df).withColumn("__batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(path)
}

/** JDBC batch writer (ClickHouse via clickhouse-jdbc, or any JDBC store).
  *
  * Replay caveat: JDBC INSERT is append-only, so unlike
  * [[ParquetAppendSink]] a micro-batch replayed after a mid-write crash
  * can double-insert (the reference has the same at-least-once window,
  * clickhouse.go:206-214). The ClickHouse-native remedy is table-side:
  * ReplacingMergeTree keyed on the row identity (or a materialized
  * `__batch_id`) collapses replayed rows at merge time; exactly-once
  * without table support would need a batch-id ledger transactionally
  * co-committed with the insert, which plain JDBC cannot express. */
final class JdbcBatchSink(url: String, table: String,
                          options: Map[String, String] = Map.empty,
                          projection: ColumnProjection = ColumnProjection.identity)
    extends BatchSink {
  override def write(df: DataFrame, batchId: Long): Unit =
    projection(df).write.mode("append")
      .format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options)
      .save()
}

/** Test sink: collects projected rows on the driver. */
final class CollectingSink(projection: ColumnProjection = ColumnProjection.identity)
    extends BatchSink {
  private val buf = new scala.collection.mutable.ArrayBuffer[Row]()
  @volatile var columns: Seq[String] = Nil
  override def write(df: DataFrame, batchId: Long): Unit = {
    val p = projection(df)
    val rows = p.collect()
    buf.synchronized { buf ++= rows; columns = p.columns.toSeq }
  }
  def rows: Seq[Row] = buf.synchronized { buf.toVector }
  def clear(): Unit = buf.synchronized { buf.clear() }
}

/** Row-level delivery policy (clickhouse.go:190-205): the reference's
  * QUERY writer skips rows its driver rejects (`batch.Append` error →
  * log + continue) and still sends the rest, while the response/sample
  * writers abort the whole batch on error. This decorator reproduces the
  * query-side policy declaratively: rows failing `valid` are diverted to
  * an optional dead-letter sink (an upgrade over the reference's
  * log-and-lose) and the remainder is delivered. Abort-on-error batches
  * are simply the undecorated [[BatchSink]]. */
final class RowSkippingSink(inner: BatchSink,
                            valid: org.apache.spark.sql.Column,
                            deadLetter: Option[BatchSink] = None)
    extends BatchSink {
  override def write(df: DataFrame, batchId: Long): Unit = {
    val persisted = BatchSink.cacheCoalesced(df) // the upstream plan runs once
    try {
      // null-safe split: a predicate evaluating to NULL (e.g. a length
      // test over a NULL column) matches neither filter(p) nor
      // filter(!p) — such rows must dead-letter, not silently vanish
      val ok = valid.eqNullSafe(org.apache.spark.sql.functions.lit(true))
      inner.write(persisted.filter(ok), batchId)
      val bad = persisted.filter(!ok) // counted after the write fills the cache
      deadLetter.foreach(dl => if (bad.count() > 0) dl.write(bad, batchId))
    } finally { persisted.unpersist(); () }
  }
}

/** Linear-backoff retry decorator (reference schedule: +`stepMs` per
  * failure up to `maxMs`, clickhouse.go:39-40,361-413) that surfaces the
  * failure after `maxAttempts` instead of dropping data. */
final class RetryingSink(inner: BatchSink, maxAttempts: Int = 5,
                         stepMs: Long = 10000, maxMs: Long = 300000,
                         sleep: Long => Unit = Thread.sleep)
    extends BatchSink {
  override def write(df: DataFrame, batchId: Long): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { inner.write(df, batchId); done = true }
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          sleep(math.min(stepMs * attempt, maxMs))
      }
    }
  }
}
