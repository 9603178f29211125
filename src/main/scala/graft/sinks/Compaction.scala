package graft.sinks

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-files maintenance for the batch-partitioned parquet sink.
  *
  * [[ParquetAppendSink]] buys replay idempotence with one
  * `__batch_id=<id>` directory per micro-batch, written by a plain
  * overwrite of that directory (no dynamic partition overwrite, no
  * staging rename) — which at a 20 s cadence is 4 320 directories a day
  * per table. Each holds a `_SUCCESS` marker and up to
  * `defaultParallelism` small files: the row-skipping query sink
  * coalesces its cached batch to that many partitions, and AQE sizes the
  * uncached writes. That is the classic streaming small-files problem,
  * and at 100 TB the thing that actually kills scan performance
  * (footer-per-file costs, driver listing time).
  * Compaction is the standard maintenance move: periodically rewrite
  * CLOSED batches into few large files. Replay protection is only
  * needed for batches the running query could still retry, so dropping
  * the per-batch partitioning for compacted history is safe by
  * construction when `maxBatchId` stays below the checkpointed frontier.
  *
  * The rewrite goes to a fresh directory and leaves the source
  * untouched — swapping it in (atomic rename, or a view/manifest flip)
  * is the caller's choice of transaction.
  */
object Compaction {

  /** Rewrite the batches of `tablePath` with `__batch_id <= maxBatchId`
    * into `outPath` as `targetFiles` parquet files (no per-batch
    * partitioning, `__batch_id` carried as a plain column for lineage).
    * Returns the number of rows compacted. */
  def compact(spark: SparkSession, tablePath: String, outPath: String,
              maxBatchId: Long = Long.MaxValue,
              targetFiles: Int = 8): Long = {
    val src = spark.read.parquet(tablePath)
      .filter(col("__batch_id") <= maxBatchId)
    // partition pruning serves the filter from directory names; the
    // repartition is the one shuffle and bounds the output file count
    src.repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    spark.read.parquet(outPath).count()
  }
}
