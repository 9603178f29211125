package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write MERGE (upsert + delete) into hash-partitioned parquet —
  * the Delta/Iceberg `MERGE INTO` primitive on a plain-parquet layout:
  * the table is directory-partitioned by a stable key hash, a change
  * batch touches only the partitions its keys live in, and the merge
  * REWRITES exactly those partitions (read → anti-join → union →
  * dynamic-overwrite), leaving every untouched partition's files
  * physically untouched.
  *
  * Scale shape (100 TB): the whole point is that merge cost scales with
  * |changes| × (table size / nParts), NOT table size — a daily 0.1%
  * upsert batch touching 200 of 20 000 partitions rewrites 1% of the
  * table. The affected-partition list is the only driver-side state
  * (bounded by nParts, same class as every format's scan planning);
  * survivors come from a LEFT ANTI join keyed by the table key inside
  * the pruned scan (partition-pruned read - the `.filter(part isin ...)`
  * reaches the directory listing); the rewrite is one dynamic-mode
  * partition overwrite. The merged frame is localCheckpointed before
  * the write — the overwrite must never lazily re-read the files it is
  * replacing.
  *
  * Delete-all edge: dynamic overwrite only replaces partitions PRESENT
  * in the written frame, so a partition whose rows are all deleted
  * would silently survive — [[mergeInto]] removes those directories
  * explicitly (the add/remove-file action a table format would log).
  *
  * Semantics (pinned by MergeIntoSpec + q164's oracle): upsert wins
  * over existing row (replace by key), insert if absent, delete removes
  * by key; a key in both batches is deleted (delete wins).
  *
  * Known limit, deliberate: plain parquet keeps no table-level schema
  * metadata, so a merge that empties EVERY partition leaves a
  * directory an inference-based read cannot open — the line at which a
  * real deployment graduates to a table format (whose log carries the
  * schema). All partial deletions, including emptying whole
  * partitions, are handled.
  */
object MergeInto {

  val PartCol = "__part"

  private def partOf(key: org.apache.spark.sql.Column, nParts: Int) =
    pmod(xxhash64(key.cast("string")), lit(nParts.toLong)).cast("int")

  /** Initial write of `df` hash-partitioned by `keyCol` into `nParts`
    * directories — the layout [[mergeInto]] maintains. */
  def writePartitioned(df: DataFrame, path: String, keyCol: String,
                       nParts: Int): Unit = {
    require(nParts >= 1, "nParts must be >= 1")
    df.withColumn(PartCol, partOf(col(keyCol), nParts))
      .write.mode("overwrite").partitionBy(PartCol).parquet(path)
  }

  /** Read the maintained table (partition column dropped). */
  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(PartCol)

  /** Merge `upserts` (full rows, same schema as the table, UNIQUE per
    * key — duplicate-key upserts land as duplicate rows; CDC callers
    * collapse to latest-per-key first) and `deleteKeys` (single key
    * column) into the table at `path`. Rewrites ONLY the partitions
    * containing changed keys. */
  def mergeInto(spark: SparkSession, path: String, keyCol: String,
                nParts: Int, upserts: DataFrame,
                deleteKeys: DataFrame): Unit = {
    val up = upserts.withColumn(PartCol, partOf(col(keyCol), nParts))
    val del = deleteKeys.select(col(keyCol))
      .withColumn(PartCol, partOf(col(keyCol), nParts))
    val changeKeys = up.select(col(keyCol), col(PartCol))
      .unionByName(del).distinct()
    // the one driver-side list: affected partition ids (<= nParts)
    val affected = changeKeys.select(col(PartCol))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (affected.isEmpty) return
    val target = spark.read.parquet(path)
      .filter(col(PartCol).isin(affected: _*))
    val survivors = target.join(
      changeKeys.select(col(keyCol)), Seq(keyCol), "left_anti")
    // delete wins over upsert for a key in both batches
    val liveUpserts = up.join(del.select(col(keyCol)), Seq(keyCol), "left_anti")
    // materialize BEFORE overwriting the files this plan reads
    val merged = survivors.unionByName(liveUpserts).localCheckpoint()
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartCol).parquet(path)
    // partitions whose rows were all deleted are absent from `merged`
    // and dynamic overwrite leaves them — drop their directories
    val stillThere = merged.select(col(PartCol)).distinct()
      .collect().map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.filterNot(stillThere).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"$PartCol=$p"), true)
    }
  }
}
