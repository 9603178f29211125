package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.GraftConfig
import graft.sinks.{BatchSink, JdbcBatchSink, ParquetAppendSink}
import graft.streaming.DnstapPipeline

/** Process entry point — the reference's `main.go` wiring as a Spark app:
  * read the TOML config, listen on the dnstap unix socket, run the
  * streaming pipeline, deliver to the configured sinks.
  *
  * ```
  * spark-submit --class graft.Main graft.jar /etc/dnstap2clickhouse.conf
  * ```
  *
  * Sink selection: `GRAFT_SINK=clickhouse` inserts into the configured
  * ClickHouse tables over JDBC using the TOML `[ClickHouse]` connection
  * block (Hosts/Secure/InsecureSkipVerify/Username/Password/Database →
  * multi-host URL + TLS + LZ4 options, clickhouse.go:86-114);
  * `GRAFT_JDBC_URL` overrides the URL (any JDBC store) while the TOML
  * still supplies auth/TLS options. With neither, batches append to
  * parquet under `GRAFT_OUTPUT_DIR` (lake-native default), one directory
  * per configured table name.
  *
  * Checkpoint I/O: each micro-batch writes an offset-log entry before it
  * runs and a commit-log entry after, so their cost bounds freshness.
  * `GraftConfig.sparkStreamingOptions` writes both through Spark's
  * `FileSystemBasedCheckpointFileManager` (a temp file, then
  * `FileSystem.rename`) rather than the default `FileContext`-based one,
  * and maps `file:` to `graft.sinks.LocalFileSystemNoChmod`, which sets
  * permissions in-process where Hadoop without libhadoop forks `chmod`
  * for every file and directory, parquet sink output included. Both keep
  * the checkpoint layout, so a checkpoint written under Spark's defaults
  * resumes under these. Spark relies on `rename` being atomic, which
  * POSIX `rename(2)` is locally and HDFS's rename is too. The W2
  * matcher's RocksDB state uploads go through the same manager.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val confPath = args.headOption.getOrElse("/etc/dnstap2clickhouse.conf")
    val cfg =
      if (Files.exists(Paths.get(confPath)))
        GraftConfig.fromToml(Files.readString(Paths.get(confPath)))
      else GraftConfig.defaults
    // reference toml.go:193: print the patched running config at startup
    // (Password elided) so deployments can audit what actually took effect
    println(cfg.renderEffective())
    val builder = SparkSession.builder()
      .appName("graft-dnstap")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config(SparkTuning.ExcludedRulesKey, SparkTuning.ExcludedRules)
    // matcher state scales off-heap and restarts incrementally: the TOML
    // [Spark] section supplies the RocksDB provider (plus changelog
    // checkpointing, so commits upload per-batch deltas instead of
    // re-snapshotting total state); SPARK_GRAFT_STATESTORE overrides the
    // provider per-process
    val spark = cfg.sparkStreamingOptions
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.getOrElse("SPARK_GRAFT_STATESTORE", cfg.stateStoreProvider))
      .getOrCreate()
    val queries = GraftApp.start(spark, cfg,
      outputDir = sys.env.getOrElse("GRAFT_OUTPUT_DIR", "/var/lib/graft/out"),
      checkpointDir = sys.env.getOrElse("GRAFT_CHECKPOINT_DIR", "/var/lib/graft/ckpt"),
      jdbcUrl = sys.env.get("GRAFT_JDBC_URL")
        .orElse(if (sys.env.get("GRAFT_SINK").contains("clickhouse"))
          Some(cfg.jdbcConnectionUrl) else None))
    val stats = graft.streaming.StatsReporter.attach(spark,
      Set("graft-dnstap-agg", "graft-dnstap-samples"))
    // reference main.go:95-115: SIGTERM/SIGQUIT/SIGABRT/SIGINT cancel the
    // context and every component drains. The Spark analog is a JVM
    // shutdown hook asking each streaming query to stop. BEST-EFFORT:
    // JVM shutdown hooks run concurrently, so Spark's own context-
    // teardown hook can race a mid-batch stop — a batch interrupted at
    // the wrong moment is REPLAYED on the next start, which is safe
    // precisely because every sink is replay-idempotent (batchId
    // partition overwrite / checkpointed micro-batch retry).
    sys.addShutdownHook {
      queries.foreach(q => try q.stop() catch { case _: Exception => () })
    }
    try queries.foreach(_.awaitTermination())
    finally stats.close()
  }
}

object GraftApp {

  /** Wire config → socket source → pipeline → sinks; returns the running
    * streaming queries (one per enabled cadence). */
  def start(spark: SparkSession, cfg: GraftConfig, outputDir: String,
            checkpointDir: String, jdbcUrl: Option[String] = None,
            instantTriggers: Boolean = false): Seq[StreamingQuery] = {
    import spark.implicits._
    val frames = spark.readStream.format("graft-dnstap")
      .options(cfg.socketOptions)
      .load()
      .select("value").as[Array[Byte]]

    def sink(table: String, projection: graft.sinks.ColumnProjection): BatchSink = {
      val inner: BatchSink = jdbcUrl match {
        // K4: against ClickHouse the whole [ClickHouse] connection block
        // (multi-host, TLS, skip-verify, LZ4, timeouts) rides along as
        // JDBC options; any other JDBC store gets credentials only —
        // foreign drivers may reject unknown properties
        case Some(url) =>
          val opts =
            if (url.startsWith("jdbc:clickhouse:") || url.startsWith("jdbc:ch:"))
              cfg.jdbcConnectionOptions
            else cfg.jdbcAuthOptions
          new JdbcBatchSink(url, s"${cfg.database}.$table", opts, projection)
        case None => new ParquetAppendSink(s"$outputDir/$table", projection)
      }
      // K3: reference backoff schedule in-process; past maxAttempts the
      // batch fails and Spark's checkpointed micro-batch retry takes over
      // (a strict upgrade over the reference's drop-on-overflow)
      new graft.sinks.RetryingSink(inner, maxAttempts = 3)
    }

    // every leg is all-or-nothing. The reference's query writer skips rows
    // its driver rejects on Append (clickhouse.go:190-205); here a rejected
    // insert fails the write and RetryingSink retries it, and the query rows
    // never carry a null queryTime or identity (DnstapPipelineSpec)
    DnstapPipeline.start(spark, frames, cfg.pipelineConfig,
      DnstapPipeline.Sinks(
        queries = sink(cfg.queryTable, cfg.queryProjection),
        responses = sink(cfg.responseTable, cfg.responseProjection),
        samples = sink(cfg.queryResponseTimeTable, cfg.sampleProjection)),
      checkpointRoot = checkpointDir,
      instantTriggers = instantTriggers)
  }
}
