package graft.sinks

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class SinksSpec extends SparkSpec {

  test("retrying sink follows the backoff schedule then surfaces failure") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val flaky = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        calls += 1
        if (calls < 3) throw new RuntimeException("sink down")
      }
    }
    new RetryingSink(flaky, maxAttempts = 5, stepMs = 10000, maxMs = 300000,
      sleep = sleeps.append).write(null, 0L)
    // reference schedule: +10 s per failure (clickhouse.go:361-413)
    assert(calls == 3 && sleeps.toSeq == Seq(10000L, 20000L))

    val dead = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit =
        throw new RuntimeException("always down")
    }
    val sleeps2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    intercept[RuntimeException] {
      new RetryingSink(dead, maxAttempts = 3, stepMs = 10000, maxMs = 15000,
        sleep = sleeps2.append).write(null, 0L)
    }
    assert(sleeps2.toSeq == Seq(10000L, 15000L)) // capped at maxMs
  }

  test("parquet sink is idempotent under micro-batch replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString + "/t"
    val sink = new ParquetAppendSink(dir)
    val b7 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink.write(b7, 7L)
    sink.write(b7, 7L) // replay after e.g. a crash between commit and checkpoint
    val b8 = Seq((3L, "c")).toDF("id", "v")
    sink.write(b8, 8L)
    val back = spark.read.parquet(dir)
    // replayed batch 7 landed once; batch 8 untouched by the replay
    assert(back.count() == 3)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(back.columns.contains("__batch_id"))
  }

  test("row-skipping sink diverts invalid rows and delivers the rest") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val delivered = new CollectingSink()
    val dead = new CollectingSink()
    val s = new RowSkippingSink(delivered, valid = col("v").isNotNull,
      deadLetter = Some(dead))
    s.write(Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("id", "v"), 0L)
    assert(delivered.rows.map(_.getLong(0)).sorted == Seq(1L, 3L))
    assert(dead.rows.map(_.getLong(0)) == Seq(2L))
    // nothing dead-lettered on a clean batch: the dead sink sees no write
    s.write(Seq((4L, Some("z"))).toDF("id", "v"), 1L)
    assert(dead.rows.size == 1)
  }

  test("row-skipping sink hands each sink at most defaultParallelism partitions") {
    import org.apache.spark.sql.functions.col
    val cores = spark.sparkContext.defaultParallelism
    withShufflePartitions(8 * cores) {
      // the aggregate comes out at 8×cores shuffle partitions; a cached
      // copy would keep them all, since AQE cannot coalesce a cached plan
      val agg = spark.range(0, 1000).groupBy((col("id") % 100).as("k")).count()
      for (firstValid <- Seq(0L, 10L)) { // a clean batch, then 10 bad rows
        val delivered = new CollectingSink()
        val dead = new CollectingSink()
        val (in, dl) = (new PartitionRecordingSink(delivered), new PartitionRecordingSink(dead))
        new RowSkippingSink(in, col("k") >= firstValid, Some(dl)).write(agg, 0L)
        assert(delivered.rows.size == 100 - firstValid && dead.rows.size == firstValid)
        assert(in.partitions.size == 1 && dl.partitions.size == (if (firstValid > 0) 1 else 0))
        assert((in.partitions ++ dl.partitions).forall(_ <= cores),
          s"partitions seen: ${in.partitions} / ${dl.partitions}, cores: $cores")
      }
    }
  }

  test("row-skipping sink runs the upstream plan once per write, retries included") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val runs = spark.sparkContext.longAccumulator("upstream rows")
    // rows [from, until) with the ids in `bad` carrying a NULL value;
    // every upstream execution of a row bumps `runs`
    def batch(from: Long, until: Long, bad: Set[Long]): DataFrame =
      spark.range(from, until).as[Long]
        .map { i => runs.add(1); (i, if (bad(i)) None else Some(s"v$i")) }
        .toDF("id", "v")
    def writeOnce(sink: BatchSink, from: Long, until: Long, bad: Set[Long]): Unit = {
      runs.reset()
      sink.write(batch(from, until, bad), 0L)
      assert(runs.value == until - from, "the upstream plan ran more than once")
    }
    def ids(s: CollectingSink) = s.rows.map(_.getLong(0)).sorted
    val delivered = new CollectingSink()
    val dead = new CollectingSink()
    val s = new RowSkippingSink(delivered, col("v").isNotNull, Some(dead))
    writeOnce(s, 0L, 50L, Set.empty)
    assert(ids(delivered) == (0L until 50L) && dead.rows.isEmpty)
    writeOnce(s, 50L, 100L, Set(60L, 70L))
    assert(ids(dead) == Seq(60L, 70L)) // each dead letter written exactly once

    // the first delivery attempt reads the whole batch, then fails; the
    // retry and the dead-letter count are served from the filled cache
    var attempts = 0
    val flaky = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        attempts += 1
        if (attempts == 1) { df.collect(); throw new RuntimeException("sink down") }
        delivered.write(df, batchId)
      }
    }
    delivered.clear(); dead.clear()
    writeOnce(new RowSkippingSink(new RetryingSink(flaky, sleep = _ => ()),
      col("v").isNotNull, Some(dead)), 100L, 120L, Set(110L))
    assert(attempts == 2)
    assert(ids(delivered) == (100L until 120L).filter(_ != 110L) && ids(dead) == Seq(110L))
  }

  test("referencePolicy: query leg skips bad rows, response leg aborts the batch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val q = new CollectingSink()
    val dead = new CollectingSink()
    final class ExplodingSink extends graft.sinks.BatchSink {
      var calls = 0
      override def write(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
        calls += 1; throw new RuntimeException("store down")
      }
    }
    val r = new ExplodingSink
    val sinks = graft.streaming.DnstapPipeline.Sinks.referencePolicy(
      q, r, new CollectingSink(), queryRowValid = col("v").isNotNull,
      deadLetter = Some(dead))
    // query leg: the invalid row diverts, the remainder delivers
    sinks.queries.write(Seq((1L, Some("x")), (2L, None)).toDF("id", "v"), 0L)
    assert(q.rows.map(_.getLong(0)) == Seq(1L))
    assert(dead.rows.map(_.getLong(0)) == Seq(2L))
    // response leg: abort-on-error propagates (checkpoint replays it)
    val e = intercept[RuntimeException] {
      sinks.responses.write(Seq((9L, Some("y"))).toDF("id", "v"), 0L)
    }
    assert(e.getMessage == "store down" && r.calls == 1)
  }

  test("compaction collapses per-batch partitions into few files, rows intact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-compact")
    val dir = s"$root/t"
    val sink = new ParquetAppendSink(dir)
    (0L until 6L).foreach { b =>
      sink.write(Seq((b * 2, s"v$b"), (b * 2 + 1, s"w$b")).toDF("id", "v"), b)
    }
    def parquetFiles(p: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.filter(f => f.toString.endsWith(".parquet")).count() finally s.close()
    }
    val before = parquetFiles(dir)
    assert(before >= 6) // one+ file per batch partition
    // compact only closed batches (0..4); batch 5 stays replayable
    val out = s"$root/compacted"
    val n = Compaction.compact(spark, dir, out, maxBatchId = 4L, targetFiles = 1)
    assert(n == 10)
    assert(parquetFiles(out) == 1)
    val rows = spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(rows == (0L until 10L))
    // lineage survives as a plain column
    assert(spark.read.parquet(out).columns.contains("__batch_id"))
  }

  test("ClickHouse DDL derives from config: renames apply, drops vanish") {
    import graft.config.GraftConfig
    val cfg = GraftConfig.fromToml(
      "[ClickHouse]\nQueryTable = \"q\"\nQueryAddressColumn = \"client\"\nQuestionTypeColumn = \"\"\n")
    val ddl = ClickHouseDdl.queryTable(cfg)
    assert(ddl.startsWith("CREATE TABLE q (") )
    assert(ddl.contains("client String"))
    assert(!ddl.contains("questionType"))
    assert(ddl.contains("counter UInt64"))
    // sample table follows the quickstart's LowCardinality identity
    val sample = ClickHouseDdl.sampleTable(GraftConfig.defaults)
    assert(sample.contains("identity LowCardinality(String)"))
    assert(sample.contains("queryResponseTimeDelta UInt64"))
    assert(ClickHouseDdl.all(GraftConfig.defaults).size == 3)
  }

  test("column projection renames and drops; identity passes through") {
    import spark.implicits._
    val df = Seq((1L, "x", 2L)).toDF("a", "b", "c")
    val p = ColumnProjection(Seq("a" -> "alpha", "b" -> "", "c" -> "c"))
    assert(p(df).columns.toSeq == Seq("alpha", "c"))
    assert(ColumnProjection.identity(df).columns.toSeq == Seq("a", "b", "c"))
  }
}
