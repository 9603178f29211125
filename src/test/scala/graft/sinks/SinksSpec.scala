package graft.sinks

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec

class SinksSpec extends SparkSpec {

  /** Tags each job `inner` submits with `tag`. */
  private final class TaggingSink(tag: String, inner: BatchSink) extends BatchSink {
    override def write(df: DataFrame, batchId: Long): Unit = {
      spark.sparkContext.addJobTag(tag)
      try inner.write(df, batchId) finally spark.sparkContext.removeJobTag(tag)
    }
  }

  /** The job tags of every job `body` submits from this thread. A marker
    * job run after `body` shows that the listener has seen them all. */
  private def jobTagsOf(body: => Unit): Seq[Set[String]] = {
    val sc = spark.sparkContext
    val (inBody, marker) = (s"body-${java.util.UUID.randomUUID()}", s"marker-${java.util.UUID.randomUUID()}")
    val seen = new ConcurrentLinkedQueue[Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(',').toSet))
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(inBody)
      try body finally sc.removeJobTag(inBody)
      sc.addJobTag(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!seen.asScala.exists(_(marker)) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_(marker)), "the listener never saw the marker job")
      seen.asScala.toSeq.filter(_(inBody))
    } finally sc.removeSparkListener(listener)
  }

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

  test("retrying sink rethrows an interrupted write at once, interrupt flag kept") {
    val calls = new AtomicInteger()
    val entered = new CountDownLatch(1)
    val blocked = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        calls.incrementAndGet(); entered.countDown()
        Thread.sleep(60000)
      }
    }
    @volatile var thrown: Throwable = null
    @volatile var flagKept = false
    val writer = new Thread(() =>
      try new RetryingSink(blocked).write(null, 0L) // 10 s backoff, 5 attempts
      catch { case e: Throwable => thrown = e; flagKept = Thread.currentThread().isInterrupted })
    writer.setDaemon(true)
    writer.start()
    assert(entered.await(30, TimeUnit.SECONDS))
    writer.interrupt()
    writer.join(5000)
    assert(!writer.isAlive, "the interrupted write is still backing off or retrying")
    assert(calls.get == 1)
    assert(thrown.isInstanceOf[InterruptedException] && flagKept)
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

  test("row-skipping sink dead-letters every bad row when a write task fails and is retried") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 4 partitions of 10 rows; the bad rows (NULL v) all sit in partition 0
    val df = spark.range(0L, 40L, 1L, 4).as[Long]
      .map(i => (i, if (i < 5) None else Some(s"v$i"))).toDF("id", "v")
    assert(spark.sparkContext.defaultParallelism >= 4) // the cache keeps the partitioning
    val delivered = new CollectingSink()
    val dead = new CollectingSink()
    var attempts = 0
    val flaky = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        attempts += 1
        // first attempt: partition 0's task reads its rows (filling its
        // cached block), then fails; the retry is served from the cache
        if (attempts == 1) df.foreachPartition { (rows: Iterator[Row]) =>
          rows.foreach(_ => ())
          if (TaskContext.getPartitionId() == 0) throw new IllegalStateException("write task down")
        }
        else delivered.write(df, batchId)
      }
    }
    new RowSkippingSink(new RetryingSink(flaky, sleep = _ => ()), col("v").isNotNull, Some(dead))
      .write(df, 0L)
    assert(attempts == 2)
    assert(delivered.rows.map(_.getLong(0)).sorted == (5L until 40L))
    assert(dead.rows.map(_.getLong(0)).sorted == (0L until 5L), "bad rows were lost")
  }

  test("row-skipping sink runs one job beyond its inner write on a clean batch") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-jobs").toString
    val inners = Seq[BatchSink](new CollectingSink(), new ParquetAppendSink(s"$dir/t"))
    for ((inner, batchId) <- inners.zipWithIndex) {
      val dead = new CollectingSink()
      val tagged = new TaggingSink("inner-write", inner)
      val jobs = jobTagsOf {
        new RowSkippingSink(tagged, col("v").isNotNull, Some(dead))
          .write(Seq((1L, Some("x")), (2L, Some("y"))).toDF("id", "v"), batchId.toLong)
      }
      // the dead-letter count over the filled cache, and nothing else
      assert(jobs.exists(_("inner-write")) && jobs.count(!_("inner-write")) == 1,
        s"${inner.getClass.getSimpleName}: ${jobs.count(!_("inner-write"))} of " +
          s"${jobs.size} jobs ran outside the inner write")
      assert(dead.rows.isEmpty)
    }
    assert(spark.read.parquet(s"$dir/t").count() == 2)
  }

  test("row-skipping sink dead-letters bad rows when the inner sink never reads them") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dead = new CollectingSink()
    val ignoring = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = ()
    }
    new RowSkippingSink(ignoring, col("v").isNotNull, Some(dead))
      .write(Seq((1L, Some("x")), (2L, None), (3L, None)).toDF("id", "v"), 0L)
    assert(dead.rows.map(_.getLong(0)).sorted == Seq(2L, 3L))
  }

  test("column projection renames and drops; identity passes through") {
    import spark.implicits._
    val df = Seq((1L, "x", 2L)).toDF("a", "b", "c")
    val p = ColumnProjection(Seq("a" -> "alpha", "b" -> "", "c" -> "c"))
    assert(p(df).columns.toSeq == Seq("alpha", "c"))
    assert(ColumnProjection.identity(df).columns.toSeq == Seq("a", "b", "c"))
  }
}
