package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSpec
import graft.codec.{DnsWire, DnstapCodec}
import graft.sinks.{BatchSink, CollectingSink, ColumnProjection, ParquetAppendSink,
  PartitionRecordingSink, RetryingSink}

/** End-to-end drive of the full streaming topology (SURVEY §3): raw dnstap
  * frames through a MemoryStream source → decode/parse/explode → W1
  * grouping-set aggregation + W2 latency matching → collecting sinks.
  */
class DnstapPipelineSpec extends SparkSpec {

  private def frame(isResponse: Boolean, identity: String, addr: Array[Byte],
                    port: Int, id: Int, qname: String, qtype: Int, rcode: Int,
                    timeSec: Long, timeNsec: Int): Array[Byte] = {
    val wire = DnsWire.encode(id, rcode, isResponse,
      Seq(DnsWire.Question(qname, qtype)))
    val msg =
      if (isResponse)
        DnstapCodec.Message(DnstapCodec.ClientResponse,
          queryAddress = Some(addr), queryPort = Some(port),
          responseTimeSec = Some(timeSec), responseTimeNsec = Some(timeNsec),
          responseMessage = Some(wire))
      else
        DnstapCodec.Message(DnstapCodec.ClientQuery,
          queryAddress = Some(addr), queryPort = Some(port),
          queryTimeSec = Some(timeSec), queryTimeNsec = Some(timeNsec),
          queryMessage = Some(wire))
    DnstapCodec.encode(
      DnstapCodec.Frame(DnstapCodec.TypeMessage, Some(identity), Some(msg)))
  }

  private val a = Array[Byte](10, 0, 0, 1)
  private val b = Array[Byte](10, 0, 0, 9)
  private val frames = Seq(
    // two queries on the same agg key -> counter 2
    frame(isResponse = false, "ns1", a, 1000, 1, "a.example.", 1, 0, 1000L, 0),
    frame(isResponse = false, "ns1", a, 1001, 2, "a.example.", 1, 0, 1001L, 0),
    // NXDOMAIN response -> aggregated; NOERROR response -> dropped (Fl4/Fl5)
    frame(isResponse = true, "ns1", a, 1001, 2, "a.example.", 1, 3, 1002L, 0),
    frame(isResponse = true, "ns1", a, 1000, 1, "a.example.", 1, 0, 1002L, 0),
    // matched pair on (ns1, 10.0.0.9, 4242, 7): delta 500000 us
    frame(isResponse = false, "ns1", b, 4242, 7, "b.example.", 1, 0, 2000L, 0),
    frame(isResponse = true, "ns1", b, 4242, 7, "b.example.", 1, 0, 2000L, 500000000))

  /** One pipeline run over its own MemoryStream. (A MemoryStream truncates
    * batches on commit, so unlike a replayable production source it cannot
    * feed two concurrent streaming queries — each run enables one branch.)
    *
    * `processAllAvailable` never returns for a ProcessingTimeTimeout
    * flatMapGroupsWithState query (shouldRunAnotherBatch is always true, so
    * noNewData is never set); poll `done` on the sinks instead. */
  private def run(cfg: DnstapPipeline.Config, sinks: DnstapPipeline.Sinks)
                 (done: => Boolean): Unit = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    val ckpt = Files.createTempDirectory("graft-pipeline-spec").toString
    val running = DnstapPipeline.start(spark, mem.toDS(), cfg, sinks, ckpt,
      instantTriggers = true)
    try {
      mem.addData(frames)
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!done && System.nanoTime() < deadline) {
        running.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(100)
      }
      assert(done, "pipeline did not produce the expected output in time")
    } finally running.foreach(_.stop())
  }

  test("frames flow through the W1 aggregation branch to the sinks") {
    val qSink = new CollectingSink()
    val rSink = new CollectingSink()
    run(DnstapPipeline.Config(clientResponseTimeSamples = false),
      DnstapPipeline.Sinks(qSink, rSink, new CollectingSink())) {
      qSink.rows.nonEmpty && rSink.rows.nonEmpty
    }

    // W1 queries: 2 distinct full keys x 3 grouping sets
    val qRows = qSink.rows.map(r =>
      (r.getAs[String]("identity"), r.getAs[String]("queryAddress"),
        r.getAs[String]("questionName"), r.getAs[String]("questionType"),
        r.getAs[Long]("counter"))).toSet
    assert(qRows == Set(
      ("ns1", "10.0.0.1", "a.example.", "A", 2L),
      ("ns1", "10.0.0.1", "__ANY__", "__ANY__", 2L),
      ("ns1", "__ANY__", "a.example.", "A", 2L),
      ("ns1", "10.0.0.9", "b.example.", "A", 1L),
      ("ns1", "10.0.0.9", "__ANY__", "__ANY__", 1L),
      ("ns1", "__ANY__", "b.example.", "A", 1L)))

    // W1 responses: only the NXDOMAIN row survives, again 3 sets
    val rRows = rSink.rows.map(r =>
      (r.getAs[String]("responseStatus"), r.getAs[String]("queryAddress"),
        r.getAs[String]("questionName"), r.getAs[Long]("counter"))).toSet
    assert(rRows == Set(
      ("NXDOMAIN", "10.0.0.1", "a.example.", 1L),
      ("NXDOMAIN", "10.0.0.1", "__ANY__", 1L),
      ("NXDOMAIN", "__ANY__", "a.example.", 1L)))
  }

  test("the query leg's rows never carry a null queryTime or identity, aggregated or not") {
    import spark.implicits._
    def query(identity: Option[String], sec: Option[Long], nsec: Option[Int],
              payload: Option[Array[Byte]]): Array[Byte] =
      DnstapCodec.encode(DnstapCodec.Frame(DnstapCodec.TypeMessage, identity,
        Some(DnstapCodec.Message(DnstapCodec.ClientQuery, queryAddress = Some(a),
          queryPort = Some(53), queryTimeSec = sec, queryTimeNsec = nsec,
          queryMessage = payload))))
    val wire = Some(DnsWire.encode(1, 0, false, Seq(DnsWire.Question("c.example.", 1))))
    val odd = Seq(
      query(Some("ns1"), None, None, wire),       // no query timestamp
      query(Some("ns1"), Some(1000L), None, wire), // seconds only
      query(Some("ns1"), None, Some(5), wire),     // nanoseconds only
      query(None, Some(1000L), Some(0), wire),     // no identity
      query(None, None, None, wire),               // neither
      query(Some("ns1"), Some(1000L), Some(0), Some(Array[Byte](1, 2, 3))), // malformed DNS
      query(Some("ns1"), Some(1000L), Some(0), None), // no DNS payload
      DnstapCodec.encode(DnstapCodec.Frame(DnstapCodec.TypeMessage + 1, Some("ns1"))), // not a MESSAGE
      Array[Byte](-1, -1, -1)) // not a dnstap frame
    // `frames` adds well-formed queries and CLIENT_RESPONSE frames
    val rows = DnstapPipeline.queryRows((frames ++ odd).toDS())
    for (aggregate <- Seq(true, false)) {
      val out = DnstapPipeline.aggregateQueries(rows, DnstapPipeline.Config(aggregate = aggregate))
        .select("queryTime", "identity").collect()
      assert(out.nonEmpty && out.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
        s"aggregate=$aggregate: ${out.filter(r => r.isNullAt(0) || r.isNullAt(1)).toSeq}")
      // the five odd queries with a well-formed payload all reach the
      // sink, the two without an identity under ""
      if (!aggregate) assert(out.length == 3 + 5 && out.count(_.getString(1) == "") == 2)
    }
  }

  test("a query write that fails once is retried from the batch's frames: same sums, one batch directory") {
    val dir = Files.createTempDirectory("graft-retry-spec").toString + "/q"
    val parquet = new ParquetAppendSink(dir)
    val attempts = new AtomicInteger()
    val delivered = new CountDownLatch(1)
    val failsOnce = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        if (attempts.incrementAndGet() == 1) {
          parquet.write(df.limit(2), batchId) // part of the batch lands, then the write fails
          throw new RuntimeException("sink down")
        }
        parquet.write(df, batchId)
        delivered.countDown()
      }
    }
    run(DnstapPipeline.Config(clientResponseTimeSamples = false),
      DnstapPipeline.Sinks(new RetryingSink(failsOnce, maxAttempts = 3, sleep = _ => ()),
        new CollectingSink(), new CollectingSink()))(delivered.getCount == 0)
    assert(attempts.get == 2)
    // per-key counter sums over the table: `frames`' 2 full keys x 3 grouping sets
    val sums = spark.read.parquet(dir).collect().toSeq.groupMapReduce(r =>
      (r.getAs[String]("queryAddress"), r.getAs[String]("questionName")))(_.getAs[Long]("counter"))(_ + _)
    assert(sums == Map(("10.0.0.1", "a.example.") -> 2L, ("10.0.0.1", "__ANY__") -> 2L,
      ("__ANY__", "a.example.") -> 2L, ("10.0.0.9", "b.example.") -> 1L,
      ("10.0.0.9", "__ANY__") -> 1L, ("__ANY__", "b.example.") -> 1L))
    val batchDirs = Files.list(Paths.get(dir))
    try assert(batchDirs.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("__batch_id=")).toSeq == Seq("__batch_id=0"))
    finally batchDirs.close()
  }

  test("Spark's numInputRows counts a W1 frame once per leg that scans the batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def inputRows(cfg: DnstapPipeline.Config): Long = {
      val mem = MemoryStream[Array[Byte]]
      val ckpt = Files.createTempDirectory("graft-input-rows-spec").toString
      val Seq(q) = DnstapPipeline.start(spark, mem.toDS(), cfg,
        DnstapPipeline.Sinks(new CollectingSink(), new CollectingSink(), new CollectingSink()),
        ckpt, instantTriggers = true)
      try {
        mem.addData(frames)
        q.processAllAvailable()
        q.recentProgress.map(_.numInputRows).sum
      } finally q.stop()
    }
    val w1 = DnstapPipeline.Config(clientResponseTimeSamples = false)
    assert(inputRows(w1.copy(nonOkClientResponses = false)) == frames.size)
    assert(inputRows(w1) == 2 * frames.size)
  }

  test("W1 stopped mid-batch under Spark's default checkpoint manager resumes under the app's") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-restart-spec")
    val (ckpt, out) = (s"$root/ckpt", s"$root/out")
    val cfg = DnstapPipeline.Config(clientResponseTimeSamples = false)
    // batch b: three queries under its own names and one NXDOMAIN response
    def batch(b: Int): Seq[Array[Byte]] = (0 until 3).map(i =>
      frame(isResponse = false, "ns1", a, 1000 + i, i, s"b$b-$i.example.", 1, 0, 1000L + b, 0)) :+
      frame(isResponse = true, "ns1", a, 1000, 0, s"b$b-0.example.", 1, 3, 1001L + b, 0)
    val mem = MemoryStream[Array[Byte]]
    def start(queries: BatchSink): StreamingQuery = {
      val Seq(q) = DnstapPipeline.start(spark, mem.toDS(), cfg,
        DnstapPipeline.Sinks(queries, new ParquetAppendSink(s"$out/r"), new CollectingSink()),
        ckpt, instantTriggers = true)
      q
    }
    def fileManager(q: StreamingQuery): AnyRef = {
      val log = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.offsetLog
      log.getClass.getMethod("fileManager").invoke(log)
    }
    def names(dir: String): Seq[String] = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    val parquet = new ParquetAppendSink(s"$out/q")

    // first run, under Spark's defaults: batch 1's query leg writes its
    // table and then waits until the query is stopped
    assert(spark.conf.getOption("spark.sql.streaming.checkpointFileManagerClass").isEmpty)
    val entered = new CountDownLatch(1)
    val first = start(new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        parquet.write(df, batchId)
        if (batchId == 1) {
          entered.countDown()
          new CountDownLatch(1).await(120, TimeUnit.SECONDS)
        }
      }
    })
    try {
      mem.addData(batch(0))
      first.processAllAvailable()
      assert(fileManager(first).getClass.getSimpleName == "FileContextBasedCheckpointFileManager")
      mem.addData(batch(1))
      assert(entered.await(60, TimeUnit.SECONDS), "batch 1 never reached the query sink")
    } finally first.stop()
    assert(names(s"$ckpt/agg/offsets").contains("1") && !names(s"$ckpt/agg/commits").contains("1"))
    val recorded = Files.readString(Paths.get(s"$ckpt/agg/offsets/1"))
    mem.addData(batch(2)) // arrives while the query is down

    // second run, under the app's settings. A session sets Hadoop keys
    // without the builder's `spark.hadoop.` prefix, and a `file:` filesystem
    // cached earlier in this JVM would hide a new `fs.file.impl`
    val app = graft.config.GraftConfig.defaults.sparkStreamingOptions
    val settings = Map(
      "spark.sql.streaming.checkpointFileManagerClass" -> app("spark.sql.streaming.checkpointFileManagerClass"),
      "fs.file.impl" -> app("spark.hadoop.fs.file.impl"),
      "fs.file.impl.disable.cache" -> "true")
    val written = new ConcurrentLinkedQueue[Long]()
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val second = start(new BatchSink {
        override def write(df: DataFrame, batchId: Long): Unit = {
          written.add(batchId)
          parquet.write(df, batchId)
        }
      })
      try {
        second.processAllAvailable()
        val m = fileManager(second)
        assert(m.getClass.getSimpleName == "FileSystemBasedCheckpointFileManager")
        assert(m.getClass.getMethod("fs").invoke(m).getClass.getName == app("spark.hadoop.fs.file.impl"))
      } finally second.stop()
    } finally settings.keys.foreach(spark.conf.unset)

    // the restart re-ran batch 1 over its recorded offsets, then batch 2
    assert(written.asScala.toSeq == Seq(1L, 2L))
    assert(Files.readString(Paths.get(s"$ckpt/agg/offsets/1")) == recorded)
    // each batch directory holds its own batch, once
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    Seq("q", "r").foreach(t =>
      assert(names(s"$out/$t") == Seq("__batch_id=0", "__batch_id=1", "__batch_id=2"), t))
    (0 to 2).foreach { b =>
      assert(rows(spark.read.parquet(s"$out/q/__batch_id=$b")) ==
        rows(DnstapPipeline.aggregateQueries(DnstapPipeline.queryRows(batch(b).toDS()), cfg)), s"batch $b")
      val responses = spark.read.parquet(s"$out/r/__batch_id=$b").collect()
      assert(responses.map(_.getAs[String]("questionName")).toSet == Set(s"b$b-0.example.", "__ANY__") &&
        responses.length == 3 && responses.forall(_.getAs[Long]("counter") == 1L), s"batch $b")
    }
    // both managers leave the same files per log entry (batch 0's were
    // written under Spark's defaults, batch 2's under the app's), and no temp file
    val layout = (0 to 2).flatMap(b => Seq(s"$b", s".$b.crc")).sorted
    assert(names(s"$ckpt/agg/offsets") == layout)
    assert(names(s"$ckpt/agg/commits") == layout)
  }

  test("a query sink that never succeeds fails W1 after its retries, commits nothing, and a restart delivers the batch once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = Files.createTempDirectory("graft-dead-sink-spec")
    val (ckpt, out) = (s"$root/ckpt", s"$root/out")
    val cfg = DnstapPipeline.Config(clientResponseTimeSamples = false)
    val mem = MemoryStream[Array[Byte]]
    def start(sinks: DnstapPipeline.Sinks): StreamingQuery = {
      val Seq(q) = DnstapPipeline.start(spark, mem.toDS(), cfg, sinks, ckpt, instantTriggers = true)
      q
    }
    def names(dir: String): Seq[String] = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    val parquet = new ParquetAppendSink(s"$out/q")

    // first run: every query write lands part of the batch and throws,
    // while the response leg writes until it is stopped
    val responseEntered = new CountDownLatch(1)
    @volatile var responseInterrupted = false
    @volatile var responseEnded = false
    val attempts = new AtomicInteger()
    val neverSucceeds = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        responseEntered.await(30, TimeUnit.SECONDS) // fail while the response leg writes
        attempts.incrementAndGet()
        parquet.write(df.limit(2), batchId)
        throw new RuntimeException("query store down")
      }
    }
    val slowResponses = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        responseEntered.countDown()
        try Thread.sleep(120000)
        catch { case e: InterruptedException => responseInterrupted = true; throw e }
        finally responseEnded = true
      }
    }
    val first = start(DnstapPipeline.Sinks(new RetryingSink(neverSucceeds, maxAttempts = 3, sleep = _ => ()),
      slowResponses, new CollectingSink()))
    try {
      mem.addData(frames)
      val e = intercept[StreamingQueryException](first.awaitTermination(60000))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.getMessage == "query store down"), e.toString)
      assert(attempts.get == 3)
      assert(responseInterrupted, "the response leg was not interrupted")
      assert(responseEnded, "the response leg outlived the failed batch")
    } finally first.stop()
    assert(names(s"$ckpt/agg/offsets").contains("0"))
    assert(!Files.exists(Paths.get(s"$ckpt/agg/commits/0")), "the failed batch was committed")
    assert(names(s"$out/q") == Seq("__batch_id=0"))

    // restart over the same checkpoint with healthy sinks
    val written = new ConcurrentLinkedQueue[Long]()
    val second = start(DnstapPipeline.Sinks(
      new RetryingSink(new BatchSink {
        override def write(df: DataFrame, batchId: Long): Unit = {
          written.add(batchId)
          parquet.write(df, batchId)
        }
      }, maxAttempts = 3, sleep = _ => ()),
      new ParquetAppendSink(s"$out/r"), new CollectingSink()))
    try second.processAllAvailable() finally second.stop()
    assert(written.asScala.toSeq == Seq(0L))
    assert(names(s"$ckpt/agg/commits").contains("0"))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    Seq("q", "r").foreach(t => assert(names(s"$out/$t") == Seq("__batch_id=0"), t))
    assert(rows(spark.read.parquet(s"$out/q/__batch_id=0")) ==
      rows(DnstapPipeline.aggregateQueries(DnstapPipeline.queryRows(frames.toDS()), cfg)))
    val responses = spark.read.parquet(s"$out/r/__batch_id=0").collect()
    assert(responses.map(r => (r.getAs[String]("responseStatus"), r.getAs[String]("questionName"),
      r.getAs[Long]("counter"))).toSet ==
      Set(("NXDOMAIN", "a.example.", 1L), ("NXDOMAIN", "__ANY__", 1L)) && responses.length == 3)
  }

  /** Records each write's batch id, the writing thread and the
    * `streaming.sql.batchId` local property that thread carries. */
  private final class ThreadRecordingSink(inner: BatchSink) extends BatchSink {
    val seen = new ConcurrentLinkedQueue[(Long, Thread, String)]()
    override def write(df: DataFrame, batchId: Long): Unit = {
      seen.add((batchId, Thread.currentThread(),
        spark.sparkContext.getLocalProperty("streaming.sql.batchId")))
      inner.write(df, batchId)
    }
  }

  test("each W1 leg writes on its own thread, carrying its batch's batchId") {
    val qSink = new CollectingSink()
    val rSink = new CollectingSink()
    val (q, r) = (new ThreadRecordingSink(qSink), new ThreadRecordingSink(rSink))
    run(DnstapPipeline.Config(clientResponseTimeSamples = false),
      DnstapPipeline.Sinks(q, r, new CollectingSink())) {
      qSink.rows.nonEmpty && rSink.rows.nonEmpty
    }
    val (qSeen, rSeen) = (q.seen.asScala.toSeq, r.seen.asScala.toSeq)
    assert(qSeen.nonEmpty && rSeen.nonEmpty)
    (qSeen ++ rSeen).foreach { case (batchId, _, prop) =>
      assert(prop == batchId.toString, s"batch $batchId written under batchId $prop")
    }
    // the two legs of a batch run concurrently, on two threads
    val pairs = for ((bq, tq, _) <- qSeen; (br, tr, _) <- rSeen if bq == br) yield tq ne tr
    assert(pairs.nonEmpty && pairs.forall(identity))
  }

  test("a failing response sink fails the batch, and the query leg does not outlive it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val entered = new CountDownLatch(1)
    @volatile var queryLegInterrupted = false
    @volatile var queryLegEnded = false
    val slowQueries = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        entered.countDown()
        try Thread.sleep(120000)
        catch { case e: InterruptedException => queryLegInterrupted = true; throw e }
        finally queryLegEnded = true
      }
    }
    val failingResponses = new BatchSink {
      override def write(df: DataFrame, batchId: Long): Unit = {
        entered.await(30, TimeUnit.SECONDS) // fail while the query leg writes
        throw new RuntimeException("response store down")
      }
    }
    val mem = MemoryStream[Array[Byte]]
    val ckpt = Files.createTempDirectory("graft-pipeline-fail-spec").toString
    val running = DnstapPipeline.start(spark, mem.toDS(),
      DnstapPipeline.Config(clientResponseTimeSamples = false),
      DnstapPipeline.Sinks(slowQueries, failingResponses, new CollectingSink()),
      ckpt, instantTriggers = true)
    try {
      mem.addData(frames)
      val e = intercept[StreamingQueryException] {
        running.foreach(_.awaitTermination(60000))
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.getMessage == "response store down"), e.toString)
      assert(queryLegInterrupted, "the query leg was not interrupted")
      assert(queryLegEnded, "the query leg outlived the failed batch")
    } finally running.foreach(_.stop())
  }

  test("frames flow through the W2 latency branch to the samples sink") {
    val sSink = new CollectingSink(
      ColumnProjection(Seq("responseTime" -> "", "identity" -> "identity",
        "responseTimeMicroSec" -> "delta_us", "counter" -> "counter")))
    val recorded = new PartitionRecordingSink(sSink)
    // more shuffle partitions than cores: the cached per-identity
    // aggregate must still reach the sink in at most one per core
    val cores = spark.sparkContext.defaultParallelism
    withShufflePartitions(4 * cores) {
      run(DnstapPipeline.Config(clientQueries = false,
          nonOkClientResponses = false, adaptiveSampling = false),
        DnstapPipeline.Sinks(new CollectingSink(), new CollectingSink(), recorded)) {
        sSink.rows.nonEmpty
      }
    }
    assert(recorded.partitions.nonEmpty && recorded.partitions.forall(_ <= cores),
      s"samples sink saw ${recorded.partitions} partitions with $cores cores")

    // one matched sample, integer-division average, projected columns
    assert(sSink.columns == Seq("identity", "delta_us", "counter"))
    val samples = sSink.rows.map(r =>
      (r.getAs[String]("identity"), r.getAs[Long]("delta_us"),
        r.getAs[Long]("counter")))
    // three matched pairs on ns1: 1000000 + 2000000 + 500000 us,
    // integer-division average = floor(3500000/3)
    assert(samples == Seq(("ns1", 1166666L, 1L)))
  }

  test("adaptive sampling wires the feedback loop (no executor-side registry)") {
    val sSink = new CollectingSink()
    run(DnstapPipeline.Config(clientQueries = false,
        nonOkClientResponses = false, adaptiveSampling = true),
      DnstapPipeline.Sinks(new CollectingSink(), new CollectingSink(), sSink)) {
      sSink.rows.nonEmpty
    }
    // mask starts at 0 (accept-all): same matches as the passthrough run
    assert(sSink.rows.map(_.getAs[Long]("responseTimeMicroSec")) == Seq(1166666L))
  }

  test("mask set in foreachBatch reaches the NEXT batch's executor tasks") {
    // The multi-node channel for O5: foreachBatch runs on the query's
    // stream-execution thread — the thread that submits the next
    // micro-batch's jobs — so a local property set there is serialized
    // into every task of the following trigger. This drives the mechanism
    // end to end WITHOUT any shared-JVM registry: the map side reads the
    // property via TaskContext exactly like DnstapPipeline's flatMap.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val propKey = "graft.sampler.maskBits.spec"
    val mem = MemoryStream[Int]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val ckpt = Files.createTempDirectory("graft-maskprop-spec").toString
    val ds = mem.toDS().mapPartitions { it =>
      val bits = AdaptiveSampler.maskBitsFromTask(propKey)
      it.map(i => (i, bits))
    }
    val q = ds.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Int, Int)],
                       batchId: Long) =>
        batch.collect().foreach { case (_, bits) => seen.add(batchId -> bits) }
        // pretend the control loop widened the mask this interval
        spark.sparkContext.setLocalProperty(propKey, (batchId + 1).toString)
      }
      .start()
    try {
      mem.addData(1)
      q.processAllAvailable()
      mem.addData(2)
      q.processAllAvailable()
    } finally q.stop()
    val byBatch = seen.toArray(Array.empty[(Long, Int)]).toMap
    assert(byBatch(0L) == 0) // unset before the first feedback step
    assert(byBatch(1L) == 1) // the value published by batch 0's foreachBatch
  }

  test("disabling every branch is rejected like the reference Init") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[Array[Byte]]
    val sink = new CollectingSink()
    val cfg = DnstapPipeline.Config(clientQueries = false,
      nonOkClientResponses = false, clientResponseTimeSamples = false)
    intercept[IllegalArgumentException] {
      DnstapPipeline.start(spark, mem.toDS(), cfg,
        DnstapPipeline.Sinks(sink, sink, sink),
        Files.createTempDirectory("graft-pipeline-spec2").toString)
    }
  }
}
