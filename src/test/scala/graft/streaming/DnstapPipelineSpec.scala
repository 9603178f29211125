package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.codec.{DnsWire, DnstapCodec}
import graft.sinks.{CollectingSink, ColumnProjection, PartitionRecordingSink}

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
