package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.codec.{DnsWire, DnstapCodec}
import graft.config.GraftConfig
import graft.dns.{DnstapRows, QueryRow}
import graft.sinks.{ParquetAppendSink, RetryingSink, RowSkippingSink}
import graft.sources.{FrameSocketServer, FrameStreams}
import graft.streaming.DnstapPipeline

/** Isolated layer lanes: each times calls into one layer's public
  * functions over the seed's lane frames, single-threaded (the socket
  * lane uses the same connection count as the pipeline; the operators and
  * sinks lanes run Spark jobs over one median batch). They give every
  * layer its own rate, the sheet's single-thread baseline. */
object Lanes {
  final case class Out(metrics: Seq[(String, Double, String)], ratesFps: Map[String, Double])

  private val Reps = 3

  /** Median seconds of `Reps` runs of `f` (one untimed run first). */
  private def timeIt(name: String)(f: => Unit): Double = {
    f
    Stats.median((0 until Reps).map { _ =>
      val t0 = Clock.epochNs(); f; val t1 = Clock.epochNs()
      Spans.add(s"lane:$name", t0, t1)
      (t1 - t0) / 1e9
    })
  }

  def run(spark: SparkSession, a: Args, cfg: GraftConfig, gen: GenProcess,
          batchFrames: Int): Out = {
    Spans.on = true
    val frames = new Traffic(a.seed ^ 0x5eedL).next(a.cfg("lane_frames").asInt)
    val n = frames.length.toDouble

    // sources: FrameStreams.Reader over the framed bytes in memory
    val framed = {
      val out = new ByteArrayOutputStream()
      FrameStreams.writeControlFrame(out, FrameStreams.ControlStart, Seq(FrameStreams.ContentTypeDnstap))
      val d = new DataOutputStream(out)
      frames.foreach { f => d.writeInt(f.length); d.write(f) }
      FrameStreams.writeControlFrame(out, FrameStreams.ControlStop)
      out.toByteArray
    }
    val readerS = timeIt("reader") {
      val r = new FrameStreams.Reader(new ByteArrayInputStream(framed))
      var k = 0
      while (r.next().isDefined) k += 1
      require(k == frames.length, s"reader returned $k of ${frames.length} frames")
    }

    // sources: FrameSocketServer with a no-op consumer, fed by the generator
    val socketFps = {
      val path = s"${a.runDir}/lane.sock"
      val got = new AtomicLong()
      @volatile var done = 0L
      val server = new FrameSocketServer(path, a.nproc, FrameStreams.DefaultMaxFrameBytes,
        _ => if (got.incrementAndGet() == frames.length) done = Clock.epochNs())
      server.start()
      server.awaitBound()
      try {
        val s = gen.send("lane", path, 0)
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (done == 0L && System.nanoTime() < deadline) Thread.sleep(1)
        require(done != 0L, s"socket lane received ${got.get} of ${frames.length} frames")
        Spans.add("lane:socket", s.t0, done)
        n / ((done - s.t0) / 1e9)
      } finally server.close()
    }

    // codec: dnstap protobuf, then DNS wire
    val decoded = frames.map(f => DnstapCodec.decode(f).get)
    val decodeS = timeIt("decode") { frames.foreach(DnstapCodec.decode) }
    val payloads = decoded.flatMap(_.message.flatMap(m => m.queryMessage.orElse(m.responseMessage)))
    val wireS = timeIt("dnswire") { payloads.foreach(DnsWire.parse) }

    // dns: frame → rows (F1 explode, Fl4 NOERROR drop)
    def rows(f: DnstapCodec.Frame) =
      DnstapRows.toQueryRows(f).size + DnstapRows.toResponseRows(f, keepSuccess = false).size
    val rowsS = timeIt("rows") { decoded.foreach(rows) }
    val rowCount = decoded.map(rows).sum
    val fl4 = decoded.map(f => DnstapRows.toResponseRows(f, keepSuccess = true).size -
      DnstapRows.toResponseRows(f, keepSuccess = false).size).sum

    // operators: GroupingSetCounter over one median batch's query rows
    val batch = new Traffic(a.seed ^ 0x9a7cL).next(batchFrames).flatMap(f => DnstapCodec.decode(f).toSeq)
    val (gscS, gscOutPerIn) = {
      import spark.implicits._
      val rows: Seq[QueryRow] = batch.flatMap(DnstapRows.toQueryRows(_)).toSeq
      val df = rows.toDF().cache()
      df.count()
      val agg = DnstapPipeline.aggregateQueries(df, cfg.pipelineConfig)
      val s = timeIt("gsc") { agg.queryExecution.toRdd.foreach(_ => ()) }
      val out = agg.count().toDouble
      df.unpersist()
      (s, out / math.max(1, rows.size))
    }

    // sinks: GraftApp's sink stack over the same batch's aggregated rows,
    // held as local rows so that no upstream plan runs inside the write
    val sinkS = {
      import spark.implicits._
      def local(df: DataFrame) = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
      val queries = local(DnstapPipeline.aggregateQueries(
        batch.flatMap(DnstapRows.toQueryRows(_)).toSeq.toDF(), cfg.pipelineConfig))
      val responses = local(DnstapPipeline.aggregateResponses(
        batch.flatMap(DnstapRows.toResponseRows(_, keepSuccess = false)).toSeq.toDF(), cfg.pipelineConfig))
      val out = s"${a.runDir}/lane-sinks"
      val querySink = new RowSkippingSink(
        new RetryingSink(new ParquetAppendSink(s"$out/${cfg.queryTable}", cfg.queryProjection), maxAttempts = 3),
        valid = col("queryTime").isNotNull && col("identity").isNotNull,
        deadLetter = Some(new ParquetAppendSink(s"$out/_dead_letter/${cfg.queryTable}")))
      val responseSink = new RetryingSink(
        new ParquetAppendSink(s"$out/${cfg.responseTable}", cfg.responseProjection), maxAttempts = 3)
      var batchId = 0L
      timeIt("sinks") {
        querySink.write(queries, batchId)
        responseSink.write(responses, batchId)
        batchId += 1
      }
    }
    Spans.on = false

    val metrics = Seq(
      ("sources.reader_fps", n / readerS, "1/s"),
      ("sources.socket_fps", socketFps, "1/s"),
      ("codec.decode_ns_per_frame", decodeS * 1e9 / n, "ns"),
      ("codec.dnswire_ns_per_msg", wireS * 1e9 / math.max(1, payloads.length), "ns"),
      ("dns.rows_ns_per_frame", rowsS * 1e9 / n, "ns"),
      ("dns.rows_per_frame", rowCount / n, "ratio"),
      ("dns.fl4_dropped", fl4.toDouble, "count"),
      ("operators.gsc_s", gscS, "s"),
      ("operators.gsc_out_per_in", gscOutPerIn, "ratio"),
      ("sinks.batch_write_ms", sinkS * 1000, "ms"))
    val rates = Map(
      "sources.reader" -> n / readerS,
      "sources.socket" -> socketFps,
      "codec" -> n / decodeS,
      "dns" -> n / rowsS,
      "operators" -> batchFrames / gscS,
      "sinks" -> batchFrames / sinkS)
    Out(metrics, rates)
  }

  /** The layer whose isolated rate sits closest to the end-to-end rate,
    * with every layer's rate and its ratio to it. */
  def closest(rates: Map[String, Double], e2eFps: Double): Map[String, Any] = {
    val ratio = rates.map { case (k, v) => k -> v / e2eFps }
    val best = ratio.minBy { case (_, r) => math.abs(math.log(r)) }._1
    Map("layer" -> best, "ingest_fps" -> e2eFps,
      "layer_fps" -> rates, "layer_fps_over_ingest_fps" -> ratio)
  }
}
