package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.GraftApp
import graft.config.GraftConfig
import graft.sinks.{BatchSink, ParquetAppendSink, RetryingSink, RowSkippingSink}
import graft.streaming.DnstapPipeline

/** Every progress report of the running streaming queries, read by polling
  * `recentProgress` (listener events can be dropped under load). Polled
  * at the end of each phase; a phase spans a few batches, well inside the
  * 100 reports `recentProgress` keeps. */
final class ProgressLog(queries: Seq[StreamingQuery]) {
  private val seen = queries.map(q => q.name -> mutable.LinkedHashMap.empty[(Long, String), StreamingQueryProgress]).toMap

  def poll(): Unit = synchronized {
    queries.foreach { q =>
      q.exception.foreach(e => throw e)
      q.recentProgress.foreach(p => seen(q.name).getOrElseUpdate((p.batchId, p.timestamp), p))
    }
  }

  /** Batches that read frames, in order: (start offset, end offset, commit epoch ms, progress). */
  def batches(query: String): Seq[Batch] = synchronized {
    seen(query).values.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId).map(Batch(_))
  }

  def committed(query: String): Long = synchronized {
    seen(query).values.map(p => Batch.offset(p.sources.head.endOffset)).maxOption.getOrElse(0L)
  }

  /** Wait until every query committed a batch ending at or past `target`. */
  def awaitCommitted(target: Long, timeoutSecs: Int): Unit = {
    val deadline = System.nanoTime() + timeoutSecs * 1000000000L
    while (queries.exists(q => committed(q.name) < target)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"streams committed " +
          queries.map(q => s"${q.name}=${committed(q.name)}").mkString(", ") +
          s" of $target frames within ${timeoutSecs}s")
      Thread.sleep(5)
      poll()
    }
  }
}

final case class Batch(start: Long, end: Long, commitMs: Long, p: StreamingQueryProgress) {
  def duration(k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}

object Batch {
  def offset(json: String): Long =
    if (json == null || json == "null") 0L else json.trim.toLong

  def apply(p: StreamingQueryProgress): Batch = {
    val s = p.sources.head
    Batch(offset(s.startOffset), offset(s.endOffset),
      Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution"), p)
  }

  /** Commit time (epoch ms) of the batch covering frame offset `k`. */
  def commitOf(bs: Seq[Batch], k: Long): Long =
    bs.find(b => b.start <= k && k < b.end).map(_.commitMs)
      .getOrElse(throw new IllegalStateException(s"no committed batch covers frame $k"))
}

/** The ingest workload: the shipped `GraftApp` wiring over the socket
  * source (W1 aggregation branch only), fed by the generator process. A run sends warm-up phases,
  * then one open-loop phase at a fixed rate (freshness) and full-speed
  * bursts (ingest rate); the open-loop phase goes first so that the
  * bursts run on a warmer JVM. A traced run sends the timed phases twice,
  * untraced then traced, to measure the tracing overhead. */
object Ingest {
  final case class Timed(wallS: Seq[Double], fps: Seq[Double], fresh: Seq[Double],
                         lateP50Ms: Double, lateP99Ms: Double, backlogMax: Double,
                         framesSent: Long, windowMs: (Long, Long), batches: Map[String, Seq[Batch]])

  def run(a: Args): Result = {
    val conns = a.nproc
    val burst = a.cfg("burst_frames").asInt
    val nBursts = math.max(2, math.round(a.seconds * a.cfg("bursts_per_10s").asDouble / 10).toInt)
    val rate = a.cfg("open_rate").asDouble
    val openFrames = (rate * a.seconds * a.cfg("open_share").asDouble).toInt
    val warm = Harness.strings(a.cfg("warm_frames")).map(_.toInt)
    val timed = openFrames +: Seq.fill(nBursts)(burst)
    val sizes = warm ++ Seq.fill(if (a.trace) 2 else 1)(timed).flatten
    val gen = new GenProcess(a.genCommand ++ Seq(a.seed.toString, conns.toString,
      sizes.mkString(","), s"${a.runDir}/expected.tsv") ++
      (if (a.trace) Seq(a.cfg("lane_frames").asText) else Nil), s"${a.runDir}/gen.log")
    try {
      val sock = s"${a.runDir}/dnstap.sock"
      val cfg = GraftConfig.defaults.copy(unixSocket = sock, readers = conns,
        clientResponseTimeSamples = false)
      def since0 = (Clock.epochNs() / 1e6 - a.t0EpochMs) / 1000.0
      val setup = mutable.LinkedHashMap.empty[String, Double]
      val spark = sessionLike(a, cfg)
      setup("session") = since0
      val out = s"${a.runDir}/sinks"
      val ckpt = s"${a.runDir}/checkpoint"
      val streams =
        if (a.trace) tracedStart(spark, cfg, out, ckpt)
        else GraftApp.start(spark, cfg, out, ckpt, instantTriggers = true)
      val log = new ProgressLog(streams)
      // each stream attaches its own consumer to the socket while it
      // initializes its sources; a frame sent earlier never reaches it
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (streams.exists(_.status.message.startsWith("Initializing"))) {
        require(System.nanoTime() < deadline, "streams did not start")
        streams.foreach(_.exception.foreach(e => throw e))
        Thread.sleep(10)
      }
      setup("streams_started") = since0
      gen.awaitReady()
      setup("generator_ready") = since0
      var sent = 0L
      def sendPhase(i: Int, r: Double, chunkLog: String = ""): (GenProcess.Sent, Long) = {
        val s = gen.send(i.toString, sock, r, chunkLog)
        val base = sent
        sent += s.frames
        log.awaitCommitted(sent, a.cfg("phase_timeout_s").asInt)
        (s, base)
      }
      warm.indices.foreach(sendPhase(_, 0))
      val setupS = since0
      setup("warm_committed") = setupS

      def timedPhases(first: Int): Timed = {
        val w0 = System.currentTimeMillis()
        val names = streams.map(_.name)
        val (s, base) = sendPhase(first, rate, chunkLog(a, first))
        chunkSpans(a, first, Spans.add("gen:open", s.t0, s.end))
        val bs = names.map(n => n -> log.batches(n)).toMap
        val fresh = new Array[Double](s.frames.toInt)
        var backlog = 0.0
        names.foreach { n =>
          var k = 0
          bs(n).filter(b => b.end > base && b.start < base + s.frames).foreach { b =>
            while (k < s.frames && base + k < b.end) {
              val due = s.t0 / 1e6 + k * 1000.0 / rate
              fresh(k) = math.max(fresh(k), b.commitMs - due)
              k += 1
            }
            val dueByCommit = math.min(s.frames.toDouble, (b.commitMs - s.t0 / 1e6) * rate / 1000.0)
            backlog = math.max(backlog, dueByCommit - (b.end - base))
          }
          require(k == s.frames, s"$n: committed batches cover $k of ${s.frames} open-loop frames")
        }
        val walls = (1 to nBursts).map { k =>
          val (s, base) = sendPhase(first + k, 0, chunkLog(a, first + k))
          chunkSpans(a, first + k, Spans.add(s"gen:burst$k", s.t0, s.end))
          val done = names.map(n => Batch.commitOf(log.batches(n), base + s.frames - 1)).max
          (done - s.t0 / 1e6) / 1000.0 -> s.frames
        }
        val w1 = System.currentTimeMillis()
        Timed(walls.map(_._1), walls.map { case (w, f) => f / w }, fresh.toSeq,
          s.lateP50Us / 1000.0, s.lateP99Us / 1000.0, backlog,
          walls.map(_._2).sum + s.frames, (w0, w1),
          names.map(n => n -> log.batches(n).filter(b => b.commitMs >= w0 && b.commitMs <= w1)).toMap)
      }

      val plain = timedPhases(warm.size)
      val result = new Result()
      if (!a.trace) {
        result.metric("setup_s", setupS, "s")
        result.metric("wall_s", Stats.median(plain.wallS), "s")
        result.metric("lat_p50_ms", Stats.quantile(plain.fresh, 0.5), "ms")
        result.metric("lat_p99_ms", Stats.quantile(plain.fresh, 0.99), "ms")
        result.detail("setup_s_at", setup)
        result.detail("ingest_fps", Stats.median(plain.fps))
        result.detail("burst_frames", burst.toDouble)
        result.detail("bursts", plain.wallS)
        result.detail("open_rate_fps", rate)
        result.detail("open_frames", plain.fresh.length.toDouble)
        result.detail("gen_late_p99_ms", plain.lateP99Ms)
        result.detail("batches", plain.batches.map { case (q, bs) => q -> Map(
          "count" -> bs.size,
          "frames_p50" -> Stats.median(bs.map(_.p.numInputRows.toDouble)),
          "trigger_ms_p50" -> Stats.median(bs.map(_.duration("triggerExecution"))),
          "addBatch_ms_p50" -> Stats.median(bs.map(_.duration("addBatch"))))
        })
      } else {
        val listener = new BenchListener(streams.map(q => q.id.toString -> q.name).toMap)
        spark.sparkContext.addSparkListener(listener)
        Spans.on = true
        val traced = timedPhases(warm.size + nBursts + 1)
        Spans.on = false
        org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        batchSpans(traced.batches)
        result.metric("trace.overhead_frac",
          Stats.median(traced.wallS) / Stats.median(plain.wallS) - 1, "fraction")
        result.metric("gen.frames_sent", traced.framesSent.toDouble, "count")
        result.metric("gen.late_ms_p99", traced.lateP99Ms, "ms")
        result.metric("sources.backlog_max_frames", traced.backlogMax, "count")
        streamingMetrics(traced.batches).foreach { case (n, v, u) => result.metric(n, v, u) }
        sinkMetrics(traced.windowMs).foreach { case (n, v, u) => result.metric(n, v, u) }
        listener.sparkMetrics(traced.windowMs._1, traced.windowMs._2)
          .foreach { case (n, v, u) => result.metric(n, v, u) }
        val batchFrames = Stats.median(traced.batches.values.flatten.map(_.p.numInputRows.toDouble).toSeq)
        val lanes = Lanes.run(spark, a, cfg, gen, math.max(1, batchFrames.toInt))
        lanes.metrics.foreach { case (n, v, u) => result.metric(n, v, u) }
        val ingestFps = Stats.median(plain.fps)
        result.detail("ingest_fps", ingestFps)
        result.detail("ingest_fps_traced", Stats.median(traced.fps))
        result.detail("bottleneck", Lanes.closest(lanes.ratesFps, ingestFps))
      }
      streams.foreach(_.stop())
      gen.quit()
      result.detail("frames_sent", sent.toDouble)
      result.check = Map("kind" -> "ingest", "sinks" -> out, "expected" -> s"${a.runDir}/expected.tsv",
        "frames_sent" -> sent)
      result
    } finally gen.destroy()
  }

  private def chunkLog(a: Args, phase: Int): String =
    if (a.trace && Spans.on) s"${a.runDir}/chunks_$phase.tsv" else ""

  /** The generator's chunk sends of one phase, as children of its span. */
  private def chunkSpans(a: Args, phase: Int, parent: String): Unit = {
    val f = chunkLog(a, phase)
    if (f.nonEmpty && java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f)).forEach { line =>
        val Array(conn, first, start, end) = line.split('\t')
        Spans.add(s"gen:chunk:c$conn:f$first", start.toLong, end.toLong, parent = parent)
      }
  }

  /** The session `graft.Main` builds, run in-process on `nproc` cores. */
  private def sessionLike(a: Args, cfg: GraftConfig): SparkSession = {
    val b = Harness.builder(a)
      .config("spark.sql.shuffle.partitions", a.cfg("shuffle_partitions").asText)
    Harness.start(cfg.sparkStreamingOptions.foldLeft(b) { case (b, (k, v)) => b.config(k, v) })
  }

  /** `GraftApp.start`'s sink stack with benchmark timing around each
    * table's write (outer) and each delivery attempt (inner), driven
    * through `DnstapPipeline.start` like `GraftApp` does. */
  private def tracedStart(spark: SparkSession, cfg: GraftConfig, out: String,
                          ckpt: String): Seq[StreamingQuery] = {
    import spark.implicits._
    val frames = spark.readStream.format("graft-dnstap").options(cfg.socketOptions).load()
      .select("value").as[Array[Byte]]
    def sink(table: String, query: String, projection: graft.sinks.ColumnProjection): BatchSink =
      new RetryingSink(new TimingSink(s"$table.attempt", query,
        new ParquetAppendSink(s"$out/$table", projection)), maxAttempts = 3)
    val agg = "graft-dnstap-agg"
    val querySink = new TimingSink(cfg.queryTable, agg, new RowSkippingSink(
      sink(cfg.queryTable, agg, cfg.queryProjection),
      valid = col("queryTime").isNotNull && col("identity").isNotNull,
      deadLetter = Some(new ParquetAppendSink(s"$out/_dead_letter/${cfg.queryTable}"))))
    DnstapPipeline.start(spark, frames, cfg.pipelineConfig,
      DnstapPipeline.Sinks(
        queries = querySink,
        responses = new TimingSink(cfg.responseTable, agg,
          sink(cfg.responseTable, agg, cfg.responseProjection)),
        samples = sink(cfg.queryResponseTimeTable, "graft-dnstap-samples", cfg.sampleProjection)),
      checkpointRoot = ckpt, instantTriggers = true)
  }

  private val Parts = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")

  /** One span per micro-batch, with its `durationMs` parts laid end to end
    * in execution order (the progress report gives durations, not starts). */
  private def batchSpans(bs: Map[String, Seq[Batch]]): Unit = {
    Spans.on = true
    bs.foreach { case (q, batches) =>
      batches.foreach { b =>
        val end = b.commitMs * 1000000L
        val start = end - (b.duration("triggerExecution") * 1e6).toLong
        val id = Spans.add(s"batch:$q", start, end, id = s"batch-$q-${b.p.batchId}")
        var t = start
        Parts.foreach { part =>
          val d = (b.duration(part) * 1e6).toLong
          Spans.add(s"batch.$part", t, t + d, parent = id)
          t += d
        }
      }
    }
    Spans.on = false
  }

  private def streamingMetrics(bs: Map[String, Seq[Batch]]): Seq[(String, Double, String)] = {
    val all = bs.values.flatten.toSeq
    def p50(k: String) = Stats.median(all.map(_.duration(k)))
    Seq(
      ("streaming.batches", all.size.toDouble, "count"),
      ("streaming.trigger_ms_p50", p50("triggerExecution"), "ms"),
      ("streaming.latestOffset_ms", p50("latestOffset"), "ms"),
      ("streaming.getBatch_ms", p50("getBatch"), "ms"),
      ("streaming.queryPlanning_ms_p50", p50("queryPlanning"), "ms"),
      ("streaming.addBatch_ms_p50", p50("addBatch"), "ms"),
      ("streaming.walCommit_ms_p50", p50("walCommit"), "ms"),
      ("streaming.commitOffsets_ms_p50", p50("commitOffsets"), "ms"))
  }

  private val SinkTables = Seq("clientQuery", "clientResponse")

  /** Each table's write as the trigger sees it: the sink receives the
    * batch's lazy plan, so the write includes decode and aggregation. */
  private def sinkMetrics(w: (Long, Long)): Seq[(String, Double, String)] = {
    val writes = SinkStats.all.filter(x => x.start / 1000000L >= w._1 && x.end / 1000000L <= w._2)
    SinkTables.map { t =>
      (s"sinks.$t.write_ms_p50",
        Stats.median(writes.filter(_.table == t).map(x => (x.end - x.start) / 1e6)), "ms")
    } :+ ("sinks.retries", writes.count(x => x.table.endsWith(".attempt") && x.failed).toDouble, "count")
  }
}
