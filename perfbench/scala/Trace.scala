package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.sinks.BatchSink

/** One span: a timed interval at a boundary the benchmark owns. Times are
  * epoch nanoseconds; `parent` is another span's id or "". */
final case class Span(id: String, name: String, start: Long, end: Long, parent: String)

/** In-memory span store, written out when the run ends. Recording is off
  * until [[on]] is set, so one process can time a phase untraced and then
  * traced. */
object Spans {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  def nextId(prefix: String): String = s"$prefix-${ids.incrementAndGet()}"

  def add(s: Span): Unit = if (on) spans.add(s)

  def add(name: String, start: Long, end: Long, parent: String = "",
          id: String = ""): String = {
    val sid = if (id.nonEmpty) id else nextId(name.takeWhile(_ != ':'))
    add(Span(sid, name, start, end, parent))
    sid
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeJsonl(path: String, runId: String): Unit = {
    val sb = new java.lang.StringBuilder()
    all.sortBy(_.start).foreach { s =>
      sb.append(Json.write(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "run" -> runId))).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb)
  }
}

object Clock {
  private val anchorNano = System.nanoTime()
  private val anchorEpochNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  def epochNs(nano: Long = System.nanoTime()): Long = anchorEpochNs + (nano - anchorNano)
}

/** Sink write timings, per table, recorded from outside the program by
  * wrapping the sink stack `GraftApp` builds. */
object SinkStats {
  final case class Write(table: String, batchId: Long, start: Long, end: Long, failed: Boolean)
  private val writes = new ConcurrentLinkedQueue[Write]()
  def add(w: Write): Unit = writes.add(w)
  def all: Seq[Write] = writes.asScala.toSeq
}

/** A benchmark-owned [[BatchSink]] that times each write of `inner`;
  * `query` names the streaming query whose batch the write belongs to. */
final class TimingSink(table: String, query: String, inner: BatchSink) extends BatchSink {
  override def write(df: DataFrame, batchId: Long): Unit = {
    val t0 = Clock.epochNs()
    var failed = true
    try { inner.write(df, batchId); failed = false }
    finally {
      val t1 = Clock.epochNs()
      SinkStats.add(SinkStats.Write(table, batchId, t0, t1, failed))
      Spans.add(s"sink:$table", t0, t1, parent = s"batch-$query-$batchId")
    }
  }
}

/** Listener-side Spark counters for one timed window, plus per-job-group
  * attribution (each registry query runs under its own job group). Job
  * spans hang under their registry query or micro-batch; `queryNames`
  * maps streaming query ids to names. */
final class BenchListener(queryNames: Map[String, String] = Map.empty) extends SparkListener {
  val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
  val runMs = new AtomicLong(); val cpuNs = new AtomicLong(); val gcMs = new AtomicLong()
  val shuffleWrite = new AtomicLong(); val shuffleRead = new AtomicLong()
  val spill = new AtomicLong()
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  val groupJobs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val groupShuffle = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private def group(g: String, m: java.util.concurrent.ConcurrentHashMap[String, AtomicLong]) =
    m.computeIfAbsent(g, _ => new AtomicLong())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val g = prop("spark.jobGroup.id").getOrElse("")
    val batch = for {
      q <- prop("sql.streaming.queryId")
      b <- prop("streaming.sql.batchId")
    } yield s"batch-${queryNames.getOrElse(q, q)}-$b"
    jobParent.put(e.jobId, (batch.getOrElse(if (g.nonEmpty) s"query-$g" else ""), e.time))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    group(g, groupJobs).incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobParent.get(e.jobId)).foreach { case (parent, start) =>
      Spans.add(s"job:${e.jobId}", start * 1000000L, e.time * 1000000L, parent = parent)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      val sw = m.shuffleWriteMetrics.bytesWritten
      shuffleWrite.addAndGet(sw)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      Option(stageGroup.get(e.stageId)).filter(_.nonEmpty)
        .foreach(g => group(g, groupShuffle).addAndGet(sw))
    }
  }

  /** Sum over the job groups `<query>@<execution>` of one query. */
  def groupTotal(m: java.util.concurrent.ConcurrentHashMap[String, AtomicLong], query: String): Double =
    m.asScala.collect { case (g, v) if g.startsWith(query + "@") => v.get.toDouble }.sum

  /** Share of [from, to] (epoch ms) in which no task ran. */
  def idleFrac(from: Long, to: Long): Double = {
    val iv = taskIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    if (to <= from) 0.0 else 1.0 - busy.toDouble / (to - from)
  }

  def sparkMetrics(from: Long, to: Long): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.get.toDouble, "count"),
    ("spark.stages", stages.get.toDouble, "count"),
    ("spark.tasks", tasks.get.toDouble, "count"),
    ("spark.executor_run_ms", runMs.get.toDouble, "ms"),
    ("spark.executor_cpu_ms", cpuNs.get / 1e6, "ms"),
    ("spark.gc_ms", gcMs.get.toDouble, "ms"),
    ("spark.shuffle_write_bytes", shuffleWrite.get.toDouble, "bytes"),
    ("spark.shuffle_read_bytes", shuffleRead.get.toDouble, "bytes"),
    ("spark.spill_bytes", spill.get.toDouble, "bytes"),
    ("spark.driver_idle_frac", idleFrac(from, to), "fraction"))
}

object Stats {
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer/reader (jackson ships with Spark). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}
