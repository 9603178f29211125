package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sources.DnstapSocketSource

/** Periodic pipeline stats with the reference's decaying cadence
  * (/root/reference/src/main.go:155-164): first report after 10 s, each
  * interval then grows by half (`interval += interval/2`) until the 4 h
  * cap — chatty at startup, quiet in steady state.
  *
  * Counters come from Spark's own per-batch progress events (frames read
  * and state sizes per query), so the reporter is a pure observer — no
  * hooks inside operators. Each monitored query reads every frame, so with
  * W2 enabled `inputRows` counts a frame once per query.
  */
object StatsReporter {

  final case class Schedule(initialSecs: Long = 10,
                            capSecs: Long = 4L * 3600) {
    /** next interval after `current`: +half, capped (main.go:160-162). */
    def next(current: Long): Long =
      if (current < capSecs) math.min(current + current / 2, capSecs)
      else current
  }

  final class Counters {
    val inputRows = new AtomicLong
    val batches = new AtomicLong
    // state-store GAUGES (latest progress wins, not accumulated): total
    // keyed state rows and bytes across the query's stateful operators —
    // the number an operator watches to see watermark state leak
    val stateRows = new AtomicLong
    val stateBytes = new AtomicLong
  }

  /** Frames a batch read. For the dnstap socket source that is the span of
    * its offsets, which count frames from 0 (a first batch reports no
    * start); other sources give their `numInputRows`. Spark's count cannot
    * serve for the socket: W1's two legs each scan the batch, so its
    * `numInputRows` holds every frame twice. */
  def inputRows(p: StreamingQueryProgress): Long =
    p.sources.map { s =>
      def offset(json: String) = Option(json).flatMap(_.toLongOption).getOrElse(0L)
      if (s.description.startsWith(s"${DnstapSocketSource.Name}["))
        offset(s.endOffset) - offset(s.startOffset)
      else s.numInputRows
    }.sum

  /** One report line; factored out so the format is unit-testable. */
  def line(c: Counters, nextIntervalSecs: Long): String =
    s"graft stats: batches=${c.batches.get} inputRows=${c.inputRows.get} " +
      s"stateRows=${c.stateRows.get} stateBytes=${c.stateBytes.get} " +
      s"nextIntervalSecs=$nextIntervalSecs"

  /** Attach a stats thread + listener for the given query names; returns
    * a handle that stops both. */
  def attach(spark: SparkSession, queryNames: Set[String],
             schedule: Schedule = Schedule(),
             log: String => Unit = null): AutoCloseable = {
    val sink: String => Unit =
      if (log != null) log else new Logging {
        def info(m: String): Unit = logInfo(m)
      }.info
    val counters = new Counters
    // per-query last-seen state sizes: the gauges report the SUM across
    // monitored queries — overwriting the gauge with whichever query
    // progressed last would flap between per-query values and mask the
    // very leak the state gauge exists to expose
    val perQuery =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    // terminated events carry only the query id, not its name — track
    // the mapping so termination can evict the query's gauge entry
    val idToName =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    def recomputeGauges(): Unit = {
      var rows = 0L; var bytes = 0L
      perQuery.values().forEach { v => rows += v._1; bytes += v._2 }
      counters.stateRows.set(rows)
      counters.stateBytes.set(bytes)
    }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (queryNames.contains(e.progress.name)) {
          counters.inputRows.addAndGet(inputRows(e.progress))
          counters.batches.incrementAndGet()
          idToName.put(e.progress.id, e.progress.name)
          val ops = e.progress.stateOperators
          if (ops != null && ops.nonEmpty) {
            perQuery.put(e.progress.name,
              (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
            recomputeGauges()
          }
          ()
        }
      // a stopped query holds no state — leaving its last-seen entry in
      // the sums would permanently overstate the leak signal the gauge
      // exists to expose
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        val name = idToName.remove(e.id)
        if (name != null && perQuery.remove(name) != null) recomputeGauges()
      }
    }
    spark.streams.addListener(listener)

    @volatile var closed = false
    val t = new Thread(() => {
      var interval = schedule.initialSecs
      while (!closed) {
        try Thread.sleep(interval * 1000)
        catch { case _: InterruptedException => () }
        if (!closed) {
          sink(line(counters, schedule.next(interval)))
          interval = schedule.next(interval)
        }
      }
    }, "graft-stats")
    t.setDaemon(true)
    t.start()

    () => {
      closed = true
      t.interrupt()
      spark.streams.removeListener(listener)
    }
  }
}
