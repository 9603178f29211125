package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

class StatsReporterSpec extends AnyFunSuite {
  test("cadence grows by half per tick and caps at 4 hours (main.go:155-164)") {
    val s = StatsReporter.Schedule()
    val seq = Iterator.iterate(10L)(s.next).take(30).toSeq
    assert(seq.take(5) == Seq(10L, 15L, 22L, 33L, 49L))
    assert(seq.last == 4L * 3600)          // capped
    assert(s.next(4L * 3600) == 4L * 3600) // stays capped
    assert(seq.sliding(2).forall(p => p(1) >= p(0))) // monotone
  }

  test("report line carries the state-store gauges") {
    val c = new StatsReporter.Counters
    c.batches.set(3); c.inputRows.set(42)
    c.stateRows.set(7); c.stateBytes.set(4096)
    assert(StatsReporter.line(c, 15) ==
      "graft stats: batches=3 inputRows=42 stateRows=7 stateBytes=4096 " +
        "nextIntervalSecs=15")
  }
}

class StatsReporterStateSpec extends graft.SparkSpec {
  test("listener surfaces state rows/bytes from a stateful query's progress") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val handle = StatsReporter.attach(spark, Set("stats_state_q"),
      StatsReporter.Schedule(initialSecs = 1), log = lines.add(_))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[LatencyMatcher.MatchEvent]
    val out = LatencyMatcher.samples(spark, mem.toDS(), ttlMs = 600000L)
    val query = out.writeStream.format("memory").queryName("stats_state_q")
      .outputMode("append").start()
    try {
      mem.addData((1 to 3).map(i => LatencyMatcher.MatchEvent(
        "ns1", "10.0.0.1", 1000 + i, i, 1000000L * i, isResponse = false)): _*)
      // 3 unanswered queries hold matcher state once the batch runs; wait
      // for a tick (no processAllAvailable: the matcher's processing-time
      // timeout keeps no-data batches running, so it never returns)
      val deadline = System.nanoTime() + 60_000_000_000L
      var seen = Option.empty[String]
      while (seen.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(200)
        seen = lines.toArray(Array.empty[String])
          .find(l => l.contains("stateRows=") && !l.contains("stateRows=0 "))
      }
      assert(seen.isDefined, s"no state-carrying report line in $lines")
      assert(seen.get.matches(".*stateRows=[1-9]\\d* stateBytes=[1-9]\\d*.*"),
        s"gauges missing in: ${seen.get}")
      // termination must EVICT the query's gauge entry: a stopped query
      // holds no state, and before the fix the last-seen sizes stayed in
      // the sums forever, overstating the leak signal the gauge exists
      // to expose. Only lines emitted AFTER the stop count (early lines
      // legitimately read stateRows=0 before any data arrived).
      val linesBeforeStop = lines.size()
      query.stop()
      val deadline2 = System.nanoTime() + 20_000_000_000L
      var evicted = false
      while (!evicted && System.nanoTime() < deadline2) {
        Thread.sleep(200)
        evicted = lines.toArray(Array.empty[String]).drop(linesBeforeStop)
          .exists(_.contains("stateRows=0 "))
      }
      assert(evicted,
        s"gauges not evicted after query termination; lines: $lines")
    } finally {
      query.stop()
      handle.close()
    }
  }
}
