package graft.streaming

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.streaming.LatencyMatcher._

class LatencyMatcherSpec extends SparkSpec {
  private val key = MatchKey("ns1", "10.0.0.1", 4242, 7)
  private def ev(us: Long, resp: Boolean) =
    MatchEvent(key.identity, key.queryAddress, key.queryPort, key.id, us, resp)

  private def freshState(initial: Option[Pending] = None): TestGroupState[Pending] =
    TestGroupState.create[Pending](
      initial.map(Optional.of[Pending]).getOrElse(Optional.empty[Pending]()),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[Long](), hasTimedOut = false)

  private val fn = matchFunction(ttlMs = 10000) _

  test("query then response matches with positive delta; state consumed") {
    val st = freshState()
    val out = fn(key, Iterator(ev(1000000, resp = false)), st).toSeq
    assert(out.isEmpty && st.get == Pending(1000000))
    val out2 = fn(key, Iterator(ev(1500000, resp = true)), st).toSeq
    assert(out2 == Seq(Sample(tsFromMicros(1500000), "ns1", 500000)))
    assert(st.isRemoved)
  }

  test("response before query also matches (symmetric, aggregator.go:375-381)") {
    val st = freshState()
    fn(key, Iterator(ev(2000000, resp = true)), st).toSeq
    val out = fn(key, Iterator(ev(1200000, resp = false)), st).toSeq
    assert(out == Seq(Sample(tsFromMicros(2000000), "ns1", 800000)))
  }

  test("negative delta = collision: stored entry discarded, new one kept") {
    val st = freshState()
    // stale response at t=5s, then a NEW query at t=6s -> delta would be
    // 5s-6s < 0 -> collision: keep the query (aggregator.go:383-388)
    fn(key, Iterator(ev(5000000, resp = true)), st).toSeq
    val out = fn(key, Iterator(ev(6000000, resp = false)), st).toSeq
    assert(out.isEmpty && st.get == Pending(6000000))
    // its response now matches
    val out2 = fn(key, Iterator(ev(6400000, resp = true)), st).toSeq
    assert(out2 == Seq(Sample(tsFromMicros(6400000), "ns1", 400000)))
  }

  test("single batch with both sides matches in time order") {
    val st = freshState()
    val out = fn(key, Iterator(ev(9000000, resp = true), ev(8000000, resp = false)), st).toSeq
    assert(out == Seq(Sample(tsFromMicros(9000000), "ns1", 1000000)))
    assert(!st.exists) // never persisted: matched inside the batch
  }

  test("timeout purges unmatched state (TTL, aggregator.go:510-515)") {
    val st = TestGroupState.create[Pending](Optional.of(Pending(1L)),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[Long](), hasTimedOut = true)
    val out = fn(key, Iterator.empty, st).toSeq
    assert(out.isEmpty && st.isRemoved)
  }

  test("unmatched arrival arms the TTL timer") {
    val st = freshState()
    fn(key, Iterator(ev(1000000, resp = false)), st).toSeq
    assert(st.getTimeoutTimestampMs.isPresent)
  }

  /** Poll lastProgress until the summed state-store row count satisfies
    * `want` (the async listener bus is avoided on purpose — lastProgress
    * is written synchronously by the stream-execution thread). Returns
    * the maximum row count OBSERVED while waiting, so callers can also
    * assert the bound was never exceeded in between. */
  private def awaitState(q: StreamingQuery, deadlineSec: Int = 90)
                        (want: Long => Boolean): Long = {
    val deadline = System.nanoTime() + deadlineSec * 1000000000L
    var maxSeen = -1L
    var last = -1L
    while (System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty) {
        last = p.stateOperators.map(_.numRowsTotal).sum
        maxSeen = math.max(maxSeen, last)
        if (want(last)) return maxSeen
      }
      Thread.sleep(50)
    }
    fail(s"state row count never satisfied the bound; last=$last max=$maxSeen")
  }

  test("LatencyMatcher state rows == live unmatched keys, 0 after matching") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[LatencyMatcher.MatchEvent]
    val out = LatencyMatcher.samples(spark, mem.toDS(), ttlMs = 600000L)
    val query = out.writeStream.format("memory").queryName("sb_match")
      .outputMode("append").start()
    try {
      // 20 unmatched queries on 20 distinct keys -> exactly 20 state rows
      mem.addData((1 to 20).map(i => LatencyMatcher.MatchEvent(
        "ns1", "10.0.0.1", 1000 + i, i, 1000000L * i, isResponse = false)))
      awaitState(query)(_ == 20L)
      // their 20 responses: every match consumes its row -> 0 state rows
      mem.addData((1 to 20).map(i => LatencyMatcher.MatchEvent(
        "ns1", "10.0.0.1", 1000 + i, i, 1000000L * i + 500000L,
        isResponse = true)))
      val maxSeen = awaitState(query)(_ == 0L)
      assert(maxSeen <= 20L, s"state exceeded the unmatched-key bound: $maxSeen")
      val n = spark.sql("SELECT * FROM sb_match").count()
      assert(n == 20L)
    } finally query.stop()
  }
}

class AdaptiveSamplerSpec extends AnyFunSuite {
  test("mask 0 accepts everything") {
    val s = new AdaptiveSampler(seed = 1)
    assert((0 until 100).forall(s.accepts))
  }
  test("widen on overload, narrow when starved, clamped at [0,max]") {
    val s = new AdaptiveSampler(seed = 1, maxMaskBits = 2)
    s.observeInterval(1000); assert(s.currentMaskBits == 1)
    s.observeInterval(1000); assert(s.currentMaskBits == 2)
    s.observeInterval(1000); assert(s.currentMaskBits == 2) // clamped
    s.observeInterval(10); assert(s.currentMaskBits == 1)
    s.observeInterval(100); assert(s.currentMaskBits == 1) // inside band: hold
    s.observeInterval(10); assert(s.currentMaskBits == 0)
    s.observeInterval(10); assert(s.currentMaskBits == 0) // clamped
  }
  test("state pressure widens the mask even when the match rate is low") {
    // the reference's overflow trigger (aggregator.go:455-467): id-churn
    // fills the matcher with unmatched entries while producing few
    // samples — sample count alone would never widen
    val s = new AdaptiveSampler(seed = 1, maxMaskBits = 4, maxPendingState = 100)
    s.observeInterval(samples = 5, pendingState = 101)
    assert(s.currentMaskBits == 1)
    s.observeInterval(samples = 5, pendingState = 5000)
    assert(s.currentMaskBits == 2)
    // pressure gone, starved: narrowing resumes (MapSizeExceeds==0 guard)
    s.observeInterval(samples = 5, pendingState = 100)
    assert(s.currentMaskBits == 1)
    // pressure present blocks the narrow branch by widening instead
    s.observeInterval(samples = 5, pendingState = 101)
    assert(s.currentMaskBits == 2)
  }

  test("each widening halves the accepted id population") {
    val s = new AdaptiveSampler(seed = 42, maxMaskBits = 16)
    def rate = (0 until 65536).count(s.accepts)
    assert(rate == 65536)
    s.observeInterval(10000)
    assert(rate == 32768)
    s.observeInterval(10000)
    assert(rate == 16384)
  }
}
