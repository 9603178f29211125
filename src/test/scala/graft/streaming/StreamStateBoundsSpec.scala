package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** MEASURED state bounds (r14, VERDICT item 4): the streaming legs
  * document their state-store footprint ("one pending row per
  * unmatched key", "one open session per active key", "one chain head
  * per user"); these tests read
  * `StreamingQueryProgress.stateOperators.numRowsTotal` under
  * multi-batch feeds and assert the documented bound as a number, not
  * a design claim. */
class StreamStateBoundsSpec extends SparkSpec {

  private def t(sec: Long) = new Timestamp(sec * 1000L)

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

  test("StreamSessionize state scales with open sessions, not events") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String)]
    val out = StreamSessionize.sessions(
      mem.toDF().selectExpr("_1 AS user", "CAST(_2 AS TIMESTAMP) AS ts",
        "_3 AS etype"),
      Seq("user"), "ts", gapSec = 100, watermark = "10 seconds")
    val query = out.writeStream.format("memory").queryName("sb_sess")
      .outputMode("append").start()
    try {
      // 30 events, 3 users, each one open session (10s apart, gap 100s)
      mem.addData((0 until 30).map(i => (s"u${i % 3}", 10L + 10L * i, "view")))
      query.processAllAvailable()
      val p1 = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // 30 more events EXTENDING the same 3 sessions: state must not grow
      mem.addData((0 until 30).map(i => (s"u${i % 3}", 320L + 10L * i, "view")))
      query.processAllAvailable()
      val p2 = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(p1 >= 3L && p1 <= 6L,
        s"open-session state should be session-sized (3 sessions), got $p1")
      assert(p2 <= p1,
        s"state grew with events while sessions stayed open: $p1 -> $p2")
      // watermark far past every session end: all sessions close + purge
      mem.addData(("wm", 100000L, "view"))
      query.processAllAvailable()
      mem.addData(("wm2", 200000L, "view"))
      query.processAllAvailable()
      val closed = spark.sql("SELECT * FROM sb_sess").count()
      assert(closed >= 3L)
      val pEnd = query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(pEnd <= 2L, // at most the wm rows' own open sessions
        s"closed sessions were not purged from the state store: $pEnd")
    } finally query.stop()
  }

  test("StreamTransitions state rows == distinct users (the documented " +
    "per-user chain-head floor), flat under event churn") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long)]
    val out = StreamTransitions.pairs(
      mem.toDF().selectExpr("_1 AS user", "_2 AS id", "_3 AS etype",
        "CAST(_4 AS TIMESTAMP) AS ts"),
      "user", "ts", "id", "etype", watermark = "10 seconds")
    val query = out.writeStream.format("memory").queryName("sb_trans")
      .outputMode("append").start()
    try {
      // 200 events over 5 users -> 5 chain heads, not 200 rows
      mem.addData((0 until 200).map(i =>
        (i % 5L, i.toLong, if (i % 2 == 0) "a" else "b", 10L + i)))
      query.processAllAvailable()
      val maxSeen = awaitState(query)(_ == 5L)
      assert(maxSeen <= 5L,
        s"transition state exceeded the chain-head bound: $maxSeen")
      // 200 MORE events on the same users: churn must not grow state
      mem.addData((0 until 200).map(i =>
        (i % 5L, 1000L + i, if (i % 3 == 0) "a" else "c", 300L + i)))
      query.processAllAvailable()
      awaitState(query)(_ == 5L)
      // 40 events per user per wave: 39 pairs each in wave 1, 40 in
      // wave 2 (the chain head survives across batches)
      assert(spark.sql("SELECT * FROM sb_trans").count() === 395L)
    } finally query.stop()
  }
}
