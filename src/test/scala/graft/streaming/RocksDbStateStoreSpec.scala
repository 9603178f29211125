package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.LatencyMatcher.{MatchEvent, Sample}

class RocksDbStateStoreSpec extends SparkSpec {

  test("the RocksDB provider the app defaults to runs the latency matcher's state end-to-end") {
    // GraftConfigSpec proves the knob propagates; this proves the
    // provider class it names actually LOADS and serves the state of the
    // matcher the app runs (rocksdbjni is a runtime dependency that a
    // classpath change could silently drop — the config would then fail
    // only at first deploy)
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, graft.config.GraftConfig.RocksDbProvider)
    try {
      def ev(id: Int, us: Long, resp: Boolean) =
        MatchEvent("ns1", "10.0.0.1", 4242, id, us, resp)
      val mem = MemoryStream[MatchEvent]
      val out = LatencyMatcher.samples(spark, mem.toDS(), ttlMs = 600000L)
      val query = out.writeStream.format("memory").queryName("match_rocks")
        .outputMode("append").start()
      // poll, not processAllAvailable: the matcher's processing-time
      // timeout keeps no-data batches running, so the stream never idles
      def await(done: => Boolean): Unit = {
        val deadline = System.nanoTime() + 90L * 1000000000L
        while (!done && System.nanoTime() < deadline) {
          query.exception.foreach(e => throw e)
          Thread.sleep(50)
        }
        assert(done, "the stream did not get there within 90 s")
      }
      def stateRows = Option(query.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      def samples = spark.sql("SELECT * FROM match_rocks").as[Sample].collect().toSeq
      try {
        mem.addData(ev(1, 1000000L, resp = false), ev(2, 2000000L, resp = false))
        await(stateRows == 2L) // both queries held in the store
        // key 1's response matches the query held in state; key 3 is new
        mem.addData(ev(1, 1250000L, resp = true), ev(3, 3000000L, resp = false))
        await(samples.nonEmpty)
        assert(samples == Seq(Sample(LatencyMatcher.tsFromMicros(1250000L), "ns1", 250000L)))
        val metrics = query.lastProgress.stateOperators
          .flatMap(_.customMetrics.keySet.asScala)
        assert(metrics.exists(_.startsWith("rocksdb")),
          s"state operator reports no RocksDB metrics: ${metrics.mkString(",")}")
      } finally query.stop()
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
