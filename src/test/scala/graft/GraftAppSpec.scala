package graft

import java.net.UnixDomainSocketAddress
import java.nio.channels.{Channels, SocketChannel}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{blocking, Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.StorageLevel

import graft.codec.{DnsWire, DnstapCodec}
import graft.config.GraftConfig
import graft.sources.FrameStreams

/** Full-system drive: TOML config → GraftApp (socket source → pipeline →
  * projected parquet sinks), frames pushed through a real unix socket —
  * the reference's deployment shape end to end. */
class GraftAppSpec extends SparkSpec {

  private def frame(isResponse: Boolean, addr: Array[Byte], port: Int,
                    id: Int, qname: String, rcode: Int, sec: Long): Array[Byte] = {
    val wire = DnsWire.encode(id, rcode, isResponse,
      Seq(DnsWire.Question(qname, 1)))
    val msg =
      if (isResponse)
        DnstapCodec.Message(DnstapCodec.ClientResponse, queryAddress = Some(addr),
          queryPort = Some(port), responseTimeSec = Some(sec),
          responseTimeNsec = Some(0), responseMessage = Some(wire))
      else
        DnstapCodec.Message(DnstapCodec.ClientQuery, queryAddress = Some(addr),
          queryPort = Some(port), queryTimeSec = Some(sec),
          queryTimeNsec = Some(0), queryMessage = Some(wire))
    DnstapCodec.encode(DnstapCodec.Frame(DnstapCodec.TypeMessage,
      Some("srv1"), Some(msg)))
  }

  test("K4: [ClickHouse] connection block builds the multi-host TLS JDBC surface") {
    val cfg = GraftConfig.fromToml(
      """[ClickHouse]
        |Hosts = "ch1.internal:9440,ch2.internal:9440"
        |Database = "dns"
        |Username = "graft"
        |Password = "s3cret"
        |Secure = true
        |InsecureSkipVerify = true
        |""".stripMargin)
    // multi-host authority, host order preserved (failover order), and
    // the reference's NATIVE-protocol ports translated to the HTTP(S)
    // ports clickhouse-jdbc actually speaks (9440-secure → 8443)
    assert(cfg.jdbcConnectionUrl ==
      "jdbc:clickhouse://ch1.internal:8443,ch2.internal:8443/dns")
    val opts = cfg.jdbcConnectionOptions
    assert(opts("user") == "graft" && opts("password") == "s3cret")
    assert(opts("ssl") == "true" && opts("sslmode") == "NONE")
    assert(opts("compress_algorithm") == "lz4")
    assert(opts("connect_timeout") == "5000")
    // strict verification when InsecureSkipVerify is off; no ssl keys at all
    // when Secure is off (the driver would otherwise attempt TLS setup)
    val strict = GraftConfig.fromToml("[ClickHouse]\nSecure = true\n")
    assert(strict.jdbcConnectionOptions("sslmode") == "STRICT")
    val plain = GraftConfig.defaults
    assert(!plain.jdbcConnectionOptions.contains("ssl"))
    // default native 9000 → HTTP 8123; unknown ports pass through
    assert(plain.jdbcConnectionUrl == "jdbc:clickhouse://localhost:8123/default")
    val custom = GraftConfig.fromToml("[ClickHouse]\nHosts = \"ch:8123\"\n")
    assert(custom.jdbcConnectionUrl == "jdbc:clickhouse://ch:8123/default")
    // a portless host gets the explicit HTTP(S) default for its scheme,
    // not whatever the driver happens to assume
    val portless = GraftConfig.fromToml("[ClickHouse]\nHosts = \"ch\"\n")
    assert(portless.jdbcConnectionUrl == "jdbc:clickhouse://ch:8123/default")
    val portlessTls = GraftConfig.fromToml(
      "[ClickHouse]\nHosts = \"ch\"\nSecure = true\n")
    assert(portlessTls.jdbcConnectionUrl == "jdbc:clickhouse://ch:8443/default")
    // IPv6: bracketed host:port keeps its port (native → HTTP mapped);
    // a bare IPv6 literal is a HOST — its last hextet is not a port —
    // and gets bracketed + defaulted
    val v6 = GraftConfig.fromToml(
      "[ClickHouse]\nHosts = \"[2001:db8::1]:9000,2001:db8::2\"\n")
    assert(v6.jdbcConnectionUrl ==
      "jdbc:clickhouse://[2001:db8::1]:8123,[2001:db8::2]:8123/default")
    // generic JDBC targets get credentials only
    assert(plain.jdbcAuthOptions == Map("user" -> "default", "password" -> ""))
  }

  test("config-driven app: socket frames land in projected parquet tables") {
    val root = Files.createTempDirectory("graft-app")
    val sock = root.resolve("d.sock").toString
    val cfg = GraftConfig.fromToml(
      s"""[Dnstap]
         |UnixSocket = "$sock"
         |Readers = 2
         |[ClickHouse]
         |QueryTable = "q_out"
         |QueryAddressColumn = "client"
         |QuestionTypeColumn = ""
         |""".stripMargin)

    // more shuffle partitions than cores, as in a deployment (a streaming
    // query keeps the session conf it started with): each batch's query
    // table must still get at most one file per core
    val cores = spark.sparkContext.defaultParallelism
    val queries = withShufflePartitions(8 * cores) {
      GraftApp.start(spark, cfg,
        outputDir = s"$root/out", checkpointDir = s"$root/ckpt",
        instantTriggers = true)
    }
    try {
      // wait for the socket, then stream frames like a dnstap emitter
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!Files.exists(Paths.get(sock)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val a = Array[Byte](10, 0, 0, 1)
      // one query per name, enough keys to spread over every shuffle partition
      val names = "x.example." +: (0 until 40).map(i => s"n$i.example.")
      // two connections write at the same time, alternating names, so both
      // pooled readers feed the one frame buffer concurrently; connection 0
      // also carries the NXDOMAIN response
      val started = new CountDownLatch(2)
      val emitters = (0 until 2).map { c =>
        Future {
          val conn = SocketChannel.open(UnixDomainSocketAddress.of(sock))
          try {
            val out = Channels.newOutputStream(conn)
            FrameStreams.writeControlFrame(out, FrameStreams.ControlStart,
              Seq(FrameStreams.ContentTypeDnstap))
            started.countDown()
            blocking(started.await(30, TimeUnit.SECONDS))
            names.zipWithIndex.filter(_._2 % 2 == c).foreach { case (n, i) =>
              FrameStreams.writeDataFrame(out,
                frame(isResponse = false, a, 1000, 1 + i, n, 0, 1000L))
            }
            if (c == 0) FrameStreams.writeDataFrame(out,
              frame(isResponse = true, a, 1000, 1, "x.example.", 3, 1001L))
            FrameStreams.writeControlFrame(out, FrameStreams.ControlStop)
          } finally conn.close()
        }
      }
      Await.result(Future.sequence(emitters), 30.seconds)

      // poll the query table (grouping-set agg -> 2 rows per name plus the
      // address row); data files live under __batch_id=N partition dirs
      def hasParquet(dir: String): Boolean = {
        val p = Paths.get(dir)
        if (!Files.exists(p)) false
        else {
          val s = Files.walk(p)
          // in-flight task attempts under _temporary don't count: the
          // reader ignores them, so a read would still see no data
          try s.anyMatch(f => f.toString.endsWith(".parquet") &&
            !f.toString.contains("_temporary"))
          finally s.close()
        }
      }
      val qDir = s"$root/out/q_out"
      // the idempotent sink OVERWRITES its __batch_id partition per
      // batch, so a read can race a commit swap and momentarily find a
      // directory with no readable footer (UNABLE_TO_INFER_SCHEMA) —
      // that's "not ready yet", not a failure; keep polling. The last
      // swallowed exception is RETAINED so a genuinely corrupted sink
      // (not the race) stays diagnosable in the timeout assertion
      // instead of surfacing as a bare count mismatch.
      var lastPollErr: Option[Throwable] = None
      def rows() =
        try {
          if (hasParquet(qDir)) spark.read.parquet(qDir).collect()
          else Array.empty[org.apache.spark.sql.Row]
        } catch {
          // schema-infer (AnalysisException) OR a listed file deleted
          // mid-read (SparkException-wrapped FileNotFoundException) —
          // both are the same commit-swap race: not ready, keep polling
          case scala.util.control.NonFatal(e) =>
            lastPollErr = Some(e)
            Array.empty[org.apache.spark.sql.Row]
        }
      // frames may split over several batches, each aggregated on its
      // own: compare per-key counter sums across batches
      def sums(got: Array[org.apache.spark.sql.Row]) =
        got.groupMapReduce(r => (r.getAs[String]("identity"), r.getAs[String]("client"),
          r.getAs[String]("questionName")))(_.getAs[Long]("counter"))(_ + _)
      val expected = names.flatMap(n => Seq(("srv1", "10.0.0.1", n) -> 1L,
        ("srv1", "__ANY__", n) -> 1L)).toMap + (("srv1", "10.0.0.1", "__ANY__") -> 41L)
      val end = System.nanoTime() + 90L * 1000000000L
      while (sums(rows()) != expected && System.nanoTime() < end) Thread.sleep(200)

      val got = rows()
      assert(sums(got) == expected,
        s"query sink incomplete after 90s; last swallowed poll error: " +
          lastPollErr.fold("none")(_.toString))
      // projection applied: renamed address column, dropped question type;
      // __batch_id is the idempotent sink's delivery-lineage partition
      assert(got.head.schema.fieldNames.toSeq ==
        Seq("queryTime", "identity", "client", "questionName", "counter",
          "__batch_id"))
      // at most one parquet file per core in each batch's partition
      val batchDirs = Files.list(Paths.get(qDir))
      try batchDirs.filter(_.getFileName.toString.startsWith("__batch_id=")).forEach { d =>
        val files = Files.list(d)
        val n = try files.filter(_.toString.endsWith(".parquet")).count() finally files.close()
        assert(n <= cores, s"$d holds $n parquet files with $cores cores")
      } finally batchDirs.close()

      // response table got the NXDOMAIN row under its default name
      val rDir = s"$root/out/clientResponse"
      val rEnd = System.nanoTime() + 60L * 1000000000L
      lastPollErr = None // don't attribute this phase to a stale error
      def rCount() =
        try {
          if (hasParquet(rDir)) spark.read.parquet(rDir).count()
          else 0L
        } catch {
          case scala.util.control.NonFatal(e) => lastPollErr = Some(e); 0L
        }
      while (rCount() < 3 && System.nanoTime() < rEnd) Thread.sleep(200)
      assert(rCount() == 3,
        s"response sink count mismatch; last swallowed poll error: " +
          lastPollErr.fold("none")(_.toString))
      // the app wires no dead-letter table; a leftover one would mean a
      // row-skipping decorator is back on the query leg
      assert(!Files.exists(Paths.get(s"$root/out/_dead_letter")))
    } finally queries.foreach(_.stop())
  }

  /** Streams `frames` to the app's socket over one framestream connection. */
  private def emit(sock: String, frames: Seq[Array[Byte]]): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!Files.exists(Paths.get(sock)) && System.nanoTime() < deadline) Thread.sleep(50)
    val conn = SocketChannel.open(UnixDomainSocketAddress.of(sock))
    try {
      val out = Channels.newOutputStream(conn)
      FrameStreams.writeControlFrame(out, FrameStreams.ControlStart,
        Seq(FrameStreams.ContentTypeDnstap))
      frames.foreach(FrameStreams.writeDataFrame(out, _))
      FrameStreams.writeControlFrame(out, FrameStreams.ControlStop)
    } finally conn.close()
  }

  test("the app's query leg writes uncached, in no more Spark jobs than the response leg") {
    val root = Files.createTempDirectory("graft-app-jobs")
    val sock = root.resolve("d.sock").toString
    val cfg = GraftConfig.fromToml(
      s"""[Dnstap]
         |UnixSocket = "$sock"
         |ClientResponseTimeSamples = false
         |""".stripMargin)
    val a = Array[Byte](10, 0, 0, 1)
    val frames = (0 until 20).map(i => frame(isResponse = false, a, 1000, i, s"n$i.example.", 0, 1000L)) :+
      frame(isResponse = true, a, 1000, 0, "n0.example.", 3, 1001L)

    // each job's streaming query, batch, SQL execution and tags, and
    // whether one of its stages computes a persisted RDD
    final case class Job(query: String, batch: String, execution: Option[Long],
                         tags: String, cached: Boolean)
    val jobs = new ConcurrentLinkedQueue[Job]()
    val plans = new ConcurrentHashMap[Long, String]() // SQL execution -> physical plan
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties())
        jobs.add(Job(p.getProperty("sql.streaming.queryId"), p.getProperty("streaming.sql.batchId"),
          Option(p.getProperty("spark.sql.execution.id")).map(_.toLong),
          p.getProperty("spark.job.tags", ""),
          e.stageInfos.exists(_.rddInfos.exists(_.storageLevel != StorageLevel.NONE))))
      }
    }
    val sc = spark.sparkContext
    // other suites in this JVM may have left RDDs persisted on the shared context
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    val queries = GraftApp.start(spark, cfg,
      outputDir = s"$root/out", checkpointDir = s"$root/ckpt", instantTriggers = true)
    try {
      val Seq(agg) = queries
      emit(sock, frames)
      // a batch reports progress once it has committed; the source's
      // offset counts frames
      def committed = agg.recentProgress.exists(_.sources.exists(_.endOffset == frames.size.toString))
      val end = System.nanoTime() + 90L * 1000000000L
      while (!committed && System.nanoTime() < end) {
        agg.exception.foreach(e => throw e)
        Thread.sleep(100)
      }
      assert(committed, "the frames' batches did not commit in 90 s")
      val persisted = sc.getPersistentRDDs -- persistedBefore
      assert(persisted.isEmpty, s"still persisted: ${persisted.values}")
      // a marker job run now shows that the listener has seen every batch job
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      sc.addJobTag(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
      val seen = System.nanoTime() + 30L * 1000000000L
      while (!jobs.asScala.exists(_.tags.contains(marker)) && System.nanoTime() < seen) Thread.sleep(10)
      assert(jobs.asScala.exists(_.tags.contains(marker)), "the listener never saw the marker job")

      val mine = jobs.asScala.toSeq.filter(_.query == agg.id.toString)
      assert(mine.nonEmpty)
      assert(!mine.exists(_.cached), s"a W1 job computed a persisted RDD: $mine")
      // a job belongs to the leg whose table its SQL execution writes
      def leg(j: Job): Option[String] =
        j.execution.flatMap(id => Option(plans.get(id))).flatMap { plan =>
          Seq("clientQuery", "clientResponse").find(t => plan.contains(s"/out/$t/"))
        }
      assert(mine.forall(leg(_).isDefined),
        s"jobs outside both legs' writes: ${mine.filter(leg(_).isEmpty)}")
      mine.groupBy(_.batch).foreach { case (batch, js) =>
        val n = js.groupMapReduce(leg(_).get)(_ => 1)(_ + _)
        assert(n.getOrElse("clientQuery", 0) <= n.getOrElse("clientResponse", 0),
          s"batch $batch jobs per leg: $n")
      }
      assert(!Files.exists(Paths.get(s"$root/out/_dead_letter")))
    } finally {
      queries.foreach(_.stop())
      sc.removeSparkListener(listener)
    }
  }

  test("the stats line counts every frame the app read once: N frames sent, inputRows N") {
    val root = Files.createTempDirectory("graft-app-stats")
    val sock = root.resolve("d.sock").toString
    val cfg = GraftConfig.fromToml(
      s"""[Dnstap]
         |UnixSocket = "$sock"
         |ClientResponseTimeSamples = false
         |""".stripMargin)
    val a = Array[Byte](10, 0, 0, 1)
    val frames = (0 until 20).map(i => frame(isResponse = false, a, 1000, i, s"n$i.example.", 0, 1000L)) :+
      frame(isResponse = true, a, 1000, 0, "n0.example.", 3, 1001L)
    val lines = new ConcurrentLinkedQueue[String]()
    val stats = graft.streaming.StatsReporter.attach(spark, Set("graft-dnstap-agg"),
      graft.streaming.StatsReporter.Schedule(initialSecs = 1), log = lines.add(_))
    val queries = GraftApp.start(spark, cfg,
      outputDir = s"$root/out", checkpointDir = s"$root/ckpt", instantTriggers = true)
    try {
      val Seq(agg) = queries
      emit(sock, frames)
      def committed = agg.recentProgress.exists(_.sources.exists(_.endOffset == frames.size.toString))
      val end = System.nanoTime() + 90L * 1000000000L
      while (!committed && System.nanoTime() < end) {
        agg.exception.foreach(e => throw e)
        Thread.sleep(100)
      }
      assert(committed, "the frames' batches did not commit in 90 s")
      val progress = agg.recentProgress.toSeq
      assert(progress.flatMap(_.sources).forall(_.description == s"graft-dnstap[$sock]"))
      // Spark's own count holds each frame twice, once per W1 leg
      assert(progress.map(_.numInputRows).sum == 2 * frames.size)
      assert(progress.map(graft.streaming.StatsReporter.inputRows).sum == frames.size)
      val want = s" inputRows=${frames.size} "
      val seen = System.nanoTime() + 60L * 1000000000L
      while (!lines.asScala.exists(_.contains(want)) && System.nanoTime() < seen) Thread.sleep(100)
      assert(lines.asScala.exists(_.contains(want)), lines)
    } finally {
      stats.close()
      queries.foreach(_.stop())
    }
  }
}
