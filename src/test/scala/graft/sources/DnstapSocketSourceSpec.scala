package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.net.UnixDomainSocketAddress
import java.nio.channels.{Channels, SocketChannel}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class FrameStreamsSpec extends AnyFunSuite {
  test("unidirectional stream: START, data frames, STOP") {
    val out = new ByteArrayOutputStream()
    FrameStreams.writeControlFrame(out, FrameStreams.ControlStart,
      Seq(FrameStreams.ContentTypeDnstap))
    FrameStreams.writeDataFrame(out, Array[Byte](1, 2, 3))
    FrameStreams.writeDataFrame(out, Array[Byte](4))
    FrameStreams.writeControlFrame(out, FrameStreams.ControlStop)

    val r = new FrameStreams.Reader(new ByteArrayInputStream(out.toByteArray))
    assert(r.next().map(_.toSeq) == Some(Seq[Byte](1, 2, 3)))
    assert(r.next().map(_.toSeq) == Some(Seq[Byte](4)))
    assert(r.next().isEmpty)
    assert(r.next().isEmpty) // stays finished
  }

  test("bidirectional handshake: READY->ACCEPT, STOP->FINISH") {
    val out = new ByteArrayOutputStream()
    FrameStreams.writeControlFrame(out, FrameStreams.ControlReady,
      Seq(FrameStreams.ContentTypeDnstap))
    FrameStreams.writeControlFrame(out, FrameStreams.ControlStart)
    FrameStreams.writeDataFrame(out, Array[Byte](9))
    FrameStreams.writeControlFrame(out, FrameStreams.ControlStop)

    val replies = new ByteArrayOutputStream()
    val r = new FrameStreams.Reader(new ByteArrayInputStream(out.toByteArray),
      Some(replies))
    assert(r.next().map(_.toSeq) == Some(Seq[Byte](9)))
    assert(r.next().isEmpty)

    // reply stream carries ACCEPT (with content type) then FINISH
    val in = new java.io.DataInputStream(new ByteArrayInputStream(replies.toByteArray))
    def readControl(): FrameStreams.ControlFrame = {
      assert(in.readInt() == 0)
      val len = in.readInt()
      val p = new Array[Byte](len); in.readFully(p)
      FrameStreams.parseControlFrame(p)
    }
    val accept = readControl()
    assert(accept.ctype == FrameStreams.ControlAccept)
    assert(accept.contentTypes == Seq(FrameStreams.ContentTypeDnstap))
    assert(readControl().ctype == FrameStreams.ControlFinish)
  }

  test("oversized frame is rejected (1 MiB cap, dnstap.go:205)") {
    val out = new ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(out)
    d.writeInt(FrameStreams.DefaultMaxFrameBytes + 1)
    val r = new FrameStreams.Reader(new ByteArrayInputStream(out.toByteArray))
    intercept[IllegalArgumentException](r.next())
  }
}

class FrameSocketServerSpec extends AnyFunSuite {
  test("bound socket file is group-writable 0660 (dnstap.go:130-134 parity)") {
    val sock = Files.createTempDirectory("graft-perm").resolve("d.sock").toString
    val server = new FrameSocketServer(sock, readers = 1,
      maxFrameBytes = FrameStreams.DefaultMaxFrameBytes, emit = _ => ())
    server.start()
    try {
      server.awaitBound()
      import java.nio.file.attribute.PosixFilePermissions
      val perms = Files.getPosixFilePermissions(java.nio.file.Paths.get(sock))
      assert(perms == PosixFilePermissions.fromString("rw-rw----"),
        s"expected rw-rw---- on the socket file, got $perms")
    } finally server.close()
  }

  test("ReadTimeout frees a reader pinned by a stalled connection") {
    val sock = Files.createTempDirectory("graft-rt").resolve("d.sock").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Byte]]()
    // single reader + 1 s read deadline (Dnstap.ReadTimeout): without the
    // deadline, the stalled first connection pins the pool forever
    val server = new FrameSocketServer(sock, readers = 1,
      maxFrameBytes = FrameStreams.DefaultMaxFrameBytes,
      emit = f => got.add(f.toSeq), readTimeoutSecs = 1)
    server.start()
    try {
      server.awaitBound()
      val stalled = SocketChannel.open(UnixDomainSocketAddress.of(sock))
      val sOut = Channels.newOutputStream(stalled)
      FrameStreams.writeControlFrame(sOut, FrameStreams.ControlStart,
        Seq(FrameStreams.ContentTypeDnstap))
      // ... and then nothing: the peer hangs without sending a frame

      val healthy = SocketChannel.open(UnixDomainSocketAddress.of(sock))
      val hOut = Channels.newOutputStream(healthy)
      FrameStreams.writeControlFrame(hOut, FrameStreams.ControlStart,
        Seq(FrameStreams.ContentTypeDnstap))
      FrameStreams.writeDataFrame(hOut, Array[Byte](42))
      FrameStreams.writeControlFrame(hOut, FrameStreams.ControlStop)

      // the healthy connection's frame must arrive once the watchdog drops
      // the stalled one (deadline 1 s; allow generous scheduling slack)
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (got.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(got.peek() == Seq[Byte](42))
      stalled.close(); healthy.close()
    } finally server.close()
  }

  test("ReadTimeout spares a slow-but-live peer: byte progress resets the deadline") {
    val sock = Files.createTempDirectory("graft-rt2").resolve("d.sock").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Byte]]()
    val server = new FrameSocketServer(sock, readers = 1,
      maxFrameBytes = FrameStreams.DefaultMaxFrameBytes,
      emit = f => got.add(f.toSeq), readTimeoutSecs = 1)
    server.start()
    try {
      server.awaitBound()
      val conn = SocketChannel.open(UnixDomainSocketAddress.of(sock))
      val out = Channels.newOutputStream(conn)
      FrameStreams.writeControlFrame(out, FrameStreams.ControlStart,
        Seq(FrameStreams.ContentTypeDnstap))
      // dribble one data frame a byte at a time for ~3 s — well past the
      // 1 s deadline in total, but every byte is progress, so the
      // watchdog must not cut the connection (the reference's per-Read
      // deadline semantics, dnstap.go:193-198)
      val payload = Array[Byte](1, 2, 3, 4, 5, 6)
      val framed = java.nio.ByteBuffer.allocate(4 + payload.length)
        .putInt(payload.length).put(payload).array()
      framed.foreach { b => out.write(b); out.flush(); Thread.sleep(300) }
      FrameStreams.writeControlFrame(out, FrameStreams.ControlStop)
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (got.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(got.peek() == payload.toSeq)
      conn.close()
    } finally server.close()
  }

  test("a truncated READY handshake gets no ACCEPT and frees the reader for the next peer") {
    val sock = Files.createTempDirectory("graft-trunc").resolve("d.sock").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Byte]]()
    // one reader and no read deadline: only the reader's own EOF handling
    // can free it for the second peer
    val server = new FrameSocketServer(sock, readers = 1,
      maxFrameBytes = FrameStreams.DefaultMaxFrameBytes,
      emit = f => got.add(f.toSeq))
    server.start()
    try {
      server.awaitBound()
      // peer 1: a READY control frame whose length header claims 4 bytes
      // more than the peer sends, then end of stream
      val ready = new ByteArrayOutputStream()
      FrameStreams.writeControlFrame(ready, FrameStreams.ControlReady,
        Seq(FrameStreams.ContentTypeDnstap))
      val truncated = ready.toByteArray.dropRight(4)
      val p1 = SocketChannel.open(UnixDomainSocketAddress.of(sock))
      val p1Out = Channels.newOutputStream(p1)
      p1Out.write(truncated); p1Out.flush()
      p1.shutdownOutput()

      val p2 = SocketChannel.open(UnixDomainSocketAddress.of(sock))
      val p2Out = Channels.newOutputStream(p2)
      FrameStreams.writeControlFrame(p2Out, FrameStreams.ControlStart,
        Seq(FrameStreams.ContentTypeDnstap))
      FrameStreams.writeDataFrame(p2Out, Array[Byte](7))
      FrameStreams.writeDataFrame(p2Out, Array[Byte](8, 9))
      FrameStreams.writeControlFrame(p2Out, FrameStreams.ControlStop)

      val deadline = System.nanoTime() + 15L * 1000000000L
      while (got.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      // peer 2's frames, and nothing for peer 1
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq == Seq(Seq[Byte](7), Seq[Byte](8, 9)))
      // the reader closed peer 1 before it took peer 2, having written
      // nothing back: its first read is end of stream, not an ACCEPT
      assert(Channels.newInputStream(p1).read() == -1)
      p1.close(); p2.close()
    } finally server.close()
  }
}

class DnstapSocketSourceSpec extends SparkSpec {

  private def connectWithRetry(path: String): SocketChannel = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var last: Exception = null
    while (System.nanoTime() < deadline) {
      if (Files.exists(Paths.get(path))) {
        try return SocketChannel.open(UnixDomainSocketAddress.of(path))
        catch { case e: java.io.IOException => last = e }
      }
      Thread.sleep(50)
    }
    throw new AssertionError(s"socket $path never came up", last)
  }

  test("frames written to the unix socket arrive as micro-batch rows") {
    val sock = Files.createTempDirectory("graft-sock").resolve("d.sock").toString
    val df = spark.readStream.format("graft-dnstap")
      .option("path", sock)
      .option("readers", 2)
      .option("maxFramesPerTrigger", 2)
      .load()
    assert(df.schema.fieldNames.toSeq == Seq("value"))

    val query = df.writeStream.format("memory").queryName("dnstap_sock").start()
    try {
      val conn = connectWithRetry(sock)
      val out = Channels.newOutputStream(conn)
      val in = new java.io.DataInputStream(Channels.newInputStream(conn))
      def readControl(): FrameStreams.ControlFrame = {
        assert(in.readInt() == 0)
        val len = in.readInt()
        val p = new Array[Byte](len); in.readFully(p)
        FrameStreams.parseControlFrame(p)
      }
      // full bidirectional handshake, as a real dnstap emitter would
      FrameStreams.writeControlFrame(out, FrameStreams.ControlReady,
        Seq(FrameStreams.ContentTypeDnstap))
      assert(readControl().ctype == FrameStreams.ControlAccept)
      FrameStreams.writeControlFrame(out, FrameStreams.ControlStart)
      val payloads = (1 to 5).map(i => Array.fill[Byte](i)(i.toByte))
      payloads.foreach(FrameStreams.writeDataFrame(out, _))
      FrameStreams.writeControlFrame(out, FrameStreams.ControlStop)
      assert(readControl().ctype == FrameStreams.ControlFinish)
      conn.close()

      val deadline = System.nanoTime() + 60L * 1000000000L
      def seen() = spark.sql("SELECT value FROM dnstap_sock").collect()
        .map(_.getAs[Array[Byte]](0).toSeq).toSet
      while (seen().size < 5 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(seen() == payloads.map(_.toSeq).toSet)

      // admission control: no batch exceeded maxFramesPerTrigger
      val batchSizes = query.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batchSizes.nonEmpty && batchSizes.forall(_ <= 2))
    } finally query.stop()
  }

  test("non-positive maxFramesPerTrigger or maxFrameBytes is rejected " +
    "before the socket binds") {
    val sock = Files.createTempDirectory("graft-sock").resolve("d.sock").toString
    val bad = (for (key <- Seq("maxFramesPerTrigger", "maxFrameBytes", "readers");
                    v <- Seq("0", "-1")) yield key -> v) ++
      Seq("readers" -> "abc", "readTimeoutSecs" -> "-1", "readTimeoutSecs" -> "abc")
    for ((key, v) <- bad) {
      val opts = new CaseInsensitiveStringMap(
        java.util.Map.of("path", sock, key, v))
      val e = intercept[IllegalArgumentException] {
        // a stream that does get built must not keep the socket bound
        new DnstapSocketScan(opts).toMicroBatchStream("unused").stop()
      }
      assert(e.getMessage.contains(s"'$v' for option '$key'"), e.getMessage)
      assert(!Files.exists(Paths.get(sock)), s"$key=$v bound the socket")
    }
  }
}
