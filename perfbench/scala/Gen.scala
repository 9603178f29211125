package perfbench

import java.io.{BufferedReader, ByteArrayOutputStream, DataInputStream, DataOutputStream, InputStreamReader}
import java.net.UnixDomainSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.{Channels, SocketChannel}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

/** The load generator: a process of its own that pre-encodes a seeded
  * [[Traffic]] stream, split into phases, and sends a phase on command
  * over `conns` frame-streams connections (bidirectional handshake) to a
  * unix socket. Frames go out in chunks of [[ChunkFrames]], chunk `m` on
  * connection `m % conns`; at a fixed rate each chunk is sent when its
  * first frame is due, and its lateness is recorded.
  *
  * {{{
  * Gen <seed> <conns> <phase frames,...> <expected-counts path> [lane frames]
  *   stdin  "send <phase|lane> <socket> <frames/s, 0 = full speed> [chunk log]"
  *   stdout "sent <phase> <frames> <t0 epoch ns> <end epoch ns> <late p50 us> <late p99 us> <late max us>"
  *   stdin  "quit"  → writes the expected counts, prints "bye"
  * }}}
  * The "lane" phase comes from a stream of its own and is left out of the expected
  * counts: it feeds the isolated socket lane, not the pipeline. A chunk
  * log gets one line per chunk (per connection at full speed):
  * connection, first frame, start and end epoch ns.
  */
object Gen {
  val ChunkFrames = 64

  private val anchorNano = System.nanoTime()
  private val anchorEpochNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  def epochNs(nano: Long): Long = anchorEpochNs + (nano - anchorNano)

  /** One phase on one connection: framed bytes plus chunk boundaries. */
  final case class Lane(bytes: Array[Byte], chunkEnds: Array[Int], chunkFirstFrame: Array[Long])

  def encodePhase(frames: Array[Array[Byte]], conns: Int): Array[Lane] = {
    val outs = Array.fill(conns)(new ByteArrayOutputStream())
    val ends = Array.fill(conns)(Array.newBuilder[Int])
    val firsts = Array.fill(conns)(Array.newBuilder[Long])
    frames.grouped(ChunkFrames).zipWithIndex.foreach { case (chunk, m) =>
      val c = m % conns
      val d = new DataOutputStream(outs(c))
      chunk.foreach { f => d.writeInt(f.length); d.write(f) }
      ends(c) += outs(c).size()
      firsts(c) += m.toLong * ChunkFrames
    }
    Array.tabulate(conns)(c => Lane(outs(c).toByteArray, ends(c).result(), firsts(c).result()))
  }

  private def control(ctype: Int, contentType: Boolean): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    val b = new DataOutputStream(body)
    b.writeInt(ctype)
    if (contentType) {
      val ct = "protobuf:dnstap.Dnstap".getBytes(US_ASCII)
      b.writeInt(1); b.writeInt(ct.length); b.write(ct)
    }
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.writeInt(0); d.writeInt(body.size()); body.writeTo(d)
    out.toByteArray
  }

  private def writeAll(ch: SocketChannel, b: Array[Byte], from: Int, until: Int): Unit = {
    val buf = ByteBuffer.wrap(b, from, until - from)
    while (buf.hasRemaining) ch.write(buf)
  }

  private def readControl(in: DataInputStream): Unit = {
    require(in.readInt() == 0, "expected a control frame")
    in.readFully(new Array[Byte](in.readInt()))
  }

  /** Send one phase; returns (t0 epoch ns, end epoch ns, chunk lateness µs). */
  def send(lanes: Array[Lane], socket: String, rate: Double,
           chunkLog: Option[String] = None): (Long, Long, Array[Long]) = {
    val start = System.nanoTime() + (if (rate > 0) 20000000L else 0L)
    val late = Array.fill(lanes.length)(Array.newBuilder[Long])
    val chunks = Array.fill(lanes.length)(new java.lang.StringBuilder())
    def logChunk(c: Int, first: Long, t0: Long, t1: Long): Unit =
      if (chunkLog.isDefined)
        chunks(c).append(s"$c\t$first\t${epochNs(t0)}\t${epochNs(t1)}\n")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = lanes.zipWithIndex.map { case (lane, c) =>
      val t = new Thread(() => {
        val ch = SocketChannel.open(UnixDomainSocketAddress.of(socket))
        try {
          val in = new DataInputStream(Channels.newInputStream(ch))
          val ready = control(0x04, contentType = true)
          writeAll(ch, ready, 0, ready.length)
          readControl(in) // ACCEPT
          val startFrame = control(0x02, contentType = true)
          writeAll(ch, startFrame, 0, startFrame.length)
          if (rate <= 0) {
            val t0 = System.nanoTime()
            writeAll(ch, lane.bytes, 0, lane.bytes.length)
            logChunk(c, 0L, t0, System.nanoTime())
          } else {
            var from = 0
            lane.chunkEnds.indices.foreach { k =>
              val due = start + (lane.chunkFirstFrame(k) * 1e9 / rate).toLong
              var now = System.nanoTime()
              while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
              late(c) += (now - due) / 1000L
              writeAll(ch, lane.bytes, from, lane.chunkEnds(k))
              logChunk(c, lane.chunkFirstFrame(k), now, System.nanoTime())
              from = lane.chunkEnds(k)
            }
          }
          val stop = control(0x03, contentType = false)
          writeAll(ch, stop, 0, stop.length)
          readControl(in) // FINISH
        } catch { case e: Throwable => errors.add(e) }
        finally ch.close()
      }, s"gen-conn-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val end = System.nanoTime()
    if (!errors.isEmpty) throw errors.peek()
    chunkLog.foreach(p => Files.writeString(Paths.get(p), chunks.mkString))
    (epochNs(start), epochNs(end), late.flatMap(_.result()))
  }

  def percentile(sorted: Array[Long], p: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.min(sorted.length - 1, math.ceil(p * sorted.length).toInt - 1).max(0))

  /** `Gen digest <seed> <frames>` prints a SHA-256 of the stream's first
    * frames and one of their expected counts (the generator's self-test). */
  private def digest(seed: Long, n: Int): Unit = {
    val t = new Traffic(seed)
    def sha(chunks: Iterable[Array[Byte]]) = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      chunks.foreach(md.update)
      md.digest().map(x => f"${x & 0xff}%02x").mkString
    }
    val frames = sha(t.next(n))
    println(s"$frames ${sha(Seq(expectedTsv(t).split('\n').sorted.mkString("\n").getBytes(US_ASCII)))}")
  }

  def main(args: Array[String]): Unit =
    if (args(0) == "digest") digest(args(1).toLong, args(2).toInt) else serve(args)

  private def serve(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val conns = args(1).toInt
    val sizes = args(2).split(',').map(_.toInt)
    val expectedPath = args(3)
    val traffic = new Traffic(seed)
    val phases = sizes.map(traffic.next)
    val lane = args.lift(4).map(n => new Traffic(seed ^ 0x5eedL).next(n.toInt))
      .getOrElse(Array.empty[Array[Byte]])
    val encoded = phases.map(encodePhase(_, conns))
    val laneEncoded = encodePhase(lane, conns)
    println(s"ready ${phases.map(_.length).sum}")
    val stdin = new BufferedReader(new InputStreamReader(System.in))
    var line = stdin.readLine()
    while (line != null && line != "quit") {
      line.split(' ') match {
        case Array("send", p, socket, rate, log @ _*) =>
          val (lanes, n) =
            if (p == "lane") (laneEncoded, lane.length)
            else (encoded(p.toInt), phases(p.toInt).length)
          val (t0, end, late) = send(lanes, socket, rate.toDouble, log.headOption)
          val s = late.sorted
          println(s"sent $p $n $t0 $end " +
            s"${percentile(s, 0.5)} ${percentile(s, 0.99)} ${if (s.isEmpty) 0 else s.last}")
        case other => throw new IllegalArgumentException(s"unknown command: ${other.mkString(" ")}")
      }
      line = stdin.readLine()
    }
    Files.writeString(Paths.get(expectedPath), expectedTsv(traffic))
    println("bye")
  }

  /** TSV: kind (q|r), identity, rcode ("" for q), address, qname, qtype, count. */
  def expectedTsv(t: Traffic): String = {
    val sb = new java.lang.StringBuilder()
    t.queryCounts.foreach { case (k, n) => sb.append("q\t").append(k).append('\t').append(n).append('\n') }
    t.responseCounts.foreach { case (k, n) => sb.append("r\t").append(k).append('\t').append(n).append('\n') }
    sb.toString
  }
}
