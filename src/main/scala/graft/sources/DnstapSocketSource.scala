package graft.sources

import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{Channels, ClosedChannelException, ServerSocketChannel, SocketChannel}
import java.nio.file.{Files, Paths}
import java.util
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming DataSourceV2 for the reference's dnstap unix-socket source
  * (S1/S2, /root/reference/src/dnstap/dnstap.go:90-210): listens on a unix
  * domain socket, a pool of reader threads drains accepted connections
  * through the frame-streams codec, and each micro-batch serves the frames
  * buffered since the last trigger.
  *
  * ```
  * spark.readStream.format("graft-dnstap")
  *   .option("path", "/run/dnstap.sock")
  *   .option("readers", 4)                 // reference Dnstap.Readers, max 32
  *   .option("maxFramesPerTrigger", 10000) // admission control (O10)
  *   .load()                               // schema: value BINARY
  * ```
  *
  * Like Spark's own socket source this is a non-replayable edge source:
  * frames are buffered on the driver between triggers and dropped once the
  * batch commits, so an unclean restart loses in-flight frames — exactly
  * the reference's durability model (SURVEY §3: channels and maps are
  * memory-only). For replayable ingestion, front it with a log and use the
  * file/Kafka source instead. The socket bind retries with the reference's
  * exponential schedule (wait*2+1 capped at 60 s, dnstap.go:112-124).
  */
final class DnstapSocketDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = DnstapSocketSource.Name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DnstapSocketSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DnstapSocketTable
}

object DnstapSocketSource {
  val Name = "graft-dnstap"
  val Schema: StructType = StructType(Seq(StructField("value", BinaryType)))
  /** Reference cap on the reader pool (dnstap.go:38). */
  val MaxReaders = 32
}

final class DnstapSocketTable extends Table with SupportsRead {
  override def name(): String = "graft-dnstap-socket"
  override def schema(): StructType = DnstapSocketSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new DnstapSocketScan(options)
}

final class DnstapSocketScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = DnstapSocketSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-dnstap source requires option 'path'"))
    def atLeast[T](key: String, parse: String => Option[T], min: T, what: String)
                  (implicit n: Numeric[T]): Option[T] =
      Option(options.get(key)).map { str =>
        parse(str).filter(n.gteq(_, min)).getOrElse(
          throw new IllegalArgumentException(
            s"Invalid value '$str' for option '$key', must be a $what integer"))
      }
    // a non-positive row limit never advances the offset, a non-positive
    // frame cap rejects every frame, handshake included, and fewer than
    // one reader is a misconfiguration, not a request for one
    def positive[T](key: String, parse: String => Option[T])(implicit n: Numeric[T]): Option[T] =
      atLeast(key, parse, n.one, "positive")
    val readers = math.min(positive("readers", _.toIntOption).getOrElse(1),
      DnstapSocketSource.MaxReaders)
    val maxFrames = positive("maxFramesPerTrigger", _.toLongOption)
    val maxFrameBytes = positive("maxFrameBytes", _.toIntOption)
      .getOrElse(FrameStreams.DefaultMaxFrameBytes)
    // reference Dnstap.ReadTimeout (toml.go:75, applied dnstap.go:193-198):
    // a connection delivering no frame within the timeout is dropped,
    // freeing its pooled reader. 0 disables; GraftConfig supplies the
    // reference default (5 s) through socketOptions.
    val readTimeoutSecs = atLeast("readTimeoutSecs", _.toIntOption, 0, "non-negative")
      .getOrElse(0)
    new DnstapSocketMicroBatchStream(path, readers, maxFrames, maxFrameBytes,
      readTimeoutSecs)
  }
}

final case class FrameOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final class DnstapSocketMicroBatchStream(path: String, readers: Int,
                                         maxFramesPerTrigger: Option[Long],
                                         maxFrameBytes: Int,
                                         readTimeoutSecs: Int = 0)
    extends MicroBatchStream with SupportsAdmissionControl {

  // Frame buffer: frames(i) holds offset firstOffset + i. Committed
  // prefixes are trimmed; intake is BOUNDED — a producer outpacing the
  // trigger cadence blocks the reader thread once the buffer holds
  // MaxBufferedFrames (backpressure through the socket, the reference's
  // bounded-channel semantics, aggregator.go:203 — Go channel writers
  // block when full), instead of growing driver memory until OOM.
  private val frames = mutable.ArrayBuffer.empty[Array[Byte]]
  private var firstOffset = 0L
  private val lock = new Object
  @volatile private var stopped = false

  // attach (not own) the listener: several streaming queries over the same
  // socket path — e.g. the pipeline's W1 and W2 branches — share one bound
  // server, each keeping its own offset-tracked buffer (the reference's
  // one-listener / N-consumers shape). The timed wait keeps a blocked
  // reader responsive to stop() (a bare wait could outlive the server's
  // close and strand the thread).
  private val server = FrameSocketServer.attach(path, readers, maxFrameBytes,
    readTimeoutSecs)(frame => lock.synchronized {
      while (!stopped && frames.length >=
        DnstapSocketMicroBatchStream.MaxBufferedFrames)
        lock.wait(100L)
      if (!stopped) frames += frame
    })

  private def endOffset: Long = lock.synchronized(firstOffset + frames.length)

  /** Checkpoint-restart rebase: our buffer restarts at offset 0, but a
    * recovered checkpoint resumes from a much larger offset. Adopting the
    * recovered numbering for the fresh buffer keeps post-restart frames
    * servable (only in-flight-at-crash data is lost — the documented
    * non-replayable contract); without it, the first commit would wipe
    * every frame buffered since the restart. */
  private def rebaseTo(offset: Long): Unit = lock.synchronized {
    if (offset > firstOffset + frames.length) firstOffset = offset
  }

  override def initialOffset(): Offset = FrameOffset(0L)
  override def deserializeOffset(json: String): Offset = {
    val n = json.toLong
    rebaseTo(n)
    FrameOffset(n)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxFramesPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(Offset, ReadLimit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[FrameOffset].n
    rebaseTo(from)
    val end = endOffset
    val capped = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(end, from + r.maxRows())
      case _ => end
    }
    FrameOffset(math.max(capped, from))
  }

  override def reportLatestOffset(): Offset = FrameOffset(endOffset)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FrameOffset].n
    val e = end.asInstanceOf[FrameOffset].n
    val slice = lock.synchronized {
      // A restart past trimmed data serves what remains (non-replayable).
      val lo = math.max(s, firstOffset)
      frames.slice((lo - firstOffset).toInt, (e - firstOffset).toInt).toArray
    }
    if (slice.isEmpty) Array.empty
    else {
      // one partition per reader thread's worth of frames, capped at the
      // pool size — downstream parse/explode parallelism follows O9
      val nSplits = math.max(1, math.min(readers, slice.length))
      val chunk = (slice.length + nSplits - 1) / nSplits
      slice.grouped(chunk).map(g => FramesPartition(g): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = FrameReaderFactory

  /** The source's `description` in streaming progress reports. */
  override def toString: String = s"${DnstapSocketSource.Name}[$path]"

  override def commit(end: Offset): Unit = lock.synchronized {
    val e = end.asInstanceOf[FrameOffset].n
    if (e > firstOffset) {
      // trim only frames actually covered by the committed range; a commit
      // beyond the buffer (recovered checkpoint) rebases without dropping
      frames.dropInPlace(math.min(e - firstOffset, frames.length.toLong).toInt)
      firstOffset = math.max(firstOffset, e)
      lock.notifyAll() // wake reader threads blocked on the intake bound
    }
  }

  override def stop(): Unit = {
    stopped = true
    lock.synchronized(lock.notifyAll())
    server.close()
  }
}

object DnstapSocketMicroBatchStream {
  /** Intake bound: past this many buffered frames the socket reader
    * threads block until a commit trims the prefix — backpressure, not
    * loss (and not an OOM). At the 1 MiB frame cap this bounds the
    * buffer's worst case to ~1 GiB; typical dnstap frames are a few
    * hundred bytes. */
  val MaxBufferedFrames: Int = 1 << 20
}

final case class FramesPartition(frames: Array[Array[Byte]]) extends InputPartition

object FrameReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val fs = partition.asInstanceOf[FramesPartition].frames
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < fs.length }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](fs(i)))
      override def close(): Unit = ()
    }
  }
}

object FrameSocketServer {
  private final case class Shared(server: FrameSocketServer,
      consumers: java.util.concurrent.CopyOnWriteArrayList[Array[Byte] => Unit],
      readers: Int, maxFrameBytes: Int, readTimeoutSecs: Int,
      var refs: Int)
  private val registry = mutable.Map.empty[String, Shared]

  /** Handle for one attached consumer; closing the last one closes the
    * underlying listener. */
  final class Handle private[FrameSocketServer] (path: String,
      consumer: Array[Byte] => Unit) extends AutoCloseable {
    override def close(): Unit = FrameSocketServer.detach(path, consumer)
  }

  /** Bind (or join) the listener on `path` and register a frame consumer;
    * every attached consumer sees every frame from attach time on. The
    * first attacher's reader/timeout settings configure the shared
    * listener; a later attacher asking for different settings gets the
    * established ones, and the mismatch is logged so two branches
    * configured inconsistently don't fail silent. */
  def attach(path: String, readers: Int, maxFrameBytes: Int,
             readTimeoutSecs: Int = 0)
            (consumer: Array[Byte] => Unit): Handle = synchronized {
    val shared = registry.getOrElseUpdate(path, {
      val consumers =
        new java.util.concurrent.CopyOnWriteArrayList[Array[Byte] => Unit]()
      val server = new FrameSocketServer(path, readers, maxFrameBytes,
        frame => consumers.forEach(c => c(frame)), readTimeoutSecs)
      server.start()
      Shared(server, consumers, readers, maxFrameBytes, readTimeoutSecs, 0)
    })
    if (shared.readers != readers || shared.maxFrameBytes != maxFrameBytes ||
        shared.readTimeoutSecs != readTimeoutSecs)
      System.err.println(
        s"[graft-dnstap] WARN: attach($path) requested readers=$readers " +
        s"maxFrameBytes=$maxFrameBytes readTimeoutSecs=$readTimeoutSecs but the " +
        s"shared listener is already configured with readers=${shared.readers} " +
        s"maxFrameBytes=${shared.maxFrameBytes} " +
        s"readTimeoutSecs=${shared.readTimeoutSecs}; keeping the established settings")
    shared.consumers.add(consumer)
    shared.refs += 1
    new Handle(path, consumer)
  }

  private def detach(path: String, consumer: Array[Byte] => Unit): Unit =
    synchronized {
      registry.get(path).foreach { shared =>
        shared.consumers.remove(consumer)
        shared.refs -= 1
        if (shared.refs <= 0) {
          shared.server.close()
          registry.remove(path)
        }
      }
    }
}

/** Driver-side unix-socket listener + reader pool (S1/S2). Accepted
  * connections queue up; `readers` threads pull one connection at a time
  * and pump its frame-streams data frames into `emit` — the exact shape of
  * the reference's ConnChannel + reader workers (dnstap.go:140-210).
  *
  * `readTimeoutSecs` > 0 applies the reference's per-read deadline
  * (Dnstap.ReadTimeout, dnstap.go:193-198): a connection that delivers no
  * BYTES within the window is closed, and the pooled reader blocked on it
  * moves to the next queued connection. Blocking NIO channel reads have no
  * native soTimeout, so the deadline is enforced by a watchdog that closes
  * stale channels — the in-flight read then fails over to the drop path. */
final class FrameSocketServer(path: String, readers: Int, maxFrameBytes: Int,
                              emit: Array[Byte] => Unit,
                              readTimeoutSecs: Int = 0) extends AutoCloseable {

  private val address = UnixDomainSocketAddress.of(path)
  @volatile private var closed = false
  @volatile private var channel: ServerSocketChannel = _
  private val pending = new ConcurrentLinkedQueue[SocketChannel]()
  // active connection → nanoTime of its last delivered frame (the read
  // deadline baseline)
  private val active =
    new java.util.concurrent.ConcurrentHashMap[SocketChannel, java.lang.Long]()
  private val threads = mutable.ArrayBuffer.empty[Thread]
  private val bound = new CountDownLatch(1)

  def start(): Unit = {
    val acceptor = new Thread(() => {
      // exponential bind retry: wait = wait*2+1 capped at 60 s
      var waitSec = 0L
      var ch: ServerSocketChannel = null
      while (ch == null && !closed) {
        try {
          Files.deleteIfExists(Paths.get(path))
          ch = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
          ch.bind(address)
        } catch {
          case _: java.io.IOException =>
            waitSec = math.min(waitSec * 2 + 1, 60L)
            Thread.sleep(waitSec * 1000)
        }
      }
      // group-writable socket (0660) after bind, warn-only on failure —
      // reference parity (dnstap.go:130-134): the dnstap producer usually
      // runs as a different user in a shared group, and a root-owned 0755
      // socket would refuse its writes. Non-POSIX filesystems just warn.
      if (ch != null) {
        try {
          import java.nio.file.attribute.PosixFilePermissions
          Files.setPosixFilePermissions(Paths.get(path),
            PosixFilePermissions.fromString("rw-rw----"))
        } catch {
          case e: Exception =>
            System.err.println(s"graft-dnstap: chmod socket: ${e.getMessage}")
        }
      }
      channel = ch
      bound.countDown()
      try {
        while (!closed) pending.add(ch.accept())
      } catch {
        case _: ClosedChannelException => ()
        case _: java.io.IOException if closed => ()
      }
    }, s"graft-dnstap-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()
    threads += acceptor

    (0 until math.max(1, readers)).foreach { i =>
      val t = new Thread(() => {
        while (!closed) {
          val conn = pending.poll()
          if (conn == null) Thread.sleep(10)
          else {
            active.put(conn, java.lang.Long.valueOf(System.nanoTime()))
            try {
              // any byte progress resets the read deadline (matching the
              // reference's per-Read-call deadline, dnstap.go:193-198): a
              // peer trickling one large frame slowly is still live, only
              // a fully silent one times out
              val in = new java.io.FilterInputStream(
                  Channels.newInputStream(conn)) {
                private def touch(n: Int): Int = {
                  if (n >= 0)
                    active.put(conn, java.lang.Long.valueOf(System.nanoTime()))
                  n
                }
                override def read(): Int = touch(super.read())
                override def read(b: Array[Byte], off: Int, len: Int): Int =
                  touch(super.read(b, off, len))
              }
              val out = Channels.newOutputStream(conn)
              val r = new FrameStreams.Reader(in, Some(out), maxFrameBytes)
              var frame = r.next()
              while (frame.isDefined && !closed) {
                emit(frame.get)
                frame = r.next()
              }
            } catch {
              case _: Exception => () // bad/stalled peer: drop the connection
            } finally { active.remove(conn); conn.close() }
          }
        }
      }, s"graft-dnstap-reader-$i")
      t.setDaemon(true)
      t.start()
      threads += t
    }

    if (readTimeoutSecs > 0) {
      val timeoutNanos = readTimeoutSecs * 1000000000L
      val w = new Thread(() => {
        while (!closed) {
          Thread.sleep(math.max(100L, readTimeoutSecs * 250L))
          val cutoff = System.nanoTime() - timeoutNanos
          active.forEach { (conn, last) =>
            if (last < cutoff) try conn.close()
            catch { case _: Exception => () }
          }
        }
      }, "graft-dnstap-read-timeout")
      w.setDaemon(true)
      w.start()
      threads += w
    }
  }

  /** Test hook: block until the socket is bound and accepting. */
  def awaitBound(): Unit = bound.await()

  override def close(): Unit = {
    closed = true
    // wait for the acceptor to publish the channel so a close() racing the
    // bind cannot orphan a live listener (bind retry loop exits on closed)
    bound.await(2, java.util.concurrent.TimeUnit.SECONDS)
    if (channel != null) channel.close()
    // unblock reader threads parked in readInt() on live connections
    active.forEach((c, _) => try c.close() catch { case _: Exception => () })
    var c = pending.poll()
    while (c != null) {
      try c.close() catch { case _: Exception => () }
      c = pending.poll()
    }
    Files.deleteIfExists(Paths.get(path))
  }
}
