package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded synthetic dnstap traffic, encoded by the benchmark itself (not by
  * the program's codec) so that a codec change cannot hide behind a
  * matching encoder.
  *
  * Every transaction is one CLIENT_QUERY frame followed by its
  * CLIENT_RESPONSE frame, each message carrying one question. Client
  * addresses and qnames are Zipf-skewed; ~25 % of responses are not
  * NOERROR. The README's traffic table gives the reason for each
  * constant in the companion object.
  *
  * The expected per-key counts are recorded as frames are handed out by
  * [[next]], so they cover exactly the frames sent.
  */
final class Traffic(seed: Long) {
  import Traffic._

  private val rnd = new SplittableRandom(seed)
  private val clientCdf = zipfCdf(Clients, ClientSkew)
  private val nameCdf = zipfCdf(Names, NameSkew)
  private var txn = 0L
  // frames not yet handed out, each with the count it adds (null: none)
  private val ready = mutable.Queue.empty[(Array[Byte], mutable.HashMap[String, Long], String)]

  /** identity \t "" \t address \t qname \t qtype → rows the query sink must count */
  val queryCounts = mutable.HashMap.empty[String, Long]
  /** identity \t rcode \t address \t qname \t qtype → non-NOERROR response rows */
  val responseCounts = mutable.HashMap.empty[String, Long]

  /** The next `n` frames of the stream. */
  def next(n: Int): Array[Array[Byte]] = {
    while (ready.size < n) step()
    Array.fill(n) {
      val (f, counts, key) = ready.dequeue()
      if (counts != null) counts.update(key, counts.getOrElse(key, 0L) + 1L)
      f
    }
  }

  private def step(): Unit = {
    val identity = Identities(pick(IdentityCdf))
    val client = pick(clientCdf)
    val addr = Array[Byte](10, (client >>> 16).toByte, (client >>> 8).toByte, client.toByte)
    val addrText = s"10.${(client >>> 16) & 0xff}.${(client >>> 8) & 0xff}.${client & 0xff}"
    val k = pick(nameCdf)
    val name = s"h$k.z${k % 97}.bench."
    val qtype = QTypes(pick(QTypeCdf))
    val rcode = Rcodes(pick(RcodeCdf))
    val port = 1024 + ((txn >>> 16) % 60000).toInt
    val id = (txn & 0xffff).toInt
    val queryMicros = BaseMicros + txn * 10L
    ready.enqueue((frame(identity, ClientQuery, addr, port, queryMicros,
      dnsMessage(id, 0, isResponse = false, name, qtype)),
      queryCounts, s"$identity\t\t$addrText\t$name\t${qtypeName(qtype)}"))
    ready.enqueue((frame(identity, ClientResponse, addr, port, queryMicros + ResponseMicros,
      dnsMessage(id, rcode, isResponse = true, name, qtype)),
      if (rcode != 0) responseCounts else null,
      s"$identity\t${rcodeName(rcode)}\t$addrText\t$name\t${qtypeName(qtype)}"))
    txn += 1
  }

  private def pick(cdf: Array[Double]): Int = search(cdf, rnd.nextDouble())
}

object Traffic {
  private val Identities: Array[String] = Array("ns1.bench", "ns2.bench", "ns3.bench", "ns4.bench")
  private val IdentityCdf = cdf(Array(0.4, 0.3, 0.2, 0.1))
  private val ResponseMicros = 2000L
  private val Clients = 20000
  private val ClientSkew = 1.1
  private val Names = 5000
  private val NameSkew = 0.9
  private val QTypes = Array(1, 28, 65, 15, 16, 5)
  private val QTypeCdf = cdf(Array(0.5, 0.25, 0.1, 0.05, 0.05, 0.05))
  private val Rcodes = Array(0, 3, 2, 5)
  private val RcodeCdf = cdf(Array(0.75, 0.15, 0.07, 0.03))
  private val BaseMicros = 1767225600000000L // 2026-01-01T00:00:00Z
  private val ClientQuery = 5
  private val ClientResponse = 6

  def qtypeName(code: Int): String = code match {
    case 1 => "A"; case 28 => "AAAA"; case 65 => "HTTPS"
    case 15 => "MX"; case 16 => "TXT"; case 5 => "CNAME"
  }

  def rcodeName(code: Int): String = code match {
    case 0 => "NOERROR"; case 3 => "NXDOMAIN"; case 2 => "SERVFAIL"; case 5 => "REFUSED"
  }

  private def cdf(w: Array[Double]): Array[Double] = {
    val s = w.scanLeft(0.0)(_ + _).tail
    s.map(_ / s.last)
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] =
    cdf(Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s)))

  /** First index whose cumulative weight exceeds `u`. */
  private def search(c: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(c, u)
    math.min(if (i >= 0) i + 1 else -i - 1, c.length - 1)
  }

  // --- wire encoding: dnstap protobuf (dnstap.proto) and RFC 1035 ---

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def field(out: ByteArrayOutputStream, f: Int, b: Array[Byte]): Unit = {
    varint(out, (f << 3 | 2).toLong); varint(out, b.length.toLong); out.write(b)
  }

  private def fixed32(out: ByteArrayOutputStream, f: Int, v: Int): Unit = {
    varint(out, (f << 3 | 5).toLong)
    (0 until 4).foreach(i => out.write((v >>> (8 * i)) & 0xff))
  }

  /** One dnstap MESSAGE frame carrying a client query or response. */
  def frame(identity: String, msgType: Int, addr: Array[Byte], port: Int,
            micros: Long, dns: Array[Byte]): Array[Byte] = {
    val m = new ByteArrayOutputStream(96)
    varint(m, 1 << 3); varint(m, msgType.toLong)
    field(m, 4, addr)
    varint(m, 6 << 3); varint(m, port.toLong)
    val (secField, nsecField, msgField) =
      if (msgType == ClientQuery) (8, 9, 10) else (11, 12, 13)
    varint(m, (secField << 3).toLong); varint(m, micros / 1000000L)
    fixed32(m, nsecField, ((micros % 1000000L) * 1000L).toInt)
    field(m, msgField, dns)
    val f = new ByteArrayOutputStream(128)
    field(f, 1, identity.getBytes(US_ASCII))
    field(f, 14, m.toByteArray)
    varint(f, 15 << 3); varint(f, 1)
    f.toByteArray
  }

  /** An RFC 1035 message with one question (class IN) and no records. */
  def dnsMessage(id: Int, rcode: Int, isResponse: Boolean, name: String, qtype: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    def u16(v: Int): Unit = { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    u16(id)
    u16((if (isResponse) 0x8000 else 0) | rcode)
    u16(1); u16(0); u16(0); u16(0)
    name.split('.').foreach { label =>
      out.write(label.length); out.write(label.getBytes(US_ASCII))
    }
    out.write(0)
    u16(qtype); u16(1)
    out.toByteArray
  }
}
