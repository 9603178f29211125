package graft.dns

import java.sql.Timestamp
import java.time.Instant

import graft.codec.{DnsTables, DnsWire, DnstapCodec}
import graft.functions.IpRender

/** Typed record model of the reference's three streams (SURVEY §1.1) and
  * the frame→rows conversion implementing the source-path operators:
  * Fl1/Fl2 type filters, P1–P8 projections, F1 questions-explode
  * (/root/reference/src/dnstap/dnstap.go:242-372).
  */
final case class QueryRow(
    queryTime: Timestamp, identity: String, queryAddress: String,
    queryPort: Int, questionName: String, questionType: String,
    id: Int, counter: Long)

final case class ResponseRow(
    responseTime: Timestamp, identity: String, responseStatus: String,
    queryAddress: String, queryPort: Int, questionName: String,
    questionType: String, id: Int, isSuccess: Boolean, counter: Long)

object DnstapRows {

  private def ts(sec: Option[Long], nsec: Option[Int], now: () => Instant): Timestamp =
    (sec, nsec) match {
      // P1: both parts present, else wall-clock fallback (dnstap.go:260-268)
      case (Some(s), Some(n)) => Timestamp.from(Instant.ofEpochSecond(s, n.toLong))
      case _                  => Timestamp.from(now())
    }

  private def ip(addr: Option[Array[Byte]]): String =
    addr.map(a => IpRender.bytes(a).toString).getOrElse("<nil>") // Go renders nil IP as "<nil>"

  /** CLIENT_QUERY frame → one row per question (F1). Empty when the frame
    * is not a MESSAGE (Fl1), not a CLIENT_QUERY (Fl2), has no payload
    * (Fl6), or the payload is malformed (S4: silent drop). */
  def toQueryRows(f: DnstapCodec.Frame,
                  now: () => Instant = () => Instant.now()): Seq[QueryRow] = {
    if (f.frameType != DnstapCodec.TypeMessage) return Nil
    f.message match {
      case Some(m) if m.msgType == DnstapCodec.ClientQuery =>
        m.queryMessage.toSeq.flatMap { payload =>
          DnsWire.parse(payload).toSeq.flatMap { meta =>
            val t = ts(m.queryTimeSec, m.queryTimeNsec, now)
            meta.questions.map { q =>
              QueryRow(t, f.identity.getOrElse(""), ip(m.queryAddress),
                m.queryPort.getOrElse(0), q.name, DnsTables.qtypeName(q.qtype),
                meta.id, 1L)
            }
          }
        }
      case _ => Nil
    }
  }

  /** CLIENT_RESPONSE frame → one row per question. `keepSuccess=false`
    * reproduces Fl4 (drop NOERROR before row construction,
    * dnstap.go:346-349); pass true when latency sampling needs them. */
  def toResponseRows(f: DnstapCodec.Frame, keepSuccess: Boolean,
                     now: () => Instant = () => Instant.now()): Seq[ResponseRow] = {
    if (f.frameType != DnstapCodec.TypeMessage) return Nil
    f.message match {
      case Some(m) if m.msgType == DnstapCodec.ClientResponse =>
        m.responseMessage.toSeq.flatMap { payload =>
          DnsWire.parse(payload).toSeq.flatMap { meta =>
            val success = meta.rcode == 0
            if (success && !keepSuccess) Nil
            else {
              val t = ts(m.responseTimeSec, m.responseTimeNsec, now)
              meta.questions.map { q =>
                ResponseRow(t, f.identity.getOrElse(""),
                  DnsTables.rcodeName(meta.rcode), ip(m.queryAddress),
                  m.queryPort.getOrElse(0), q.name,
                  DnsTables.qtypeName(q.qtype), meta.id, success, 1L)
              }
            }
          }
        }
      case _ => Nil
    }
  }
}
