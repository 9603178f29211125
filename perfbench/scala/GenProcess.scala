package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}

/** Handle on the generator process ([[Gen]]): started first, so that it
  * pre-encodes its frames while the Spark session comes up. */
final class GenProcess(command: Seq[String], logPath: String) {
  import scala.jdk.CollectionConverters._
  import GenProcess.Sent

  private val proc = new ProcessBuilder(command.asJava)
    .redirectError(new java.io.File(logPath))
    .start()
  private val in = new BufferedReader(new InputStreamReader(proc.getInputStream))
  private val out = new PrintWriter(proc.getOutputStream, true)

  private def reply(prefix: String): Array[String] = {
    val line = in.readLine()
    if (line == null || !line.startsWith(prefix))
      throw new IllegalStateException(s"generator said '$line' (expected $prefix); see $logPath")
    line.split(' ')
  }

  /** Blocks until every phase is encoded; returns the total frame count. */
  def awaitReady(): Long = reply("ready")(1).toLong

  /** Send phase `phase` ("lane" or an index) to `socket` at `rate` frames/s
    * (0 = full speed); with `chunkLog` the generator records its chunk
    * send times there. */
  def send(phase: String, socket: String, rate: Double, chunkLog: String = ""): Sent = {
    out.println(s"send $phase $socket $rate $chunkLog".trim)
    val r = reply("sent")
    Sent(r(2).toLong, r(3).toLong, r(4).toLong, r(5).toLong, r(6).toLong, r(7).toLong)
  }

  /** Ask for the expected counts and wait for the process to end. */
  def quit(): Unit = {
    out.println("quit")
    reply("bye")
    proc.waitFor()
  }

  def destroy(): Unit = if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }
}

object GenProcess {
  /** One sent phase: frame count, first-send and end epoch ns, chunk lateness. */
  final case class Sent(frames: Long, t0: Long, end: Long, lateP50Us: Long,
                        lateP99Us: Long, lateMaxUs: Long)
}
