package graft.config

import graft.sinks.ColumnProjection
import graft.streaming.DnstapPipeline

/** Minimal TOML subset parser — sections, `key = value` with quoted
  * strings, booleans, integers, and Go-style duration strings ("20s",
  * "5m"). Covers the reference's whole config surface
  * (/root/reference/src/config/toml.go:35-81) without external deps. */
object Toml {
  sealed trait Value
  final case class Str(s: String) extends Value
  final case class Bool(b: Boolean) extends Value
  final case class Num(n: Long) extends Value

  /** section -> key -> value; top-level keys land in section "". */
  def parse(text: String): Map[String, Map[String, Value]] = {
    val out = collection.mutable.Map.empty[String, collection.mutable.Map[String, Value]]
    var section = ""
    out(section) = collection.mutable.Map.empty
    for (raw <- text.linesIterator) {
      val line = stripComment(raw).trim
      if (line.nonEmpty) {
        if (line.startsWith("[") && line.endsWith("]")) {
          section = line.substring(1, line.length - 1).trim
          out.getOrElseUpdate(section, collection.mutable.Map.empty)
        } else line.indexOf('=') match {
          case -1 => throw new IllegalArgumentException(s"bad TOML line: $raw")
          case i =>
            val key = line.substring(0, i).trim
            val v = line.substring(i + 1).trim
            out(section)(key) = parseValue(v, raw)
        }
      }
    }
    out.view.mapValues(_.toMap).toMap
  }

  private def stripComment(line: String): String = {
    var inStr = false
    var escaped = false
    val b = new StringBuilder
    for (c <- line) {
      if (escaped) escaped = false
      else if (inStr && c == '\\') escaped = true
      else if (c == '"') inStr = !inStr
      else if (c == '#' && !inStr) return b.toString
      b += c
    }
    b.toString
  }

  private def parseValue(v: String, ctx: String): Value = v match {
    case s if s.startsWith("\"") && s.endsWith("\"") && s.length >= 2 =>
      Str(basicString(s.substring(1, s.length - 1), ctx))
    case "true"  => Bool(true)
    case "false" => Bool(false)
    case s if s.matches("-?[0-9]+") => Num(s.toLong)
    case _ => throw new IllegalArgumentException(s"bad TOML value: $ctx")
  }

  /** Decode the body of a TOML basic string: the escapes
    * `\b \t \n \f \r \" \\ \uXXXX \UXXXXXXXX`. Any other escape, an
    * unescaped quote, or a trailing lone backslash is a bad value. */
  private def basicString(body: String, ctx: String): String = {
    def bad = new IllegalArgumentException(s"bad TOML value: $ctx")
    val b = new StringBuilder
    var i = 0
    while (i < body.length) {
      body(i) match {
        case '"' => throw bad
        case '\\' if i + 1 < body.length =>
          body(i + 1) match {
            case 'b' => b += '\b'
            case 't' => b += '\t'
            case 'n' => b += '\n'
            case 'f' => b += '\f'
            case 'r' => b += '\r'
            case '"' => b += '"'
            case '\\' => b += '\\'
            case u @ ('u' | 'U') =>
              val digits = if (u == 'u') 4 else 8
              val hex = body.slice(i + 2, i + 2 + digits)
              if (!hex.matches(s"[0-9a-fA-F]{$digits}")) throw bad
              val cp = java.lang.Long.parseLong(hex, 16)
              if (cp > Character.MAX_CODE_POINT || (cp >= 0xD800 && cp <= 0xDFFF))
                throw bad
              b.appendAll(Character.toChars(cp.toInt))
              i += digits
            case _ => throw bad
          }
          i += 2
        case '\\' => throw bad
        case c => b += c; i += 1
      }
    }
    b.toString
  }

  /** "20s" / "500ms" / "5m" / "1h" → seconds (ms rounds down). */
  def durationSecs(s: String): Int = {
    val m = "([0-9]+)(ms|s|m|h)".r
    s match {
      case m(n, "ms") => (n.toLong / 1000).toInt
      case m(n, "s")  => n.toInt
      case m(n, "m")  => n.toInt * 60
      case m(n, "h")  => n.toInt * 3600
      case _ => throw new IllegalArgumentException(s"bad duration: $s")
    }
  }
}

/** The reference TOML surface (toml.go Defaults, conf example) as typed
  * config, driving plan construction (O2), sink projection (K1), and the
  * socket source options. Flag names — including the crosswise Groupby*
  * semantics — are preserved verbatim. */
final case class GraftConfig(
    logLevel: String,
    // [Aggregator]
    writeIntervalSecs: Int,
    responseTimeAggregationIntervalSecs: Int,
    aggregate: Boolean,
    writeUngrouped: Boolean,
    groupbyQueryAddress: Boolean,
    groupbyQuestion: Boolean,
    // [Dnstap]
    unixSocket: String,
    readTimeoutSecs: Int,
    readers: Int,
    clientQueries: Boolean,
    nonOkClientResponses: Boolean,
    clientResponseTimeSamples: Boolean,
    // [ClickHouse] connection + tables
    hosts: String,
    secure: Boolean,
    insecureSkipVerify: Boolean,
    username: String,
    password: String,
    database: String,
    queryTable: String,
    responseTable: String,
    queryResponseTimeTable: String,
    // [ClickHouse] column names; "" drops the column from the output
    queryTimeColumn: String,
    responseTimeColumn: String,
    queryResponseTimeDeltaColumn: String,
    responseStatusColumn: String,
    identityColumn: String,
    queryAddressColumn: String,
    questionNameColumn: String,
    questionTypeColumn: String,
    counterColumn: String,
    // [Spark] — engine-side extension section (no reference analog):
    // streaming state-store provider class. RocksDB by default so the
    // W2 LatencyMatcher's pending-match state lives off-heap and
    // restores incrementally — at 100 TB the default HDFS-backed
    // in-memory map is heap-bounded.
    stateStoreProvider: String = GraftConfig.RocksDbProvider,
    // RocksDB changelog checkpointing: commit uploads the per-batch
    // CHANGELOG instead of re-snapshotting SST files — commit latency
    // stops scaling with total state size (snapshots still happen, but
    // async in the background). The right default for wide-watermark
    // state; flip off only to debug or for tiny-state jobs where
    // replay-on-restore cost dominates.
    rocksdbChangelogCheckpointing: Boolean = true) {

  def pipelineConfig: DnstapPipeline.Config = DnstapPipeline.Config(
    clientQueries = clientQueries,
    nonOkClientResponses = nonOkClientResponses,
    clientResponseTimeSamples = clientResponseTimeSamples,
    aggregate = aggregate,
    writeUngrouped = writeUngrouped,
    groupbyQuestion = groupbyQuestion,
    groupbyQueryAddress = groupbyQueryAddress,
    writeIntervalSecs = writeIntervalSecs,
    responseTimeAggIntervalSecs = responseTimeAggregationIntervalSecs)

  /** graft-dnstap source options (S1/S2). */
  def socketOptions: Map[String, String] =
    Map("path" -> unixSocket, "readers" -> readers.toString,
      "readTimeoutSecs" -> readTimeoutSecs.toString)

  /** K4 (clickhouse.go:86-114): the ClickHouse connection surface as a
    * JDBC URL. `Hosts` is the reference's comma-separated `host:port`
    * list; clickhouse-jdbc accepts the same multi-endpoint authority
    * (failover order = list order, like the Go client's Addr) — BUT the
    * reference speaks the native TCP protocol (ports 9000 / 9440-secure)
    * while clickhouse-jdbc speaks HTTP(S) (8123 / 8443), so a verbatim
    * reference config would hit the native port with HTTP and every
    * insert would fail. The well-known native ports are therefore
    * translated to their HTTP(S) siblings; any other port passes
    * through untouched. Host forms: `host`, `host:port`,
    * `[v6addr]:port`, and bare IPv6 (2+ colons, no bracket — never
    * mistaken for host:port; it gets bracketed for the URL authority).
    * A portless host is pinned to the explicit HTTP(S) default rather
    * than left to the driver's mood. */
  def jdbcConnectionUrl: String = {
    val httpDefault = if (secure) "8443" else "8123"
    val mapped = hosts.split(',').map(_.trim).map { h =>
      // split authority → (host, Some(port)); bare IPv6 has no port
      val (hostPart, portPart) =
        if (h.startsWith("[")) h.indexOf("]:") match {
          case -1 => (h, None)
          case i => (h.substring(0, i + 1), Some(h.substring(i + 2)))
        }
        else if (h.count(_ == ':') == 1) {
          val i = h.indexOf(':')
          (h.substring(0, i), Some(h.substring(i + 1)))
        }
        else (h, None)
      val bracketed =
        if (!hostPart.startsWith("[") && hostPart.contains(':')) s"[$hostPart]"
        else hostPart
      val port = portPart match {
        case Some("9000") => "8123"
        case Some("9440") => "8443"
        case Some(p) => p
        case None => httpDefault
      }
      s"$bracketed:$port"
    }
    s"jdbc:clickhouse://${mapped.mkString(",")}/$database"
  }

  /** K4 connection options for the CLICKHOUSE JDBC writer, mirroring the
    * Go client's ConnOptions: Auth → user/password, Secure → ssl with
    * InsecureSkipVerify → sslmode NONE (skip cert verification) vs
    * STRICT, the reference's always-on LZ4 wire compression, its 5 s
    * dial timeout (clickhouse-jdbc key `connect_timeout`, milliseconds)
    * and 60 s max_execution_time server setting. ClickHouse-specific —
    * a generic JDBC target gets [[jdbcAuthOptions]] only. */
  def jdbcConnectionOptions: Map[String, String] = {
    val base = jdbcAuthOptions ++ Map(
      "compress_algorithm" -> "lz4",
      "connect_timeout" -> "5000",
      "max_execution_time" -> "60")
    if (secure)
      base ++ Map("ssl" -> "true",
        "sslmode" -> (if (insecureSkipVerify) "NONE" else "STRICT"))
    else base
  }

  /** Driver-agnostic credentials, for a user-supplied GRAFT_JDBC_URL
    * pointing at any JDBC store. */
  def jdbcAuthOptions: Map[String, String] =
    Map("user" -> username, "password" -> password)

  /** Spark-session options for the streaming app, applied at session build
    * (Main). The two state-store entries come from the [Spark] extension
    * section; SPARK_GRAFT_STATESTORE overrides the provider per process.
    * The two checkpoint entries come from no section: every micro-batch
    * writes its offset and commit logs through Hadoop's `FileSystem`
    * instead of `FileContext`, over a `file:` filesystem that sets
    * permissions without forking `chmod` (see `Main`). */
  def sparkStreamingOptions: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" -> stateStoreProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      rocksdbChangelogCheckpointing.toString,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager].getName,
    "spark.hadoop.fs.file.impl" -> classOf[graft.sinks.LocalFileSystemNoChmod].getName)

  /** Effective-config audit surface (toml.go:96-122,193: the reference
    * reflection-prints every patched field as `Config <Section> <Field>:
    * <value>` at startup, eliding `Password`). Same line shape and field
    * names here, so an operator diffing logs between the two engines sees
    * the same running config. */
  def renderEffective(prefix: String = "Config"): String = {
    val fields: Seq[(String, Any)] = Seq(
      "LogLevel" -> logLevel,
      "Aggregator WriteInterval" -> writeIntervalSecs,
      "Aggregator ResponseTimeAggregationInterval" -> responseTimeAggregationIntervalSecs,
      "Aggregator Aggregate" -> aggregate,
      "Aggregator WriteUngrouped" -> writeUngrouped,
      "Aggregator GroupbyQueryAddress" -> groupbyQueryAddress,
      "Aggregator GroupbyQuestion" -> groupbyQuestion,
      "Dnstap UnixSocket" -> unixSocket,
      "Dnstap ReadTimeout" -> readTimeoutSecs,
      "Dnstap Readers" -> readers,
      "Dnstap ClientQueries" -> clientQueries,
      "Dnstap NonOkClientResponses" -> nonOkClientResponses,
      "Dnstap ClientResponseTimeSamples" -> clientResponseTimeSamples,
      "ClickHouse Hosts" -> hosts,
      "ClickHouse Secure" -> secure,
      "ClickHouse InsecureSkipVerify" -> insecureSkipVerify,
      "ClickHouse Username" -> username,
      // Password elided, toml.go:119-121
      "ClickHouse Database" -> database,
      "ClickHouse QueryTable" -> queryTable,
      "ClickHouse ResponseTable" -> responseTable,
      "ClickHouse QueryResponseTimeTable" -> queryResponseTimeTable,
      "ClickHouse QueryTimeColumn" -> queryTimeColumn,
      "ClickHouse ResponseTimeColumn" -> responseTimeColumn,
      "ClickHouse QueryResponseTimeDeltaColumn" -> queryResponseTimeDeltaColumn,
      "ClickHouse ResponseStatusColumn" -> responseStatusColumn,
      "ClickHouse IdentityColumn" -> identityColumn,
      "ClickHouse QueryAddressColumn" -> queryAddressColumn,
      "ClickHouse QuestionNameColumn" -> questionNameColumn,
      "ClickHouse QuestionTypeColumn" -> questionTypeColumn,
      "ClickHouse CounterColumn" -> counterColumn,
      // extension section, printed last so a diff against reference
      // logs shows the verbatim surface first
      "Spark StateStoreProvider" -> stateStoreProvider,
      "Spark RocksDbChangelogCheckpointing" -> rocksdbChangelogCheckpointing)
    fields.map { case (k, v) => s"$prefix $k: $v" }.mkString("\n")
  }

  /** K1 projections: logical pipeline column → configured output name;
    * an empty configured name prunes the column all the way up the plan. */
  def queryProjection: ColumnProjection = ColumnProjection(Seq(
    "queryTime" -> queryTimeColumn, "identity" -> identityColumn,
    "queryAddress" -> queryAddressColumn, "questionName" -> questionNameColumn,
    "questionType" -> questionTypeColumn, "counter" -> counterColumn))

  def responseProjection: ColumnProjection = ColumnProjection(Seq(
    "responseTime" -> responseTimeColumn, "identity" -> identityColumn,
    "responseStatus" -> responseStatusColumn,
    "queryAddress" -> queryAddressColumn, "questionName" -> questionNameColumn,
    "questionType" -> questionTypeColumn, "counter" -> counterColumn))

  def sampleProjection: ColumnProjection = ColumnProjection(Seq(
    "responseTime" -> responseTimeColumn, "identity" -> identityColumn,
    "responseTimeMicroSec" -> queryResponseTimeDeltaColumn,
    "counter" -> counterColumn))
}

object GraftConfig {

  /** Off-heap, incrementally-restoring streaming state store — the
    * bounded-heap path for wide watermarks. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** toml.go's Defaults block, verbatim. */
  val defaults: GraftConfig = GraftConfig(
    logLevel = "info",
    writeIntervalSecs = 20, responseTimeAggregationIntervalSecs = 0,
    aggregate = true, writeUngrouped = true,
    groupbyQueryAddress = true, groupbyQuestion = true,
    unixSocket = "/run/named/dnstap.sock", readTimeoutSecs = 5, readers = 1,
    clientQueries = true, nonOkClientResponses = true,
    clientResponseTimeSamples = false,
    hosts = "localhost:9000", secure = false, insecureSkipVerify = false,
    username = "default", password = "", database = "default",
    queryTable = "clientQuery", responseTable = "clientResponse",
    queryResponseTimeTable = "queryResponseTime",
    queryTimeColumn = "queryTime", responseTimeColumn = "responseTime",
    queryResponseTimeDeltaColumn = "queryResponseTimeDelta",
    responseStatusColumn = "responseStatus", identityColumn = "identity",
    queryAddressColumn = "queryAddress", questionNameColumn = "questionName",
    questionTypeColumn = "questionType", counterColumn = "counter")

  /** Parse TOML and patch defaults with whatever keys are present —
    * the reference's reflection-patch behavior (toml.go:120-197). */
  def fromToml(text: String): GraftConfig = {
    val t = Toml.parse(text)
    def str(sec: String, key: String, dflt: String): String =
      t.getOrElse(sec, Map.empty).get(key) match {
        case Some(Toml.Str(s)) => s
        case Some(v) => throw new IllegalArgumentException(s"$sec.$key: expected string, got $v")
        case None => dflt
      }
    def bool(sec: String, key: String, dflt: Boolean): Boolean =
      t.getOrElse(sec, Map.empty).get(key) match {
        case Some(Toml.Bool(b)) => b
        case Some(v) => throw new IllegalArgumentException(s"$sec.$key: expected bool, got $v")
        case None => dflt
      }
    def num(sec: String, key: String, dflt: Int): Int =
      t.getOrElse(sec, Map.empty).get(key) match {
        case Some(Toml.Num(n)) => n.toInt
        case Some(v) => throw new IllegalArgumentException(s"$sec.$key: expected int, got $v")
        case None => dflt
      }
    def dur(sec: String, key: String, dflt: Int): Int =
      t.getOrElse(sec, Map.empty).get(key) match {
        case Some(Toml.Str(s)) => Toml.durationSecs(s)
        case Some(Toml.Num(n)) => n.toInt // bare seconds
        case Some(v) => throw new IllegalArgumentException(s"$sec.$key: expected duration, got $v")
        case None => dflt
      }
    val d = defaults
    GraftConfig(
      logLevel = str("", "LogLevel", d.logLevel),
      writeIntervalSecs = dur("Aggregator", "WriteInterval", d.writeIntervalSecs),
      responseTimeAggregationIntervalSecs =
        dur("Aggregator", "ResponseTimeAggregationInterval", d.responseTimeAggregationIntervalSecs),
      aggregate = bool("Aggregator", "Aggregate", d.aggregate),
      writeUngrouped = bool("Aggregator", "WriteUngrouped", d.writeUngrouped),
      groupbyQueryAddress = bool("Aggregator", "GroupbyQueryAddress", d.groupbyQueryAddress),
      groupbyQuestion = bool("Aggregator", "GroupbyQuestion", d.groupbyQuestion),
      unixSocket = str("Dnstap", "UnixSocket", d.unixSocket),
      readTimeoutSecs = dur("Dnstap", "ReadTimeout", d.readTimeoutSecs),
      readers = num("Dnstap", "Readers", d.readers),
      clientQueries = bool("Dnstap", "ClientQueries", d.clientQueries),
      nonOkClientResponses = bool("Dnstap", "NonOkClientResponses", d.nonOkClientResponses),
      clientResponseTimeSamples = bool("Dnstap", "ClientResponseTimeSamples", d.clientResponseTimeSamples),
      hosts = str("ClickHouse", "Hosts", d.hosts),
      secure = bool("ClickHouse", "Secure", d.secure),
      insecureSkipVerify = bool("ClickHouse", "InsecureSkipVerify", d.insecureSkipVerify),
      username = str("ClickHouse", "Username", d.username),
      password = str("ClickHouse", "Password", d.password),
      database = str("ClickHouse", "Database", d.database),
      queryTable = str("ClickHouse", "QueryTable", d.queryTable),
      responseTable = str("ClickHouse", "ResponseTable", d.responseTable),
      queryResponseTimeTable = str("ClickHouse", "QueryResponseTimeTable", d.queryResponseTimeTable),
      queryTimeColumn = str("ClickHouse", "QueryTimeColumn", d.queryTimeColumn),
      responseTimeColumn = str("ClickHouse", "ResponseTimeColumn", d.responseTimeColumn),
      queryResponseTimeDeltaColumn = str("ClickHouse", "QueryResponseTimeDeltaColumn", d.queryResponseTimeDeltaColumn),
      responseStatusColumn = str("ClickHouse", "ResponseStatusColumn", d.responseStatusColumn),
      identityColumn = str("ClickHouse", "IdentityColumn", d.identityColumn),
      queryAddressColumn = str("ClickHouse", "QueryAddressColumn", d.queryAddressColumn),
      questionNameColumn = str("ClickHouse", "QuestionNameColumn", d.questionNameColumn),
      questionTypeColumn = str("ClickHouse", "QuestionTypeColumn", d.questionTypeColumn),
      counterColumn = str("ClickHouse", "CounterColumn", d.counterColumn),
      stateStoreProvider = str("Spark", "StateStoreProvider", d.stateStoreProvider),
      rocksdbChangelogCheckpointing = bool("Spark", "RocksDbChangelogCheckpointing",
        d.rocksdbChangelogCheckpointing))
  }
}
