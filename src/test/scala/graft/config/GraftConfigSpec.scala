package graft.config

import org.scalatest.funsuite.AnyFunSuite

class GraftConfigSpec extends AnyFunSuite {

  test("empty config yields the reference defaults") {
    val c = GraftConfig.fromToml("")
    assert(c == GraftConfig.defaults)
    assert(c.writeIntervalSecs == 20 && c.readers == 1)
    assert(c.clientResponseTimeSamples == false)
    assert(c.pipelineConfig.sampleIntervalSecs == 10) // WriteInterval/2 derived
  }

  test("present keys patch defaults; absent keys keep them") {
    val c = GraftConfig.fromToml(
      """LogLevel = "debug"  # trailing comment
        |[Aggregator]
        |WriteInterval = "45s"
        |Aggregate = false
        |[Dnstap]
        |Readers = 8
        |ClientResponseTimeSamples = true
        |[ClickHouse]
        |Hosts = "ch1:9440,ch2:9440"
        |QuestionTypeColumn = ""
        |""".stripMargin)
    assert(c.logLevel == "debug")
    assert(c.writeIntervalSecs == 45 && !c.aggregate)
    assert(c.readers == 8 && c.clientResponseTimeSamples)
    assert(c.hosts == "ch1:9440,ch2:9440")
    assert(c.nonOkClientResponses) // untouched default
    val p = c.pipelineConfig
    assert(!p.aggregate && p.writeIntervalSecs == 45 && p.clientResponseTimeSamples)
  }

  test("effective config renders reference-shaped audit lines, password elided") {
    val c = GraftConfig.fromToml(
      """LogLevel = "debug"
        |[Aggregator]
        |WriteInterval = "45s"
        |[ClickHouse]
        |Hosts = "ch1:9440"
        |Password = "s3cret"
        |""".stripMargin)
    val lines = c.renderEffective().linesIterator.toSeq
    // patched values render, absent keys show their defaults
    assert(lines.contains("Config LogLevel: debug"))
    assert(lines.contains("Config Aggregator WriteInterval: 45"))
    assert(lines.contains("Config ClickHouse Hosts: ch1:9440"))
    assert(lines.contains("Config Dnstap Readers: 1"))
    // reference toml.go:119-121: Password never printed
    assert(!c.renderEffective().contains("s3cret"))
    assert(!lines.exists(_.contains("Password")))
    // every line carries the prefix; one line per non-password field
    assert(lines.forall(_.startsWith("Config ")))
    assert(lines.size == 32)
  }

  test("[Spark] StateStoreProvider defaults to RocksDB and propagates") {
    val d = GraftConfig.fromToml("")
    assert(d.stateStoreProvider == GraftConfig.RocksDbProvider)
    assert(d.sparkStreamingOptions ==
      Map("spark.sql.streaming.stateStore.providerClass" ->
        GraftConfig.RocksDbProvider,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true",
        "spark.sql.streaming.checkpointFileManagerClass" ->
          "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        "spark.hadoop.fs.file.impl" -> "graft.sinks.LocalFileSystemNoChmod"))
    // a deployment can patch it back to the HDFS-backed default (or any
    // custom provider) through the same TOML reflection-patch path
    val c = GraftConfig.fromToml(
      """[Spark]
        |StateStoreProvider = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
        |""".stripMargin)
    assert(c.sparkStreamingOptions(
      "spark.sql.streaming.stateStore.providerClass").endsWith(
      "HDFSBackedStateStoreProvider"))
    assert(c.renderEffective().linesIterator.toSeq.exists(l =>
      l.startsWith("Config Spark StateStoreProvider: ") &&
        l.endsWith("HDFSBackedStateStoreProvider")))
  }

  test("[Spark] RocksDbChangelogCheckpointing defaults on and patches off") {
    val d = GraftConfig.fromToml("")
    assert(d.rocksdbChangelogCheckpointing)
    val c = GraftConfig.fromToml(
      """[Spark]
        |RocksDbChangelogCheckpointing = false
        |""".stripMargin)
    assert(!c.rocksdbChangelogCheckpointing)
    assert(c.sparkStreamingOptions(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      == "false")
    assert(c.renderEffective().linesIterator.toSeq
      .contains("Config Spark RocksDbChangelogCheckpointing: false"))
  }

  test("empty column name drops the column from the projection (K1)") {
    val c = GraftConfig.fromToml(
      """[ClickHouse]
        |QuestionNameColumn = ""
        |QuestionTypeColumn = ""
        |QueryAddressColumn = "client"
        |""".stripMargin)
    assert(c.queryProjection.mapping.filter(_._2.nonEmpty).map(_._1) ==
      Seq("queryTime", "identity", "queryAddress", "counter"))
    assert(c.queryProjection.mapping.toMap.apply("queryAddress") == "client")
  }

  test("durations parse in ms/s/m/h") {
    assert(Toml.durationSecs("1500ms") == 1)
    assert(Toml.durationSecs("20s") == 20)
    assert(Toml.durationSecs("5m") == 300)
    assert(Toml.durationSecs("1h") == 3600)
    intercept[IllegalArgumentException](Toml.durationSecs("20x"))
  }

  test("malformed lines and values are rejected") {
    intercept[IllegalArgumentException](Toml.parse("not a kv line"))
    intercept[IllegalArgumentException](GraftConfig.fromToml(
      "[Dnstap]\nReaders = \"many\""))
  }

  test("basic strings decode TOML escapes; a quoted # is not a comment") {
    val c = GraftConfig.fromToml("[ClickHouse]\n" +
      "Password = \"p\\\"#x\"  # the comment starts here\n" +
      "Username = \"dom\\\\user\"\n" +
      "Database = \"t\\tb\\u00e9\\U0001F600\\n\"\n")
    assert(c.password == "p\"#x")
    assert(c.username == "dom\\user")
    assert(c.database == "t\tb\u00e9\uD83D\uDE00\n")
    assert(c.jdbcAuthOptions == Map("user" -> "dom\\user", "password" -> "p\"#x"))
    // an unknown escape, a short unicode escape, a surrogate code point,
    // an escaped closing quote and a bare quote in the body are rejected
    for (v <- Seq("\"a\\qb\"", "\"\\u12\"", "\"\\uD800\"", "\"ab\\\"",
                  "\"a\"b\""))
      intercept[IllegalArgumentException](
        GraftConfig.fromToml(s"[ClickHouse]\nPassword = $v"))
  }

  test("socket options feed the graft-dnstap source") {
    val c = GraftConfig.fromToml(
      "[Dnstap]\nUnixSocket = \"/tmp/d.sock\"\nReaders = 4\nReadTimeout = \"20s\"")
    assert(c.socketOptions == Map("path" -> "/tmp/d.sock", "readers" -> "4",
      "readTimeoutSecs" -> "20"))
  }
}
