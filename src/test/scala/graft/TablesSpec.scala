package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.load`: both stored `ts` encodings normalise to one
  * TimestampType, the schema is inferred once per file version, a
  * rewritten table is never read under its old schema, and two loads of
  * one table stay distinct relations that can be joined to each other. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(): String = Files.createTempDirectory("graft-tables-spec").toString

  /** The number of Spark jobs `body` submits from this thread. A marker
    * job run after `body` shows that the listener has seen them all. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (inBody, marker) = (s"body-${java.util.UUID.randomUUID()}", s"marker-${java.util.UUID.randomUUID()}")
    val seen = new ConcurrentLinkedQueue[Set[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(',').toSet))
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(inBody)
      val out = try body finally sc.removeJobTag(inBody)
      sc.addJobTag(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!seen.asScala.exists(_(marker)) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_(marker)), "the listener never saw the marker job")
      (out, seen.asScala.count(_(inBody)))
    } finally sc.removeSparkListener(listener)
  }

  /** Spark's part file of `df`, copied to `dest` as a one-file table. */
  private def writeOneFile(df: DataFrame, dest: String): Unit = {
    val staging = tempDir() + "/t"
    df.coalesce(1).write.parquet(staging)
    val part = Files.list(Paths.get(staging))
    val file = try part.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally part.close()
    Files.copy(file, Paths.get(dest), StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private val instants = Seq("2024-01-01T00:00:00.123456Z", "2024-03-10T12:34:56.000001Z",
    "1999-12-31T23:59:59.999999Z").map(Instant.parse)

  test("a ts stored as TIMESTAMP_NTZ or as INT64 TIMESTAMP(NANOS) loads as TimestampType, same instants") {
    val ntz = tempDir()
    instants.zipWithIndex.map { case (t, i) => (i.toLong, LocalDateTime.ofInstant(t, ZoneOffset.UTC)) }
      .toDF("event_id", "ts").write.parquet(s"$ntz/events.parquet")
    assert(spark.read.parquet(s"$ntz/events.parquet").schema("ts").dataType.typeName == "timestamp_ntz")

    val nanos = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$nanos/events.parquet")).withType(schema).build()
    try instants.zipWithIndex.foreach { case (t, i) =>
      writer.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i.toLong).append("ts", t.getEpochSecond * 1000000000L + t.getNano))
    } finally writer.close()

    val expected = instants.indices.map(i => i.toLong -> instants(i)).toMap
    for (dir <- Seq(ntz, nanos); load <- Seq("inferred", "known schema")) {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType, s"$dir, $load")
      val got = df.select("event_id", "ts").collect()
        .map(r => r.getLong(0) -> r.getAs[java.sql.Timestamp](1).toInstant).toMap
      assert(got == expected, s"$dir, $load")
    }
  }

  test("a second load of an unchanged table runs no Spark job; the first runs the inference") {
    val dir = tempDir()
    Seq((1L, "ALGERIA"), (2L, "ARGENTINA")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    val (first, firstJobs) = jobsOf(Tables.nation(spark, dir))
    val (second, secondJobs) = jobsOf(Tables.nation(spark, dir))
    assert(firstJobs == 1)
    assert(secondJobs == 0)
    assert(second.schema == first.schema)
    assert(rows(second) == Set(Seq(1L, "ALGERIA"), Seq(2L, "ARGENTINA")))
  }

  test("a table rewritten at the same path is read with its new schema") {
    // one file rewritten in place
    val dir = tempDir()
    writeOneFile(Seq((1L, "AFRICA")).toDF("r_regionkey", "r_name"), s"$dir/region.parquet")
    assert(rows(Tables.region(spark, dir)) == Set(Seq(1L, "AFRICA")))
    writeOneFile(Seq(("ASIA", 7, 2.5)).toDF("r_name", "r_code", "r_weight"), s"$dir/region.parquet")
    val rewritten = Tables.region(spark, dir)
    assert(rewritten.columns.toSeq == Seq("r_name", "r_code", "r_weight"))
    assert(rows(rewritten) == Set(Seq("ASIA", 7, 2.5)))

    // a table directory overwritten by Spark
    Seq((1L, 10L)).toDF("p_partkey", "p_size").write.parquet(s"$dir/part.parquet")
    assert(Tables.part(spark, dir).schema("p_size").dataType == LongType)
    Seq(("x", "large")).toDF("p_partkey", "p_size").write.mode("overwrite").parquet(s"$dir/part.parquet")
    assert(rows(Tables.part(spark, dir)) == Set(Seq("x", "large")))
  }

  test("two Tables.events loads join to each other like two plain reads") {
    val dir = tempDir()
    val events = Seq((1L, 7L, "2024-01-01T00:00:00"), (2L, 7L, "2024-01-01T00:00:01"),
      (3L, 8L, "2024-01-01T00:00:02"), (4L, 7L, "2024-01-01T00:00:03"))
    events.map { case (id, u, t) => (id, u, LocalDateTime.parse(t)) }
      .toDF("event_id", "user_id", "ts").write.parquet(s"$dir/events.parquet")
    def laterEventsOfUser(a: DataFrame, b: DataFrame): Set[Seq[Any]] =
      rows(a.join(b, a("user_id") === b("user_id") && a("event_id") < b("event_id"))
        .select(a("event_id"), b("event_id"), b("ts").cast("string")))
    // the loader without a known schema: a plain read per call
    def plain() = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast(TimestampType))

    Tables.events(spark, dir) // the schema is known from here on
    val got = laterEventsOfUser(Tables.events(spark, dir), Tables.events(spark, dir))
    assert(got == laterEventsOfUser(plain(), plain()))
    assert(got == Set(Seq(1L, 2L, "2024-01-01 00:00:01"), Seq(1L, 4L, "2024-01-01 00:00:03"),
      Seq(2L, 4L, "2024-01-01 00:00:03")))
  }
}
