package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Parquet table loader for the driver testdata layout (`TESTDATA.md`):
  * one parquet file per table under an sf directory. Filters and column
  * pruning push down to the parquet scan via Catalyst — callers should
  * select/filter on the returned DataFrame, never pre-collect.
  *
  * Schema inference runs once per file version. `spark.read.parquet`
  * infers a table's schema with a Spark job that reads a footer (~55–65 ms
  * of every read of sf0.1 `events`), and the registry reads the same few
  * tables again and again. [[load]] keeps Spark's own inferred schema per
  * (table path, [[fileVersion]], inference settings) and reads with
  * `spark.read.schema(s).parquet(path)` while all three are unchanged.
  * Every call still builds a fresh relation with its own file listing and
  * attribute ids (two loads of one table can be joined to each other), and
  * every scan reads the files. A table whose files change, even at the same
  * path, is inferred again.
  */
object Tables {

  /** Session settings Spark 4.1.2's parquet schema inference reads: the
    * type mapping of `ParquetToSparkSchemaConverter` and the choice of
    * footers in `ParquetUtils.inferSchema`. */
  private val InferenceSettings = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  private final case class Inferred(version: Seq[(String, Long, Long)], schema: StructType)

  /** The last inferred schema per (absolute table path, inference settings). */
  private val inferred = new ConcurrentHashMap[(String, Seq[Option[String]]), Inferred]()

  /** The version of a table's files: (path relative to `path`, length,
    * mtime in ns) of every regular file under `path`, or of `path` itself,
    * sorted by path. Driver-side listing only, never a read of the data;
    * empty when nothing can be listed (a missing or non-local path). */
  private def fileVersion(path: String): Seq[(String, Long, Long)] =
    try {
      val root = Paths.get(path)
      val walk = Files.walk(root)
      try walk.iterator().asScala.flatMap { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        if (a.isRegularFile)
          Some((root.relativize(p).toString, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS)))
        else None
      }.toVector.sortBy(_._1)
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException |
           _: java.nio.file.InvalidPathException => Nil
    }

  /** Staleness fingerprint of a source table's files: [[fileVersion]] and
    * the absolute path, hashed. Changes whenever the data does. */
  private[graft] def sourceFingerprint(path: String): String = {
    val entries = fileVersion(path).map { case (name, len, mtime) => s"$name:$len:$mtime" }
    val all = (new java.io.File(path).getAbsolutePath +: entries).mkString("\n")
    String.format("%08x", Int.box(scala.util.hashing.MurmurHash3.stringHash(all)))
  }

  /** `spark.read.parquet(path)`, inferring the schema only when the table's
    * files or the session's inference settings differ from the last
    * inference of this path. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val version = fileVersion(path)
    if (version.isEmpty) spark.read.parquet(path)
    else {
      val key = (new java.io.File(path).getAbsolutePath, InferenceSettings.map(spark.conf.getOption))
      val known = inferred.get(key)
      if (known != null && known.version == version) spark.read.schema(known.schema).parquet(path)
      else {
        val df = spark.read.parquet(path)
        inferred.put(key, Inferred(version, df.schema))
        df
      }
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet has carried TIMESTAMP(NANOS) (which Spark's
    // vectorized reader rejects — read nanos as Long and convert) and
    // TIMESTAMP(MICROS) isAdjustedToUTC=false (reads as TIMESTAMP_NTZ)
    // across driver testdata generations; normalize either encoding to a
    // session-tz TimestampType (session tz is pinned UTC, so the NTZ
    // cast is value-preserving).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
    else df
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame = load(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
