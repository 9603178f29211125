package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed specs (one per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(SparkTuning.ExcludedRulesKey, SparkTuning.ExcludedRules)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `body` with `spark.sql.shuffle.partitions` at `n`, then restore
    * it. The fixture's 4 partitions equal its 4 cores, which hides any
    * plan that keeps every shuffle partition. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }
}
