package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.dns.{QueryRow, ResponseRow}
import graft.streaming.DnstapPipeline

/** The counter's contract: which rows it keeps apart, the schema the sinks
  * and q2/q3 read, and how many exchanges it plans. */
class GroupingSetCounterSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val t0 = new Timestamp(1000000L)
  private def q(addr: String, name: String, sec: Long = 1000L): QueryRow =
    QueryRow(new Timestamp(sec * 1000), "ns1", addr, 53, name, "A", 1, 1L)
  private def r(addr: String, name: String): ResponseRow =
    ResponseRow(t0, "ns1", "NXDOMAIN", addr, 53, name, "A", 1, isSuccess = false, 1L)

  private val cfg = DnstapPipeline.Config()

  private def shuffles(df: DataFrame): Int = {
    df.collect() // run it, so the plan read is the one adaptive execution settled on
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }.size
  }

  test("a real \"__ANY__\" key stays a separate row from the collapsed one") {
    import spark.implicits._
    val rows = Seq(q("10.0.0.1", "__ANY__"), q("__ANY__", "a.example."),
      q("10.0.0.1", "a.example.")).toDF()
    val out = DnstapPipeline.aggregateQueries(rows, cfg).collect().map(r =>
      (r.getAs[String]("queryAddress"), r.getAs[String]("questionName"),
        r.getAs[String]("questionType"), r.getAs[Long]("counter"))).toSeq
    assert(out.sorted == Seq(
      // the ungrouped set: every real key, the real "__ANY__"s included
      ("10.0.0.1", "__ANY__", "A", 1L),
      ("10.0.0.1", "a.example.", "A", 1L),
      ("__ANY__", "a.example.", "A", 1L),
      // by address (question collapsed): 10.0.0.1 twice, the real "__ANY__" once
      ("10.0.0.1", "__ANY__", "__ANY__", 2L),
      ("__ANY__", "__ANY__", "__ANY__", 1L),
      // by question (address collapsed): a.example. twice, the real "__ANY__" once
      ("__ANY__", "__ANY__", "A", 1L),
      ("__ANY__", "a.example.", "A", 2L)).sorted)
  }

  test("the query and response shapes keep their column order, names, types and nullability") {
    import spark.implicits._
    def str(n: String) = StructField(n, StringType, nullable = true)
    val counter = StructField("counter", LongType, nullable = false)
    val query = DnstapPipeline.aggregateQueries(Seq(q("10.0.0.1", "a.example.")).toDF(), cfg)
    assert(query.schema == StructType(Seq(str("identity"), str("queryAddress"),
      str("questionName"), str("questionType"), counter,
      StructField("queryTime", TimestampType, nullable = true))))
    val response = DnstapPipeline.aggregateResponses(Seq(r("10.0.0.1", "a.example.")).toDF(), cfg)
    assert(response.schema == StructType(Seq(str("identity"), str("responseStatus"),
      str("queryAddress"), str("questionName"), str("questionType"), counter,
      StructField("responseTime", TimestampType, nullable = true))))
  }

  test("over one partition the counter plans no exchange; over many, exactly one") {
    import spark.implicits._
    val rows = (0 until 200).map(i => q(s"10.0.0.${i % 7}", s"n${i % 11}.example.", 1000L + i))
    // four input partitions, read without a shuffle of their own
    val many = spark.sparkContext.parallelize(rows, 4).toDF()
    // a W1 leg coalesces its batch to one partition
    assert(shuffles(DnstapPipeline.aggregateQueries(many, cfg)) == 0)
    assert(shuffles(DnstapPipeline.aggregateResponses(
      spark.sparkContext.parallelize(rows.map(x => r(x.queryAddress, x.questionName)), 4).toDF(),
      cfg)) == 0)
    // the registry's q2/q3 shape: the partial aggregate runs before the one shuffle
    val direct = GroupingSetCounter(many, fixed = Seq("identity"),
      address = Seq("queryAddress"), question = Seq("questionName", "questionType"),
      tsCol = "queryTime")
    assert(shuffles(direct) == 1)
    assert(direct.collect().map(_.getAs[Long]("counter")).sum == 3 * rows.size)
  }
}
