package graft.operators

import graft.SparkSpec

class SkewAggSpec extends SparkSpec {
  test("salted two-phase aggregation equals direct groupBy") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 37}", i.toLong))
      .toDF("key", "v").repartition(8)
    val salted = graft.operators.SkewAgg
      .countSumBy(df, Seq("key"), Seq("v"), salts = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = df.groupBy("key")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }
}
