package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Test decorator: records how many partitions each batch it forwards
  * has — the tasks its write runs, and a bound on the files it writes. */
final class PartitionRecordingSink(inner: BatchSink) extends BatchSink {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  override def write(df: DataFrame, batchId: Long): Unit = {
    seen.add(df.rdd.getNumPartitions)
    inner.write(df, batchId)
  }
  def partitions: Seq[Int] = seen.asScala.toVector
}
