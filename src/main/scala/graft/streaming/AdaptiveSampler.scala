package graft.streaming

/** Feedback-controlled sampling of the latency matcher (O5, reference
  * `isSample`/`tuneMask`, /root/reference/src/aggregator/aggregator.go:
  * 332-337,455-483): a row participates iff its DNS transaction id matches
  * a random reference value under a widening/narrowing bit mask.
  *
  * Control law (reference semantics, re-based for a scalable state store):
  * after each sample interval the mask widens by one bit (halving the
  * sample rate) when the interval produced more than
  * `maxSamplesPerInterval` matches OR the matcher's pending state exceeds
  * `maxPendingState` — the reference's overflow trigger
  * (`QueryResponseTimeSampleMapSizeExceeds`, aggregator.go:339-351,
  * 455-467): its map is hard-capped at 8 in-flight entries and insert
  * rejections force a widen even when the match rate is low. Our state
  * store is horizontally partitioned, so the analog pressure signal is
  * the streaming query's `stateOperators.numRowsTotal` (unmatched entries
  * awaiting a partner or the TTL purge), with a much larger bound. The
  * mask narrows only when there was NO state pressure this interval and
  * fewer than `minSamplesPerInterval` matches — exactly the reference's
  * `MapSizeExceeds == 0` guard.
  *
  * Multi-node distribution: this class holds DRIVER-side control state
  * only. Executors never see the instance — they evaluate
  * [[AdaptiveSampler.accepts(id:Int,maskBits:Int,matchValue:Int)*]] with
  * a `matchValue` frozen into the task closure (it never changes after
  * construction) and the current `maskBits` read per task from a Spark
  * local property (`TaskContext.getLocalProperty`). The pipeline's
  * `foreachBatch` runs on the query's stream-execution thread — the same
  * thread that submits the next micro-batch's jobs — so
  * `SparkContext.setLocalProperty` there rides normal task serialization
  * to every executor on the next trigger, matching the reference's
  * between-interval update cadence (aggregator.go:455-483) on a real
  * cluster, not just a shared JVM. After a checkpoint restart the
  * property is unset for the first interval, so the mask re-opens to 0
  * and re-tunes — the reference behaves the same way on process restart.
  */
final class AdaptiveSampler(seed: Long = System.nanoTime(),
                            minSamplesPerInterval: Long = 32,
                            maxSamplesPerInterval: Long = 256,
                            maxMaskBits: Int = 16,
                            maxPendingState: Long = 4096) extends Serializable {
  /** Reference value the masked transaction id must equal; fixed at
    * construction, safe to freeze into executor closures. */
  val matchValue: Int = new java.util.Random(seed).nextInt(1 << 16)
  @volatile private var maskBits: Int = 0

  def accepts(id: Int): Boolean =
    AdaptiveSampler.accepts(id, maskBits, matchValue)

  /** Driver-side feedback step, once per sample interval.
    *
    * @param samples      matches produced in the interval
    * @param pendingState unmatched entries held by the matcher (id-churn
    *        pressure: queries that never met a response accumulate here
    *        until TTL; the overflow-widen bounds that growth between
    *        purges, aggregator.go:455-467)
    */
  def observeInterval(samples: Long, pendingState: Long = 0L): Unit = {
    val overflow = pendingState > maxPendingState
    if ((overflow || samples > maxSamplesPerInterval) && maskBits < maxMaskBits)
      maskBits += 1
    else if (!overflow && samples < minSamplesPerInterval && maskBits > 0)
      maskBits -= 1
  }

  def currentMaskBits: Int = maskBits
}

object AdaptiveSampler {
  /** Pure executor-side membership test: mask 0 matches every id. */
  def accepts(id: Int, maskBits: Int, matchValue: Int): Boolean = {
    val mask = (1 << maskBits) - 1
    (id & mask) == (matchValue & mask)
  }

  /** Read the mask width a driver published for `propKey`, from inside a
    * task (0 — sample everything — when unset: batch 0, restarts, or
    * non-task callers). */
  def maskBitsFromTask(propKey: String): Int = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc == null) 0
    else {
      val v = tc.getLocalProperty(propKey)
      if (v == null) 0 else v.toInt
    }
  }
}
