package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trainable quality classifier — logistic regression over hashed
  * bag-of-words features, TRAINED IN THE ENGINE (the fastText-style
  * gate pipelines actually fit on "good corpus vs crawl" labels,
  * completing the family q104 serves with frozen literal weights).
  *
  * The interesting problem is DETERMINISM: float gradient sums across
  * partitions reorder, so naive distributed SGD trains a different
  * model per run/per partitioning. Here every per-document gradient
  * contribution is computed in double (fixed-order dot product over
  * the document's SORTED feature buckets, StrictMath sigmoid) and then
  * SCALED TO A LONG (floor at 1e9) before the cross-partition sum —
  * integer addition commutes, so the aggregated gradient, and
  * therefore the trained weights, are bit-identical for ANY
  * partitioning and any executor count (ClassifierSpec pins Spark ==
  * in-memory reference and partitioning invariance). The driver-side
  * weight update is plain deterministic arithmetic. Precision cost of
  * the flooring: < 1e-9 per doc per feature — quantization noise far
  * below the learning rate.
  *
  * Scale shape: featurization is one narrow map (cached once across
  * iterations — the iterative-loop discipline); each iteration is one
  * mapPartitions + an element-wise long-array reduce of (buckets+1)
  * cells — gradient traffic is B longs per partition, independent of
  * corpus size; weights ship task-side as an 8·B-byte closure. Floats
  * bar a cross-engine SQL oracle, so the family registers rows-only,
  * the Importance/UnigramLm convention.
  */
object Classifier {

  val MaxBuckets: Int = 1 << 18
  private val Scale = 1e9

  final case class LogRegModel(weights: Array[Double], buckets: Int)

  private[operators] final case class FeatDoc(y: Int, b: Array[Int],
                                              c: Array[Int])

  /** Sorted sparse hashed-unigram counts (MurmurHash3 — deterministic
    * across JVMs; JVM-side on purpose, this family is rows-only). */
  private[operators] def features(text: String, buckets: Int): (Array[Int], Array[Int]) = {
    val m = scala.collection.mutable.HashMap.empty[Int, Int]
    text.split(' ').foreach { t =>
      if (t.nonEmpty) {
        val b = java.lang.Math.floorMod(
          scala.util.hashing.MurmurHash3.stringHash(t), buckets)
        m(b) = m.getOrElse(b, 0) + 1
      }
    }
    val sorted = m.toArray.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Fixed-order dot product + bias (index `buckets`). */
  private def margin(w: Array[Double], d: FeatDoc): Double = {
    var z = w(w.length - 1)
    var i = 0
    while (i < d.b.length) { z += w(d.b(i)) * d.c(i); i += 1 }
    z
  }

  private def sigmoid(z: Double): Double =
    1.0 / (1.0 + StrictMath.exp(-z))

  /** The shared per-document scaled-gradient contribution — the ONE
    * definition both the distributed trainer and the in-memory spec
    * reference fold with. */
  private[operators] def accumulate(acc: Array[Long], w: Array[Double],
                                    d: FeatDoc): Unit = {
    val err = sigmoid(margin(w, d)) - d.y
    val errScaled = math.floor(err * Scale).toLong
    var i = 0
    while (i < d.b.length) { acc(d.b(i)) += errScaled * d.c(i); i += 1 }
    acc(acc.length - 1) += errScaled
  }

  private[operators] def updated(w: Array[Double], grad: Array[Long],
                                 n: Long, lr: Double): Array[Double] =
    Array.tabulate(w.length)(j => w(j) - lr * (grad(j) / Scale) / n)

  /** Train on (textCol, labelCol ∈ {0,1}). Deterministic: see object
    * scaladoc. */
  def trainLogReg(docs: DataFrame, textCol: String, labelCol: String,
                  buckets: Int = 1024, iters: Int = 20,
                  lr: Double = 0.5): LogRegModel = {
    require(buckets >= 2 && buckets <= MaxBuckets,
      s"buckets must be in [2, $MaxBuckets], got $buckets")
    require(iters >= 1 && iters <= 1000, s"iters must be in [1, 1000]")
    val spark = docs.sparkSession
    import spark.implicits._
    val feat = docs
      .select(col(labelCol).cast("int"), col(textCol))
      .as[(Int, String)]
      .map { case (y, t) =>
        require(y == 0 || y == 1, s"label must be 0/1, got $y")
        val (b, c) = features(t, buckets)
        FeatDoc(y, b, c)
      }
      .localCheckpoint() // featurize ONCE across the iterations
    val n = feat.count()
    require(n > 0, "empty training set")
    var w = new Array[Double](buckets + 1)
    for (_ <- 1 to iters) {
      val wLocal = w // stable closure capture
      val grad = feat.mapPartitions { it =>
        val acc = new Array[Long](wLocal.length)
        it.foreach(d => accumulate(acc, wLocal, d))
        Iterator.single(acc)
      }.reduce { (a, b) =>
        val r = new Array[Long](a.length)
        var i = 0
        while (i < a.length) { r(i) = a(i) + b(i); i += 1 }
        r
      }
      w = updated(w, grad, n, lr)
    }
    LogRegModel(w, buckets)
  }

  /** Score with a trained (or frozen) model: (idCol..., p_scaled —
    * sigmoid in integer micro-units for stable downstream thresholds —
    * pred). */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
                model: LogRegModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = model.weights
    val buckets = model.buckets
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) =>
        val (b, c) = features(t, buckets)
        val p = sigmoid(margin(w, FeatDoc(0, b, c)))
        (id, math.floor(p * 1000000).toLong, if (p >= 0.5) 1 else 0)
      }
      .toDF(idCol, "p_micro", "pred")
  }
}
