package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deterministic distributed logistic regression: Spark training must
  * equal an in-memory reference folding the SAME per-doc scaled
  * gradients, bit-for-bit; weights must be invariant to partitioning;
  * and the model must actually learn a separable vocabulary. */
class ClassifierSpec extends SparkSpec {

  private val Buckets = 256
  private val Iters = 15
  private val Lr = 0.5

  private def corpus(n: Int, seed: Int): Seq[(Int, String)] = {
    val rnd = new Random(seed)
    val good = Seq("clean", "prose", "article", "essay", "report")
    val bad = Seq("spam", "click", "winner", "free", "casino")
    (0 until n).map { _ =>
      val y = rnd.nextInt(2)
      val vocab = if (y == 1) good else bad
      val words = Seq.fill(5 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
      (y, words.mkString(" "))
    }
  }

  private def reference(docs: Seq[(Int, String)]): Array[Double] = {
    val feat = docs.map { case (y, t) =>
      val (b, c) = Classifier.features(t, Buckets)
      Classifier.FeatDoc(y, b, c)
    }
    var w = new Array[Double](Buckets + 1)
    (1 to Iters).foreach { _ =>
      val acc = new Array[Long](Buckets + 1)
      feat.foreach(d => Classifier.accumulate(acc, w, d))
      w = Classifier.updated(w, acc, docs.size.toLong, Lr)
    }
    w
  }

  private def train(docs: Seq[(Int, String)], parts: Int): Array[Double] = {
    import spark.implicits._
    Classifier.trainLogReg(
      docs.toDF("label", "text").repartition(parts),
      "text", "label", buckets = Buckets, iters = Iters, lr = Lr).weights
  }

  test("distributed training == in-memory reference, bit-for-bit") {
    val docs = corpus(300, seed = 5)
    assert(train(docs, parts = 4).toSeq == reference(docs).toSeq)
  }

  test("weights are invariant to partitioning (scaled-long gradients)") {
    val docs = corpus(300, seed = 9)
    assert(train(docs, parts = 1).toSeq == train(docs, parts = 7).toSeq)
  }

  test("learns a separable vocabulary") {
    import spark.implicits._
    val docs = corpus(400, seed = 11)
    val model = Classifier.trainLogReg(docs.toDF("label", "text"),
      "text", "label", buckets = Buckets, iters = Iters, lr = Lr)
    val scored = Classifier.scoreWith(
      docs.zipWithIndex.map { case ((y, t), i) => (i.toLong, y, t) }
        .toDF("doc_id", "label", "text").drop("label"),
      "doc_id", "text", model)
    val labels = docs.zipWithIndex.map { case ((y, _), i) => (i.toLong, y) }
      .toDF("doc_id", "y")
    val acc = scored.join(labels, "doc_id")
      .agg(avg(when(col("pred") === col("y"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc > 0.95, s"classifier failed to learn: accuracy $acc")
  }
}
