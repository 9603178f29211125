package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The shared shingle index against a pure-Scala reference of its hash
  * identity (xxhash64, seed 42, over the n per-token xxhash64s of each
  * window), and the equalities q256's stored-index path relies on: the
  * pair operators and the index-level Jaccard tails must agree. */
class ShingleIndexSpec extends SparkSpec {
  import spark.implicits._

  private val XxSeed = 42L

  /** Window hashes of one text, in window order, repeats kept. */
  private def refWindows(text: String, n: Int): Seq[Long] =
    if (text == null) Nil
    else text.split(" ", -1).toSeq.filter(_.nonEmpty)
      .map(t => XXH64.hashUTF8String(UTF8String.fromString(t), XxSeed))
      .sliding(n).filter(_.length == n)
      .map(_.foldLeft(XxSeed)((h, v) => XXH64.hashLong(v, h))).toSeq

  private val edgeDocs = Seq(
    (1L, "s1", 10L, "a b"),                 // fewer than n tokens
    (2L, "s1", 10L, "a b c"),               // exactly n tokens
    (3L, "s2", 10L, "x y z x y z x y z"),   // one window repeated
    (4L, "s2", 20L, "  a   b c  d    "),    // runs of spaces
    (5L, "s3", 20L, null),                  // null text
    (6L, "s3", 30L, "a b c d e a b c"),     // shares windows with 2 and 4
    (7L, "s1", 30L, "")                     // empty text
  )

  private def edgeFrame: DataFrame = edgeDocs.toDF("doc_id", "src", "grp", "text")

  /** (key values, hash) rows of an index frame whose last column is h. */
  private def keyed(df: DataFrame): Seq[(Seq[Any], Long)] =
    df.collect().toSeq.map { r =>
      (r.toSeq.init, r.getLong(r.length - 1))
    }

  test("build == the distinct window set computed in Scala, per key") {
    // the edge rows are what they claim to be
    assert(refWindows("a b", 3).isEmpty && refWindows(null, 3).isEmpty)
    assert(refWindows("a b c", 3).size == 1)
    assert(refWindows("  a   b c  d    ", 3) == refWindows("a b c d", 3))
    assert(refWindows("x y z x y z x y z", 3).distinct.size == 3)
    val keyings: Seq[(String, Seq[String])] = Seq(
      "doc" -> Seq("doc_id"), "source" -> Seq("src"), "group" -> Seq("grp"),
      "none" -> Nil)
    for (n <- Seq(1, 3); (label, keys) <- keyings) {
      val got = keyed(ShingleIndex.build(edgeFrame, keys.map(col), col("text"), n))
      val want = edgeDocs.flatMap { case (id, src, grp, text) =>
        val k = keys.map(Map[String, Any]("doc_id" -> id, "src" -> src,
          "grp" -> grp))
        refWindows(text, n).map(h => (k, h))
      }.distinct
      assert(got.size == got.distinct.size, s"$label n=$n: rows not distinct")
      assert(got.toSet == want.toSet, s"$label n=$n: index differs from reference")
    }
  }

  test("windows keeps repeats and windowArrays keeps window order") {
    val occ = ShingleIndex.windows(edgeFrame, Seq(col("doc_id")), col("text"), 3)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val wantOcc = edgeDocs.flatMap { case (id, _, _, t) =>
      refWindows(t, 3).map(h => (id, h))
    }
    assert(occ.sorted == wantOcc.sorted)
    val tokenized = edgeFrame.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("__tk"))
    val arrays = ShingleIndex.windowArrays(tokenized, Seq(col("doc_id")),
        col("__tk"), 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    edgeDocs.foreach { case (id, _, _, t) =>
      assert(arrays(id) == refWindows(t, 3), s"doc $id")
    }
  }

  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(7310L + i)))
    }

  // tiny vocabulary + planted one-word perturbations: many shared
  // shingles and pairs on both sides of the threshold
  private val corpusGen: Gen[Seq[String]] = for {
    nDocs <- Gen.choose(2, 12)
    base <- Gen.listOfN(nDocs, for {
      nWords <- Gen.choose(0, 14)
      ws <- Gen.listOfN(nWords, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" "))
    clones <- Gen.someOf(base)
  } yield base ++ clones.map(t => if (t.isEmpty) t else t + " b")

  private def docs(texts: Seq[String], from: Long): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (from + i, t) }.toDF("doc_id", "text")

  private def pairSet(df: DataFrame): Set[Row] = df.collect().toSet

  test("ngramJaccardPairs == jaccardPairsWithinIndex(shingleIndex)") {
    var nonEmpty = 0
    forAllSeeded(corpusGen, 15) { texts =>
      val df = docs(texts, 0L)
      for (t <- Seq(0.5, 0.8)) {
        val live = pairSet(Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, t))
        val stored = pairSet(Dedup.jaccardPairsWithinIndex(
          Dedup.shingleIndex(df, "doc_id", "text", 3), t))
        assert(live == stored, s"t=$t")
        if (live.nonEmpty) nonEmpty += 1
      }
    }
    assert(nonEmpty > 5, s"only $nonEmpty non-empty cases")
  }

  test("incrementalJaccardPairs == jaccardPairsAgainstIndex, bloom off and on") {
    var nonEmpty = 0
    forAllSeeded(Gen.zip(corpusGen, corpusGen), 12) { case (c, b) =>
      val corpus = docs(c ++ b.take(2), 0L)
      val batch = docs(b, 1000L)
      val stored = pairSet(Dedup.jaccardPairsAgainstIndex(
        Dedup.shingleIndex(corpus, "doc_id", "text", 3),
        Dedup.shingleIndex(batch, "doc_id", "text", 3), 0.5))
      for (fpp <- Seq(0.0, 0.01)) {
        val live = pairSet(Dedup.incrementalJaccardPairs(corpus, batch,
          "doc_id", "text", n = 3, threshold = 0.5, bloomFpp = fpp))
        assert(live == stored, s"bloomFpp=$fpp")
      }
      if (stored.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 5, s"only $nonEmpty non-empty cases")
  }
}
