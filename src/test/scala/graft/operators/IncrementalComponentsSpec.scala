package graft.operators

import graft.SparkSpec

/** The contraction law: extending a labeling with a delta through the
  * reduced (label-contracted) graph must equal the full closure over
  * base ∪ delta — including the bridge case, where one delta node
  * merges two previously separate base components. */
class IncrementalComponentsSpec extends SparkSpec {

  private def full(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(nodes.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def incr(baseNodes: Seq[Long], baseEdges: Seq[(Long, Long)],
                   deltaNodes: Seq[Long],
                   newEdges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val baseLabels = Dedup.connectedComponents(
      baseNodes.toDF("id"), baseEdges.toDF("src", "dst"))
    Dedup.incrementalComponents(baseLabels, deltaNodes.toDF("id"),
        newEdges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a delta node bridging two base components merges them under the " +
    "min-id label; untouched components keep their labels") {
    // base: {1,2} and {3,4} (two components) + singleton 9
    val got = incr(
      baseNodes = Seq(1L, 2L, 3L, 4L, 9L),
      baseEdges = Seq((1L, 2L), (3L, 4L)),
      deltaNodes = Seq(0L, 7L),
      // 0 bridges both components; 7 stays a singleton
      newEdges = Seq((0L, 2L), (0L, 3L)))
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      7L -> 7L, 9L -> 9L))
  }

  test("delta-delta edges cluster new nodes among themselves") {
    val got = incr(
      baseNodes = Seq(5L), baseEdges = Nil,
      deltaNodes = Seq(10L, 11L, 12L),
      newEdges = Seq((11L, 12L)))
    assert(got === Map(5L -> 5L, 10L -> 10L, 11L -> 11L, 12L -> 11L))
  }

  test("empty delta and empty edge set are no-ops") {
    val got = incr(baseNodes = Seq(1L, 2L), baseEdges = Seq((1L, 2L)),
      deltaNodes = Nil, newEdges = Nil)
    assert(got === Map(1L -> 1L, 2L -> 1L))
  }

  test("incremental == full closure on random graphs (the contraction law)") {
    val rnd = new scala.util.Random(0x15c7L)
    (0 until 8).foreach { trial =>
      val n = 24
      val nodes = (0L until n.toLong)
      val edges = (0 until rnd.nextInt(30)).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val delta = nodes.filter(_ % 4 == 0)
      val base = nodes.filterNot(delta.contains)
      val dset = delta.toSet
      val baseEdges = edges.filter(e => !dset(e._1) && !dset(e._2))
      val newEdges = edges.filter(e => dset(e._1) || dset(e._2))
      val expect = full(nodes, edges)
      val got = incr(base, baseEdges, delta, newEdges)
      assert(got === expect, s"trial $trial: edges=$edges")
    }
  }
}
