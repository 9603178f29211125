package graft.operators

import graft.SparkSpec

/** Pins the materialize-once plan shape of the sketch/pair dedup family:
  * each operator's hashed index (and small per-doc sketch, or PPJoin's
  * ordered sets) is eagerly checkpointed, so the candidate joins must
  * read checkpoint RDDs — a re-derived source scan in the join plan
  * means a consumer is paying the tokenize/explode pipeline again
  * (round 6 measured 4–12 duplicate scans per query before the
  * checkpoints). */
class DupProbeSpec extends SparkSpec {
  Seq("q21_ngram_jaccard", "q26_minhash_lsh", "q28_simhash_pairs",
    "q142_ppjoin", "q148_ppjoin_probe", "q149_containment").foreach { q =>
    test(s"$q's join plan reads checkpointed indexes, not re-derived scans") {
      val df = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      df.count()
      val fin = df.queryExecution.executedPlan.toString
      def n(s: String) = s.r.findAllIn(fin).length
      assert(n("Scan parquet") == 0,
        s"$q re-derives its index from source: ${n("Scan parquet")} scans")
      assert(n("Window ") == 0,
        s"$q re-evaluates the df-cap window: ${n("Window ")} windows")
    }
  }
}
