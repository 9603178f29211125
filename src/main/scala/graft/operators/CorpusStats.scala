package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level curation analytics for a training-data pipeline: token
  * rarity scoring (a unigram-LM perplexity proxy that stays integer-exact)
  * and cross-source duplication overlap.
  *
  * Scale notes (the 100 TB story):
  *   - rarity scoring is two token-keyed shuffles (frequency count, then
  *     frequency join-back) + one doc-keyed aggregation — the vocabulary
  *     is NEVER broadcast or collected, so a web-scale term dictionary
  *     flows through ordinary hash partitioning;
  *   - source overlap joins 16-byte digests, not bodies, and its per-key
  *     fan-out is bounded by the number of sources squared (sources are
  *     O(dozens) in practice), so no digest can go quadratic in |docs|.
  */
object CorpusStats {

  /** Per-document token-rarity stats: a quality signal in the spirit of a
    * unigram language model (documents dominated by corpus-rare tokens are
    * disproportionately OCR noise / gibberish; documents with none are
    * boilerplate-heavy). All integer arithmetic — no log() — so the result
    * is bit-portable across engines (see q58's DuckDB oracle).
    *
    * Output: (id, n_tokens, n_rare, rare_bp) where `n_rare` counts token
    * OCCURRENCES whose corpus-wide frequency is below `rareBelow` and
    * `rare_bp` = floor(n_rare * 10000 / n_tokens) basis points. Documents
    * with zero tokens produce no row (they have no token occurrences). */
  def rareTokenStats(df: DataFrame, idCol: String, textCol: String,
                     rareBelow: Long = 10L): DataFrame = {
    // materialize the token array before exploding — inlining tokens()
    // into the generator re-evaluates the split per element (O(tokens²))
    val toks = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(col("__tk")).as("__tok"))
    val cf = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__cf"))
    toks.join(cf, "__tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__cf") < rareBelow, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_bp", floor(col("n_rare") * 10000 / col("n_tokens")))
  }

  /** Split documents into fixed-size token windows — the max-seq-len
    * chunking step between curation and tokenization (long docs become
    * several training sequences; the final short window is kept, not
    * padded — padding/packing is [[Packing]]'s job). Entirely row-local:
    * one scan, a generate over ceil(n/seqLen) indices per doc, and an
    * array slice per chunk. No shuffle at any size. Token-empty docs
    * produce no chunks. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .withColumn("__n", size(col("__tk")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__tk"), col("__n"),
        explode(sequence(lit(0),
          ((col("__n") - 1) / lit(seqLen)).cast("int"))).as("__i"))
      .select(col(idCol), col("__i").cast("long").as("chunk_idx"),
        array_join(slice(col("__tk"), col("__i") * seqLen + 1, lit(seqLen)),
          " ").as("chunk_text"),
        least(lit(seqLen), col("__n") - col("__i") * seqLen).cast("long")
          .as("chunk_tokens"))
  }

  /** Boilerplate-shingle report: the n-token shingles present in at
    * least `minDfFrac` of documents, with their document frequency — the
    * human-inspection side of the df skew caps the dedup family applies
    * mechanically ("what IS the viral boilerplate in this crawl").
    *
    * Scale — two passes so the corpus-sized shuffle moves HASHES, never
    * text (the operator's output is text, but only for the handful of
    * shingles that clear the threshold):
    *
    *  1. df COUNT on 64-bit shingle hashes: explode → distinct
    *     (doc, hash) → map-side-combined count — fixed 8-byte keys; the
    *     corpus size rides the plan as a broadcast 1-row aggregate (the
    *     q21 idiom) so the threshold scales with the data. The surviving
    *     "viral" hash set is bounded by shingles-per-doc / minDfFrac
    *     INDEPENDENT of corpus size (each survivor owns ≥ minDfFrac·N of
    *     the ≤ N·s (doc, hash) pairs ⇒ ≤ s/minDfFrac survivors), so it
    *     broadcasts safely.
    *  2. TEXT RECOVERY for survivors only: a second narrow scan
    *     re-derives (hash, shingle), keeps viral hashes via a join AQE
    *     sizes itself (broadcast when viral is small — the common case;
    *     hash-only shuffle when a tiny minDfFrac makes it large, so a
    *     pathological threshold degrades instead of OOMing the driver),
    *     and takes a min() exemplar per hash —
    *     partial aggregation collapses each partition to ≤ |viral|
    *     strings before the only text-bearing (and tiny) shuffle.
    *
    * The trade is one extra tokenize/explode scan (CPU) for the removal
    * of the full-corpus text shuffle (disk+network) — the right side of
    * that trade at 100 TB, same philosophy as the bloom-prefiltered
    * dedup. A 64-bit collision would merge two shingles' df (never
    * invent a survivor) — negligible at any corpus size, the q21 idiom.
    *
    * Output: (shingle, df, df_bp) — df_bp = floor(df·10⁴/n_docs) basis
    * points, integer-exact. */
  def boilerplateShingles(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, minDfFrac: Double = 0.05): DataFrame = {
    require(minDfFrac > 0 && minDfFrac <= 1,
      s"minDfFrac must be in (0, 1], got $minDfFrac")
    def occ = df
      .select(col(idCol).as("__doc"), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col("__doc"),
        explode(TextAnalysis.shinglesOfTokens(col("__tk"), n)).as("__s"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("__n"))
    // viral has TWO plan consumers (the broadcast semi-join build side
    // and the final join) and Spark duplicates the subtree per consumer
    // — without materialization the full-corpus df-count pipeline would
    // run twice (the measured ngramJaccardPairs lesson). It is bounded
    // (<= shingles-per-doc / minDfFrac rows), so the eager
    // localCheckpoint costs one small job, same trade as the Dedup
    // family.
    val viral = occ
      .select(col("__doc"), xxhash64(col("__s")).as("__h"))
      .distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= ceil(col("__n") * minDfFrac))
      .select(col("__h"), col("df"),
        floor(col("df") * 10000 / col("__n")).as("df_bp"))
      .localCheckpoint()
    // No broadcast HINT here, deliberately: the s/minDfFrac survivor
    // bound is only small for sane minDfFrac, and a legal-but-tiny
    // value (1e-7) would make nearly every distinct hash "viral" — a
    // forced broadcast build then OOMs the driver. viral is already
    // localCheckpointed, so AQE sees its TRUE size and picks broadcast
    // itself in the normal case while degrading to a shuffle join (on
    // 8-byte hashes only) when the set is genuinely large — the
    // "degrades, never OOMs" convention every other join here follows.
    val strings = occ
      .select(xxhash64(col("__s")).as("__h"), col("__s"))
      .join(viral.select(col("__h")), "__h")
      .groupBy(col("__h")).agg(min(col("__s")).as("shingle"))
    viral.join(strings, "__h")
      .select(col("shingle"), col("df"), col("df_bp"))
  }

  /** Vocabulary-drift matrix: Jaccard overlap of each source pair's
    * top-`k` token sets — the cheap distribution-shift signal between
    * corpus slices ("did the new crawl's vocabulary move away from the
    * curated set"), rank-based so it stays integer-exact where a
    * KL/perplexity comparison would drag non-portable log() floats
    * through the oracle. Ranking order is (count DESC, token ASC):
    * total, deterministic, replay-stable.
    *
    * Scale: the token-count table is one map-side-combined aggregation
    * (never more than sources × vocabulary rows, already far smaller
    * than the corpus), and the top-k selection reuses the two-phase
    * bucket-histogram rank trick ([[Sampling.capPerGroup]]'s shape)
    * keyed on count MAGNITUDE (bit length): whole frequency bands whose
    * better-ranked mass already exceeds k are dropped before any sort,
    * so no per-source vocabulary ever sorts in a single task — the
    * band that pays a sort holds one binary magnitude, and the long
    * count==1 tail is only sorted when k genuinely reaches into it.
    * The final pair join runs on sources × k rows — broadcast-trivial.
    *
    * Output: (src_a, src_b, shared_topk, jaccard) for unordered pairs
    * with at least one shared top-k token; jaccard is one exact integer
    * division (|∩| / |A ∪ B|), bit-identical across engines. */
  def vocabDrift(df: DataFrame, srcCol: String, textCol: String,
                 k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val counts = df
      .select(col(srcCol).as("__src"), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col("__src"), explode(col("__tk")).as("__tok"))
      .groupBy(col("__src"), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    // band = -bit_length(count): ascending band order == descending
    // count magnitude (counts of one band never outrank a lower band),
    // and the within-band window re-sorts by the exact (count DESC,
    // token) order, so the two-phase rank equals the global rank
    val banded = counts.withColumn("__bk", -length(bin(col("__c"))))
    val hist = banded
      .groupBy(col("__src").as("__g"), col("__bk").as("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = hist.withColumn("__below",
      coalesce(sum(col("__cnt")).over(wc), lit(0L)))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src"), col("__bk"))
      .orderBy(col("__c").desc, col("__tok"))
    val topk = banded
      .join(cum, banded("__src") === cum("__g") && banded("__bk") === cum("__b"))
      .filter(col("__below") < k)
      .withColumn("__rk", row_number().over(wb))
      .filter(col("__rk") <= lit(k.toLong) - col("__below"))
      .select(col("__src"), col("__tok"))
    val sizes = topk.groupBy(col("__src")).agg(count(lit(1)).as("__sz"))
    val idx = topk.join(sizes, "__src")
    idx.as("a")
      .join(idx.as("b"),
        col("a.__tok") === col("b.__tok") && col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("src_a"), col("b.__src").as("src_b"),
        col("a.__sz").as("__sza"), col("b.__sz").as("__szb"))
      .agg(count(lit(1)).as("shared_topk"))
      .select(col("src_a"), col("src_b"), col("shared_topk"),
        (col("shared_topk") * lit(1.0) /
          (col("__sza") + col("__szb") - col("shared_topk"))).as("jaccard"))
  }

  /** Cross-source duplication matrix: for each unordered source pair, how
    * many distinct n-token shingles appear in BOTH — the "is source B
    * scraping the same sites as source A / leaking the eval set" curation
    * question, at n-gram rather than whole-document granularity (exact
    * mirrors rarely survive re-crawling; shared shingles do). 8-byte
    * shingle hashes shuffle, never text (collisions ~n²/2^65, the q21
    * idiom). No self-join: ONE shingle-keyed aggregation collects each
    * shingle's source set (bounded by the source count, O(dozens)), and
    * unordered pairs are emitted by a pure array expression — per-shingle
    * cost is sources², never |docs|². */
  def sourceOverlap(df: DataFrame, textCol: String, srcCol: String,
                    n: Int = 5): DataFrame = {
    val sh = ShingleIndex.build(df, Seq(col(srcCol).as("__src")), col(textCol), n)
    // sorted source set per shingle → (a, b) pairs with a < b by position
    val pairs = flatten(transform(col("__ss"), (x, i) =>
      transform(slice(col("__ss"), i + lit(2),
          greatest(size(col("__ss")) - i - 1, lit(0))),
        y => struct(x.as("a"), y.as("b")))))
    sh.groupBy(col("h"))
      .agg(sort_array(collect_set(col("__src"))).as("__ss"))
      .filter(size(col("__ss")) >= 2)
      .select(explode(pairs).as("__p"))
      .groupBy(col("__p.a").as("src_a"), col("__p.b").as("src_b"))
      .agg(count(lit(1)).as("shared_shingles"))
  }

  /** Tokenizer vocabulary construction: every token with corpus
    * frequency >= `minCount`, assigned a CONTIGUOUS 0-based `token_id`
    * in (frequency desc, token asc) order — frequent tokens get small
    * ids, the layout every tokenizer artifact assumes. The id is an
    * exact global rank, computed WITHOUT a global sort: tokens band by
    * count bit length (ascending band == descending count magnitude, the
    * [[vocabDrift]] trick), a <= 64-row band histogram yields each
    * band's offset (the one unpartitioned window, over histogram rows
    * only), and a per-band window finishes the exact order. Web-scale
    * vocabularies shuffle as (token, count) pairs; nothing is collected
    * or broadcast. */
  def buildVocab(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val counts = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minCount)
    val banded = counts.withColumn("__bk", -length(bin(col("n_occ"))))
    val hist = banded.groupBy(col("__bk").as("__b")).agg(count(lit(1)).as("__cnt"))
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = hist.withColumn("__off",
      coalesce(sum(col("__cnt")).over(wc), lit(0L)))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bk")).orderBy(col("n_occ").desc, col("token"))
    banded.join(cum, banded("__bk") === cum("__b"))
      .withColumn("token_id", col("__off") + row_number().over(wb) - 1)
      .select(col("token"), col("n_occ"), col("token_id"))
  }

  /** Apply a [[buildVocab]] vocabulary to the corpus: per document, the
    * token count, out-of-vocabulary occurrence count, and the sum of
    * matched token ids (an order-independent integer checksum that pins
    * the actual id assignments without emitting an array column). The
    * vocabulary joins BY TOKEN KEY through ordinary hash partitioning —
    * never broadcast, never collected (the q58 contract: a web-scale
    * vocabulary is a table, not a literal). Token-less documents emit no
    * row, consistent with [[rareTokenStats]]. */
  def encodeWithVocab(df: DataFrame, idCol: String, textCol: String,
                      vocab: DataFrame): DataFrame = {
    val toks = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), explode(col("__tk")).as("token"))
    toks.join(vocab.select(col("token"), col("token_id")), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("token_id"), lit(0L))).as("id_sum"))
  }

  /** First-round BPE pair statistics: the top-`k` adjacent character
    * pairs across the corpus, weighted by word frequency — the counting
    * core of byte-pair-encoding tokenizer training (each BPE merge round
    * picks the most frequent adjacent pair). Output (pair, n_occ, rk).
    *
    * Scale shape: pair extraction runs over the DISTINCT-WORD table
    * (vocabulary-bounded, Zipf — orders of magnitude smaller than the
    * token stream), weighted by the word counts; the global top-k uses
    * the [[vocabDrift]] count-bit-length banding, so no single task ever
    * sorts the whole pair table — the only unpartitioned window is over
    * the <= 64-row band histogram. Exactly equals the oracle's single
    * global ROW_NUMBER. */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val words = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__wc"))
    val pairs = words
      .filter(length(col("__w")) >= 2)
      .select(col("__wc"), explode(
        expr("transform(sequence(1, length(__w) - 1), i -> substr(__w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("__wc")).as("n_occ"))
    val banded = pairs.withColumn("__bk", -length(bin(col("n_occ"))))
    val hist = banded.groupBy(col("__bk").as("__b")).agg(count(lit(1)).as("__cnt"))
    val wc = org.apache.spark.sql.expressions.Window
      .orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = hist.withColumn("__below",
      coalesce(sum(col("__cnt")).over(wc), lit(0L)))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bk")).orderBy(col("n_occ").desc, col("pair"))
    banded.join(cum, banded("__bk") === cum("__b"))
      .filter(col("__below") < k)
      .withColumn("__rk", row_number().over(wb))
      .filter(col("__rk") <= lit(k.toLong) - col("__below"))
      .select(col("pair"), col("n_occ"),
        (col("__below") + col("__rk")).cast("long").as("rk"))
  }

  /** Iterative BPE tokenizer training (Sennrich et al. 2016, public
    * algorithm): `k` merge rounds, each picking the globally most
    * frequent adjacent symbol pair over the corpus (weighted by word
    * occurrence count) and merging it left-to-right, non-overlapping, in
    * every word. Returns the certified merge SEQUENCE —
    * (round, left_sym, right_sym, merged, n_occ) — which IS the trained
    * tokenizer (apply merges in order to encode).
    *
    * Tie-break is total and deterministic: max count, then
    * lexicographically smallest (left, right) — so the merge sequence is
    * reproducible cross-engine and the DuckDB oracle certifies it
    * hash-exactly (q105 generates the same k rounds as chained CTEs).
    *
    * Scale shape — the split every production tokenizer trainer uses:
    * the WORD table is corpus-sized and stays distributed; the
    * PAIR-COUNT ledger is tokenizer-sized (bounded by observed adjacent
    * symbol pairs, ≈ (alphabet + k)² worst case, far smaller in
    * practice) and lives on the driver:
    *   - all distributed work runs over the DISTINCT-WORD table
    *     (vocabulary-bounded, Zipf: orders of magnitude smaller than
    *     the token stream); the corpus itself is scanned exactly once;
    *   - the full pair count aggregates ONCE at start and collects
    *     under a loud [[MaxBpePairLedger]] bound (require before
    *     collect) into a TreeSet-backed
    *     ledger ordered by (count DESC, pair UTF-8-byte ASC) — the
    *     per-round argmax is an O(1) first() with NO Spark job, and
    *     the ordering matches what a distributed ORDER BY n DESC, a, b
    *     would pick (UTF-8 byte order == code-point order; Java's
    *     String.compareTo is UTF-16 code-unit order, which disagrees
    *     above U+FFFF — compared raw bytes for engine parity);
    *   - merges apply in BATCHES of up to [[MaxBpeMergeBatch]] per
    *     distributed job, with EXACT sequential semantics: a
    *     speculative fold-safe prefix of the ledger order (pairwise
    *     symbol-disjoint merges — see the selection comment in the
    *     body) is applied by one codegen'd `aggregate` fold per word,
    *     per-step pair deltas aggregate and collect (bounded by
    *     merged-symbol neighbour diversity × batch size, the public
    *     fast-BPE observation), and a driver-side REPLAY walks the
    *     deltas through the ledger, committing each step only while it
    *     is provably the argmax sequential training would have picked —
    *     the first divergence (a batch-created pair outranking the
    *     speculation) truncates the batch, so the committed sequence is
    *     byte-identical to serial training while deep trainings (k in
    *     the hundreds) run far fewer driver round-trips than k;
    *   - the symbol table `localCheckpoint`s per round, so lineage
    *     stays O(1) (the [[Dedup.connectedComponents]] convention);
    *   - an exhausted ledger (no adjacent pair anywhere) FAILS LOUDLY
    *     rather than silently emitting fewer merges than requested.
    *
    * Words containing `sep` (an unprintable sentinel, default \\u0001)
    * are excluded on both engine and oracle sides: the oracle's fold
    * threads symbols through a sep-delimited string, and a corpus word
    * carrying the sentinel would corrupt its framing. Standard BPE
    * preprocessing drops control characters anyway. */
  def bpeTrainMerges(df: DataFrame, textCol: String, k: Int,
                     sep: String = "\u0001"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrainCore(df, textCol, k, sep)._1
      .toDF("round", "left_sym", "right_sym", "merged", "n_occ")
  }

  /** [[bpeTrainMerges]] with graceful exhaustion: trains up to `maxK`
    * merges but STOPS (instead of failing loudly) when no adjacent pair
    * remains anywhere — the deep-training surface (q122), where the
    * requested depth is a budget, not a contract, and the portable
    * behaviour across corpus scales is "as deep as the corpus supports".
    * Emitted rounds are byte-identical to `bpeTrainMerges` at the same
    * prefix (same core, same replay validation). */
  def bpeTrainMergesCapped(df: DataFrame, textCol: String, maxK: Int,
                           sep: String = "\u0001"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrainCore(df, textCol, maxK, sep, exhaustOk = true)._1
      .toDF("round", "left_sym", "right_sym", "merged", "n_occ")
  }

  /** Hard bound on the driver-side distinct-word ledger of
    * [[bpeTrainMergesDeep]]: 4M distinct words ≈ a few hundred MB of
    * short symbol arrays. Corpora under the bound (Zipf: even web-scale
    * text keeps distinct words in the tens of millions, and a word
    * ledger this size is what every production trainer holds in memory)
    * train entirely on the driver; past it the deep trainer degrades to
    * the batched distributed path instead of OOMing. */
  val MaxBpeWordLedger: Long = 1L << 22

  /** Production-depth BPE training: up to `maxK` merges (stopping at
    * corpus exhaustion, [[bpeTrainMergesCapped]]'s budget semantics)
    * with the split every production tokenizer trainer (HuggingFace
    * tokenizers, SentencePiece BPE) uses — ONE distributed corpus scan
    * builds the distinct-word count table (vocabulary-sized,
    * Zipf-bounded), and the inherently sequential argmax chain runs
    * in-memory over that table with an inverted pair→word index, so a
    * 30k-merge vocabulary costs zero per-merge distributed rounds. The
    * merge sequence is byte-identical to [[bpeTrainMerges]] (same
    * argmax, same (count DESC, pair UTF-8-byte ASC) tie-break, same
    * left-to-right non-overlapping replacement — property-pinned by
    * BpeFuzzSpec), the word ledger collects only under the loud
    * [[MaxBpeWordLedger]] count-before-collect guard, and an over-bound
    * corpus falls back to the batched distributed trainer. */
  def bpeTrainMergesDeep(df: DataFrame, textCol: String, maxK: Int,
                         sep: String = "\u0001"): DataFrame = {
    require(maxK > 0 && maxK <= (1 << 16),
      s"maxK merge budget must be in [1, 65536], got $maxK")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .filter(!col("__w").contains(lit(sep)))
      .groupBy(col("__w")).agg(count(lit(1)).as("wc"))
      .localCheckpoint(false)
    val nWords = words.count() // materializes; guards BEFORE collect
    if (nWords > MaxBpeWordLedger) {
      // the distributed fallback is serial per merge round — a deep
      // budget through it would take hours. LOUD, not a silent clamp:
      // the caller asked for maxK merges and must choose (shard the
      // corpus, or accept the distributed path's depth ceiling).
      require(maxK <= 1024,
        s"corpus has $nWords distinct words (> in-memory ledger cap " +
          s"$MaxBpeWordLedger) and the distributed fallback is capped at " +
          s"1024 merges; requested $maxK — shard the corpus or lower maxK")
      bpeTrainCore(df, textCol, maxK, sep, exhaustOk = true)._1
        .toDF("round", "left_sym", "right_sym", "merged", "n_occ")
    } else {
      val ledger = words.select(col("__w"), col("wc")).as[(String, Long)]
        .collect()
        .map { case (w, n) => (n, w.split("").filter(_.nonEmpty)) }
      bpeTrainInMemory(ledger, maxK)
        .toDF("round", "left_sym", "right_sym", "merged", "n_occ")
    }
  }

  /** The in-memory trainer behind [[bpeTrainMergesDeep]]: classic
    * pair-count + inverted-index BPE over a (count, symbols) word
    * ledger, byte-identical in sequence to the distributed
    * [[bpeTrainCore]] (shared comparator, shared replacement
    * semantics). Stops at exhaustion — [[bpeTrainMergesCapped]]'s
    * budget semantics. */
  private[operators] def bpeTrainInMemory(ledger: Array[(Long, Array[String])],
      maxK: Int): Seq[(Int, String, String, String, Long)] = {
    val wc = ledger.map(_._1)
    val syms = ledger.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occurs = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    val order = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val byN = java.lang.Long.compare(y._1, x._1)
          if (byN != 0) return byN
          val byA = cpCompare(x._2, y._2)
          if (byA != 0) byA else cpCompare(x._3, y._3)
        }
      })
    def pairBag(s: Array[String]): scala.collection.mutable.HashMap[(String, String), Int] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Int]
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        m.update(p, m.getOrElse(p, 0) + 1)
        j += 1
      }
      m
    }
    def applyDelta(p: (String, String), d: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old != 0L) order.remove((old, p._1, p._2))
      val next = old + d
      if (next > 0L) { counts(p) = next; order.add((next, p._1, p._2)) }
      else counts.remove(p)
    }
    syms.indices.foreach { i =>
      pairBag(syms(i)).foreach { case (p, m) =>
        applyDelta(p, m.toLong * wc(i))
        occurs.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += i
      }
    }
    // left-to-right non-overlapping single-merge replacement — the
    // textbook application bpeTrainCore's one-pass fold reproduces
    def mergeWord(s: Array[String], a: String, b: String): Array[String] = {
      val out = Array.newBuilder[String]
      var j = 0
      while (j < s.length) {
        if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
          out += (a + b); j += 2
        } else { out += s(j); j += 1 }
      }
      out.result()
    }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var done = 0
    while (done < maxK && !order.isEmpty) {
      val top = order.first()
      val (n, a, b) = (top._1, top._2, top._3)
      done += 1
      merges += ((done, a, b, a + b, n))
      val hit = occurs.getOrElse((a, b),
        scala.collection.mutable.HashSet.empty[Int]).toArray
      hit.foreach { i =>
        val oldBag = pairBag(syms(i))
        val next = mergeWord(syms(i), a, b)
        val newBag = pairBag(next)
        (oldBag.keySet ++ newBag.keySet).foreach { p =>
          val d = newBag.getOrElse(p, 0) - oldBag.getOrElse(p, 0)
          if (d != 0) applyDelta(p, d.toLong * wc(i))
          val hadOld = oldBag.contains(p)
          val hasNew = newBag.contains(p)
          if (hadOld && !hasNew) occurs.get(p).foreach { s =>
            s -= i; if (s.isEmpty) occurs.remove(p)
          }
          else if (!hadOld && hasNew)
            occurs.getOrElseUpdate(p,
              scala.collection.mutable.HashSet.empty) += i
        }
        syms(i) = next
      }
    }
    merges.result()
  }

  /** Training core shared by [[bpeTrainMerges]] (emits the merge
    * sequence) and [[bpeEncodedCounts]] (consumes the post-merge symbol
    * table): the ordered merges plus the final (wc, sym) distinct-word
    * table after all k rounds. */
  /** Adjacent symbol pairs of a word as (a, b) structs; empty array —
    * never an ANSI index error — below 2 symbols. */
  private def adjacentPairs(sym: Column): Column =
    when(size(sym) >= 2, transform(sequence(lit(1), size(sym) - 1),
      j => struct(element_at(sym, j).as("a"), element_at(sym, j + 1).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  /** Hard bound on the driver-side pair ledger ([[bpeTrainCore]]):
    * 4M distinct (a, b) symbol pairs ≈ a few hundred MB of short
    * strings. A corpus whose ADJACENT-PAIR diversity exceeds this is
    * past what one merge ledger should hold — fail loudly BEFORE
    * collecting, never OOM. */
  val MaxBpePairLedger: Long = 1L << 22

  /** UTF-8 byte comparison == code-point order — the order a
    * distributed ORDER BY (binary collation) and the DuckDB oracle
    * sort strings in. String.compareTo would disagree above U+FFFF. */
  private[operators] def cpCompare(x: String, y: String): Int = {
    val a = x.getBytes(UTF_8)
    val b = y.getBytes(UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Largest number of merges applied in one distributed round: bounds
    * the per-round merge-map literal and keeps the batch-selection scan
    * cheap. 64 merges is far past observed batch sizes; the cap exists
    * so a pathological flat-count corpus can't build a giant plan. */
  val MaxBpeMergeBatch: Int = 64

  /** Result visible to the fuzz spec: the ordered merges, the post-merge
    * distinct-word symbol table, and how many DISTRIBUTED rounds the
    * batched trainer actually ran (== k iff no batching happened). */
  private[operators] def bpeTrainCore(df: DataFrame, textCol: String, k: Int,
      sep: String, exhaustOk: Boolean = false)
      : (Seq[(Int, String, String, String, Long)], DataFrame, Int) = {
    require(k > 0 && k <= 1024, s"k merge rounds must be in [1, 1024], got $k")
    var words = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .filter(!col("__w").contains(lit(sep)))
      .groupBy(col("__w")).agg(count(lit(1)).as("wc"))
      // split("") can leave a trailing empty element (regex zero-width
      // match at end-of-string) — strip it, symbols are never empty
      .select(col("wc"),
        filter(split(col("__w"), ""), s => s =!= "").as("sym"))
      .localCheckpoint(false)
    // the full pair count aggregates ONCE and moves to a driver-side
    // ledger: count() guards the bound BEFORE collect, and the
    // checkpoint makes guard + collect share one execution
    val init = words
      .select(col("wc"), explode(adjacentPairs(col("sym"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wc")).as("n"))
      .localCheckpoint(false)
    // count() materializes BOTH lazy checkpoints in one pass and guards
    // the ledger bound before collect
    val nDistinct = init.count()
    require(nDistinct <= MaxBpePairLedger,
      s"BPE training: $nDistinct distinct adjacent symbol pairs exceed " +
        s"the MaxBpePairLedger=$MaxBpePairLedger driver bound")
    // ledger: (a, b) -> n, plus a TreeSet ordered the way a distributed
    // ORDER BY n DESC, a, b would sort — argmax is first(), updates are
    // O(log n), and every entry is unique because (a, b) is a key
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val order = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val byN = java.lang.Long.compare(y._1, x._1)
          if (byN != 0) return byN
          val byA = cpCompare(x._2, y._2)
          if (byA != 0) byA else cpCompare(x._3, y._3)
        }
      })
    init.collect().foreach { r =>
      val key = (r.getString(0), r.getString(1))
      counts(key) = r.getLong(2)
      order.add((r.getLong(2), key._1, key._2))
    }
    def applyDelta(a: String, b: String, d: Long): Unit = {
      val key = (a, b)
      val old = counts.getOrElse(key, 0L)
      if (old != 0L) order.remove((old, a, b))
      val next = old + d
      if (next > 0L) { counts(key) = next; order.add((next, a, b)) }
      else counts.remove(key)
    }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var done = 0       // committed merge rounds (exact sequential semantics)
    var distRounds = 0 // distributed jobs actually run (the scale metric)
    var exhausted = false
    while (done < k && !exhausted) {
      if (order.isEmpty) {
        if (!exhaustOk)
          throw new IllegalStateException(
            s"BPE training ran out of adjacent pairs after $done of $k " +
              "rounds — every word is a single symbol; lower k")
        exhausted = true
      } else {
      // --- speculative batch: a fold-safe SUBSEQUENCE of the ledger
      // order (greedy, in rank order). A later candidate c is fold-safe
      // against every
      // already-selected merge j iff
      //   {a_c, b_c} ∩ {a_j, b_j, a_j+b_j} = ∅   (count invariance: every
      //     delta pair touches a_j, b_j or the merged symbol, so c's count
      //     is provably unchanged while j applies; also no fold cross-talk)
      //   a_c+b_c ∉ {a_j, b_j}                   (else the one-pass fold
      //     would chain-merge through a symbol c fabricates where the
      //     sequential order applies j BEFORE c exists)
      // Unsafe pairs are SKIPPED, not batch-enders: a skipped pair's
      // count may shift while the batch applies, but the replay
      // validation below compares the live ledger argmax against every
      // speculated step — if a skipped (or batch-created) pair surfaces
      // above the speculation, the batch truncates exactly there, so
      // skipping never costs exactness, only a (cheap, driver-side)
      // wasted speculation tail. The skip budget bounds the ledger scan:
      // candidates this deep are near-certain to be outranked by the
      // batch's own created pairs before they commit.
      val batch = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
      val usedSyms = scala.collection.mutable.HashSet.empty[String]  // a_j, b_j, a_j+b_j
      val usedParts = scala.collection.mutable.HashSet.empty[String] // a_j, b_j
      val capB = math.min(MaxBpeMergeBatch, k - done)
      val it = order.iterator()
      var skips = 0
      while (batch.size < capB && skips <= MaxBpeMergeBatch && it.hasNext) {
        val cand = it.next()
        val (ca, cb) = (cand._2, cand._3)
        if (batch.isEmpty ||
            (!usedSyms.contains(ca) && !usedSyms.contains(cb) &&
              !usedParts.contains(ca + cb))) {
          batch += cand
          usedSyms += ca; usedSyms += cb; usedSyms += (ca + cb)
          usedParts += ca; usedParts += cb
        } else skips += 1
      }
      val bn = batch.size
      // merge tables for the single-pass fold, keyed a<sep>b (symbols are
      // sep-free by the training filter): key -> 1-based step index, and
      // key -> merged output. try_element_at: an absent key is null (never
      // an ANSI error), and null <= t is null, so `when` falls through.
      val idxMap = typedlit(batch.iterator.zipWithIndex.map {
        case ((_, a, b), i) => (a + sep + b) -> (i + 1) }.toMap)
      val outMap = typedlit(batch.iterator.map {
        case (_, a, b) => (a + sep + b) -> (a + b) }.toMap)
      // left-to-right non-overlapping application of every selected merge
      // with step index <= t in ONE pass. Fold-safety (selection above)
      // makes the one-pass result identical to applying the <=t merges
      // sequentially: distinct merges never share symbols so their sites
      // cannot overlap, and within one merge a just-merged symbol a+b can
      // never equal a, so greedy chains (only when a == b) resolve exactly
      // like the textbook single-pass replacement.
      def foldUpTo(symCol: Column, t: Column): Column =
        aggregate(symCol, array().cast("array<string>"), (acc, s) => {
          val key = concat(element_at(acc, -1), lit(sep), s)
          when(size(acc) > 0 && try_element_at(idxMap, key) <= t,
            concat(slice(acc, lit(1), size(acc) - 1),
              array(try_element_at(outMap, key))))
            .otherwise(concat(acc, array(s)))
        })
      // per-word affected steps: merge j changes a word iff (a_j, b_j) is
      // adjacent in the PRE-batch word — no other selected merge can
      // create or destroy that adjacency (symbol disjointness), so one
      // scan of the word's pair keys finds every affected step
      val pairKeys = transform(adjacentPairs(col("sym")),
        p => concat(p.getField("a"), lit(sep), p.getField("b")))
      // cheap codegen'd pre-gate: a word not containing ANY batch left
      // symbol cannot be affected — the overwhelming majority of words
      // skip the string-building pair-key scan entirely
      val leftSyms = typedlit(batch.iterator.map(_._2).toSet.toSeq)
      val jsExpr = when(arrays_overlap(col("sym"), leftSyms),
        array_sort(array_distinct(transform(
          filter(pairKeys, kk => try_element_at(idxMap, kk).isNotNull),
          kk => try_element_at(idxMap, kk)))))
        .otherwise(array().cast("array<int>"))
      // ONE distributed job for the whole batch: compute affected steps
      // and the full-batch fold for every word, checkpoint. Unaffected
      // words (the overwhelming majority per round) skip the fold.
      val step = words
        .withColumn("__js", jsExpr)
        .withColumn("__sym2",
          when(size(col("__js")) > 0, foldUpTo(col("sym"), lit(bn)))
            .otherwise(col("sym")))
        .localCheckpoint(false)
      // lazy checkpoint: the delta collect below is the batch's ONE
      // distributed job — it materializes the checkpoint partitions and
      // aggregates the per-step deltas in the same pass
      distRounds += 1
      // PER-STEP deltas (the replay validation needs intermediate ledger
      // states, not just the net): a word affected by steps j_1<…<j_m
      // changes exactly at those thresholds, and the state after j_r is
      // the one-pass fold at threshold j_r. Endpoints reuse sym / __sym2 —
      // only the m-1 interior states (rare: most words have m = 1) refold.
      val interior = slice(col("__js"), lit(1), size(col("__js")) - 1)
      val states = concat(
        array(col("sym")),
        transform(interior, t => foldUpTo(col("sym"), t)),
        array(col("__sym2")))
      val deltaRows = flatten(transform(sequence(lit(1), size(col("__js"))), r =>
        concat(
          transform(adjacentPairs(element_at(states, r)), p =>
            struct(element_at(col("__js"), r).as("j"),
              p.getField("a").as("a"), p.getField("b").as("b"),
              (-col("wc")).as("d"))),
          transform(adjacentPairs(element_at(states, r + 1)), p =>
            struct(element_at(col("__js"), r).as("j"),
              p.getField("a").as("a"), p.getField("b").as("b"),
              col("wc").as("d"))))))
      // the aggregated per-step delta stays bounded by merged-symbol
      // neighbour diversity × batch size, exactly as in the serial design
      val deltas = step.filter(size(col("__js")) > 0)
        .select(explode(deltaRows).as("x"))
        .groupBy(col("x.j").as("j"), col("x.a").as("a"), col("x.b").as("b"))
        .agg(sum(col("x.d")).as("d"))
        .filter(col("d") =!= 0)
        .collect()
      val byStep = deltas.groupBy(_.getInt(0))
      // --- replay validation: commit batch steps while the ledger agrees
      // the step IS the sequential argmax. Candidate counts are invariant
      // under earlier batch steps (selection), so a first() mismatch means
      // a pair CREATED by the committed prefix outranks the speculation —
      // truncate there; the prefix is exactly the sequential result. The
      // first step always matches (it was read off order.first()), so
      // every batch commits >= 1 merge and the loop terminates.
      var commit = 0
      var diverged = false
      while (commit < bn && !diverged) {
        val (nI, aI, bI) = (batch(commit)._1, batch(commit)._2, batch(commit)._3)
        if (order.first() != ((nI, aI, bI))) diverged = true
        else {
          done += 1
          merges += ((done, aI, bI, aI + bI, nI))
          byStep.getOrElse(commit + 1, Array.empty[org.apache.spark.sql.Row])
            .foreach(r => applyDelta(r.getString(1), r.getString(2), r.getLong(3)))
          commit += 1
        }
      }
      words =
        if (commit == bn)
          // lazy-narrow over the checkpointed step — no second vocab pass
          step.select(col("wc"), col("__sym2").as("sym"))
        else
          // truncated: narrow to the committed prefix LAZILY — the next
          // batch's checkpoint fuses this fold into its own single job,
          // so a truncation never costs an extra distributed pass and a
          // batch is never more expensive than one serial round
          step.select(col("wc"),
            when(size(col("__js")) > 0, foldUpTo(col("sym"), lit(commit)))
              .otherwise(col("sym")).as("sym"))
      }
    }
    (merges.result(), words, distRounds)
  }

  /** Encode the corpus with the tokenizer [[bpeTrainMerges]] trains:
    * per-document word count and post-merge BPE token count (the
    * sequence-length planner's number: what the packing/chunking budget
    * actually pays after k merges).
    *
    * Scale shape: symbol counts are computed ONCE per DISTINCT word on
    * the vocabulary-bounded post-training table, then met by the token
    * stream through a hash join on the word's xxhash64 — the corpus
    * shuffles 8-byte keys, never word text, and never re-runs a merge
    * (the q73 no-string-grouping-key discipline; a 64-bit cross-word
    * collision merging two counts is the documented negligible-risk
    * convention). Words carrying `sep` are excluded exactly as in
    * training, so every surviving occurrence finds its vocab row. */
  def bpeEncodedCounts(df: DataFrame, idCol: String, textCol: String,
                       k: Int, sep: String = "\u0001"): DataFrame = {
    val words = bpeTrainCore(df, textCol, k, sep)._2
    val vocab = words.select(
      xxhash64(array_join(col("sym"), "")).as("__wh"),
      size(col("sym")).cast("long").as("__nsym"))
    df.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .filter(!col("__w").contains(lit(sep)))
      .select(col(idCol), xxhash64(col("__w")).as("__wh"))
      .join(vocab, "__wh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nsym")).as("n_bpe_tokens"))
  }

  /** Tokenizer INFERENCE (r12): apply an already-trained merge table to
    * a corpus the tokenizer has never seen — the production path, where
    * training ran once on a reference corpus and every later batch just
    * encodes. `merges` is the [[bpeTrainMerges]] output (round,
    * left_sym, right_sym, ...); it collects to the driver (tokenizer-
    * sized, bounded by the training k <= 1024) and applies to each
    * DISTINCT word of `df` as k chained left-to-right merge folds in
    * round order — merges are NOT symbol-disjoint across rounds, so
    * sequential chaining (not the training batcher's one-pass map) is
    * the correct application here; the oracle replays the identical
    * fold in SQL. The corpus meets the folded vocabulary through the
    * same 8-byte-hash join as [[bpeEncodedCounts]] — word text never
    * shuffles. Returns (idCol, n_words, n_bpe_tokens). */
  def bpeApplyMerges(df: DataFrame, idCol: String, textCol: String,
                     merges: DataFrame, sep: String = "\u0001"): DataFrame = {
    val ms = merges.select(col("round").cast("int"), col("left_sym"),
        col("right_sym"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
    require(ms.nonEmpty && ms.length <= 1024,
      s"merge table must carry 1..1024 rounds, got ${ms.length}")
    val words = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .filter(!col("__w").contains(lit(sep)))
      .distinct()
      .select(col("__w"), filter(split(col("__w"), ""), s => s =!= "").as("sym"))
    val folded = ms.foldLeft(col("sym")) { case (symC, (a, b)) =>
      aggregate(symC, array().cast("array<string>"), (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))
    }
    val vocab = words.select(xxhash64(col("__w")).as("__wh"),
      size(folded).cast("long").as("__nsym"))
    df.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .filter(!col("__w").contains(lit(sep)))
      .select(col(idCol), xxhash64(col("__w")).as("__wh"))
      .join(vocab, "__wh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__nsym")).as("n_bpe_tokens"))
  }

  /** Vocabulary-growth (Heaps' law) card — the corpus-health curve a
    * crawl pipeline reads before believing its own scale: in ingestion
    * order (id bands of `bandWidth` documents), how many NEW types does
    * each band contribute, and how does the cumulative type-token ratio
    * decay? A feed whose new-type rate stops falling is minting tokens
    * (OCR noise, ids); one that collapses to zero is re-crawling itself
    * — both invisible to per-document quality gates.
    *
    * Exactness: a token's first band is min(band) over its 60-bit
    * hash (text never shuffles — the dedup-family discipline; the
    * oracle mins over raw strings, agreement certifies the hash lane);
    * cumulative sums are generated by exploding each band's
    * contribution over band..max — bands are calendar-like (corpus
    * size / bandWidth), so the explode is axis²-bounded, window-free
    * (no global running-sum window, the sweep's banned shape).
    * ttr_micro = ⌊10⁶·cum_types/cum_tokens⌋, one truncating division.
    *
    * Scale: one token explode feeding two map-side-combined
    * aggregations (occurrences per band; first-band per type, |vocab|-
    * sized then band-sized). Everything after is axis-sized.
    *
    * @return (band, n_tokens, new_types, cum_tokens, cum_types,
    *         ttr_micro) */
  def heapsCard(df: DataFrame, idCol: String, textCol: String,
                bandWidth: Long, scale: Long = 1000000L): DataFrame = {
    require(bandWidth >= 1L, s"bandWidth must be positive, got $bandWidth")
    require(scale >= 1L, s"scale must be positive, got $scale")
    val toks = df
      .select(expr(s"$idCol DIV ${bandWidth}L").as("__band"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col("__band"), explode(col("__tk")).as("__w"))
      .select(col("__band"), Dedup.baseHash60(col("__w")).as("__wh"))
      .localCheckpoint() // consumed by both the occurrence and
                         // first-band aggregations — one scan, not two
    val occ = toks.groupBy(col("__band"))
      .agg(count(lit(1)).as("n_tokens"))
    val firsts = toks.groupBy(col("__wh"))
      .agg(min(col("__band")).as("__band"))
      .groupBy(col("__band"))
      .agg(count(lit(1)).as("new_types"))
    val bands = occ.join(firsts, Seq("__band"), "left")
      .select(col("__band"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .localCheckpoint()
    val hi = bands.agg(max(col("__band")).as("__hi"))
    val cums = bands.crossJoin(broadcast(hi))
      .select(explode(sequence(col("__band"), col("__hi"))).as("band"),
        col("n_tokens"), col("new_types"))
      .groupBy(col("band"))
      .agg(sum(col("n_tokens")).as("cum_tokens"),
        sum(col("new_types")).as("cum_types"))
    bands.select(col("__band").as("band"), col("n_tokens"),
        col("new_types"))
      .join(cums, Seq("band"))
      .withColumn("ttr_micro",
        expr(s"(${scale}L * cum_types) div cum_tokens"))
  }
}
