package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.IO

/** Tokenizer-training primitives for a training-data pipeline: corpus
  * vocabulary extraction and byte-pair-encoding (BPE) merge training —
  * the counting passes a tokenizer build runs over the full corpus before
  * any model training starts.
  *
  * Scale shape (the reason each operator survives 100 TB):
  *   - [[vocabulary]] is the canonical word-count: map-side partial
  *     aggregation collapses each input split to its distinct words before
  *     the exchange, so the shuffle carries O(|vocab| × partitions) rows,
  *     not O(corpus tokens). The top-N is a TakeOrdered (per-partition
  *     heap + driver merge of N-row heads), never a global sort.
  *   - [[bpePairCounts]] and [[bpeTrainMerges]] run on the VOCABULARY
  *     (word, count) table, not the corpus: by Zipf's law the distinct-word
  *     table is orders of magnitude smaller than the token stream, and
  *     every BPE statistic is a weighted sum over it. One corpus-scale
  *     aggregation builds the vocab; all merge rounds after that touch
  *     only vocab-scale data — this is how the public fast BPE trainers
  *     (subword-nmt, HuggingFace tokenizers) are structured, re-expressed
  *     as Spark aggregations.
  *   - [[bpeTrainMerges]]' per-round driver traffic is ONE row (the argmax
  *     pair) — the same "tiny convergence signal to the driver" posture as
  *     [[Cluster]]'s star contraction; the vocab symbol arrays live in a
  *     per-round `localCheckpoint` to keep the iterative plan's lineage
  *     flat (see SCALING.md, "Materialization & failure-recovery policy").
  */
object Tokenize {

  /** Corpus vocabulary: per word, the total occurrence count and the
    * document frequency, top `topN` under a deterministic total order
    * (count desc, word asc).
    *
    * Two aggregations: (word, doc_id) → in-doc count first (this is the
    * per-document distinct step that makes `doc_freq` a plain count), then
    * word → (Σ in-doc count, row count). Both are map-side combined; the
    * second shuffles the already-collapsed (word, doc) frame.
    */
  def vocabulary(spark: SparkSession, sfDir: String, topN: Int = 1000): DataFrame =
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word", "doc_id")
      .agg(count(lit(1)).as("in_doc"))
      .groupBy("word")
      .agg(sum("in_doc").as("cnt"), count(lit(1)).as("doc_freq"))
      .orderBy(desc("cnt"), asc("word"))
      .limit(topN)

  /** The (word, count) frame BPE training runs on: corpus word counts with
    * words split into initial character symbols.
    */
  private def weightedSymbolVocab(spark: SparkSession, sfDir: String): DataFrame =
    IO.table(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("wcnt"))
      // split on the empty pattern yields the character array plus one
      // trailing "" (Spark splits with limit -1, keeping trailing empties)
      .select(col("wcnt"), array_remove(split(col("word"), ""), "").as("syms"))

  /** Adjacent-symbol pair counts over `syms` weighted by `wcnt` — the
    * statistic one BPE merge round ranks. Top `topN` under (count desc,
    * pair asc).
    */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(col("wcnt"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
             i -> struct(element_at(syms, i) AS lhs,
                         element_at(syms, i + 1) AS rhs))""")).as("p"))
      // lhs/rhs, not left/right: LEFT and RIGHT are reserved words in ANSI
      // engines the oracle runs on
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("wcnt").as("cnt"))

  /** Round-0 BPE statistics: adjacent CHARACTER pair counts over the
    * corpus vocabulary, weighted by word frequency — the ranking the first
    * merge decision reads, registered as the oracle-checkable face of the
    * BPE trainer (later rounds depend on the argmax and are covered by
    * [[bpeTrainMerges]]' spec).
    */
  def bpePairCounts(spark: SparkSession, sfDir: String, topN: Int = 200): DataFrame =
    pairCounts(weightedSymbolVocab(spark, sfDir))
      .orderBy(desc("cnt"), asc("lhs"), asc("rhs"))
      .limit(topN)

  /** BPE merge training: `numMerges` rounds of (count adjacent pairs →
    * pick the most frequent → fuse it throughout the vocabulary), the
    * classic algorithm from Sennrich et al., "Neural Machine Translation
    * of Rare Words with Subword Units" (ACL 2016), run as Spark
    * aggregations over the weighted vocab. Returns the merge table
    * (rank, left, right, merged, cnt) — the artifact a tokenizer ships.
    *
    * Ties rank (cnt desc, left asc, right asc), so the merge sequence is
    * deterministic and replayable. Merges apply greedily left-to-right
    * within each word (non-overlapping: "aaaa" under (a,a) → "aa","aa"),
    * expressed as a codegen'd `aggregate` fold over the symbol array —
    * no UDF. Symbols are compared as strings, so a merged token is
    * indistinguishable from a pre-existing identical spelling — the same
    * simplification every string-keyed public BPE implementation makes.
    */
  def bpeTrainMerges(
      spark: SparkSession,
      sfDir: String,
      numMerges: Int = 8): DataFrame =
    // vocab-bounded loop: pin exchange width (the LinkGraph/Cluster
    // treatment) so each per-round checkpoint/count pass doesn't pay the
    // session's wide-start AQE posture over a Zipf-small frame; the
    // document row count (parquet footer, no job) upper-bounds the vocab
    LoopWidth.pinned(spark,
      IO.parquetRowCount(spark, s"$sfDir/documents.parquet")) { Materialize.loop {
    // LAZY checkpoint (see Materialize.lazily): each round's pairCounts
    // collect is the single consumer before the cache fills
    var vocab = Materialize.lazily(weightedSymbolVocab(spark, sfDir), freshStats = false)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = pairCounts(vocab)
        .orderBy(desc("cnt"), asc("lhs"), asc("rhs"))
        .limit(1)
        .collect() // exactly one row per round — the argmax decision
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round + 1, l, r, l + r, c))
        vocab = Materialize.lazily(
          vocab.select(col("wcnt"), fuseFold(col("syms"), l, r).as("syms")), freshStats = false)
        round += 1
      }
    }
    import spark.implicits._
    merges.result()
      .toDF("rank", "lhs", "rhs", "merged", "cnt")
      .orderBy("rank")
  }}

  /** Greedy non-overlapping left-to-right fusion of (l, r) over a symbol
    * array: fold the array, replacing a trailing `l` with `l+r` when `r`
    * arrives ("aaaa" under (a,a) → "aa","aa"). Column-API literals (not
    * SQL-string splicing), so symbols from data can never break out of
    * the expression. Shared by the sequential trainer, the batched
    * trainer, and the segmenter.
    */
  private def fuseFold(syms: org.apache.spark.sql.Column, l: String, r: String) =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(s))))

  /** [[bpeTrainMerges]] with BATCHED rounds — the production-vocab scale
    * shape. The sequential trainer is one Spark job per merge: correct,
    * but a 32k-merge production vocabulary serializes 32k driver rounds.
    * This variant takes several merges from one count pass and is
    * EXACTLY merge-for-merge equal to the sequential trainer (pinned by
    * the fixture spec AND a 40-corpus random property test). Two rules
    * buy the exactness:
    *
    * 1. RANKED PREFIX, stop at the first conflict: accept candidates in
    *    rank order until one shares a symbol with an earlier accepted
    *    pair's {lhs, rhs, merged}. Disjointness keeps every accepted
    *    pair's count INVARIANT under the merges before it, and any pair
    *    a batch merge CREATES — (x,m) or (m,y) for merge (l,r)→m — is
    *    count-bounded by a pre-batch parent ((x,l) resp. (r,y)) that
    *    conflicts by construction. A created pair with count STRICTLY
    *    above a later accepted pair p_j implies a conflicting parent
    *    ranked above p_j, where the scan would have stopped first.
    *
    * 2. TIE TRUNCATION, the subtle half (a property test falsified the
    *    prefix rule alone): a created pair can TIE an accepted pair's
    *    count and win the lexicographic tie-break — its parent may sit
    *    below p_j at the same count (e.g. merge (a,c)→ac creates
    *    (ac,c): parent (c,c) sorts after (b,da) at equal count, but the
    *    created (ac,c) sorts before it). Every conflicting pair — every
    *    possible parent — ranks at or below the candidate where the
    *    scan stopped, so created counts never exceed that stop
    *    candidate's count: dropping accepted pairs whose count EQUALS
    *    the first unaccepted candidate's count (whatever ended the
    *    batch: conflict, window end, batch or merge cap) leaves only
    *    pairs strictly above every possible created count. If the
    *    truncation empties the batch, fall back to the top-1 candidate
    *    — a plain sequential step, exact by definition. (A scan that
    *    exhausts ALL candidates conflict-free needs no truncation: a
    *    created pair requires a conflicting parent among the
    *    candidates, and there is none.)
    *
    * Batch width adapts to the corpus: early character-level rounds on
    * Zipf text conflict quickly (letters like 'e'/'r' recur across top
    * pairs) and yield short batches; later long-token rounds thin out
    * and fill `maxBatch`. Driver rounds shrink toward
    * `numMerges / maxBatch`; each round still collects only a bounded
    * candidate window, a model artifact like the codebooks. See
    * SCALING.md "BPE trainer at production vocab".
    */
  def bpeTrainMergesBatched(
      spark: SparkSession,
      sfDir: String,
      numMerges: Int = 8,
      maxBatch: Int = 4): DataFrame =
    bpeTrainMergesBatchedWithRounds(spark, sfDir, numMerges, maxBatch)._1

  /** [[bpeTrainMergesBatched]] plus the count-pass (round) total — test
    * seam for the "fewer driver rounds" claim.
    */
  private[graft] def bpeTrainMergesBatchedWithRounds(
      spark: SparkSession,
      sfDir: String,
      numMerges: Int,
      maxBatch: Int): (DataFrame, Int) =
    // same width pinning as the sequential trainer: vocab-bounded rounds
    // must not schedule at the session's wide-start width
    LoopWidth.pinned(spark,
      IO.parquetRowCount(spark, s"$sfDir/documents.parquet")) { Materialize.loop {
    // LAZY checkpoint (see Materialize.lazily): each round's pairCounts
    // collect is the single consumer before the cache fills
    var vocab = Materialize.lazily(weightedSymbolVocab(spark, sfDir), freshStats = false)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    var done = 0
    var rounds = 0
    var exhausted = false
    while (done < numMerges && !exhausted) {
      // candidate window: the prefix rule needs at most maxBatch rows
      // plus one to observe the conflict that ends the batch; a short
      // window only shortens a batch (extra round), never correctness
      val top = pairCounts(vocab)
        .orderBy(desc("cnt"), asc("lhs"), asc("rhs"))
        .limit(maxBatch + 1)
        .collect()
      rounds += 1
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = Seq.newBuilder[(String, String, Long)]
        var taken = 0
        var stopped = false
        // count of the FIRST candidate the scan did not accept — whatever
        // ended the batch (conflict, batch cap, merge cap, or the +1
        // window row). None iff the scan exhausted every candidate of a
        // window the limit did not cut, i.e. all pairs were accepted.
        var stopCount: Option[Long] = None
        top.iterator.foreach { row =>
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          if (!stopped && taken < maxBatch && done + taken < numMerges) {
            if (!used(l) && !used(r) && !used(l + r)) {
              accepted += ((l, r, c))
              used ++= Seq(l, r, l + r)
              taken += 1
            } else { // prefix rule: first conflict ends the batch
              stopped = true
              stopCount = Some(c)
            }
          } else if (stopCount.isEmpty) stopCount = Some(c)
        }
        val raw = accepted.result()
        // tie truncation (doc rule 2): created-pair counts are bounded by
        // the stop candidate's count, so only accepted pairs STRICTLY
        // above it are safe from a created pair winning a tie-break
        val batch = stopCount match {
          case None => raw
          case Some(sc) =>
            val kept = raw.filter(_._3 > sc)
            if (kept.nonEmpty) kept else raw.take(1) // plain sequential step
        }
        if (batch.isEmpty) exhausted = true
        else {
          batch.foreach { case (l, r, c) =>
            done += 1
            merges += ((done, l, r, l + r, c))
          }
          // one vocab pass applies the whole batch, fused in rank order
          // (disjointness makes the order irrelevant; rank order keeps it
          // textually identical to the sequential fold chain)
          val fusedAll = batch.foldLeft(col("syms")) {
            case (acc, (l, r, _)) => fuseFold(acc, l, r)
          }
          vocab = Materialize.lazily(
            vocab.select(col("wcnt"), fusedAll.as("syms")), freshStats = false)
        }
      }
    }
    import spark.implicits._
    (merges.result()
      .toDF("rank", "lhs", "rhs", "merged", "cnt")
      .orderBy("rank"), rounds)
  }}

  /** Apply a trained merge table to text: segment each document's words
    * into the tokenizer's subword units and report the resulting token
    * count next to the whitespace count — the compression-ratio check a
    * tokenizer build ends with. The merge list arrives as an ordered local
    * Seq (tokenizer vocabularies are KBs — driver-local by design, like
    * any model artifact shipped to executors via closure/broadcast).
    */
  def bpeSegmentCounts(
      spark: SparkSession,
      sfDir: String,
      merges: Seq[(String, String)]): DataFrame = {
    // Token-count path (r19): the SENTINEL REPLACE CHAIN — each merged
    // pair collapses to one control character, so remaining string
    // length IS the greedy token count. This is the construction the
    // DuckDB oracle has replayed for this row all along (and the one
    // fertilityBySource ships); the per-word char-array fold it
    // replaces re-built O(len) arrays per element (O(len²) copies per
    // word × merges — measured 14.1 s at sf0.1, the most expensive
    // bench row). Chain == fold in the guarded regime below
    // (single-character merge components never spanning an earlier
    // merged symbol — sentinels make consumed characters invisible to
    // later patterns exactly like the fold's fused array cells);
    // Round19OptSpec pins the equivalence per-doc against the fold on
    // adversarial corpora, and the general fold stays as the fallback
    // for merge tables outside the regime.
    val chainSafe = {
      val merged = scala.collection.mutable.Set.empty[String]
      merges.nonEmpty && merges.size <= 30 && merges.forall { case (l, r) =>
        val ok = l.length == 1 && r.length == 1 &&
          (l + r).forall(Character.isLetterOrDigit) &&
          !merged(l) && !merged(r)
        merged += (l + r)
        ok
      }
    }
    if (chainSafe) {
      val chainSql = merges.zipWithIndex.foldLeft("w") {
        case (acc, ((l, r), i)) => s"replace($acc, '$l$r', char(${i + 1}))"
      }
      IO.widened(IO.table(spark, sfDir, "documents").select("doc_id", "text"))
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
          expr(s"aggregate(transform(split(text, ' '), w -> length($chainSql))," +
            " 0L, (a, x) -> a + x)").as("n_bpe_tokens"))
        .orderBy("doc_id")
    } else {
      // merges apply WITHIN each word (BPE never fuses across a word
      // boundary), so the fold runs inside the per-word transform
      val segmented = transform(col("words"), w =>
        merges.foldLeft(array_remove(split(w, ""), "")) {
          case (acc, (l, r)) => fuseFold(acc, l, r)
        })
      IO.widened(IO.table(spark, sfDir, "documents").select("doc_id", "text"))
        .withColumn("words", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("words")).cast("long").as("n_ws_tokens"),
          size(flatten(segmented)).cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }
  }

  /** The per-word char-array FOLD segmentation count — the reference
    * semantics [[bpeSegmentCounts]]' chain path must match; exposed for
    * the chain-vs-fold equivalence spec.
    */
  private[graft] def bpeSegmentCountsFold(
      docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val segmented = transform(col("words"), w =>
      merges.foldLeft(array_remove(split(w, ""), "")) {
        case (acc, (l, r)) => fuseFold(acc, l, r)
      })
    docs
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_ws_tokens"),
        size(flatten(segmented)).cast("long").as("n_bpe_tokens"))
  }

  /** The chain path of [[bpeSegmentCounts]] over an explicit frame —
    * the other half of the equivalence spec seam.
    */
  private[graft] def bpeSegmentCountsChain(
      docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val chainSql = merges.zipWithIndex.foldLeft("w") {
      case (acc, ((l, r), i)) => s"replace($acc, '$l$r', char(${i + 1}))"
    }
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      expr(s"aggregate(transform(split(text, ' '), w -> length($chainSql))," +
        " 0L, (a, x) -> a + x)").as("n_bpe_tokens"))
  }

  /** TOKENIZER FERTILITY report per source — the eval row that decides
    * whether a vocabulary is economical on a corpus slice: BPE tokens
    * per whitespace word (fertility) and characters per BPE token, from
    * the same greedy segmentation [[bpeSegmentCounts]] oracles. A
    * source whose fertility runs hot pays more sequence length for the
    * same text — the number a tokenizer-budget review reads first.
    *
    * Scale shape: the segmentation is the map-side fold it always is;
    * one source-keyed aggregation with map-side partials; |sources|
    * output rows. Counts exact, the two ratios exact-operand divides.
    */
  def fertilityBySource(
      spark: SparkSession,
      sfDir: String,
      merges: Seq[(String, String)]): DataFrame = {
    // token counts via the SENTINEL REPLACE CHAIN (each merged pair
    // collapses to one control character, so remaining string length IS
    // the greedy token count) — the same construction the segment
    // oracle uses, and ~7x cheaper than the per-word char-array fold
    // bpeSegmentCounts runs (one string pass per merge, no arrays).
    // Equivalence of chain and fold is not assumed: the oracled
    // txt_bpe_segment row cross-checks them corpus-wide, and this
    // operator's spec re-asserts the per-doc totals match.
    val chainSql = merges.zipWithIndex.foldLeft("w") {
      case (acc, ((l, r), i)) => s"replace($acc, '$l$r', char(${i + 1}))"
    }
    IO.widened(IO.table(spark, sfDir, "documents")
        .select("source", "n_chars", "text"))
      .select(col("source"), col("n_chars").cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        expr(s"aggregate(transform(split(text, ' '), w -> length($chainSql))," +
          " 0L, (a, x) -> a + x)").as("n_bpe_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum("n_ws_tokens").as("ws_tokens"),
        sum("n_bpe_tokens").as("bpe_tokens"),
        sum("n_chars").as("chars"))
      .select(col("source"), col("docs"), col("ws_tokens"),
        col("bpe_tokens"),
        // EMITTED-DOUBLE CONVENTION (SCALING.md): final ratios cut to
        // FLOAT — see Events.btRatings.
        (col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
          .cast("float").as("fertility"),
        (col("chars").cast("double") / col("bpe_tokens").cast("double"))
          .cast("float").as("chars_per_token"))
      .orderBy("source")
  }
}
