package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashFamily
import graft.sources.IO

/** Deduplication operators for a large-scale training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Scale design (the whole point of these):
  *   - exact dedup is a hash shuffle on the dedup key — never a global sort,
  *     never a driver collect;
  *   - near-dup goes through MinHash/SimHash BUCKETING so the join is
  *     per-bucket, not all-pairs: candidate generation is
  *     O(docs × bands), and only hash-colliding pairs are verified. An
  *     all-pairs similarity join at 100 TB is ~10^21 comparisons — the
  *     banding is what makes the problem tractable, and the band count is
  *     the recall/cost dial (8 bands × 4 rows ⇒ collision prob.
  *     1-(1-j^4)^8, ≈0.97 at j=0.8, ≈0.06 at j=0.3);
  *   - every near-dup builder takes a [[graft.functions.HashFamily]] for
  *     its feature and band-key hashes (codegen'd Catalyst expressions, no
  *     UDFs): `Xx` (xxhash64) is the production cost, `Md5` (a 60-bit md5
  *     prefix) is what the DuckDB oracle replays, so one pipeline is
  *     hash-compared end to end under Md5 and runs unchanged under Xx.
  */
object Dedup {

  /** Row-count crossover for materializing a multi-consumed intermediate
    * whose recompute is CHEAP per row (simhash's single fold over token
    * hashes, the embedding-LSH fused dot products).
    *
    * Below it, an eager localCheckpoint costs MORE than recomputing: the
    * checkpoint is its own job plus a block-store write and a read per
    * consumer, all fixed overhead that dwarfs one extra codegen'd
    * signature pass over a small input. Above it, recomputation is the
    * dominant cost (each consumer would re-run the full pipeline over the
    * corpus) and the checkpoint wins — the round-3 bench showed 4×
    * signature recomputation without it. The threshold is a local-mode
    * heuristic crossover, deliberately conservative: at 100 TB every input
    * is far above it, so the scale path always materializes (see
    * SCALING.md "Materialization & failure-recovery policy"). Operators
    * with EXPENSIVE per-row recompute (minhash's shingle+permutation
    * pipeline) skip the gate and always materialize — measured slower to
    * recompute than to checkpoint even at 5k documents.
    */
  private[graft] val MaterializeThresholdRows = 200000L

  /** Eager localCheckpoint when `rows` is at or above
    * [[MaterializeThresholdRows]]; the live lineage otherwise.
    */
  private[operators] def materializeIfLarge(df: DataFrame, rows: Long): DataFrame =
    if (rows >= MaterializeThresholdRows) df.localCheckpoint() else df

  /** Exact dedup, window form: keep the lowest-doc_id row per identical
    * text. The window key is a 192-bit composite fingerprint
    * (xxhash64 + md5) of the text, NOT the text itself: the shuffle then
    * moves ~24 bytes of key per row instead of the full document (at 100 TB
    * the text column IS the data), and Catalyst prunes `text` from the
    * exchange entirely since nothing downstream reads it. Two independent
    * hashes stand in for an equality verify — a false merge needs a
    * simultaneous 64-bit AND 128-bit collision (P < 2^-120); a pipeline
    * that cannot tolerate that keys the window by the text column directly.
    */
  def exactByText(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("fp_xx", "fp_md5").orderBy("doc_id")
    IO.table(spark, sfDir, "documents")
      .withColumn("fp_xx", xxhash64(col("text")))
      .withColumn("fp_md5", md5(col("text").cast("binary")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Exact dedup over the NORMALIZED canonical form
    * ([[graft.functions.TextAnalysis.normalizeText]]) — the published
    * "fuzzy exact" criterion: two documents differing only in case,
    * punctuation, or whitespace layout are the same document. Same
    * fingerprint-keyed shape as [[exactByText]] (the 192-bit digest pair
    * of the CANONICAL text keys the shuffle, raw text pruned before the
    * exchange), so the only added cost is the map-side regex chain.
    */
  def exactByNormalizedText(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("nfp_xx", "nfp_md5").orderBy("doc_id")
    val norm = graft.functions.TextAnalysis.normalizeText(col("text"))
    IO.table(spark, sfDir, "documents")
      .withColumn("nfp_xx", xxhash64(norm))
      .withColumn("nfp_md5", md5(norm.cast("binary")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Exact dedup, fingerprint form: group by content hash. At scale this is
    * the cheaper shape (the 16-byte digest shuffles instead of the full
    * text) and it reports duplicate multiplicity.
    */
  def exactByHash(spark: SparkSession, sfDir: String): DataFrame =
    IO.table(spark, sfDir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
      .orderBy("fp")

  /** Word 3-shingles of a text column as the minhash feature column
    * `feats`. Documents shorter than the shingle width fall back to a
    * single whole-text shingle.
    */
  private def shingleFeats(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    // widen-if-narrow: shingling + the downstream minhash fold are the
    // dominant map cost and the single-row-group testdata scan would
    // run them in ONE task (IO.widened — no-op at production widths)
    IO.widened(docs)
      .withColumn("toks", toks)
      .withColumn("feats",
        when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
          .otherwise(array(col("text"))))
  }

  /** Per-document minhash signatures of a `feats` frame — SHUFFLE-FREE
    * (plan-audited): each feature is hashed once and the native
    * minhash_sig expression folds all numPerms affine-permutation minima
    * in a single per-row pass (see [[graft.functions.MinHashSigExpr]]);
    * no explode, no per-(doc, feature) exchange. Only the small
    * (doc_id, band-key) rows derived downstream ever cross the wire.
    */
  private def minHashSigs(withFeats: DataFrame, family: HashFamily, numPerms: Int): DataFrame =
    withFeats.select(col("doc_id"),
      call_function("minhash_sig",
        transform(col("feats"), f => family.feature(f)), lit(numPerms)).as("sig"))

  /** [[minHashSigs]] over the 3-shingles of the documents table. */
  def minHashSignatures(
      spark: SparkSession,
      sfDir: String,
      family: HashFamily,
      numPerms: Int = 32): DataFrame =
    minHashSigs(shingleFeats(IO.table(spark, sfDir, "documents")), family, numPerms)

  /** Per-document simhash signatures — SHUFFLE-FREE (plan-audited); see
    * [[graft.functions.SimHash64Expr]]. Under Md5 bits 60-63 of every
    * token hash are zero, so those signature bits are zero in both
    * engines (majority over all-zero).
    */
  def simHashSignatures(docs: DataFrame, family: HashFamily): DataFrame =
    // widen-if-narrow: the per-token signature fold is the family's
    // dominant map cost and the single-row-group testdata scan would run
    // it in ONE task (IO.widened — no-op at production scan widths)
    IO.widened(docs.select("doc_id", "text"))
      .select(col("doc_id"),
        call_function("simhash64",
          transform(array_distinct(split(col("text"), " ")), t => family.feature(t)))
          .as("simhash"))

  /** The (doc_id, band_key) banding of a `feats` frame: minhash
    * signatures, then `bands` bands of `numPerms/bands` rows, each
    * hashed into ONE long key ([[graft.functions.HashFamily.bandKey]])
    * with the band index hashed in, so rows from different bands cannot
    * equi-join short of a 64-bit collision — the same risk class the
    * banding already accepts. A separate (pos, band) pair would shuffle
    * 12 bytes of key where 8 suffice; at 100 TB the banded frame is the
    * highest-volume intermediate and its key width is the exchange cost.
    */
  private def minHashBands(
      withFeats: DataFrame,
      family: HashFamily,
      numPerms: Int,
      bands: Int): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val rows = numPerms / bands
    val bandKeys = array((0 until bands).map { b =>
      family.bandKey(b, (b * rows until (b + 1) * rows)
        .map(j => element_at(col("sig"), j + 1)))
    }: _*)
    minHashSigs(withFeats, family, numPerms)
      .select(col("doc_id"), explode(bandKeys).as("band_key"))
  }

  /** The (doc_id, band_key) shingle banding of a documents frame,
    * pre-checkpoint: [[minHashNearDupPairs]]' head, the incremental
    * rows' corpus and batch sides, and the PlanAuditSpec seam for the
    * candidate join's exchange keys (the checkpoint in the public path
    * hides the join plan from the returned frame).
    */
  private[graft] def minHashBanded(
      docs: DataFrame,
      family: HashFamily,
      numPerms: Int = 32,
      bands: Int = 8): DataFrame =
    minHashBands(shingleFeats(docs), family, numPerms, bands)

  /** Md5-minhash banding over DISTINCT WORD TOKENS instead of shingles —
    * the feature choice for the decontamination gate, where the verify
    * metric is token-set Jaccard and the candidate generator must fire
    * with the same probability structure (shingle-minhash bands catch
    * verbatim passage reuse; unigram-set bands catch reordered /
    * paraphrase-shaped overlap, which IS the decontam threat model).
    */
  private[graft] def minHashBandedTokensMd5From(
      docs: DataFrame,
      numPerms: Int = 32,
      bands: Int = 8): DataFrame =
    minHashBands(
      IO.widened(docs)
        .withColumn("feats", array_distinct(split(col("text"), " "))),
      HashFamily.Md5, numPerms, bands)

  /** MinHash+LSH near-duplicate pairs.
    *
    * Pipeline: shingle → `numPerms` min-hashes → group the signature into
    * `bands` bands of `numPerms/bands` rows → explode to one 64-bit band
    * key per band (band index hashed in) → self-join per band bucket →
    * exact token-set Jaccard on the candidates only → threshold. Under
    * [[graft.functions.HashFamily.Md5]] every hash is reproducible in
    * DuckDB SQL (the affine permutation mixing is replayed there in
    * HUGEINT mod-2^64 arithmetic), so the whole pipeline is
    * hash-compared (`dedup_minhash_md5`); `dedup_minhash_pairs` runs it
    * under Xx.
    *
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  def minHashNearDupPairs(
      spark: SparkSession,
      sfDir: String,
      family: HashFamily,
      numPerms: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5): DataFrame = {
    // UNCONDITIONAL localCheckpoint (eager), unlike the size-adaptive gate
    // simhash/embedding-LSH use: the materialization crossover depends on
    // recompute cost per row, and minhash signatures are the expensive
    // ones — shingling, a hash per shingle, and the numPerms-permutation
    // fold dominate the block-store round-trip at ANY corpus size
    // (measured: skipping the checkpoint at 5k docs made the whole query
    // ~1.7x slower by re-deriving the signature pipeline ~4x — the banded
    // frame feeds both join sides and the candidate set feeds three
    // consumers). Unlike persist(), checkpointed blocks are released by
    // the ContextCleaner as soon as the returned frame is dereferenced, so
    // a long-lived session running many such queries does not accumulate
    // cached frames (the r3 bench regression). On a real cluster the
    // blocks are not fault-tolerant to executor loss — a production
    // pipeline that needs recovery would persist to reliable storage
    // instead (SCALING.md).
    val docs = minHashBanded(IO.table(spark, sfDir, "documents"), family, numPerms, bands)
      .localCheckpoint()
    verifyTokenJaccard(spark, sfDir, bandedCandidates(docs), minJaccard)
  }

  /** Per-bucket self-join of a (doc_id, band_key) banded frame: only docs
    * agreeing on a whole band collide. Checkpointed — the candidate set
    * feeds three consumers in the verify stage.
    */
  private def bandedCandidates(docs: DataFrame): DataFrame =
    docs.as("a")
      .join(docs.as("b"),
        col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint()

  /** Distinct token set as 8-byte xxhash64 values — the verify-stage
    * representation of a document. Hashing before the per-pair intersect
    * cuts the hot loop ~1.7× (measured at sf0.1: the intersect hashes
    * every element per candidate pair, and hashing longs beats hashing
    * ~40-80-byte strings), the same bytes-on-the-wire rationale as the
    * gram-hash convention. A collision can only merge two DISTINCT
    * vocabulary entries corpus-wide — probability ~V²/2⁶⁵ (~1e-10 at the
    * oracle gate's vocabulary, ~1e-2 at a web-scale 10⁹ vocab where it
    * perturbs single counts), and the oracles replaying raw-string sets
    * staying hash-green bounds observed collisions at test scale to
    * zero.
    */
  private[graft] def hashedTokenSet(text: Column): Column =
    // sorted ascending so the verify loops can run the allocation-free
    // two-pointer sorted_intersect_count instead of array_intersect's
    // per-pair hash set; the n·log n sort runs ONCE per document,
    // amortized over every candidate pair the document appears in
    array_sort(array_distinct(transform(split(text, " "), t => xxhash64(t))))

  /** Exact token-set Jaccard verification of candidate (doc_a, doc_b)
    * pairs. Prune BEFORE tokenizing: semi-join documents against the
    * (tiny, broadcastable) candidate id set first, so the second pass
    * tokenizes only candidate docs instead of re-tokenizing the whole
    * corpus. Intersection and union sizes are integers, so the jaccard
    * double is exact and engine-independent; token sets cross the verify
    * as [[hashedTokenSet]] hashes.
    */
  private def verifyTokenJaccard(
      spark: SparkSession,
      sfDir: String,
      cand: DataFrame,
      minJaccard: Double): DataFrame = {
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
    val tokSets = IO.table(spark, sfDir, "documents")
      .join(broadcast(candIds), "doc_id")
      .select(col("doc_id"),
        hashedTokenSet(col("text")).as("tokset"))
    cand
      .join(tokSets.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("tokset", "tok_a"), "doc_a")
      .join(tokSets.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("tokset", "tok_b"), "doc_b")
      // |union| = |a| + |b| - |inter| on distinct arrays; the intersect
      // is the codegen'd two-pointer merge over the pre-sorted sets —
      // no per-pair hash set, no materialized array. Identical exact
      // integers, identical doubles.
      .withColumn("inter",
        call_function("sorted_intersect_count",
          col("tok_a"), col("tok_b")).cast("double"))
      .withColumn("jaccard",
        col("inter")
          / (size(col("tok_a")) + size(col("tok_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Declared schemas of the persisted dedup artifacts — the nullability
    * every stored serve re-stamps through [[IO.servedArtifact]] (all
    * columns non-null by construction: ids and hashes from non-null
    * expressions, arrays built whole).
    */
  private[graft] val MinHashBandSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("band_key", LongType, nullable = false)))
  }

  private[graft] val JaccardToksSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("toks", ArrayType(LongType, containsNull = false), nullable = false)))
  }

  private[graft] val JaccardPrefixSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("s", IntegerType, nullable = false),
      StructField("p", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false)))
  }

  private[graft] def winnowIndexSchema(idCol: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
  }

  private[graft] val WinnowKeepSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("fp", LongType, nullable = false),
      StructField("corpus_id", LongType, nullable = false)))
  }

  /** Incremental MINHASH dedup verdicts (the token-set member of the
    * incremental family beside [[incrementalExact]] and
    * [[incrementalNearDupMd5]]): every batch doc (doc_id % 10 == 0 —
    * the same synthetic carve as the other incremental rows) is banded
    * against the corpus-side index, band collisions are exact-Jaccard
    * verified, and the verdict row carries the best corpus match
    * (jaccard desc, corpus_id asc — deterministic) or a null-padded
    * admit.
    *
    * Scale shape mirrors [[incrementalNearDupFrames]]: the corpus band
    * index is the persisted artifact, the banded batch BROADCASTS to it
    * (no corpus byte crosses the wire for candidate generation), and the
    * Jaccard verify joins text only for the candidate id set.
    */
  def incrementalMinHashMd5(
      spark: SparkSession,
      sfDir: String,
      numPerms: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5): DataFrame = {
    val banded = minHashBanded(IO.table(spark, sfDir, "documents"), HashFamily.Md5,
      numPerms, bands).localCheckpoint()
    incrementalMinHashFrames(spark, sfDir,
      banded.filter(col("doc_id") % 10 === 0),
      banded.filter(col("doc_id") % 10 =!= 0),
      minJaccard)
  }

  /** The persisted corpus-side band index — the artifact
    * [[incrementalMinHashMd5Stored]] consumes (a scheme-version token
    * guards hash-function changes). In production this is the bucketed
    * index table maintained across batches (appended per admitted batch,
    * never rebuilt); the md5-per-shingle signature pass — the dominant
    * cost of every incremental call — runs only at priming.
    */
  private[graft] def minHashIndex(sfDir: String, numPerms: Int = 32, bands: Int = 8): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "mhidx",
      s"mhidx_v1|$sfDir|$numPerms|$bands", Seq("" -> MinHashBandSchema), ".parquet")

  /** [[incrementalMinHashMd5]] consuming the PERSISTED corpus band index
    * (self-priming on first use, like the stored bloom sketch): repeat
    * invocations band only the BATCH — the corpus-side signature pass,
    * ~90% of the on-the-fly cost, is replaced by a scan of the (doc_id,
    * band_key) artifact. Result is row-identical by construction (the
    * artifact IS the corpus banding), so the registered row keeps the
    * same oracle.
    */
  def incrementalMinHashMd5Stored(
      spark: SparkSession,
      sfDir: String,
      numPerms: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5): DataFrame = {
    incrementalMinHashFrames(spark, sfDir,
      minHashBanded(
        IO.table(spark, sfDir, "documents").filter(col("doc_id") % 10 === 0),
        HashFamily.Md5, numPerms, bands),
      IO.servedArtifact(spark, minHashIndex(sfDir, numPerms, bands)) { root =>
        minHashBanded(
          IO.table(spark, sfDir, "documents").filter(col("doc_id") % 10 =!= 0),
          HashFamily.Md5, numPerms, bands)
          .write.mode("overwrite").parquet(root)
      }.head,
      minJaccard)
  }

  /** Verdict core over pre-banded frames (the production entry for a
    * caller with its own persisted index).
    */
  private[graft] def incrementalMinHashFrames(
      spark: SparkSession,
      sfDir: String,
      batchBanded: DataFrame,
      corpusBanded: DataFrame,
      minJaccard: Double): DataFrame = {
    val cand = broadcast(
      batchBanded.select(col("doc_id").as("batch_id"), col("band_key")))
      .join(corpusBanded.select(col("doc_id").as("corpus_id"), col("band_key")),
        "band_key")
      .select("batch_id", "corpus_id")
      .distinct()
    val candIds = cand.select(col("batch_id").as("doc_id"))
      .union(cand.select(col("corpus_id").as("doc_id")))
      .distinct()
    val tokSets = IO.table(spark, sfDir, "documents")
      .join(broadcast(candIds), "doc_id")
      .select(col("doc_id"), hashedTokenSet(col("text")).as("tokset"))
    val best = cand
      .join(tokSets.withColumnRenamed("doc_id", "batch_id")
        .withColumnRenamed("tokset", "tok_a"), "batch_id")
      .join(tokSets.withColumnRenamed("doc_id", "corpus_id")
        .withColumnRenamed("tokset", "tok_b"), "corpus_id")
      // two-pointer merge over pre-sorted sets: |union| = |a|+|b|-|inter|
      .withColumn("inter",
        call_function("sorted_intersect_count",
          col("tok_a"), col("tok_b")).cast("double"))
      .withColumn("jaccard",
        col("inter")
          / (size(col("tok_a")) + size(col("tok_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .withColumn("rn", row_number().over(
        Window.partitionBy("batch_id").orderBy(desc("jaccard"), asc("corpus_id"))))
      .filter(col("rn") === 1)
      .select(col("batch_id").as("doc_id"), col("corpus_id"), col("jaccard"))
    IO.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("corpus_id").isNull.as("is_new"),
        col("corpus_id").as("dup_of"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** The (doc_id, simhash, band_key) banding of a signatures frame. Band
    * position and 16-bit band value packed into ONE long join key
    * (pos << 16 | band): a single 8-byte key crosses the exchange instead
    * of an (int, long) pair — the banded frame is the widest-fanout
    * intermediate, so key width is the dominant shuffle cost at scale.
    */
  private[graft] def simHashBandedFrom(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        expr(s"${b.toLong << 16} | (shiftright(simhash, ${b * 16}) & 65535)")
      }: _*)).as("band_key"))

  /** Band self-join + exact Hamming verify over a banded signatures
    * frame, unsorted: consumers that immediately re-shuffle the pairs
    * (the clustering loop) would pay a range exchange for an ordering the
    * next stage destroys.
    */
  private[graft] def simHashPairs(banded: DataFrame, maxHamming: Int): DataFrame =
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)

  /** [[simHashNearDupPairs]] without the presentation sort (cluster
    * input).
    */
  private[graft] def simHashNearDupPairsUnsorted(
      spark: SparkSession,
      sfDir: String,
      family: HashFamily,
      maxHamming: Int = 3): DataFrame =
    // size-adaptive localCheckpoint: both sides of the band self-join read
    // the banded frame; without materialization the signature stage runs
    // twice — cheap below the threshold, the dominant cost above it (see
    // minHashNearDupPairs / SCALING.md). Gate currency is the TOKEN count
    // (r19): the threshold decides recompute-vs-checkpoint and what
    // recomputes is the per-token hash pass, not the |docs|-row banded
    // output — rowCount undersized the gate 50× right at the sf0.1 cut
    // and every clustering consumer paid the signature pass twice.
    simHashPairs(
      materializeIfLarge(
        simHashBandedFrom(simHashSignatures(IO.table(spark, sfDir, "documents"), family)),
        estWindowRows(spark, sfDir)),
      maxHamming)

  /** SimHash near-duplicate pairs.
    *
    * 64-bit SimHash over distinct word tokens (bit b set iff the majority of
    * token hashes have bit b set), bucketed on 4 × 16-bit bands (two docs
    * within Hamming distance 3 of each other must agree on at least one
    * 16-bit band — pigeonhole, so recall is exact up to distance 3; beyond
    * that the banding is best-effort), then exact Hamming verification via
    * bit_count(xor). Under Md5 the whole pipeline (majority vote, 16-bit
    * banding, Hamming verify) is hash-compared (`dedup_simhash_md5`);
    * `dedup_simhash_pairs` runs it under Xx.
    */
  def simHashNearDupPairs(
      spark: SparkSession,
      sfDir: String,
      family: HashFamily,
      maxHamming: Int = 3): DataFrame =
    simHashNearDupPairsUnsorted(spark, sfDir, family, maxHamming)
      .orderBy("doc_a", "doc_b")

  // --------------------------------------------------------------------
  // Incremental dedup: new batch vs existing corpus.
  //
  // Production pipelines never re-dedup the whole corpus when data
  // arrives; they dedup the INCOMING BATCH against it. The scale
  // asymmetry is the whole design: the corpus is ~100 TB, the batch is
  // ~GBs, so the corpus must never reshuffle on account of the batch.
  // Both operators below read a precomputable corpus-side index (content
  // fingerprints / banded signatures — in production a persisted,
  // bucketed table maintained across batches; here derived on the fly)
  // and stream it against a BROADCAST batch: zero corpus exchange,
  // plan-audited in PlanAuditSpec.
  //
  // Batch/corpus split: doc_id % 10 == 0 is "the incoming batch"
  // (deterministic, oracle-replayable; a real deployment passes its own
  // two frames via the `...Frames` overloads).
  // --------------------------------------------------------------------

  /** The (corpus, batch) split of the documents table used by the
    * registered incremental-dedup queries.
    */
  private def corpusAndBatch(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val docs = IO.table(spark, sfDir, "documents")
    (docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0))
  }

  /** Exact incremental dedup: batch docs whose content fingerprint already
    * exists in the corpus are dropped; survivors are then deduped WITHIN
    * the batch (lowest doc_id per fingerprint — the same batch can carry
    * its own duplicates). Returns the admitted docs.
    *
    * Join shape at scale: LEFT ANTI builds on its RIGHT side, so the
    * corpus fingerprint index cannot be the broadcast build no matter how
    * small the batch is — the production shape is a corpus index
    * PRE-BUCKETED on `fp` (maintained across batches), against which the
    * anti join is exchange-free on the corpus side: only the tiny batch
    * reshuffles into the corpus bucketing (plan-audited in PlanAuditSpec
    * over a bucketed index table). The sfDir form below derives the index
    * on the fly, so both sides exchange once on the 16-byte digest — the
    * minimal-width key — and never the text.
    */
  def incrementalExact(spark: SparkSession, sfDir: String): DataFrame = {
    val (corpus, batch) = corpusAndBatch(spark, sfDir)
    incrementalExactFrames(corpus, batch)
  }

  def incrementalExactFrames(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val corpusFp = corpus.select(md5(col("text").cast("binary")).as("fp"))
    val batchFp = batch.withColumn("fp", md5(col("text").cast("binary")))
    val w = Window.partitionBy("fp").orderBy("doc_id")
    // corpus.join(broadcast(batch), semi) would admit the batch rows we
    // must REJECT; the anti join needs batch on the left. AQE broadcasts
    // the small batch build side. The within-batch window then runs on
    // the (tiny) survivor set.
    batchFp.join(corpusFp, Seq("fp"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Near-dup incremental dedup over md5-prefix simhash (the oracled
    * shape).
    * Every batch doc gets a verdict row: `is_new` = no corpus doc within
    * `maxHamming`; duplicates carry their nearest corpus doc (min
    * hamming, ties to the lowest corpus doc_id — deterministic).
    *
    * Scale shape: the corpus side is the banded signature INDEX — in
    * production persisted once and appended per batch, never rebuilt —
    * and the banded batch is broadcast to it, so candidate generation
    * never moves a corpus byte across the wire (plan-audited: zero
    * shuffle on the corpus lineage).
    */
  def incrementalNearDupMd5(
      spark: SparkSession,
      sfDir: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = simHashSignatures(IO.table(spark, sfDir, "documents"), HashFamily.Md5)
    val corpusBanded = simHashBandedFrom(sigs.filter(col("doc_id") % 10 =!= 0))
    val batchBanded = simHashBandedFrom(sigs.filter(col("doc_id") % 10 === 0))
    val batchIds = sigs.filter(col("doc_id") % 10 === 0).select("doc_id")
    incrementalNearDupFrames(batchIds, batchBanded, corpusBanded, maxHamming)
  }

  /** Verdict join over pre-banded frames (test seam + production entry:
    * callers with a persisted corpus band index start here).
    */
  /** Band-collision candidates of a (small, broadcast) batch banding
    * against a corpus banding, exact-Hamming verified on the bandings'
    * stored signatures: (batch_id, corpus_id, hamming) with hamming ≤
    * `maxHamming` — the shared candidate generator of the incremental
    * near-dup verdicts and the incremental clustering.
    */
  private[operators] def bandHammingCandidates(
      batchBanded: DataFrame,
      corpusBanded: DataFrame,
      maxHamming: Int): DataFrame =
    broadcast(
      batchBanded.select(col("doc_id").as("batch_id"),
        col("simhash").as("batch_sig"), col("band_key")))
      .join(corpusBanded.select(col("doc_id").as("corpus_id"),
        col("simhash").as("corpus_sig"), col("band_key")), "band_key")
      .select(col("batch_id"), col("corpus_id"),
        expr("bit_count(batch_sig ^ corpus_sig)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  private[graft] def incrementalNearDupFrames(
      batchIds: DataFrame,
      batchBanded: DataFrame,
      corpusBanded: DataFrame,
      maxHamming: Int): DataFrame = {
    val matches = bandHammingCandidates(batchBanded, corpusBanded, maxHamming)
    val best = matches
      .withColumn("rn", row_number().over(
        Window.partitionBy("batch_id").orderBy(col("hamming"), col("corpus_id"))))
      .filter(col("rn") === 1)
      .drop("rn")
    batchIds
      .join(best.withColumnRenamed("batch_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("corpus_id").isNull.as("is_new"),
        col("corpus_id").as("dup_of"), col("hamming").cast("int").as("hamming"))
      .orderBy("doc_id")
  }

  /** N-gram Jaccard similarity join on a bounded id range — the exact
    * (non-approximate) baseline the MinHash path is checked against. The id
    * bound keeps the all-pairs comparison explicitly scoped: this is the
    * oracle/debug shape, NOT the 100 TB shape (that's minHashNearDupPairs).
    */
  def ngramJaccardPairs(
      spark: SparkSession,
      sfDir: String,
      maxDocId: Long = 200L,
      minJaccard: Double = 0.3): DataFrame = {
    val grams = IO.table(spark, sfDir, "documents")
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"),
        array_distinct(expr(
          """transform(sequence(0, greatest(size(split(text, ' ')) - 2, 0)),
               i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)))"""))
          .as("grams"))
    // |A ∪ B| = |A| + |B| − |A ∩ B| on the already-distinct gram arrays:
    // set sizes are computed ONCE PER SIDE before the nested-loop join,
    // so each candidate pair pays one array_intersect instead of an
    // intersect AND a union (r19; the union built+hashed both arrays
    // again per pair). Same integers into the same divide — same oracle.
    val sized = grams.withColumn("n_grams", size(col("grams")))
    // The id-bounded doc set lives in ONE scan split (doc_id < maxDocId is
    // a contiguous range of row groups), so the nested-loop pair verify —
    // the row's whole cost — ran in a single task (measured: 2.9 s of the
    // 3.6 s row at sf0.1 on 32 cores). Spread the STREAMED side across one
    // wave of tasks; the broadcast side is unchanged. Explicit width, not
    // AQE: coalescing would fold a few-MB exchange straight back to one
    // partition. defaultParallelism scales with the session (local cores /
    // cluster cores), and the row count is bounded by maxDocId anyway.
    val width = math.max(spark.sparkContext.defaultParallelism, 1)
    sized.repartition(width, col("doc_id")).as("a")
      .join(sized.as("b"), col("a.doc_id") < col("b.doc_id"))
      // |∩| materialized as its own column so the divide below references
      // an attribute, not a second intersect evaluation (the langId
      // duplicated-subtree lesson — CollapseProject keeps a non-cheap
      // expression referenced twice in its own projection)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(array_intersect(col("a.grams"), col("b.grams"))).as("n_inter"),
        (col("a.n_grams") + col("b.n_grams")).as("n_sum"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double")
          / (col("n_sum") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT Jaccard-threshold similarity join over the FULL corpus via
    * PREFIX FILTERING (Chaudhuri et al. ICDE 2006; Bayardo et al.
    * "Scaling Up All Pairs Similarity Search", WWW 2007) — the
    * guaranteed-complete member of the near-dup family, over the same
    * bigram-shingle sets as [[ngramJaccardPairs]]. That baseline is
    * honest about its all-pairs cliff (it pins an explicit id bound);
    * MinHash removes the cliff but trades recall (a qualifying pair can
    * miss every band). This operator removes the cliff AND keeps exact
    * recall — every pair with shingle-set Jaccard ≥ t, unbounded:
    *
    *   - Global shingle order by (document frequency ASC, shingle):
    *     each document's RAREST shingles sort first.
    *   - Prefix emit: a document with s distinct shingles indexes only
    *     its first p = s − ⌈t·s⌉ + 1. Lossless: J(x,y) ≥ t forces
    *     |x∩y| ≥ ⌈t·max(|x|,|y|)⌉, so if the smallest-order common
    *     shingle sat outside either prefix the intersection could not
    *     reach that bound — every qualifying pair collides on some
    *     prefix shingle.
    *   - Length filter: J ≤ min/max of the set sizes, so 10·min ≥ 9·max
    *     (t = 9/10 in exact integer cross-multiplication) prunes
    *     candidates before any text moves.
    *   - Verify: exact |∩| on the distinct shingle arrays of candidate
    *     docs only (second shingling pass is candidate-semi-joined, the
    *     [[verifyTokenJaccard]] contract).
    *
    * Scale shape: the df aggregation is one shingle-keyed shuffle (at
    * 100 TB it is a persisted vocab artifact like the LM-counts table —
    * refreshed per corpus version, not per query). The candidate join
    * keys on PREFIX shingles only — by construction the rarest
    * ~(1−t)·s of each doc — so per-key collision lists stay short
    * exactly where a raw inverted index would explode (boilerplate
    * shingles rank last in df order and never enter the index). Only
    * (shingle, doc_id, size) rows shuffle; text crosses the wire once
    * per surviving candidate.
    *
    * Determinism: df counts, prefix selection, and intersection sizes
    * are exact integers; the final jaccard double is one exact integer
    * division. The DuckDB oracle is the NAIVE ALL-PAIRS join — it does
    * not replay the filter, so a hash match also PROVES the filter
    * lossless on the data (any dropped qualifying pair would diverge).
    */
  def jaccardPrefixPairs(
      spark: SparkSession,
      sfDir: String,
      minJaccard: Double = 0.9,
      verifyBroadcastCeiling: Long = VerifySetBroadcastCeiling): DataFrame =
    jaccardVerifiedSeam(spark, sfDir, minJaccard, verifyBroadcastCeiling)
      // materialize the (near-dup-mass-bounded) verdicts BEFORE the
      // presentation sort: the range partitioner samples its child to
      // pick bounds, and sampling an un-materialized frame re-executes
      // the whole candidate-verify stage a second time (measured ~2×)
      .localCheckpoint()
      .orderBy("doc_a", "doc_b")

  /** [[jaccardPrefixPairs]] minus the final checkpoint + presentation
    * sort — the verify-join PLAN stays visible on the returned frame, so
    * PlanAuditSpec can pin the strategy on BOTH sides of the broadcast
    * ceiling (the LinkGraph.hitsRoundSeam precedent).
    */
  private[graft] def jaccardVerifiedSeam(
      spark: SparkSession,
      sfDir: String,
      minJaccard: Double = 0.9,
      verifyBroadcastCeiling: Long = VerifySetBroadcastCeiling): DataFrame = {
    // t = 9/10 exactly (the AllPairs paper's own experimental setting);
    // all pruning runs in integer cross-multiplication
    require(minJaccard == 0.9, "threshold is pinned to the oracle's 9/10")
    val docs = IO.table(spark, sfDir, "documents")
    // Shingles are xxhash64-hashed AT THE SCAN — strings never shuffle
    // anywhere in this operator (df, ordering, prefix index, candidate
    // join, and verify all run on 8-byte keys). The global prefix order
    // becomes (df, hash): any consistent total order preserves the
    // lossless-prefix guarantee, it need not be lexicographic.
    // one materialization of the hashed sets: three consumers (the df
    // aggregation, the ordered-prefix build, the verify-set lookup)
    // would each replay scan + shingle + hash + sort otherwise
    val toks = docs.select(col("doc_id"),
      hashedGramSet(col("text")).as("toks"))
      .localCheckpoint()
    jaccardVerifiedFrom(toks, jaccardPrefixIndex(toks), verifyBroadcastCeiling)
  }

  /** Sorted distinct xxhash64 BIGRAM set of a document, hashed PAIRWISE
    * (round 12): hash(tokᵢ, tokᵢ₊₁) multi-arg instead of
    * hash(concat(tokᵢ, " ", tokᵢ₊₁)) — no per-gram string allocation,
    * and the distinct/sort run over 8-byte longs instead of
    * UTF8Strings (measured ~2× on the shingle pass, the operator's
    * largest stage). Set CARDINALITY matches [[gramSet]]'s distinct
    * string bigrams absent a 64-bit collision — the same per-pair
    * collision caveat the verify already documents, and the string-set
    * naive-join oracle hash-matching the output remains the standing
    * proof none occurs on the data. A single-token doc hashes its lone
    * token, mirroring gramSet's 1-element slice.
    */
  private[graft] def hashedGramSet(text: Column): Column = {
    val toks = split(text, " ")
    val pairHashes = slice(
      zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(1))),
        (a, b) => xxhash64(a, b)),
      lit(1), greatest(size(toks) - 1, lit(1)))
    array_sort(array_distinct(
      when(size(toks) <= 1, transform(toks, t => xxhash64(t)))
        .otherwise(pairHashes)))
  }

  /** The (doc_id, s, p, h) positional prefix index over hashed shingle
    * sets — the build half of the operator, persisted by
    * [[jaccardIndex]] for the stored serve path.
    */
  private[graft] def jaccardPrefixIndex(toks: DataFrame): DataFrame = {
    val df = toks.select(explode(col("toks")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    // Prefix index with POSITIONS: rank each doc's shingles in the
    // global (df, hash) order — one doc-keyed window, emitting ONLY the
    // first p = s − ⌈9s/10⌉ + 1 rows per doc (integer ceil via
    // (9s+9) div 10). row_number-then-filter beats the former
    // collect_list → sort_array → slice → posexplode chain (~35% of the
    // index wall): no per-doc array ever materializes and the ~90% of
    // tokens outside the prefix die before the next exchange. The rank
    // IS the PPJoin positional input (Xiao et al., WWW 2008): the
    // prefix is a head slice of the full sorted set, so the rank equals
    // the shingle's 1-based position in the doc's whole ordered set.
    val wOrd = Window.partitionBy("doc_id").orderBy("df", "h")
    toks
      .select(col("doc_id"), size(col("toks")).as("s"),
        explode(col("toks")).as("h"))
      .join(df, "h")
      .withColumn("p", row_number().over(wOrd))
      .where(col("p") <= col("s") - expr("(s * 9 + 9) div 10") + 1)
      .select("doc_id", "s", "p", "h")
    // (no checkpoint: the candidate self-join's two sides share the
    // window's exchanges via ReusedExchange — measured neutral-to-worse
    // with one)
  }

  /** Candidate join + exact verify over a shingle-set frame and its
    * positional prefix index — the serve half, shared by the fresh seam
    * and the stored path (frames differ, plan and values do not).
    */
  private[graft] def jaccardVerifiedFrom(
      toks: DataFrame,
      pre: DataFrame,
      verifyBroadcastCeiling: Long): DataFrame = {
    // POSITIONAL filter, applied PER MATCH ROW so it runs map-side
    // before the distinct's exchange (no pair-level aggregation
    // needed): a row matching a shingle at 1-based positions (pa, pb)
    // bounds the true overlap by o <= 1 + min(sa − pa, sb − pb) — every
    // shared shingle other than this one sorts strictly after it in
    // BOTH docs when this is the pair's first shared shingle. Lossless
    // at pair level: for a qualifying pair the FIRST shared shingle's
    // row always passes (its bound is a true upper bound on o ≥ α), so
    // the pair survives the distinct; later rows of the same pair may
    // fail their own bound and drop, which only thins the duplicates.
    // J ≥ 9/10 needs 19o ≥ 9(sa+sb) — exact integer
    // cross-multiplication. At sf0.1 this kills ~60% of candidate rows
    // before they shuffle.
    // eager checkpoint: the candidate frame feeds the verify join AND
    // (via candIds → the shingle-set rebuild) BOTH its build sides —
    // uncheckpointed, the whole prefix pipeline would replay once per
    // consumer inside the single action (measured 3-4× the wall). The
    // materialized frame is two longs per candidate.
    val cand = pre.select(col("h"), col("doc_id").as("doc_a"),
        col("s").as("sa"), col("p").as("pa"))
      .join(pre.select(col("h"), col("doc_id").as("doc_b"),
        col("s").as("sb"), col("p").as("pb")), "h")
      .where(col("doc_a") < col("doc_b")
        && least(col("sa"), col("sb")) * 10 >= greatest(col("sa"), col("sb")) * 9
        && (lit(1) + least(col("sa") - col("pa"), col("sb") - col("pb"))) * 19
          >= (col("sa") + col("sb")) * 9)
      // (round-12 measurement: the full per-pair PPJoin positional
      // AGGREGATE — groupBy pair, o <= c + min(sa−pam, sb−pbm) — was
      // tried here and benched SLOWER than the plain distinct (+0.8 s
      // at sf0.1): the per-row filter above already kills the tail
      // co-monotonically, so the aggregate's extra pruning is near-zero
      // on this corpus while its wider hash-agg state costs real time.)
      .select("doc_a", "doc_b")
      .distinct()
      .localCheckpoint()
    // Exact verify on candidate docs only (semi-joined second pass). The
    // shingle sets cross the verify as SORTED xxhash64 arrays so |∩| is
    // the codegen'd allocation-free two-pointer merge instead of a
    // per-pair string hash set — on a dense corpus the candidate × set
    // inner loop IS the operator's cost (measured 17 s → sub-second at
    // bench scale). |∩| and the set sizes equal their string-set values
    // absent a 64-bit collision INSIDE one candidate pair's union
    // (~|union|²/2⁶⁵ per pair); the string-set oracle hash-matching the
    // output is a standing proof no such collision occurs on the data.
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))
      .distinct()
      .localCheckpoint()
    val vSets = toks.join(broadcast(candIds), "doc_id")
      .select(col("doc_id"), col("toks").as("tokset"))
    // Join strategy for the two set lookups, ceiling-gated like the bm25
    // df map: below ~1M candidate-incident docs (≈0.5 GB of sorted-hash
    // sets) BROADCAST the set side — the candidate frame then streams
    // through both joins in one map-side codegen stage and the arrays
    // never cross an exchange (unhinted, the first join's array output
    // re-shuffles on doc_b at ~400 B/row — measured as the operator's
    // dominant cost). Past the ceiling, shuffle-hash joins (never
    // sort-merge: sorting millions of candidate rows buys nothing).
    val va = vSets.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("tokset", "tok_a")
    val vb = vSets.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("tokset", "tok_b")
    val smallSets = candIds.count() <= verifyBroadcastCeiling
    val (ja, jb) =
      if (smallSets) (broadcast(va), broadcast(vb))
      else (va.hint("shuffle_hash"), vb.hint("shuffle_hash"))
    cand
      .join(ja, "doc_a")
      .join(jb, "doc_b")
      .withColumn("o",
        call_function("sorted_intersect_count", col("tok_a"), col("tok_b"))
          .cast("long"))
      .withColumn("na", size(col("tok_a")).cast("long"))
      .withColumn("nb", size(col("tok_b")).cast("long"))
      // J >= 9/10 ⟺ 10o >= 9(na+nb−o) ⟺ 19o >= 9(na+nb): exact integers
      .where(col("o") * 19 >= (col("na") + col("nb")) * 9)
      .select(col("doc_a"), col("doc_b"),
        (col("o").cast("double")
          / (col("na") + col("nb") - col("o")).cast("double")).as("jaccard"))
  }

  /** MINHASH RECALL EVAL — the LSH candidate generator measured against
    * EXACT ground truth: every token-set pair with Jaccard >= 9/10
    * (computed by the lossless prefix-filter machinery generalized to
    * token sets) flagged with whether the TOKEN-FEATURE md5-minhash
    * banding (the decontam gate's generator — same feature space as the
    * truth metric) produced the pair as a candidate. `caught` isolates
    * pure banding misses — the measured version of the 1-(1-j^r)^b
    * curve every LSH parameter choice is justified by.
    *
    * Scale shape: ground truth reuses the prefix-join plan (df-ordered
    * prefixes, positional filter, bounded verify — never all-pairs);
    * the flag join is truth-pair-sized. At 100 TB this is the eval a
    * dedup-pipeline review runs on a sampled slice before trusting the
    * band/row split.
    */
  def minhashRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    // deterministic 20% content-hash sample (the split-bucket
    // convention): the eval measures a RATE, so it runs on a slice —
    // exact truth over the full corpus is quadratic in the dup mass by
    // definition, and the banding's per-pair miss probability is
    // identical on any content-hash-chosen subset
    val docs = IO.table(spark, sfDir, "documents")
      .filter((conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
        .cast("long") % 100) < 20)
    val toks = docs.select(col("doc_id"),
      array_sort(transform(array_distinct(split(col("text"), " ")),
        t => xxhash64(t))).as("toks"))
      .localCheckpoint()
    val truth = jaccardVerifiedFrom(toks, jaccardPrefixIndex(toks),
      VerifySetBroadcastCeiling)
      .localCheckpoint()
    val caught = bandedCandidates(
        minHashBandedTokensMd5From(docs).localCheckpoint())
      .select(col("doc_a"), col("doc_b"), lit(true).as("caught"))
    truth.join(caught, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("caught"), lit(false)).as("caught"))
      .orderBy("doc_a", "doc_b")
  }

  /** The persisted prefix-join index: the sorted-hash shingle sets
    * (`toks`) and the positional prefix index (`prefix`) — exactly what
    * the scaladoc's "persisted vocab artifact" scale note prescribes
    * (refreshed per corpus version, not per query).
    */
  private[graft] def jaccardIndex(sfDir: String): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "japrefix",
      s"japrefix_v2|$sfDir|t9of10|bigram-pairhash",
      Seq("toks" -> JaccardToksSchema, "prefix" -> JaccardPrefixSchema))

  /** [[jaccardPrefixPairs]] consuming the PERSISTED shingle sets and
    * prefix index (self-priming): repeat invocations pay only the
    * candidate join + verify — the production serve shape where the
    * corpus-version index is a standing artifact. Row-identical to the
    * fresh build by construction, so the registered row keeps the naive
    * all-pairs oracle (which keeps proving the filter lossless).
    */
  def jaccardPrefixPairsStored(
      spark: SparkSession,
      sfDir: String,
      verifyBroadcastCeiling: Long = VerifySetBroadcastCeiling): DataFrame = {
    val Seq(toks, prefix) = IO.servedArtifact(spark, jaccardIndex(sfDir)) { root =>
      val built = IO.table(spark, sfDir, "documents")
        .select(col("doc_id"), hashedGramSet(col("text")).as("toks"))
        .localCheckpoint() // two artifact writers below
      built.write.mode("overwrite").parquet(s"$root/toks")
      jaccardPrefixIndex(built).write.mode("overwrite").parquet(s"$root/prefix")
    }
    jaccardVerifiedFrom(toks, prefix, verifyBroadcastCeiling)
      .localCheckpoint() // the presentation-sort sampling lesson
      .orderBy("doc_a", "doc_b")
  }

  /** Distinct bigram-shingle set of a document — the [[ngramJaccardPairs]]
    * gram construction, shared with the prefix-filter join so the two
    * rows measure the same similarity.
    */
  private[graft] def gramSet(text: Column): Column = {
    val toks = split(text, " ")
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - 2, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(2)))))
  }

  /** Candidate-incident-doc ceiling for broadcasting the verify-side
    * shingle sets in [[jaccardPrefixPairs]]: 1M docs × ~0.5 KB of sorted
    * hashes ≈ 0.5 GB — inside the practical broadcast edge, with the
    * co-keyed shuffle-hash join as the in-plan fallback past it (the
    * bm25 df-map contract).
    */
  private[graft] val VerifySetBroadcastCeiling = 1000000L

  /** The verify-join gate over a lookup side of `rows` rows: BROADCAST at
    * or below [[VerifySetBroadcastCeiling]] (the streamed side then runs
    * its lookups map-side and the fat columns never cross an exchange),
    * shuffle-hash past it (never sort-merge: sorting the candidates buys
    * nothing).
    */
  private[operators] def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= VerifySetBroadcastCeiling) broadcast(df) else df.hint("shuffle_hash")

  /** Fuzzy near-dup pairs by EDIT DISTANCE: blocked candidate generation,
    * then an exact Levenshtein verify — the entity-resolution-style
    * complement to the token-set (MinHash/Jaccard) and bit-sketch (SimHash)
    * near-dup families, catching character-level edits those token views
    * smear.
    *
    * Blocking (what keeps this off the all-pairs cliff):
    *   - LENGTH buckets, `bucketChars` wide with each doc also emitting its
    *     successor bucket. Because lev(a,b) >= |len(a)-len(b)|, any pair
    *     within `maxDist` edits differs by at most `maxDist <= bucketChars`
    *     chars, so the two docs land in the same or adjacent buckets and
    *     MUST share an emitted key — the length dimension of the blocking
    *     loses NOTHING.
    *   - AFFIX keys: within a length bucket, candidates additionally share
    *     the xxhash64 of the first `affixChars` characters OR of the last
    *     `affixChars` (two unioned blocking passes). Complete for any pair
    *     whose edits spare one end of the document — the standard
    *     prefix-blocking recall contract; an adversarial pair edited inside
    *     BOTH affixes is missed (add a third mid-document affix pass to
    *     tighten, same shape).
    *
    * Scale shape: the blocking join moves only (doc_id, 16-byte key) rows;
    * candidate pairs are deduped and length-pruned on a 16-byte/doc
    * (doc_id, n_chars) frame, THEN texts are joined back by id for the
    * verify, so document text crosses the wire once per length-surviving
    * candidate, never per blocking key. The verify is Spark's THRESHOLD
    * Levenshtein — a banded O(len·maxDist) DP with early abort — not the
    * unbounded O(len²) matrix. Candidate volume is
    * Σ_blocks |block|², bounded by the affix-key cardinality — at corpus
    * scale, blocks are rare-collision by construction (shared 16-char
    * affix + matching length).
    *
    * Hash collisions in the affix key can only ADD candidate pairs (the
    * verify rejects them identically in any engine), so the DuckDB oracle
    * replays the blocking on the raw affix STRINGS and still agrees
    * exactly.
    */
  def fuzzyLevPairs(
      spark: SparkSession,
      sfDir: String,
      maxDist: Int = 8,
      bucketChars: Int = 64,
      affixChars: Int = 16): DataFrame = {
    require(bucketChars >= maxDist,
      s"length buckets ($bucketChars) must be at least maxDist ($maxDist) wide")
    val docs = IO.table(spark, sfDir, "documents")
    // materialize the 4-rows/doc key frame above the size crossover so
    // the blocking self-join's two sides don't each re-run the text scan
    // + affix hashing (the banded-frame policy every signature family
    // applies)
    val keyed = materializeIfLarge(
      docs.select(
        col("doc_id"),
        explode(expr(
          s"""flatten(transform(
              array(named_struct('side', 0, 'h', xxhash64(substring(text, 1, $affixChars))),
                    named_struct('side', 1, 'h', xxhash64(substring(text, -$affixChars)))),
              a -> transform(array(0, 1),
                     v -> named_struct('side', a.side, 'h', a.h,
                            'b', n_chars div $bucketChars + v))))""")).as("k")),
      IO.parquetRowCount(spark, s"$sfDir/documents.parquet") * 4)
    val cands = keyed.as("x")
      .join(keyed.as("y"),
        col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // length prune BEFORE any text moves: the (doc_id, n_chars) frame is
    // 16 bytes/doc, so the |len diff| <= maxDist cut runs on skinny rows
    // and only surviving candidates ever join text back
    val lens = docs.select(col("doc_id"), col("n_chars"))
    val pruned = cands
      .join(lens.select(col("doc_id").as("doc_a"),
        col("n_chars").as("n_chars_a")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"),
        col("n_chars").as("n_chars_b")), "doc_b")
      .filter(abs(col("n_chars_a") - col("n_chars_b")) <= maxDist)
    // widen-if-narrow: the banded-DP verify runs in the text-pull join
    // task that STREAMS these scans — on the single-row-group testdata
    // file that is one task for every candidate pair (IO.widened)
    val lhs = IO.widened(
      docs.select(col("doc_id").as("doc_a"), col("text").as("text_a")))
    val rhs = IO.widened(
      docs.select(col("doc_id").as("doc_b"), col("text").as("text_b")))
    // Text pulls STREAM the corpus with the candidate set as the
    // broadcast build side — never the reverse: left to its stats the
    // planner happily broadcasts a small-SF corpus (hash-building the
    // text column twice costs more than the whole verify), and at 100 TB
    // the corpus side can never build anyway. Candidate volume is
    // Σ_blocks |block|² (rare-collision 16-char-affix × length blocking;
    // measured 287 length-surviving pairs at sf0.1) — a corpus whose
    // blocking degenerates past broadcast size needs the df-cap the
    // substring/winnow families apply, at which point these hints revert
    // to plain shuffle joins.
    val half = lhs.join(broadcast(pruned), "doc_a")
    rhs.join(broadcast(half), "doc_b")
      // THRESHOLD kernel (Spark >= 3.5): banded O(len·maxDist) DP with
      // early abort, returning -1 past the bound — vs the unbounded
      // 2-arg form's O(len²) full matrix. At ~1k-char documents that is
      // ~two orders of magnitude less verify compute per pair. Distances
      // <= maxDist come back exact, so the emitted rows and lev values
      // are identical to the unbounded form — same oracle.
      .withColumn("lev",
        levenshtein(col("text_a"), col("text_b"), maxDist).cast("long"))
      // lev >= 0 ALONE is the full filter: the threshold kernel returns
      // -1 past the bound and an exact distance <= maxDist otherwise, so
      // `lev <= maxDist` was a tautology — and an expensive one: the
      // optimizer pushes the filter into the join condition substituting
      // the alias, so each conjunct re-ran the banded DP per candidate
      // pair (r19 before plan: 3 levenshtein evaluations per pair; now 2
      // — one in the pushed condition, one in the survivors' projection).
      .filter(col("lev") >= 0)
      .select("doc_a", "doc_b", "lev", "n_chars_a", "n_chars_b")
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT-SUBSTRING span dedup (the published "deduplicating training
    * data" criterion, Lee et al. 2022: two documents are duplicates when
    * they share ANY sufficiently-long verbatim token span — catching the
    * partial-copy/boilerplate overlap that whole-document MinHash
    * resemblance underweights). Every width-`w` token window is hashed,
    * per-doc distinct windows explode to (doc_id, window_hash) rows, and
    * a self-equi-join on the hash counts distinct shared windows per
    * ordered pair.
    *
    * The 100 TB hazard is the HOT window: a boilerplate span appearing in
    * m documents contributes m² join rows. `maxDf` drops windows seen in
    * more than that many documents BEFORE the pair join (the published
    * pipelines apply the same document-frequency cap, reading such spans
    * as template noise rather than dedup signal) — after it, per-window
    * join fan-out is capped at maxDf², and total candidate volume at
    * windows × maxDf. Docs shorter than `w` tokens carry no window; the
    * whole-document exact/MinHash paths own that regime.
    */
  /** ~bytes per whitespace token in natural-language text (≈5-char word
    * + separator) — converts footer text-byte volume to a token estimate.
    */
  private val NominalBytesPerToken = 6L

  /** Footer-metadata estimate of the exploded window count — sizes the
    * materialization gate without a count job. Derived from the DATA, not
    * a per-doc constant: total uncompressed bytes of the `text` column
    * (per-column row-group footer metadata, [[IO.parquetColumnUncompressedBytes]])
    * over [[NominalBytesPerToken]] ≈ total corpus tokens ≈ window count.
    * The previous rows×64 heuristic undersized the gate on long-document
    * corpora — a 10k-token-doc corpus looked 150× smaller than it was,
    * skipping the checkpoint and recomputing the explode+hash pipeline
    * twice. Floored at the row count: a window-bearing doc contributes
    * at least one row, and the floor keeps degenerate tiny-text tables
    * from reading as empty.
    */
  private[graft] def estWindowRows(spark: SparkSession, sfDir: String): Long = {
    val path = s"$sfDir/documents.parquet"
    math.max(
      IO.parquetColumnUncompressedBytes(spark, path, "text") / NominalBytesPerToken,
      IO.parquetRowCount(spark, path))
  }

  private def substringSpanPairsBy(
      docs: DataFrame,
      windowHash: Column => Column,
      w: Int,
      maxDf: Int,
      estWindowRows: Long,
      sorted: Boolean = true): DataFrame =
    spanPairsFromWindows(docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - (w - 1)),
          i => windowHash(concat_ws(" ", slice(col("toks"), i, lit(w)))))))
          .as("wh")), maxDf, estWindowRows, sorted)

  /** Shared tail of the span-pair pipeline over an exploded
    * (doc_id, wh) frame: df-cap, self-equi-join, per-pair count.
    */
  private def spanPairsFromWindows(
      exploded0: DataFrame,
      maxDf: Int,
      estWindowRows: Long,
      sorted: Boolean): DataFrame = {
    // consumed twice (df-cap aggregation + join-back): above the
    // materialization crossover, re-running the explode+hash pipeline
    // costs more than the checkpoint
    val exploded = materializeIfLarge(exploded0, estWindowRows)
    val keep = exploded.groupBy("wh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("wh")
    val kept = exploded.join(keep, "wh")
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
    if (sorted) pairs.orderBy("doc_a", "doc_b") else pairs
  }

  /** [[substringSpanPairsMd5]] without the presentation sort (cluster
    * input — the contraction loop re-shuffles immediately).
    */
  private[graft] def substringSpanPairsMd5Unsorted(
      spark: SparkSession,
      sfDir: String,
      w: Int = 8,
      maxDf: Int = 50): DataFrame =
    substringSpanPairsBy(IO.table(spark, sfDir, "documents"),
      win => HashFamily.Md5.feature(win),
      w, maxDf, estWindowRows(spark, sfDir), sorted = false)

  /** [[substringSpanPairsBy]] with xxhash64 window hashes — the library
    * default (fast path).
    */
  def substringSpanPairs(
      spark: SparkSession,
      sfDir: String,
      w: Int = 8,
      maxDf: Int = 50): DataFrame = {
    // each token is hashed ONCE and a window hashes its w token-hashes —
    // no per-window string rebuild (the fingerprints rolling-hash trick;
    // the naive concat_ws form rebuilt ~w-token strings per position and
    // dominated the scan). Still exact on the token sequence.
    val windows = IO.widened(
        IO.table(spark, sfDir, "documents").select("doc_id", "text"))
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= w)
      .withColumn("th", expr("transform(toks, t -> xxhash64(t))"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - (w - 1)),
          i => xxhash64((0 until w).map(o => element_at(col("th"), i + lit(o))): _*))))
          .as("wh"))
    spanPairsFromWindows(windows, maxDf, estWindowRows(spark, sfDir),
      sorted = true)
  }

  /** The persisted corpus-side winnow fingerprint index. In production
    * this is the fingerprint table maintained across batches (appended
    * per admitted batch); the md5-per-gram selection pass over the
    * corpus — the dominant cost of every winnow call — runs only at
    * priming.
    */
  private[graft] def winnowIndex(sfDir: String, k: Int, w: Int): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "wnidx", s"wnidx_v1|$sfDir|$k|$w",
      Seq("" -> winnowIndexSchema("corpus_id")), ".parquet")

  /** The DF-CAPPED corpus winnow index (keyed by maxDf on top of the raw
    * index's params): the serve-side derivative [[incrementalWinnowStored]]
    * reads so repeat batches skip the corpus-wide df aggregation +
    * join-back entirely. Its prime runs those corpus-shuffling steps at
    * index-maintenance time, over the served raw index; in production
    * both tables are maintained together per admitted batch (the df
    * counts are incrementable), so the per-batch query never aggregates
    * the corpus.
    */
  private[graft] def winnowKeepIndex(sfDir: String, k: Int, w: Int, maxDf: Int): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "wnkeep",
      s"wnkeep_v1|$sfDir|$k|$w|$maxDf", Seq("" -> WinnowKeepSchema), ".parquet")

  /** Full-corpus variant of [[winnowIndex]] (no incremental carve) — the
    * pairs/components serve path: the md5 selection pass runs only at
    * priming, and [[winnowPairsStored]] and any components/pairs
    * consumer read the table.
    */
  private[graft] def winnowFullIndex(sfDir: String, k: Int, w: Int): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "wnfull", s"wnfull_v1|$sfDir|$k|$w",
      Seq("" -> winnowIndexSchema("doc_id")), ".parquet")

  /** [[winnowPairs]] consuming the PERSISTED full-corpus fingerprint
    * table (self-priming on first use): repeat invocations skip the md5
    * selection pass entirely — the artifact IS the exploded frame, so
    * the row is identical by construction and keeps the live row's
    * oracle.
    */
  def winnowPairsStored(
      spark: SparkSession,
      sfDir: String,
      k: Int = 3,
      w: Int = 4,
      maxDf: Int = 50): DataFrame =
    winnowPairsStoredUnsorted(spark, sfDir, k, w, maxDf)
      .orderBy("doc_a", "doc_b")

  /** [[winnowPairsStored]] without the presentation sort (cluster input). */
  private[graft] def winnowPairsStoredUnsorted(
      spark: SparkSession,
      sfDir: String,
      k: Int = 3,
      w: Int = 4,
      maxDf: Int = 50): DataFrame = {
    spanPairsFromWindows(
      IO.servedArtifact(spark, winnowFullIndex(sfDir, k, w)) { root =>
        graft.functions.TextAnalysis.winnowFingerprintFrame(
          IO.table(spark, sfDir, "documents"), k, w)
          .write.mode("overwrite").parquet(root)
      }.head.withColumnRenamed("fp", "wh"),
      maxDf,
      // already materialized on disk: re-scanning parquet twice beats a
      // checkpoint, so keep the materialization gate closed
      0L,
      sorted = false)
      .select(col("doc_a"), col("doc_b"),
        col("n_shared_windows").as("n_shared_fps"))
  }

  /** INCREMENTAL winnow verdicts — the local-overlap member of the
    * incremental family beside exact / minhash / simhash / semantic:
    * every batch doc (doc_id % 10 == 0, the shared synthetic carve) is
    * winnowed and joined against the PERSISTED corpus fingerprint index;
    * the verdict row carries the corpus doc sharing the most selected
    * fingerprints (count desc, corpus id asc — deterministic) or a
    * null-padded admit. Detects the partial-copy/boilerplate overlap
    * shape whole-document signatures miss, at the winnowed ~2/(w+1)
    * fingerprint volume.
    *
    * Scale shape: the batch winnows map-side and BROADCASTS into the fp
    * equi-join against the PERSISTED df-capped index
    * ([[winnowKeepIndex]]) — on the serve path the corpus never
    * shuffles and never aggregates: the df-cap (which drops hot
    * boilerplate fingerprints before they can fan out) is precomputed at
    * index-maintenance time, so a batch costs one capped-index scan;
    * only (batch_id, corpus_id) hit pairs reach the pair count, which
    * map-combines.
    */
  def incrementalWinnowStored(
      spark: SparkSession,
      sfDir: String,
      k: Int = 3,
      w: Int = 4,
      maxDf: Int = 50): DataFrame = {
    val capped = IO.servedArtifact(spark, winnowKeepIndex(sfDir, k, w, maxDf)) { root =>
      val idx = IO.servedArtifact(spark, winnowIndex(sfDir, k, w)) { idxRoot =>
        graft.functions.TextAnalysis.winnowFingerprintFrame(
          IO.table(spark, sfDir, "documents").filter(col("doc_id") % 10 =!= 0), k, w)
          .withColumnRenamed("doc_id", "corpus_id")
          .write.mode("overwrite").parquet(idxRoot)
      }.head
      val keep = idx.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("fp")
      idx.join(keep, "fp").write.mode("overwrite").parquet(root)
    }.head
    val batch = IO.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val batchFps = graft.functions.TextAnalysis
      .winnowFingerprintFrame(batch, k, w)
      .withColumnRenamed("doc_id", "batch_id")
    val best = capped
      .join(broadcast(batchFps), "fp")
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("n_shared"))
      .groupBy("batch_id")
      .agg(max(struct(col("n_shared"), (-col("corpus_id")).as("neg_id"))).as("b"))
      .select(col("batch_id").as("doc_id"), (-col("b.neg_id")).as("dup_of"),
        col("b.n_shared").as("n_shared"))
    batch.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNull.as("is_new"),
        col("dup_of"), col("n_shared"))
      .orderBy("doc_id")
  }

  /** [[substringSpanPairsBy]] with 60-bit md5-prefix window hashes
    * ([[graft.functions.HashFamily.Md5]]'s feature hash), which DuckDB
    * replays; spec-pinned to emit the identical pair set as the
    * xxhash64 rolling path ([[substringSpanPairs]]).
    */
  def substringSpanPairsMd5(
      spark: SparkSession,
      sfDir: String,
      w: Int = 8,
      maxDf: Int = 50): DataFrame =
    substringSpanPairsBy(IO.table(spark, sfDir, "documents"),
      win => HashFamily.Md5.feature(win),
      w, maxDf, estWindowRows(spark, sfDir))

  /** WINNOWING-based near-dup pairs — [[substringSpanPairs]]'s criterion
    * run over the SELECTED fingerprint set instead of every window
    * ([[graft.functions.TextAnalysis.winnowFingerprintFrame]]): a pair
    * surfaces when the two documents share at least one selected
    * fingerprint, which (by the winnowing guarantee) any common token run
    * of k+w-1 tokens forces. Same detection family as exact-substring
    * dedup at ~2/(w+1) the exploded-row volume — the px the MOSS scheme
    * buys at 100 TB, where the all-windows explode is the dominant
    * shuffle. Same df-cap-then-join tail (hot boilerplate fingerprints
    * are template noise, dropped before they can fan out m²).
    */
  def winnowPairs(
      spark: SparkSession,
      sfDir: String,
      k: Int = 3,
      w: Int = 4,
      maxDf: Int = 50): DataFrame =
    winnowPairsUnsorted(spark, sfDir, k, w, maxDf)
      .orderBy("doc_a", "doc_b")

  /** [[winnowPairs]] without the presentation sort (cluster input — the
    * contraction loop re-shuffles immediately).
    */
  private[graft] def winnowPairsUnsorted(
      spark: SparkSession,
      sfDir: String,
      k: Int = 3,
      w: Int = 4,
      maxDf: Int = 50): DataFrame =
    spanPairsFromWindows(
      graft.functions.TextAnalysis
        .winnowFingerprintFrame(IO.table(spark, sfDir, "documents"), k, w)
        .withColumnRenamed("fp", "wh"),
      maxDf,
      // Gate on the GRAM count, not the ~2/(w+1) selected volume (r19):
      // the threshold decides recompute-vs-checkpoint, and what recomputes
      // is the full md5-per-gram selection pass — which the downstream
      // kept⋈kept self-join otherwise re-derives FOUR times (kept =
      // exploded⋈keep(exploded), both join sides; the r19 before plan
      // shows 4 document scans). The selected volume undersized the gate
      // right at the sf0.1 cut (101k rows vs the 200k threshold) and the
      // row paid 4 selection passes; what lands in the checkpoint is
      // still only the selected rows.
      estWindowRows(spark, sfDir),
      sorted = false)
      .select(col("doc_a"), col("doc_b"),
        col("n_shared_windows").as("n_shared_fps"))

  /** LSH BANDING DESIGN TABLE — the S-curve every (bands, rows) split
    * of a P-permutation minhash signature induces:
    *
    *   P(candidate | jaccard = s) = 1 − (1 − s^r)^b
    *
    * evaluated on a 19-point jaccard grid, with per-point false-
    * positive mass (collision below the target threshold) and false-
    * negative mass (miss at/above it) as grid-cell Riemann terms — the
    * table a pipeline owner reads to pick (b, r) for a dedup campaign
    * before paying a corpus-scale banding run (Leskovec/Rajaraman/
    * Ullman, MMDS ch. 3; this engine's own 8×4 default for the md5
    * family sits where the curve's knee crosses t = 0.9).
    *
    * Determinism: NO `pow` anywhere — s^r and (1−x)^b are UNROLLED
    * left-associated multiplication chains over s = i/20.0 grid values
    * (each design's exponents are compile-time constants), so every
    * double op is one IEEE multiply in a pinned order and the DuckDB
    * oracle replays it bit-exactly; libm's 1-ulp `pow` drift is the
    * hash-mismatch trap the fixed-point convention exists to avoid.
    *
    * Scale: a |designs|·|grid|-row analytic table — no data touched;
    * map-side codegen over a range, the cheapest row on the board by
    * construction.
    */
  def lshDesignTable(
      spark: SparkSession,
      perms: Int = 32,
      threshold: Double = 0.9): DataFrame = {
    def chain(base: Column, n: Int): Column =
      (2 to n).foldLeft(base)((acc, _) => acc * base)
    val designs = Seq(32 -> 1, 16 -> 2, 8 -> 4, 4 -> 8, 2 -> 16, 1 -> 32)
      .filter { case (b, r) => b * r == perms }
    val grid = spark.range(1, 20)
      .select((col("id").cast("double") / lit(20.0)).as("s"))
    designs.map { case (b, r) =>
      val p = lit(1.0) - chain(lit(1.0) - chain(col("s"), r), b)
      grid.select(lit(b).as("bands"), lit(r).as("rows_per_band"), col("s"),
        p.as("collision_p"),
        when(col("s") < threshold, p / lit(20.0)).otherwise(lit(0.0))
          .as("fp_term"),
        when(col("s") >= threshold, (lit(1.0) - p) / lit(20.0))
          .otherwise(lit(0.0)).as("fn_term"))
    }.reduce(_ unionByName _)
      .orderBy("rows_per_band", "s")
  }
}
