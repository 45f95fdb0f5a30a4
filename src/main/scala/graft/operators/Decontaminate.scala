package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IO, Memo}

/** Benchmark decontamination for a training-data pipeline: remove (or
  * report) training documents that share a word n-gram with an evaluation /
  * benchmark set, so eval answers cannot leak into the training corpus.
  * This is the standard n-gram-overlap procedure from the public LLM
  * training literature (a document is "contaminated" if ANY of its n-grams
  * appears in the eval set).
  *
  * The eval set here is carved from the `documents` table by the same
  * deterministic content-hash bucketing [[CorpusPrep.trainValSplit]] uses
  * (bucket >= 100 - evalPct), standing in for an external benchmark table;
  * the operators take any (doc_id, text) frame, so a real eval parquet
  * drops in unchanged.
  *
  * Scale shape (the reason this composition is the 100 TB path):
  *   - eval sets are tiny relative to the corpus (benchmarks are MBs;
  *     the corpus is the 100 TB side), so the distinct eval-gram set
  *     BROADCASTS — the corpus side never shuffles for the overlap check;
  *   - the corpus side is a map-only explode of per-doc distinct gram
  *     hashes followed by the broadcast semi-join; the only aggregation is
  *     over the (small) matched subset;
  *   - grams cross the plan as 8-byte xxhash64 hashes, never as strings: a
  *     width-13 gram is ~80 bytes of text, so hashing shrinks the
  *     highest-volume intermediate ~10x. A hash collision can only FLAG an
  *     extra doc (never un-flag one) — for decontamination a false
  *     positive drops one safe doc, the conservative direction; the
  *     registered oracle replays the logic on raw gram strings and agrees,
  *     which bounds observed collisions at test scale to zero.
  */
object Decontaminate {

  /** documents + `toks` + per-token hashes + the content-hash split bucket
    * (0-99). Each token is hashed ONCE into `th`; gram hashes then combine
    * w token-hashes (longs) instead of rebuilding a w-token string per
    * window position — the [[Dedup.substringSpanPairs]] rolling trick,
    * which cuts the highest-volume compute of every decontamination pass
    * (string slicing+concat per gram) to integer mixing.
    */
  private def withToks(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("th", expr("transform(toks, t -> xxhash64(t))"))
      .withColumn("bucket",
        (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100))

  /** Distinct hashes of the width-`w` word grams: xxhash64 over the w
    * token-hashes at each window position. Documents shorter than `w`
    * tokens contribute their whole token list as one gram (out-of-range
    * element_at yields null, which the hash skips — so the single short-doc
    * window hashes exactly the tokens present, and cannot collide with a
    * full-width window short of a 64-bit hash collision; mirrors
    * [[Dedup]]'s short-doc fallback). The oracle replays grams as RAW
    * strings, so the hash function is free to change — only the report
    * must match, which also bounds observed collisions to zero.
    */
  private def gramHashes(w: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(col("th")) - (w - 1), lit(1))),
      i => xxhash64((0 until w).map(o => element_at(col("th"), i + lit(o))): _*)))

  /** (doc_id, n_shared_grams) for every TRAIN document (bucket < 100 -
    * evalPct) sharing at least one width-`gramWidth` gram with an eval
    * document. `gramWidth` defaults to 13 — the published
    * decontamination convention; the registered query pins 4 because the
    * synthetic corpus' tiny vocabulary makes 13-grams unique (zero overlap
    * tells the driver nothing).
    */
  def contaminationReport(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int = 13,
      evalPct: Int = 5): DataFrame =
    contaminationReportFrom(gramDocs(spark, sfDir, gramWidth), evalPct)

  /** [[contaminationReport]] over an explicit (doc_id, bucket, grams)
    * frame — the seam the union gate drives so all gram-based metrics
    * share ONE materialized gram pass instead of re-tokenizing the corpus
    * per metric.
    */
  private def contaminationReportFrom(
      docs: DataFrame,
      evalPct: Int): DataFrame = {
    val evalGrams = docs.filter(col("bucket") >= 100 - evalPct)
      .select(explode(col("grams")).as("gram"))
      .distinct()
    docs.filter(col("bucket") < 100 - evalPct)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams), "gram")
      // grams are per-doc distinct upstream, so plain count IS the distinct
      // shared-gram count
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** [[contaminationReport]] behind a BLOOM-FILTER prefilter — the shape
    * for when even the distinct eval-gram set outgrows an exact broadcast
    * (full benchmark suites reach billions of grams; a bloom of them is a
    * fixed few hundred MB at any cardinality). The sketch is built
    * distributed (one aggregate over the eval grams), ships to executors
    * once, and corpus grams that miss it die MAP-SIDE before the exact
    * verify join — only bloom-positive grams (true matches + the fpp
    * tail) reach the join at all.
    *
    * Correctness is unchanged, not approximate: the bloom has NO false
    * negatives, so every truly shared gram still reaches the exact check, and
    * false positives are killed by the verify join — the result is
    * row-identical to [[contaminationReport]] (spec-pinned, and the
    * registered row reuses the exact report's oracle).
    */
  def contaminationReportBloom(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int = 13,
      evalPct: Int = 5,
      fpp: Double = 0.03): DataFrame = {
    val docs = gramDocs(spark, sfDir, gramWidth)
    val evalGrams = evalGramsFrame(docs, evalPct)
    reportWithBloomBytes(docs, evalGrams,
      buildBloomBytes(spark, sfDir, evalGrams, evalPct, fpp), evalPct)
  }

  /** PER-PAIR n-gram containment (the fuzzy decontamination metric the
    * binary report can't express): for every (train doc, eval doc) pair
    * sharing at least one width-`gramWidth` gram, the fraction of the
    * EVAL document's distinct grams the train document contains —
    * containment ≥ τ is the published "contaminated even though not
    * verbatim" call (the GPT-3/PaLM appendices use exactly this
    * eval-side-normalized overlap), where exact-gram counting alone
    * over-flags long train docs and under-flags paraphrased eval docs.
    * Emits pairs at `minContainment` or above with the evidence counts.
    *
    * Scale shape: identical to [[contaminationReport]] — the eval side
    * (small by definition) broadcasts as 8-byte gram hashes, now keyed
    * by eval doc; the corpus side explodes its per-doc-distinct grams
    * map-only into the broadcast join, and the only exchange is the
    * (train, eval)-keyed count — bounded by true shared-gram volume. The
    * containment division happens on the counts AFTER aggregation,
    * never per gram.
    *
    * Determinism: counts are exact integers; containment is one double
    * division of exact integers (deterministic IEEE); the τ cut compares
    * against a literal both engines parse to the same double.
    */
  def containmentReport(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int = 4,
      evalPct: Int = 5,
      minContainment: Double = 0.02): DataFrame =
    containmentReportFrom(gramDocs(spark, sfDir, gramWidth), evalPct,
      minContainment)

  /** [[containmentReport]] over an explicit gram frame (the gate seam). */
  private def containmentReportFrom(
      docs: DataFrame,
      evalPct: Int,
      minContainment: Double): DataFrame = {
    val evalSide = docs.filter(col("bucket") >= 100 - evalPct)
      .select(col("doc_id").as("eval_id"),
        size(col("grams")).cast("long").as("n_eval"),
        explode(col("grams")).as("gram"))
    docs.filter(col("bucket") < 100 - evalPct)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalSide), "gram")
      // both sides' grams are per-doc distinct, so the pair count IS the
      // distinct shared-gram count
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"), first("n_eval").as("n_eval"))
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_eval").cast("double"))
      .filter(col("containment") >= lit(minContainment))
      .select("doc_id", "eval_id", "n_shared", "n_eval", "containment")
      .orderBy("doc_id", "eval_id")
  }

  /** NEAR-DUPLICATE decontamination — the MinHash member of the family:
    * a train document is contaminated when its token-set Jaccard with ANY
    * eval document reaches `minJaccard`, with candidates generated by
    * md5-minhash band-key collisions so neither side ever does an
    * all-pairs. Published pipelines run this BESIDE the n-gram overlap
    * ([[contaminationReport]]) and containment ([[containmentReport]])
    * checks: a lightly-paraphrased eval answer shares no verbatim
    * 13-gram, and eval docs much shorter than their contaminated train
    * hosts dodge symmetric-Jaccard — the three metrics catch different
    * leak shapes, so a real curation gate unions all three.
    *
    * Output: one row per contaminated train doc — its WORST offender
    * (max jaccard, eval_id tiebreak) and how many eval docs it collided
    * with at or above the threshold.
    *
    * Scale shape ([[Dedup.incrementalMinHashFrames]]'s, with the eval
    * set in the batch seat): the eval side is tiny by definition, so its
    * banded keys BROADCAST against the corpus banding — the corpus side
    * never shuffles for candidate generation — and the exact verify pays
    * two exchanges total (candidate distinct + the train token join; the
    * eval token sets broadcast). Cost therefore scales with the TRUE
    * contamination mass, not the corpus: on the synthetic fixture that
    * mass is pathological (avg cross-pair Jaccard ≈ 0.6 — most train
    * docs really do near-duplicate an eval doc), which is why this row
    * benches heavier than the shingle-banded dedup rows whose candidate
    * sets are sparse. At production scale the corpus banding comes from
    * the persisted band-index artifact
    * ([[Dedup.minHashIndex]]'s convention) instead of being
    * recomputed per eval suite.
    */
  def nearDupContaminationReport(
      spark: SparkSession,
      sfDir: String,
      numPerms: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5,
      evalPct: Int = 5): DataFrame = {
    val docs = withToks(IO.table(spark, sfDir, "documents"))
      .select(col("doc_id"), col("text"), col("bucket"))
    nearDupFromTrainBanding(spark, sfDir,
      Dedup.minHashBandedTokensMd5From(
        docs.filter(col("bucket") < 100 - evalPct), numPerms, bands),
      numPerms, bands, minJaccard, evalPct)
  }

  /** The persisted TRAIN-side token band index (the [[Dedup.minHashIndex]]
    * convention) — the artifact [[nearDupContaminationReportStored]]
    * consumes. Distinct from the shingle index: the decontam banding is
    * over distinct word tokens and carves out the eval bucket. At 100 TB
    * this is the maintained index of the training corpus (appended per
    * admitted batch); the md5-per-token signature pass over the corpus —
    * the dominant cost of every near-dup decontamination call — runs only
    * at priming, never per eval suite.
    */
  private[graft] def nearDupTrainIndex(
      sfDir: String,
      numPerms: Int = 32,
      bands: Int = 8,
      evalPct: Int = 5): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "dcmh",
      s"dcmh_v1|$sfDir|$numPerms|$bands|$evalPct",
      Seq("" -> Dedup.MinHashBandSchema), ".parquet")

  /** [[nearDupContaminationReport]] consuming the PERSISTED train band
    * index (self-priming on first use, like the stored bloom sketch and
    * [[Dedup.incrementalMinHashMd5Stored]]): repeat invocations band only
    * the EVAL side — tiny by definition — so the per-eval-suite cost is
    * an index scan plus the candidate-bounded verify. Result is
    * row-identical by construction (the artifact IS the train banding),
    * so the registered row reuses [[nearDupContaminationReport]]'s
    * oracle.
    */
  def nearDupContaminationReportStored(
      spark: SparkSession,
      sfDir: String,
      numPerms: Int = 32,
      bands: Int = 8,
      minJaccard: Double = 0.5,
      evalPct: Int = 5): DataFrame = {
    nearDupFromTrainBanding(spark, sfDir,
      IO.servedArtifact(spark, nearDupTrainIndex(sfDir, numPerms, bands, evalPct)) { root =>
        val docs = withToks(IO.table(spark, sfDir, "documents"))
          .select(col("doc_id"), col("text"), col("bucket"))
        Dedup.minHashBandedTokensMd5From(
          docs.filter(col("bucket") < 100 - evalPct), numPerms, bands)
          .write.mode("overwrite").parquet(root)
      }.head,
      numPerms, bands, minJaccard, evalPct)
  }

  /** Candidate generation + exact verify over an explicit train banding
    * (live or artifact-backed) — the shared tail of the near-dup family.
    */
  private def nearDupFromTrainBanding(
      spark: SparkSession,
      sfDir: String,
      trainBanded: DataFrame,
      numPerms: Int,
      bands: Int,
      minJaccard: Double,
      evalPct: Int): DataFrame = {
    val docs = withToks(IO.table(spark, sfDir, "documents"))
      .select(col("doc_id"), col("text"), col("bucket"))
    val evalBanded = Dedup.minHashBandedTokensMd5From(
      docs.filter(col("bucket") >= 100 - evalPct), numPerms, bands)
    val cand = trainBanded
      .join(broadcast(evalBanded
        .select(col("doc_id").as("eval_id"), col("band_key"))), "band_key")
      .select("doc_id", "eval_id")
      .distinct()
    // verify plan shape: train token sets attach with ONE co-partitioned
    // join (computed map-side on the scan — no candidate-id semi-join
    // machinery: on a duplicate-dense corpus the candidate id set IS the
    // train set), the eval token sets broadcast (tiny by definition), so
    // candidate volume pays exactly two exchanges (the distinct above and
    // the train join) however hot the banding runs.
    // token sets cross the verify as 8-byte hashes ([[Dedup.hashedTokenSet]]
    // — ~1.7× on the candidate-mass-bound hot loop, collision bound there)
    val trainTok = docs.filter(col("bucket") < 100 - evalPct)
      .select(col("doc_id"), Dedup.hashedTokenSet(col("text")).as("tok_a"))
    val evalTok = docs.filter(col("bucket") >= 100 - evalPct)
      .select(col("doc_id").as("eval_id"),
        Dedup.hashedTokenSet(col("text")).as("tok_b"))
    cand
      .join(trainTok, "doc_id")
      .join(broadcast(evalTok), "eval_id")
      // |union| = |a| + |b| - |inter| on distinct arrays, and the
      // intersect is the codegen'd two-pointer merge over the PRE-SORTED
      // token sets (no per-pair hash set, no materialized array) — the
      // verify is the candidate-volume-bound hot loop, and the division
      // sees the same exact integers either way (same doubles, same
      // oracle hash)
      .withColumn("inter",
        call_function("sorted_intersect_count",
          col("tok_a"), col("tok_b")).cast("double"))
      .withColumn("jaccard",
        col("inter")
          / (size(col("tok_a")) + size(col("tok_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      // worst offender via max(struct) — an aggregate combines map-side,
      // where a row_number window would sort-shuffle the full verified
      // pair volume (≈ the candidate set on a duplicate-dense corpus);
      // max jaccard first, then min eval_id (negated in the struct) —
      // the same deterministic pick, exact doubles
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_eval_matches"),
        max(struct(col("jaccard"), (-col("eval_id")).as("neg_eval")))
          .as("best"))
      .select(col("doc_id"), (-col("best.neg_eval")).as("eval_id"),
        col("best.jaccard").as("jaccard"), col("n_eval_matches"))
      .orderBy("doc_id")
  }

  /** The UNION decontamination gate — the composition the individual
    * metrics exist for: a train document drops if it fails ANY of the
    * three checks (verbatim gram overlap, eval-side containment ≥ τ,
    * token-set near-duplication ≥ j), because each catches a leak shape
    * the others miss (exact n-gram: verbatim snippets; containment:
    * short eval answers embedded in long hosts; minhash: paraphrase /
    * reordering). One row per train doc with the per-metric flag trail —
    * curation pipelines audit WHY a doc dropped, not just that it did.
    *
    * Scale shape: pure composition — each metric keeps its own audited
    * plan (eval side broadcast everywhere), and the gate adds three
    * train-keyed left joins of id-only flag frames, each bounded by its
    * metric's hit volume. The gram-based metrics share ONE materialized
    * gram frame (the corpus tokenize+gram pass — the dominant shared
    * head — runs once, not per metric), and the near-dup leg consumes
    * the persisted train band index ([[nearDupTrainIndex]]), so
    * gate wall-time tracks max(metric), not Σ(metrics).
    */
  def decontaminationGate(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int = 4,
      evalPct: Int = 5,
      minContainment: Double = 0.02,
      minJaccard: Double = 0.5): DataFrame = {
    val g = gramDocs(spark, sfDir, gramWidth).localCheckpoint()
    val train = g.filter(col("bucket") < 100 - evalPct).select("doc_id")
    val gramHit = contaminationReportFrom(g, evalPct)
      .select("doc_id").withColumn("gh", lit(1))
    val contHit = containmentReportFrom(g, evalPct, minContainment)
      .select("doc_id").distinct().withColumn("ch", lit(1))
    val nearHit = nearDupContaminationReportStored(spark, sfDir,
      minJaccard = minJaccard, evalPct = evalPct)
      .select("doc_id").withColumn("nh", lit(1))
    train
      .join(gramHit, Seq("doc_id"), "left")
      .join(contHit, Seq("doc_id"), "left")
      .join(nearHit, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("gh").isNotNull, 1).otherwise(0).as("gram_hit"),
        when(col("ch").isNotNull, 1).otherwise(0).as("containment_hit"),
        when(col("nh").isNotNull, 1).otherwise(0).as("neardup_hit"))
      .withColumn("dropped",
        (col("gram_hit") === 1 || col("containment_hit") === 1
          || col("neardup_hit") === 1).cast("int"))
      .orderBy("doc_id")
  }

  /** (doc_id, bucket, grams) — the shared head of the bloom pipelines. */
  private def gramDocs(spark: SparkSession, sfDir: String, gramWidth: Int): DataFrame =
    withToks(IO.table(spark, sfDir, "documents"))
      .select(col("doc_id"), col("bucket"), gramHashes(gramWidth).as("grams"))

  /** Distinct eval-side gram hashes, materialized once: two consumers
    * (bloom build and/or verify join) and small by definition (the eval
    * slice).
    */
  /** Declared schema of the persisted eval-gram table (hashed grams are
    * non-null xxhash64 outputs).
    */
  private[graft] val EvalGramsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("gram", LongType, nullable = false)))
  }

  private def evalGramsFrame(docs: DataFrame, evalPct: Int): DataFrame =
    docs.filter(col("bucket") >= 100 - evalPct)
      .select(explode(col("grams")).as("gram"))
      .distinct()
      .localCheckpoint()

  /** Serialized bloom sketch of the eval grams — ONE distributed
    * aggregate; expected-items bound from footer metadata, not a count
    * job (an overestimate only costs linear bits).
    */
  private def buildBloomBytes(
      spark: SparkSession,
      sfDir: String,
      evalGrams: DataFrame,
      evalPct: Int,
      fpp: Double): Array[Byte] = {
    val expected = math.max(1000L,
      IO.parquetRowCount(spark, s"$sfDir/documents.parquet")
        * 64L * evalPct / 100)
    val bloom = evalGrams.stat.bloomFilter("gram", expected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** The bloom-prefiltered report over an explicit serialized sketch. */
  private def reportWithBloomBytes(
      docs: DataFrame,
      evalGrams: DataFrame,
      bytes: Array[Byte],
      evalPct: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    val mightContain = GraftSqlBridge.column(BloomFilterMightContain(
      Literal(bytes, BinaryType), GraftSqlBridge.expression(col("gram"))))
    docs.filter(col("bucket") < 100 - evalPct)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .filter(mightContain)
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** The persisted eval-gram sketch: the serialized bloom as a one-row
    * binary part (`sketch`) and, beside it, the exact distinct-gram table
    * (`grams`) — the verify join needs it, it is eval-sized (tiny), and
    * it shares the sketch's lifecycle, so consumers run ZERO eval-side
    * explodes. Keyed by every parameter that shapes the contents; the
    * gramv2 token names the token-hash-composed gram scheme, because the
    * sketch stores gram HASHES and is invalid across a hash-scheme
    * change. In production the sketch is written BESIDE the eval table
    * on the same filesystem (derived data of that table, rebuilt on
    * eval-set change) by a scheduled job.
    */
  private[graft] def evalGramBloom(
      sfDir: String,
      gramWidth: Int,
      evalPct: Int,
      fpp: Double): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "bloom",
      s"gramv2|$sfDir|$gramWidth|$evalPct|$fpp",
      Seq("sketch" -> BloomSketchSchema, "grams" -> EvalGramsSchema))

  private val BloomSketchSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("bytes", BinaryType, nullable = false)))
  }

  /** [[contaminationReportBloom]] consuming the PERSISTED artifacts:
    * loads the serialized bloom and the exact eval-gram table from
    * [[evalGramBloom]] (building and persisting both on first use —
    * self-priming), so repeat invocations run NO eval-side work at all:
    * no gram explode, no distinct, no distributed sketch build — just
    * the map-side corpus prefilter and the broadcast verify join against
    * the stored gram table. Result stays row-identical to the exact
    * report: the stored sketch has the same no-false-negative guarantee,
    * and the verify join still kills false positives (spec-pinned; the
    * registered row reuses the exact report's oracle).
    */
  def contaminationReportBloomStored(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int = 13,
      evalPct: Int = 5,
      fpp: Double = 0.03): DataFrame = {
    val artifact = evalGramBloom(sfDir, gramWidth, evalPct, fpp)
    // the sketch bytes load once per root and documents version (the prime seeds them)
    val memoKey = s"bloom|${artifact.key}"
    val docs = IO.tableIdentity(spark, s"$sfDir/documents.parquet")
    val Seq(sketch, grams) = IO.servedArtifact(spark, artifact) { root =>
      import spark.implicits._
      val evalGrams = evalGramsFrame(gramDocs(spark, sfDir, gramWidth), evalPct)
      val bytes = buildBloomBytes(spark, sfDir, evalGrams, evalPct, fpp)
      evalGrams.write.mode("overwrite").parquet(s"$root/grams")
      Seq(bytes).toDF("bytes").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/sketch")
      Memo.put(memoKey, (root, docs), bytes)
    }
    val bytes = Memo(memoKey, (artifact.root(spark), docs)) {
      sketch.head().getAs[Array[Byte]](0)
    }
    reportWithBloomBytes(gramDocs(spark, sfDir, gramWidth), grams, bytes, evalPct)
  }

  /** Contaminated ids of the INCOMING-BATCH carve (doc_id % 10 == 0, the
    * incremental family's split): batch documents sharing any width-`w`
    * gram with the eval carve (bucket >= 100 - evalPct over the whole
    * table). A batch document that is itself an eval member flags
    * trivially — an eval doc must never be admitted to training. Same
    * shape as [[contaminationReport]]'s corpus side: batch grams map-side,
    * eval grams broadcast, one distinct on the (tiny) matched id set.
    * Seam for the ingest composition ([[Curate.ingestDecisions]]).
    */
  private[graft] def contaminatedBatchIds(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int,
      evalPct: Int = 5): DataFrame = {
    val docs = gramDocs(spark, sfDir, gramWidth)
    contaminatedIdsOf(
      docs.filter(col("doc_id") % 10 === 0),
      evalGramsFrame(docs, evalPct))
  }

  /** Contaminated ids of an ARBITRARY gram-bearing frame against an eval
    * gram set — the seam the streaming ingest gate drives per
    * micro-batch.
    */
  private[operators] def contaminatedIdsOf(
      gramDocs: DataFrame,
      evalGrams: DataFrame): DataFrame =
    gramDocs
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .select("doc_id")
      .distinct()

  /** (doc_id, grams) of an arbitrary (doc_id, text) frame + the eval gram
    * set of the stored corpus — the artifact pair the streaming gate
    * consumes.
    */
  private[operators] def gramsFor(
      arrivals: DataFrame,
      gramWidth: Int): DataFrame =
    withToks(arrivals)
      .select(col("doc_id"), gramHashes(gramWidth).as("grams"))

  private[operators] def evalGramsOf(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int,
      evalPct: Int = 5): DataFrame =
    evalGramsFrame(gramDocs(spark, sfDir, gramWidth), evalPct)

  /** The decontaminated training corpus: train documents with NO gram
    * overlap against the eval set. Anti-join against the (small)
    * contaminated id set — broadcastable, the corpus side stays map-only.
    */
  def decontaminate(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int = 13,
      evalPct: Int = 5): DataFrame = {
    val contaminatedIds =
      contaminationReport(spark, sfDir, gramWidth, evalPct).select("doc_id")
    withToks(IO.table(spark, sfDir, "documents"))
      .filter(col("bucket") < 100 - evalPct)
      .join(broadcast(contaminatedIds), Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }
}
