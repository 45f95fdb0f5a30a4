package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFamily, TextAnalysis}
import graft.sources.IO

/** End-to-end corpus curation: the composed pipeline a training-data run
  * actually executes, wiring the individual operators this library ships
  * into one auditable pass — exact dedup, then a quality floor, then a
  * per-source cap, with the per-document decision trail preserved (real
  * pipelines audit drops; they don't discard rows blind).
  *
  * Stage order is pinned and semantic: dedup FIRST (a duplicate must not
  * consume a source's cap budget), quality second, capping last (the cap
  * ranks only documents that survived the earlier stages).
  *
  * Scale shape: everything is computed on ONE scan of the corpus — the
  * quality score is inlined as a codegen'd column (no join against a
  * second scan), and the three decisions are two window passes (the
  * 192-bit-fingerprint dedup window, text pruned from its exchange, and
  * the per-source cap window, which ranks candidates first via a flag in
  * the sort key so survivors of the earlier stages occupy ranks 1..cap —
  * one window instead of a filter + join-back). No stage shuffles document
  * text except the scan itself; the cap window is the TopK-per-key shape.
  */
object Curate {

  /** Content-hash pick key for cap ordering — md5 hex digits 17-24, the
    * same draw [[CorpusPrep.capPerSource]] uses (uniform, deterministic,
    * independent of the split/sample key digits).
    */
  private def pickKey = conv(
    substring(md5(col("text").cast("binary")), 17, 8), 16, 10).cast("long")

  /** Per-document curation decision trail: quality score plus int flags
    * `is_canonical` (first doc_id of an identical-text group),
    * `passes_quality` (score >= minQuality), and `keep` (canonical AND
    * quality AND within the per-source cap). Flags are ints, not booleans,
    * so the cap window can rank on them and cross-engine compares never
    * touch boolean collation.
    */
  def decisions(
      spark: SparkSession,
      sfDir: String,
      minQuality: Double = 0.6,
      cap: Int = 12): DataFrame = {
    val dedupW = Window.partitionBy("fp_xx", "fp_md5").orderBy("doc_id")
    // candidates (cand=1) sort before non-candidates, so rank<=cap inside
    // the cand=1 prefix IS the per-source cap over surviving docs only
    val capW = Window.partitionBy("source")
      .orderBy(desc("cand"), col("pick_key"), col("doc_id"))
    IO.table(spark, sfDir, "documents")
      .withColumn("toks", TextAnalysis.wsTokens(col("text")))
      .withColumn("quality_score", TextAnalysis.qualityScoreCol)
      .withColumn("fp_xx", xxhash64(col("text")))
      .withColumn("fp_md5", md5(col("text").cast("binary")))
      .withColumn("pick_key", pickKey)
      .withColumn("is_canonical",
        (row_number().over(dedupW) === 1).cast("int"))
      .withColumn("passes_quality",
        (col("quality_score") >= minQuality).cast("int"))
      .withColumn("cand", col("is_canonical") * col("passes_quality"))
      .withColumn("keep",
        when(col("cand") === 1 && row_number().over(capW) <= cap, 1)
          .otherwise(0))
      .select("doc_id", "source", "lang", "n_chars", "quality_score",
        "is_canonical", "passes_quality", "keep")
      .orderBy("doc_id")
  }

  /** The curated corpus: kept documents only. */
  def curatedCorpus(
      spark: SparkSession,
      sfDir: String,
      minQuality: Double = 0.6,
      cap: Int = 12): DataFrame =
    decisions(spark, sfDir, minQuality, cap)
      .filter(col("keep") === 1)
      .select("doc_id", "source", "lang", "n_chars", "quality_score")
      .orderBy("doc_id")

  /** Distribution-RELATIVE quality pruning: drop the bottom
    * `dropFraction` of each source's quality distribution. Production
    * pipelines prune per-source percentiles rather than one absolute
    * floor — sources calibrate differently, and a fixed threshold
    * empties the strict source while passing everything from the lax one.
    *
    * The rank is `percent_rank` over (quality_score, doc_id) — pure
    * integer rank arithmetic over a deterministic total order, so the
    * cut is reproducible cross-engine and run-to-run (no interpolated
    * percentile, whose float arithmetic differs between engines). One
    * window pass per source; quality is computed inline below the
    * exchange (same posture as [[decisions]]).
    */
  def qualityQuantileFilter(
      spark: SparkSession,
      sfDir: String,
      dropFraction: Double = 0.25): DataFrame = {
    val w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    IO.table(spark, sfDir, "documents")
      .withColumn("toks", TextAnalysis.wsTokens(col("text")))
      .withColumn("quality_score", TextAnalysis.qualityScoreCol)
      .withColumn("pct_rank", percent_rank().over(w))
      .filter(col("pct_rank") >= dropFraction)
      .select("doc_id", "source", "quality_score", "pct_rank")
      .orderBy("doc_id")
  }

  /** INCREMENTAL INGEST decisions — the batch-arrival sibling of
    * [[curateThenPack]]: the loop a production pipeline runs when new
    * data lands, per incoming document (doc_id % 10 == 0, the incremental
    * family's carve), with the full gate trail:
    *
    *   1. `exact_dup`   — content fingerprint already in the corpus, or a
    *                      lower-id batch doc has the same text (the
    *                      [[Dedup.incrementalExact]] admit rule);
    *   2. `near_dup`    — a corpus doc within Hamming 3 of its simhash
    *                      (the [[Dedup.incrementalNearDupMd5]] verdict);
    *   3. `contaminated`— shares a gram with the eval carve (an eval
    *                      member itself flags — never train on eval);
    *   4. `passes_quality` — the [[decisions]] quality floor.
    *
    * `reason` is the FIRST failing gate in that pinned order (cheap exact
    * checks before expensive similarity, contamination before quality so
    * a leaky doc is never reported as merely low-quality); `admit` = no
    * gate failed. Flags are ints (cross-engine compares never touch
    * boolean collation; reason is the one string, null on admit).
    *
    * Scale shape: every gate is the already-audited incremental shape —
    * the corpus never reshuffles for the batch (fingerprint lookup
    * against a pre-bucketable index, banded-signature broadcast join,
    * batch-side-only gram explode against broadcast eval grams), and the
    * final assembly is batch-sized joins on doc_id.
    */
  def ingestDecisions(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int = 4,
      minQuality: Double = 0.6): DataFrame = {
    val docs = IO.table(spark, sfDir, "documents")
    val corpusFp = docs.filter(col("doc_id") % 10 =!= 0)
      .select(md5(col("text").cast("binary")).as("fp"))
      .distinct()
      .withColumn("in_corpus", lit(1))
    val batchW = Window.partitionBy("fp").orderBy("doc_id")
    val exact = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(corpusFp, Seq("fp"), "left")
      .withColumn("rn", row_number().over(batchW))
      .select(col("doc_id"),
        (col("in_corpus").isNotNull || col("rn") > 1).cast("int").as("exact_dup"))
    val nearDup = Dedup.incrementalNearDupMd5(spark, sfDir)
      .select(col("doc_id"), (!col("is_new")).cast("int").as("near_dup"))
    val contaminated = Decontaminate.contaminatedBatchIds(spark, sfDir, gramWidth)
      .withColumn("cont", lit(1))
    val quality = TextAnalysis.qualityScores(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        (col("quality_score") >= minQuality).cast("int").as("passes_quality"))
    val reason = when(col("exact_dup") === 1, lit("exact_dup"))
      .when(col("near_dup") === 1, lit("near_dup"))
      .when(col("contaminated") === 1, lit("contaminated"))
      .when(col("passes_quality") === 0, lit("low_quality"))
    exact
      .join(nearDup, "doc_id")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("contaminated", when(col("cont").isNotNull, 1).otherwise(0))
      .drop("cont")
      .join(quality, "doc_id")
      .withColumn("reason", reason)
      .withColumn("admit", col("reason").isNull.cast("int"))
      .select("doc_id", "exact_dup", "near_dup", "contaminated",
        "passes_quality", "admit", "reason")
      .orderBy("doc_id")
  }

  /** The per-micro-batch body of [[ingestGateStream]]: gate an ARBITRARY
    * arriving (doc_id, text, n_chars) frame against the STORED corpus
    * state — the same four gates as [[ingestDecisions]] in the same
    * pinned order, but with every corpus-side input an artifact or a
    * broadcastable derived frame, so the per-batch cost is
    * batch-bounded:
    *
    *   - exact_dup: md5 fingerprint against the PERSISTED corpus
    *     fingerprint set ([[ingestGateCorpus]] `fp`) + the lower-id-wins
    *     rule WITHIN the arriving batch;
    *   - near_dup: batch simhash banding broadcast against the PERSISTED
    *     corpus band index ([[Cluster.corpusClusterState]] `index` —
    *     the same artifact the incremental clustering extends);
    *   - contaminated: batch gram hashes against the PERSISTED eval gram
    *     set ([[ingestGateCorpus]] `evalgrams`, broadcast);
    *   - passes_quality: the inline quality score, map-side.
    *
    * Cross-batch note: admitted docs are NOT folded back into the
    * fingerprint/band artifacts here — production's foreachBatch body
    * appends them (the artifact-maintenance write this library's
    * artifact writers own), so two near-identical docs arriving in
    * DIFFERENT micro-batches both gate against the pre-stream corpus.
    * Within one micro-batch the batch-internal exact rule applies.
    */
  /** The gate's corpus-side inputs: the corpus fingerprint set (`fp`)
    * and the eval gram set (`evalgrams`) — the two frames
    * [[ingestGateBatch]] would otherwise re-derive from a full corpus
    * scan on EVERY micro-batch. The band index lives separately in
    * [[Cluster.corpusClusterState]] (shared with the incremental
    * clustering).
    */
  private[graft] def ingestGateCorpus(sfDir: String, gramWidth: Int): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "ingate", s"ingate_v1|$sfDir|mod10|$gramWidth",
      Seq("fp" -> CorpusFpSchema, "evalgrams" -> Decontaminate.EvalGramsSchema))

  /** The served (fp, evalgrams) parts, built ONCE per corpus version. */
  private def ingestGateCorpusStored(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int): Seq[DataFrame] =
    IO.servedArtifact(spark, ingestGateCorpus(sfDir, gramWidth)) { root =>
      IO.table(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 0)
        .select(md5(col("text").cast("binary")).as("fp"))
        .distinct()
        .coalesce(4).write.mode("overwrite").parquet(s"$root/fp")
      Decontaminate.evalGramsOf(spark, sfDir, gramWidth)
        .coalesce(4).write.mode("overwrite").parquet(s"$root/evalgrams")
    }

  /** Declared schema of the persisted corpus-fingerprint table (md5 hex
    * of non-null text is non-null).
    */
  private[graft] val CorpusFpSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("fp", StringType, nullable = false)))
  }

  def ingestGateBatch(
      spark: SparkSession,
      sfDir: String,
      arrivals: DataFrame,
      gramWidth: Int = 4,
      minQuality: Double = 0.6): DataFrame = {
    val batch = arrivals.select("doc_id", "text", "n_chars")
      .localCheckpoint()
    val Seq(storedFp, evalGrams) = ingestGateCorpusStored(spark, sfDir, gramWidth)
    val corpusFp = storedFp.withColumn("in_corpus", lit(1))
    val batchW = Window.partitionBy("fp").orderBy("doc_id")
    val exact = batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(corpusFp, Seq("fp"), "left")
      .withColumn("rn", row_number().over(batchW))
      .select(col("doc_id"),
        (col("in_corpus").isNotNull || col("rn") > 1).cast("int").as("exact_dup"))
    val nearDup = Dedup.incrementalNearDupFrames(
      batch.select("doc_id"),
      Dedup.simHashBandedFrom(Dedup.simHashSignatures(batch, HashFamily.Md5)),
      Cluster.corpusClusterStateStored(spark, sfDir).head,
      maxHamming = 3)
      .select(col("doc_id"), (!col("is_new")).cast("int").as("near_dup"))
    val contaminated = Decontaminate.contaminatedIdsOf(
      Decontaminate.gramsFor(batch, gramWidth),
      evalGrams)
      .withColumn("cont", lit(1))
    val quality = batch
      .withColumn("toks", TextAnalysis.wsTokens(col("text")))
      .withColumn("quality_score", TextAnalysis.qualityScoreCol)
      .select(col("doc_id"),
        (col("quality_score") >= minQuality).cast("int").as("passes_quality"))
    val reason = when(col("exact_dup") === 1, lit("exact_dup"))
      .when(col("near_dup") === 1, lit("near_dup"))
      .when(col("contaminated") === 1, lit("contaminated"))
      .when(col("passes_quality") === 0, lit("low_quality"))
    exact
      .join(nearDup, "doc_id")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("contaminated", when(col("cont").isNotNull, 1).otherwise(0))
      .drop("cont")
      .join(quality, "doc_id")
      .withColumn("reason", reason)
      .withColumn("admit", col("reason").isNull.cast("int"))
      .select("doc_id", "exact_dup", "near_dup", "contaminated",
        "passes_quality", "admit", "reason")
  }

  /** [[ingestDecisions]] with every corpus-side input read from the
    * persisted artifacts ([[ingestGateBatch]] applied to the batch
    * carve) — row-identical by construction (StreamingSpec pins the
    * equality), so the registered row keeps [[ingestDecisions]]' oracle;
    * the rebuild row times the corpus-recompute path.
    */
  def ingestDecisionsStored(
      spark: SparkSession,
      sfDir: String,
      gramWidth: Int = 4,
      minQuality: Double = 0.6): DataFrame =
    ingestGateBatch(spark, sfDir,
      IO.table(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select("doc_id", "text", "n_chars"),
      gramWidth, minQuality)
      .orderBy("doc_id")

  /** STREAMING ingest gate: every micro-batch of arriving documents is
    * gated by [[ingestGateBatch]] against the stored corpus artifacts and
    * the decision trail lands in `outDir/decisions` — IDEMPOTENTLY, via
    * the batchId-keyed overwrite directories of
    * [[graft.streaming.EventStream.writeBatch]]'s contract: a micro-batch
    * replayed after checkpoint recovery overwrites its own directory
    * instead of appending duplicate decision rows. This is the
    * foreachBatch shape production curation streams run, where the same
    * body also merges admitted fingerprints/bands back into the
    * artifacts. Caller awaits/stops the returned query.
    */
  def ingestGateStream(
      spark: SparkSession,
      sfDir: String,
      arrivals: DataFrame,
      outDir: String,
      gramWidth: Int = 4,
      minQuality: Double = 0.6): org.apache.spark.sql.streaming.StreamingQuery = {
    // prime the corpus artifacts EAGERLY, before the query starts: lazy
    // priming inside foreachBatch would run a corpus-scale clustering job
    // inside micro-batch 0 (trigger-timeout risk, and re-priming on every
    // checkpoint recovery); after this the per-batch body is strictly
    // batch-bounded
    ingestGateCorpusStored(spark, sfDir, gramWidth)
    Cluster.corpusClusterStateStored(spark, sfDir)
    arrivals.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestGateBatch(spark, sfDir, batch, gramWidth, minQuality)
          .write.mode("overwrite")
          .parquet(s"$outDir/decisions/batch_id=$batchId")
      }
      .start()
  }

  /** The FLAGSHIP end-to-end composition — what a training-data run
    * actually executes, as ONE lineage: curation (dedup → quality →
    * per-source cap) → decontamination → epoch shuffle → sequence
    * packing. Output: one row per surviving document with its shuffle
    * shard, position, and packed-sequence assignment — the manifest a
    * training loader reads.
    *
    * Composition discipline (the reason this is one pipeline, not four
    * queries glued together):
    *   - the corpus is scanned ONCE for all curation signals (quality,
    *     fingerprints, cap key, split bucket, token count are inline
    *     columns of the same scan — no join against a second scan);
    *   - the contamination id set arrives as a BROADCAST side input from
    *     [[Decontaminate.contaminationReportBloomStored]] (the persisted
    *     sketch path), anti-joined map-side: eval-side work is zero after
    *     the artifact exists, and the corpus side of that report is the
    *     only other scan of the table;
    *   - shuffle position and pack offset are two window passes over the
    *     SAME (shard) partitioning — one exchange, the second window
    *     sorts within already-shuffled partitions;
    *   - stage order is load-bearing: dedup/quality/cap before
    *     decontamination keeps the cap budget honest, and packing runs
    *     over the SHUFFLED order because training sequences must mix
    *     sources (packing doc_id-ordered would concatenate each source's
    *     docs back to back — exactly the correlation the shuffle exists
    *     to break).
    */
  def curateThenPack(
      spark: SparkSession,
      sfDir: String,
      minQuality: Double = 0.6,
      cap: Int = 12,
      gramWidth: Int = 13,
      evalPct: Int = 5,
      seed: Long = 42L,
      numBuckets: Int = 64,
      ctxLen: Long = 2048L): DataFrame = {
    val dedupW = Window.partitionBy("fp_xx", "fp_md5").orderBy("doc_id")
    val capW = Window.partitionBy("source")
      .orderBy(desc("cand"), col("pick_key"), col("doc_id"))
    val flags = IO.table(spark, sfDir, "documents")
      .withColumn("toks", TextAnalysis.wsTokens(col("text")))
      .withColumn("quality_score", TextAnalysis.qualityScoreCol)
      .withColumn("fp_xx", xxhash64(col("text")))
      .withColumn("fp_md5", md5(col("text").cast("binary")))
      .withColumn("pick_key", pickKey)
      // the same content-hash split bucket the decontamination stage keys
      // on (md5 hex digits 1-8 mod 100): eval docs never enter the corpus
      .withColumn("split_bucket",
        (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("is_canonical",
        (row_number().over(dedupW) === 1).cast("int"))
      .withColumn("passes_quality",
        (col("quality_score") >= minQuality).cast("int"))
      .withColumn("cand", col("is_canonical") * col("passes_quality"))
      .withColumn("keep",
        when(col("cand") === 1 && row_number().over(capW) <= cap, 1)
          .otherwise(0))
    val contaminatedIds = Decontaminate
      .contaminationReportBloomStored(spark, sfDir, gramWidth, evalPct)
      .select("doc_id")
    val survivors = flags
      .filter(col("keep") === 1 && col("split_bucket") < 100 - evalPct)
      .join(broadcast(contaminatedIds), Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "quality_score", "n_tokens")
    // epoch shuffle ([[CorpusPrep.shuffleOrder]]'s key), then packing in
    // SHUFFLED order — shard is the shuffle bucket, offsets accumulate
    // along the training read order
    val shuffleKey = HashFamily.Md5.feature(
      concat(lit(seed.toString), lit(":"), col("doc_id").cast("string")))
    val wPos = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    val wOff = Window.partitionBy("shard").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors
      .withColumn("shuffle_key", shuffleKey)
      .withColumn("shard", pmod(col("shuffle_key"), lit(numBuckets.toLong)))
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .withColumn("offset_in_shard", sum("n_tokens").over(wOff) - col("n_tokens"))
      .withColumn("seq_id", expr(s"offset_in_shard div $ctxLen"))
      .select("doc_id", "source", "quality_score", "shard", "pos",
        "n_tokens", "offset_in_shard", "seq_id")
      .orderBy("shard", "pos")
  }

  /** Per-source curation funnel: input docs → canonical (post-dedup) →
    * quality survivors (among canonical) → kept after the cap. The
    * retention report a corpus build publishes.
    */
  def report(
      spark: SparkSession,
      sfDir: String,
      minQuality: Double = 0.6,
      cap: Int = 12): DataFrame =
    decisions(spark, sfDir, minQuality, cap)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_input"),
        sum("is_canonical").as("n_canonical"),
        sum(col("is_canonical") * col("passes_quality")).as("n_quality"),
        sum("keep").as("n_kept"))
      .orderBy("source")
}
