package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.IO

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * estimate target-vs-raw distributions over HASHED n-gram features,
  * weight every raw document by its log importance ratio, then draw the
  * sample with Gumbel-top-N — the published recipe for "select raw web
  * data that looks like the target domain" at corpus scale.
  *
  * The feature space is `NumBuckets` hash buckets of word unigrams (the
  * paper hashes unigrams+bigrams into 10k buckets; the mechanics are
  * identical). The target here is the corpus' own `lang = 'en'` slice —
  * any target predicate or a separate target table slots into the same
  * shape. Bucket hashing reuses the md5 convention every content-hash
  * operator in this repo uses ([[CorpusPrep]]'s split/sample spans), so
  * the DuckDB oracle replays it exactly; the Gumbel uniform reads md5
  * hex digits 17-24 — disjoint from the split span (1-8) and the
  * sampling span (9-16), so selection is independent of both.
  *
  * Scale shape: ONE corpus pass builds both distributions (the target is
  * a flag inside the same aggregation — no second scan); the estimator
  * artifact is `NumBuckets` rows, broadcast back for per-document
  * scoring in a second pass; Gumbel-top-N is a TakeOrdered over the
  * integer key, never a global sort. Nothing data-scale shuffles except
  * the bucket-count aggregation (map-side combined, `NumBuckets`-bounded
  * output) and the per-doc re-aggregation.
  *
  * Determinism: the per-bucket log-ratio is fixed-pointed ONCE
  * (round(float(ln(ρ))·1e6) BIGINT — the unigram-LM convention), so a
  * document's log-weight is an exact integer dot product of bucket
  * counts with the fixed-point table: bit-identical across partition
  * orders and engines. The Gumbel key adds round(float(g)·1e6) of a
  * hash-seeded Gumbel draw — float-washed at both ln applications —
  * and ties break on doc_id.
  */
object Importance {

  private[graft] val NumBuckets = 256

  /** Hash a term to its feature bucket: md5 hex digits 1-8 mod B. */
  private def bucketOf(term: Column): Column =
    conv(substring(md5(term.cast("binary")), 1, 8), 16, 10)
      .cast("long") % NumBuckets

  private def tokens(spark: SparkSession, sfDir: String): DataFrame =
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        explode(split(col("text"), " ")).as("term"))

  /** The importance ESTIMATOR artifact: per feature bucket, raw and
    * target token counts and the Laplace-smoothed fixed-point log-ratio
    * log((t+1)/(T+B) ÷ (r+1)/(R+B)). `NumBuckets` rows — train once,
    * reuse for every scoring pass (the codebook contract).
    */
  def logRatios(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = tokens(spark, sfDir)
      .groupBy(bucketOf(col("term")).as("bucket"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"))
    val totals = counts.agg(
      sum("n_raw").cast("double").as("tot_raw"),
      sum("n_tgt").cast("double").as("tot_tgt"))
    val b = lit(NumBuckets.toDouble)
    // pinned order: both smoothed rates form first, then the quotient,
    // then the float-washed ln — the oracle writes the identical chain
    val rate = (col("n_tgt").cast("double") + lit(1.0)) / (col("tot_tgt") + b)
    val base = (col("n_raw").cast("double") + lit(1.0)) / (col("tot_raw") + b)
    counts
      .crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_raw"), col("n_tgt"),
        round(log(rate / base).cast("float") * lit(1000000.0), 0)
          .cast("long").as("logratio_fix"))
      .orderBy("bucket")
  }

  /** Per-document importance log-weight: Σ over the document's tokens of
    * the token's bucket log-ratio (exact integer dot product with the
    * estimator table). Also emits the token count — the weight is
    * length-extensive, which is what the resampler wants (a long
    * on-target document IS more target evidence than a short one).
    */
  def weights(spark: SparkSession, sfDir: String): DataFrame =
    weightsFix(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"),
        (col("lw_fix").cast("double") / lit(1000000.0)).as("log_weight"))
      .orderBy("doc_id")

  /** Gumbel-top-N importance resample: key = lw_fix + fix(Gumbel(u)),
    * u seeded from the content hash — the without-replacement sampler
    * the DSIR paper specifies, derandomized the way every sampler in
    * this repo is (hash-uniform in place of an RNG). N = frac·corpus
    * (corpus size from footer metadata — no count job).
    */
  def sample(
      spark: SparkSession,
      sfDir: String,
      frac: Double = 0.25): DataFrame = {
    val n = IO.parquetRowCount(spark, s"$sfDir/documents.parquet")
    val take = math.max(1L, math.floor(frac * n).toLong).toInt
    val docs = IO.table(spark, sfDir, "documents")
    val u = (conv(substring(md5(col("text").cast("binary")), 17, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    // g = −ln(−ln u), float-washed at BOTH ln applications so each
    // engine's libm ulp is absorbed before it can propagate
    val g = -log(-log(u).cast("float")).cast("float")
    val keyed = docs.select(col("doc_id"), col("text"))
      .join(weightsFix(spark, sfDir), "doc_id")
      .withColumn("key_fix",
        col("lw_fix") + round(g.cast("double") * lit(1000000.0), 0).cast("long"))
    keyed
      .orderBy(desc("key_fix"), asc("doc_id"))
      .limit(take)
      .select(col("doc_id"),
        (col("key_fix").cast("double") / lit(1000000.0)).as("gumbel_key"))
      .orderBy("doc_id")
  }

  /** The persisted 256-row estimator — the DSIR "trained model" (the
    * codebook contract made literal: train once per corpus version,
    * every scoring pass reads the table).
    */
  private[graft] def estimator(sfDir: String): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "dsir", s"dsir_v1|$sfDir|$NumBuckets|en",
      Seq("" -> IO.longSchema("bucket", "n_raw", "n_tgt", "logratio_fix")), ".parquet")

  /** The persisted estimator, self-priming on first use. Row-identical to
    * [[logRatios]] by construction, so every consumer keeps its oracle.
    */
  private def estimatorStored(
      spark: SparkSession,
      sfDir: String): DataFrame =
    IO.servedArtifact(spark, estimator(sfDir)) { root =>
      logRatios(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(root)
    }.head

  /** (doc_id, n_tokens, lw_fix) — the exact-integer weight seam
    * [[weights]] presents and [[sample]] keys on. Scores against the
    * PERSISTED estimator: one corpus pass total per call, the estimator
    * pass runs only at priming.
    */
  private def weightsFix(spark: SparkSession, sfDir: String): DataFrame =
    tokens(spark, sfDir)
      .withColumn("bucket", bucketOf(col("term")))
      .join(broadcast(estimatorStored(spark, sfDir)
        .select("bucket", "logratio_fix")), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("logratio_fix").as("lw_fix"))
}
