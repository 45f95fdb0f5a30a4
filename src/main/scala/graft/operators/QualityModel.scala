package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IO, Memo}

/** Distilled quality CLASSIFIER: logistic regression trained distributed
  * on rule-battery labels — the published recipe behind the fastText-style
  * quality models the big corpora actually filter with (a cheap linear
  * model distills a slow/hand-tuned labeling pass, then scores every
  * document at scan speed). Labels here are [[graft.functions.TextAnalysis
  * .gopherRules]]' `keep` verdict; features are the proven exact-ratio
  * signals (stopword/alpha ratios, scaled mean token length) — every input
  * replays bit-for-bit cross-engine, so training itself can be oracled.
  *
  * Training is full-batch gradient descent with a FIXED iteration count:
  * each iteration is ONE aggregation job over the corpus (map-side partial
  * sums), and the model is a bounded driver artifact (numFeatures doubles)
  * — exactly the k-means codebook contract from SCALING.md
  * "Train-once model artifacts". At 100 TB each pass is a linear
  * map-side scan; nothing shuffles but the 4-long partial-sum rows.
  *
  * Determinism (the interesting part — a naive double-sum gradient is
  * partition-order dependent): two hazards, two fixes.
  *   - Partition order: each row's per-feature gradient contribution
  *     (p−y)·x_j is fixed-pointed to round(·×10⁶) BIGINT before summing;
  *     integer sums are order-independent (the kmeans convention).
  *   - Engine drift: the TRUE sigmoid puts libm `exp` inside the training
  *     loop, and its ≤1-ulp JVM-vs-C drift compounds across iterations —
  *     measured on this corpus it flips one fixed-point gradient unit by
  *     iteration 2 and desynchronizes every weight after it (a float cast
  *     cannot absorb a drift that lands ON a rounding boundary). So the
  *     model uses the HARD sigmoid σ̂(m) = clamp(m/4 + 1/2, 0, 1) — the
  *     published piecewise-linear surrogate from the quantized-network
  *     literature — whose every operation (×2⁻², +, clamp) is an exact or
  *     correctly-rounded IEEE primitive identical on all engines.
  * Weight updates divide the exact integer sums in a pinned operation
  * order, so the weight VECTOR is bit-identical across runs, partition
  * counts, and engines — the DuckDB oracle replays all three unrolled
  * iterations and hash-matches the weights exactly.
  */
object QualityModel {

  /** Gopher stop-set (label side) and quality stop-set (feature side) —
    * the same lists the oracled txt_gopher_rules / txt_quality rows use.
    */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val QualityStops =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on", "with")

  private[graft] val FeatureNames =
    Seq("bias", "mean_token_len_s", "stopword_ratio", "alpha_ratio")

  /** One map-side pass producing (doc_id, y, x0..x3): the Gopher label and
    * the scaled feature vector. No join — label and features project from
    * the same scan.
    */
  private def featureFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = col("toks")
    val nW = size(toks).cast("double")
    val meanWordLen =
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L),
        (acc, x) => acc + x).cast("double") / nW
    val fracAlphaWords = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double") / nW
    val symbolRatio =
      size(expr("regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0)")).cast("double") / nW
    val gopherHits = size(filter(toks, t => lower(t).isin(GopherStops: _*))).cast("long")
    val keep = size(toks).cast("long").between(50, 100000) &&
      meanWordLen.between(3.0, 10.0) && fracAlphaWords >= 0.80 &&
      symbolRatio <= 0.10 && gopherHits >= 2
    val stopRatio = size(filter(toks, t => t.isInCollection(QualityStops)))
      .cast("double") / nW
    val alphaRatio = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      .cast("double") / col("n_chars").cast("double")
    IO.table(spark, sfDir, "documents")
      .withColumn("toks", split(col("text"), "\\s+"))
      .select(
        col("doc_id"),
        keep.cast("int").cast("double").as("y"),
        lit(1.0).as("x0"),
        ((col("n_chars").cast("double") / nW) / lit(10.0)).as("x1"),
        stopRatio.as("x2"),
        alphaRatio.as("x3"))
  }

  /** σ̂(w·x) = clamp(w·x/4 + 1/2, 0, 1) with the margin accumulated in
    * pinned left-to-right order — the oracle writes the identical
    * expression. No transcendental anywhere (see the determinism note).
    */
  private def sigmoid(w: Seq[Double]): Column = {
    val margin = lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
    least(lit(1.0), greatest(lit(0.0), lit(0.25) * margin + lit(0.5)))
  }

  /** The trained weight vector after `iters` full-batch GD steps from
    * w=0 at learning rate `lr`. One Spark job per iteration; the model is
    * the returned 4 doubles, a [[Memo]] entry under the documents table's
    * file identity: every consumer — the weights row, the scoring row,
    * audits — pays training once per corpus version.
    */
  def trainWeights(
      spark: SparkSession,
      sfDir: String,
      iters: Int = 3,
      lr: Double = 1.0): Seq[Double] =
    Memo(s"lr_v1|$sfDir|$iters|$lr", IO.tableIdentity(spark, s"$sfDir/documents.parquet")) {
      val f = featureFrame(spark, sfDir)
      var w = Seq(0.0, 0.0, 0.0, 0.0)
      for (_ <- 0 until iters) {
        val p = sigmoid(w)
        // no float cast needed: every input to the product is an exact or
        // correctly-rounded double identical on all engines, so the
        // fixed-point round sees the same value everywhere; the BIGINT sum
        // is purely for partition-order independence
        def gFix(xj: String): Column =
          sum(round(((p - col("y")) * col(xj)) * lit(1000000.0), 0)
            .cast("long"))
        val row = f.agg(gFix("x0").as("g0"), gFix("x1").as("g1"),
          gFix("x2").as("g2"), gFix("x3").as("g3"),
          count(lit(1)).as("n")).collect()(0)
        val n = row.getLong(4).toDouble
        w = w.zipWithIndex.map { case (wj, j) =>
          wj - lr * (row.getLong(j).toDouble / (n * 1000000.0))
        }
      }
      w
    }

  /** The model artifact as a frame: (feature, weight) — hash-oracled
    * value for value against DuckDB's unrolled-GD replay.
    */
  def lrWeights(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    FeatureNames.zip(trainWeights(spark, sfDir))
      .toDF("feature", "weight")
      .orderBy("feature")
  }

  /** Per-document quality score under the trained model: σ̂(w·x)
    * (float-cast for presentation), plus the ≥0.5 decision. Scoring is
    * one map-side pass — the entire point of distilling rules into a
    * linear model.
    */
  def lrScores(spark: SparkSession, sfDir: String): DataFrame = {
    val w = trainWeights(spark, sfDir)
    featureFrame(spark, sfDir)
      .select(col("doc_id"),
        sigmoid(w).cast("float").as("score"))
      .withColumn("predicted", col("score") >= 0.5f)
      .orderBy("doc_id")
  }

  /** CALIBRATION (reliability) TABLE for the distilled model — the eval
    * row that decides whether the score can gate a corpus at a chosen
    * threshold: per score PERCENT bin (fine enough to resolve the
    * narrow margin band a few GD iterations produce), document count,
    * teacher-positive count and rate, and the mean predicted score. A well-calibrated score has
    * pos_rate tracking mean_score per bucket; a miscalibrated one needs
    * re-thresholding before it filters anything.
    *
    * Scale shape: one map-side scoring pass (the whole point of the
    * distilled linear model) into a 100-percent-bin aggregation
    * (floor(score·100) capped at 99) — the report is at most 100 rows
    * regardless of corpus volume.
    *
    * Determinism: the hard-sigmoid score replays bit-for-bit (see the
    * object scaladoc); bucketing floors an exact double product; counts
    * are exact longs and the mean score follows the fixed-point-sum
    * convention.
    */
  def lrCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val w = trainWeights(spark, sfDir)
    val scored = featureFrame(spark, sfDir)
      .select(col("y"), sigmoid(w).cast("float").as("score"))
    scored
      .select(col("y"), col("score"),
        least(floor(col("score").cast("double") * 100.0), lit(99L))
          .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("y").cast("long")).as("positives"),
        sum(round(col("score").cast("double") * 1000000.0, 0).cast("long"))
          .as("sfx"))
      .select(col("bucket"), col("n"), col("positives"),
        // EMITTED-DOUBLE CONVENTION (SCALING.md): final GD-derived
        // ratios cut to FLOAT — see Events.btRatings.
        (col("positives").cast("double") / col("n").cast("double"))
          .cast("float").as("pos_rate"),
        (col("sfx").cast("double") / col("n").cast("double") / 1000000.0)
          .cast("float").as("mean_score"))
      .orderBy("bucket")
  }

  import graft.plans.DistributedRank.rangeCumsum

  /** EXPECTED CALIBRATION ERROR over the [[lrCalibration]] buckets —
    * the one-number summary a gating decision quotes next to AUC:
    * ECE = Σ_b (n_b/N)·|pos_rate_b − mean_score_b|, plus the worst
    * single-bucket gap. Determinism: pos_rate/mean_score are the
    * calibration row's float-cut values (bit-identical cross-engine);
    * their double difference is exact; the weighted sum fixed-points
    * each bucket's n·|gap| term to a BIGINT (order-independent — a
    * plain double sum would depend on partition order) and divides
    * once at the end, the SCALING.md emitted-value convention.
    * Degenerate empty corpus pins to NULL via the exact integer
    * condition.
    *
    * Scale shape: an aggregate over the ≤100-row calibration frame —
    * nothing here sees corpus-scale data.
    */
  def lrEce(spark: SparkSession, sfDir: String): DataFrame = {
    val gap = abs(col("pos_rate").cast("double")
      - col("mean_score").cast("double"))
    lrCalibration(spark, sfDir)
      .agg(sum("n").as("nTot"),
        sum(round(col("n").cast("double") * gap * lit(1000000.0), 0)
          .cast("long")).as("wfix"),
        max(gap.cast("float")).as("max_ce"))
      .select(col("nTot").as("n"),
        when(col("nTot") > 0,
          (col("wfix").cast("double") / col("nTot").cast("double")
            / lit(1000000.0)).cast("float")).as("ece"),
        col("max_ce"))
  }

  /** (y, score) pairs under the trained model — the shared input of the
    * two threshold-free eval rows below.
    */
  private def scoredFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = trainWeights(spark, sfDir)
    featureFrame(spark, sfDir)
      .select(col("y").cast("long").as("y"),
        sigmoid(w).cast("float").as("score"))
  }

  /** EXACT ROC AUC of the distilled score against the teacher labels —
    * the rank-statistic (Mann-Whitney U) form with average ranks for
    * ties, the number a model gate quotes before any threshold is
    * chosen. Everything until the last divide is exact integers:
    * scores aggregate to (score, cnt, pos) groups, a cumulative count
    * gives each group's DOUBLED average rank r2 = 2·cum_before + cnt +
    * 1 (doubling keeps the half-rank integral), and
    * U2 = Σ pos·r2 − nPos·(nPos+1) is twice the U statistic, so
    * AUC = U2 / (2·nPos·nNeg) — one divide of exact BIGINTs, emitted
    * FLOAT (the SCALING.md convention) next to its integer numerator.
    *
    * Scale shape: one map-side scoring pass collapses to ≤ |distinct
    * scores| rows, then the global cumulative count is the TWO-PHASE
    * DISTRIBUTED RANK (the classic parallel prefix-sum shape): the
    * tie-collapsed groups range-partition by score, each range computes
    * its LOCAL cumulative inside an ordinary partitioned window, and a
    * per-range total — at most `spark.sql.shuffle.partitions` rows, a
    * bounded driver artifact like the k-means codebook — prefix-sums
    * into broadcast offsets added back per row. No single-partition
    * WindowExec anywhere in the plan (PlanAuditSpec pins this); range
    * boundary placement cannot move the result because local-cum +
    * earlier-range totals telescopes to the same global cumulative
    * wherever the cuts fall.
    *
    * Degenerate corpus (one class absent): nPos·nNeg = 0 makes AUC
    * undefined — pinned to NULL via the exact integer condition both
    * engines evaluate identically (the events_ab_test z/t convention).
    */
  def lrAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val g = scoredFrame(spark, sfDir)
      .groupBy("score")
      .agg(count(lit(1)).as("cnt"), sum("y").as("pos"))
    val ranked = rangeCumsum(g, col("score"), Seq("cnt" -> "cumall"))
      .withColumn("r2", (col("cumall") - col("cnt")) * 2 + col("cnt") + 1)
    ranked
      .agg(sum(col("pos") * col("r2")).as("posr2"),
        sum("pos").as("npos"),
        sum(col("cnt") - col("pos")).as("nneg"))
      .select(
        (col("npos") + col("nneg")).as("n"),
        col("npos").as("n_pos"), col("nneg").as("n_neg"),
        (col("posr2") - col("npos") * (col("npos") + 1)).as("u2"),
        when(col("npos") > 0 && col("nneg") > 0,
          ((col("posr2") - col("npos") * (col("npos") + 1)).cast("double")
            / (lit(2.0) * col("npos").cast("double")
              * col("nneg").cast("double"))).cast("float")).as("auc"))
  }

  /** PRECISION/RECALL/F1 SWEEP at percent thresholds — the bounded
    * (≤100-row) companion of [[lrAuc]] and the table a gating decision
    * actually reads: per occupied score bucket b, the exact confusion
    * counts of the rule "keep iff score ≥ b/100" (tp/fp/fn from
    * descending cumulative sums) and the float-cut ratios. Counts are
    * exact BIGINTs; each ratio is one divide of exact integers (f1 =
    * 2tp/(2tp+fp+fn), the harmonic form with no intermediate ratio).
    *
    * Scale shape: the same one-pass percent-bin aggregation as
    * [[lrCalibration]]; the descending cumulative runs through
    * [[rangeCumsum]] (≤100 rows, but no single-partition WindowExec
    * regardless). Degenerate corpus (no positives): recall is 0/0 —
    * pinned to NULL via the exact integer condition both engines
    * evaluate identically; precision (tp+fp = cum n ≥ 1 per occupied
    * bucket) and f1 (denominator = cum n + tot_pos ≥ 1) cannot
    * degenerate.
    */
  def lrPrTable(spark: SparkSession, sfDir: String): DataFrame = {
    val b = scoredFrame(spark, sfDir)
      .select(col("y"),
        least(floor(col("score").cast("double") * 100.0), lit(99L))
          .as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
      .localCheckpoint() // ≤100 rows; cumsum + total read it twice
    val tot = b.agg(sum("pos").as("tot_pos"))
    rangeCumsum(b, col("bucket").desc, Seq("pos" -> "tp", "n" -> "cumn"))
      .withColumn("fp", col("cumn") - col("tp"))
      .crossJoin(broadcast(tot))
      .select(col("bucket").as("threshold_bucket"),
        col("tp"), col("fp"),
        (col("tot_pos") - col("tp")).as("fn"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .cast("float").as("precision"),
        when(col("tot_pos") > 0,
          (col("tp").cast("double") / col("tot_pos").cast("double"))
            .cast("float")).as("recall"),
        ((lit(2.0) * col("tp").cast("double"))
          / (col("tp") * 2 + col("fp") + col("tot_pos") - col("tp"))
            .cast("double")).cast("float").as("f1"))
      .orderBy("threshold_bucket")
  }
}
