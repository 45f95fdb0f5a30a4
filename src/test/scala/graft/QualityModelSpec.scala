package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.QualityModel
import graft.sources.Memo

/** Behavior specs for the distilled quality classifier: bit-determinism
  * of the trained weights (the whole point of the fixed-point gradient +
  * hard-sigmoid design), and that the distilled model actually tracks
  * the rule battery it was trained on.
  */
class QualityModelSpec extends SparkTestBase {

  test("trained weights are bit-identical across runs and partitionings") {
    Memo.clear() // force a real retrain on both sides
    val a = QualityModel.lrWeights(spark, Sf).collect().toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      Memo.clear()
      val b = QualityModel.lrWeights(spark, Sf).collect().toSeq
      assert(a == b, "weight vector must not depend on partition layout")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    // training must actually move off the zero init
    assert(a.exists(_.getDouble(1) != 0.0), "all-zero weights: GD did not step")
  }

  test("scores are valid probabilities and predicted is the 0.5 cut") {
    val s = QualityModel.lrScores(spark, Sf)
    assert(s.filter(col("score") < 0f || col("score") > 1f).isEmpty)
    assert(s.filter(col("predicted") =!= (col("score") >= 0.5f)).isEmpty)
    val n = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(s.count() == n)
  }

  test("distilled model beats the majority-class baseline on its labels") {
    val labels = TextAnalysis.gopherRules(spark, Sf)
      .select(col("doc_id"), col("keep").cast("int").as("y"))
    val pred = QualityModel.lrScores(spark, Sf)
      .select(col("doc_id"), col("predicted").cast("int").as("yhat"))
    val joined = labels.join(pred, "doc_id").cache()
    val n = joined.count().toDouble
    val acc = joined.filter(col("y") === col("yhat")).count() / n
    val majority = math.max(
      joined.filter(col("y") === 1).count() / n,
      joined.filter(col("y") === 0).count() / n)
    joined.unpersist()
    // 3 GD steps from zero on separable-ish exact-ratio features: the
    // linear model must recover signal beyond always-guess-majority
    assert(acc >= majority - 0.01,
      f"distilled acc $acc%.3f below majority baseline $majority%.3f")
    assert(acc > 0.5, f"accuracy $acc%.3f is chance-level")
  }

  test("plan audit: one training pass per iteration, scoring is map-side") {
    val scores = QualityModel.lrScores(spark, Sf)
    val p = scores.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"scoring must be scan+project plus the sort only:\n$p")
    assert(p.contains("rangepartitioning"), "the one exchange must be the sort")
  }
}
