package graft

import org.apache.spark.sql.functions._

import graft.functions.HashFamily
import graft.obs.RunRecord
import graft.operators.{Multimodal, QualityModel, Similarity}

/** Behavior specs for the round-13 hardening: the IVF margin row's pair
  * budget (deterministic md5-split degradation instead of unbounded
  * candidate growth).
  */
class Round13OpsSpec extends SparkTestBase {

  test("marginBitextPairsIvf: pair budget engages via the md5 src split") {
    val budget = 2000L
    val full = Similarity.marginBitextPairsIvf(spark, Sf).localCheckpoint()
    val (capped, notes) = RunRecord.capture(
      Similarity.marginBitextPairsIvf(spark, Sf, maxPairs = budget).localCheckpoint())
    val nPairs = notes(RunRecord.MarginIvfCandidates)
    assert(nPairs > budget,
      s"sf0.001 must exceed the test budget or nothing is proven ($nPairs)")
    val nFull = full.count()
    val nCapped = capped.count()
    assert(nCapped > 0, "the capped row must degrade, not go empty")
    assert(nCapped < nFull,
      s"a $budget-pair budget must engage at sf0.001 ($nCapped vs $nFull)")
    // the surviving src set is the documented md5 split (exact-row salt,
    // same double op order for the cut) — necessary condition: every
    // emitted src hashes under the cut
    val cut = math.floor(
      budget.toDouble / nPairs.toDouble * 4294967296.0).toLong
    val hash = conv(substring(md5(concat(col("src_id").cast("string"),
      lit("|margin_cap")).cast("binary")), 1, 8), 16, 10).cast("long")
    val overCut = capped.filter(hash >= lit(cut)).count()
    assert(overCut == 0,
      s"every capped-output src must hash under the cut ($overCut over)")
    // engagement direction: the uncapped run emits srcs the split drops
    val fullOver = full.filter(hash >= lit(cut)).count()
    assert(fullOver > 0,
      "the uncapped run must contain srcs the split would drop")
    // the forward top-1 CHOICE of a surviving src is cap-invariant (its
    // probed neighborhood is intact; only the cross-src backward
    // averages move) — capped (src, tgt, sim) never contradicts full's
    // top-1 for the same src
    val contra = capped.select(col("src_id"), col("tgt_id").as("ct"))
      .join(full.select(col("src_id"), col("tgt_id").as("ft")), "src_id")
      .filter(col("ct") =!= col("ft"))
    assert(contra.isEmpty,
      "a surviving src's forward top-1 must not change under the cap")
  }

  test("mm near-dup: the band+flip blocking is lossless against naive all-pairs") {
    val banded = Multimodal.nearDupPairs(spark, Sf, HashFamily.Md5).localCheckpoint()
    // naive truth: every ordered pair, all three bounds applied directly
    val face = Multimodal.fingerprintFace(spark, Sf, HashFamily.Md5).localCheckpoint()
    val naive = face.select(col("media_id").as("media_a"),
        col("kind").as("ka"), col("n_bytes").as("la"),
        col("sig").as("sa"), col("ffix").as("fa"))
      .crossJoin(face.select(col("media_id").as("media_b"),
        col("kind").as("kb"), col("n_bytes").as("lb"),
        col("sig").as("sb"), col("ffix").as("fb")))
      .filter(col("media_a") < col("media_b") && col("ka") === col("kb"))
      .select(col("media_a"), col("media_b"),
        abs(col("la") - col("lb")).as("len_delta"),
        expr("bit_count(sa ^ sb)").as("hamming"),
        aggregate(zip_with(col("fa"), col("fb"), (a, b) => abs(a - b)),
          lit(0L), (acc, x) => acc + x).as("l1_fix"))
      .filter(col("len_delta") <= Multimodal.NearDupLenWindow &&
        col("hamming") <= Multimodal.MediaFpMaxHamming &&
        col("l1_fix") <= Multimodal.MediaFpL1Window)
      .localCheckpoint()
    assert(banded.count() > 0, "sf0.001 must contain media near-dups")
    assert(banded.count() === naive.count())
    val missed = naive.join(banded, Seq("media_a", "media_b"), "left_anti")
    val extra = banded.join(naive, Seq("media_a", "media_b"), "left_anti")
    assert(missed.isEmpty, "blocking must never drop a qualifying pair")
    assert(extra.isEmpty, "verify must reject every non-qualifying candidate")
  }

  test("mm dedup decision: one keeper per component, highest fidelity wins") {
    val d = Multimodal.nearDupDecision(spark, Sf, HashFamily.Md5).localCheckpoint()
    val perComp = d.groupBy("component_id")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("keepers"),
        count(lit(1)).as("n"),
        max(col("cluster_size")).as("sz"),
        max(when(col("keep"), col("fidelity"))).as("kept_fid"),
        max(col("fidelity")).as("max_fid"))
      .localCheckpoint()
    assert(perComp.filter(col("keepers") =!= 1L).isEmpty,
      "every component keeps exactly one representative")
    assert(perComp.filter(col("n") =!= col("sz")).isEmpty,
      "cluster_size must equal the component's row count")
    assert(perComp.filter(col("kept_fid") =!= col("max_fid")).isEmpty,
      "the keeper must carry the component's highest fidelity")
    assert(d.filter(!col("keep")).count() > 0,
      "sf0.001 must contain droppable media duplicates")
    // the fidelity column IS the parsed-header signal: every image row
    // must equal width×height and every audio row sample_rate×channels
    // as parsed from the real container bytes — a parser regression
    // falls back to payload size and trips this
    val dims = Multimodal.dimsQuery(spark, Sf)
      .withColumn("want",
        when(col("fmt").isin("png", "jpeg", "mp4"),
          col("width").cast("long") * col("height").cast("long"))
          .otherwise(col("sample_rate").cast("long") * col("channels").cast("long")))
      .select("media_id", "want")
    assert(d.join(dims, "media_id")
      .filter(col("fidelity") =!= col("want")).isEmpty,
      "fidelity must be exactly the parsed-header product for every media")
  }

  test("mm incremental: asymmetric blocking is lossless vs naive batch x corpus") {
    val inc = Multimodal.incrementalNearDup(spark, Sf).localCheckpoint()
    val face = Multimodal.fingerprintFace(spark, Sf, HashFamily.Md5).localCheckpoint()
    val naive = face.filter(col("media_id") % 10 === 0)
      .select(col("media_id"), col("kind").as("ka"),
        col("n_bytes").as("la"), col("sig").as("sa"), col("ffix").as("fa"))
      .crossJoin(face.filter(col("media_id") % 10 =!= 0)
        .select(col("media_id").as("corpus_id"), col("kind").as("kb"),
          col("n_bytes").as("lb"), col("sig").as("sb"), col("ffix").as("fb")))
      .filter(col("ka") === col("kb"))
      .select(col("media_id"), col("corpus_id"),
        abs(col("la") - col("lb")).as("len_delta"),
        expr("bit_count(sa ^ sb)").as("hamming"),
        aggregate(zip_with(col("fa"), col("fb"), (a, b) => abs(a - b)),
          lit(0L), (acc, x) => acc + x).as("l1_fix"))
      .filter(col("len_delta") <= Multimodal.NearDupLenWindow &&
        col("hamming") <= Multimodal.MediaFpMaxHamming &&
        col("l1_fix") <= Multimodal.MediaFpL1Window)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id")
      .orderBy(asc("hamming"), asc("l1_fix"), asc("corpus_id"))
    val naiveBest = naive.withColumn("rn", row_number().over(wB))
      .filter(col("rn") === 1)
      .select(col("media_id"), col("corpus_id").as("nd"),
        col("hamming").as("nh"), col("l1_fix").as("nl"))
    val joined = inc.join(naiveBest, Seq("media_id"), "full_outer")
      .localCheckpoint()
    assert(joined.filter(col("is_new") && col("nd").isNotNull).isEmpty,
      "an is_new batch item must have no naive corpus match")
    assert(joined.filter(!col("is_new") &&
        (col("dup_of") =!= col("nd") || col("hamming") =!= col("nh") ||
          col("l1_fix") =!= col("nl"))).isEmpty,
      "every matched batch item must carry the naive best match")
    // engagement: the fingerprint finds %10-endpoint pairs at sf0.001
    // itself (batch 120 vs corpus 12); sf0.01 re-checks at the driver's
    // own gate cut
    assert(inc.filter(!col("is_new")).count() > 0,
      "sf0.001 must contain batch items with corpus near-dups")
    val inc01 = Multimodal.incrementalNearDup(spark, "/root/testdata/sf0.01")
    assert(inc01.filter(!col("is_new")).count() > 0,
      "sf0.01 must contain batch items with corpus near-dups")
  }

  test("quality ece: matches an independent recomputation from the buckets") {
    val row = QualityModel.lrEce(spark, Sf).head
    val cal = QualityModel.lrCalibration(spark, Sf)
      .select("n", "pos_rate", "mean_score").collect()
    val n = cal.map(_.getLong(0)).sum
    val wfix = cal.map { r =>
      val gap = math.abs(r.getFloat(1).toDouble - r.getFloat(2).toDouble)
      math.round(r.getLong(0).toDouble * gap * 1000000.0)
    }.sum
    val expEce = (wfix.toDouble / n.toDouble / 1000000.0).toFloat
    val expMax = cal.map(r =>
      math.abs(r.getFloat(1).toDouble - r.getFloat(2).toDouble).toFloat).max
    assert(row.getLong(0) == n)
    assert(row.getFloat(1) == expEce, "ece must equal the bucket recomputation")
    assert(row.getFloat(2) == expMax)
    assert(row.getFloat(1) <= row.getFloat(2) + 1e-9f,
      "the weighted mean gap can never exceed the worst bucket gap")
  }
}
