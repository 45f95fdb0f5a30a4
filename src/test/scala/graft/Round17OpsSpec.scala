package graft

import org.apache.spark.sql.functions._

import graft.functions.HashFamily
import graft.operators.Multimodal

/** Round-17 behavior pins: the lossless-window guard, the stored
  * decontam face, and the survivor-aware keeper election inside the
  * curation capstone.
  */
class Round17OpsSpec extends SparkTestBase {

  test("banded media entry points reject maxHamming > 7 loudly") {
    // the 4x15-bit single-bit-flip banding is lossless only for
    // Hamming <= 7 (pigeonhole); a wider window used to SILENTLY drop
    // qualifying pairs — now every banded entry point fails fast
    for (thunk <- Seq(
      () => Multimodal.nearDupPairs(spark, Sf, HashFamily.Md5, maxHamming = 8),
      () => Multimodal.contentNearDupPairs(spark, Sf, maxHamming = 8),
      () => Multimodal.nearDupDecision(spark, Sf, HashFamily.Md5, maxHamming = 8),
      () => Multimodal.incrementalNearDup(spark, Sf, maxHamming = 8),
      () => Multimodal.decontamReport(spark, Sf, maxHamming = 8),
      () => Multimodal.ingestDecisions(spark, Sf, maxHamming = 8)))
      assertThrows[IllegalArgumentException](thunk())
    // the boundary itself stays accepted
    assert(Multimodal.nearDupPairs(spark, Sf, HashFamily.Md5, maxHamming = 7).columns.nonEmpty)
  }

  test("fast fingerprint: xxhash64 and md5 faces emit the identical near-dup pair set") {
    // the hash family changes each window's 60 bits, so raw Hamming
    // values differ — what must NOT change (on this corpus) is which
    // pairs qualify: planted near-dups share most windows under ANY
    // window hash (majority vote flips few bits) while background
    // pairs sit near Hamming 30 under both. Pin the PAIR IDs on the
    // spec corpus; at xN ~2% of genuinely-near pairs project across
    // the threshold differently per family (byte-identical dups never
    // can) — SCALING.md records that measured divergence.
    val md5Pairs = Multimodal.nearDupPairs(spark, Sf, HashFamily.Md5)
      .select("media_a", "media_b")
    val fastPairs = Multimodal.nearDupPairs(spark, Sf, HashFamily.Xx)
      .select("media_a", "media_b")
    assert(md5Pairs.exceptAll(fastPairs).isEmpty &&
      fastPairs.exceptAll(md5Pairs).isEmpty,
      "window-hash choice must not change the near-dup pair set")
    assert(md5Pairs.count() > 0, "the corpus must contain planted near-dups")
  }

  test("stored decontam face serves the identical report") {
    val live = Multimodal.decontamReport(spark, Sf)
    val stored = Multimodal.decontamReportStored(spark, Sf)
    assert(live.exceptAll(stored).isEmpty && stored.exceptAll(live).isEmpty,
      "the persisted face must serve row-identical decontam verdicts")
  }

  test("stored faces serve the identical curation trail and admission gate") {
    // the production serve shapes: a re-curation sweep and a batch
    // admission must not re-decode the corpus — and must not change a
    // single row by serving from artifacts
    val curLive = Multimodal.curationDecisions(spark, Sf)
    val curStored = Multimodal.curationDecisionsStored(spark, Sf)
    assert(curLive.exceptAll(curStored).isEmpty &&
      curStored.exceptAll(curLive).isEmpty,
      "stored-face curation must be row-identical to live")
    val ingLive = Multimodal.ingestDecisions(spark, Sf)
    val ingStored = Multimodal.ingestDecisionsStored(spark, Sf)
    assert(ingLive.exceptAll(ingStored).isEmpty &&
      ingStored.exceptAll(ingLive).isEmpty,
      "stored-face admission gate must be row-identical to live")
    // and the stored plans decode nothing: no documents parquet scan on
    // the curation serve path (the gate decodes exactly its batch slice)
    val p = curStored.queryExecution.executedPlan.toString
    assert(!p.contains("documents"),
      s"stored curation must not touch the documents table:\n${p.take(1500)}")
  }

  test("curation keeper election: kept rows are exactly one survivor per surviving component") {
    val dec = Multimodal.curationDecisions(spark, Sf).localCheckpoint()
    // every keeper is a survivor (not eval, not contaminated, quality-ok)
    val badKeeper = dec.filter(col("dedup_keep") &&
      (col("contaminated") || !col("quality_ok") || col("media_id") % 10 === 7))
    assert(badKeeper.count() == 0, "a non-survivor must never be a keeper")
    // per component: survivors > 0 => exactly one keeper; == 0 => none
    val perComp = dec.groupBy("component_id").agg(
      sum(when(!col("contaminated") && col("quality_ok")
        && col("media_id") % 10 =!= 7, 1L).otherwise(0L)).as("survivors"),
      sum(when(col("dedup_keep"), 1L).otherwise(0L)).as("keepers"))
    assert(perComp.filter(col("survivors") > 0 && col("keepers") =!= 1L).count() == 0,
      "every component with a clean copy must keep exactly one")
    assert(perComp.filter(col("survivors") === 0 && col("keepers") =!= 0L).count() == 0,
      "a component with no clean copy keeps nothing")
    // decision column agrees with the election
    assert(dec.filter(col("decision") === "kept" && !col("dedup_keep")).count() == 0)
    assert(dec.filter(col("decision") === "near_dup" &&
      (col("contaminated") || !col("quality_ok") || col("media_id") % 10 === 7))
      .count() == 0, "near_dup labels only gate-surviving non-keepers")
  }

  test("curation election recovers content whose best copy fails a gate") {
    // plant the scenario directly on the election core: a 3-member
    // component where the HIGHEST-fidelity copy is contaminated and the
    // next one quality-failed — r16 dropped the content wholesale (the
    // full-corpus election elected the contaminated copy; clean members
    // stayed labeled near_dup); the survivor election must keep id 3.
    import spark.implicits._
    val base = Seq(
      // (media_id, fmt, component_id, quality_ok, fidelity, contaminated)
      (1L, "png", 1L, true, 900L, true),   // best copy, contaminated
      (2L, "png", 1L, false, 800L, false), // next, quality-failed
      (3L, "png", 1L, true, 700L, false),  // best CLEAN copy -> keeper
      (4L, "png", 1L, true, 600L, false),  // clean non-keeper -> near_dup
      (5L, "wav", 5L, true, 100L, false))  // clean singleton -> keeper
      .toDF("media_id", "fmt", "component_id", "quality_ok", "fidelity",
        "contaminated")
    val out = Multimodal.curationElect(base)
      .select("media_id", "decision").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "contaminated", 2L -> "quality_fail",
      3L -> "kept", 4L -> "near_dup", 5L -> "kept"), out.toString)
  }

  test("curation precedence is real, not label-only: no kept row fails a gate") {
    val kept = Multimodal.curationDecisions(spark, Sf)
      .filter(col("decision") === "kept")
    val qualityFailed = Multimodal.qualityRules(spark, Sf)
      .filter(!col("keep")).select("media_id")
    assert(kept.join(qualityFailed, Seq("media_id"), "left_semi").count() == 0)
    val flagged = Multimodal.decontamReport(spark, Sf).select("media_id")
    assert(kept.join(flagged, Seq("media_id"), "left_semi").count() == 0)
  }
}
