package graft

import org.apache.spark.sql.functions._

import graft.obs.RunRecord
import graft.operators.{Multimodal, Similarity}

/** Behavior specs for the round-15 hardening: the IVF margin budget's
  * skip guard and the round's media operators: the extent/duration
  * parse (two-chunk RIFF walk) and the cross-format content extraction.
  */
class Round15OpsSpec extends SparkTestBase {

  test("marginBitextPairsIvf: volume machinery skipped when the cheap bound clears the budget") {
    val (_, skipped) = RunRecord.capture(
      Similarity.marginBitextPairsIvf(spark, Sf).localCheckpoint())
    // sf0.001 sits far under the production budget: the run must prove
    // it with the count-product bound and never pay the volume agg
    assert(!skipped.contains(RunRecord.MarginIvfCandidates),
      "under-bound run must not compute the exact volume")
    val bound = skipped(RunRecord.MarginIvfSkippedBound)
    assert(bound <= Similarity.MarginIvfPairBudget,
      s"skip requires bound <= budget ($bound)")
    // a budget under the bound forces the machinery: exact volume
    // computed, and it never exceeds the bound that justified skipping
    val (_, forced) = RunRecord.capture(
      Similarity.marginBitextPairsIvf(spark, Sf, maxPairs = 2000L).localCheckpoint())
    assert(!forced.contains(RunRecord.MarginIvfSkippedBound))
    val exact = forced(RunRecord.MarginIvfCandidates)
    assert(exact <= bound,
      s"the count-product bound must dominate the exact volume ($exact > $bound)")
  }

  test("parseMediaExtent: hand-built WAV frames/duration, PNG pixels, junk safety") {
    // 12 data bytes at 8000 Hz stereo 16-bit: byte_rate 32000,
    // block_align 4 -> 3 sample frames, 12*1000/32000 = 0 ms; and a
    // longer one where the division is non-trivial
    val wav = Multimodal.encodeWav(8000, 2, Array.fill[Byte](12)(7))
    assert(Multimodal.parseMediaExtent(wav) === (("wav", Some(3L), Some(0L))))
    val wav2 = Multimodal.encodeWav(11000, 1, Array.fill[Byte](47000)(1))
    // byte_rate 22000, block_align 2 -> 23500 frames, 47000*1000/22000 = 2136 ms
    assert(Multimodal.parseMediaExtent(wav2) === (("wav", Some(23500L), Some(2136L))))
    val png = Multimodal.encodePng(13, 7, Array[Byte](1, 2, 3))
    assert(Multimodal.parseMediaExtent(png) === (("png", Some(91L), None)))
    val jpeg = Multimodal.encodeJpeg(640, 480, Array[Byte](1))
    assert(Multimodal.parseMediaExtent(jpeg) === (("jpeg", Some(307200L), None)))
    // junk and truncation must reject, never throw (the crawl contract)
    assert(Multimodal.parseMediaExtent(Array.emptyByteArray)._1 === "unknown")
    assert(Multimodal.parseMediaExtent("RIFFxxxxWAVE".getBytes("US-ASCII"))._1 === "unknown")
    assert(Multimodal.parseMediaExtent(wav.take(20))._1 === "unknown")
  }

  test("extractContent: encode-extract round-trip identity on all four containers") {
    val data = "the quick brown fox".getBytes("UTF-8")
    for (payload <- Seq(
        Multimodal.encodePng(10, 10, data),
        Multimodal.encodeJpeg(10, 10, data),
        Multimodal.encodeWav(8000, 1, data),
        Multimodal.encodeMp4(10, 10, 600, 1200, data))) {
      assert(Multimodal.extractContent(payload).map(_.toSeq) === Some(data.toSeq))
    }
    assert(Multimodal.extractContent(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.extractContent(
      Multimodal.encodePng(10, 10, data).dropRight(5)).isEmpty,
      "truncated PNG (broken IEND) must reject, not return partial content")
  }

  test("mm_content_dedup: groups span formats; canonical is the group root (sf0.1)") {
    // exact content dups only exist at sf0.1 (the smaller cuts are
    // dup-free at the exact level — the oracle still verifies the
    // all-singletons shape there)
    val d = graft.operators.Multimodal
      .contentDedup(spark, "/root/testdata/sf0.1").localCheckpoint()
    assert(d.filter(col("content_md5").isNull).isEmpty,
      "every synthesized container must extract")
    val groups = d.filter(col("group_size") > 1)
      .groupBy("group_id")
      .agg(countDistinct("fmt").as("fmts"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("roots"),
        min("media_id").as("minId"), first("group_id").as("gid"))
      .localCheckpoint()
    assert(groups.count() > 0, "sf0.1 must contain exact content dups")
    assert(groups.filter(col("fmts") > 1).count() > 0,
      "dup groups must span container formats (the row's reason to exist)")
    assert(groups.filter(col("roots") =!= 1L).isEmpty,
      "exactly one canonical per group")
    assert(groups.filter(col("minId") =!= col("gid")).isEmpty,
      "group id must be the smallest member")
  }
}
