package graft

import org.apache.spark.sql.functions._

import graft.functions.HashFamily
import graft.operators.Multimodal

/** Behavior specs for the round-16 rebuild: the 60-bit media
  * fingerprint (shingle simhash) that replaced the segment face as the
  * near-dup primary signal, the MP4/ISO-BMFF container, the
  * cross-format content near-dup row, and the parser hardening
  * (standalone JPEG markers, Long cursor overflow safety, content-dedup
  * null singletons).
  */
class Round16OpsSpec extends SparkTestBase {

  test("mediaSimHash: golden pins against the DuckDB hex/md5/majority replay") {
    // independently computed in DuckDB from the mediaSigCtes chain —
    // a drift in hex casing, shingle bounds, distinctness, or the
    // majority rule breaks these exact values
    assert(Multimodal.mediaSimHash("abc".getBytes("UTF-8"), HashFamily.Md5)
      === 63121079495258754L)
    assert(Multimodal.mediaSimHash("the quick brown fox".getBytes("UTF-8"), HashFamily.Md5)
      === 828081226031225917L)
    // 60-bit contract: the top 4 bits are always clear (md5 15-hex-char
    // prefix), which is what makes the 4×15 banding cover the signal
    assert((Multimodal.mediaSimHash("any payload at all".getBytes, HashFamily.Md5) >>> 60) === 0L)
  }

  test("mediaSimHash: both window kernels pinned, including empty and sub-window payloads") {
    // a drift in window bounds, byte packing order, hex casing or the
    // seed breaks these exact values; an empty payload hashes one empty
    // window, a payload shorter than 8 bytes one clipped window
    val pins = Seq(
      ("abc", HashFamily.Xx, 1144316487776788402L),
      ("the quick brown fox", HashFamily.Xx, 826955604788280327L),
      ("", HashFamily.Xx, 824638663225857862L),
      ("abcdefg", HashFamily.Xx, 358257939323549184L),
      ("", HashFamily.Md5, 955282973525019424L),
      ("abcdefg", HashFamily.Md5, 332491430689568088L))
    for ((text, family, sig) <- pins)
      assert(Multimodal.mediaSimHash(text.getBytes("UTF-8"), family) === sig,
        s"$family on '$text'")
  }

  test("media decode: a null text fails with an error naming its doc_id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = true)))
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(Row(987654321L, null, 12L)), schema)
    val e = intercept[Exception](Multimodal.mediaFromDocumentsFrame(docs).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(String.valueOf).mkString("\n")
    assert(chain.contains("doc_id 987654321"), chain)
  }

  test("mediaSimHash: edit tolerance vs same-histogram divergence") {
    val base = ("the quick brown fox jumps over the lazy dog while the sphinx of " +
      "black quartz judges my vow and jackdaws love my big quartz sphinx so " +
      "pack my box with five dozen liquor jugs before the five boxing wizards " +
      "jump quickly tonight").getBytes("UTF-8")
    // a small suffix variant — the corpus's planted near-dup shape —
    // perturbs only the boundary shingles
    val hamEdit = java.lang.Long.bitCount(
      Multimodal.mediaSimHash(base, HashFamily.Md5) ^
        Multimodal.mediaSimHash(base ++ " dup".getBytes("UTF-8"), HashFamily.Md5))
    assert(hamEdit <= Multimodal.MediaFpMaxHamming,
      s"a suffix variant must stay inside the near-dup window ($hamEdit)")
    // IDENTICAL byte histogram and length, different arrangement (the
    // reversal): the old statistical face cannot separate this at all —
    // the fingerprint must, because consecutive-byte windows encode
    // local order
    val hamRev = java.lang.Long.bitCount(
      Multimodal.mediaSimHash(base, HashFamily.Md5) ^ Multimodal.mediaSimHash(base.reverse, HashFamily.Md5))
    assert(hamRev > Multimodal.MediaFpMaxHamming,
      s"a byte permutation must NOT fingerprint as a near-dup ($hamRev)")
  }

  test("mp4: encode-parse round-trip for dims, extent, and movie clock") {
    val data = "mdat payload bytes".getBytes("UTF-8")
    val mp4 = Multimodal.encodeMp4(320, 240, 600, 900, data)
    assert(Multimodal.parseMediaDims(mp4)
      === (("mp4", Some(320), Some(240), None, None)))
    // extent = pixels; duration_ms = 900 * 1000 / 600 on the mvhd clock
    assert(Multimodal.parseMediaExtent(mp4) === (("mp4", Some(76800L), Some(1500L))))
    // junk/truncation safety: never throw, reject to unknown/None
    assert(Multimodal.parseMediaDims(mp4.take(30))._1 === "unknown")
    assert(Multimodal.parseMediaExtent(mp4.take(30))._1 === "unknown")
    assert(Multimodal.extractContent(mp4.take(30)).isEmpty)
    // a declared box size near Int.MaxValue must walk off and reject,
    // not wrap the cursor (Long-cursor contract)
    val huge = mp4.clone()
    val moovOff = 20 // ftyp is 20 bytes; moov size field starts there
    huge(moovOff) = 0x7f.toByte; huge(moovOff + 1) = 0xff.toByte
    huge(moovOff + 2) = 0xff.toByte; huge(moovOff + 3) = 0xf0.toByte
    assert(Multimodal.parseMediaDims(huge)._1 === "unknown")
  }

  test("jpeg: standalone markers (TEM/RST) between segments parse per the real grammar") {
    val data = "entropy bytes".getBytes("UTF-8")
    val j = Multimodal.encodeJpeg(9, 11, data)
    // insert RST3 (FF D3) and TEM (FF 01) after APP0 (soi 2 + app0 18)
    val withRst = j.take(20) ++
      Array(0xff.toByte, 0xd3.toByte, 0xff.toByte, 0x01.toByte) ++ j.drop(20)
    assert(Multimodal.parseMediaDims(withRst)
      === (("jpeg", Some(9), Some(11), None, None)),
      "length-less markers must advance 2 bytes, not read phantom lengths")
    assert(Multimodal.extractContent(withRst).map(_.toSeq) === Some(data.toSeq))
  }

  test("riff/png: oversized declared chunk sizes reject instead of wrapping the cursor") {
    val wav = Multimodal.encodeWav(8000, 1, Array.fill[Byte](32)(3))
    // turn the first chunk into a LIST the walk must SKIP, with a
    // declared size near Int.MaxValue: the cursor advance i += 8 + size
    // is where an Int wrapped negative pre-fix (AIOOBE on b(i))
    val hugeWav = wav.clone()
    hugeWav(12) = 'L'; hugeWav(13) = 'I'; hugeWav(14) = 'S'; hugeWav(15) = 'T'
    hugeWav(16) = 0xf0.toByte; hugeWav(17) = 0xff.toByte
    hugeWav(18) = 0xff.toByte; hugeWav(19) = 0x7f.toByte
    assert(Multimodal.parseMediaDims(hugeWav)._1 === "unknown")
    assert(Multimodal.parseMediaExtent(hugeWav)._1 === "unknown")
    assert(Multimodal.extractContent(hugeWav).isEmpty)
    // PNG IDAT length field (first chunk after IHDR, offset 33)
    val png = Multimodal.encodePng(4, 4, Array.fill[Byte](16)(5))
    val hugePng = png.clone()
    hugePng(33) = 0x7f.toByte; hugePng(34) = 0xff.toByte
    hugePng(35) = 0xff.toByte; hugePng(36) = 0xf0.toByte
    assert(Multimodal.extractContent(hugePng).isEmpty)
  }

  test("contentDedup: extraction failures are singletons, never one pooled null group") {
    import spark.implicits._
    val frame = Seq(
      (1L, "png", Option("same bytes".getBytes("UTF-8"))),
      (2L, "wav", Option("same bytes".getBytes("UTF-8"))),
      (3L, "unknown", Option.empty[Array[Byte]]),
      (4L, "unknown", Option.empty[Array[Byte]]),
      (5L, "unknown", Option.empty[Array[Byte]]))
      .toDF("media_id", "fmt", "content")
    val d = Multimodal.contentDedupOver(frame).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // the real dup group behaves as before
    assert(d.filter(_._1 <= 2L).map(x => (x._2, x._3)).toSet === Set((1L, 2L)))
    // every unparseable row is its own canonical singleton keyed by id
    for ((id, gid, sz, canon) <- d.filter(_._1 >= 3L)) {
      assert(gid === id, s"null-content media $id must self-group")
      assert(sz === 1L)
      assert(canon, s"null-content media $id must be its own canonical")
    }
  }

  test("cross-format content near-dup: catches what the payload face structurally misses") {
    val content = ("batch window spark order data column agg join " * 6).getBytes("UTF-8")
    val edited = content ++ " dup".getBytes("UTF-8") // near-identical content
    val png = Multimodal.encodePng(12, 12, content)
    val mp4 = Multimodal.encodeMp4(12, 12, 600, 720, edited)
    // payload level: the container overheads alone (PNG +57, MP4 +244)
    // put the payloads 187 bytes apart — outside the 16-byte length
    // window REGARDLESS of kind blocking, so the payload-level operator
    // can never pair them
    assert(math.abs(png.length - mp4.length) > Multimodal.NearDupLenWindow)
    // content level: extraction recovers the near-identical bytes, the
    // fingerprints sit inside the Hamming window, and the length delta
    // is the true edit delta (0 here)
    val ca = Multimodal.extractContent(png).get
    val cb = Multimodal.extractContent(mp4).get
    assert(math.abs(ca.length - cb.length) <= Multimodal.NearDupLenWindow)
    val ham = java.lang.Long.bitCount(
      Multimodal.mediaSimHash(ca, HashFamily.Md5) ^ Multimodal.mediaSimHash(cb, HashFamily.Md5))
    assert(ham <= Multimodal.MediaFpMaxHamming,
      s"near-identical re-containered content must fingerprint close ($ham)")
  }

  test("mm_content_neardup at sf0.001: cross-format pairs exist and match the naive truth") {
    val pairs = Multimodal.contentNearDupPairs(spark, Sf).localCheckpoint()
    assert(pairs.count() > 0)
    assert(pairs.filter(col("fmt_a") =!= col("fmt_b")).count() > 0,
      "the row's reason to exist: pairs ACROSS container formats")
    // lossless vs naive: all-pairs over the content face with the same
    // three windows and no fmt blocking
    val face = Multimodal.contentFingerprintFace(spark, Sf).localCheckpoint()
    val naive = face.select(col("media_id").as("media_a"),
        col("n_bytes").as("la"), col("sig").as("sa"), col("ffix").as("fa"))
      .crossJoin(face.select(col("media_id").as("media_b"),
        col("n_bytes").as("lb"), col("sig").as("sb"), col("ffix").as("fb")))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        abs(col("la") - col("lb")).as("len_delta"),
        expr("bit_count(sa ^ sb)").as("hamming"),
        aggregate(zip_with(col("fa"), col("fb"), (a, b) => abs(a - b)),
          lit(0L), (acc, x) => acc + x).as("l1_fix"))
      .filter(col("len_delta") <= Multimodal.NearDupLenWindow &&
        col("hamming") <= Multimodal.MediaFpMaxHamming &&
        col("l1_fix") <= Multimodal.MediaFpL1Window)
      .localCheckpoint()
    assert(pairs.count() === naive.count())
    assert(naive.join(pairs, Seq("media_a", "media_b"), "left_anti").isEmpty,
      "blocking must never drop a qualifying content pair")
    assert(pairs.join(naive, Seq("media_a", "media_b"), "left_anti").isEmpty,
      "verify must reject every non-qualifying candidate")
  }

  test("mm_content_decision: cross-format components, one highest-fidelity keeper each") {
    val d = Multimodal.contentNearDupDecision(spark, Sf).localCheckpoint()
    assert(d.count() === 500)
    val perComp = d.groupBy("component_id")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("keepers"),
        count(lit(1)).as("n"),
        max(col("cluster_size")).as("sz"),
        countDistinct("fmt").as("fmts"),
        max(when(col("keep"), col("fidelity"))).as("kept_fid"),
        max(col("fidelity")).as("max_fid"))
      .localCheckpoint()
    assert(perComp.filter(col("keepers") =!= 1L).isEmpty,
      "every component keeps exactly one representative")
    assert(perComp.filter(col("n") =!= col("sz")).isEmpty,
      "cluster_size must equal the component's row count")
    assert(perComp.filter(col("kept_fid") =!= col("max_fid")).isEmpty,
      "the keeper must carry the component's highest fidelity")
    assert(perComp.filter(col("n") > 1 && col("fmts") > 1).count() > 0,
      "the row's reason to exist: dup components spanning container formats")
  }

  test("mm_incremental_stored: row-identical to the live row off the persisted face") {
    val stored = Multimodal.incrementalNearDupStored(spark, Sf)
      .collect().map(_.toSeq)
    val live = Multimodal.incrementalNearDup(spark, Sf).collect().map(_.toSeq)
    assert(stored.length === live.length && stored.toSet === live.toSet,
      "the artifact-backed serve must reproduce the live verdicts exactly")
    // the self-primed artifact is the corpus-slice fingerprint face
    val path = Multimodal.mediaIndex(Sf).root(spark)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
    val idx = spark.read.parquet(path)
    assert(idx.columns.toSet === Set("media_id", "kind", "n_bytes", "sig", "ffix"))
    assert(idx.filter(col("media_id") % 10 === 0).isEmpty,
      "the index carries only the corpus slice, never the batch")
  }

  test("mm_decontam: flagged corpus media match the naive eval x corpus truth") {
    val report = Multimodal.decontamReport(spark, Sf).localCheckpoint()
    assert(report.count() > 0,
      "sf0.001 must contain an eval-contaminated corpus media")
    assert(report.filter(col("media_id") % 10 === 7).isEmpty,
      "eval media never appear as flagged corpus rows")
    assert(report.filter(col("eval_id") % 10 =!= 7).isEmpty,
      "every match must point into the eval carve")
    // lossless vs naive truth: all eval x corpus pairs under the three
    // windows, best per corpus id
    val face = Multimodal.fingerprintFace(spark, Sf, HashFamily.Md5).localCheckpoint()
    val naive = face.filter(col("media_id") % 10 =!= 7)
      .select(col("media_id"), col("kind").as("ka"),
        col("n_bytes").as("la"), col("sig").as("sa"), col("ffix").as("fa"))
      .crossJoin(face.filter(col("media_id") % 10 === 7)
        .select(col("media_id").as("eval_id"), col("kind").as("kb"),
          col("n_bytes").as("lb"), col("sig").as("sb"), col("ffix").as("fb")))
      .filter(col("ka") === col("kb"))
      .select(col("media_id"), col("eval_id"),
        abs(col("la") - col("lb")).as("len_delta"),
        expr("bit_count(sa ^ sb)").as("hamming"),
        aggregate(zip_with(col("fa"), col("fb"), (a, b) => abs(a - b)),
          lit(0L), (acc, x) => acc + x).as("l1_fix"))
      .filter(col("len_delta") <= Multimodal.NearDupLenWindow &&
        col("hamming") <= Multimodal.MediaFpMaxHamming &&
        col("l1_fix") <= Multimodal.MediaFpL1Window)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id")
      .orderBy(asc("hamming"), asc("l1_fix"), asc("eval_id"))
    val naiveBest = naive.withColumn("rn", row_number().over(wB))
      .filter(col("rn") === 1)
      .select(col("media_id"), col("eval_id"), col("hamming"), col("l1_fix"))
      .localCheckpoint()
    assert(report.count() === naiveBest.count())
    assert(report.collect().map(_.toSeq).toSet
      === naiveBest.collect().map(_.toSeq).toSet,
      "the report must equal the naive truth row for row")
  }

  test("mm_quality_rules: every applicable rule fires both ways; keep composes them") {
    val q = Multimodal.qualityRules(spark, Sf).localCheckpoint()
    assert(q.count() === 500)
    assert(q.filter(!col("r_parse")).isEmpty,
      "every synthesized container must parse")
    // rule variance: a rule that never fires in either direction tests
    // nothing — the corpus's (doc_id, n_chars) spread must exercise both
    for (rule <- Seq("r_min_pixels", "r_aspect", "r_rate", "r_short")) {
      assert(q.filter(col(rule) === true).count() > 0, s"$rule never passes")
      assert(q.filter(col(rule) === false).count() > 0, s"$rule never fails")
    }
    // modality applicability: visual rules null exactly on audio, rate
    // rule null exactly on visuals
    assert(q.filter(col("r_min_pixels").isNull =!= (col("fmt") === "wav")).isEmpty)
    assert(q.filter(col("r_rate").isNull =!= col("fmt").isin("png", "jpeg", "mp4")).isEmpty)
    // keep is exactly the documented conjunction (r_short gates since
    // r17; r_dominant's null fails — the unextractable-payload asymmetry)
    val bad = q.filter(col("keep") =!= (col("r_parse") &&
      coalesce(col("r_min_pixels"), lit(true)) &&
      coalesce(col("r_aspect"), lit(true)) &&
      coalesce(col("r_rate"), lit(true)) &&
      coalesce(col("r_short"), lit(true)) &&
      coalesce(col("r_dominant"), lit(false))))
    assert(bad.isEmpty, "keep must compose the rule columns")
    // the r17 point: r_short must gate WITHIN a modality, not merely
    // trace the format line — the mp4 movie-clock slice splits
    for (v <- Seq(true, false))
      assert(q.filter(col("fmt") === "mp4" && col("r_short") === v).count() > 0,
        s"mp4 r_short=$v never occurs — the within-modality split is gone")
    assert(q.filter(!col("keep")).count() > 0, "the gate must drop something")
    // the dominance detector itself: solid fill fails, mixed content passes
    assert(!Multimodal.dominantByteOk(Array.fill[Byte](100)(0)))
    assert(!Multimodal.dominantByteOk(Array.emptyByteArray))
    assert(Multimodal.dominantByteOk("normal text content".getBytes("UTF-8")))
    val half = Array.fill[Byte](50)(7) ++ (101 to 150).map(_.toByte).toArray
    assert(Multimodal.dominantByteOk(half), "exactly half is allowed (2*max <= n)")
  }

  test("mm_curation_decisions: all five branches engage; precedence is exact") {
    // sf0.01 (the driver's gate cut): the corpus is rich enough to
    // exercise every branch of the trail
    val d = graft.operators.Multimodal
      .curationDecisions(spark, "/root/testdata/sf0.01").localCheckpoint()
    assert(d.count() === 500)
    val byDecision = d.groupBy("decision").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (branch <- Seq("eval_holdout", "contaminated", "quality_fail",
        "near_dup", "kept"))
      assert(byDecision.getOrElse(branch, 0L) > 0L,
        s"branch $branch never engages at sf0.01: $byDecision")
    // precedence replay row by row
    val bad = d.filter(col("decision") =!=
      when(col("media_id") % 10 === 7, "eval_holdout")
        .when(col("contaminated"), "contaminated")
        .when(!col("quality_ok"), "quality_fail")
        .when(!col("dedup_keep"), "near_dup")
        .otherwise("kept"))
    assert(bad.isEmpty, "decision must follow the documented precedence")
    // the curated corpus is exactly the all-gates-pass set
    assert(d.filter(col("decision") === "kept" && (!col("quality_ok") ||
      !col("dedup_keep") || col("contaminated"))).isEmpty)
  }

  test("mm_ingest_decisions: every admission branch engages; precedence is exact") {
    val g = Multimodal.ingestDecisions(spark, Sf).localCheckpoint()
    assert(g.count() === 50, "one trail row per %10==0 arrival")
    val byDecision = g.groupBy("decision").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (branch <- Seq("contaminated", "quality_fail", "near_dup", "new"))
      assert(byDecision.getOrElse(branch, 0L) > 0L,
        s"branch $branch never engages at sf0.001: $byDecision")
    // precedence replay row by row
    val bad = g.filter(col("decision") =!=
      when(col("contaminated"), "contaminated")
        .when(!col("quality_ok"), "quality_fail")
        .when(col("dup_of").isNotNull, "near_dup")
        .otherwise("new"))
    assert(bad.isEmpty, "decision must follow the documented precedence")
    // the corpus side excludes the eval carve: a dup_of can never point
    // into it, and eval matches only ever appear as eval_id
    assert(g.filter(col("dup_of") % 10 === 7).isEmpty)
    assert(g.filter(col("dup_of") % 10 === 0).isEmpty)
    assert(g.filter(col("eval_id").isNotNull && col("eval_id") % 10 =!= 7).isEmpty)
  }

  test("mm_features retirement: the float presentation is the fix row's ratio") {
    // the normalized-float vector (retired as a registered row in r16)
    // must remain derivable: features(bin) = cnt/n_bytes as float —
    // pinned here against the oracled integer twin's inputs
    val hist = Multimodal.featureHistQuery(spark, Sf)
      .collect().map(r => ((r.getLong(0), r.getInt(2)), (r.getLong(3), r.getLong(4)))).toMap
    val feats = Multimodal.featureQuery(spark, Sf).collect()
    assert(feats.length === 500)
    feats.foreach { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](2)
      assert(v.length === 8)
      v.zipWithIndex.foreach { case (f, bin) =>
        hist.get((id, bin)) match {
          case Some((cnt, n)) => assert(f === cnt.toFloat / n.toFloat)
          case None => assert(f === 0f, s"empty bin $bin of media $id must be 0")
        }
      }
    }
  }
}
