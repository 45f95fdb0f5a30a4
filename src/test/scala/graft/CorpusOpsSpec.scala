package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusPrep, Decontaminate}
import graft.sources.Memo

/** Behavior specs for decontamination, sampling, and shuffle-order
  * operators over the sf0.001 testdata.
  */
class CorpusOpsSpec extends SparkTestBase {

  private val W = 4 // gram width matching the registered queries

  /** Ground-truth contamination computed naively on the driver. */
  private def naiveContamination(): (Map[Long, Int], Set[Long], Set[Long]) = {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bucket(text: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 100
    }
    def grams(text: String): Set[String] = {
      val toks = text.split(" ", -1)
      if (toks.length < W) Set(toks.mkString(" "))
      else toks.sliding(W).map(_.mkString(" ")).toSet
    }
    val (evalDocs, trainDocs) = docs.partition { case (_, t) => bucket(t) >= 95 }
    val evalGrams = evalDocs.iterator.flatMap(d => grams(d._2)).toSet
    val report = trainDocs.iterator.map { case (id, t) =>
      id -> grams(t).count(evalGrams.contains)
    }.filter(_._2 > 0).toMap
    (report, trainDocs.map(_._1).toSet, evalDocs.map(_._1).toSet)
  }

  test("contamination report matches a naive n-gram overlap recomputation") {
    val (expected, _, evalIds) = naiveContamination()
    val got = Decontaminate.contaminationReport(spark, Sf, gramWidth = W)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == expected, "xxhash64 gram overlap must agree with string overlap")
    assert(expected.nonEmpty, "testdata must produce a non-empty report at width 4")
    assert(got.keySet.intersect(evalIds).isEmpty, "eval docs never appear in the report")
  }

  test("span corruption: non-overlapping in-bounds spans at the exact grid rate") {
    val rows = CorpusPrep.spanCorruptionManifest(spark, Sf).collect()
    assert(rows.nonEmpty)
    val nTok = spark.read.parquet(s"$Sf/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (docId, spans) =>
      val n = nTok(docId)
      assert(spans.length == n / 20, s"one span per complete block: $docId")
      val ranges = spans.map(r => (r.getLong(2), r.getLong(2) + r.getLong(3) - 1))
      ranges.foreach { case (s, e) =>
        assert(s >= 1 && e <= n, s"span in bounds: $docId [$s,$e] n=$n")
      }
      // block grid ⇒ spans sorted by span_id cannot overlap
      ranges.sorted.toSeq.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 > e1, s"overlap in $docId")
        case _ =>
      }
    }
    // span_text really is the tokens at the claimed offsets
    val doc = rows.head.getLong(0)
    val toks = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") === doc)
      .head().getString(1).split(" ")
    rows.filter(_.getLong(0) == doc).foreach { r =>
      val s = r.getLong(2).toInt - 1
      assert(r.getString(4) == toks.slice(s, s + r.getLong(3).toInt).mkString(" "))
    }
  }

  test("denoiser mix: 50/25/25 routing with family-consistent parameters") {
    val rows = CorpusPrep.denoiserMix(spark, Sf).collect()
    val docs = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(rows.length == docs)
    val byDen = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byDen.keySet == Set("R", "X", "S"))
    assert(byDen("R") > byDen("X") && byDen("R") > byDen("S"),
      s"R must dominate the published mix: $byDen")
    rows.foreach { r =>
      r.getString(2) match {
        case "R" => assert(r.getLong(3) == 3 && r.getLong(4) == 20 && r.isNullAt(5))
        case "X" => assert(r.getLong(3) == 12 && r.getLong(4) == 40 && r.isNullAt(5))
        case "S" =>
          assert(r.isNullAt(3) && r.isNullAt(4))
          assert(r.getLong(5) >= 0 && r.getLong(5) <= r.getLong(1))
      }
    }
  }

  test("fim manifest: segments tile the doc, rate near 50%, non-fim rows null cuts") {
    val rows = CorpusPrep.fimManifest(spark, Sf).collect()
    val docs = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(rows.length == docs, "one manifest row per document")
    val applied = rows.count(_.getInt(2) == 1)
    assert(applied > rows.length / 3 && applied < 2 * rows.length / 3,
      s"hash-gated apply rate must sit near 50%: $applied/${rows.length}")
    rows.foreach { r =>
      val n = r.getLong(1)
      if (r.getInt(2) == 1) {
        val (lo, hi) = (r.getLong(3), r.getLong(4))
        assert(lo >= 0 && lo <= hi && hi <= n, s"cuts ordered in range: $r")
        assert(r.getLong(5) + r.getLong(6) + r.getLong(7) == n,
          s"prefix+middle+suffix must tile the doc: $r")
      } else {
        assert(r.isNullAt(3) && r.isNullAt(4), s"non-fim rows carry no cuts: $r")
      }
    }
  }

  test("decontamination gate: flags equal the standalone reports, dropped is their union") {
    val gate = Decontaminate.decontaminationGate(spark, Sf).collect()
    val gram = Decontaminate.contaminationReport(spark, Sf, gramWidth = 4)
      .collect().map(_.getLong(0)).toSet
    val cont = Decontaminate.containmentReport(spark, Sf, gramWidth = 4)
      .collect().map(_.getLong(0)).toSet
    val near = Decontaminate.nearDupContaminationReport(spark, Sf)
      .collect().map(_.getLong(0)).toSet
    assert(gate.nonEmpty)
    gate.foreach { r =>
      val id = r.getLong(0)
      assert((r.getInt(1) == 1) == gram(id), s"gram flag drift at $id")
      assert((r.getInt(2) == 1) == cont(id), s"containment flag drift at $id")
      assert((r.getInt(3) == 1) == near(id), s"neardup flag drift at $id")
      assert((r.getInt(4) == 1) ==
        (gram(id) || cont(id) || near(id)), s"dropped must be the union at $id")
    }
    assert(gate.exists(_.getInt(4) == 1) && gate.exists(_.getInt(4) == 0),
      "fixture must exercise both gate outcomes")
  }

  test("minhash decontam: flags only train docs, jaccard verified against a driver replay") {
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    val rep = Decontaminate.nearDupContaminationReport(spark, Sf).collect()
    assert(rep.nonEmpty, "testdata must produce near-dup contamination rows")
    val buckets = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"),
        (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = spark.read.parquet(s"$Sf/documents.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    rep.foreach { r =>
      val (docId, evalId, jac, n) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      assert(buckets(docId) < 95, s"flagged doc must be train-side: $docId")
      assert(buckets(evalId) >= 95, s"offender must be eval-side: $evalId")
      assert(n >= 1)
      val expect = toks(docId).intersect(toks(evalId)).size.toDouble /
        toks(docId).union(toks(evalId)).size
      assert(math.abs(jac - expect) < 1e-12 && jac >= 0.5,
        s"jaccard must match the set replay: $docId vs $evalId ($jac vs $expect)")
    }
  }

  test("leakage-safe split: near-dup pairs co-sited, singletons match the plain split") {
    val split = CorpusPrep.leakageSafeSplit(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // (1) every near-dup pair lands on ONE side — the property the
    // content-hash split cannot give
    val pairs = graft.operators.Dedup.simHashNearDupPairs(spark, Sf, graft.functions.HashFamily.Md5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) straddles the split")
    }
    // (2) a component is entirely one side
    split.values.groupBy(_._1).foreach { case (cid, members) =>
      assert(members.map(_._2).toSet.size == 1, s"component $cid straddles")
    }
    // (3) singleton components reproduce trainValSplit exactly (the
    // operator only ever moves docs WITH near-dup structure)
    val plain = CorpusPrep.trainValSplit(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val componentSizes = split.values.groupBy(_._1).map { case (c, m) => c -> m.size }
    split.foreach { case (id, (cid, s)) =>
      if (componentSizes(cid) == 1)
        assert(s == plain(id), s"singleton $id diverged from the plain split")
    }
  }

  test("ingest decisions: flags agree with the standalone gates, reason follows precedence") {
    import graft.operators.{Curate, Dedup}
    val rows = Curate.ingestDecisions(spark, Sf, gramWidth = W).collect()
    val batchIds = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(0)).toSet == batchIds, "one decision per batch doc")
    // flags agree with each standalone operator
    val admitted = Dedup.incrementalExact(spark, Sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val notNearDup = Dedup.incrementalNearDupMd5(spark, Sf)
      .filter(col("is_new")).select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = graft.operators.Decontaminate
      .contaminatedBatchIds(spark, Sf, gramWidth = W)
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val (id, exact, near, cont, qual, admit, reason) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getInt(5), if (r.isNullAt(6)) null else r.getString(6))
      assert((exact == 0) == admitted.contains(id), s"doc $id exact flag")
      assert((near == 0) == notNearDup.contains(id), s"doc $id near flag")
      assert((cont == 1) == contaminated.contains(id), s"doc $id cont flag")
      // precedence: first failing gate names the reason; admit iff none fail
      val expectReason =
        if (exact == 1) "exact_dup"
        else if (near == 1) "near_dup"
        else if (cont == 1) "contaminated"
        else if (qual == 0) "low_quality"
        else null
      assert(reason == expectReason, s"doc $id reason $reason vs $expectReason")
      assert((admit == 1) == (reason == null), s"doc $id admit")
    }
    // the fixture must exercise the trail: some rejects and some admits
    assert(rows.exists(_.getInt(5) == 1) && rows.exists(_.getInt(5) == 0))
  }

  test("bloom-prefiltered contamination report is row-identical to the exact one") {
    // the bloom is a pure pre-prune (no false negatives; false positives
    // die in the verify join) — any row difference means the sketch
    // dropped a true match
    val exact = Decontaminate.contaminationReport(spark, Sf, gramWidth = 4)
    val bloomed = Decontaminate.contaminationReportBloom(spark, Sf, gramWidth = 4)
    assert(bloomed.exceptAll(exact).isEmpty && exact.exceptAll(bloomed).isEmpty,
      "bloom path must reproduce the exact report exactly")
  }

  test("stored-index neardup decontam: self-primes, reloads, stays row-identical") {
    val live = Decontaminate.nearDupContaminationReport(spark, Sf)
    val artifact = java.nio.file.Paths.get(
      Decontaminate.nearDupTrainIndex(Sf, 32, 8, 5).root(spark))
    org.apache.commons.io.FileUtils.deleteQuietly(artifact.toFile)
    val cold = Decontaminate.nearDupContaminationReportStored(spark, Sf)
    assert(cold.exceptAll(live).isEmpty && live.exceptAll(cold).isEmpty,
      "self-priming first run must equal the live report")
    assert(java.nio.file.Files.exists(artifact), "train band index must persist")
    val warm = Decontaminate.nearDupContaminationReportStored(spark, Sf)
    assert(warm.exceptAll(live).isEmpty && live.exceptAll(warm).isEmpty,
      "artifact-loaded run must equal the live report")
  }

  test("stored-sketch contamination report: persists once, reloads, stays row-identical") {
    val exact = Decontaminate.contaminationReport(spark, Sf, gramWidth = 4)
    // cold: no memory cache, no artifact on disk → builds and persists
    Memo.clear()
    val artifact = java.nio.file.Paths.get(
      Decontaminate.evalGramBloom(Sf, 4, 5, 0.03).root(spark))
    org.apache.commons.io.FileUtils.deleteQuietly(artifact.toFile)
    val cold = Decontaminate.contaminationReportBloomStored(spark, Sf, gramWidth = 4)
    assert(cold.exceptAll(exact).isEmpty && exact.exceptAll(cold).isEmpty,
      "self-priming first run must equal the exact report")
    assert(java.nio.file.Files.exists(artifact.resolve("sketch")), "sketch artifact must persist")
    assert(java.nio.file.Files.exists(artifact.resolve("grams")),
      "eval-gram table must persist beside the sketch")
    // warm from DISK only (fresh memory cache): must reload, not rebuild —
    // and still match
    Memo.clear()
    val warm = Decontaminate.contaminationReportBloomStored(spark, Sf, gramWidth = 4)
    assert(warm.exceptAll(exact).isEmpty && exact.exceptAll(warm).isEmpty,
      "artifact-loaded run must equal the exact report")
  }

  test("decontaminate = train docs minus the report, disjoint and exhaustive") {
    val (report, trainIds, _) = naiveContamination()
    val clean = Decontaminate.decontaminate(spark, Sf, gramWidth = W)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean.intersect(report.keySet).isEmpty)
    assert(clean ++ report.keySet == trainIds,
      "every train doc is either clean or reported — nothing vanishes")
  }

  test("no-split packing: whole docs within budget, equals the driver-side fold") {
    val ctx = 2048L
    val got = CorpusPrep.packSequencesNoSplit(spark, Sf, numShards = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
    val ref = docs.groupBy(_._1 % 32).toSeq.flatMap { case (shard, ds) =>
      val sorted = ds.toSeq.sortBy { case (id, n) => (-n, id) }
      var seq = 0L; var used = 0L
      sorted.map { case (id, n) =>
        if (used + n <= ctx || used == 0L) { val off = used; used += n; (id, shard, n, seq, off) }
        else { seq += 1; used = n; (id, shard, n, seq, 0L) }
      }
    }.toSet
    assert(got.toSet == ref, "distributed fold must equal the driver reference")
    got.foreach { case (id, _, n, _, off) =>
      assert(off + n <= ctx || off == 0L, s"doc $id straddles a sequence boundary")
    }
    got.groupBy(r => (r._2, r._4)).foreach { case ((sh, sq), members) =>
      val total = members.map(_._3).sum
      assert(total <= ctx || members.size == 1,
        s"sequence ($sh,$sq) over budget with ${members.size} docs")
    }
  }

  test("stratified sample keeps only configured strata at plausible rates and is deterministic") {
    val rates = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25)
    val sample = CorpusPrep.stratifiedSample(spark, Sf, rates, defaultRate = 0.0)
    val byLang = sample.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = spark.read.parquet(s"$Sf/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.keySet.subsetOf(rates.keySet), "defaultRate 0 drops other strata")
    assert(byLang("de") == totals("de"), "rate 1.0 keeps the whole stratum")
    // hash-threshold acceptance is binomial; just bound it away from 0/all
    val en = byLang.getOrElse("en", 0L)
    assert(en > 0 && en < totals("en"), s"en rate 0.5 kept $en of ${totals("en")}")
    val again = CorpusPrep.stratifiedSample(spark, Sf, rates, defaultRate = 0.0)
      .collect().toSeq
    assert(again == sample.collect().toSeq, "content-hash sampling is deterministic")
  }

  test("mixture sample: binding source keeps all docs, others downsample toward target weights") {
    val weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sample = CorpusPrep.mixtureSample(spark, Sf, weights)
    val kept = sample.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.keySet.subsetOf(weights.keySet), "unweighted sources are excluded")
    // the binding source s* = argmin(n_s / w_s) has rate exactly 1
    val binding = weights.keys.minBy(s => totals(s) / weights(s))
    assert(kept(binding) == totals(binding), s"binding source $binding keeps everything")
    kept.foreach { case (s, n) => assert(n <= totals(s)) }
  }

  test("shuffle order is a seed-keyed permutation with contiguous per-bucket positions") {
    val n = spark.read.parquet(s"$Sf/documents.parquet").count()
    val order = CorpusPrep.shuffleOrder(spark, Sf, seed = 42L, numBuckets = 8)
    val rows = order.collect()
    assert(rows.length == n && rows.map(_.getLong(0)).toSet.size == n,
      "every doc appears exactly once")
    rows.groupBy(_.getLong(2)).foreach { case (_, bucketRows) =>
      val positions = bucketRows.map(_.getLong(3)).sorted.toSeq
      assert(positions == (1L to bucketRows.length).toSeq,
        "positions are contiguous 1..n within each bucket")
    }
    val sameSeed = CorpusPrep.shuffleOrder(spark, Sf, seed = 42L, numBuckets = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(sameSeed == rows.map(_.getLong(0)).toSeq, "same seed replays the same order")
    val otherSeed = CorpusPrep.shuffleOrder(spark, Sf, seed = 7L, numBuckets = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(otherSeed != rows.map(_.getLong(0)).toSeq, "different seed reshuffles")
  }
}
