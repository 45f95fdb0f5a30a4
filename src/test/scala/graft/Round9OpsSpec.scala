package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}

/** Behavior specs for the round-9 operators: winnowing fingerprint
  * selection (+ pair detection over it) and per-cell semantic pruning.
  */
class Round9OpsSpec extends SparkTestBase {

  import spark.implicits._

  private val K = 3 // gram width
  private val W = 4 // winnowing window (in grams)

  private def winnow(docs: Seq[(Long, String)]) =
    TextAnalysis.winnowFingerprintFrame(docs.toDF("doc_id", "text"), K, W)

  test("winnowing guarantee: a shared k+w-1 token run forces a shared fingerprint") {
    // docs share the 6-token run "q r s t u v" (k+w-1 = 6) embedded in
    // otherwise-disjoint text — winnowing MUST select the same
    // fingerprint from that run in both documents
    val fps = winnow(Seq(
      (1L, "a b c d e q r s t u v f g h i j"),
      (2L, "z y x w q r s t u v m n o p"))).collect()
    val set1 = fps.filter(_.getLong(0) == 1L).map(_.getLong(1)).toSet
    val set2 = fps.filter(_.getLong(0) == 2L).map(_.getLong(1)).toSet
    assert(set1.intersect(set2).nonEmpty,
      "a k+w-1 shared token run must select at least one common fingerprint")
  }

  test("winnowing selects a subset of the doc's gram hashes, ~2/(w+1) dense") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val fps = TextAnalysis.winnowFingerprintFrame(docs, K, W)
    val grams = docs
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, greatest(size(split(text, ' ')) - ${K - 1}, 1)),
            i -> cast(conv(substring(md5(cast(concat_ws(' ', slice(split(text, ' '), i, $K)) as binary)), 1, 15), 16, 10) as bigint))"""))
        .as("fp"))
    assert(fps.join(grams, Seq("doc_id", "fp"), "left_anti").isEmpty,
      "every selected fingerprint must be one of the doc's gram hashes")
    val nFps = fps.count().toDouble
    val nGrams = grams.count().toDouble
    assert(nFps < nGrams, "selection must be sparser than the gram set")
    assert(nFps > nGrams / (2 * W),
      s"selection too sparse to honor window coverage: $nFps of $nGrams")
  }

  test("winnowing is position-robust: one edit far from a window leaves distant fingerprints intact") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val edited = base.replace("tok35", "EDITED")
    val fps = winnow(Seq((1L, base), (2L, edited))).collect()
    val a = fps.filter(_.getLong(0) == 1L).map(_.getLong(1)).toSet
    val b = fps.filter(_.getLong(0) == 2L).map(_.getLong(1)).toSet
    // the first 30 tokens are untouched: every fingerprint selected from
    // windows wholly inside them survives the edit
    assert(a.intersect(b).size >= math.min(a.size, b.size) / 2,
      s"a single far edit must preserve most fingerprints: |a|=${a.size} |b|=${b.size} shared=${a.intersect(b).size}")
  }

  test("winnow pairs: n_shared_fps counts exactly the df-capped fingerprint intersection") {
    val pairs = Dedup.winnowPairs(spark, Sf).collect()
    assert(pairs.nonEmpty, "the duplicate-bearing fixture must surface pairs")
    val fps = TextAnalysis.winnowFingerprintFrame(
      spark.read.parquet(s"$Sf/documents.parquet"), K, W)
    val capped = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("fp")
    val kept = fps.join(capped, "fp")
    val expect = kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.length == expect.size)
    pairs.foreach { r =>
      assert(expect((r.getLong(0), r.getLong(1))) == r.getLong(2))
    }
  }

  test("semantic prune: keep is the per-cell rank cut at exactly floor(dropFrac * cell_n)") {
    val d = Similarity.semanticPruneDecisions(spark, Sf)
    val perCell = d.groupBy("cid").agg(
      count(lit(1)).as("n"),
      sum(col("keep")).as("kept"),
      sum(lit(1) - col("keep")).as("dropped"))
      .collect()
    assert(perCell.nonEmpty)
    perCell.foreach { r =>
      val n = r.getLong(1)
      assert(r.getLong(3) == math.floor(0.25 * n).toLong,
        s"cell ${r.getLong(0)}: dropped ${r.getLong(3)} of $n, expected floor(0.25*$n)")
    }
    // the dropped quarter must be the MOST prototypical (highest-sim) rows
    val worstKept = d.filter(col("keep") === 1)
      .groupBy("cid").agg(max("sim").as("max_kept"))
    val bestDropped = d.filter(col("keep") === 0)
      .groupBy("cid").agg(min("sim").as("min_dropped"))
    val violated = worstKept.join(bestDropped, "cid")
      .filter(col("max_kept") > col("min_dropped"))
    assert(violated.isEmpty,
      "every dropped row must be at least as central as every kept row in its cell")
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet").limit(300)
    val toks = docs.select(col("doc_id"),
      expr("array_sort(array_distinct(transform(split(text, ' '), t -> xxhash64(t))))").as("ts"))
    val pairs = toks.as("a").join(toks.as("b"),
        col("a.doc_id") < col("b.doc_id") && col("a.doc_id") % 17 === col("b.doc_id") % 17)
      .select(col("a.ts").as("x"), col("b.ts").as("y"))
    val diff = pairs.filter(
      call_function("sorted_intersect_count", col("x"), col("y"))
        =!= size(array_intersect(col("x"), col("y"))))
    assert(diff.isEmpty, "merge count must equal the built-in intersect size")
    // edge cases: empty and disjoint and identical
    val edge = Seq(
      (Seq.empty[Long], Seq(1L, 2L), 0),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L), 0),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue), 2))
      .toDF("x", "y", "want")
    assert(edge.filter(
      call_function("sorted_intersect_count", col("x"), col("y")) =!= col("want")).isEmpty)
  }

  test("incremental winnow: verdicts cover the batch and n_shared is the capped fp intersection") {
    val v = Dedup.incrementalWinnowStored(spark, Sf).collect()
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    assert(v.length == docs.filter(col("doc_id") % 10 === 0).count())
    val dups = v.filter(!_.getBoolean(1))
    assert(dups.nonEmpty, "the duplicate-bearing fixture must surface dups")
    // recompute the capped shared-fp count for each picked pair
    val fps = TextAnalysis.winnowFingerprintFrame(docs, K, W)
    val corpusFps = fps.filter(col("doc_id") % 10 =!= 0)
    val capped = corpusFps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("fp")
    val shared = fps.filter(col("doc_id") % 10 === 0)
      .join(capped, "fp")
      .join(corpusFps.select(col("doc_id").as("corpus_id"), col("fp")), "fp")
      .groupBy("doc_id", "corpus_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    dups.foreach { r =>
      assert(shared((r.getLong(0), r.getLong(2))) == r.getLong(3),
        s"verdict for batch doc ${r.getLong(0)} reports a wrong shared count")
    }
  }

  test("shard manifest: covers the corpus, agrees with shuffleOrder, and the order fp is position-sensitive") {
    import graft.operators.CorpusPrep
    val m = CorpusPrep.shardManifest(spark, Sf).collect()
    val nDocs = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(m.map(_.getLong(1)).sum == nDocs, "every document lands in exactly one shard")
    assert(m.length <= 64 && m.map(_.getLong(0)).distinct.length == m.length)
    // per-shard counts must equal the shuffle layout's bucket populations
    val buckets = CorpusPrep.shuffleOrder(spark, Sf)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m.foreach(r => assert(buckets(r.getLong(0)) == r.getLong(1)))
    // position sensitivity: xor-ing slot hashes with pos+1 instead of pos
    // must flip the order fingerprint while content_fp stays put — a
    // reordered shard cannot certify
    val shifted = CorpusPrep.shuffleOrder(spark, Sf)
      .join(spark.read.parquet(s"$Sf/documents.parquet").select("doc_id", "text"), "doc_id")
      .withColumn("dh", expr("cast(conv(substring(md5(cast(text as binary)), 1, 15), 16, 10) as bigint)"))
      .withColumn("slot2", expr(
        "cast(conv(substring(md5(cast(concat_ws(':', cast(bucket as string), cast(pos + 1 as string), cast(dh as string)) as binary)), 1, 15), 16, 10) as bigint)"))
      .groupBy("bucket").agg(expr("bit_xor(slot2)").as("order_fp2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m.foreach(r => assert(shifted(r.getLong(0)) != r.getLong(4),
      s"shard ${r.getLong(0)}: a uniform position shift must change order_fp"))
  }

  test("normalization: canonical form is case/punct/whitespace-invariant and idempotent") {
    val df = Seq(
      "Hello, World!",
      "hello world",
      "  hello   WORLD  ",
      "hello-world",
      "entirely different").toDF("text")
      .select(col("text"), TextAnalysis.normalizeText(col("text")).as("n"))
    val norms = df.collect().map(_.getString(1))
    assert(norms.take(4).toSet == Set("hello world"),
      s"all four variants must canonicalize identically: ${norms.toSeq}")
    assert(norms(4) == "entirely different")
    // idempotent: a second pass is the identity
    assert(df.filter(
      TextAnalysis.normalizeText(col("n")) =!= col("n")).isEmpty)
  }

  test("normalized exact dedup keeps no more survivors than raw exact dedup") {
    val raw = graft.operators.Dedup.exactByText(spark, Sf).count()
    val norm = graft.operators.Dedup.exactByNormalizedText(spark, Sf).count()
    assert(norm <= raw,
      s"canonicalization can only merge fingerprint classes: norm=$norm raw=$raw")
  }

  test("incremental semantic near-dup: verdicts cover the batch and every dup is a same-cell hit") {
    val v = Similarity.incrementalSemanticNearDup(spark, Sf)
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val nBatch = emb.filter(col("vec_id") % 10 === 0).count()
    assert(v.count() == nBatch, "one verdict row per batch vector")
    assert(v.filter(col("is_new") =!= col("dup_of").isNull).isEmpty)
    // every non-new verdict must really be an above-threshold same-cell pair
    val assign = Similarity.kmeansAssignments(spark, Sf)
    val dups = v.filter(!col("is_new"))
    assert(dups.count() > 0, "the duplicate-bearing fixture must surface dups")
    val withVecs = dups
      .join(emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("bv")), "vec_id")
      .join(emb.select(col("vec_id").as("dup_of"),
        expr("transform(embedding, x -> cast(x as double))").as("cv")), "dup_of")
      .withColumn("cos2", expr("cosine_sim(bv, cv)"))
    assert(withVecs.filter(col("cos2") < 0.35).isEmpty,
      "reported dup below the threshold")
    assert(withVecs.filter(abs(col("cos2").cast("float") - col("cos")) > 1e-6).isEmpty,
      "reported cos must be the pair's cosine")
    val cellPairs = dups
      .join(assign, Seq("vec_id"))
      .join(assign.select(col("vec_id").as("dup_of"), col("cid").as("cid2")), "dup_of")
    assert(cellPairs.filter(col("cid") =!= col("cid2")).isEmpty,
      "candidates must come from the batch vector's own cell")
  }

  test("iterative loops restore the session width confs (no conf leak)") {
    // a leaked shuffle-width conf would silently poison every later
    // query in the session — run each pinned loop family and assert the
    // session's width knobs come back exactly
    val partsKey = "spark.sql.shuffle.partitions"
    val initKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val aqeKey = "spark.sql.adaptive.enabled"
    val parts0 = spark.conf.get(partsKey)
    val init0 = spark.conf.getOption(initKey)
    val aqe0 = spark.conf.getOption(aqeKey)
    graft.operators.LinkGraph.pageRank(spark, Sf).collect()
    graft.operators.Cluster.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b").collect()
    // FW-BW sweeps run with AQE off below the broadcast ceiling
    val scc = graft.operators.LinkGraph.sccOver(
      Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst"),
      Seq(1L, 2L, 3L).toDF("node")).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("scc_id")).toMap
    assert(scc == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(spark.conf.get(partsKey) == parts0, "shuffle.partitions leaked")
    assert(spark.conf.getOption(initKey) == init0, "initialPartitionNum leaked")
    assert(spark.conf.getOption(aqeKey) == aqe0, "adaptive.enabled leaked")
    // a body that throws: every key set before comes back, and a key
    // that had no value before is unset again
    val absentKey = "spark.graft.test.scopedAbsent"
    assert(spark.conf.getOption(absentKey).isEmpty)
    val boom = intercept[IllegalStateException] {
      graft.operators.LoopWidth.scoped(spark,
        partsKey -> "1", initKey -> "1", aqeKey -> "false", absentKey -> "x") {
        assert(spark.conf.get(partsKey) == "1")
        assert(spark.conf.get(absentKey) == "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(boom.getMessage == "body failed")
    assert(spark.conf.get(partsKey) == parts0, "shuffle.partitions not restored")
    assert(spark.conf.getOption(initKey) == init0, "initialPartitionNum not restored")
    assert(spark.conf.getOption(aqeKey) == aqe0, "adaptive.enabled not restored")
    assert(spark.conf.getOption(absentKey).isEmpty, "absent key not unset")
  }

  test("semantic prune: cell assignment agrees with kmeans_assign") {
    val d = Similarity.semanticPruneDecisions(spark, Sf)
      .select("vec_id", "cid")
    val a = Similarity.kmeansAssignments(spark, Sf)
    assert(d.exceptAll(a).isEmpty && a.exceptAll(d).isEmpty,
      "prune must rank inside the same trained cells the assigner emits")
  }
}
