package graft

import org.apache.spark.sql.functions.col

import graft.operators.Similarity
import graft.sources.Memo

/** Behavior specs for the k-means coarse-quantizer trainer and the
  * trained-codebook IVF path, over the sf0.001 embeddings.
  */
class KmeansSpec extends SparkTestBase {

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < a.length) {
      dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1
    }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  test("k-means training is deterministic across runs") {
    Memo.clear()
    val a = Similarity.kmeansCodebook(spark, Sf)
    // bypass the train-once cache: the determinism claim is about
    // RETRAINING producing the identical artifact, not cache identity
    Memo.clear()
    val b = Similarity.kmeansCodebook(spark, Sf)
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((_, va), (_, vb)) =>
      assert(va.sameElements(vb), "fixed-point sums must make centroids bit-identical")
    }
    assert(a.nonEmpty && a.size <= 16)
  }

  test("assignments are the argmax-cosine cell of the trained codebook") {
    val codebook = Similarity.kmeansCodebook(spark, Sf)
    val assign = Similarity.kmeansAssignments(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = spark.read.parquet(s"$Sf/embeddings.parquet")
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
      }
    assert(assign.size == vecs.length)
    vecs.foreach { case (id, v) =>
      // float-rounded sims, lowest cid wins ties — same contract as the plan
      val best = codebook
        .map { case (cid, cv) => (cid, cosine(v, cv).toFloat) }
        .maxBy { case (cid, s) => (s, -cid) }._1
      assert(assign(id) == best, s"vec $id assigned ${assign(id)}, argmax is $best")
    }
  }

  test("training moves centroids off their init and keeps every cell non-empty here") {
    val init = Similarity.kmeansCodebook(spark, Sf, iters = 0)
    val trained = Similarity.kmeansCodebook(spark, Sf, iters = 2)
    assert(init.size == 16)
    assert(trained.size == 16, "no cell empties out on this corpus")
    assert(trained.exists { case (cid, cv) =>
      !init.find(_._1 == cid).get._2.sameElements(cv)
    }, "two Lloyd's iterations must update at least one centroid")
  }

  test("codebooks are train-once: a second lookup runs ZERO Spark jobs") {
    import java.util.concurrent.atomic.AtomicInteger
    Memo.clear()
    Similarity.kmeansCodebook(spark, Sf)
    Similarity.pqCodebooks(spark, Sf)
    Similarity.residualPqCodebooks(spark, Sf)
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val k2 = Similarity.kmeansCodebook(spark, Sf)
      val p2 = Similarity.pqCodebooks(spark, Sf)
      val r2 = Similarity.residualPqCodebooks(spark, Sf)
      // listener events post asynchronously; the bus-drain API is
      // private[spark], so give the (tiny) event queue a beat to flush
      Thread.sleep(1000)
      assert(jobs.get() == 0,
        s"cached codebook lookups launched ${jobs.get()} Spark jobs")
      assert(k2.nonEmpty && p2.nonEmpty && r2.nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("materialized codebook round-trips through parquet into identical IVF results") {
    val dir = graft.sources.IO.scratchDir("codebook_table")
    Similarity.kmeansCodebookTable(spark, Sf)
      .write.mode("overwrite").parquet(s"$dir/codebook.parquet")
    val loaded = Similarity.codebookFromTable(
      spark.read.parquet(s"$dir/codebook.parquet"))
    val direct = Similarity.kmeansCodebook(spark, Sf)
    assert(loaded.map(_._1) == direct.map(_._1))
    loaded.zip(direct).foreach { case ((_, lv), (_, dv)) =>
      assert(lv.sameElements(dv), "parquet round-trip must be bit-exact (doubles)")
    }
    val fromTable = Similarity.ivfCosineTopKFromTable(spark, Sf,
      spark.read.parquet(s"$dir/codebook.parquet")).collect()
    val trained = Similarity.ivfCosineTopKTrained(spark, Sf).collect()
    assert(fromTable.map(_.toString).toSeq == trained.map(_.toString).toSeq,
      "search against the materialized table must equal the trained path")
  }

  test("trained-codebook IVF keeps useful recall@5 vs exact brute force") {
    val exact = Similarity.cosineTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfCosineTopKTrained(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"trained IVF recall@5 = $recall")
  }

  test("stored IVF index self-primes a persisted artifact and equals the trained path") {
    val artifact = java.nio.file.Paths.get(
      Similarity.ivfIndex(Sf, nlist = 16, iters = 2).root(spark), "codebook")
    // force a cold start: delete the artifact if an earlier run left one
    if (java.nio.file.Files.exists(artifact)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(artifact).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val stored = Similarity.ivfCosineTopKStored(spark, Sf).collect()
    assert(java.nio.file.Files.exists(artifact),
      "first use must persist the codebook artifact")
    val trained = Similarity.ivfCosineTopKTrained(spark, Sf).collect()
    assert(stored.map(_.toString).toSeq == trained.map(_.toString).toSeq,
      "stored-artifact search must be row-identical to the trained path")
    // second call consumes the artifact without touching the trainer cache
    Memo.clear()
    val again = Similarity.ivfCosineTopKStored(spark, Sf).collect()
    assert(again.map(_.toString).toSeq == trained.map(_.toString).toSeq)
  }

  test("binary sign-bit ANN: Hamming shortlist + rerank holds recall@5 vs brute force") {
    val exact = Similarity.cosineTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val bin = Similarity.binarySignTopK(spark, Sf, numQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & bin).size.toDouble / exact.size
    // 64 sign bits over a 500-row corpus with a 50-wide shortlist: the
    // hyperplane-LSH bound puts true neighbors overwhelmingly inside the
    // shortlist; rerank is exact, so misses come only from shortlist
    // truncation
    assert(recall >= 0.5, s"binary-quantization recall@5 = $recall")
    // shortlist covering the whole corpus degenerates to exact brute force
    val full = Similarity.binarySignTopK(spark, Sf, numQueries = 10, k = 5,
      shortlist = 500)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full == exact,
      "an exhaustive shortlist must reproduce exact top-k")
  }

  test("cluster topic terms: <= topN per cell, idf damps ubiquitous terms") {
    val terms = Similarity.clusterTopTerms(spark, Sf).localCheckpoint()
    val assign = Similarity.kmeansAssignments(spark, Sf)
    // every populated cell gets labels, none more than topN
    val perCell = terms.groupBy("cid").count()
    assert(perCell.filter(col("count") > 5).isEmpty)
    assert(perCell.count() == assign.select("cid").distinct().count(),
      "every populated cell must surface labels")
    // a term in EVERY cell has idf log((k+1)/(k+1)) = 0 — it can never
    // outrank a cell-specific term with positive score
    val k = assign.select("cid").distinct().count()
    val ubiquitous = terms.groupBy("term").count().filter(col("count") === k)
      .select("term")
    val positive = terms.filter(col("score") > 0f)
    assert(positive.join(ubiquitous, "term").isEmpty
      || terms.filter(col("score") <= 0f).isEmpty,
      "an everywhere-term may only appear when a cell has nothing better")
  }
}
