package graft

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{CorpusPrep, Decontaminate, Importance, LinkGraph, Retrieval, Similarity}

/** Behavior specs for the round-7 curation operators: BM25 retrieval,
  * DSIR importance resampling, click-graph PageRank, CCNet perplexity
  * buckets, and the cross-source overlap audit.
  */
class CurationOpsSpec extends SparkTestBase {

  private lazy val nDocs =
    spark.read.parquet(s"$Sf/documents.parquet").count()

  test("bm25: per-query top-k, positive scores, hits contain a query term") {
    val res = Retrieval.bm25TopK(spark, Sf).cache()
    val perQ = res.groupBy("qid").agg(count(lit(1)).as("k")).collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) <= 10))
    assert(res.filter(col("score") <= 0.0).isEmpty, "Lucene +1 idf keeps scores positive")
    // every returned doc must actually contain a term of its query
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val terms = Retrieval.Queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
    import spark.implicits._
    val qt = terms.toDF("qid", "term")
    val bad = res.join(docs, "doc_id").join(qt, "qid")
      .groupBy("qid", "doc_id")
      .agg(max(expr("array_contains(split(text, ' '), term)")).as("hit"))
      .filter(!col("hit"))
    assert(bad.isEmpty, "a ranked doc contains none of its query's terms")
    res.unpersist()
  }

  test("bm25: ranking is deterministic across partitionings") {
    val a = Retrieval.bm25TopK(spark, Sf).collect().toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = Retrieval.bm25TopK(spark, Sf).collect().toSeq
      assert(a == b, "fixed-point ranking must not depend on partition layout")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("dsir: estimator favors target-like documents and the draw is exact-size") {
    val w = Importance.weights(spark, Sf).cache()
    assert(w.count() == nDocs)
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val byLang = w.join(docs, "doc_id")
      .groupBy(col("lang") === "en")
      .agg(avg(col("log_weight") / col("n_tokens")).as("mw"))
      .collect().map(r => (r.getBoolean(0), r.getDouble(1))).toMap
    assert(byLang(true) > byLang(false),
      s"en docs must out-weight non-en under an en-target estimator: $byLang")
    val s = Importance.sample(spark, Sf)
    assert(s.count() == math.floor(0.25 * nDocs).toLong)
    val s2 = Importance.sample(spark, Sf).collect().toSeq
    assert(s.collect().toSeq == s2, "hash-seeded Gumbel draw must be deterministic")
    w.unpersist()
  }

  test("pagerank: mass conserved, strictly positive, partition-independent") {
    val pr = LinkGraph.pageRank(spark, Sf).cache()
    val total = pr.agg(sum("pr")).collect()(0).getDouble(0)
    // fixed-point contributions truncate at 1e-9 per edge; mass stays
    // within that tolerance of 1
    assert(math.abs(total - 1.0) < 1e-4, s"rank mass $total drifted from 1")
    assert(pr.filter(col("pr") <= 0.0).isEmpty, "teleportation floors every rank")
    val a = pr.collect().toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = LinkGraph.pageRank(spark, Sf).collect().toSeq
      assert(a == b, "fixed-point power iteration must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    pr.unpersist()
  }

  test("pagerank: a transition sink out-ranks the uniform floor") {
    val pr = LinkGraph.pageRank(spark, Sf)
    val edges = LinkGraph.transitionEdges(spark, Sf)
    val n = pr.count().toDouble
    // the most-cited node must beat 1/n (it receives real mass)
    val topIn = edges.groupBy("dst").agg(sum("weight").as("w"))
      .orderBy(desc("w"), asc("dst")).limit(1)
      .collect()(0).getLong(0)
    val r = pr.filter(col("node") === topIn).collect()(0).getDouble(1)
    assert(r > 1.0 / n, s"hub node $topIn rank $r not above uniform ${1.0 / n}")
  }

  test("perplexity buckets: thirds partition the scored corpus") {
    val b = TextAnalysis.perplexityBuckets(spark, Sf).cache()
    val counts = b.groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts.keySet == Set("head", "middle", "tail"))
    val n = counts.values.sum
    assert(counts.values.forall(c => math.abs(c - n / 3.0) <= 2),
      s"cut must be thirds: $counts")
    // head really is the high-logprob end
    val hm = b.groupBy("bucket").agg(min("mean_logprob").as("lo"), max("mean_logprob").as("hi"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(hm("head")._1 >= hm("middle")._2 || hm("head")._1 >= hm("tail")._2)
    b.unpersist()
  }

  test("source overlap: planted near-dups share opening spans across sources") {
    val o = CorpusPrep.sourceOverlap(spark, Sf)
    val rows = o.collect()
    assert(rows.nonEmpty, "fixture plants cross-source near-dups")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "each unordered pair appears once")
      assert(r.getLong(2) >= 1)
    }
  }

  test("dedup source attribution: per-source counts tile the corpus, kept = clusters") {
    val att = operators.Cluster.dedupSourceAttribution(spark, Sf).collect()
    val docs = spark.read.parquet(s"$Sf/documents.parquet").count()
    val clusters = operators.Cluster.nearDupComponentsMd5(spark, Sf)
      .select("component_id").distinct().count()
    assert(att.map(_.getLong(1)).sum == docs, "n_docs must tile the corpus")
    assert(att.map(_.getLong(2)).sum == clusters,
      "every cluster keeps exactly one representative")
    att.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        s"kept+dropped must tile the source: $r")
      assert(r.getLong(4) <= r.getLong(3), s"cross-source loss bounded: $r")
    }
  }

  test("padding waste: rungs tile the corpus, waste bounded, truncation only at top rung") {
    val pw = operators.CorpusPrep.paddingWaste(spark, Sf).collect()
    val docs = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(pw.map(_.getLong(1)).sum == docs, "rungs must tile the corpus")
    val top = operators.CorpusPrep.PaddingBuckets.last
    pw.foreach { r =>
      val (rung, nDocs, kept, trunc, padded, waste) = (r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(padded == rung * nDocs)
      assert(kept <= padded && waste >= 0.0 && waste < 1.0, s"waste in [0,1): $r")
      assert(trunc == 0 || rung == top, s"truncation only at the top rung: $r")
    }
  }

  test("bm25 stored: row-identical to the build-inclusive run (the artifact IS the tf frame)") {
    val a = Retrieval.bm25TopK(spark, Sf).collect().toSeq
    val b = Retrieval.bm25TopKStored(spark, Sf).collect().toSeq
    assert(a == b)
  }

  test("pagerank stored: row-identical to the on-the-fly run (the artifact IS the graph)") {
    val a = LinkGraph.pageRank(spark, Sf).collect().toSeq
    val b = LinkGraph.pageRankStored(spark, Sf).collect().toSeq
    assert(a == b)
  }

  test("pagerank join loop: bit-identical to the broadcast loop (strategy, not values)") {
    val a = LinkGraph.pageRankStored(spark, Sf).collect().toSeq
    val b = LinkGraph.pageRankStored(spark, Sf, broadcastCeiling = 0L).collect().toSeq
    assert(a == b)
  }

  test("hits join loop: bit-identical to the broadcast loop (strategy, not values)") {
    val a = LinkGraph.hits(spark, Sf).collect().toSeq
    val b = LinkGraph.hits(spark, Sf, broadcastCeiling = 0L).collect().toSeq
    assert(a == b)
  }

  test("ppr join loop: bit-identical to the broadcast loop (strategy, not values)") {
    val a = LinkGraph.personalizedPageRank(spark, Sf).collect().toSeq
    val b = LinkGraph.personalizedPageRank(spark, Sf, broadcastCeiling = 0L).collect().toSeq
    assert(a == b)
  }

  test("label prop join loop: bit-identical to the broadcast loop (strategy, not values)") {
    val a = LinkGraph.labelPropagation(spark, Sf).collect().toSeq
    val b = LinkGraph.labelPropagation(spark, Sf, broadcastCeiling = 0L).collect().toSeq
    assert(a == b)
  }

  test("label prop: labels are node ids, sizes tile the node universe, synchronous rounds coarsen") {
    val labels = LinkGraph.labelPropagation(spark, Sf).cache()
    val nodes = labels.select("node")
    // every community label is itself a node id (labels only propagate,
    // never invent values)
    assert(labels.select(col("community").as("node"))
      .join(nodes, Seq("node"), "left_anti").isEmpty)
    // the size profile partitions the node universe exactly
    val sizes = LinkGraph.labelCommunitySizes(spark, Sf)
    assert(sizes.agg(sum("members")).collect()(0).getLong(0) == labels.count())
    // rounds never split communities on this graph: community count is
    // non-increasing in iters (synchronous LPA coarsens the click graph)
    val c1 = LinkGraph.labelPropagation(spark, Sf, iters = 1)
      .select("community").distinct().count()
    val c3 = labels.select("community").distinct().count()
    assert(c3 <= c1, s"3 rounds produced $c3 communities vs $c1 after 1")
    labels.unpersist()
  }

  test("hits: each half-step is L1-normalized, scores nonneg, hubs differ from authorities") {
    val h = LinkGraph.hits(spark, Sf).cache()
    assert(h.filter(col("hub") < 0.0 || col("authority") < 0.0).isEmpty)
    val sums = h.agg(sum("hub"), sum("authority")).collect()(0)
    // fixed-point truncation bounds the drift from exact L1 = 1
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-6, s"hub mass ${sums.getDouble(0)}")
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-6, s"auth mass ${sums.getDouble(1)}")
    // the transition graph is asymmetric, so the two centralities must
    // actually disagree somewhere (HITS degenerates to one vector only on
    // symmetric graphs)
    assert(h.filter(col("hub") =!= col("authority")).count() > 0)
    val a = h.collect().toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(LinkGraph.hits(spark, Sf).collect().toSeq == a,
        "fixed-point half-steps must not depend on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    h.unpersist()
  }

  test("hard negatives: labels separate positives from negatives, ranks ordered") {
    val hn = Retrieval.hardNegatives(spark, Sf).cache()
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select(col("vec_id"), col("label"))
    val ql = emb.withColumnRenamed("vec_id", "qid").withColumnRenamed("label", "ql")
    val joined = hn.join(ql, "qid")
      .join(emb.withColumnRenamed("vec_id", "pos_id").withColumnRenamed("label", "pl"), "pos_id")
      .join(emb.withColumnRenamed("vec_id", "neg_id").withColumnRenamed("label", "nl"), "neg_id")
    assert(joined.filter(col("pl") =!= col("ql")).isEmpty, "positive must share the query label")
    assert(joined.filter(col("nl") === col("ql")).isEmpty, "negative must not share the query label")
    // within a query, neg_sim is non-increasing in neg_rank and below pos machinery's reach
    val bad = hn.selectExpr("qid", "neg_rank", "neg_sim")
      .groupBy("qid").agg(collect_list(struct(col("neg_rank"), col("neg_sim"))).as("ns"))
      .selectExpr("qid",
        "exists(ns, a -> exists(ns, b -> a.neg_rank < b.neg_rank AND a.neg_sim < b.neg_sim)) AS broken")
      .filter(col("broken"))
    assert(bad.isEmpty, "neg_sim must be non-increasing in neg_rank")
    hn.unpersist()
  }

  test("hybrid rrf: fused keys dominate single-list keys; missing dense list degrades gracefully") {
    val r = Retrieval.hybridRrfTopK(spark, Sf).cache()
    val perQ = r.groupBy("qid").agg(count(lit(1)).as("k")).collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) <= 10))
    // a doc ranked #1 in BOTH lists would score 2/(60+1); any doc present
    // in only one list is bounded by 1/(60+1) — so every both-lists doc
    // with small ranks must out-score every single-list doc
    val both = r.filter(col("lex_rank").isNotNull && col("dense_rank").isNotNull)
    assert(both.count() > 0, "fixture probes must have overlapping lexical/dense hits")
    assert(r.filter(col("rrf") <= 0.0).isEmpty)
    val a = r.collect().toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(Retrieval.hybridRrfTopK(spark, Sf).collect().toSeq == a)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    r.unpersist()
  }

  test("containment: bounded by 1, threshold respected, train and eval sides disjoint") {
    val c = Decontaminate.containmentReport(spark, Sf).cache()
    assert(c.count() > 0, "fixture overlap must produce report rows")
    assert(c.filter(col("containment") < 0.02 || col("containment") > 1.0).isEmpty)
    assert(c.filter(col("n_shared") > col("n_eval")).isEmpty)
    val trains = c.select("doc_id").distinct()
    val evals = c.select(col("eval_id").as("doc_id")).distinct()
    assert(trains.join(evals, "doc_id").isEmpty,
      "a doc cannot be on both sides of the eval split")
    c.unpersist()
  }

  test("personalized pagerank: mass concentrates on and around the seed set") {
    val ppr = LinkGraph.personalizedPageRank(spark, Sf).cache()
    val total = ppr.agg(sum("ppr")).collect()(0).getDouble(0)
    assert(math.abs(total - 1.0) < 1e-4, s"rank mass $total drifted from 1")
    // the seed slice (10 of 100 nodes) must hold MORE than its uniform
    // 10% share — restart bias is the operator's entire purpose
    val seedMass = ppr.filter(col("node") % 10 === 0)
      .agg(sum("ppr")).collect()(0).getDouble(0)
    assert(seedMass > 0.2, s"seed mass $seedMass not concentrated")
    // non-seed nodes can only hold mass reachable FROM seeds: a node with
    // rank > 0 either is a seed or has an in-edge
    val edges = LinkGraph.transitionEdges(spark, Sf)
      .select(col("dst").as("node")).distinct()
    val orphaned = ppr.filter(col("ppr") > 0.0 && col("node") % 10 =!= 0)
      .join(edges, Seq("node"), "left_anti")
    assert(orphaned.isEmpty, "positive PPR on an unreachable non-seed node")
    ppr.unpersist()
  }

  test("random walks: every step follows a real edge and the draw is reproducible") {
    val w = LinkGraph.randomWalks(spark, Sf).cache()
    val starts = w.filter(col("step") === 0)
    val nNodes = spark.read.parquet(s"$Sf/events.parquet")
      .selectExpr("CAST(get_json_object(props, '$.k') AS LONG) AS item")
      .distinct().count()
    assert(starts.count() == nNodes, "one walk per node")
    // consecutive (step, step+1) pairs must all be edges of the graph
    val edges = LinkGraph.transitionEdges(spark, Sf).select("src", "dst")
    val pairs = w.select(col("walk_id"), col("step"), col("node").as("src"))
      .join(w.select(col("walk_id"), (col("step") - 1).as("step"),
        col("node").as("dst")), Seq("walk_id", "step"))
    assert(pairs.join(edges, Seq("src", "dst"), "left_anti").isEmpty,
      "a walk stepped along a non-edge")
    val a = w.collect().toSeq
    assert(LinkGraph.randomWalks(spark, Sf).collect().toSeq == a,
      "hash-derandomized walks must be reproducible")
    w.unpersist()
  }

  test("kneser-ney: valid log-probs, smooths differently from jelinek-mercer, partition-independent") {
    val kn = TextAnalysis.knLogProb(spark, Sf).cache()
    assert(kn.filter(col("mean_logprob") >= 0.0).isEmpty, "log-probs must be negative")
    val jm = TextAnalysis.bigramLogProb(spark, Sf)
    // same scoreable population (≥2-token docs)...
    assert(kn.count() == jm.count())
    // ...but a different smoothing family: the two models must disagree
    // on at least some documents' scores
    val agree = kn.select(col("doc_id"), col("mean_logprob").as("a"))
      .join(jm.select(col("doc_id"), col("mean_logprob").as("b")), "doc_id")
      .filter(col("a") === col("b")).count()
    assert(agree < kn.count(), "KN must not degenerate to the JM interpolation")
    val a = kn.collect().toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(TextAnalysis.knLogProb(spark, Sf).collect().toSeq == a)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    kn.unpersist()
  }

  test("budget mix: shares sum to 1, epoch cap binds, deficit is exact") {
    val m = CorpusPrep.budgetMix(spark, Sf).cache()
    val shareSum = m.agg(sum("share")).collect()(0).getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares sum to $shareSum")
    assert(m.filter(col("served_tok") > col("desired_tok")).isEmpty)
    assert(m.filter(col("served_tok") > lit(4L) * col("n_tokens")).isEmpty)
    assert(m.filter(col("deficit") =!= col("desired_tok") - col("served_tok")).isEmpty)
    assert(m.filter(col("epochs") > 4.0).isEmpty)
    // a 4× budget over √n shares pushes tail sources past the epoch cap
    // while head sources stay under — BOTH regimes must appear
    assert(m.filter(col("deficit") > 0L).count() > 0, "fixture must exercise the cap")
    assert(m.filter(col("deficit") === 0L).count() > 0, "and some sources must stay under it")
    m.unpersist()
  }

  test("embedding spike gate: flags both tails, stable across partitioning") {
    val o = Similarity.embSpikeOutliers(spark, Sf).cache()
    assert(o.count() > 0, "fixture embeddings must have spike outliers")
    assert(o.filter(abs(col("z")) < 2.0).isEmpty)
    // z-scores must cover both directions: too-spiked AND too-flat
    assert(o.filter(col("z") > 0.0).count() > 0)
    assert(o.filter(col("z") < 0.0).count() > 0)
    val a = o.collect().toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(Similarity.embSpikeOutliers(spark, Sf).collect().toSeq == a)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    o.unpersist()
  }

  test("plan audit: hits/pagerank iterate without shuffling edges; containment broadcasts the eval side") {
    val hp = LinkGraph.hits(spark, Sf).queryExecution.executedPlan.toString
    assert(hp.contains("BroadcastHashJoin"), hp)
    val cp = Decontaminate.containmentReport(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(cp.contains("BroadcastHashJoin"), cp)
    assert(!cp.contains("CartesianProduct"), cp)
  }

  test("plan audit: bm25 joins the query set broadcast; dsir scoring broadcasts the estimator") {
    val bm = Retrieval.bm25TopK(spark, Sf).queryExecution.executedPlan.toString
    assert(bm.contains("BroadcastHashJoin"), bm)
    assert(!bm.contains("CartesianProduct"), bm)
    val dw = Importance.weights(spark, Sf).queryExecution.executedPlan.toString
    assert(dw.contains("BroadcastHashJoin"), dw)
    assert(!dw.contains("SortMergeJoin"),
      s"the 256-row estimator must broadcast back to the token stream:\n$dw")
  }
}
