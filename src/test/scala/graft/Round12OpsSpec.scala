package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.obs.RunRecord
import graft.operators.LinkGraph

/** Behavior specs for the round-12 hardening: SCC budget scaling and
  * degraded (non-strict) mode, and the sorted_contains element-type
  * guard.
  */
class Round12OpsSpec extends SparkTestBase {

  import spark.implicits._

  test("sccOver non-strict: sweep-budget hit degrades, never crashes") {
    // a 6-cycle takes a few relax+jump rounds; maxSweeps = 1 with the
    // inner fixpoint intact converges, so starve the OUTER loop on a
    // graph with two chained cycles (needs >= 2 sweeps to split)
    val edges = Seq(
      1L -> 2L, 2L -> 3L, 3L -> 1L, // scc {1,2,3}
      3L -> 4L,                     // bridge
      4L -> 5L, 5L -> 6L, 6L -> 4L  // scc {4,5,6}
    ).toDF("src", "dst")
    val nodes = (1L to 6L).toDF("node")
    // strict default converges and resolves exactly the two SCCs
    val (full, fullNotes) = RunRecord.capture(LinkGraph.sccOver(edges, nodes).localCheckpoint())
    assert(fullNotes.get(RunRecord.SccUnresolved).contains(0L))
    assert(full.select("scc_id").distinct().count() == 2)
    // strict with an impossible budget must be a LOUD failure
    intercept[IllegalArgumentException] {
      // maxSweeps = 1 cannot finish: sweep 1 resolves classes only
      // after the within-class restriction of sweep 2
      val tiny = LinkGraph.sccOver(edges, nodes, maxSweeps = 1)
      tiny.collect()
    }
    // non-strict with the same budget degrades: every node still gets
    // an id, provisional ids are negative (disjoint from resolved
    // min-member ids), and the telemetry reports the remainder
    val (deg, degNotes) = RunRecord.capture(LinkGraph.sccOver(edges, nodes, maxSweeps = 1,
      strict = false).localCheckpoint())
    assert(deg.count() == 6, "every node must be labeled even degraded")
    val unresolved = degNotes(RunRecord.SccUnresolved)
    assert(unresolved > 0, "the starved run must report its remainder")
    assert(deg.filter(col("scc_id") < 0).count() == unresolved,
      "provisional ids must be negative and count the unresolved nodes")
    // provisional classes are REFINEMENTS: they may over-group real
    // SCCs but never split one — nodes of one true SCC that remain
    // unresolved share a class, so the provisional partition has at
    // most as many groups as true SCCs among the unresolved
    val trueIds = full.select(col("node"), col("scc_id").as("true_id"))
    val mixed = deg.filter(col("scc_id") < 0).join(trueIds, "node")
      .groupBy("true_id").agg(countDistinct("scc_id").as("k"))
      .filter(col("k") > 1)
    assert(mixed.isEmpty,
      "a true SCC must never be split across provisional classes")
  }

  test("sccOver: sweep budget scales with node count") {
    // the production entry still converges and reports clean telemetry
    val (n, notes) = RunRecord.capture(LinkGraph.sccComponents(spark, Sf).count())
    assert(n > 0)
    assert(notes.get(RunRecord.SccUnresolved).contains(0L),
      "the oracled corpus run must fully resolve")
  }

  test("adaptive IVF geometry: the sizing rule is pinned") {
    import graft.operators.Similarity
    // nlist = max(16, ceil(sqrt(N))): floor of 16 below 256 vectors,
    // sqrt growth above — the FAISS sizing rule the oracles replay via
    // GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS BIGINT))
    assert(Similarity.adaptiveNlist(0L) == 16)
    assert(Similarity.adaptiveNlist(256L) == 16)
    assert(Similarity.adaptiveNlist(500L) == 23)   // sf0.01 embeddings
    assert(Similarity.adaptiveNlist(2000L) == 45)  // sf0.1 embeddings
    assert(Similarity.adaptiveNlist(20000L) == 142) // the x10 probe cut
    assert(Similarity.adaptiveNlist(1000000L) == 1000)
    // nprobe = max(4, nlist/8): the probed fraction shrinks ~1/sqrt(N),
    // which is what turns the fixed-nlist N^2/16 candidate volume into
    // ~N^1.5 (round-12 x10 measurement: 22.4 s -> 10.6 s at HIGHER
    // recall vs the exact margin baseline)
    assert(Similarity.adaptiveNprobe(16) == 4)
    assert(Similarity.adaptiveNprobe(45) == 5)
    assert(Similarity.adaptiveNprobe(142) == 17)
    assert(Similarity.adaptiveNprobe(1000) == 125)
  }

  test("quality AUC: matches the direct pairwise win-rate definition") {
    import graft.operators.QualityModel
    val row = QualityModel.lrAuc(spark, Sf).head()
    val auc = row.getAs[Float]("auc").toDouble
    assert(auc >= 0.0 && auc <= 1.0)
    assert(row.getAs[Long]("n")
      == row.getAs[Long]("n_pos") + row.getAs[Long]("n_neg"))
    // direct definition: P(score+ > score−) + ½·P(tie), exact integers
    // over the pos × neg cross join (eval-sized at this sf)
    val scored = QualityModel.lrScores(spark, Sf)
      .select(col("doc_id"), col("score"))
      .join(sources.IO.table(spark, Sf, "documents").select("doc_id"),
        "doc_id")
    val y = graft.functions.TextAnalysis.gopherRules(spark, Sf)
      .select(col("doc_id"), col("keep").cast("long").as("y"))
    val sy = scored.join(y, "doc_id").localCheckpoint()
    val pos = sy.filter(col("y") === 1).select(col("score").as("ps"))
    val neg = sy.filter(col("y") === 0).select(col("score").as("ns"))
    val w = pos.crossJoin(neg)
      .agg(sum(when(col("ps") > col("ns"), 2L)
        .when(col("ps") === col("ns"), 1L).otherwise(0L)).as("w2"),
        count(lit(1)).as("pairs"))
      .head()
    val direct = w.getAs[Long]("w2").toDouble / (2.0 * w.getAs[Long]("pairs"))
    assert(math.abs(auc - direct) < 1e-6,
      s"rank AUC $auc must equal pairwise AUC $direct")
  }

  test("quality PR table: confusion identities and monotone recall") {
    val pr = graft.operators.QualityModel.lrPrTable(spark, Sf)
      .localCheckpoint()
    assert(pr.count() > 0)
    // tp + fn is the same total positives on every row
    assert(pr.select((col("tp") + col("fn")).as("p")).distinct().count() == 1)
    assert(pr.filter(col("precision") < 0.0f || col("precision") > 1.0f
      || col("recall") < 0.0f || col("recall") > 1.0f
      || col("f1") < 0.0f || col("f1") > 1.0f).isEmpty)
    // raising the threshold can only shrink tp (recall non-increasing)
    val rows = pr.orderBy("threshold_bucket")
      .select("tp").collect().map(_.getLong(0))
    assert(rows.zip(rows.tail).forall { case (a, b) => a >= b },
      "tp must be non-increasing in the threshold")
  }

  test("ab test: arm partition, bounded rates, z recomputes") {
    val r = graft.operators.Events.abTestReport(spark, Sf).head()
    val users = sources.IO.table(spark, Sf, "events")
      .select("user_id").distinct().count()
    assert(r.getAs[Long]("n_control") + r.getAs[Long]("n_treatment") == users)
    assert(r.getAs[Long]("conv_control") <= r.getAs[Long]("n_control"))
    assert(r.getAs[Long]("conv_treatment") <= r.getAs[Long]("n_treatment"))
    val (n0, n1) = (r.getAs[Long]("n_control").toDouble,
      r.getAs[Long]("n_treatment").toDouble)
    val (c0, c1) = (r.getAs[Long]("conv_control").toDouble,
      r.getAs[Long]("conv_treatment").toDouble)
    val pool = (c0 + c1) / (n0 + n1)
    val z = (c1 / n1 - c0 / n0) /
      math.sqrt(pool * (1.0 - pool) * (1.0 / n0 + 1.0 / n1))
    // degenerate pool (every user converted, or none) must pin to NULL
    // — the integer-condition guard both engines evaluate identically
    if (z.isNaN) assert(r.isNullAt(r.fieldIndex("z_conversion")),
      "degenerate pooled rate must emit NULL, identically cross-engine")
    else assert(math.abs(r.getAs[Float]("z_conversion") - z) < 1e-5,
      "z statistic must recompute from the emitted exact counts")
  }

  test("cusum: exact telescoping and a single change-point flag") {
    val cs = graft.operators.Events.cusumDailyVolume(spark, Sf)
      .localCheckpoint()
    val total = sources.IO.table(spark, Sf, "events").count()
    assert(cs.agg(sum("n")).as[Long].head() == total,
      "daily counts must partition the event log")
    // telescoping: S on the last day is identically zero
    val last = cs.orderBy(desc("day")).select("s_scaled").head().getLong(0)
    assert(last == 0L, s"final scaled CUSUM must telescope to 0, got $last")
    assert(cs.filter(col("is_changepoint")).count() == 1,
      "exactly one change-point flag")
    // the flag sits on the max |s| (earliest day on ties)
    val mx = cs.agg(max(abs(col("s_scaled")))).as[Long].head()
    val flagged = cs.filter(col("is_changepoint")).head()
    assert(math.abs(flagged.getAs[Long]("s_scaled")) == mx)
  }

  test("phrase search: adjacency matches an independent pairwise recount") {
    val ps = graft.operators.Retrieval.phraseSearch(spark, Sf)
      .localCheckpoint()
    assert(ps.count() > 0)
    assert(ps.filter(col("n_matches") < 1 || col("first_pos") < 0).isEmpty)
    // every emitted doc really contains the phrase as a substring
    val docs = sources.IO.table(spark, Sf, "documents")
    graft.operators.Retrieval.Phrases.foreach { case (qid, terms) =>
      val phrase = terms.mkString(" ")
      val bad = ps.filter(col("qid") === qid)
        .join(docs, "doc_id")
        .filter(!col("text").contains(phrase))
      assert(bad.isEmpty, s"phrase '$phrase' must appear in matched docs")
    }
    // qid 0 ("fast sort"): recount matches with an independent
    // zip_with shift-equality expression, per doc
    val toks = split(col("text"), " ")
    val recount = docs.select(col("doc_id"),
      size(filter(zip_with(toks,
          slice(toks, lit(2), greatest(size(toks) - 1, lit(1))),
          (a, b) => a === "fast" && b === "sort"), x => x))
        .cast("long").as("m"))
      .filter(col("m") > 0)
    val got = ps.filter(col("qid") === 0)
      .select(col("doc_id"), col("n_matches").as("m"))
    assert(got.exceptAll(recount).isEmpty && recount.exceptAll(got).isEmpty,
      "positional-join counts must equal the shift-equality recount")
  }

  test("readability: count identities and a hand-checked formula row") {
    val r = graft.functions.TextAnalysis.readabilityScores(spark, Sf)
      .localCheckpoint()
    val docs = sources.IO.table(spark, Sf, "documents").count()
    assert(r.count() == docs)
    // every word has at least one syllable; sentences floored at 1
    assert(r.filter(col("n_syllables") < col("n_words")
      || col("n_sentences") < 1 || col("n_words") < 1).isEmpty)
    // formula recomputes from the emitted exact counts
    val row = r.orderBy("doc_id").head()
    val (w, s, y) = (row.getAs[Long]("n_words").toDouble,
      row.getAs[Long]("n_sentences").toDouble,
      row.getAs[Long]("n_syllables").toDouble)
    val expect = 206.835 - 1.015 * (w / s) - 84.6 * (y / w)
    assert(math.abs(row.getAs[Float]("flesch") - expect) < 1e-3)
  }

  test("sorted_contains: rejects nullable-element arrays at analysis") {
    // the producers emit array_sort(collect_set(...)) over non-null
    // hashes => containsNull = false; a nullable-element array would
    // make the binary search undefined and must fail FAST
    val ok = Seq((Array(1L, 5L, 9L), 5L)).toDF("arr", "v")
      .select(expr("sorted_contains(arr, v)").as("hit"))
    assert(ok.head().getBoolean(0))
    val nullable = Seq((Seq(Option(1L), None), 1L)).toDF("arr", "v")
    val e = intercept[AnalysisException] {
      nullable.select(expr("sorted_contains(arr, v)")).collect()
    }
    assert(e.getMessage.contains("sorted_contains"),
      s"analysis error must name the function: ${e.getMessage}")
  }
}
