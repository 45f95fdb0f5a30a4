package graft

import org.apache.spark.sql.functions._

import graft.operators.{Events, Snapshot}

/** Behavior specs for the round-11 event-history operators: the cohort
  * retention matrix, the per-cohort volume contribution, and the
  * point-in-time (as-of) lookup against the persisted SCD-2 span table.
  */
class Round11OpsSpec extends SparkTestBase {

  import spark.implicits._

  test("retention: offset-0 rows retain exactly 1.0 and pin cohort size") {
    val m = Events.retention(spark, Sf)
    val day0 = m.filter(col("offset_days") === 0)
    assert(day0.count() > 0)
    // every user is active on their own first day by construction
    assert(day0.filter(col("active_users") =!= col("cohort_users")
      || col("retention") =!= 1.0).isEmpty,
      "offset 0 must be the cohort definition itself")
    // retention never exceeds 1 and active_users never exceeds the cohort
    assert(m.filter(col("active_users") > col("cohort_users")).isEmpty)
    assert(m.filter(col("offset_days") < 0).isEmpty,
      "no activity can precede the user's own first day")
  }

  test("retention: cohort_day is the min event day of each cohort member") {
    val raw = sources.IO.table(spark, Sf, "events")
    val ev = raw.withColumn("tus", operators.EventTime.tsUs(raw))
      .select(col("user_id"), expr("tus div 86400000000").as("day"))
    val firsts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
    val wanted = firsts.groupBy("cohort_day")
      .agg(countDistinct("user_id").as("cohort_users"))
    val got = Events.retention(spark, Sf)
      .filter(col("offset_days") === 0)
      .select("cohort_day", "cohort_users")
    assert(got.exceptAll(wanted).isEmpty && wanted.exceptAll(got).isEmpty,
      "offset-0 slice must equal the independently-computed cohort sizes")
  }

  test("cohortVolume: shares sum to 1 and events total matches the table") {
    val v = Events.cohortVolume(spark, Sf).localCheckpoint()
    val totalEvents = v.agg(sum("events")).as[Long].head()
    assert(totalEvents ==
      sources.IO.table(spark, Sf, "events").count(),
      "every event lands in exactly one cohort")
    val shareSum = v.agg(sum("event_share")).as[Double].head()
    assert(math.abs(shareSum - 1.0) < 1e-9)
    // fixed-point value mass: recompute independently at corpus level
    val raw = sources.IO.table(spark, Sf, "events")
    val wanted = raw.agg(
      sum(round(col("value") * 1e6).cast("long"))).as[Long].head()
    val got = v.agg(sum((col("value_sum") * 1e6).cast("long")))
      .as[Long].head()
    assert(got == wanted, "cohort value masses must partition the corpus mass")
  }

  test("scd2 as-of: one state per (instant, user) and it matches history") {
    val asof = Snapshot.eventsScd2AsOf(spark, Sf).localCheckpoint()
    // at most one active span per user per instant (spans partition time)
    assert(asof.groupBy("asof_us", "user_id").count()
      .filter(col("count") > 1).isEmpty,
      "validity spans must be disjoint per user")
    // cross-check against the from-scratch base-slice history: applying
    // the same interval predicate to eventsScd2History's base slice
    // must reproduce the artifact-served answer exactly
    val raw = sources.IO.table(spark, Sf, "events")
    val base = raw.filter(operators.EventTime.tsBeforeUs(raw, Snapshot.Scd2SplitUs))
      .withColumn("tus", operators.EventTime.tsUs(raw))
      .select("user_id", "tus", "event_id", "event_type")
    val hist = Snapshot.scd2History(base, "user_id", "tus", "event_id",
      Seq("event_type"))
    val lookups = Snapshot.AsOfLookupsUs.toDF("asof_us")
    val wanted = hist.join(broadcast(lookups),
      col("valid_from") <= col("asof_us")
        && (col("valid_to").isNull || col("valid_to") > col("asof_us")))
      .select("asof_us", "user_id", "event_type", "valid_from")
    assert(asof.exceptAll(wanted).isEmpty && wanted.exceptAll(asof).isEmpty,
      "served artifact + predicate must equal the from-scratch replay")
    // every pinned instant answers for at least one user
    assert(asof.select("asof_us").distinct().count() == 3)
  }

  test("incremental retention: delta + stored state equals from-scratch") {
    val delta = operators.Events.retentionIncremental(spark, Sf)
      .localCheckpoint()
    // from-scratch matrix over ALL events
    val full = operators.Events.retention(spark, Sf)
      .select("cohort_day", "offset_days", "active_users")
    // base-only matrix from the persisted compact state
    val path = operators.Events.retentionBase(Sf).root(spark)
    val seen = spark.read.parquet(s"$path/seen")
    val ft = spark.read.parquet(s"$path/first_touch")
    val base = seen.join(ft, "user_id")
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("active_users"))
    // changed cells replaced, untouched cells carried: must equal full
    val merged = base.join(delta.select(col("cohort_day"),
        col("offset_days")), Seq("cohort_day", "offset_days"), "left_anti")
      .unionByName(delta)
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty,
      "stored state + delta must reproduce the from-scratch matrix")
    assert(delta.count() > 0, "the batch must actually change cells")
  }

  test("heavy hitters wide: exact answer at 1/4096, superset of 1/256") {
    val narrow = operators.Relational.sketchHeavyHitters(spark, Sf)
      .localCheckpoint()
    val wide = operators.Relational.sketchHeavyHitters(spark, Sf, k = 4096)
      .localCheckpoint()
    // a 1/256-share hitter is a fortiori a 1/4096-share hitter
    assert(narrow.select("token").exceptAll(wide.select("token")).isEmpty,
      "wide threshold must contain every narrow hitter")
    // the wide output is the exact GROUP BY / HAVING answer
    val toks = sources.IO.table(spark, Sf, "documents")
      .select(explode(functions.TextAnalysis.wsTokens(col("text")))
        .as("token")).localCheckpoint()
    val n = toks.count()
    val wanted = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .where(col("freq") * 4096 > lit(n))
    assert(wide.exceptAll(wanted).isEmpty && wanted.exceptAll(wide).isEmpty,
      "MG candidates + exact recount must equal the brute-force answer")
  }

  test("ann recall report: monotone in nprobe, bounded, full scaffold") {
    val r = operators.Similarity.annRecallReport(spark, Sf).localCheckpoint()
    assert(r.count() == 30, "3 rungs x 10 queries, zero-recall cells kept")
    assert(r.filter(col("hits") < 0 || col("hits") > 5
      || col("recall") < 0.0 || col("recall") > 1.0).isEmpty)
    // a wider probe set can only add candidates: recall@k is monotone
    val byQ = r.groupBy("qid").pivot("nprobe", Seq(1, 2, 4)).sum("hits")
    assert(byQ.filter(col("1") > col("2") || col("2") > col("4")).isEmpty,
      "recall must be non-decreasing in nprobe")
  }

  test("walk skipgrams: symmetric pairs, mass matches the walk corpus") {
    val sg = operators.LinkGraph.walkSkipgrams(spark, Sf).localCheckpoint()
    // the window predicate is symmetric, so the pair table must be too
    val flipped = sg.select(col("context").as("center"),
      col("center").as("context"), col("cnt"))
    assert(sg.exceptAll(flipped).isEmpty && flipped.exceptAll(sg).isEmpty,
      "(a,b) and (b,a) co-occur identically under |step diff| <= w")
    // total pair mass = sum over walks of ordered within-window pairs
    val walks = operators.LinkGraph.randomWalks(spark, Sf).localCheckpoint()
    val wanted = walks.as("a").join(walks.as("b"),
      col("a.walk_id") === col("b.walk_id")
        && col("a.step") =!= col("b.step")
        && abs(col("a.step") - col("b.step")) <= 2).count()
    assert(sg.agg(sum("cnt")).as[Long].head() == wanted)
  }

  test("dq report: clean slice reports zero violations, rates bounded") {
    val dq = operators.DataQuality.dqReport(spark, Sf).localCheckpoint()
    assert(dq.count() == 9)
    assert(dq.filter(col("rate") < 0.0 || col("rate") > 1.0).isEmpty)
    // the generated slice is referentially intact and PK-unique
    assert(dq.filter(col("check").isin("orders_custkey_orphans",
      "lineitem_orderkey_orphans", "customer_pk_duplicates",
      "orders_pk_duplicates") && col("violations") =!= 0).isEmpty,
      "generated testdata must pass integrity checks")
    assert(dq.filter(col("total") <= 0).isEmpty)
  }

  test("stored jaccard index serves the exact fresh-build answer") {
    val fresh = operators.Dedup.jaccardPrefixPairs(spark, Sf)
    val stored = operators.Dedup.jaccardPrefixPairsStored(spark, Sf)
    assert(fresh.exceptAll(stored).isEmpty && stored.exceptAll(fresh).isEmpty,
      "the artifact IS the index: serve path must be row-identical")
  }

  test("widest path: capacities bounded by incident weights, monotone in hops") {
    val w6 = operators.LinkGraph.widestPaths(spark, Sf).localCheckpoint()
    assert(w6.count() > 0)
    // every capacity is a real edge weight somewhere (min over a path)
    val weights = operators.LinkGraph.transitionEdges(spark, Sf)
      .select(col("weight").as("cap")).distinct()
    assert(w6.select("cap").distinct().exceptAll(weights).isEmpty,
      "a bottleneck capacity must equal some edge weight")
    // more hops can only raise capacities and reach more nodes
    val w3 = operators.LinkGraph.widestPaths(spark, Sf, maxHops = 3)
    assert(w3.join(w6, "node")
      .filter(w3("cap") > w6("cap")).isEmpty,
      "capacity is monotone non-decreasing in the hop bound")
    assert(w3.count() <= w6.count())
  }

  test("quality calibration: exhaustive partition, rates and means bounded") {
    val cal = operators.QualityModel.lrCalibration(spark, Sf).localCheckpoint()
    val docs = sources.IO.table(spark, Sf, "documents").count()
    assert(cal.agg(sum("n")).as[Long].head() == docs,
      "every document lands in exactly one bin")
    assert(cal.filter(col("pos_rate") < 0.0 || col("pos_rate") > 1.0
      || col("mean_score") < 0.0 || col("mean_score") > 1.0
      || col("positives") > col("n")).isEmpty)
    // mean_score must sit inside its own bin's [lo, hi) band
    assert(cal.filter(col("mean_score") * 100.0 < col("bucket") - 1e-6
      || (col("bucket") < 99
        && col("mean_score") * 100.0 >= col("bucket") + 1 + 1e-6)).isEmpty,
      "bin means must lie inside their bins")
  }

  test("tokenizer fertility: partitions the corpus, consistent with per-doc") {
    val f = operators.Tokenize.fertilityBySource(spark, Sf,
      Seq("e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r")).localCheckpoint()
    val docs = sources.IO.table(spark, Sf, "documents")
    assert(f.agg(sum("docs")).as[Long].head() == docs.count())
    assert(f.filter(col("fertility") <= 0.0
      || col("chars_per_token") <= 0.0).isEmpty)
    // per-source sums must agree with the oracled per-doc counts
    val perDoc = operators.Tokenize.bpeSegmentCounts(spark, Sf,
      Seq("e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r"))
    val wanted = perDoc.agg(sum("n_bpe_tokens")).as[Long].head()
    assert(f.agg(sum("bpe_tokens")).as[Long].head() == wanted)
  }

  test("minhash eval: banding recall at J>=0.9 clears the S-curve bound") {
    val ev = operators.Dedup.minhashRecallEval(spark, Sf).localCheckpoint()
    val truth = ev.count()
    assert(truth > 0, "the corpus must contain high-Jaccard token-set pairs")
    val caught = ev.filter(col("caught")).count()
    // 8 bands x 4 rows at j >= 0.9: P[miss] = (1-j^4)^8 <= (1-0.9^4)^8
    // ~ 0.018 per pair; 0.9 is a generous aggregate floor
    assert(caught.toDouble / truth >= 0.9,
      s"banding recall $caught/$truth fell below the S-curve bound")
    assert(ev.filter(col("jaccard") < 0.9).isEmpty,
      "ground truth must contain only pairs at or above the threshold")
  }

  test("langid confusion: shares partition each label, counts match per-doc") {
    val cm = functions.TextAnalysis.langIdConfusion(spark, Sf)
      .localCheckpoint()
    // per-label shares sum to 1
    val bad = cm.groupBy("labelled_lang").agg(sum("share").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-9)
    assert(bad.isEmpty, "shares must partition each label")
    // cell counts re-aggregate the oracled per-doc predictions
    val perDoc = functions.TextAnalysis.languageId(spark, Sf)
      .groupBy("labelled_lang", "predicted_lang").count()
    assert(cm.select(col("labelled_lang"), col("predicted_lang"),
      col("docs").as("count")).exceptAll(perDoc).isEmpty)
  }

  test("preference pairs: chosen is the per-user max, margins positive") {
    val pp = operators.Events.preferencePairs(spark, Sf).localCheckpoint()
    assert(pp.filter(col("margin") <= 0.0).isEmpty,
      "only strict preferences may emit")
    assert(pp.groupBy("user_id").count().filter(col("count") > 1).isEmpty,
      "at most one pair per user")
    // chosen_value equals the user's max event value
    val raw = sources.IO.table(spark, Sf, "events")
    val mx = raw.select(col("user_id"), col("value"))
      .groupBy("user_id").agg(max("value").as("mx"))
    assert(pp.join(mx, "user_id")
      .filter(col("chosen_value") =!= col("mx")).isEmpty)
  }

  test("bt ratings: finite positive strengths, monotone with win rate") {
    val r = Events.btRatings(spark, Sf).localCheckpoint()
    assert(r.count() > 0)
    assert(r.filter(col("rating") <= 0.0 || col("rating").isNull
      || isnan(col("rating"))).isEmpty,
      "the phantom anchor must keep every strength finite and positive")
    // an undefeated item must outrate a winless one (MM preserves the
    // dominance order at the extremes)
    val best = r.filter(col("wins") === col("games"))
      .agg(min("rating").cast("double")).head.getDouble(0)
    val worst = r.filter(col("wins") === 0)
      .agg(max("rating").cast("double")).head.getDouble(0)
    if (!best.isNaN && !worst.isNaN)
      assert(best > worst, s"undefeated $best must beat winless $worst")
    // wins can never exceed games, and games sum to 2x total comparisons
    assert(r.filter(col("wins") > col("games")).isEmpty)
    // iteration count changes values, so the fit really iterates
    val one = Events.btRatings(spark, Sf, iters = 1)
      .select(col("item"), col("rating").as("r1"))
    assert(r.join(one, "item").filter(col("rating") =!= col("r1")).count() > 0,
      "5-round fit must differ from the 1-round fit")
  }

  test("bt ratings: rating vector broadcasts on every loop-body join") {
    val dirn = Seq((1L, 2L, 3L), (2L, 1L, 3L)).toDF("i", "j", "n_ij")
    val stat = Seq((1L, 2L, 3L, 2.5), (2L, 1L, 3L, 1.5))
      .toDF("item", "wins", "games", "wins05")
    val r = Seq((1L, 1.0), (2L, 1.0)).toDF("item", "p")
    val round = Events.btRound(dirn, stat, r)
    round.collect() // finalize AQE
    // string audit: the joins land inside nested AQE query stages, which
    // SparkPlan.collect does not traverse
    val plan = round.queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"all three rating-vector joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the loop body must never sort-merge the rating vector:\n$plan")
  }

  test("boilerplate: report and scrub agree on what was dropped") {
    val report = operators.CorpusPrep.boilerplateReport(spark, Sf)
      .localCheckpoint()
    val scrub = operators.CorpusPrep.boilerplateScrub(spark, Sf)
      .localCheckpoint()
    assert(report.count() > 0, "the sf corpus must surface some repeats")
    assert(report.filter(col("n_docs") <= 1).isEmpty)
    assert(report.filter(col("share") > 1.0 || col("share") <= 0.0).isEmpty)
    // scrub keeps every document exactly once
    val docs = sources.IO.table(spark, Sf, "documents")
    assert(scrub.count() == docs.count())
    // each reported line drops at least once per document it recurs in
    val reported = report.agg(sum("n_docs")).head.getLong(0)
    val dropped = scrub.agg(sum("n_lines_dropped")).head.getLong(0)
    assert(dropped >= reported,
      s"scrub dropped $dropped lines but the report names $reported doc-hits")
    // a domain with no reported boilerplate loses nothing
    val cleanSources = scrub.groupBy("source")
      .agg(sum("n_lines_dropped").as("d")).filter(col("d") > 0)
      .select("source")
    assert(cleanSources.exceptAll(report.select("source").distinct()).isEmpty,
      "only sources named in the report may lose lines")
  }
}
