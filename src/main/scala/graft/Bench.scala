package graft

import org.apache.spark.sql.DataFrame

import graft.obs.RunRecord
import graft.operators.PlayStore
import graft.registry.Registry
import graft.sources.IO

/** Benchmark main — runs the headline queries (the ones BASELINE.md prices)
  * plus the LLM-pipeline operators on SPARK_GRAFT_SF_DIR and prints ONE JSON
  * line. A failed query is reported as an explicit error entry (and excluded
  * from the total) rather than a fake timing.
  *
  * Timing methodology (mirrors how BASELINE.md was measured): a warm
  * session — one untimed warm-up action first so JVM/codegen/file-index
  * costs don't land on whichever query happens to run first — and Part 5
  * timed from a pre-materialized df_4 (the baseline's Part-5 number reads
  * the already-written parquet, it does not recompute Parts 1-4).
  */
object Bench {

  /** The drift-canary basket: three heterogeneous shapes (scan+agg,
    * join+agg, window top-k), re-timed between row groups (see `canary`).
    */
  val CanaryBasket = Seq("q1_pricing_summary", "q_join_agg", "w1_row_number_topk")

  /** Bench's own row: Part 5 timed from the warm-up's materialized df_4,
    * not through its registered builder, which recomputes Parts 1-4.
    */
  val OwnRow = "ps_part5_metrics"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev loop escape hatch: SPARK_GRAFT_BENCH_ONLY=a,b,c times just those
    // queries. The driver never sets it, so the per-round number always
    // covers the full list. An unregistered name fails here, before the
    // session starts.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(names => Registry.known(names.split(",").map(_.trim).toSeq).toSet)
    val spark = GraftSession.build("graft-bench")

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // ---- warm-up (untimed) ----
    // the whole canary basket: probe 0 must measure machine state, not
    // its members' first-run JIT
    CanaryBasket.foreach(n => run(SparkEntry.queries(n)(spark, sfDir)))
    // The Play-Store input lives outside the sf dir. When it is missing,
    // only the ps_* rows that read it fail (as ERROR entries), not the run.
    val df4Dir = IO.scratchDir("bench_df4")
    val df4Ready = scala.util.Try {
      PlayStore.readStore(spark).count()
      // pre-materialize df_4 for the Part-5 measurement
      val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(spark))
      val df3 = PlayStore.standardizePerApp(PlayStore.readStore(spark))
      PlayStore.joinSentiment(spark, df3, df1, df4Dir)
      ()
    }
    df4Ready.failed.foreach(e =>
      System.err.println(s"[bench] Play-Store warm-up failed, ps_* rows will error: $e"))
    // prime the stored artifacts the incremental/serve-path rows consume
    // (corpus cluster state, train band index) so those rows time the
    // SERVE cost — the one-time corpus build is a scheduled job in
    // production, not part of the per-batch / per-eval-suite query
    Registry.benchRows(_.primed).foreach(n => run(SparkEntry.queries(n)(spark, sfDir)))

    // ---- timed cases ----
    // the registry's timed rows in declaration order, then Bench's own
    // Part-5 row
    val fromRegistry = Registry.benchRows(_.timed)
    val allCases: Seq[(String, () => DataFrame)] =
      fromRegistry.map(n => n -> (() => SparkEntry.queries(n)(spark, sfDir))) :+
        (OwnRow -> (() => {
          df4Ready.get // rethrows the warm-up's failure as this row's error
          PlayStore.metricsByGenre(
            spark, IO.readParquet(spark, df4Dir), IO.scratchDir("bench_ps5"))
        }))
    val cases = only.fold(allCases)(keep => allCases.filter(c => keep(c._1)))

    // best-of-2: a single local-mode run still carries JIT/IO noise that a
    // second pass removes; min is the steady-state number the 2x gate means.
    // Each run captures its own run record; the row's notes are the two
    // records merged, the second run's note replacing the first's.
    def timeCase(name: String, mk: () => DataFrame): (String, Either[String, Double], Map[String, Long]) = {
        def once(): (Either[String, Double], Map[String, Long]) = RunRecord.capture {
          // start each timing from a cache-free session so no query's
          // number depends on what ran before it (r3's minhash swing was
          // cache-state accumulation across the 21-query session).
          // clearCache drops CacheManager entries. localCheckpoint RDDs
          // live OUTSIDE the catalog cache (they register as persistent
          // RDDs) and System.gc + async ContextCleaner reclaimed them too
          // slowly at 78 queries × 2 runs — block-store pressure aged the
          // session until late-list rows ran 2-6× their solo numbers
          // (r7's dedup_substring_pairs 3.9 s vs 1.6 s solo). A BLOCKING
          // unpersist of every leftover persistent RDD makes the teardown
          // deterministic; the gc then only has ordinary garbage left.
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          System.gc()
          val t0 = System.nanoTime()
          try {
            run(mk())
            Right((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable => Left(e.getClass.getSimpleName)
          }
        }
        val (first, notes1) = once()
        val (second, notes2) = once()
        val r = (first, second) match {
          case (Right(a), Right(b)) => Right(math.min(a, b))
          case (Right(a), _) => Right(a)
          case (_, Right(b)) => Right(b)
          case (l, _) => l
        }
        (name, r, notes1 ++ notes2)
    }

    // DRIFT CANARIES, interleaved + basketed: a fixed three-query BASKET
    // re-timed BEFORE the run and after every `CanaryEvery` timed cases
    // (each member the identical best-of-2 protocol; probe value = the
    // basket sum). Two lessons priced into this shape:
    //  - r16 (start/mid/end triple): three samples cannot represent a
    //    178-row run — two same-code runs normalized 25% apart. Fix:
    //    ~10 interleaved probes, each row normalized by its own
    //    NEIGHBORHOOD (mean of the two bracketing probes).
    //  - r17 close (single-query probes): one ~0.6 s query AMPLIFIES
    //    real within-run drift — back-to-back runs measured an ~8%
    //    first-half drift (per-row medians) that q1-alone reported as
    //    18%, pushing normalized totals 17% apart while raw totals
    //    agreed to 1%. A basket of three heterogeneous shapes (scan+agg,
    //    join+agg, window top-k) tracks the drift without one query's
    //    JIT/GC idiosyncrasy setting the amplitude.
    // The digest reports the probe MEDIAN — robust to a single outlier
    // probe where a mean is not.
    val CanaryEvery = 20
    // per-MEMBER timings kept separate until the digest: summing inside
    // the probe would let ONE flaky basket member turn the whole probe
    // NaN and discard the two healthy members' drift signal (up to 40
    // rows falling back to the run median) — the r17 ADVICE finding.
    def canary(): Seq[Double] =
      CanaryBasket.map(n =>
        timeCase(n, () => SparkEntry.queries(n)(spark, sfDir))
          ._2.getOrElse(Double.NaN))
    val probesRaw = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    val resultsBuf = scala.collection.mutable.ArrayBuffer[
      (String, Either[String, Double], Map[String, Long])]()
    probesRaw += canary()
    cases.grouped(CanaryEvery).foreach { grp =>
      grp.foreach { case (n, mk) => resultsBuf += timeCase(n, mk) }
      probesRaw += canary()
    }
    // Salvage partial probes while keeping probe values COMPARABLE
    // within the run (a 2-member sum next to 3-member sums would skew
    // the neighborhood normalization): a failed member substitutes its
    // own median across the run's other probes; a member that never
    // succeeded drops from every probe (consistent basket).
    val memberMed: Seq[Double] = CanaryBasket.indices.map { j =>
      val xs = probesRaw.map(_(j)).filterNot(_.isNaN).sorted
      if (xs.isEmpty) Double.NaN else xs(xs.length / 2)
    }
    val keepMembers = CanaryBasket.indices.filterNot(j => memberMed(j).isNaN)
    val probes = probesRaw.map { p =>
      if (keepMembers.isEmpty) Double.NaN
      else keepMembers.map(j => if (p(j).isNaN) memberMed(j) else p(j)).sum
    }
    val results: Seq[(String, Either[String, Double])] =
      resultsBuf.toSeq.map(t => t._1 -> t._2)
    val notes: Seq[(String, Map[String, Long])] = resultsBuf.toSeq.map(t => t._1 -> t._3)
    def ms(d: Double): Double = math.round(d * 1000) / 1000.0
    // NaN-safe JSON: a failed probe (or an all-failed run) must emit
    // null, never a plausible-looking 0.0 — math.round(NaN) is 0 and a
    // silent zero would poison round-over-round normalization (the last
    // open r15 ADVICE item).
    def msJ(d: Double): String = if (d.isNaN) "null" else ms(d).toString
    val driftJ = probes.map(msJ).mkString(
      s"""{"every":$CanaryEvery,"probes":[""", ",", "]}")
    // the headline drift statistic: median of the probes (outlier-robust)
    val driftMean = {
      val xs = probes.filterNot(_.isNaN).sorted
      if (xs.isEmpty) Double.NaN else xs(xs.length / 2)
    }
    // CANARY-NORMALIZED ratios: each row divided by the mean of its two
    // bracketing probes (falling back to the run median when a probe
    // failed), so round-over-round diffs self-adjudicate — comparing two
    // rounds' normalized values cancels whole-machine drift at the
    // granularity it actually varies (within-run, not just run-to-run).
    def rowCanary(i: Int): Double = {
      val g = i / CanaryEvery
      val near = Seq(probes(g), probes(g + 1)).filterNot(_.isNaN)
      if (near.nonEmpty) near.sum / near.length else driftMean
    }
    val qsNorm =
      if (driftMean.isNaN || driftMean <= 0) "{}"
      else results.zipWithIndex.collect { case ((k, Right(sec)), i) =>
        s""""$k":${math.round(sec / rowCanary(i) * 1000) / 1000.0}"""
      }.mkString("{", ",", "}")

    val qs = results.map {
      case (k, Right(sec)) => s""""$k":$sec"""
      case (k, Left(err)) => s""""$k":"ERROR:$err""""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right(s)) => s }.sum
    val errors = results.count(_._2.isLeft)
    // loop telemetry from the rows' run records: the per-family views
    // (connected-components rounds and edges, the build/loop split of the
    // graph rebuild rows, SCC sweeps, Spark actions per loop), then every
    // row's full notes
    def byRow(view: Map[String, Long] => Option[String]): String =
      notes.flatMap { case (k, n) => view(n).map(v => s""""$k":$v""") }
        .mkString("{", ",", "}")
    def noted(key: String)(n: Map[String, Long]): Option[String] = n.get(key).map(_.toString)
    val cc = byRow(n => for (r <- n.get(RunRecord.ClusterRounds);
      e <- n.get(RunRecord.ClusterEdges)) yield s"""{"cc_rounds":$r,"cc_edges":$e}""")
    val ccActsJ = byRow(noted(RunRecord.ClusterActions))
    val pr = byRow(n => for (b <- n.get(RunRecord.GraphBuildNs);
      l <- n.get(RunRecord.GraphLoopNs))
      yield s"""{"build_sec":${ms(b / 1e9)},"loop_sec":${ms(l / 1e9)}}""")
    val sccJ = byRow(noted(RunRecord.SccSweeps))
    val sccA = byRow(noted(RunRecord.SccActions))
    val notesJ = byRow(n => Some(n.toSeq.sorted
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")))
    val cpus = GraftSession.cpus
    val full = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"errors":$errors,"cc":$cc,"cc_actions":$ccActsJ,"pr_split":$pr,"scc_sweeps":$sccJ,"scc_actions":$sccA,"notes":$notesJ,"drift":$driftJ,"drift_mean":${msJ(driftMean)},"queries_norm":$qsNorm,"sf":"$sfDir"}"""
    // The COMPLETE payload goes to a file: the harness keeps only the last
    // ~2000 chars of output, and the full per-query map (~3 KB at 78
    // queries) cannot fit — BENCH_r07's committed artifact lost its head
    // exactly this way ("parsed": null, the error rows invisible).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"), full)
    // Multi-run sessions used to DESTROY the per-query record: the
    // driver benches twice (32-core, then 8-core for the scaling block)
    // and the second run overwrote bench_full.json — r19's only
    // surviving 32-core per-query record was the printed digest's 32-row
    // subset (the r19 verdict's watch-item #2). Two additive fixes, no
    // removal: a per-core-count full payload (latest run at THAT width
    // survives any later run at another width) and an append-only
    // journal holding every invocation in order.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"bench_full_c$cpus.json"), full)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_runs.jsonl"), full + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    // The PRINTED line is a compact digest sized to survive the tail
    // window whole: headline total, error count AND NAMES (a regression
    // must never vanish from the captured artifact), and the
    // baseline-gated + verdict-tracked subset at ms precision. The full
    // map lives in bench_full.json next to this repo's build.
    val headline = Registry.benchRows(_.headline)
    val byName = results.toMap
    val qsCompact = headline.flatMap(k => byName.get(k).map {
      case Right(sec) => s""""$k":${math.round(sec * 1000) / 1000.0}"""
      case Left(err) => s""""$k":"ERROR:$err""""
    }).mkString("{", ",", "}")
    val errNames = results.collect { case (k, Left(_)) => s""""$k"""" }
      .mkString("[", ",", "]")
    // stop the session BEFORE printing: Spark's shutdown logging otherwise
    // lands after the JSON line and any tail-line parser reads noise
    // instead of the payload (BENCH_r3..r6 all parsed to null this way)
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsCompact,"errors":$errors,"err_names":$errNames,"drift":$driftJ,"drift_mean":${msJ(driftMean)},"full":"bench_full.json","sf":"$sfDir"}""")
  }
}
