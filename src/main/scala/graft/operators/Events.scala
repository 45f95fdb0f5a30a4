package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.IO

/** Event-sequence analytics over the `events` table, next to the
  * sessionizer (`streaming/EventStream.sessionizeBatch`), the funnel
  * (`EventStream.funnelSummary`), and the market-basket lift
  * (`Relational.itemAssociationLift`).
  */
object Events {

  /** COHORT RETENTION matrix: cohort = the user's first-active day
    * (whole days since epoch — exact integer division of the µs stamp),
    * one row per (cohort, day offset) with distinct active users, the
    * cohort's size, and the retention ratio (exact-integer operands in a
    * double divide — hash-stable cross-engine).
    *
    * Scale shape: day indices are map-side arithmetic; the first-touch
    * day is a window min over ONE user_id exchange, and the distinct
    * aggregation reuses that partitioning for its partial pass (each
    * partition collapses to its (cohort, offset, user) triples before
    * the second, output-sized exchange). Cohort sizes come from the
    * offset-0 slice of the SAME aggregate — every user is active on
    * their own first day by construction — computed once, checkpointed
    * (two consumers), and broadcast back (≤ |days| rows) instead of a
    * second pass over events. At 100 TB the cost is the one per-user
    * shuffle the sessionizer already pays; nothing event-scale moves
    * twice.
    */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventDays(spark, sfDir)
    val firstDay = Window.partitionBy("user_id")
    val active = ev
      .withColumn("cohort_day", min("day").over(firstDay))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(countDistinct("user_id").as("active_users"))
      .localCheckpoint() // two consumers below: don't replay the window
    val sizes = active.filter(col("offset_days") === 0)
      .select(col("cohort_day"), col("active_users").as("cohort_users"))
    active.join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("offset_days"), col("active_users"),
        col("cohort_users"),
        (col("active_users").cast("double") / col("cohort_users").cast("double"))
          .as("retention"))
      .orderBy("cohort_day", "offset_days")
  }

  /** (user_id, day) pairs at EXACT integer day resolution: `div` on the
    * µs stamp, never a double divide — a double quotient rounds before
    * the truncating cast and a stamp within half an ulp of a day
    * boundary would land in the wrong cohort; `div` is exact at any
    * epoch. DuckDB replays it as `epoch_us(ts) // 86400000000`
    * (identical on the non-negative stamps this table holds).
    */
  private def eventDays(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    raw.withColumn("tus", EventTime.tsUs(raw))
      .select(col("user_id"), expr("tus div 86400000000").as("day"),
        col("value"))
  }

  /** PER-COHORT VOLUME CONTRIBUTION — the row a training-data pipeline
    * reads next to the retention matrix: for each acquisition cohort,
    * how much event volume (rows and summed `value` mass) it contributes
    * to the corpus, and its share of the total. A data mix that
    * over-weights one cohort shows up here before it skews a model.
    *
    * Determinism: event counts are exact longs; `value` mass follows the
    * LM fixed-point convention (round(value·10⁶) summed as longs — a
    * double Σ is partition-order-dependent, a long Σ is not) and the
    * share is one exact-integer-operand double divide.
    *
    * Scale shape: the same single per-user exchange as [[retention]]
    * (the window min), then one cohort-keyed aggregation whose partial
    * pass collapses each partition map-side; the global total is a
    * 1-row broadcast, never a second corpus scan.
    */
  def cohortVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventDays(spark, sfDir)
    val firstDay = Window.partitionBy("user_id")
    val vol = ev
      .withColumn("cohort_day", min("day").over(firstDay))
      .groupBy("cohort_day")
      .agg(count(lit(1)).as("events"),
        countDistinct("user_id").as("cohort_users"),
        sum(round(col("value") * 1e6).cast("long")).as("value_fx"))
      .localCheckpoint() // two consumers: the total and the share rows
    val total = vol.agg(sum("events").as("total_events"))
    vol.crossJoin(broadcast(total))
      .select(col("cohort_day"), col("events"), col("cohort_users"),
        (col("value_fx").cast("double") / 1e6).as("value_sum"),
        (col("events").cast("double") / col("total_events").cast("double"))
          .as("event_share"))
      .orderBy("cohort_day")
  }

  /** Split instant for the incremental-retention demo: activity before
    * it is the standing state, at-or-after it arrives as the batch
    * (the SCD-2 split, 2024-01-24 UTC).
    */
  private[graft] val RetentionSplitUs = Snapshot.Scd2SplitUs

  /** The persisted retention STATE of the base slice: the distinct
    * (user_id, day) activity set (`seen`), the first-touch table
    * (`first_touch`: user_id → cohort_day, immutable once assigned) and
    * the base matrix cells (`cells`) — the compact state a retention
    * matrix is a pure function of (|users|·|days| bounded, orders below
    * event volume; the 100 TB event log never re-scans).
    */
  private[graft] def retentionBase(sfDir: String): IO.Artifact =
    IO.Artifact(sfDir, "events", "user_id", "retention",
      s"retention_v2|$sfDir|split1706054400",
      Seq("seen" -> IO.longSchema("user_id", "day"),
        "first_touch" -> IO.longSchema("user_id", "cohort_day"),
        "cells" -> IO.longSchema("cohort_day", "offset_days", "base_users")))

  /** The served (seen, first_touch, cells) state, self-priming. */
  private def retentionBaseStored(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    IO.servedArtifact(spark, retentionBase(sfDir)) { root =>
      val raw = IO.table(spark, sfDir, "events")
      val seen = raw.filter(EventTime.tsBeforeUs(raw, RetentionSplitUs))
        .withColumn("tus", EventTime.tsUs(raw))
        .select(col("user_id"), expr("tus div 86400000000").as("day"))
        .distinct()
        .localCheckpoint() // feeds all three parts of the artifact
      seen.write.mode("overwrite").parquet(s"$root/seen")
      val ft = seen.groupBy("user_id").agg(min("day").as("cohort_day"))
        .localCheckpoint()
      ft.write.mode("overwrite").parquet(s"$root/first_touch")
      // the matrix cells themselves are part of the state: the serve path
      // adds deltas to stored counts instead of re-aggregating the
      // (user, day) set per load. count(*), not countDistinct: a cell
      // (cohort, offset) pins day per user over the distinct pair set.
      seen.join(ft, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
        .agg(count(lit(1)).as("base_users"))
        .write.mode("overwrite").parquet(s"$root/cells")
    }

  /** INCREMENTAL RETENTION — extend the persisted retention state with
    * an arriving event batch WITHOUT re-scanning history, emitting
    * EXACTLY the matrix cells whose distinct-active count changes (with
    * their new counts) — the production nightly-load shape.
    *
    * Soundness: a user's cohort day is immutable once assigned (batch
    * days all sort after base days, so a known user's min-day cannot
    * move); new users take their batch min-day. The matrix is a pure
    * function of the distinct (user, day) set mapped through the
    * first-touch table, so the delta is exactly the batch's NOVEL
    * (user, day) pairs aggregated per (cohort, offset) and added to the
    * stored cell counts. The DuckDB oracle replays the batch-inclusive
    * matrix in full and subtracts the base-only matrix (EXCEPT) — a
    * hash match proves incremental ≡ from-scratch on every changed
    * cell, the scd2-incremental contract.
    *
    * Scale shape: one scan of the compact state artifact plus
    * batch-bounded joins (novel-activity anti-join keyed on user; the
    * first-touch lookup broadcasts the batch-user slice); nothing
    * event-scale moves, and history is never read at all.
    */
  def retentionIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    retentionIncrementalFrames(spark, sfDir,
      raw.filter(EventTime.tsAtLeastUs(raw, RetentionSplitUs))
        .withColumn("tus", EventTime.tsUs(raw))
        .select(col("user_id"), expr("tus div 86400000000").as("day")))
  }

  /** Delta core over an explicit (user_id, day) activity batch — the
    * production/streaming entry; consumes the PERSISTED retention state
    * (self-priming, the stored-artifact convention).
    */
  private[graft] def retentionIncrementalFrames(
      spark: SparkSession,
      sfDir: String,
      batch: DataFrame): DataFrame = {
    val Seq(storedSeen, storedFt, storedCells) = retentionBaseStored(spark, sfDir)
    val batchDays = batch.select("user_id", "day")
      .distinct()
      .localCheckpoint() // three consumers: new-user carve, novel set
    // cohorts: stored assignments + batch min-day for unseen users
    val newFt = batchDays.join(storedFt, Seq("user_id"), "left_anti")
      .groupBy("user_id").agg(min("day").as("cohort_day"))
    val ft = storedFt.unionByName(newFt).localCheckpoint()
    // the batch's NOVEL activity: (user, day) pairs the state lacks
    val novel = batchDays.join(storedSeen, Seq("user_id", "day"), "left_anti")
    // count(*), not countDistinct: (user, day) rows are distinct and a
    // cell (cohort, offset) pins day per user, so each user appears at
    // most once per cell -- no dedup expand needed
    val delta = novel.join(ft, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("add"))
    // stored cell counts come from the artifact, never re-aggregated
    delta.join(storedCells, Seq("cohort_day", "offset_days"), "left")
      .select(col("cohort_day"), col("offset_days"),
        (coalesce(col("base_users"), lit(0L)) + col("add")).as("active_users"))
      .orderBy("cohort_day", "offset_days")
  }

  /** Streaming twin of [[retentionIncremental]] — arriving (user_id,
    * day) activity micro-batches each get their exact cell delta against
    * the SAME persisted retention state, written idempotently per batch
    * id (a replayed micro-batch overwrites its own directory). The state
    * primes EAGERLY before `.start()` so micro-batch 0 never pays the
    * history build (the ingest-gate lesson).
    *
    * CONTRACT (cohort immutability): the delta algebra assumes no batch
    * activity precedes the persisted base — otherwise a known user's
    * min-day could move, or a pre-base day would emit a negative
    * offset. The stream ENFORCES it in-plan: batch rows are clamped to
    * `day >= splitDay` (the base covers exactly the days before the
    * split, so post-split days can never precede a stored cohort). No
    * per-batch action, just a filter.
    *
    * CONTRACT (delta composition): each batch's delta directory is
    * computed against the ORIGINAL base artifact — the state is
    * deliberately not folded forward (the oracle proves one delta ≡
    * from-scratch; folding would make replayed batch ids non-
    * idempotent). Two batches touching the same cell, or re-cohorting
    * the same brand-new user, therefore emit OVERLAPPING
    * `active_users` values: a consumer takes the LATEST batch's value
    * per cell, never a sum, and re-bases ([[retentionBase]]) before
    * treating deltas from different epochs as one series.
    */
  def retentionIngestStream(
      spark: SparkSession,
      sfDir: String,
      arrivals: DataFrame,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    retentionBaseStored(spark, sfDir)
    arrivals.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        retentionIncrementalFrames(spark, sfDir,
          batch.select("user_id", "day")
            .filter(col("day") >= lit(RetentionSplitUs / 86400000000L)))
          .write.mode("overwrite")
          .parquet(s"$outDir/deltas/batch_id=$batchId")
        ()
      }
      .start()
  }

  /** PREFERENCE-PAIR CONSTRUCTION — the reward-model training-set
    * builder: per user, the strongest and weakest item interaction by
    * `value` become one (chosen, rejected) pair with its margin, the
    * row shape an RLHF/DPO pipeline consumes. Only STRICT preferences
    * emit (chosen value > rejected value) — an all-ties user carries no
    * preference signal.
    *
    * Determinism: both extremes rank with full tiebreaks (value, then
    * µs time, then event_id; the rejected side's time tiebreak runs
    * DESCENDING so an equal-value pair still picks two distinct
    * events); the margin is one per-row IEEE subtraction, exact
    * cross-engine.
    *
    * Scale shape: ONE per-user exchange serves both window passes
    * (same partition key), each user collapses to at most one output
    * row map-side after the rank filters — the output is |users|-
    * bounded, never event-scale.
    */
  def preferencePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    val ev = raw
      .withColumn("tus", EventTime.tsUs(raw))
      .select(col("user_id"), col("event_id"), col("tus"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        col("value"))
      .where(col("item").isNotNull && col("value").isNotNull)
    val byUser = Window.partitionBy("user_id")
    val ranked = ev
      .withColumn("rn_hi", row_number().over(
        byUser.orderBy(col("value").desc, col("tus").asc, col("event_id").asc)))
      .withColumn("rn_lo", row_number().over(
        byUser.orderBy(col("value").asc, col("tus").desc, col("event_id").desc)))
      .localCheckpoint() // both extremes read the same ranked frame
    val chosen = ranked.filter(col("rn_hi") === 1)
      .select(col("user_id"), col("item").as("chosen_item"),
        col("value").as("chosen_value"))
    val rejected = ranked.filter(col("rn_lo") === 1)
      .select(col("user_id"), col("item").as("rejected_item"),
        col("value").as("rejected_value"))
    chosen.join(rejected, "user_id")
      .where(col("chosen_value") > col("rejected_value"))
      .select(col("user_id"), col("chosen_item"), col("rejected_item"),
        col("chosen_value"), col("rejected_value"),
        (col("chosen_value") - col("rejected_value")).as("margin"))
      .orderBy("user_id")
  }

  /** BRADLEY-TERRY RATING FIT over per-user preference comparisons —
    * the skill-model half of an RLHF data pipeline: [[preferencePairs]]
    * builds the (chosen, rejected) rows a reward model trains on; this
    * fits the latent item strengths those comparisons imply, via the
    * minorize-maximize update (Hunter, Annals of Statistics 2004):
    *
    *   p_i ← (W_i + ½) / ( Σ_j n_ij/(p_i+p_j)  +  1/(p_i+1) )
    *
    * W_i = total wins of item i, n_ij = games between i and j; the two
    * ½-terms are the standard phantom half-win/half-loss against a
    * fixed opponent of strength 1, which (a) keeps zero-win items
    * finite and (b) pins the scale invariance so no post-hoc
    * normalization — with its order-dependent product/sum — is needed.
    *
    * Comparisons: per (user, item) the mean interaction `value` (the
    * sum runs in ×10⁶ fixed point so it is order-independent, then ONE
    * pinned divide sequence), the user's top-[[BtBasketCap]] items by
    * that mean (row_number, full tiebreaks), and one directed
    * comparison per in-basket pair with strictly distinct means — the
    * capped-basket bound the association-lift op established: the
    * quadratic is ≤ cap² per user, never |items|².
    *
    * Determinism: every cross-row sum in the loop is a BIGINT sum of
    * floor(·×10⁹) terms (the pageRankSql convention) and every scalar
    * op sequence is mirrored exactly in the DuckDB oracle, so the
    * [[BtIters]]-round fit is hash-exact cross-engine.
    *
    * Scale shape: events collapse to (user, item) means under one
    * map-side-combined exchange, baskets cap the pair blow-up, and the
    * loop never touches event-scale data again — it runs on the
    * directed pair-count frame (≤ Σ cap² rows) with the |items|-row
    * rating vector BROADCAST both ends of the per-round join (items
    * are a catalog, the score-vector-broadcast convention of
    * LinkGraph; past a catalog-ceiling the same loop would flip to the
    * shuffle-hash form). Each round's ratings localCheckpoint — the
    * frame is |items| rows — so lineage stays flat; LoopWidth pins the
    * exchange width for the loop body.
    */
  def btRatings(
      spark: SparkSession,
      sfDir: String,
      basketCap: Int = BtBasketCap,
      iters: Int = BtIters,
      pairCollectCeiling: Int = BtPairCollectCeiling): DataFrame = {
    val ev = IO.table(spark, sfDir, "events")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        col("value"))
      .where(col("item").isNotNull && col("value").isNotNull)
    // per-(user,item) mean value: fixed-point sum, one pinned divide chain
    val um = ev.groupBy("user_id", "item")
      .agg(sum(floor(col("value") * lit(1000000.0)).cast("long")).as("vfix"),
        count(lit(1)).as("cnt"))
      .select(col("user_id"), col("item"),
        ((col("vfix").cast("double") / lit(1000000.0))
          / col("cnt").cast("double")).as("mean"))
    val basket = um
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id")
          .orderBy(col("mean").desc, col("item").asc)))
      .filter(col("rn") <= basketCap)
      .select("user_id", "item", "mean")
    // one directed comparison per strict-preference in-basket pair
    val cmp = basket.select(col("user_id"),
        col("item").as("wi"), col("mean").as("wm"))
      .join(basket.select(col("user_id"),
        col("item").as("li"), col("mean").as("lm")), Seq("user_id"))
      .where(col("wm") > col("lm"))
      .groupBy(col("wi").as("winner"), col("li").as("loser"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // three consumers: dirn, wins, (via dirn) items
    // directed game totals n_ij (both orientations), wins, items
    val dirn = cmp.select(col("winner").as("i"), col("loser").as("j"), col("cnt"))
      .unionAll(cmp.select(col("loser").as("i"), col("winner").as("j"), col("cnt")))
      .groupBy("i", "j").agg(sum("cnt").as("n_ij"))
      .localCheckpoint() // read every round
    val items = dirn.select(col("i").as("item")).distinct()
    val wins = cmp.groupBy(col("winner").as("item")).agg(sum("cnt").as("w"))
    val stat = items
      .join(wins, Seq("item"), "left")
      .join(dirn.groupBy(col("i").as("item")).agg(sum("n_ij").as("games")),
        Seq("item"))
      .select(col("item"), coalesce(col("w"), lit(0L)).as("wins"), col("games"),
        (coalesce(col("w"), lit(0L)).cast("double") + lit(0.5)).as("wins05"))
      .localCheckpoint() // read every round
    // DRIVER-SIDE MM LOOP under a ceiling-gated collect (r19; the
    // driverComponents / bm25-df-map convention): the fit runs on the
    // directed pair-count frame (≤ |items|² rows, catalog-bounded — the
    // same boundedness the broadcast-vector loop already relies on) and
    // the |items|-row stat frame. Collecting both and iterating on the
    // driver replaces `iters` rounds of (2 joins + aggregation +
    // localCheckpoint) — ~10 driver actions at the measured ~200 ms/action
    // local floor — with ONE limit-fused collect and zero per-round jobs
    // (measured 2.8 s → the events-scale aggregation cost alone at
    // sf0.1). Event-scale data still never reaches the driver: cmp/dirn/
    // stat are the post-cap aggregates. Arithmetic is replicated op-for-op
    // (fixed-point BIGINT sums, one pinned divide chain per round), so
    // ratings are bit-identical to the distributed loop — Round19OptSpec
    // pins the parity, and past the ceiling the distributed loop below
    // serves unchanged.
    val dirnRows = dirn.limit(pairCollectCeiling + 1).collect()
    if (dirnRows.length <= pairCollectCeiling) {
      val statRows = stat.collect()
      val items = statRows.map(_.getLong(0)).sorted
      val wins05 = statRows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
      var p = items.map(i => i -> 1.0).toMap
      for (_ <- 0 until iters) {
        // Σ floor(n_ij / (p_i + p_j) × 10⁹) as LONG — order-independent,
        // exactly the distributed groupBy-sum
        val dfix = new java.util.HashMap[Long, Long]()
        dirnRows.foreach { row =>
          val (i, j, n) = (row.getLong(0), row.getLong(1), row.getLong(2))
          val t = math.floor(n.toDouble / (p(i) + p(j)) * 1000000000.0).toLong
          dfix.merge(i, t, (a, b) => a + b)
        }
        p = items.map { i =>
          i -> (wins05(i) / ((dfix.getOrDefault(i, 0L).toDouble / 1000000000.0)
            + (1.0 / (p(i) + 1.0))))
        }.toMap
      }
      val out = statRows.map { r =>
        // EMITTED-DOUBLE CONVENTION (SCALING.md): final loop scalar cut
        // to FLOAT — same cast the distributed branch applies.
        (r.getLong(0), r.getLong(1), r.getLong(2), p(r.getLong(0)).toFloat)
      }.sortBy(_._1).toSeq
      import spark.implicits._
      out.toDF("item", "wins", "games", "rating").orderBy("item")
    } else {
      val nItems = stat.count()
      LoopWidth.pinned(spark, nItems) {
        var r = stat.select(col("item"), lit(1.0).as("p")).localCheckpoint()
        for (_ <- 0 until iters)
          r = btRound(dirn, stat, r).localCheckpoint()
        stat.join(r, "item")
          .select(col("item"), col("wins"), col("games"),
            // EMITTED-DOUBLE CONVENTION (SCALING.md): the final
            // loop-derived scalar is cut to FLOAT so cross-engine /
            // cross-version canonicalization of the last divide chain
            // can never flip the driver's hash (the topKPerQuery rule).
            col("p").cast("float").as("rating"))
          .orderBy("item")
      }
    }
  }

  /** One MM round: next-strength frame from the directed game counts,
    * the static per-item frame, and the current ratings — exposed
    * un-checkpointed so the plan audit can assert the broadcast shape
    * of the loop body.
    */
  private[graft] def btRound(
      dirn: DataFrame,
      stat: DataFrame,
      r: DataFrame): DataFrame = {
    val d = dirn
      .join(broadcast(r.select(col("item").as("i"), col("p").as("p_i"))), "i")
      .join(broadcast(r.select(col("item").as("j"), col("p").as("p_j"))), "j")
      .select(col("i").as("item"),
        floor(col("n_ij").cast("double") / (col("p_i") + col("p_j"))
          * lit(1000000000.0)).cast("long").as("tfix"))
      .groupBy("item").agg(sum("tfix").as("dfix"))
    stat.join(d, "item").join(broadcast(r), "item")
      .select(col("item"),
        (col("wins05") / ((col("dfix").cast("double") / lit(1000000000.0))
          + (lit(1.0) / (col("p") + lit(1.0))))).as("p"))
  }

  private[graft] val BtBasketCap = 8
  private[graft] val BtIters = 5

  /** Ceiling on directed (i, j, n_ij) rows collected for the driver-side
    * MM loop: 2M rows × 3 longs ≈ 48 MB — the EdgeCollectCeiling /
    * bm25-df-map contract (a bounded model-sized artifact with an
    * in-plan fallback past the ceiling, never an unbounded data
    * collect). The frame is |items|²-bounded, so any catalog small
    * enough for the broadcast-vector fallback loop sits far below this.
    */
  private[graft] val BtPairCollectCeiling = 2000000

  /** TRENDING ITEMS UNDER EXPONENTIAL TIME DECAY — the freshness-aware
    * popularity score every feed/mixture ranker starts from: each
    * interaction contributes 2^(−age/halfLife), so an item's score is a
    * decayed event count where activity `halfLifeDays` ago counts half
    * as much as activity today. Age is measured from the table's max
    * day (the "as of the data" convention — wall-clock `now` would make
    * the answer non-reproducible).
    *
    * The half-life is QUANTIZED to whole periods (age div halfLife):
    * each contribution is then an exact power of two, summed as exact
    * BIGINTs scaled by 2^40 — order-independent and bit-identical
    * cross-engine. The continuous form 2^(−age/h) would put an
    * irrational `pow` inside a cross-row float sum: both
    * partition-order-dependent and 1-ulp-libm-divergent, which is
    * precisely the hash-mismatch trap the fixed-point convention
    * exists to avoid. Contributions older than 40 half-lives underflow
    * the scale and count zero (2⁻⁴⁰ of one event is noise, not signal).
    *
    * Scale shape: one map-side-combined aggregation on the item key —
    * the word-count shape; the max-day anchor is a 1-row broadcast from
    * the same scan's metadata-cheap aggregate, and the final top-k cut
    * is the TopKPerKey single-partition form (rows are |items|-bounded
    * long before the sort).
    */
  def trendingItems(
      spark: SparkSession,
      sfDir: String,
      halfLifeDays: Int = 7,
      topK: Int = 50): DataFrame =
    trendingFromDayCounts(itemDayCounts(spark, sfDir), halfLifeDays, topK)

  /** Per-(item, day) event counts — trending's COMPACT STATE: the score
    * is a pure function of this |items|·|days|-bounded table, which is
    * what makes the incremental path exact (the retention `seen`-set
    * argument, keyed by item instead of user).
    */
  private def itemDayCounts(
      spark: SparkSession,
      sfDir: String,
      slice: Option[DataFrame => Column] = None): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    slice.map(p => raw.filter(p(raw))).getOrElse(raw)
      .withColumn("tus", EventTime.tsUs(raw))
      .select(get_json_object(col("props"), "$.k").cast("long").as("item"),
        expr("tus div 86400000000").as("day"))
      .where(col("item").isNotNull)
      .groupBy("item", "day").agg(count(lit(1)).as("n"))
  }

  /** The decay-and-rank core over an (item, day, n) counts frame: each
    * (item, day) cell contributes n × 2^(40 − age div halfLife) exact
    * BIGINTs (see [[trendingItems]] for why the half-life is quantized),
    * anchored at the frame's max day via a 1-row broadcast.
    */
  private def trendingFromDayCounts(
      counts: DataFrame,
      halfLifeDays: Int,
      topK: Int): DataFrame = {
    val maxDay = counts.agg(max("day").as("max_day"))
    counts.crossJoin(broadcast(maxDay))
      .withColumn("hl", expr(s"(max_day - day) div $halfLifeDays")) // exact
      .withColumn("w_fx",
        when(col("hl") <= 40,
          col("n") * expr("shiftleft(1L, cast(40 - hl as int))"))
          .otherwise(lit(0L)))
      .groupBy("item")
      .agg(sum("w_fx").as("score_fx"), sum("n").as("n_events"),
        max("day").as("last_day"))
      .select(col("item"),
        (col("score_fx").cast("double") / lit(1099511627776.0)) // 2^40: exact
          .as("decayed_score"),
        col("n_events"), col("last_day"))
      .orderBy(desc("decayed_score"), asc("item"))
      .limit(topK)
  }

  /** The persisted trending state of the base slice: the per-(item,
    * day) count table (`counts`) the score is a pure function of.
    */
  private[graft] def trendingBase(sfDir: String): IO.Artifact =
    IO.Artifact(sfDir, "events", "user_id", "trending",
      s"trending_v1|$sfDir|split1706054400",
      Seq("counts" -> IO.longSchema("item", "day", "n")))

  /** INCREMENTAL TRENDING — extend the persisted count state with the
    * arriving batch and re-rank, WITHOUT re-scanning event history.
    *
    * Soundness: the score is a pure function of the (item, day, n)
    * table and counts are mergeable by plain addition, so stored-plus-
    * batch equals from-scratch EXACTLY — including the anchor shift:
    * the decay weights are recomputed from the merged table's max day,
    * never carried over (a carried score would need a lossy re-scale;
    * the counts table is the right state precisely because it is
    * decay-free). The oracle is the FROM-SCRATCH trending query over
    * the whole table — a hash match proves incremental ≡ from-scratch,
    * the retention/scd2-incremental contract.
    *
    * Scale shape: one read of the compact |items|·|days| state, one
    * batch-bounded aggregation, one merged-counts union-aggregate —
    * events never re-scan; everything downstream of the state is the
    * same bounded-artifact arithmetic as the serve path.
    */
  def trendingIncremental(
      spark: SparkSession,
      sfDir: String,
      halfLifeDays: Int = 7,
      topK: Int = 50): DataFrame = {
    val stored = IO.servedArtifact(spark, trendingBase(sfDir)) { root =>
      itemDayCounts(spark, sfDir,
        Some(raw => EventTime.tsBeforeUs(raw, RetentionSplitUs)))
        .write.mode("overwrite").parquet(s"$root/counts")
    }.head
    val batch = itemDayCounts(spark, sfDir,
      Some(raw => EventTime.tsAtLeastUs(raw, RetentionSplitUs)))
    val merged = stored.unionByName(batch)
      .groupBy("item", "day").agg(sum("n").as("n"))
    trendingFromDayCounts(merged, halfLifeDays, topK)
  }

  /** A/B EXPERIMENT READOUT — the two-sample report every product
    * experiment ends in: per-user conversion (any `purchase` event) and
    * total interaction value, split into control/treatment by the
    * deterministic user-id parity (the assignment stand-in — a real
    * experiment supplies its own assignment column; everything
    * downstream is the general two-sample machinery), then the
    * two-proportion z statistic on conversion and the Welch t statistic
    * on value-per-user, from exact sufficient statistics.
    *
    * Determinism: per-user value totals are fixed-point BIGINT sums of
    * floor(value·100) (order-independent); all eight sufficient
    * statistics (n/conversions/Σx/Σx² per arm) are exact BIGINTs; the
    * z/t/rate columns are ONE pinned double op chain over those exact
    * operands (sqrt is correctly rounded everywhere — the winnowing
    * argument), emitted FLOAT per the SCALING.md convention.
    *
    * Scale shape: one per-user exchange (the retention convention), one
    * conditional-sum 1-row aggregate — the report is a single row no
    * matter the event volume. Σx² headroom: fixed-point cents squared
    * sum as BIGINT to ~10⁹ users at this value scale; past that the
    * same chain runs in DECIMAL(38).
    */
  def abTestReport(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    val perUser = raw
      // a NULL user_id belongs to NO arm (parity of NULL is NULL, and a
      // real experiment cannot assign an anonymous user) — filtered
      // EXPLICITLY on both sides so the engines cannot disagree on
      // where NULLs land (the oracle's CASE ELSE would have bucketed
      // them into control while when/otherwise(0) dropped them)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        floor(col("value") * 100.0).cast("long").as("vfix"))
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"),
        sum("vfix").as("uv"))
      .select((col("user_id") % 2 === 1).as("treat"),
        col("converted"), col("uv"))
    val s = perUser.agg(
      sum(when(!col("treat"), 1L).otherwise(0L)).as("n0"),
      sum(when(col("treat"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("treat"), col("converted")).otherwise(0L)).as("c0"),
      sum(when(col("treat"), col("converted")).otherwise(0L)).as("c1"),
      sum(when(!col("treat"), col("uv")).otherwise(0L)).as("s0"),
      sum(when(col("treat"), col("uv")).otherwise(0L)).as("s1"),
      sum(when(!col("treat"), col("uv") * col("uv")).otherwise(0L)).as("q0"),
      sum(when(col("treat"), col("uv") * col("uv")).otherwise(0L)).as("q1"))
    // pinned double chain over the exact integers — mirrored verbatim
    // in the oracle SQL
    val n0d = col("n0").cast("double")
    val n1d = col("n1").cast("double")
    val p0 = col("c0").cast("double") / n0d
    val p1 = col("c1").cast("double") / n1d
    val pool = (col("c0") + col("c1")).cast("double") /
      (col("n0") + col("n1")).cast("double")
    val zDen = sqrt(pool * (lit(1.0) - pool) * (lit(1.0) / n0d + lit(1.0) / n1d))
    val m0 = col("s0").cast("double") / n0d / lit(100.0)
    val m1 = col("s1").cast("double") / n1d / lit(100.0)
    val v0 = (col("q0").cast("double")
      - col("s0").cast("double") * col("s0").cast("double") / n0d) /
      (n0d - lit(1.0)) / lit(10000.0)
    val v1 = (col("q1").cast("double")
      - col("s1").cast("double") * col("s1").cast("double") / n1d) /
      (n1d - lit(1.0)) / lit(10000.0)
    val tDen = sqrt(v0 / n0d + v1 / n1d)
    // degenerate-case pinning (the NULL-vs-NaN cross-engine hazard —
    // Spark's non-ANSI x/0 is NULL, DuckDB's float division changed
    // across versions): z/t emit NULL exactly when their denominators
    // are zero, decided by EXACT INTEGER conditions both engines
    // evaluate identically — z needs 0 < c0+c1 < n0+n1; t needs both
    // arms sized >1 and at least one nonzero variance
    // (n·Σx² > (Σx)² in BIGINTs).
    val zDefined = (col("c0") + col("c1")) > 0 &&
      (col("c0") + col("c1")) < (col("n0") + col("n1"))
    val tDefined = col("n0") > 1 && col("n1") > 1 &&
      (col("n0") * col("q0") > col("s0") * col("s0") ||
        col("n1") * col("q1") > col("s1") * col("s1"))
    s.select(
      col("n0").as("n_control"), col("n1").as("n_treatment"),
      col("c0").as("conv_control"), col("c1").as("conv_treatment"),
      p0.cast("float").as("rate_control"),
      p1.cast("float").as("rate_treatment"),
      (p1 - p0).cast("float").as("lift_abs"),
      when(zDefined, (p1 - p0) / zDen).cast("float").as("z_conversion"),
      m0.cast("float").as("mean_value_control"),
      m1.cast("float").as("mean_value_treatment"),
      when(tDefined, (m1 - m0) / tDen).cast("float").as("t_value"))
  }

  /** CUSUM CHANGE-POINT SCAN over daily event volume — the drift
    * detector a pipeline dashboard runs on ingest rates: per day, the
    * cumulative deviation from the whole-period mean rate, held EXACT by
    * scaling with the day count (S·days = days·cum − idx·total, all
    * BIGINTs — no fractional mean ever materializes), and the
    * change-point flag on the max |S| day (earliest day wins ties).
    * A level shift in the rate makes |S| peak exactly at the shift.
    *
    * Scale shape: one map-side day aggregation (|days| rows — already
    * calendar-bounded), then the running sum and day index through the
    * two-phase [[graft.plans.DistributedRank.rangeCumsum]] (the index is
    * the running count of a ones column), so even the bounded frame
    * never funnels through a single-partition WindowExec; a 1-row
    * argmax broadcasts back.
    */
  def cusumDailyVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    val daily = raw
      .withColumn("tus", EventTime.tsUs(raw))
      .select(expr("tus div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
      .withColumn("one", lit(1L))
      .localCheckpoint() // |days| rows; cumsum chain + totals share it
    val tot = daily.agg(sum("n").as("total"), count(lit(1)).as("days"))
    val scanned = graft.plans.DistributedRank
      .rangeCumsum(daily, col("day"), Seq("n" -> "cum", "one" -> "idx"))
      .crossJoin(broadcast(tot))
      .select(col("day"), col("n"), col("cum"),
        (col("days") * col("cum") - col("idx") * col("total"))
          .as("s_scaled"))
      .localCheckpoint() // argmax + flag join both read it
    val peak = scanned
      .orderBy(abs(col("s_scaled")).desc, col("day").asc).limit(1)
      .select(col("day").as("peak_day"))
    scanned.crossJoin(broadcast(peak))
      .select(col("day"), col("n"), col("cum"), col("s_scaled"),
        (col("day") === col("peak_day")).as("is_changepoint"))
      .orderBy("day")
  }
}
