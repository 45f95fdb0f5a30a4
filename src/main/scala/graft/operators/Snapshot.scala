package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.IO

/** Snapshot maintenance operators: the change-data-capture diff between
  * two keyed snapshots, and the latest-wins upsert (SCD type 1 merge) that
  * applies a batch of updates to a base state. These are the two halves of
  * keeping a 100 TB mutable table on an immutable store: diff detects what
  * changed between loads; upsert folds changes into the current state.
  *
  * Scale shape for both: ONE co-partitioned shuffle per side on the key —
  * a full-outer sort-merge join for the diff, a key-partitioned reduction
  * for the upsert (which the TopKPerKey rewrite turns into partial
  * per-partition pruning before the exchange, so a mostly-unchanged
  * key space shuffles close to one row per key, not one row per version).
  * Neither path broadcasts, collects, or re-sorts globally; with both
  * sides bucketed by the key on disk, the diff's exchanges disappear
  * entirely (SCALING.md "Shuffles").
  */
object Snapshot {

  /** CDC diff of two snapshots of the same keyed table. Emits one row per
    * key whose state changed: op = 'insert' (key only in `next`),
    * 'delete' (key only in `prev`), 'update' (key in both, any compared
    * column differs — null-safe). Unchanged keys emit nothing, so output
    * volume is the churn, not the table.
    */
  def snapshotDiff(
      prev: DataFrame,
      next: DataFrame,
      key: String,
      compareCols: Seq[String]): DataFrame = {
    val changed: Column = compareCols
      .map(c => !(col(s"p.$c") <=> col(s"n.$c")))
      .reduce(_ || _)
    prev.as("p")
      .join(next.as("n"), col(s"p.$key") === col(s"n.$key"), "full_outer")
      .withColumn("op",
        when(col(s"p.$key").isNull, lit("insert"))
          .when(col(s"n.$key").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("op").isNotNull)
      .select(
        Seq(coalesce(col(s"p.$key"), col(s"n.$key")).as(key), col("op")) ++
          compareCols.flatMap(c =>
            Seq(col(s"p.$c").as(s"prev_$c"), col(s"n.$c").as(s"next_$c"))): _*)
  }

  /** Latest-wins upsert: fold `updates` into `base`, keeping per key the
    * row with the highest `version` (ties: updates beat base — the MERGE
    * contract — then the tiebreak column for run-to-run determinism).
    */
  def upsertLatest(
      base: DataFrame,
      updates: DataFrame,
      key: String,
      version: String,
      tiebreak: String): DataFrame = {
    val tagged = base.withColumn("_src", lit(1))
      .unionByName(updates.withColumn("_src", lit(0)))
    val w = Window.partitionBy(key)
      .orderBy(col(version).desc, col("_src").asc, col(tiebreak).desc)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** Apply a [[snapshotDiff]] to the snapshot it was computed FROM,
    * reconstructing the target: deletes/updates remove the prev row,
    * inserts/updates contribute the next-side row. apply ∘ diff is the
    * identity (property-tested, and the registered query's oracle IS the
    * target snapshot) — the replication contract that lets a 100 TB
    * replica sync by shipping churn instead of the table. One anti-join
    * against the (churn-sized) key list plus a union: the replica table
    * shuffles once on the key, the diff broadcasts when churn is small.
    */
  def applyDiff(
      prev: DataFrame,
      diff: DataFrame,
      key: String,
      compareCols: Seq[String]): DataFrame = {
    val removed = prev.join(
      diff.filter(col("op").isin("delete", "update")).select(key),
      Seq(key), "left_anti")
    val added = diff.filter(col("op").isin("insert", "update"))
      .select(Seq(col(key)) ++
        compareCols.map(c => col(s"next_$c").as(c)): _*)
    removed.unionByName(added)
  }

  /** SCD TYPE-2 history build: collapse a versioned change stream into
    * one row per CONSECUTIVE DISTINCT attribute state, with
    * [valid_from, valid_to) validity spans and an is_current flag — the
    * other half of dimension maintenance next to [[upsertLatest]]'s
    * type-1 overwrite (type 1 keeps the latest state, type 2 keeps the
    * full auditable timeline; every warehouse dimension pipeline ships
    * both). A run of versions with unchanged attributes emits ONE span:
    * state begins when the attributes change, not when a row arrives.
    *
    * Scale shape: one key-partitioned shuffle total. Both window passes
    * (the lag-based change flag and the lead-based span close) partition
    * by the key with the same (version, tiebreak) ordering, and the
    * run-start filter between them preserves partitioning AND ordering
    * — Catalyst plans a single exchange + sort and reuses it for the
    * second window (plan-audited). No groupBy materializes runs; the
    * run-start row IS the span row. Output volume is the number of
    * state CHANGES, not the stream length.
    *
    * Determinism: (version, tiebreak) is unique per key, flags and span
    * bounds are exact comparisons/copies of input values — no
    * arithmetic at all — so the history is bit-identical cross-engine.
    */
  def scd2History(
      changes: DataFrame,
      key: String,
      version: String,
      tiebreak: String,
      attrs: Seq[String]): DataFrame = {
    val w = Window.partitionBy(key)
      .orderBy(col(version).asc, col(tiebreak).asc)
    // run start: first row of the key, or any null-safe attribute change
    val attrChanged = attrs
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    val starts = changes
      .withColumn("_start",
        lag(col(version), 1).over(w).isNull || attrChanged)
      .filter(col("_start"))
    starts
      .withColumn("valid_to", lead(col(version), 1).over(w))
      .select(
        Seq(col(key), col(version).as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current")) ++
          attrs.map(col): _*)
  }

  // ---- registered shapes over the driver testdata ----

  /** Deterministic "previous load" of orders: the key stripe
    * o_orderkey % 10 == 3 does not exist yet.
    */
  private[graft] def ordersPrev(spark: SparkSession, sfDir: String): DataFrame =
    IO.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 10 =!= 3)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")

  /** Deterministic "current load": stripe %10==7 was deleted, stripe
    * %10==3 arrived, and every key in stripe %5==0 had its price adjusted
    * (+1.0 — exact in doubles, so cross-engine comparison is bitwise).
    */
  private[graft] def ordersNext(spark: SparkSession, sfDir: String): DataFrame =
    IO.table(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 10 =!= 7)
      .select(col("o_orderkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")).as("o_totalprice"))

  /** Registered CDC diff over the derived orders snapshots. */
  def ordersSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame =
    snapshotDiff(ordersPrev(spark, sfDir), ordersNext(spark, sfDir),
      "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
      .orderBy("o_orderkey")

  /** Registered apply: reconstruct the next orders snapshot from prev +
    * diff. The oracle is the next snapshot itself, so a hash match PROVES
    * apply ∘ diff = identity on this data.
    */
  def ordersSnapshotApply(spark: SparkSession, sfDir: String): DataFrame =
    applyDiff(
      ordersPrev(spark, sfDir),
      snapshotDiff(ordersPrev(spark, sfDir), ordersNext(spark, sfDir),
        "o_orderkey", Seq("o_orderstatus", "o_totalprice")),
      "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
      .orderBy("o_orderkey")

  /** Registered SCD-2 row: per-user event_type state history over the
    * events stream at µs versions (event_id as the same-µs tiebreak, the
    * upsert convention) — runs of same-type events collapse to one
    * validity span each, the current state carries valid_to = null.
    */
  def eventsScd2History(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    val changes = raw
      .withColumn("tus", EventTime.tsUs(raw))
      .select("user_id", "tus", "event_id", "event_type")
    scd2History(changes, "user_id", "tus", "event_id", Seq("event_type"))
      .orderBy("user_id", "valid_from")
  }

  /** Declared schema of the persisted span table — `valid_to` is
    * genuinely nullable (open spans), everything else exact by
    * construction.
    */
  private[graft] val Scd2Schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType, nullable = false),
      StructField("valid_from", LongType, nullable = false),
      StructField("valid_to", LongType, nullable = true),
      StructField("is_current", BooleanType, nullable = false),
      StructField("event_type", StringType, nullable = false)))
  }

  /** The persisted BASE span table ([[eventsScd2Incremental]]'s
    * standing state): the base-slice SCD-2 history an arriving batch
    * extends, built once per events-table version.
    */
  private[graft] def scd2Base(sfDir: String): IO.Artifact =
    IO.Artifact(sfDir, "events", "event_type", "scd2",
      s"scd2_v1|$sfDir|event_type|split1706054400", Seq("" -> Scd2Schema), ".parquet")

  /** The served base span table, self-priming.
    *
    * The [[Scd2Schema]] contract (`event_type` non-null) is ENFORCED at
    * write time: a null state would otherwise slip into the artifact and
    * fail every later serve inside the stamped read's `AssertNotNull` —
    * a runtime job failure the serve seam's heal cannot fix (the
    * re-primed artifact would carry the same null). Asserting in the
    * writer moves the failure to the prime, where the producer is on the
    * stack and the message names the contract. Generated events carry no
    * null event_type at any scale, so this is a guard, not a filter —
    * the live row's semantics are unchanged.
    */
  private[graft] def scd2BaseStored(spark: SparkSession, sfDir: String): DataFrame =
    IO.servedArtifact(spark, scd2Base(sfDir)) { root =>
      import org.apache.spark.sql.GraftSqlBridge
      import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
      val raw = IO.table(spark, sfDir, "events")
      val base = raw.filter(EventTime.tsBeforeUs(raw, Scd2SplitUs))
        .withColumn("tus", EventTime.tsUs(raw))
        .select("user_id", "tus", "event_id", "event_type")
      scd2History(base, "user_id", "tus", "event_id", Seq("event_type"))
        .withColumn("event_type", GraftSqlBridge.column(AssertNotNull(
          GraftSqlBridge.expression(col("event_type")),
          Seq("Scd2Schema declares event_type non-null; a null state " +
            "reached the scd2 base writer — fix the producer or relax the schema"))))
        .write.mode("overwrite").parquet(root)
    }.head

  private[graft] val Scd2SplitUs = 1706054400000000L // 2024-01-24 UTC

  /** INCREMENTAL SCD-2: extend the persisted span table with an arriving
    * event batch WITHOUT recomputing history — the production CDC shape
    * (the base history of a 100 TB dimension is immutable; per load only
    * the delta is computed and merged). Emits EXACTLY the rows by which
    * the batch-inclusive history differs from the stored one:
    * still-open spans that CLOSE (the batch's first differing state
    * timestamps their valid_to), plus every NEW span the batch opens.
    * An open span whose state the batch merely continues is UNCHANGED
    * and emits nothing.
    *
    * Soundness (append-only time): batch versions all sort after base
    * versions, so closed base spans can never change; the entire diff
    * lives in each affected user's open span + the batch's own runs,
    * with the batch's first run MERGING into the open span when states
    * match. The DuckDB oracle replays the batch-inclusive history in
    * full and subtracts the stored one (EXCEPT) — a hash match proves
    * incremental ≡ from-scratch on every changed row, the
    * incremental-components contract.
    *
    * Scale shape: one scan of the span artifact (filtered to open spans
    * — |users| rows — and semi-joined to the broadcast batch-user set);
    * everything else is batch-bounded (the batch's own window pass plus
    * |affected-users| joins). History volume never re-shuffles.
    */
  def eventsScd2Incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    val batch = raw.filter(EventTime.tsAtLeastUs(raw, Scd2SplitUs))
      .withColumn("tus", EventTime.tsUs(raw))
      .select("user_id", "tus", "event_id", "event_type")
    scd2IncrementalFrames(spark, sfDir, batch)
  }

  /** Delta core over an explicit batch (user_id, tus, event_id,
    * event_type) frame — the production/streaming entry; consumes the
    * PERSISTED base span table (self-priming, the stored-artifact
    * convention).
    */
  private[graft] def scd2IncrementalFrames(
      spark: SparkSession,
      sfDir: String,
      batch: DataFrame): DataFrame = {
    val stored = scd2BaseStored(spark, sfDir)
    val bSpans = scd2History(batch, "user_id", "tus", "event_id",
      Seq("event_type")).localCheckpoint()
    val affected = bSpans.select("user_id").distinct()
    val open = stored.filter(col("is_current"))
      .join(broadcast(affected), "user_id")
      .select(col("user_id"), col("valid_from").as("open_from"),
        col("event_type").as("open_state"))
    val firsts = bSpans
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy("valid_from")))
      .localCheckpoint()
    val first = firsts.filter(col("rn") === 1)
      .select(col("user_id"), col("valid_from").as("b_from"),
        col("valid_to").as("b_to"), col("event_type").as("b_state"))
    // the stored open span's fate: closes at the first differing state
    val joined = open.join(first, "user_id")
    val closed = joined
      .select(col("user_id"), col("open_from").as("valid_from"),
        when(col("b_state") =!= col("open_state"), col("b_from"))
          .otherwise(col("b_to")).as("valid_to"),
        col("open_state").as("event_type"))
      // merged-and-still-open (same state, single batch run): no change
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("valid_from"), col("valid_to"),
        lit(false).as("is_current"), col("event_type"))
    // new span rows: every batch run EXCEPT a first run that merged
    val newSpans = firsts
      .join(broadcast(open.select(col("user_id"),
        col("open_state"))), Seq("user_id"), "left")
      .filter(col("rn") =!= 1 || col("open_state").isNull
        || col("event_type") =!= col("open_state"))
      .select(col("user_id"), col("valid_from"), col("valid_to"),
        col("is_current"), col("event_type"))
    closed.unionByName(newSpans).orderBy("user_id", "valid_from")
  }

  /** Streaming twin of [[eventsScd2Incremental]] — the dimension-history
    * analogue of `Similarity.embIngestStream`: arriving
    * (user_id, tus, event_id, event_type) micro-batches each get their
    * exact history delta against the SAME persisted base span table,
    * written idempotently per batch id (a replayed micro-batch
    * overwrites its own directory). The base artifact primes EAGERLY
    * before `.start()` so micro-batch 0 never pays the corpus-scale
    * history build (the ingest-gate lesson).
    */
  def scd2IngestStream(
      spark: SparkSession,
      sfDir: String,
      arrivals: DataFrame,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    scd2BaseStored(spark, sfDir)
    arrivals.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scd2IncrementalFrames(spark, sfDir,
          batch.select("user_id", "tus", "event_id", "event_type"))
          .write.mode("overwrite")
          .parquet(s"$outDir/deltas/batch_id=$batchId")
        ()
      }
      .start()
  }

  /** Registered upsert: per-user latest state, where events in the final
    * week of the window arrive as the update batch against the base state
    * built from everything earlier. Ordering runs at µs (`tus`, via the
    * schema-aware [[EventTime.tsUs]]) so every comparison matches the
    * oracle's µs TIMESTAMPs (the sessionize convention), with the unique
    * event_id as the sub-µs tiebreak.
    */
  def eventsUpsertLatest(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = IO.table(spark, sfDir, "events")
    val splitUs = 1706054400000000L // 2024-01-24 00:00:00 UTC
    // the base/update split filters on the RAW ts (EventTime.tsBeforeUs/
    // tsAtLeastUs) so the time predicate pushes to the parquet scan —
    // row-group skipping is what bounds the "update batch" read on a
    // time-partitioned event table; a filter on the computed µs column
    // would read everything and cut post-scan
    def slice(pred: Column): DataFrame =
      raw.filter(pred)
        .withColumn("tus", EventTime.tsUs(raw))
        .select("user_id", "event_id", "tus", "event_type", "value")
    upsertLatest(
      slice(EventTime.tsBeforeUs(raw, splitUs)),
      slice(EventTime.tsAtLeastUs(raw, splitUs)),
      "user_id", "tus", "event_id")
      .orderBy("user_id")
  }

  /** Pinned point-in-time instants for [[eventsScd2AsOf]], all inside the
    * persisted base slice (< [[Scd2SplitUs]]): 2024-01-08 / -15 / -22 UTC.
    */
  private[graft] val AsOfLookupsUs =
    Seq(1704672000000000L, 1705276800000000L, 1705881600000000L)

  /** POINT-IN-TIME (as-of) lookup against the persisted SCD-2 span table:
    * for each pinned instant, the state every user was in at that moment —
    * the query a dimension history exists to answer (reproduce a
    * training-data join exactly as it ran last Tuesday). A span is active
    * at t when valid_from <= t < valid_to (open spans have no valid_to).
    *
    * This is the SERVE-path twin of [[eventsScd2History]]: it reads the
    * stored artifact (self-priming, the stored-artifact convention) and
    * never touches the event stream. The DuckDB oracle replays the base
    * slice's history from raw events and applies the same interval
    * predicate — a hash match proves artifact + predicate together
    * reproduce the from-scratch answer.
    *
    * Scale shape: ONE distributed scan of the span table, probed by a
    * broadcast 3-row literal frame (BroadcastNestedLoopJoin on the
    * interval predicate — the small side is the lookup set, so the 100 TB
    * history never moves). A history table laid out by valid_from range
    * additionally prunes to the row groups straddling each instant. No
    * shuffle: output order is the presentation sort of an
    * output-sized frame.
    */
  def eventsScd2AsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = scd2BaseStored(spark, sfDir)
    import spark.implicits._
    val lookups = AsOfLookupsUs.toDF("asof_us")
    spans.join(broadcast(lookups),
      col("valid_from") <= col("asof_us")
        && (col("valid_to").isNull || col("valid_to") > col("asof_us")))
      .select(col("asof_us"), col("user_id"), col("event_type"),
        col("valid_from"))
      .orderBy("asof_us", "user_id")
  }
}
