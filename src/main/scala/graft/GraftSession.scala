package graft

import org.apache.spark.sql.SparkSession

/** Session factory — every graft entrypoint (Bench, Verify, ScalaTest) builds
  * its SparkSession here so the engine contract is pinned in exactly one place:
  *
  *   - `spark.sql.ansi.enabled=false`: the reference workload
  *     (/root/reference/src/main/scala/tiago/cebola/challenge.scala:102,141-151)
  *     relies on non-ANSI cast semantics (unparseable string -> null,
  *     'nan' -> Double.NaN). Spark 4.x flips the default to ANSI-on, which
  *     would turn those silent coercions into CAST_INVALID_INPUT errors.
  *   - UTC session time zone so to_date/parquet DATE logical values are
  *     stable across machines.
  *   - master from the environment, never hardcoded (the reference hardcodes
  *     "local"; on a real cluster the master comes from spark-submit).
  *   - shuffle partitions sized to the local core count rather than the 200
  *     default — on a real cluster this is instead driven by AQE coalescing
  *     from an intentionally high initial partition count.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS` (a positive integer), default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => 4
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def build(appName: String = "graft"): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", math.max(cpus, 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the cluster posture the shuffle-partitions comment promises: start
      // every exchange wide (8x cores) and let AQE coalesce down by size.
      // parallelismFirst (default true) keeps small-scale shuffles at
      // ~core parallelism, so tiny inputs lose nothing, while a 10-100x
      // input (measured: the x100 sf10 probe's orders-lineitem SMJ sorted
      // ~2M rows per partition at a fixed 32) gets per-partition volumes
      // that fit in memory instead of spilling.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        math.max(cpus * 8, 64).toString)
      // let AQE swap a sort-merge join for a shuffled hash join when the
      // runtime per-partition build side fits comfortably in memory
      // (default 0 disables the conversion entirely): with the wide
      // start above, partitions are advisory-sized, so the bound is a
      // real memory guarantee — the sort pass on both sides disappears
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (128L * 1024 * 1024).toString)
      // some generator builds ship events.ts as parquet TIMESTAMP(NANOS),
      // which Spark 4 rejects by default; read that encoding as
      // nanos-since-epoch LONG. Current builds ship TIMESTAMP(MICROS)
      // (read natively as TIMESTAMP_NTZ, this conf then a no-op); all
      // event-time arithmetic goes through the schema-aware
      // operators.EventTime so both encodings produce identical µs values
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate adds a `size(e) > 0 && isnotnull(e)`
      // pre-filter under every explode. For a stored array column that is
      // harmless, but every explode in this engine generates a COMPUTED
      // array (gram hashes, shingle windows, band keys), so the inferred
      // filter re-evaluates the whole generator expression once more per
      // row — and after predicate pushdown substitutes any upstream alias
      // into each use site, turning a hash-each-token-once pipeline into
      // tokens×window recompute (measured 8x on the decontamination gram
      // explode at sf0.1: 2.7 s -> 0.35 s). Plain explode already skips
      // empty/null arrays inside Generate, so dropping the rule changes
      // no results — it only stops paying for the generator twice.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // keep managed tables (bucketing tests/showcases) out of the repo tree
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate can hand back a pre-existing session whose conf differs;
    // re-assert the semantics-bearing settings on the session itself.
    // (The TopK extension cannot be retrofitted onto a foreign session —
    // plans still work, they just lose the rewrite.)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    GraftExtensions.registerMissing(spark)
    spark
  }
}
