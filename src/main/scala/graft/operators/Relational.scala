package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.SmallestDistinctAggregator
import graft.sources.IO

/** The relational operator surface (SURVEY.md §2) exercised as named queries
  * over the driver testdata (TESTDATA.md), each with a DuckDB-equivalent
  * oracle in [[graft.SparkEntry.oracleSql]].
  *
  * Cross-engine determinism rules used throughout (the driver hash-compares
  * values against DuckDB):
  *   - per-row floating arithmetic is left exact — IEEE ops on the same
  *     inputs are bit-identical in both engines;
  *   - aggregated doubles are summed as DECIMAL (exact, order-insensitive)
  *     and cast back to double, because a distributed double sum is
  *     order-dependent and would never hash-match a single-threaded oracle;
  *   - every query ends in a total deterministic ORDER BY.
  *
  * Scale notes are attached per query; the global ones: aggregations rely on
  * partial (map-side) aggregation before the hash exchange, joins broadcast
  * the dimension side when it is small and otherwise shuffle on the join key,
  * and all scans are parquet with column pruning (verified via explain in
  * the PlanAuditSpec test).
  */
object Relational {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    IO.table(spark, sfDir, name)

  /** Exact order-insensitive sum of a 2-decimal-valued double column.
    * (private[graft]: PropertySpec pins fsum ≡ dsum on random inputs.)
    */
  private[graft] def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact average: decimal sum over non-null count. */
  private def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  /** [[dsum]] as codegen'd LONG adds: sum the column in fixed-point units
    * (round(x·10^scale) — exact integers when the inputs are scale-dp-rounded
    * doubles) and divide back once. Produces the IDENTICAL double to
    * `dsum(c, scale)` — the unit sum is exact and the single final division
    * is the one correctly-rounded step, the same value the oracle's
    * CAST(SUM(DECIMAL) AS DOUBLE) yields — but the hot loop is long
    * arithmetic inside whole-stage codegen instead of a BigDecimal-backed
    * accumulator (Spark's sum over DECIMAL(18,s) widens to DECIMAL(28,s),
    * past the compact-long representation; measured 2× on the whole of q1,
    * BASELINE.md). Requires |units sum| < 2^53: at 10^11 rows of ~10^3-unit
    * values the sum is ~10^14 — headroom of ~100× over a true 100 TB
    * lineitem. Columns that aren't fixed-dp (or overflow the bound) must
    * keep [[dsum]].
    */
  private[graft] def fsum(c: Column, scale: Int = 2): Column = {
    val unit = math.pow(10, scale)
    sum(round(c * unit).cast("long")) / unit
  }

  // ---------------------------------------------------------------- sources

  /** S1: CSV sink+scan round-trip with header + schema inference. */
  def s1CsvRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val rt = IO.csvRoundTrip(spark, t(spark, sfDir, "region"),
      IO.scratchDir("graft_s1"), delimiter = ",")
    rt.select(col("r_regionkey").cast("int"), col("r_name"))
      .orderBy("r_regionkey")
  }

  /** S2/K1: CSV round-trip through the reference's `§` delimiter. */
  def s2CsvSectionDelim(spark: SparkSession, sfDir: String): DataFrame = {
    val rt = IO.csvRoundTrip(spark, t(spark, sfDir, "nation"),
      IO.scratchDir("graft_s2"), IO.SectionDelimiter)
    rt.select(col("n_nationkey").cast("int"), col("n_name"),
        col("n_regionkey").cast("int"))
      .orderBy("n_nationkey")
  }

  /** S4: CSV scan with an EXPLICIT schema — the 100 TB CSV path. Unlike
    * S1/S2, the read triggers no inference job (inference is an eager full
    * pass over the data before the query even plans; at scale it is the #1
    * CSV footgun). PlanAuditSpec asserts the no-job property with a listener.
    */
  def s4CsvSchemaPinned(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = IO.scratchDir("graft_s4")
    IO.writeCsv(t(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_acctbal"), dir)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType)))
    IO.readCsvWithSchema(spark, dir, schema)
      .orderBy("c_custkey")
  }

  /** S3: parquet scan with column pruning (ReadSchema should list 3 cols). */
  def s3ParquetScan(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")

  /** K2: gzip parquet sink + re-scan round-trip. */
  def k2ParquetGzipRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    IO.parquetGzipRoundTrip(spark, t(spark, sfDir, "supplier"),
        IO.scratchDir("graft_k2"))
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .orderBy("s_suppkey")

  /** K7: zstd parquet round-trip — the at-scale codec (see
    * IO.parquetZstdRoundTrip); K2 keeps gzip for reference parity.
    */
  def k7ZstdRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    IO.parquetZstdRoundTrip(spark, t(spark, sfDir, "nation"),
        IO.scratchDir("graft_k7"))
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")

  /** K8 (engine-level): small-files compaction round-trip — fragment the
    * part table into 16 files, compact to target size (one file at this
    * scale), re-read. Content is the oracle contract; the shuffle-free
    * coalesce plan and the file count are spec-asserted.
    */
  def k8CompactedRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val src = IO.scratchDir("graft_k8_src")
    t(spark, sfDir, "part").repartition(16)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(src)
    IO.compactParquet(spark, src, IO.scratchDir("graft_k8_dst"))
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")
  }

  /** K9: schema-evolution read — two parquet generations of the same
    * table, the newer with an added column, read together with
    * `mergeSchema` (the footer-reconciliation path; plain parquet reads
    * take ONE footer's schema and would silently drop or misbind the new
    * column). Rows from the old generation surface the added column as
    * NULL — exactly the long-lived-table contract a 100 TB ingest needs,
    * where rewriting history on every schema change is off the table.
    * Note the cost model: mergeSchema reconciles footers across files at
    * planning time (a driver-side listing+footer pass, not a data scan);
    * production tables bound it by reconciling per-partition manifests
    * instead of per-file footers.
    */
  def k9MergeSchemaRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    val base = IO.scratchDir("graft_k9")
    val li = t(spark, sfDir, "lineitem")
    li.filter(col("l_orderkey") % 2 === 0)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$base/gen=0")
    li.filter(col("l_orderkey") % 2 === 1)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$base/gen=1")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$base/gen=0", s"$base/gen=1")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** K3: the console sink's implicit limit-21 (show()) as a real plan:
    * CollectLimit over a sorted child.
    */
  def k3ShowLimit(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
      .limit(21)

  /** K4: JSON-lines sink + scan round-trip (interchange format; see
    * IO.jsonRoundTrip's scale note).
    */
  def k4JsonRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    IO.jsonRoundTrip(spark,
        t(spark, sfDir, "customer").select("c_custkey", "c_name", "c_acctbal"),
        IO.scratchDir("graft_k4"))
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")

  /** K5: zlib ORC sink + vectorized scan round-trip — the second columnar
    * format next to parquet.
    */
  def k5OrcRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    IO.orcRoundTrip(spark,
        t(spark, sfDir, "part").select("p_partkey", "p_name", "p_retailprice"),
        IO.scratchDir("graft_k5"))
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")

  /** K6: hive-partitioned parquet sink + pruned scan round-trip: the filter
    * on the partition column must prune directories (asserted in
    * PlanAuditSpec for this layout), so the query reads one partition's
    * files, not the table.
    */
  def k6PartitionedRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    IO.partitionedParquetRoundTrip(spark,
        t(spark, sfDir, "events")
          .select("event_id", "user_id", "value", "event_type"),
        IO.scratchDir("graft_k6"), "event_type")
      .filter(col("event_type") === "click")
      .select("event_id", "user_id", "value", "event_type")
      .orderBy("event_id")

  // ------------------------------------------------------------- projection

  /** P1: column pruning/reorder — scan must read only the 3 columns. */
  def p1SelectPrune(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  /** P2: withColumn — per-row arithmetic stays exact (no rounding). */
  def p2WithColumn(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .withColumn("gross", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .select("l_orderkey", "l_linenumber", "gross")
      .orderBy("l_orderkey", "l_linenumber")

  /** P3: rename via alias. */
  def p3Rename(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
      .orderBy("id")

  /** P4: left join keeping both sides' key, then drop the right-side copy by
    * parent reference — the Part-4 disambiguation shape (challenge.scala:185).
    */
  def p4DropDupKey(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = t(spark, sfDir, "orders")
    val cust = t(spark, sfDir, "customer")
    orders
      .join(cust, orders("o_custkey") === cust("c_custkey"), "left")
      .drop(cust("c_custkey"))
      .select("o_orderkey", "o_custkey", "c_name")
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- filters

  /** Synthetic null/NaN column over events: 'error' rows → NaN, 'view' rows
    * → null — gives the testdata the missing-value shapes the PlayStore
    * contract cares about (SURVEY.md §2.9).
    */
  private def eventsWithMissing(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events").withColumn(
      "v",
      when(col("event_type") === "error", lit(Double.NaN))
        .when(col("event_type") === "view", lit(null).cast("double"))
        .otherwise(col("value")))

  /** F1: the Part-2 conjunctive filter — isNotNull && !isNaN && >= lit. */
  def f1ConjFilter(spark: SparkSession, sfDir: String): DataFrame =
    eventsWithMissing(spark, sfDir)
      .filter(col("v").isNotNull && !col("v").isNaN && col("v") >= 100.0)
      .select("event_id", "v")
      .orderBy("event_id")

  /** F2: when/otherwise chain (CASE WHEN). */
  def f2CaseWhen(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .withColumn("bucket",
        when(col("l_quantity") < 10, lit("low"))
          .when(col("l_quantity") < 30, lit("mid"))
          .otherwise(lit("high")))
      .select("l_orderkey", "l_linenumber", "bucket")
      .orderBy("l_orderkey", "l_linenumber")

  /** F3: endsWith (case-sensitive, like the reference's "K" quirk). */
  def f3EndsWith(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .filter(col("p_name").endsWith("bolt"))
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")

  /** F4: contains. */
  def f4Contains(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .filter(col("p_name").contains("wid"))
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")

  /** F5: equality against a literal of a different type (string "1" vs int
    * column) — non-ANSI implicit coercion.
    */
  def f5EqCoerce(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .filter(col("l_linenumber") === "1")
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey")

  // ------------------------------------------------------------------ sorts

  /** O1: global sort, descending on a STRING column (lexicographic — the
    * Part-2 contract), with a unique tiebreaker for determinism.
    * Physical plan: range-partitioning exchange + per-partition sort.
    */
  def o1SortDescString(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderpriority")
      .orderBy(desc("o_orderpriority"), asc("o_orderkey"))

  /** O2: top-k — orderBy + limit collapses to TakeOrderedAndProject (no
    * global sort materialization; each partition keeps only k rows).
    */
  def o2TopK(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .select("event_id", "value")
      .orderBy(desc("value"), asc("event_id"))
      .limit(50)

  // ----------------------------------------------------------- aggregations

  /** A1: groupBy + average (exact via decimal sum / count). */
  def a1GroupAvg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "customer")
      .groupBy("c_nationkey")
      .agg(davg(col("c_acctbal")).as("avg_acctbal"),
        count(lit(1)).as("num_customers"))
      .orderBy("c_nationkey")

  /** A2: multi-max in one aggregate, including max over DATE. */
  def a2MultiMax(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        max("l_quantity").as("max_qty"),
        max(col("l_shipdate").cast("date")).as("max_ship_date"),
        max("l_linestatus").as("max_status"))
      .orderBy("l_returnflag")

  /** A2b: max over ARRAY<STRING> — element-wise lexicographic array
    * ordering, the Part-3 `max(Genres)` shape (challenge.scala:162).
    */
  def a2MaxArray(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .withColumn("name_words", split(col("p_name"), " "))
      .groupBy("p_brand")
      .agg(max("name_words").as("max_name_words"))
      .orderBy("p_brand")

  /** A3: collect_list — order-normalized with sort_array because list order
    * is partition-dependent (SURVEY.md §2.5-A3).
    */
  def a3CollectList(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .filter(col("l_orderkey") % 100 === 0)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list("l_linenumber")).as("line_numbers"))
      .orderBy("l_orderkey")

  /** A4: count(*). */
  def a4CountStar(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(count("*").as("cnt"))
      .orderBy("event_type")

  /** A5: avg over a column with nulls — nulls ignored by both sum and count;
    * an all-null group yields null (NULL/0 division).
    */
  def a5AvgWithNulls(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .withColumn("v",
        when(col("event_type") === "view", lit(null).cast("double"))
          .otherwise(col("value")))
      .groupBy("event_type")
      .agg(davg(col("v")).as("avg_v"), count(col("v")).as("cnt_v"))
      .orderBy("event_type")

  /** A6: dropDuplicates on the projected key columns (deterministic form of
    * the Part-3 dedup; with non-key columns present the survivor row would
    * be arbitrary).
    */
  def a6DropDuplicates(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select("l_returnflag", "l_linestatus")
      .dropDuplicates("l_returnflag", "l_linestatus")
      .orderBy("l_returnflag", "l_linestatus")

  /** A7: na.fill(0) — replaces null AND NaN in every numeric column in
    * scope (the Part-1/3 contract, challenge.scala:86,143).
    */
  def a7NaFill(spark: SparkSession, sfDir: String): DataFrame =
    eventsWithMissing(spark, sfDir)
      .select("event_id", "v")
      .na.fill(0)
      .orderBy("event_id")

  // ------------------------------------------------------------------ joins

  /** J1: left outer equi-join + aggregate over the nullable side. Customer
    * is the smaller side but must stay on the left (outer) — Spark plans a
    * broadcast of orders only if it fits; otherwise shuffled SMJ on the key.
    */
  def j1LeftJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = t(spark, sfDir, "customer")
    val orders = t(spark, sfDir, "orders")
    cust
      .join(orders, cust("c_custkey") === orders("o_custkey"), "left")
      .groupBy(cust("c_custkey").as("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("num_orders"),
        dsum(col("o_totalprice")).as("total_spent"))
      .orderBy("c_custkey")
  }

  /** J2: explicit broadcast of the dimension side — at 100 TB the fact side
    * never moves; only the ~MB part table is shipped to executors.
    */
  def j2BroadcastJoin(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .join(broadcast(t(spark, sfDir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_type")
      .agg(count(lit(1)).as("cnt"), fsum(col("l_extendedprice")).as("revenue"))
      .orderBy("p_type")

  // ------------------------------------------------------------ expressions

  /** E1: regexp_extract with a capture group. */
  def e1RegexpExtract(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select(col("p_partkey"),
        regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"))
      .orderBy("p_partkey")

  /** E2: round(expr, 2) on non-decimal-aligned values. */
  def e2Round(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") / 7.0, 2).as("price_seventh"))
      .orderBy("o_orderkey")

  /** E3: to_date with the reference's "MMMM d, yyyy" pattern
    * (challenge.scala:150) — format a timestamp to the English long form
    * and parse it back.
    */
  def e3ToDateFmt(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "MMMM d, yyyy").as("pretty"),
        to_date(date_format(col("o_orderdate"), "MMMM d, yyyy"), "MMMM d, yyyy")
          .as("parsed"))
      .orderBy("o_orderkey")

  /** E4: split into array<string>. */
  def e4Split(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select(col("p_partkey"), split(col("p_name"), " ").as("words"))
      .orderBy("p_partkey")

  /** E5: non-ANSI casts — unparseable → null, literal 'nan' → Double.NaN
    * (SURVEY.md §2.9.1). Oracle uses TRY_CAST for the same semantics.
    */
  def e5NonAnsiCast(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .select(
        col("event_id"),
        col("event_type").cast("double").as("bad_double"),
        regexp_extract(col("props"), "\\{\"k\": (\\d+)\\}", 1).cast("long")
          .as("k_val"),
        when(col("event_type") === "error", lit("nan")).otherwise(lit("1.5"))
          .cast("double").as("nan_or_num"))
      .orderBy("event_id")

  /** E7: chained arithmetic (exact IEEE, no rounding). */
  def e7Arithmetic(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("charge"))
      .orderBy("l_orderkey", "l_linenumber")

  /** E8: boolean && and !. */
  def e8Boolean(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .filter(col("l_quantity") >= 10 && !(col("l_returnflag") === "A"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  // ------------------------------------------------------------- generators

  /** G1: explode over a split array — Generate(Explode). */
  def g1Explode(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .withColumn("word", explode(split(col("p_name"), " ")))
      .select("p_partkey", "word")
      .orderBy("p_partkey", "word")

  // -------------------------------------------------- windows (engine-level)

  /** W1: per-group top-k via row_number window — the scale-safe alternative
    * to a global sort (only k rows survive per partition key).
    */
  def w1RowNumberTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(spark, sfDir, "orders")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rank")
  }

  /** Deterministic hash-Bernoulli sample: keep a row iff an md5-prefix
    * hash of its key falls in the lowest `pct` buckets of 100. Unlike
    * `df.sample()` (seeded RNG, engine- and partitioning-dependent), the
    * membership is a pure function of the data, so the sample is
    * reproducible across runs, engines, partition layouts, and re-crawls —
    * the only sampling shape that belongs in a 100 TB pipeline with an
    * auditable lineage. (md5-based so the DuckDB oracle replays it; see
    * CorpusPrep.trainValSplit for the same idiom.)
    */
  def sampleHash(spark: SparkSession, sfDir: String, pct: Int = 5): DataFrame =
    t(spark, sfDir, "orders")
      .filter(
        (conv(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100) < pct)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** Exact per-column statistics profile (the ANALYZE-style stats the
    * metadata-driven sizing in SCALING.md consumes): row count, null
    * count, min/max, exact distinct count for a few representative
    * columns. The approximate twin is `sketchProfile` (HLL/quantiles) —
    * this is the exact, oracle-able form a catalog would persist.
    */
  def statsProfile(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("price_nulls"),
        min("o_totalprice").as("price_min"),
        max("o_totalprice").as("price_max"),
        countDistinct("o_custkey").as("custkey_ndv"),
        countDistinct("o_orderstatus").as("status_ndv"),
        min(col("o_orderdate").cast("date")).as("date_min"),
        max(col("o_orderdate").cast("date")).as("date_max"))

  /** W4: rank()-based per-key top-k with TIES KEPT — quantity is integral,
    * so each returnflag's top-2 quantities tie across hundreds of rows.
    * Rewritten to the tie-aware two-phase TopK operator (RankMode:
    * boundary ties stream through the partial phase un-pruned; the final
    * phase assigns gapped ranks) — plan-asserted in PlanAuditSpec.
    */
  def w4RankTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag").orderBy(desc("l_quantity"))
    t(spark, sfDir, "lineitem")
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 2)
      .select("l_returnflag", "l_quantity", "rnk", "l_orderkey", "l_linenumber")
      .orderBy("l_returnflag", "rnk", "l_orderkey", "l_linenumber")
  }

  /** W5: dense_rank()-based top-k — every row of the k smallest distinct
    * order values survives (unbounded rows per key), so the partial phase
    * tracks distinct VALUES, not rows, and streams qualifying rows through
    * (DenseRankMode in plans/TopKPerKey.scala).
    */
  def w5DenseRankTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("l_linestatus").orderBy(desc("l_quantity"))
    t(spark, sfDir, "lineitem")
      .withColumn("drnk", dense_rank().over(w))
      .filter(col("drnk") <= 2)
      .select("l_linestatus", "l_quantity", "drnk", "l_orderkey", "l_linenumber")
      .orderBy("l_linestatus", "drnk", "l_orderkey", "l_linenumber")
  }

  /** W2: running sum per user ordered by time — explicit ROWS frame with a
    * unique ordering key; the sum itself is exact via decimal.
    */
  def w2RunningSum(spark: SparkSession, sfDir: String): DataFrame = {
    // order at µs resolution (EventTime.tsUs): the oracle's DuckDB
    // timestamps are µs, so a finer-grained ordering could tie-break
    // same-µs events differently (sub-µs order vs event_id order) and
    // flip running sums
    val ev = t(spark, sfDir, "events")
    val w = Window.partitionBy("user_id")
      .orderBy(EventTime.tsUs(ev), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("running_value",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
      .select("user_id", "event_id", "running_value")
      .orderBy("user_id", "event_id")
  }

  /** W6: time-RANGE frame — trailing one-hour event count and value sum
    * per user, anchored on the event's own time. RANGE frames are the
    * semantic gap ROWS frames can't express (the window extends over a
    * VALUE interval of the ordering key, independent of row multiplicity)
    * and the staple of time-series analytics. The frame sum goes through
    * a decimal accumulator (exact, order-free — same-µs ties then cannot
    * flip low bits cross-engine); event times run at µs like every other
    * event query.
    */
  def w6RangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("tus"))
      .rangeBetween(-hourUs, Window.currentRow)
    val ev = t(spark, sfDir, "events")
    ev
      .withColumn("tus", EventTime.tsUs(ev))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h",
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
      .select("user_id", "event_id", "tus", "n_1h", "sum_1h")
      .orderBy("user_id", "event_id")
  }

  /** S5: error-TOLERANT ingestion — PERMISSIVE JSON with a
    * `_corrupt_record` column. Good rows parse; broken lines survive as
    * raw text in the corrupt column instead of failing the load — the
    * operational contract for feeds you don't control (FAILFAST /
    * DROPMALFORMED are the strict alternatives). A file with one good and
    * two broken lines is appended to a JSON dump of `customer`; the query
    * reports the good/corrupt split. The scan is localCheckpointed before
    * aggregating because Spark disallows queries that read ONLY the
    * internal corrupt column straight off the file scan.
    */
  def s5JsonCorruptPermissive(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = IO.scratchDir("graft_s5_json")
    t(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
      .write.mode("overwrite").json(dir)
    val pw = new java.io.PrintWriter(new java.io.File(dir, "zz_extra.json"))
    try {
      pw.println("""{"c_custkey": 999999, "c_name": "ok-extra", "c_acctbal": 1.0}""")
      pw.println("""{"c_custkey": broken""")
      pw.println("not json at all")
    } finally pw.close()
    spark.read
      .schema("c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .localCheckpoint()
      .agg(
        count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
        count(col("_corrupt_record")).as("n_corrupt"))
  }

  /** G2: null-preserving generator — `explode_outer` keeps a row (with a
    * null element) for empty arrays where `explode` silently drops it.
    * The empty stripe is synthesized deterministically so both behaviors
    * are exercised; losing rows on empty collections is the classic
    * silent-data-loss generator bug.
    */
  def g2ExplodeOuter(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select(col("p_partkey"),
        when(col("p_partkey") % 10 === 0,
          array().cast("array<string>"))
          .otherwise(split(col("p_name"), " ")).as("l"))
      .select(col("p_partkey"), explode_outer(col("l")).as("tok"))
      .orderBy("p_partkey", "tok")

  /** W7: first/last with IGNORE NULLS over a running frame — the gap-fill
    * shape (carry the last known reading forward past nulls). Nulls are
    * injected on a deterministic key stripe; the window picks existing
    * values (no arithmetic), so cross-engine equality is exact.
    */
  def w7FirstLastIgnoreNulls(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, sfDir, "orders")
      .withColumn("p",
        when(col("o_orderkey") % 3 =!= 0, col("o_totalprice")))
      .select(col("o_custkey"), col("o_orderkey"),
        first("p", ignoreNulls = true).over(w).as("first_nn"),
        last("p", ignoreNulls = true).over(w).as("last_nn"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Distribution-rank window surface: ntile quartiles, percent_rank,
    * cume_dist per customer over order dates — the family the TopKPerKey
    * rewrite deliberately leaves on the stock plan (each value depends
    * on the GROUP's total cardinality, so no row is provably prunable
    * before the shuffle — SCALING.md "TopKPerKey"). Ordering is made
    * tie-free with the unique order key, so the three rank functions are
    * pure integer-position arithmetic — engine-exact doubles.
    */
  def w8DistributionRanks(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** String-function surface: case mapping, trim, concat, substring,
    * length, replace, lpad — the everyday scalar layer.
    */
  def stringFuncs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("upper_name"),
        lower(col("p_brand")).as("lower_brand"),
        trim(concat(lit("  "), col("p_type"), lit(" "))).as("trimmed"),
        concat_ws("-", col("p_brand"), col("p_type")).as("joined"),
        substring(col("p_name"), 1, 4).as("head4"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded_key"))
      .orderBy("p_partkey")

  /** Date/time arithmetic surface: add/sub days, truncation, extraction,
    * day difference against a fixed anchor.
    */
  def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .withColumn("od", col("o_orderdate").cast("date"))
      .select(
        col("o_orderkey"),
        col("od"),
        date_add(col("od"), 30).as("plus30"),
        add_months(col("od"), -2).as("minus2m"),
        trunc(col("od"), "month").as("month_start"),
        year(col("od")).as("yr"),
        month(col("od")).as("mo"),
        dayofmonth(col("od")).as("dom"),
        datediff(col("od"), lit("2024-01-01").cast("date")).as("days_since"))
      .orderBy("o_orderkey")

  // ---------------------------------------------------------------- sketches

  /** Sketch aggregates — the single-pass, mergeable summaries a 100 TB
    * corpus profile runs instead of exact distinct/percentile (exact
    * distinct is a full shuffle of every distinct value; HLL++ and
    * t-digest-style summaries merge partial sketches of bounded size).
    * Approximate by construction → no byte-exact DuckDB oracle; accuracy
    * bounds are asserted in RelationalSketchSpec.
    */
  def sketchProfile(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_value"),
        percentile_approx(col("value"), lit(0.99), lit(10000)).as("p99_value"))
      .orderBy("event_type")

  /** MERGEABLE sketches — the re-aggregation pattern that makes
    * incremental 100 TB rollups possible: per-partition/per-day HLL
    * sketches are stored once, and any coarser rollup UNIONS the sketches
    * instead of rescanning raw data. HLL registers merge by max, so the
    * union of sketches over disjoint halves is BIT-IDENTICAL to the
    * sketch of the whole — the spec asserts exact estimate equality, not
    * an accuracy band. Emits per-event-type distinct-user estimates from
    * two half-corpus sketches merged with `hll_union_agg`.
    */
  def sketchMergeProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    val halves = ev.withColumn("half", col("event_id") % 2)
      .groupBy("event_type", "half")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    halves.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"))
      .orderBy("event_type")
  }

  /** Mergeability CERTIFICATE for the HLL family as a hashable frame: per
    * event type, whether the union of the two half-corpus sketches
    * ([[sketchMergeProfile]]) estimates exactly the same cardinality as a
    * single whole-corpus sketch. HLL union is lossless AT THE REGISTER
    * LEVEL (the unioned register array equals the directly-built one),
    * so the flag is deterministically TRUE and the DuckDB oracle pins it
    * as a literal — the hash match certifies build + merge + estimate
    * end to end, giving the approximate sketch rows an oracled
    * exactness anchor.
    *
    * The ESTIMATOR must match on both sides: a directly-built
    * DataSketches HLL answers with the HIP estimator, but a union
    * result is marked out-of-order and can only answer with the
    * composite estimator — the two coincide at gate-scale cardinality
    * and diverge at sf0.1 (found by this round's first full-registry
    * sf0.1 oracle pass; 5/5 rows flipped false). The direct side
    * therefore goes through a SELF-union, which forces the same
    * composite path over the identical registers — equality then
    * certifies register-level merge losslessness at any scale, which
    * is the property the row exists to pin.
    */
  def sketchMergeExact(spark: SparkSession, sfDir: String): DataFrame = {
    val direct = t(spark, sfDir, "events")
      .filter(col("event_type").isNotNull)
      .groupBy("event_type")
      .agg(expr(
        """hll_sketch_estimate(
             hll_union(hll_sketch_agg(user_id), hll_sketch_agg(user_id)))""")
        .as("direct_users"))
    sketchMergeProfile(spark, sfDir)
      .filter(col("event_type").isNotNull)
      .join(direct, "event_type")
      .select(col("event_type"),
        (col("approx_users") === col("direct_users")).as("merge_exact"))
      .orderBy("event_type")
  }

  /** SKETCH-SPACE SET ALGEBRA — audience-overlap estimation from STORED
    * sketches, the query a 100 TB funnel analysis answers without
    * rescanning raw events: per event-type pair, the distinct-user
    * intersection by inclusion-exclusion over HLL sketches,
    * |A∩B| ≈ est(A) + est(B) − est(A ⊔ B), where A ⊔ B is the lossless
    * pairwise register union (`hll_union`) of the two stored sketches.
    * Emits the two side estimates, the union estimate, the clamped
    * intersection estimate, and the implied Jaccard.
    *
    * Scale shape: ONE pass builds the |types|-row sketch table (the
    * mergeable-rollup artifact [[sketchMergeProfile]] already stores);
    * the pair join is |types|² over kilobyte blobs — broadcast, never
    * data-scale. Inclusion-exclusion amplifies relative error for small
    * intersections (estimate-by-nature → no DuckDB oracle); the exact
    * twin [[sketchIntersectExact]] is the oracled anchor and the spec
    * pins the accuracy band against it.
    */
  def sketchHllIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    val sk = t(spark, sfDir, "events")
      .filter(col("event_type").isNotNull)
      .groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .localCheckpoint() // both sides of the pair join read it
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        expr("hll_sketch_estimate(sk_a)").as("est_a"),
        expr("hll_sketch_estimate(sk_b)").as("est_b"),
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))").as("est_union"))
      .select(col("type_a"), col("type_b"),
        col("est_a"), col("est_b"), col("est_union"),
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersect"))
      .withColumn("est_jaccard",
        col("est_intersect").cast("double") / col("est_union").cast("double"))
      .orderBy("type_a", "type_b")
  }

  /** Exact twin of [[sketchHllIntersect]]: true distinct-user
    * intersection per event-type pair — the DuckDB-oracled anchor the
    * estimate row is adjudicated against. The (type, user) distinct
    * frame is |types|·|users| bounded; the pair join fans each user's
    * type set quadratically but |types| is a closed vocabulary, so the
    * blow-up is ≤ |types|² per user — the capped-basket bound.
    */
  def sketchIntersectExact(spark: SparkSession, sfDir: String): DataFrame = {
    val ut = t(spark, sfDir, "events")
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint() // both sides of the pair join read it
    val per = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    ut.select(col("event_type").as("type_a"), col("user_id"))
      .join(ut.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("exact_both"))
      .join(broadcast(per.select(col("event_type").as("type_a"),
        col("n").as("exact_a"))), "type_a")
      .join(broadcast(per.select(col("event_type").as("type_b"),
        col("n").as("exact_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("exact_a"), col("exact_b"),
        col("exact_both"),
        (col("exact_both").cast("double")
          / (col("exact_a") + col("exact_b") - col("exact_both")).cast("double"))
          .as("exact_jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** The event-type domain the pivot/sketch rows pin (the synthetic
    * events table's closed vocabulary).
    */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** COUNT-MIN frequency sketch — the mergeable FREQUENCY member of the
    * sketch family next to [[sketchMergeProfile]]'s HLL cardinality: two
    * half-corpus CMS sketches built distributed (`count_min_sketch` agg,
    * codegen'd), merged driver-side (sketches are bounded model
    * artifacts — eps 0.001 ⇒ 2000 counters/row regardless of corpus
    * size), then point-queried for the pinned event-type domain. At
    * 100 TB the per-day/per-partition sketches persist once and any
    * rollup merges them instead of rescanning raw events.
    *
    * Registered WITH the exact-count oracle: CMS only ever
    * OVER-estimates, and only on full-depth hash collisions — with a
    * 5-key domain in 2000-counter rows the collision probability is
    * ~1e-14 per key and the seed is pinned, so the estimate is exactly
    * the true count, deterministically, and the hash match certifies
    * build+merge+query end to end (a stronger contract than the HLL
    * rows, whose estimates are genuinely approximate).
    */
  def sketchCmsCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val halves = t(spark, sfDir, "events")
      .filter(col("event_type").isNotNull)
      .withColumn("half", col("event_id") % 2)
      .groupBy("half")
      .agg(expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("sk"))
      .collect()
    val merged = halves
      .map(r => org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("sk"))))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    EventTypes.map(tp => (tp, merged.estimateCount(tp)))
      .toDF("event_type", "est_count")
      .orderBy("event_type")
  }

  /** ITEM ASSOCIATION LIFT over per-user baskets — transactional
    * co-occurrence mining (the market-basket / co-click analytics
    * classic): for item pairs appearing together in ≥ minUsers baskets,
    *   lift(i,j) = (n_ij · U) / (n_i · n_j)
    * where a basket is a user's distinct item set (`props.$.k`), U is
    * the basket count, n_i the baskets containing i. Lift > 1 means
    * above-chance co-consumption — the complement to
    * [[graft.functions.TextAnalysis.pmiCollocations]] (adjacency in
    * text) and the label-prop communities (graph structure): same
    * question, transactional evidence.
    *
    * Scale shape: baskets are DETERMINISTICALLY CAPPED at `maxBasket`
    * items (lowest item ids kept — the standard market-basket guard:
    * one crawler "user" touching everything would otherwise contribute
    * |items|² pairs), so the per-user pair join is a co-partitioned
    * self-join emitting ≤ maxBasket²/2 rows per user — linear in users.
    * Item supports and the basket total are counted AFTER the cap, so
    * every statistic refers to the same capped universe (the cap is
    * part of the contract, replayed by the oracle, not a silent
    * approximation). The final top-N is TakeOrdered.
    *
    * Determinism: all counts exact longs; n_ij·U and n_i·n_j stay below
    * 2⁵³ at any realistic cardinality, so the single division is an
    * IEEE-exact-operand op — bit-identical cross-engine, no float wash
    * needed (no transcendental involved).
    */
  def itemAssociationLift(
      spark: SparkSession,
      sfDir: String,
      minUsers: Int = 5,
      maxBasket: Int = 64,
      topN: Int = 100): DataFrame = {
    val basket = t(spark, sfDir, "events")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
      // capped basket as ONE per-user aggregation: the lowest maxBasket
      // distinct item ids — the set distinct + row_number(orderBy item)
      // <= maxBasket keeps (Round20OptSpec pins it on an over-cap user) —
      // in one user_id exchange with map-side partials (guide §2), each
      // buffer bounded by the cap however many items one crawler touches.
      .groupBy("user_id")
      .agg(udaf(new SmallestDistinctAggregator(maxBasket), Encoders.scalaLong)(
        col("item")).as("items"))
      .select(col("user_id"), explode(col("items")).as("item"))
      // FOUR consumers below (item counts, user total, both pair sides) —
      // uncheckpointed, each re-paid the events scan + the distinct and
      // window exchanges (r19 before plan: 5 event scans). The basket is
      // the capped (user, item) frame — one materialization beats four
      // re-derivations at any scale (the minHashNearDupPairs rationale).
      .localCheckpoint()
    val ni = basket.groupBy("item").agg(count(lit(1)).as("n"))
    val total = basket.select("user_id").distinct()
      .agg(count(lit(1)).as("u"))
    val pairs = basket.select(col("user_id"), col("item").as("item_a"))
      .join(basket.select(col("user_id"), col("item").as("item_b")), "user_id")
      .where(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minUsers)
    pairs
      .join(ni.select(col("item").as("item_a"), col("n").as("na")), "item_a")
      .join(ni.select(col("item").as("item_b"), col("n").as("nb")), "item_b")
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        ((col("n_ab") * col("u")).cast("double")
          / (col("na") * col("nb")).cast("double")).as("lift"))
      .orderBy(desc("lift"), asc("item_a"), asc("item_b"))
      .limit(topN)
  }

  /** MISRA-GRIES heavy hitters over the document token stream — the
    * deterministic-output frequency member of the sketch family: the
    * EXACT set of tokens with count·k > N (every token holding more than
    * a 1/k share of the corpus's N token occurrences), computed without
    * ever shuffling the full vocabulary.
    *
    * Two passes (Misra & Gries 1982; the distributed soundness argument
    * is the mergeable-summaries one, Agarwal et al. PODS 2012):
    *
    *   1. CANDIDATES: each partition streams its tokens through a
    *      k-counter Misra-Gries summary (k counters regardless of local
    *      vocabulary — the decrement step evicts the long tail in
    *      place). A globally heavy token (freq > N/k = Σ Nᵢ/k) must be
    *      locally heavy (freqᵢ > Nᵢ/k) in at least one partition, and MG
    *      retains every locally heavy token, so the union of partition
    *      survivors is a guaranteed SUPERSET of the heavy hitters —
    *      ≤ k·partitions rows total, a bounded broadcastable artifact.
    *   2. EXACT COUNTS: one more scan counts ONLY candidate tokens
    *      (map-side filter against the broadcast candidate set), then
    *      the integer threshold freq·k > N cuts exactly.
    *
    * Scale shape: three corpus scans (N, candidates, candidate counts),
    * ZERO full-vocabulary shuffles — the exact-count exchange carries
    * ≤ k·partitions map-side-combined rows. A naive groupBy-all at
    * 100 TB shuffles the entire token→count table to answer a ~k-row
    * question. mapPartitions is the appropriate tool here (a streaming
    * summary algorithm with in-place eviction has no Catalyst
    * equivalent — the Multimodal byte-parsing adjudication).
    *
    * The MG sweep order varies with partitioning, but the OUTPUT is
    * partition-independent: candidates are a superset of the answer
    * under any split, and the final counts/threshold are exact integers
    * — so this sketch row hash-oracles against DuckDB's plain
    * GROUP BY/HAVING (the CMS-row contract, stronger than HLL's).
    */
  def sketchHeavyHitters(
      spark: SparkSession,
      sfDir: String,
      k: Int = 256): DataFrame = {
    import spark.implicits._
    val toks = t(spark, sfDir, "documents")
      .select(explode(graft.functions.TextAnalysis.wsTokens(col("text")))
        .as("token"))
    val n = toks.count()
    val candidates = misraGriesCandidates(toks.as[String], k).distinct()
    toks.join(broadcast(candidates), "token")
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .where(col("freq") * k > lit(n))
      .orderBy("token")
  }

  /** Per-partition Misra-Gries survivors of a token stream — the
    * candidate seam (spec-pinned superset property). At most k tokens
    * per input partition.
    */
  private[graft] def misraGriesCandidates(
      toks: org.apache.spark.sql.Dataset[String],
      k: Int): DataFrame = {
    import toks.sparkSession.implicits._
    toks.mapPartitions { it =>
      val counters = new java.util.HashMap[String, java.lang.Long](k * 2)
      it.foreach { tok =>
        val c = counters.get(tok)
        if (c != null) counters.put(tok, c.longValue + 1L)
        else if (counters.size < k) counters.put(tok, 1L)
        else {
          // full and unseen: decrement every counter, evict zeros —
          // the token itself is "absorbed" by the k decrements
          val itr = counters.entrySet().iterator()
          while (itr.hasNext) {
            val e = itr.next()
            if (e.getValue.longValue == 1L) itr.remove()
            else e.setValue(e.getValue.longValue - 1L)
          }
        }
      }
      scala.jdk.CollectionConverters.SetHasAsScala(counters.keySet()).asScala
        .toVector.iterator
    }.toDF("token")
  }

  /** DDSketch parameters (Masson et al., "DDSketch: a fast and
    * fully-mergeable quantile sketch with relative-error guarantees",
    * VLDB 2019): relative accuracy α pins γ = (1+α)/(1-α); a positive
    * value x lands in bucket ⌈ln(x)/ln(γ)⌉ and every bucket's
    * representative 2γ^i/(γ+1) is within α of any value in it. The
    * ln(γ) divisor is frozen through a FLOAT so both engines divide by
    * the bit-identical double (the unigram-LM convention); ln(x) gets
    * the same float wash, so bucket indices — integer ceilings of
    * identical doubles — are cross-engine exact, which is what lets a
    * sketch row be HASH-oracled (the HLL rows can't be).
    */
  private val DdAlpha = 0.01
  private[graft] val DdGamma = (1 + DdAlpha) / (1 - DdAlpha)
  private[graft] val DdLnGamma: Double = math.log(DdGamma).toFloat.toDouble

  /** DDSketch BUCKET TABLE per event type — the mergeable QUANTILE member
    * of the sketch family beside HLL cardinality and CMS frequency:
    * (event_type, sign, bucket, cnt) where sign splits negatives/zero/
    * positives and bucket is the γ-log index of |value|. Buckets merge by
    * ADDING counts (the spec asserts half-corpus sketches sum to the
    * whole — exactly, not approximately), so per-day bucket tables
    * persist once and any rollup is a re-aggregation, never a rescan.
    * Map-side: one codegen'd projection then a groupBy whose key space is
    * the bucket domain (~1.4k buckets per decade span at α=1%) — the
    * shuffle carries the sketch, not the data.
    */
  def sketchQuantileBuckets(spark: SparkSession, sfDir: String): DataFrame =
    quantileBucketsUnsorted(spark, sfDir)
      .orderBy("event_type", "sign", "bucket")

  private def quantileBucketsUnsorted(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(col("event_type"),
        when(col("value") > 0, 1).when(col("value") < 0, -1).otherwise(0)
          .as("sign"),
        when(col("value") === 0, lit(0L))
          .otherwise(ceil(log(abs(col("value"))).cast("float").cast("double")
            / lit(DdLnGamma)))
          .as("bucket"))
      .groupBy("event_type", "sign", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Quantile EXTRACTION from the DDSketch bucket table: per event type,
    * the p50 and p99 representatives. Rank r(q) = max(1, ⌈q·n⌉) walks the
    * buckets in value order (sign asc, then sign·bucket asc — negative
    * buckets enumerate large-|x| first, which IS ascending value); the
    * first bucket whose cumulative count reaches the rank answers, and
    * its representative sign·2γ^b/(γ+1) is float-cast (pow is the one
    * 1-ulp-risk op left). Every step is integer or bit-pinned double
    * arithmetic, so the row hash-matches the DuckDB replay — a stronger
    * contract than percentile_approx, whose internal summary is
    * implementation-defined.
    */
  def sketchQuantileValues(spark: SparkSession, sfDir: String): DataFrame = {
    val buckets = quantileBucketsUnsorted(spark, sfDir)
    val totals = buckets.groupBy("event_type").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("sign"), (col("sign") * col("bucket")).as("vo"))
    val cum = buckets.withColumn("cum", sum("cnt").over(w))
    val rep = when(col("sign") === 0, lit(0.0))
      .otherwise(col("sign") * (lit(2.0) * pow(lit(DdGamma), col("bucket"))
        / lit(DdGamma + 1.0)))
      .cast("float")
    cum
      .join(totals, "event_type")
      .select(col("event_type"), col("sign"), col("bucket"), col("cum"),
        rep.as("rep"),
        explode(array(lit(0.5), lit(0.99))).as("q"))
      .filter(col("cum") >= greatest(lit(1L),
        ceil(col("q") * col("n").cast("double")).cast("long")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type", "q")
          .orderBy(col("sign"), col("sign") * col("bucket"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("q"), col("rep").as("quantile_value"))
      .orderBy("event_type", "q")
  }

  // ------------------------------------------- set ops / multi-dim / joins 2

  /** Set ops: UNION ALL of two filtered scans. */
  def setUnionAll(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
    c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("id"))
      .unionAll(
        c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey").as("id")))
      .orderBy("id")
  }

  /** Set ops: INTERSECT (set semantics) — customers that both placed an
    * order and hold a positive balance.
    */
  def setIntersect(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders").select(col("o_custkey").as("id"))
      .intersect(t(spark, sfDir, "customer")
        .filter(col("c_acctbal") > 0).select(col("c_custkey").as("id")))
      .orderBy("id")

  /** Set ops: EXCEPT (set semantics) — customers with no orders. */
  def setExcept(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "customer").select(col("c_custkey").as("id"))
      .except(t(spark, sfDir, "orders").select(col("o_custkey").as("id")))
      .orderBy("id")

  /** ROLLUP over (status, priority): per-group, per-status subtotal, and
    * grand total rows.
    */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** CUBE over (returnflag, linestatus). */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Explicit GROUPING SETS: the two single-column marginals without the
    * grand total or the cross — the shape rollup/cube cannot express.
    */
  def groupingSetsAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Exact (non-approximate) percentiles — sort-based `percentile`, the
    * exact twin of sketchProfile's percentile_approx. Linear interpolation
    * over integral-valued doubles, so cross-engine deterministic.
    */
  def exactMedian(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"))
      .orderBy("l_returnflag")

  /** The SQL entry point: the same engine surface exposed as SQL text over
    * temp views — parsed by Spark's parser into the identical plans the
    * DataFrame queries build (the oracle runs the very same string).
    */
  val SqlViaViewText: String =
    """SELECT n_name, COUNT(*) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name"""

  def sqlViaView(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "orders").createOrReplaceTempView("orders")
    t(spark, sfDir, "customer").createOrReplaceTempView("customer")
    t(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(SqlViaViewText)
  }

  /** PIVOT: per-user event counts, one column per event type (explicit
    * value list — at scale never let pivot infer the distinct values).
    */
  def pivotAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("user_id")

  /** JSON extraction from the events props column. */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .orderBy("event_id")

  /** Left-semi join: customers having at least one order. */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
    c.join(t(spark, sfDir, "orders"),
        c("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join: customers with no orders. */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = t(spark, sfDir, "customer")
    c.join(t(spark, sfDir, "orders"),
        c("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Interval/range join, bucketed: attribute every event to the purchase
    * windows [purchase_ts, purchase_ts + 1h) of the same user it falls in.
    *
    * The naive expression is an equi-join on user_id with a residual range
    * predicate — on a skewed key that is one task grinding through
    * events×windows pairs per hot user. The scale shape grids time into
    * interval-width buckets: each window covers exactly 2 adjacent
    * hour-buckets (exploded), each event maps to 1, and the join becomes a
    * pure equi-join on (user_id, bucket) with the range check as a cheap
    * residual — candidate pairs are bounded by per-(user, hour)
    * co-occurrence, not per-user volume, and the pair set needs no dedup
    * (an event lives in exactly one bucket). RangeJoinSpec pins equality
    * with the naive form.
    */
  def rangeJoinBucketed(spark: SparkSession, sfDir: String): DataFrame =
    rangeJoinBucketedUnsorted(spark, sfDir).orderBy("event_id", "purchase_id")

  private def rangeJoinBucketedUnsorted(
      spark: SparkSession,
      sfDir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    // microseconds on both sides — the oracle's DuckDB TIMESTAMP is µs
    // (EventTime.tsUs handles both physical ts encodings)
    val raw = t(spark, sfDir, "events")
    val ev = raw
      .select(col("event_id"), col("user_id"), EventTime.tsUs(raw).as("tus"))
      .withColumn("bucket", expr(s"tus div $hourUs"))
    val win = raw
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("w_user"), col("event_id").as("purchase_id"),
        EventTime.tsUs(raw).as("w_start"))
      .withColumn("bucket",
        explode(array(expr(s"w_start div $hourUs"),
          expr(s"w_start div $hourUs") + 1)))
    ev.join(win,
        ev("bucket") === win("bucket") && ev("user_id") === win("w_user")
          && ev("tus") >= win("w_start") && ev("tus") < win("w_start") + hourUs
          && ev("event_id") =!= win("purchase_id"))
      .select(col("event_id"), col("purchase_id"),
        (col("tus") - col("w_start")).as("lag_us"))
  }

  /** J6b: the LEFT variant of [[rangeJoinBucketed]] — every purchase
    * window appears, null-padded when no event fell inside it. An OUTER
    * interval join cannot ride the bucket-grid equi-join directly (a
    * window exploded to two buckets would emit two null rows), so the
    * scale shape is inner-bucketed ∪ anti: the bucketed inner join does
    * the heavy work, and the null pad is an anti-join of the (small)
    * window table against the matched window ids — churn-sized, usually
    * broadcast.
    */
  def rangeJoinBucketedLeft(spark: SparkSession, sfDir: String): DataFrame = {
    val inner = rangeJoinBucketedUnsorted(spark, sfDir)
    val windows = t(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"))
    val unmatched = windows
      .join(inner.select("purchase_id"), Seq("purchase_id"), "left_anti")
      .select(col("purchase_id"),
        lit(null).cast("bigint").as("event_id"),
        lit(null).cast("bigint").as("lag_us"))
    inner.select("purchase_id", "event_id", "lag_us")
      .unionByName(unmatched)
      .orderBy("purchase_id", "event_id")
  }

  /** The naive form of [[rangeJoinBucketed]] — equi on user + residual
    * range. Kept un-registered as the spec's ground truth.
    */
  def rangeJoinNaive(spark: SparkSession, sfDir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val raw = t(spark, sfDir, "events")
    val ev = raw
      .select(col("event_id"), col("user_id"), EventTime.tsUs(raw).as("tus"))
    val win = raw
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("w_user"), col("event_id").as("purchase_id"),
        EventTime.tsUs(raw).as("w_start"))
    ev.join(win,
        ev("user_id") === win("w_user")
          && ev("tus") >= win("w_start") && ev("tus") < win("w_start") + hourUs
          && ev("event_id") =!= win("purchase_id"))
      .select(col("event_id"), col("purchase_id"),
        (col("tus") - col("w_start")).as("lag_us"))
      .orderBy("event_id", "purchase_id")
  }

  /** As-of lookup: for every event, the most recent at-or-before purchase
    * timestamp of the same user. Expressed as a running last-non-null over
    * the per-user time order — the scale-friendly as-of shape (one shuffle
    * on the key, no range-condition join explosion). DuckDB's native
    * ASOF JOIN gives the same semantics for the oracle.
    */
  def asofLastPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    // µs-resolution ordering for cross-engine ties — see w2RunningSum
    val ev = t(spark, sfDir, "events")
    val w = Window.partitionBy("user_id")
      .orderBy(EventTime.tsUs(ev), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      // microseconds on both sides — the oracle's DuckDB TIMESTAMP is µs
      .withColumn("purchase_us",
        when(col("event_type") === "purchase", EventTime.tsUs(ev)))
      .withColumn("last_purchase_us",
        last("purchase_us", ignoreNulls = true).over(w))
      .select("event_id", "user_id", "last_purchase_us")
      .orderBy("event_id")
  }

  /** W3: the analytic-window family — lag/lead offsets, rank/dense_rank
    * (gap vs no-gap ties), ntile bucketing — one window definition, one
    * shuffle on the partition key.
    */
  def w3AnalyticWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(spark, sfDir, "orders")
      .withColumn("prev_price", lag("o_totalprice", 1).over(w))
      .withColumn("next_price", lead("o_totalprice", 1).over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .select("o_custkey", "o_orderkey", "prev_price", "next_price",
        "rnk", "drnk", "quartile")
      .orderBy("o_custkey", "o_orderkey")
  }

  // -------------------------------------------------------------- headliners

  /** Salted two-phase aggregation — the skew pattern: a hot grouping key
    * (only 5 event_type values under 32+ cores) first aggregates on
    * (key, salt) so every core gets work, then merges the partials. Same
    * result as a direct groupBy, ~salt× the parallelism on the hot key.
    * At 100 TB this is the difference between one straggler task owning a
    * monster key and the cluster finishing together (AQE skew handling
    * covers joins; aggregation skew needs this shape).
    */
  def skewSaltedAgg(spark: SparkSession, sfDir: String, salt: Int = 16): DataFrame =
    t(spark, sfDir, "events")
      .withColumn("salt", pmod(col("event_id"), lit(salt)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("c"),
        sum(col("value").cast(DecimalType(18, 2))).as("s"))
      .groupBy("event_type")
      .agg(sum("c").as("cnt"), sum("s").cast("double").as("sum_value"))
      .orderBy("event_type")

  /** E11: the higher-order array-function family — transform / filter /
    * aggregate / sort over a split column, reduced to scalars (HOFs are
    * also the engine's vector-math substrate; this query pins their
    * standalone semantics against the oracle).
    */
  def e11ArrayHofs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .withColumn("words", split(col("p_name"), " "))
      .select(
        col("p_partkey"),
        size(col("words")).as("n_words"),
        array_max(transform(col("words"), w => length(w))).as("longest_word"),
        aggregate(col("words"), lit(0), (acc, w) => acc + length(w)).as("total_chars"),
        array_join(sort_array(col("words")), "|").as("sorted_words"),
        size(filter(col("words"), w => length(w) >= 5)).as("n_long_words"))
      .orderBy("p_partkey")

  /** Salted shuffle join — the join-side skew pattern: replicate each dim
    * row `salt` times (one per salt value), salt the fact side by a
    * row-local key, and equi-join on (key, salt) so a hot join key's rows
    * spread over `salt` tasks instead of one straggler. The shuffle-hash
    * hint keeps the demo honest (the 5-row dim would otherwise broadcast
    * and no shuffle would exist to salt); in production this shape applies
    * when the dim is too big to broadcast AND the fact key is skewed —
    * AQE's skew handling covers sort-merge splits, salting covers the
    * cases AQE can't re-split (e.g. a single monster key).
    */
  def skewSaltedJoin(spark: SparkSession, sfDir: String, salt: Int = 8): DataFrame = {
    val dim = t(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("type_cnt"))
    val dimSalted = dim
      .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
      .hint("shuffle_hash")
    t(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"))
      .withColumn("salt", pmod(col("event_id"), lit(salt)).cast("int"))
      .join(dimSalted, Seq("event_type", "salt"))
      .select("event_id", "event_type", "type_cnt")
      .orderBy("event_id")
  }

  /** Minute-bucket windowed aggregation over the event stream's batch view
    * — the batch twin of [[graft.streaming.EventStream.windowedTypeCounts]]
    * (event-time arithmetic at µs via EventTime.tsUs).
    */
  def windowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    ev
      .withColumn("tus", EventTime.tsUs(ev))
      .withColumn("window_start",
        expr("timestamp_micros((tus div 60000000) * 60000000)"))
      .groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .orderBy("window_start", "event_type")
  }

  /** Built-in gap session windows (session_window) over the events batch
    * view — the declarative sibling of the explicit
    * [[graft.streaming.EventStream.sessionizeBatch]] lag/sum formulation;
    * in streaming mode the same expression maintains merging session state.
    */
  def sessionWindowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = t(spark, sfDir, "events")
    ev
      .withColumn("tss", EventTime.tsStamp(ev))
      .groupBy(col("user_id"), session_window(col("tss"), "30 minutes"))
      .agg(count(lit(1)).as("events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("events"))
      .orderBy("user_id", "session_start")
  }

  /** TPC-H Q1-shaped scan+agg — the bench headline (BASELINE.md). One scan,
    * partial agg, single hash exchange on a 6-value grouping key.
    */
  def q1PricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // quantities are integral: an exact long sum beats decimal both in
        // speed (codegen'd long adds) and determinism; the money/rate sums
        // use the fixed-point long form of the decimal sum (fsum) for the
        // same exactness at codegen'd speed
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        fsum(col("l_extendedprice")).as("sum_base_price"),
        (fsum(col("l_discount"), 4) / count(lit(1))).as("avg_disc"),
        max("l_quantity").as("max_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Fact⋈fact join + agg — the second bench headline. Shuffles both sides
    * on orderkey unless AQE broadcasts the filtered orders side.
    */
  def qJoinAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), fsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")

  /** Star join through region→nation→customer→orders→lineitem (TPC-H
    * Q5-shaped). Dimension chain broadcasts; only the two fact tables
    * shuffle. Exercises multi-join reordering + AQE.
    */
  def qStarJoin(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, sfDir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, sfDir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("cnt"), fsum(col("l_extendedprice")).as("revenue"))
      .orderBy("r_name", "n_name")
}
