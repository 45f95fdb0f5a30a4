package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Standardizers
import graft.sources.IO

/** The reference's five-query capability surface (SURVEY.md §0), re-expressed
  * as composable DataFrame transforms. Semantics are pinned to the committed
  * golden artifacts in /root/reference/src/main/resources/ (SURVEY.md §5);
  * citations below are into
  * /root/reference/src/main/scala/tiago/cebola/challenge.scala.
  *
  * Scale notes (100 TB posture):
  *   - [[bestApps]] keeps the reference's global sort for parity; at scale
  *     prefer `sortWithinPartitions` + a top-k, since a global orderBy is a
  *     full range-partitioning shuffle whose sampling pass reads everything.
  *   - [[standardizePerApp]]'s collect_list is bounded here (an app appears
  *     at most ~10 times); never reuse this shape for unbounded groups.
  *   - [[joinSentiment]] relies on auto-broadcast for the small sentiment
  *     side; when the right side outgrows the broadcast threshold Spark
  *     falls back to a shuffled sort-merge join on App — correct either way.
  */
object PlayStore {

  /** Part 1 (challenge.scala:80-88): per-app average sentiment polarity from
    * the user-reviews table, with null/NaN averages zero-filled.
    *
    * The reviews table's numeric columns arrive as strings whose missing
    * marker is the literal 'nan'; `avg` implicit-casts and a single NaN
    * review poisons its app's whole average (SURVEY.md §2.9.2) — then
    * na.fill(0) maps both NaN and null (no parseable reviews at all) to 0.0.
    * That poisoning is the shipped reference semantics; do not null-skip.
    */
  def averageSentimentByApp(reviews: DataFrame): DataFrame =
    reviews
      .groupBy("App")
      .agg(avg("Sentiment_Polarity").cast("double").as("Average_Sentiment_Polarity"))
      .na.fill(0)
      .select("App", "Average_Sentiment_Polarity")

  /** Part 2 (challenge.scala:100-113): apps with Rating >= 4.0 sorted
    * descending, written as `§`-delimited CSV, then re-read with fresh
    * inference.
    *
    * CRITICAL parity detail: `Rating` is still a STRING column here (CSV
    * inference is poisoned by quote-mangled rows), so `>= 4.0` is a non-ANSI
    * string→double coercion and the sort is LEXICOGRAPHIC on the string —
    * the committed best_apps.csv runs "5.0".."4.0" with the malformed
    * Rating="19" row last. Do not cast before sorting.
    */
  def bestApps(spark: SparkSession, store: DataFrame, outDir: String): DataFrame = {
    val filtered = store
      .filter(col("Rating").isNotNull && !col("Rating").isNaN && col("Rating") >= 4.0)
      .orderBy(desc("Rating"))
    IO.csvRoundTrip(spark, filtered, outDir, IO.SectionDelimiter)
  }

  /** Part 3 (challenge.scala:139-168): standardize column types, then
    * collapse to one row per App: categories collected into an array,
    * max() across every other column (including max over DATE and over
    * ARRAY<STRING> — element-wise lexicographic).
    *
    * The trailing dropDuplicates is a semantic no-op (groupBy already
    * guarantees App uniqueness) kept for fidelity; Catalyst plans it as a
    * second aggregate that reuses the existing hash partitioning, so it
    * costs no extra shuffle.
    */
  def standardizePerApp(store: DataFrame): DataFrame =
    Standardizers
      .standardizeColumns(store)
      .groupBy("App")
      .agg(
        collect_list("Category").as("Categories"),
        max("Rating").as("Rating"),
        max("Reviews").as("Reviews"),
        max("Size").as("Size"),
        max("Installs").as("Installs"),
        max("Type").as("Type"),
        max("Price").as("Price"),
        max("Content Rating").as("Content_Rating"),
        max("Genres").as("Genres"),
        max("Last_Updated").as("Last_Updated"),
        max("Current Ver").as("Current_Version"),
        max("Android Ver").as("Minimum_Android_Version"))
      .dropDuplicates("App")
      .select(
        "App", "Categories", "Rating", "Reviews", "Size", "Installs", "Type",
        "Price", "Content_Rating", "Genres", "Last_Updated",
        "Current_Version", "Minimum_Android_Version")

  /** Part 4 (challenge.scala:183-197): left-join the per-app sentiment onto
    * the standardized table, drop the duplicate join key from the right
    * side, round-trip through gzip parquet (which also materializes the
    * lineage — Part 5 reads files, not the Part-1..4 plan).
    */
  def joinSentiment(
      spark: SparkSession,
      perApp: DataFrame,
      sentiment: DataFrame,
      outDir: String): DataFrame = {
    val joined = perApp
      .join(sentiment, sentiment("App") === perApp("App"), "left")
      .drop(sentiment("App"))
    IO.parquetGzipRoundTrip(spark, joined, outDir)
  }

  /** Part 5 (challenge.scala:212-230): explode Genres; per-genre app count,
    * average rating, average sentiment; gzip parquet round-trip.
    * `avg` ignores the nulls the left join introduced — an all-unmatched
    * genre yields null sentiment, not 0.
    */
  def metricsByGenre(spark: SparkSession, cleaned: DataFrame, outDir: String): DataFrame = {
    val metrics = cleaned
      .withColumn("Genre", explode(col("Genres")))
      .groupBy("Genre")
      .agg(
        count("*").as("Count"),
        avg("Rating").as("Average_Rating"),
        avg("Average_Sentiment_Polarity").as("Average_Sentiment_Polarity"))
    IO.parquetGzipRoundTrip(spark, metrics, outDir)
  }

  // ---- parquet-shaped twins of Parts 1/2/5 ----
  //
  // The real pipelines read the reference's bundled CSV, which the driver's
  // DuckDB oracle cannot see — their byte-level parity is pinned by the
  // golden specs instead. These twins run the same operator compositions
  // over the sfDir parquet tables so the driver gets a hashable oracle row
  // per pipeline shape. Aggregated doubles go through exact DECIMAL sums on
  // both sides (cross-engine FP determinism); the NaN-poisoning path
  // (SURVEY.md §2.9.2) is exercised genuinely by na.fill(0).

  /** Part-1 twin: per-user "sentiment" average over events with the Part-1
    * null/NaN contract — 'view' rows carry no polarity (null, ignored by
    * the average), any 'error' row poisons its user's average to NaN, and
    * na.fill(0) maps both NaN and all-null users to 0.0.
    */
  def ps1TwinParquet(spark: SparkSession, sfDir: String): DataFrame =
    IO.table(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(
        (sum(when(col("event_type") =!= "view", col("value").cast("decimal(18,2)")))
          .cast("double")
          / count(when(col("event_type") =!= "view", col("value"))))
          .as("clean_avg"),
        max(when(col("event_type") === "error", lit(1)).otherwise(lit(0)))
          .as("has_err"))
      .select(col("user_id"),
        when(col("has_err") === 1, lit(Double.NaN)).otherwise(col("clean_avg"))
          .as("avg_polarity"))
      .na.fill(0)
      .orderBy("user_id")

  /** Part-2 twin: threshold filter + lexicographic sort on the stringified
    * measure + `§`-delimited CSV round-trip with fresh inference.
    */
  def ps2TwinParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val best = IO.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .filter(col("o_totalprice").isNotNull && !col("o_totalprice").isNaN
        && col("o_totalprice") >= 150000.0)
      .orderBy(desc("o_orderstatus"))
    IO.csvRoundTrip(spark, best, IO.scratchDir("graft_ps2t"), IO.SectionDelimiter)
  }

  /** Part-3 twin: the standardize-and-collapse shape over the orders table —
    * one row per key with collect_list plus max() across heterogeneous
    * column types (DOUBLE, DATE from a cast, STRING, and element-wise
    * lexicographic max over ARRAY<STRING>), with Part 3's trailing no-op
    * dropDuplicates kept for shape fidelity.
    */
  def ps3TwinParquet(spark: SparkSession, sfDir: String): DataFrame =
    IO.table(spark, sfDir, "orders")
      .groupBy("o_custkey")
      .agg(
        collect_list("o_orderpriority").as("priorities"),
        max("o_totalprice").as("max_price"),
        max(col("o_orderdate").cast("date")).as("max_date"),
        max("o_orderstatus").as("max_status"),
        max(split(col("o_orderpriority"), "-")).as("max_prio_parts"))
      .dropDuplicates("o_custkey")
      .orderBy("o_custkey")

  /** Part-4 twin: left-join a small per-user aggregate onto the per-key
    * standardized frame, drop the duplicate join key from the right side,
    * and materialize through a gzip parquet round-trip — the Part-4
    * composition (join + drop(parentRef) + write-then-reread barrier) over
    * driver-visible tables. Only ~10% of keys match, so the join's
    * null-introducing left semantics are genuinely exercised.
    */
  def ps4TwinParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val perKey = ps3TwinParquet(spark, sfDir)
    val sentiment = ps1TwinParquet(spark, sfDir)
    val joined = perKey
      .join(sentiment, sentiment("user_id") === perKey("o_custkey"), "left")
      .drop(sentiment("user_id"))
    IO.parquetGzipRoundTrip(spark, joined, IO.scratchDir("graft_ps4t"))
      .orderBy("o_custkey")
  }

  /** Part-5 twin: explode a split column, per-key count + exact-decimal
    * average, gzip parquet round-trip.
    */
  def ps5TwinParquet(spark: SparkSession, sfDir: String): DataFrame = {
    val metrics = IO.table(spark, sfDir, "part")
      .withColumn("word", explode(split(col("p_name"), " ")))
      .groupBy("word")
      .agg(
        count("*").as("cnt"),
        (sum(col("p_retailprice").cast("decimal(18,2)")).cast("double")
          / count(col("p_retailprice"))).as("avg_price"))
    IO.parquetGzipRoundTrip(spark, metrics, IO.scratchDir("graft_ps5t"))
      .orderBy("word")
  }

  // ---- wiring against the reference's bundled inputs ----

  /** The read-only reference checkout's resources (input CSVs, golden outputs). */
  val ReferenceResources = "/root/reference/src/main/resources"

  /** Bundled Play-Store CSV. */
  val StoreCsvPath = s"$ReferenceResources/originals/googleplaystore.csv"

  /** The reviews CSV is a stripped blob in the reference checkout
    * (.MISSING_LARGE_BLOBS); tests and registered queries use the
    * synthesized fixture with the same schema + 'nan' marker convention
    * (FIXTURES.md §1.2).
    */
  val ReviewsFixturePath = "/root/repo/src/test/resources/user_reviews_fixture.csv"

  def readStore(spark: SparkSession): DataFrame =
    IO.readCsv(spark, StoreCsvPath)

  def readReviews(spark: SparkSession): DataFrame =
    IO.readCsv(spark, ReviewsFixturePath)
}
