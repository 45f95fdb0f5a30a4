package graft.registry

import org.apache.spark.sql.functions.{col, sort_array}

import graft.operators.PlayStore
import graft.registry.BenchRole._
import graft.registry.Oracle.{NoOracle, Sql}
import graft.registry.Shared._
import graft.sources.IO

/** The reference's five Play-Store pipelines, which read the reference CSV, and their
  * parquet twins over the testdata tables, which the oracle can replay.
  */
object PlayStoreQueries {

  private val ReadsReferenceCsv = NoOracle(
    "reads the reference Play-Store CSV, which the DuckDB oracle cannot see; " +
      "PlayStoreGoldenSpec diffs it against the reference's golden outputs")

  val specs: Seq[QuerySpec] = Seq(
    // PlayStore reference-parity pipelines (read the reference's own CSV +
    // the synthesized reviews fixture; golden-diffed in ScalaTest)
    QuerySpec("ps_part1_sentiment", (s, _) =>
      PlayStore.averageSentimentByApp(PlayStore.readReviews(s))
        .orderBy("App"),
      ReadsReferenceCsv),
    QuerySpec("ps_part2_best_apps", (s, _) =>
      PlayStore.bestApps(s, PlayStore.readStore(s), IO.scratchDir("graft_ps2")),
      ReadsReferenceCsv, Headline),
    // Categories comes from collect_list (partition-order-dependent,
    // SURVEY.md §2.5-A3): sort before flattening so the registered output
    // is deterministic. The golden specs keep the raw array semantics.
    QuerySpec("ps_part3_standardize", (s, _) =>
      joinArrays(
        PlayStore.standardizePerApp(PlayStore.readStore(s))
          .withColumn("Categories", sort_array(col("Categories")))
          .orderBy("App"),
        "|", "Categories", "Genres"),
      ReadsReferenceCsv, Headline),
    QuerySpec("ps_part4_cleaned", (s, _) => {
      val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(s))
      val df3 = PlayStore.standardizePerApp(PlayStore.readStore(s))
      joinArrays(
        PlayStore.joinSentiment(s, df3, df1, IO.scratchDir("graft_ps4"))
          .withColumn("Categories", sort_array(col("Categories")))
          .orderBy("App"),
        "|", "Categories", "Genres")
    },
      ReadsReferenceCsv),
    QuerySpec("ps_part5_metrics", (s, _) => {
      val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(s))
      val df3 = PlayStore.standardizePerApp(PlayStore.readStore(s))
      val df4 = PlayStore.joinSentiment(s, df3, df1, IO.scratchDir("graft_ps4b"))
      PlayStore.metricsByGenre(s, df4, IO.scratchDir("graft_ps5"))
        .orderBy("Genre")
    },
      ReadsReferenceCsv, HeadlineOwnTiming),
    // parquet-shaped twins of the reference pipelines (the originals read
    // the reference CSV, invisible to the parquet oracle; golden specs pin
    // their byte-level parity, these rows give the driver a hashable check
    // of the same operator compositions)
    QuerySpec("ps1_twin_parquet", PlayStore.ps1TwinParquet _,
      Sql("""SELECT user_id,
                CASE WHEN MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1 THEN 0.0
                     ELSE COALESCE(
                       CAST(SUM(CASE WHEN event_type <> 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
                         / COUNT(CASE WHEN event_type <> 'view' THEN value END), 0.0)
                END AS avg_polarity
         FROM events GROUP BY user_id ORDER BY user_id""")),
    QuerySpec("ps2_twin_parquet", PlayStore.ps2TwinParquet _,
      Sql("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice >= 150000.0 ORDER BY o_orderkey")),
    QuerySpec("ps3_twin_parquet", (s, d) =>
      joinArrays(
        PlayStore.ps3TwinParquet(s, d)
          .withColumn("priorities", sort_array(col("priorities"))),
        "|", "priorities", "max_prio_parts"),
      Sql("""SELECT o_custkey,
                array_to_string(list_sort(list(o_orderpriority)), '|') AS priorities,
                MAX(o_totalprice) AS max_price,
                MAX(CAST(o_orderdate AS DATE)) AS max_date,
                MAX(o_orderstatus) AS max_status,
                array_to_string(MAX(string_split(o_orderpriority, '-')), '|') AS max_prio_parts
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),
    QuerySpec("ps4_twin_parquet", (s, d) =>
      joinArrays(
        PlayStore.ps4TwinParquet(s, d)
          .withColumn("priorities", sort_array(col("priorities"))),
        "|", "priorities", "max_prio_parts"),
      Sql("""WITH perc AS (
           SELECT o_custkey,
                  array_to_string(list_sort(list(o_orderpriority)), '|') AS priorities,
                  MAX(o_totalprice) AS max_price,
                  MAX(CAST(o_orderdate AS DATE)) AS max_date,
                  MAX(o_orderstatus) AS max_status,
                  array_to_string(MAX(string_split(o_orderpriority, '-')), '|') AS max_prio_parts
           FROM orders GROUP BY o_custkey),
         sent AS (
           SELECT user_id,
                  CASE WHEN MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1 THEN 0.0
                       ELSE COALESCE(
                         CAST(SUM(CASE WHEN event_type <> 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
                           / COUNT(CASE WHEN event_type <> 'view' THEN value END), 0.0)
                  END AS avg_polarity
           FROM events GROUP BY user_id)
         SELECT o_custkey, priorities, max_price, max_date, max_status, max_prio_parts, avg_polarity
         FROM perc LEFT JOIN sent ON sent.user_id = perc.o_custkey
         ORDER BY o_custkey""")),
    QuerySpec("ps5_twin_parquet", PlayStore.ps5TwinParquet _,
      Sql("""WITH w AS (SELECT unnest(string_split(p_name, ' ')) AS word, p_retailprice FROM part)
         SELECT word, COUNT(*) AS cnt,
                CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(p_retailprice) AS avg_price
         FROM w GROUP BY word ORDER BY word""")),
  )
}
