package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.operators.PlayStore
import graft.sources.IO

/** Golden-artifact parity: run the pipelines on the reference's own inputs
  * and diff against its committed outputs (SURVEY.md §5.1-5.2):
  *   best_apps.csv (7,367 rows, §-delimited, lexicographic Rating order),
  *   googleplaystore_cleaned.gz (9,660 rows), googleplaystore_metrics.gz
  *   (55 rows, incl. junk genres from the malformed/quote-mangled rows).
  */
class PlayStoreGoldenSpec extends SparkTestBase {

  private val Res = PlayStore.ReferenceResources

  /** Copy a committed parquet part file out of its directory so Hadoop does
    * not trip over the reference's stale .crc sidecars (SURVEY.md §5.2).
    */
  private def committedParquet(dir: String): String = {
    val part = Files.list(Paths.get(s"$Res/$dir")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail(s"no part file in $dir"))
    val tmp = Files.createTempDirectory("golden")
    val dest = tmp.resolve(part.getFileName)
    Files.copy(part, dest, StandardCopyOption.REPLACE_EXISTING)
    dest.toString
  }

  private lazy val bestAppsOut = {
    val dir = IO.scratchDir("golden_part2")
    PlayStore.bestApps(spark, PlayStore.readStore(spark), dir)
    dir
  }

  test("Part 2: best_apps matches the committed CSV byte-for-byte (data lines, in order)") {
    val committed = Files.list(Paths.get(s"$Res/best_apps.csv")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".csv")).get
    val goldenLines = Files.readAllLines(committed).asScala.toVector
    val ourParts = Files.list(Paths.get(bestAppsOut)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toVector
      .sortBy(_.getFileName.toString)
    // skip each part file's header; global order = part-file-name order
    val ourLines = ourParts.flatMap(p => Files.readAllLines(p).asScala.tail)
    assert(ourLines.size == goldenLines.size - 1, "row count (golden has 1 header)")
    assert(ourLines == goldenLines.tail, "data lines must match in ORDER " +
      "(lexicographic desc string sort is part of the contract)")
  }

  /** Canonical comparable form of a row: arrays sorted (collect_list order
    * is partition-dependent), dates/doubles via toString, null as "∅".
    */
  private def canon(r: Row, fields: Seq[String]): String =
    fields.map { f =>
      val i = r.fieldIndex(f)
      if (r.isNullAt(i)) "∅"
      else r.get(i) match {
        case s: collection.Seq[_] => s.map(String.valueOf).sorted.mkString("[", "|", "]")
        case v => String.valueOf(v)
      }
    }.mkString("")

  test("Part 3: standardized table matches committed googleplaystore_cleaned.gz") {
    val cols = Seq("App", "Categories", "Rating", "Reviews", "Size", "Installs",
      "Type", "Price", "Content_Rating", "Genres", "Last_Updated",
      "Current_Version", "Minimum_Android_Version")
    val golden = spark.read.parquet(committedParquet("googleplaystore_cleaned.gz"))
      .select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(r => canon(r, cols)).sorted
    val ours = PlayStore.standardizePerApp(PlayStore.readStore(spark))
      .collect().map(r => canon(r, cols)).sorted
    assert(ours.length == 9660 && golden.length == 9660)
    val diffs = ours.zip(golden).filter { case (a, b) => a != b }
    assert(diffs.isEmpty, s"${diffs.size} rows differ; first: ${diffs.headOption}")
  }

  test("Part 5: per-genre Count and Average_Rating match committed metrics") {
    // Average_Sentiment_Polarity depends on the (synthesized) reviews input,
    // so parity is on the columns the store CSV fully determines.
    val golden = spark.read.parquet(committedParquet("googleplaystore_metrics.gz"))
      .select("Genre", "Count", "Average_Rating")
      .collect().map(r => (r.getString(0), (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))))
      .toMap
    val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(spark))
    val df3 = PlayStore.standardizePerApp(PlayStore.readStore(spark))
    val df4 = PlayStore.joinSentiment(spark, df3, df1, IO.scratchDir("golden_p4"))
    val ours = PlayStore.metricsByGenre(spark, df4, IO.scratchDir("golden_p5"))
      .select("Genre", "Count", "Average_Rating")
      .collect().map(r => (r.getString(0), (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))))
      .toMap
    assert(ours.size == 55 && golden.size == 55)
    assert(ours.keySet == golden.keySet, "genre sets differ (junk genres " +
      "'February 11, 2018' and 'Free' must survive the permissive CSV parse)")
    golden.foreach { case (g, (cnt, avgR)) =>
      val (oCnt, oAvg) = ours(g)
      assert(oCnt == cnt, s"Count mismatch for genre $g")
      assert(oAvg == avgR || math.abs(oAvg - avgR) < 1e-9,
        s"Average_Rating mismatch for $g: $oAvg vs $avgR")
    }
  }

  test("Part 3 spot counts from SURVEY.md §5.2 / FIXTURES.md") {
    import org.apache.spark.sql.functions.{col, size}
    val df3 = PlayStore.standardizePerApp(PlayStore.readStore(spark))
    assert(df3.filter(col("Size").isNull).count() == 1541,
      "lowercase-k + 'Varies with device' sizes must all be null")
    assert(df3.filter(col("Rating") === 0.0).count() == 1465,
      "na.fill(0) scope must zero the NaN-derived ratings")
    assert(df3.filter(col("Price").isNull).count() == 3)
    assert(df3.filter(col("Price") > 0).count() == 756)
    assert(df3.filter(col("Last_Updated").isNull).count() == 3)
    assert(df3.filter(size(col("Categories")) > 1).count() == 798,
      "798 multi-category apps after the per-app collect_list")
  }

  test("Part 5 spot values from SURVEY.md §5.2") {
    val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(spark))
    val df3 = PlayStore.standardizePerApp(PlayStore.readStore(spark))
    val df4 = PlayStore.joinSentiment(spark, df3, df1, IO.scratchDir("golden_p4b"))
    val m = PlayStore.metricsByGenre(spark, df4, IO.scratchDir("golden_p5b"))
      .select("Genre", "Count")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("Education") == 678L)
    assert(m("Tools") == 829L)
    assert(m("February 11, 2018") == 1L, "malformed shifted row's junk genre")
    assert(m("Free") == 2L, "quote-mangled rows' junk genre")
  }

  test("Part 1: sentiment fixture semantics — NaN poisoning then zero-fill") {
    val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(spark))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(df1("Coloring book moana") == (0.5 + 0.25 - 0.25) / 3.0)
    assert(df1("Sketch - Draw & Paint") == 0.5)
    // one 'nan' review poisons the whole average -> na.fill(0) -> 0.0
    assert(df1("Paper flowers instructions") == 0.0)
    // all-nan -> avg NaN -> 0.0
    assert(df1("Pixel Draw - Number Art Coloring Book") == 0.0)
  }

  test("Part 4: left join keeps all 9,660 apps; unmatched get null sentiment") {
    val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(spark))
    val df3 = PlayStore.standardizePerApp(PlayStore.readStore(spark))
    val df4 = PlayStore.joinSentiment(spark, df3, df1, IO.scratchDir("golden_p4c"))
    assert(df4.count() == 9660)
    val unmatched = df4.filter(org.apache.spark.sql.functions.col("Average_Sentiment_Polarity").isNull).count()
    assert(unmatched == 9660 - 6, "6 fixture apps exist in the store CSV")
    assert(df4.columns.count(_ == "App") == 1, "duplicate join key must be dropped")
  }
}
