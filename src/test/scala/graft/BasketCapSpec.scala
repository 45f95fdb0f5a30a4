package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.functions.SmallestDistinctAggregator

/** The capped basket of `Relational.itemAssociationLift`: the lowest
  * `maxBasket` distinct items per user, with a buffer bounded by the cap
  * however skewed one user is.
  */
class BasketCapSpec extends SparkTestBase {

  private val Cap = 8

  /** One crawler user far above the cap: 20 000 draws, repeats included. */
  private val crawler: Seq[Long] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(20000)(rnd.nextInt(50000).toLong)
  }

  test("the buffer never holds more than the cap, through reduce and merge") {
    val agg = new SmallestDistinctAggregator(Cap)
    val want = crawler.distinct.sorted.take(Cap)
    def fold(xs: Seq[Long]) = xs.foldLeft(agg.zero) { (b, x) =>
      val next = agg.reduce(b, x)
      assert(next.items.length <= Cap, s"buffer grew to ${next.items.length}")
      next
    }
    assert(agg.finish(fold(crawler)).toSeq == want)
    val (l, r) = crawler.splitAt(7777)
    val merged = agg.merge(fold(l), fold(r))
    assert(merged.items.length <= Cap)
    assert(agg.finish(merged).toSeq == want)
    assert(agg.finish(agg.merge(agg.zero, fold(r))).toSeq == crawler.drop(7777).distinct.sorted.take(Cap))
  }

  test("a skewed user's basket equals the collect_set + slice form") {
    import spark.implicits._
    val rows = crawler.map(i => (0L, i)) ++
      (1L to 50L).flatMap(u => (0L until u % 12).map(i => (u, (i * 7919L + u) % 97)))
    val events = rows.toDF("user_id", "item").repartition(6)
    val got = events.groupBy("user_id")
      .agg(udaf(new SmallestDistinctAggregator(Cap), Encoders.scalaLong)(col("item")).as("items"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = events.groupBy("user_id")
      .agg(expr(s"slice(sort_array(collect_set(item)), 1, $Cap)").as("items"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
    assert(got(0L).size == Cap)
  }
}
