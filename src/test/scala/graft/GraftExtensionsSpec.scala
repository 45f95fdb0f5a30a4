package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Proves the config-only installation path: a SparkSession built with
  * `spark.sql.extensions=graft.GraftExtensions` (and NOTHING from
  * [[GraftSession]]) gets the SQL functions and the TopK rewrite.
  */
class GraftExtensionsSpec extends SparkTestBase {

  /** A fresh session (shared SparkContext) whose ONLY graft surface comes
    * from `new GraftExtensions` — GraftSession's `registerMissing` call
    * does not run. The `spark.sql.extensions=graft.GraftExtensions`
    * CONF-STRING route needs a fresh JVM (an existing SparkContext freezes
    * static conf, so it cannot be exercised inside the test JVM); the conf
    * route is just Spark instantiating this same zero-arg class, whose
    * contract the reflection test below pins.
    */
  private def withExtensionSession[A](f: SparkSession => A): A =
    withFreshSession(_.withExtensions(new GraftExtensions))(f)

  private def withFreshSession[A](
      configure: SparkSession.Builder => SparkSession.Builder)(f: SparkSession => A): A = {
    val original = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = configure(SparkSession.builder()).getOrCreate()
    try f(s2)
    finally {
      SparkSession.setActiveSession(original)
      SparkSession.setDefaultSession(original)
    }
  }

  test("the conf-string contract holds: public zero-arg constructor, Function1[SparkSessionExtensions, Unit]") {
    val ctor = classOf[GraftExtensions].getConstructor()
    val inst = ctor.newInstance()
    assert(inst.isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
  }

  test("a session built only from GraftExtensions exposes the SQL functions") {
    withExtensionSession { s2 =>
      assert(s2 ne spark, "must be a fresh session, not the suite's")
      val r = s2.sql(
        """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
                  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
                  simhash64(array(1L, 3L)) AS sh,
                  minhash_sig(array(5L, 9L), 4) AS mh,
                  sorted_intersect_count(array(1L, 3L, 7L), array(3L, 5L, 7L)) AS sic,
                  hilbert_xy2d(3L, 4L) AS hb,
                  sorted_contains(array(1L, 3L, 7L), 7L) AS sc,
                  sorted_contains(array(1L, 3L, 7L), 4L) AS sc_miss""").collect()(0)
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getDouble(1) == 11.0)
      assert(r.getInt(4) == 2)
      assert(r.getBoolean(6) && !r.getBoolean(7))
      assert(r.getLong(5) == spark.sql("SELECT hilbert_xy2d(3L, 4L)")
        .collect()(0).getLong(0))
      // values must agree with the session-registered versions
      val ref = spark.sql(
        "SELECT simhash64(array(1L, 3L)), minhash_sig(array(5L, 9L), 4)").collect()(0)
      assert(r.getLong(2) == ref.getLong(0))
      assert(r.getSeq[Long](3) == ref.getSeq[Long](1))
    }
  }

  test("config-installed session gets the TopK window rewrite") {
    withExtensionSession { s2 =>
      s2.read.parquet(s"$Sf/lineitem.parquet").createOrReplaceTempView("li")
      val df = s2.sql(
        """SELECT * FROM (
             SELECT l_orderkey, l_linenumber,
                    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
             FROM li) WHERE rn <= 2""")
      assert(df.queryExecution.executedPlan.toString.contains("TopKPartial"),
        "extension must inject the TopK rule + strategy")
      assert(df.count() > 0)
    }
  }

  test("registerMissing fills a foreign session and leaves an installed one alone") {
    def infos(s: SparkSession) = GraftExtensions.functions.map { case (name, _, _) =>
      s.sessionState.functionRegistry.lookupFunction(new FunctionIdentifier(name))
    }
    val before = infos(spark)
    assert(before.forall(_.isDefined), "GraftSession must install every function")
    GraftExtensions.registerMissing(spark)
    assert(before.zip(infos(spark)).forall { case (a, b) => a.get eq b.get },
      "a function the session already has must not be registered again")
    withFreshSession(identity) { foreign =>
      assert(infos(foreign).forall(_.isEmpty), "a plain session must start without them")
      GraftExtensions.registerMissing(foreign)
      assert(foreign.sql("SELECT sorted_contains(array(1L, 3L), 3L)").head().getBoolean(0))
      assert(infos(foreign).forall(_.isDefined))
    }
  }
}
