package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.obs.RunRecord
import graft.operators.LinkGraph

/** The per-run record: a capture holds exactly the notes its own run
  * wrote, whatever ran before it or beside it, and a degraded path lands
  * in the record instead of on stderr.
  */
class RunRecordSpec extends SparkTestBase {

  import spark.implicits._

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, Sf).write.format("noop").mode("overwrite").save()

  private def sccKeys(notes: Map[String, Long]) = notes.keySet.filter(_.startsWith("scc."))

  test("a capture taken after a graph_scc capture holds none of its notes") {
    val (_, scc) = RunRecord.capture(run("graph_scc"))
    assert(sccKeys(scc) == Set(RunRecord.SccSweeps, RunRecord.SccActions, RunRecord.SccUnresolved))
    assert(scc(RunRecord.SccUnresolved) == 0L)
    val (_, q1) = RunRecord.capture(run("q1_pricing_summary"))
    assert(q1.isEmpty, s"q1 inherited notes: $q1")
  }

  test("two loop rows captured concurrently on one session keep their own notes") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val start = new java.util.concurrent.CountDownLatch(2)
    def captured(name: String) = Future {
      start.countDown()
      start.await()
      RunRecord.capture(run(name))._2
    }
    // LoopWidth scopes its overrides on the session, assuming one query
    // at a time; two interleaved scopes can restore each other's values,
    // so put the conf back for the specs that follow
    val conf = spark.conf.getAll
    val (scc, cc) =
      try Await.result(
        captured("graph_scc").zip(captured("dedup_winnow_components")), 10.minutes)
      finally {
        spark.conf.getAll.keySet.diff(conf.keySet).foreach(spark.conf.unset)
        conf.foreach { case (k, v) => if (spark.conf.getOption(k) != Some(v)) spark.conf.set(k, v) }
      }
    assert(sccKeys(scc).nonEmpty && !scc.keySet.exists(_.startsWith("cluster.")),
      s"graph_scc record: $scc")
    assert(cc.contains(RunRecord.ClusterRounds) && sccKeys(cc).isEmpty &&
      !cc.contains(RunRecord.GraphLoopNs), s"dedup_winnow_components record: $cc")
  }

  test("a starved non-strict sccOver notes its remainder instead of printing it") {
    // two chained cycles need two sweeps; one sweep leaves both open
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 4L)
      .toDF("src", "dst")
    val nodes = (1L to 6L).toDF("node")
    def starved(): Long = LinkGraph.sccOver(edges, nodes, maxSweeps = 1, strict = false).count()
    def stderrOf[A](body: => A): (A, String) = {
      val buf = new ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new PrintStream(buf, true))
      try (body, buf.toString) finally System.setErr(saved)
    }
    val ((n, notes), inside) = stderrOf(RunRecord.capture(starved()))
    assert(n == 6)
    assert(notes(RunRecord.SccUnresolved) > 0, s"record: $notes")
    assert(!inside.contains("sccOver"), s"stderr inside a capture: $inside")
    // outside any capture the same path still reaches stderr
    val (_, outside) = stderrOf(starved())
    assert(outside.contains("sccOver"), "the degraded path must stay visible without a record")
  }
}
