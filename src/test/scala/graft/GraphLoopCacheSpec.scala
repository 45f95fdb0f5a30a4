package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.LinkGraph

/** Past the broadcast ceiling the graph propagation loops pin their edge
  * layouts in the session-shared cache; a run, failed or not, must leave
  * that cache as it found it. Each test first clears the cache (only
  * earlier specs' own `.cache()` frames live there), so `isEmpty` after
  * the run is a real check.
  */
class GraphLoopCacheSpec extends SparkTestBase {

  private def cacheManager = spark.sharedState.cacheManager

  test("a join-loop body that throws releases every layout it pinned") {
    spark.catalog.clearCache()
    val edges = spark.range(0, 100).selectExpr("id % 7 as src", "id as dst")
    var pinned = Seq.empty[DataFrame]
    val err = intercept[IllegalStateException] {
      LinkGraph.Pull.over(nCount = 1L, broadcastCeiling = 0L) { pull =>
        pinned = pull.layout(edges, "src", "dst")
        assert(!cacheManager.isEmpty, "the join loop pins its layouts in the cache")
        throw new IllegalStateException("round failed")
      }
    }
    assert(err.getMessage == "round failed")
    assert(pinned.size == 2 && pinned.forall(_.storageLevel == StorageLevel.NONE))
    assert(cacheManager.isEmpty)
  }

  test("each forced join-loop row leaves the session cache as it found it") {
    spark.catalog.clearCache()
    for (row <- Seq("graph_pagerank_joinloop", "graph_hits_joinloop",
        "graph_ppr_joinloop", "graph_label_prop_joinloop")) {
      assert(SparkEntry.queries(row)(spark, Sf).collect().nonEmpty)
      assert(cacheManager.isEmpty, s"$row left a cached layout behind")
    }
  }
}
