package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils

import graft.operators.LinkGraph

/** The stored click graph primes itself on first use, before any
  * consumer sizes its loop from the graph's parquet footers.
  */
class StoredGraphSpec extends SparkTestBase {

  test("graph_scc on a cold artifact store primes the graph and matches the warm run") {
    // a fresh copy in its own directory: the artifact key covers the
    // directory, so no earlier suite can have primed this graph or
    // memoized its footer row count
    val cold: Path = Files.createTempDirectory("graft_cold_sf")
    FileUtils.copyDirectory(new java.io.File(Sf), cold.toFile)
    val artifact = LinkGraph.transitionGraph(cold.toString).root(spark)
    try {
      assert(!Files.exists(java.nio.file.Paths.get(artifact)))
      val coldRows = SparkEntry.queries("graph_scc")(spark, cold.toString).collect()
      val warmRows = SparkEntry.queries("graph_scc")(spark, Sf).collect()
      assert(coldRows.nonEmpty)
      assert(coldRows.toSeq == warmRows.toSeq)
    } finally {
      FileUtils.deleteQuietly(new java.io.File(artifact))
      FileUtils.deleteQuietly(cold.toFile)
    }
  }
}
