package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils

import graft.operators.{Dedup, Events}
import graft.sources.IO

/** A multi-part stored artifact missing one of its parts — a prime that
  * died after committing its first parts — is re-primed, never served
  * half-built.
  */
class PartialPrimeSpec extends SparkTestBase {

  /** Runs `query` on a fresh copy of the testdata in its own directory
    * (the artifact key covers the directory, so no earlier suite primed
    * it), deletes `part` of `artifact`, and checks a second run returns
    * the rows of the first.
    */
  private def survivesLostPart(query: String, artifact: String => IO.Artifact, part: String): Unit = {
    val copy: Path = Files.createTempDirectory("graft_partial_sf")
    FileUtils.copyDirectory(new java.io.File(Sf), copy.toFile)
    val root = artifact(copy.toString).root(spark)
    try {
      val first = SparkEntry.queries(query)(spark, copy.toString).collect()
      val lost = new java.io.File(root, part)
      assert(lost.isDirectory, s"the prime must have written $lost")
      FileUtils.deleteDirectory(lost)
      val second = SparkEntry.queries(query)(spark, copy.toString).collect()
      assert(first.nonEmpty)
      assert(second.toSeq == first.toSeq)
    } finally {
      FileUtils.deleteQuietly(new java.io.File(root))
      FileUtils.deleteQuietly(copy.toFile)
    }
  }

  test("events_retention_incremental re-primes a retention state that lost its cells part") {
    survivesLostPart("events_retention_incremental", Events.retentionBase, "cells")
  }

  test("dedup_jaccard_stored re-primes a prefix index that lost its toks part") {
    survivesLostPart("dedup_jaccard_stored", Dedup.jaccardIndex, "toks")
  }
}
