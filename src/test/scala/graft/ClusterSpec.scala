package graft

import org.apache.spark.sql.functions._

import graft.functions.HashFamily
import graft.obs.RunRecord
import graft.operators.{Cluster, Dedup}

/** Behavior specs for near-dup clustering (star-contraction connected
  * components) over synthetic graphs and the sf0.001 documents table.
  */
class ClusterSpec extends SparkTestBase {

  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Cluster.connectedComponents(edges.toDF("s", "t"), "s", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find ground truth for small graphs. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize every root to the component MIN (union by min already does)
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connected components: two components plus min-label roots") {
    val edges = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (10L, 11L), (11L, 10L))
    val got = components(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: path graph converges logarithmically") {
    // a 1024-node path is the adversarial case for label propagation
    // (diameter 1023); star contraction must close it in O(log^2 n) rounds
    val edges = (0L until 1023L).map(i => (i, i + 1))
    val (comp, rounds) = Cluster.componentsWithRounds(
      edges.toDF("s", "t"), "s", "t")
    assert(rounds <= 12, s"path graph took $rounds rounds")
    val rows = comp.collect()
    assert(rows.length == 1024)
    assert(rows.forall(_.getLong(1) == 0L), "single component rooted at 0")
  }

  test("connected components: multi-parent smallStar output is not accepted as converged") {
    // Regression: edges (1,5),(2,6),(5,6) smallStar-contract to
    // {(5,1),(5,2),(6,2)} — node 5 has TWO parents, but no parent is a
    // child, so a star-forest test that only checks parent-as-child
    // declares convergence one round early and splits the single true
    // component {1,2,5,6} into {1,5} and {2,6}.
    val edges = Seq[(Long, Long)]((1L, 5L), (2L, 6L), (5L, 6L))
    val got = components(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L),
      s"component split: $got")
  }

  test("connected components: adversarial small random graphs match union-find") {
    // Many sparse graphs across seeds — sparse graphs (edges ≈ nodes/2)
    // are where premature-convergence shapes like the regression above
    // live; the single-seed 300-node spec below missed it.
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val edges = Seq.fill(14)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(components(edges) == unionFind(edges), s"seed $seed mismatch")
    }
  }

  test("connected components: structured adversaries match union-find") {
    // shapes chosen to stress the convergence test, not the contraction:
    // (a) two cliques joined by a single bridge — near-dup graphs are
    //     clique-ish and the bridge forces a late re-rooting;
    // (b) a star of stars — hubs whose minima disagree until the last
    //     round, the multi-parent shape of the regression above;
    // (c) a long path with a chord — high diameter plus a shortcut.
    val cliqueA = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val bridge = Seq((4L, 10L))
    val starOfStars = Seq((20L, 25L), (20L, 26L), (21L, 27L), (21L, 28L),
      (22L, 29L), (20L, 21L), (21L, 22L))
    val pathChord = (40L until 49L).map(i => (i, i + 1)) :+ (40L, 49L)
    for (edges <- Seq(cliqueA ++ cliqueB ++ bridge, starOfStars, pathChord,
      cliqueA ++ cliqueB ++ bridge ++ starOfStars ++ pathChord)) {
      assert(components(edges) == unionFind(edges), s"mismatch on $edges")
    }
  }

  test("connected components: random graph matches driver union-find") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    assert(components(edges) == unionFind(edges))
  }

  test("driverComponents matches connectedComponents on the same edge frames") {
    // the incremental serve path's below-ceiling closure must hand back
    // EXACTLY the distributed contract: one row per node in the edge
    // list, component = smallest id in the component
    val graphs = Seq(
      Seq[(Long, Long)]((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq[(Long, Long)]((1L, 5L), (2L, 6L), (5L, 6L)), // the regression graph
      (0L until 100L).map(i => (i, i + 1)).toSeq) ++
      (1 to 4).map { seed =>
        val rnd = new scala.util.Random(seed)
        Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
          .filter { case (a, b) => a != b }
      }
    graphs.foreach { edges =>
      val df = edges.toDF("doc_a", "doc_b")
      val drv = Cluster.driverComponents(spark, df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Cluster.connectedComponents(df, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(drv == dist, s"driver/distributed closure drift on $edges")
    }
  }

  test("incremental components serve below the ceiling via the driver path (telemetry)") {
    val (_, notes) = RunRecord.capture(Cluster.incrementalComponentsMd5(spark, Sf).write
      .format("noop").mode("overwrite").save())
    val rounds = notes.getOrElse(RunRecord.ClusterRounds,
      fail("incremental components must record closure telemetry"))
    assert(rounds == 0,
      s"sf0.001's batch-bounded graph must take the driver path, got $rounds rounds")
    assert(notes(RunRecord.ClusterEdges) > 0, "testdata must exercise at least one batch edge")
  }

  test("winnow components: star contraction converges within the clique-ish bound") {
    // the structural-convergence contract the bench cc telemetry tracks:
    // near-dup graphs are clique-ish, so the contraction (after the
    // small-star pre-shrink) must close in a couple of rounds — a jump
    // past this bound is a convergence regression, not data drift
    val (_, notes) = RunRecord.capture(Cluster.winnowComponentsMd5(spark, Sf).write
      .format("noop").mode("overwrite").save())
    val rounds = notes.getOrElse(RunRecord.ClusterRounds,
      fail("winnow components must record contraction telemetry"))
    assert(rounds <= 3, s"winnow component contraction took $rounds rounds")
  }

  test("near-dup components agree with the pair list (both endpoints co-labeled)") {
    val pairs = Dedup.simHashNearDupPairs(spark, Sf, HashFamily.Md5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "testdata plants near-duplicates")
    val comp = Cluster.nearDupComponentsMd5(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    // exactly the transitive closure, nothing coarser: component labeling
    // must equal union-find over the same pair list, and unpaired docs are
    // their own singleton
    val truth = unionFind(pairs)
    truth.foreach { case (id, root) => assert(comp(id) == root) }
    val docCount = spark.read.parquet(s"$Sf/documents.parquet").count()
    assert(comp.size == docCount, "every document gets a component row")
    comp.foreach { case (id, root) =>
      if (!truth.contains(id)) assert(root == id, s"singleton $id mislabeled")
    }
  }

  test("dedup decision: one keep per cluster, sizes partition the corpus") {
    val rows = Cluster.dedupDecisionMd5(spark, Sf).collect()
    val byComp = rows.groupBy(_.getLong(1))
    byComp.foreach { case (c, members) =>
      assert(members.count(_.getBoolean(3)) == 1, s"component $c keep count")
      val kept = members.find(_.getBoolean(3)).get
      assert(kept.getLong(0) == members.map(_.getLong(0)).min,
        s"component $c must keep the lowest doc_id")
      members.foreach(m => assert(m.getLong(2) == members.length.toLong))
    }
    assert(rows.length == byComp.values.map(_.length).sum)
  }

  test("stored component map: persists once, stored rows identical to on-the-fly") {
    val path = java.nio.file.Paths.get(Cluster.componentMap(Sf).root(spark))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path.toString, "_SUCCESS"))
    // cold: primes the artifact
    val cold = Cluster.dedupDecisionMd5Stored(spark, Sf).collect()
    assert(java.nio.file.Files.exists(path), "first use must persist the map")
    val live = Cluster.dedupDecisionMd5(spark, Sf).collect()
    assert(cold.map(_.toString).toSeq == live.map(_.toString).toSeq,
      "stored decision must be row-identical to the on-the-fly pipeline")
    // the split twin consumes the same artifact
    val storedSplit = operators.CorpusPrep.leakageSafeSplitStored(spark, Sf).collect()
    val liveSplit = operators.CorpusPrep.leakageSafeSplit(spark, Sf).collect()
    assert(storedSplit.map(_.toString).toSeq == liveSplit.map(_.toString).toSeq,
      "stored split must be row-identical to the on-the-fly pipeline")
  }

  test("keep-best decision: representative has the cluster-max quality score") {
    val rows = Cluster.dedupKeepBestMd5(spark, Sf).collect()
    val byComp = rows.groupBy(_.getLong(1))
    byComp.foreach { case (c, members) =>
      assert(members.count(_.getBoolean(3)) == 1, s"component $c keep count")
      val kept = members.find(_.getBoolean(3)).get
      val best = members.map(_.getDouble(2)).max
      assert(kept.getDouble(2) == best, s"component $c kept a non-best doc")
      // ties break on the lowest doc_id among the best-scoring docs
      val bestIds = members.filter(_.getDouble(2) == best).map(_.getLong(0))
      assert(kept.getLong(0) == bestIds.min)
    }
  }
}
