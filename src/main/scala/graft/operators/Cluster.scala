package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFamily, TextAnalysis}
import graft.obs.RunRecord
import graft.sources.IO

/** Near-duplicate CLUSTERING: the step after pair generation that near-dup
  * dedup actually needs. `Dedup.minHashNearDupPairs`/`simHashNearDupPairs`
  * emit similar (doc_a, doc_b) PAIRS, but similarity is not transitive —
  * A~B and B~C without A~C — so dropping "the second doc of every pair"
  * over-deletes (B dropped for A, C dropped for B even though C survives
  * A's cluster). The standard policy (used by the big public corpus
  * pipelines) is: connected components over the near-dup graph, then keep
  * ONE representative per component.
  *
  * Components are computed with the alternating large-star/small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC 2014 — a public MapReduce/Spark-folklore algorithm):
  * each round is two shuffle stages over the EDGE list only, and the edge
  * list monotonically contracts toward a star forest in O(log² n) rounds
  * (2-4 in practice on near-dup graphs, whose components are clique-ish).
  * This is the 100 TB shape:
  *
  *   - label-propagation converges in O(diameter) rounds — a chain of
  *     pairwise-similar docs (common: shingled boilerplate) makes that
  *     linear; star contraction is logarithmic regardless of shape;
  *   - per round only (long, long) edges shuffle — never text, never
  *     signatures; volume never exceeds the input pair count;
  *   - no driver-side graph: the driver sees two longs per round (the
  *     convergence signature), nothing else.
  *
  * Each round ends in a LAZY `localCheckpoint` materialized by the round's
  * star-forest check — checkpointing is mandatory for iterative
  * self-referential plans (the lineage doubles per round and would blow up
  * the planner long before data size matters; see SCALING.md
  * "Materialization & failure-recovery policy" for the recovery caveat and
  * the reliable-checkpoint production alternative), and fusing the
  * materialization into the check's job halves the loop's driver
  * roundtrips (one action per round, not two).
  */
object Cluster {

  /** Hard stop for the star-contraction loop. Convergence is
    * O(log² n) rounds with tiny constants (the round-trip spec pins a
    * 1024-node path graph under 12); 30 rounds covers n far beyond any
    * real corpus, so hitting the cap means a bug, and we fail loudly
    * rather than return a half-contracted forest.
    */
  private val MaxRounds = 30

  /** Connected components of the undirected graph given as an edge list.
    * Returns one (node, component) row per distinct node that appears in
    * `edges`; `component` is the smallest node id in the component —
    * deterministic, so downstream "keep the representative" policies are
    * reproducible run-to-run.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    componentsWithRounds(edges, srcCol, dstCol)._1

  /** [[connectedComponents]] plus the number of alternating rounds it took
    * to converge (test seam for the round-bound spec).
    */
  private[graft] def componentsWithRounds(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): (DataFrame, Int) = Materialize.loop {
    // Pre-shrink with one small-star pass before alternating: near-dup
    // graphs are clique-ish (measured at sf0.1: 178k edges over 2.7k
    // nodes), and small-star collapses that multiplicity to O(nodes) rows
    // immediately — every loop round then runs on the contracted set
    // instead of the raw pair list. smallStar orients and dedups
    // internally, so the raw selection needs no distinct of its own.
    // LAZY checkpoint (see Materialize.lazily), materialized by the
    // star-forest check that follows. Safe because starForestCheck scans
    // the frame exactly ONCE (the explode form below); a second scan
    // before the cache fills would compute every partition twice.
    var e = Materialize.lazily(smallStar(
      edges
        .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
        .where(col("u") =!= col("v"))), freshStats = false)
    var rounds = 0
    var actions = 1 // the pre-shrink check below
    // Structural convergence test instead of a signature-equality loop: a
    // min-rooted star forest is EXACTLY a fixed point of
    // smallStar∘largeStar (stars rooted elsewhere get re-parented by the
    // next smallStar, so they are not fixed points and cannot satisfy the
    // test either — roots of disjoint components never collide as another
    // component's child). Testing the structure directly detects
    // convergence the round it is REACHED; comparing consecutive
    // signatures needs one more full contraction round just to observe
    // that nothing changed. On clique-ish near-dup graphs that is 1 of
    // 3-4 rounds saved, and it can even be zero loop rounds when the
    // pre-shrink alone produces the forest. The test job also returns the
    // edge count (each edge is exactly one parent-role row, so the count
    // rides on the same aggregation) — one driver job per round, not two.
    var (converged, edgeCount) = starForestCheck(e)
    // Scale each round's shuffle width to the CONTRACTED edge count (one
    // tiny count job per round on checkpointed data), not the
    // session default: localCheckpoint materializes through the RDD path,
    // which AQE's partition coalescing does not re-plan, so without this a
    // 5k-edge round would still launch session-width tasks per stage —
    // pure scheduling overhead in a loop that runs 3-6 times. ~1M edges
    // (16 bytes + row overhead) per task keeps partitions comfortably
    // in-memory at any scale; the session width is the ceiling.
    val spark = edges.sparkSession
    val sessionWidth = LoopWidth.sessionWidth(spark)
    while (!converged && rounds < MaxRounds) {
      val roundWidth = math.min(edgeCount / 1000000L + 1L, sessionWidth)
      // ONE fused job per round, inside the round's width: the check's
      // collect materializes the lazy checkpoint, refreshes the count (so
      // the NEXT round's shuffle width tracks the contraction) AND tests
      // convergence
      val (next, (conv, cnt)) = LoopWidth.atWidth(spark, roundWidth) {
        val n = Materialize.lazily(smallStar(largeStar(e)), freshStats = false)
        (n, starForestCheck(n))
      }
      actions += 1
      converged = conv
      edgeCount = cnt
      e = next
      rounds += 1
    }
    require(converged, s"star contraction did not converge in $MaxRounds rounds")
    // Converged state is a star forest: every edge is (child, root). The
    // groupBy(min) is belt-and-braces normalization (and dedups roots that
    // parent several children).
    val comp = e.select(col("u").as("node"), col("v").as("component"))
      .union(e.select(col("v").as("node"), col("v").as("component")))
      .groupBy("node")
      .agg(min("component").as("component"))
    RunRecord.note(RunRecord.ClusterRounds, rounds)
    RunRecord.note(RunRecord.ClusterEdges, edgeCount)
    RunRecord.note(RunRecord.ClusterActions, actions)
    (comp, rounds)
  }

  /** Edge ceiling for the DRIVER union-find closure of batch-bounded
    * graphs ([[incrementalComponentsMd5]]): 4M (long, long) edges ≈
    * 64 MB collected — the bm25-df-map contract (a bounded driver
    * artifact with an in-plan fallback past the ceiling, never an
    * unbounded data collect). The incremental path's edge set is
    * batch-incident by construction (≤ batch × band-candidates), so a
    * serve-path batch sits far below this; a batch large enough to cross
    * it falls back to the distributed star contraction.
    */
  private[graft] val EdgeCollectCeiling = 4000000L

  /** Driver-side connected components over a SMALL edge frame: collect
    * the (long, long) edges (caller guards the ceiling), union-find with
    * min-id roots and path compression, return the same
    * (node, component = smallest id in component) contract as
    * [[connectedComponents]] — parity is spec-pinned. Replaces a 6-8-job
    * contraction ladder with one collect and one tiny createDataFrame
    * when the graph is batch-bounded; records (0 rounds, edge count) in
    * the run record so bench telemetry shows which path served.
    */
  private[graft] def driverComponents(
      spark: SparkSession,
      edges: DataFrame): DataFrame =
    driverComponentsOf(spark,
      edges.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .collect())

  /** [[driverComponents]] over already-collected (long, long) edge rows —
    * the seam the incremental path uses to fuse the ceiling guard into
    * one limit-bounded collect.
    */
  private[graft] def driverComponentsOf(
      spark: SparkSession,
      collected: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) parent.put(x, x)
    var nEdges = 0L
    collected.foreach { row =>
      val u = row.getLong(0)
      val v = row.getLong(1)
      nEdges += 1
      add(u); add(v)
      val ru = find(u)
      val rv = find(v)
      // always root at the smaller id: by induction each root is the
      // min of its set, so the final root IS the component minimum —
      // the exact connectedComponents contract
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(n => rows += ((n.longValue(), find(n))))
    RunRecord.note(RunRecord.ClusterRounds, 0)
    RunRecord.note(RunRecord.ClusterEdges, nEdges)
    RunRecord.note(RunRecord.ClusterActions, 1) // the caller's edge collect
    spark.createDataFrame(rows.toSeq).toDF("node", "component")
  }

  /** Star-forest test on a child→parent oriented edge list (smallStar's
    * output invariant: every edge is (x, m) with m < x, and the edge set
    * is distinct). The graph is a star forest iff BOTH
    *   (a) no child has two distinct parents, and
    *   (b) no parent is itself some edge's child.
    * Checking (b) alone is NOT sufficient: smallStar can emit one child
    * under two different parents when the child is the larger endpoint of
    * two groups with different minima — raw edges (1,5),(2,6),(5,6)
    * contract to {(5,1),(5,2),(6,2)}, which has no parent-as-child yet is
    * not a forest, and accepting it splits one true component into two
    * (the regression spec pins exactly this graph). Both conditions fold
    * into ONE aggregation job on the O(nodes) checkpointed frame: tag each
    * node with its child rows (non-null parent) and parent rows (null),
    * then a node violates iff it has >1 parent or is both child and
    * parent. `count(parent)` equals the distinct-parent count because
    * smallStar's output is edge-distinct. The same aggregation yields the
    * edge count for free (Σ np = one parent row per edge), so the loop
    * pays one driver job per round for sizing AND convergence.
    */
  private def starForestCheck(e: DataFrame): (Boolean, Long) = {
    // ONE scan of the round frame: each edge explodes inline into its
    // child role (u, parent = v) and its parent role (v, null). The
    // two-branch union this replaced read the frame twice — harmless on
    // an eagerly checkpointed round, but the rounds are now LAZILY
    // checkpointed and this check is the job that materializes them, so
    // a second branch would compute every partition twice before the
    // cache fills. Same rows, same aggregation, same verdict.
    val roles = e.select(explode(array(
        struct(col("u").as("n"), col("v").as("parent")),
        struct(col("v").as("n"), lit(null).cast("long").as("parent"))))
      .as("role"))
      .select(col("role.n").as("n"), col("role.parent").as("parent"))
    val row = roles.groupBy("n")
      .agg(count(col("parent")).as("np"), count(lit(1)).as("total"))
      .agg(
        sum(when(col("np") > 1
          || (col("np") >= 1 && col("total") > col("np")), 1L).otherwise(0L))
          .as("violations"),
        sum("np").as("edges"))
      .collect()(0)
    val violations = if (row.isNullAt(0)) 0L else row.getLong(0)
    val edges = if (row.isNullAt(1)) 0L else row.getLong(1)
    (violations == 0L, edges)
  }

  /** Large-star: every node connects its LARGER neighbors to the minimum
    * of its neighborhood (including itself). Window-form min instead of a
    * groupBy+self-join: one shuffle on `u` instead of three.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val withM = sym.withColumn("m",
      least(min("v").over(Window.partitionBy("u")), col("u")))
    // no mid-round distinct: duplicate edges only inflate the (small)
    // intermediate and smallStar dedups at round end — dropping it saves
    // one shuffle per round
    withM
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star: every node connects its SMALLER-or-equal neighbors (and
    * itself) to the minimum of that set. Edges arrive child>parent from
    * [[largeStar]]; re-orienting with greatest/least keeps the phase
    * self-contained.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val withM = or.withColumn("m", min("v").over(Window.partitionBy("u")))
    withM.select(col("v").as("u"), col("m").as("v"))
      .union(withM.select(col("u").as("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** (doc_id, component_id) for EVERY document: docs in no near-dup pair
    * are their own singleton component. `component_id` is the smallest
    * doc_id in the cluster.
    */
  private def documentComponents(
      spark: SparkSession,
      sfDir: String,
      pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs, "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    IO.table(spark, sfDir, "documents")
      .select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component_id"))
  }

  /** Near-dup clusters over the md5-prefix simhash pairs — every stage
    * (hashing, banding, Hamming verify, star contraction) replayed by the
    * DuckDB oracle, whose clustering side is a recursive-CTE transitive
    * closure (tractable at oracle scale; the star contraction is the
    * distributed shape).
    */
  def nearDupComponentsMd5(spark: SparkSession, sfDir: String): DataFrame =
    nearDupComponentsMd5Unsorted(spark, sfDir).orderBy("doc_id")

  /** [[nearDupComponentsMd5]] without the presentation sort — the seam for
    * compositions (leakage-safe split) that sort once at their own end.
    */
  private[graft] def nearDupComponentsMd5Unsorted(
      spark: SparkSession,
      sfDir: String): DataFrame =
    documentComponents(spark, sfDir, Dedup.simHashNearDupPairsUnsorted(spark, sfDir, HashFamily.Md5))

  /** Near-dup clusters over the EXACT-SUBSTRING span graph (md5 twin):
    * documents sharing any verbatim width-8 token window land in one
    * component — the clustering step of the published exact-substring
    * dedup pipeline, oracled end to end (recursive-CTE closure on the
    * oracle side, star contraction here).
    */
  def substringComponentsMd5(spark: SparkSession, sfDir: String): DataFrame =
    documentComponents(spark, sfDir,
      Dedup.substringSpanPairsMd5Unsorted(spark, sfDir))
      .orderBy("doc_id")

  /** Connected components over the WINNOWED pair graph — the same
    * closure as [[substringComponentsMd5]] at ~2/(w+1) the exploded edge
    * volume (the winnowing selection guarantee keeps any k+w-1-token
    * shared run detectable, so the component structure it induces is the
    * one a production boilerplate-clustering pass wants at 100 TB).
    */
  def winnowComponentsMd5(spark: SparkSession, sfDir: String): DataFrame =
    // consumes the persisted full-corpus fingerprint table (the family
    // default: the selection pass is a build-once artifact; the live
    // cost stays visible in dedup_winnow_pairs) — row-identical, so the
    // recursive-CTE oracle is unchanged
    documentComponents(spark, sfDir,
      Dedup.winnowPairsStoredUnsorted(spark, sfDir))
      .orderBy("doc_id")

  /** The dedup DECISION: per document, its cluster, the cluster size, and
    * whether it is the kept representative (lowest doc_id — deterministic).
    * `filter(keep)` is the deduplicated corpus; `filter(!keep)` is the
    * exact drop list, preserved here because production pipelines audit
    * drops rather than discarding them blind.
    */
  def dedupDecisionMd5(spark: SparkSession, sfDir: String): DataFrame =
    decisionOverComponents(
      documentComponents(spark, sfDir, Dedup.simHashNearDupPairsUnsorted(spark, sfDir, HashFamily.Md5)))

  private def decisionOverComponents(comp: DataFrame): DataFrame =
    comp
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("component_id")))
      .withColumn("keep", col("doc_id") === col("component_id"))
      .orderBy("doc_id")

  /** Declared schemas of the persisted clustering artifacts (component
    * maps and the banded corpus index) — every column long-typed and
    * non-null by construction, re-stamped on read through
    * [[IO.servedArtifact]] so the decision windows and the bit_count
    * verifies stay branch-free off a serve.
    */
  private[graft] val ComponentMapSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("component_id", LongType, nullable = false)))
  }

  private[graft] val BandIndexSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("simhash", LongType, nullable = false),
      StructField("band_key", LongType, nullable = false)))
  }

  /** The persisted near-dup (doc_id, component_id) map — the cluster
    * analogue of the train-once codebook contract (a scheme-version token
    * guards pipeline changes). Every consumer of the clustering (dedup
    * decision, keep-best, leakage-safe split, audits) reads this
    * O(corpus-rows) two-long-column table instead of re-deriving
    * signatures, candidate pairs, and the iterative contraction; in
    * production it is refreshed per corpus version, not per query.
    */
  private[graft] def componentMap(sfDir: String): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "ccmap", s"ccmap_v1|$sfDir|simhash_md5",
      Seq("" -> ComponentMapSchema), ".parquet")

  /** The persisted component map, self-priming on first use: the full
    * simhash → star-contraction pipeline runs only at priming.
    */
  private[graft] def componentMapStored(
      spark: SparkSession,
      sfDir: String): DataFrame =
    IO.servedArtifact(spark, componentMap(sfDir)) { root =>
      nearDupComponentsMd5Unsorted(spark, sfDir)
        .write.mode("overwrite").parquet(root)
    }.head

  /** [[dedupDecisionMd5]] consuming the PERSISTED component map: repeat
    * invocations pay one scan of the (doc_id, component_id) artifact plus
    * the decision window — the signature/banding/contraction pipeline
    * (all of the on-the-fly cost) runs only at priming. Row-identical by
    * construction (the artifact IS the clustering), so the registered row
    * keeps [[dedupDecisionMd5]]'s oracle.
    */
  def dedupDecisionMd5Stored(spark: SparkSession, sfDir: String): DataFrame =
    decisionOverComponents(componentMapStored(spark, sfDir))

  /** Cluster-size PROFILE of the near-dup graph: how many clusters exist
    * at each size, and how many documents they hold. The first diagnostic
    * a dedup operator reads — a fat tail (few huge clusters) means
    * boilerplate domination and predicts both the dedup yield and the
    * star-contraction round count; production pipelines chart this per
    * corpus version. Consumes the PERSISTED component map (one scan of
    * the two-long-column artifact), then two tiny aggregations: sizes are
    * O(clusters) rows and the histogram O(distinct sizes) — nothing at
    * corpus scale shuffles.
    */
  def clusterSizeProfile(spark: SparkSession, sfDir: String): DataFrame =
    componentMapStored(spark, sfDir)
      .groupBy("component_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(
        count(lit(1)).as("n_clusters"),
        sum("cluster_size").as("n_docs"))
      .orderBy("cluster_size")

  /** The persisted CORPUS-CARVE cluster state (`index`: the
    * (doc_id, simhash, band_key) banding of the corpus side, `map`: its
    * (doc_id, component_id) clustering) — the state
    * [[incrementalComponentsMd5]] extends per batch. A distinct scheme
    * token from [[componentMap]] because the doc set is the %10 carve,
    * not the full table. In production this is the standing index +
    * component map a stream of batches extends — rebuilt per corpus
    * version, never per batch.
    */
  private[graft] def corpusClusterState(sfDir: String): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "ccstate",
      s"ccstate_v1|$sfDir|simhash_md5|mod10",
      Seq("index" -> BandIndexSchema, "map" -> ComponentMapSchema))

  /** The served (index, map) parts, self-priming: the prime bands the
    * corpus carve, clusters it, and persists both.
    */
  private[graft] def corpusClusterStateStored(
      spark: SparkSession,
      sfDir: String): Seq[DataFrame] =
    IO.servedArtifact(spark, corpusClusterState(sfDir)) { root =>
      val corpus = IO.table(spark, sfDir, "documents")
        .filter(col("doc_id") % 10 =!= 0)
      Dedup.simHashBandedFrom(Dedup.simHashSignatures(corpus, HashFamily.Md5))
        .write.mode("overwrite").parquet(s"$root/index")
      val banded = spark.read.parquet(s"$root/index")
      val pairs = Dedup.simHashPairs(banded, maxHamming = 3)
      val comp = connectedComponents(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      corpus.select("doc_id")
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component_id"))
        .write.mode("overwrite").parquet(s"$root/map")
    }

  /** INCREMENTAL clustering: extend the persisted corpus cluster state
    * with a new batch (the `doc_id % 10 == 0` carve, the incremental
    * family's synthetic arrival) WITHOUT re-clustering the corpus. Emits
    * exactly the delta of the batch-inclusive clustering against the
    * stored corpus-only map: every batch doc with its component, plus
    * every corpus doc whose component CHANGED because a batch doc bridged
    * two existing clusters. The DuckDB oracle replays both closures in
    * full and takes the same restriction — a hash match proves the
    * incremental result equals the from-scratch one on every affected
    * row.
    *
    * Why this is sound: batch arrivals add only batch-incident edges
    * (banding is per-doc, so corpus×corpus collisions are unchanged), so
    * the full clustering differs from the corpus-only one exactly on the
    * connected regions of the batch⋈(batch ∪ corpus-representative)
    * graph, and each merged group's new id — min over its batch ids and
    * corpus rep ids — IS the min doc_id of the merged node set (each rep
    * is already the min of its corpus component).
    *
    * Scale shape: the batch bands map-side and BROADCASTS against the
    * stored index (the corpus never re-signs, never shuffles); candidate
    * verify is bit_count on the index's stored signatures; the closure
    * runs on the batch-bounded supernode edge set — driver union-find
    * below [[EdgeCollectCeiling]], distributed star contraction past it;
    * the corpus-side remap join touches only churn-bounded components.
    * Corpus-proportional work per batch: one index scan (candidate join)
    * + two map scans (rep contraction, changed-row remap) + one batch
    * document scan — everything else is batch-bounded.
    */
  def incrementalComponentsMd5(spark: SparkSession, sfDir: String): DataFrame = {
    val Seq(corpusIdx, corpusMap) = corpusClusterStateStored(spark, sfDir)
    val batchDocs = IO.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val batchBanded = Dedup
      .simHashBandedFrom(Dedup.simHashSignatures(batchDocs, HashFamily.Md5))
      .localCheckpoint()
    // FUSED candidate generation: batch×corpus and batch×batch band
    // collisions come from ONE broadcast join of the batch banding
    // against (corpus index ∪ batch banding) — the %10 carve keeps the
    // two id spaces disjoint, so `other_id % 10` routes each candidate
    // row, and one distinct replaces the two the split generators paid.
    // Exact-Hamming verify reads the stored signatures either way.
    val others = corpusIdx
      .select(col("doc_id").as("other_id"), col("simhash").as("other_sig"),
        col("band_key"))
      .unionByName(batchBanded.select(col("doc_id").as("other_id"),
        col("simhash").as("other_sig"), col("band_key")))
    val cand = broadcast(
      batchBanded.select(col("doc_id").as("batch_id"),
        col("simhash").as("batch_sig"), col("band_key")))
      .join(others, "band_key")
      // corpus hit, or the ordered half of a batch self-pair
      .where(col("other_id") % 10 =!= 0 || col("other_id") > col("batch_id"))
      .select(col("batch_id"), col("other_id"),
        expr("bit_count(batch_sig ^ other_sig)").as("hamming"))
      .filter(col("hamming") <= 3)
      .select("batch_id", "other_id")
      .distinct()
    // corpus endpoints contract to their component REPRESENTATIVE
    val bcEdges = cand.filter(col("other_id") % 10 =!= 0)
      .withColumnRenamed("other_id", "corpus_id")
      .join(corpusMap.select(col("doc_id").as("corpus_id"),
        col("component_id").as("rep")), "corpus_id")
      .select(col("batch_id").as("doc_a"), col("rep").as("doc_b"))
    val bbEdges = cand.filter(col("other_id") % 10 === 0)
      .select(col("batch_id").as("doc_a"), col("other_id").as("doc_b"))
    // The supernode edge set is BATCH-BOUNDED (every edge is
    // batch-incident, volume ≤ batch × band-candidates), so below the
    // collect ceiling the closure is a driver union-find over one
    // checkpointed (long, long) frame — a model-artifact-sized collect
    // like the bm25 df-map, with the distributed star contraction as the
    // in-plan fallback past the ceiling. This removes the per-round
    // checkpoint + convergence-check job ladder that dominated the serve
    // path at bench scale (3.25 s for ~300 edges in r9).
    val edges = bcEdges.unionByName(bbEdges).localCheckpoint()
    // ceiling guard fused into the collect itself: fetch at most
    // ceiling+1 rows — one row past the ceiling proves the fallback is
    // needed without a separate count job (CollectLimit stops early)
    val local = edges
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .limit(EdgeCollectCeiling.toInt + 1).collect()
    val comp =
      if (local.length <= EdgeCollectCeiling) driverComponentsOf(spark, local)
      else connectedComponents(edges, "doc_a", "doc_b")
    val batchRows = batchDocs.select("doc_id")
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component_id"))
    // reps whose group got a smaller id: remap their whole corpus component
    val repRemap = comp
      .filter(col("node") % 10 =!= 0 && col("component") =!= col("node"))
      .select(col("node").as("old_rep"), col("component").as("new_comp"))
    val corpusChanged = corpusMap
      .join(broadcast(repRemap),
        corpusMap("component_id") === repRemap("old_rep"))
      .select(col("doc_id"), col("new_comp").as("component_id"))
    batchRows.unionByName(corpusChanged).orderBy("doc_id")
  }

  /** Per-SOURCE dedup attribution: after near-dup clustering, how many of
    * each source's documents survive as cluster representatives and how
    * many die as duplicates of some other document — plus how many of the
    * losses are to a DIFFERENT source (cross-source dups are the
    * licensing/attribution question real curation teams audit: "did
    * source B's crawl just re-serve source A?"). One artifact scan + one
    * co-keyed join to pull each doc's and its representative's source;
    * output is |sources| rows.
    */
  def dedupSourceAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val src = IO.table(spark, sfDir, "documents").select("doc_id", "source")
    val comp = componentMapStored(spark, sfDir)
      .join(src, "doc_id")
      .join(
        src.select(col("doc_id").as("component_id"),
          col("source").as("rep_source")),
        "component_id")
    comp
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("component_id"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("doc_id") =!= col("component_id"), 1L).otherwise(0L))
          .as("n_dropped"),
        sum(when(col("doc_id") =!= col("component_id")
            && col("rep_source") =!= col("source"), 1L).otherwise(0L))
          .as("n_lost_cross_source"))
      .orderBy("source")
  }

  /** Representative selection by QUALITY instead of lowest id: per cluster
    * keep the argmax quality_score (ties break on doc_id). This is the
    * policy a real training-data pipeline wants — near-dup clusters hold
    * one clean copy and N boilerplate-mangled ones, and "lowest id" keeps
    * an arbitrary one. Scores are IEEE-deterministic doubles (the
    * txt_quality oracle row hash-matches bitwise), so the argmax is
    * cross-engine reproducible.
    */
  def dedupKeepBestMd5(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = TextAnalysis.qualityScores(spark, sfDir)
      .select("doc_id", "quality_score")
    documentComponents(spark, sfDir, Dedup.simHashNearDupPairsUnsorted(spark, sfDir, HashFamily.Md5))
      .join(quality, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("component_id")
          .orderBy(col("quality_score").desc, col("doc_id"))))
      .withColumn("keep", col("rn") === 1)
      .drop("rn")
      .orderBy("doc_id")
  }
}
