package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFamily

/** ×N-cut Spark-side closure validation for the CLUSTER-DECISION family
  * (not a test — a main invoked manually; kept out of src/main so it
  * never ships). The TripletsProbe convention, applied to components.
  *
  * Why it exists: the ×N replay of every closure oracle
  * (mm_dedup_decision, dedup_cluster_decision*) is excluded at a
  * measured DuckDB timeout — recursive CTEs walk the transitive
  * closure quadratically within components, so component mass that is
  * trivial for the star contraction stalls the replay engine. The rows
  * ARE hash-exact at the driver's sf0.01 gate; this probe turns the
  * standing ×N exclusion into positive evidence by recomputing the
  * closure contract Spark-side with an INDEPENDENT algorithm:
  *
  *   1. endpoint consistency — every near-dup pair's two endpoints
  *      carry the same component_id in the decision row;
  *   2. true components — MIN-LABEL PROPAGATION to fixpoint (the naive
  *      textbook CC, no star contraction shared code) reproduces every
  *      (node, component_id) assignment exactly, which proves each
  *      component is internally connected AND minimal (component id =
  *      smallest reachable member, singletons self-rooted);
  *   3. keep rule — per component, the keeper is unique and carries
  *      the component's maximum fidelity (mm) / is the root (text),
  *      recomputed by groupBy instead of the decision's window.
  *
  * All three counts must be 0. Usage:
  *   Test/runMain graft.ClusterClosureProbe /tmp/sf1 [mm|text|both]
  */
object ClusterClosureProbe {

  /** True components by min-label propagation: every node starts as its
    * own label; each round takes the min of its own and its neighbors'
    * labels; fixpoint when no label changes. Independent of the
    * Cluster star-contraction code path by construction.
    */
  private def labelProp(edges: DataFrame): DataFrame = {
    val und = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint()
    var labels = und.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val next = und
        .join(labels.withColumnRenamed("node", "v")
          .withColumnRenamed("label", "nlabel"), "v")
        .groupBy(col("u").as("node"))
        .agg(min(col("nlabel")).as("minNeighbor"))
        .join(labels, "node")
        .select(col("node"),
          least(col("label"), col("minNeighbor")).as("label"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("label", "old"), "node")
        .filter(col("label") =!= col("old")).count()
      labels = next
    }
    labels
  }

  private def check(
      tag: String,
      pairs: DataFrame,
      decision: DataFrame,
      keepCheck: DataFrame => Long): Unit = {
    val p = pairs.localCheckpoint()
    val d = decision.localCheckpoint()
    val nodeCol = d.columns.head // media_id / doc_id
    val comp = d.select(col(nodeCol).as("node"), col("component_id"))
    // 1. endpoint consistency
    val badEndpoints = p
      .join(comp.select(col("node").as("u"), col("component_id").as("cu")), "u")
      .join(comp.select(col("node").as("v"), col("component_id").as("cv")), "v")
      .filter(col("cu") =!= col("cv")).count()
    // 2. independent label propagation reproduces every assignment
    //    (non-edge nodes must be self-rooted singletons)
    val labels = labelProp(p)
    val joined = comp.join(labels, Seq("node"), "left")
    val badComp = joined.filter(
      coalesce(col("label"), col("node")) =!= col("component_id")).count()
    // 3. keep rule, recomputed by groupBy
    val badKeep = keepCheck(d)
    println(s"PROBE $tag pairs=${p.count()} nodes=${d.count()} " +
      s"bad_endpoints=$badEndpoints bad_components=$badComp bad_keep=$badKeep")
    println(if (badEndpoints + badComp + badKeep == 0)
      s"PROBE_RESULT $tag pass" else s"PROBE_RESULT $tag FAIL")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val which = args.lift(1).getOrElse("both")
    val spark = GraftSession.build("cluster-closure-probe")
    import graft.operators.{Cluster, Dedup, Multimodal}

    if (which == "mm" || which == "both") {
      val pairs = Multimodal.nearDupPairs(spark, sfDir, HashFamily.Md5)
        .select(col("media_a").as("u"), col("media_b").as("v"))
      val decision = Multimodal.nearDupDecision(spark, sfDir, HashFamily.Md5)
      check("mm_dedup_decision", pairs, decision, d =>
        d.groupBy("component_id")
          .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("keepers"),
            max(col("fidelity")).as("maxFid"),
            max(when(col("keep"), col("fidelity"))).as("keptFid"))
          .filter(col("keepers") =!= 1L || col("keptFid") =!= col("maxFid"))
          .count())
    }
    if (which == "content" || which == "both") {
      // the cross-format content decision: same contraction, but the
      // graph spans container formats (16k+ cross-format components at
      // x100) — the keep rule compares fidelities ACROSS modalities
      val pairs = Multimodal.contentNearDupPairs(spark, sfDir)
        .select(col("media_a").as("u"), col("media_b").as("v"))
      val decision = Multimodal.contentNearDupDecision(spark, sfDir)
        .select(col("media_id"), col("component_id"), col("fidelity"), col("keep"))
      check("mm_content_decision", pairs, decision, d =>
        d.groupBy("component_id")
          .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("keepers"),
            max(col("fidelity")).as("maxFid"),
            max(when(col("keep"), col("fidelity"))).as("keptFid"))
          .filter(col("keepers") =!= 1L || col("keptFid") =!= col("maxFid"))
          .count())
    }
    if (which == "text" || which == "both") {
      val pairs = Dedup.simHashNearDupPairsUnsorted(spark, sfDir, HashFamily.Md5)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val decision = Cluster.dedupDecisionMd5(spark, sfDir)
      check("dedup_cluster_decision", pairs, decision, d =>
        d.groupBy("component_id")
          .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("keepers"),
            min(when(col("keep"), col("doc_id"))).as("keptId"))
          .filter(col("keepers") =!= 1L ||
            col("keptId") =!= col("component_id"))
          .count())
    }
    spark.stop()
  }
}
