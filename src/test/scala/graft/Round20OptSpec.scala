package graft

import org.apache.spark.sql.functions._

import graft.functions.HashFamily
import graft.operators.Multimodal

/** Round-20 OPTIMIZATION pins — every fusion this round must be
  * result-identical to the two-pass shape it replaced:
  *
  *   - the fused audited face equals fingerprintFace (face projection)
  *     and containerAudit (audit projection) row-for-row — the kernels
  *     are shared, and this pin catches any wiring drift (wrong kind
  *     map, wrong sizeBytes fallback, column order);
  *   - the fast fused face equals fingerprintFaceFast the same way;
  *   - the fused CONTENT face equals contentFingerprintFace on the
  *     extractable rows and carries containerAudit's fmt/fidelity for
  *     EVERY row (extraction failures ride with null face columns).
  */
class Round20OptSpec extends SparkTestBase {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("fused audited face: face projection equals fingerprintFace") {
    val fused = Multimodal.auditedFace(spark, Sf, HashFamily.Md5)
      .select("media_id", "kind", "n_bytes", "sig", "ffix")
    val ref = Multimodal.fingerprintFace(spark, Sf, HashFamily.Md5)
    assert(rowsOf(fused) == rowsOf(ref))
  }

  test("fused audited face: audit projection equals containerAudit") {
    val fused = Multimodal.auditedFace(spark, Sf, HashFamily.Md5)
      .select("media_id", "fmt", "r_parse", "r_min_pixels", "r_aspect",
        "r_rate", "r_short", "r_dominant", "keep", "fidelity")
    val ref = Multimodal.containerAudit(Multimodal.mediaWithHeaders(spark, Sf))
    assert(rowsOf(fused) == rowsOf(ref))
  }

  test("fused fast face equals fingerprintFaceFast") {
    val fused = Multimodal.auditedFace(spark, Sf, HashFamily.Xx)
      .select("media_id", "kind", "n_bytes", "sig", "ffix")
    val ref = Multimodal.fingerprintFace(spark, Sf, HashFamily.Xx)
    assert(rowsOf(fused) == rowsOf(ref))
  }

  test("fused content face equals contentFingerprintFace plus fidelityFrame") {
    val fused = Multimodal.contentAuditedFace(spark, Sf)
    // extractable rows: face columns equal the flatMap face
    val face = fused.where(col("sig").isNotNull)
      .select(col("media_id"), col("fmt").as("kind"),
        col("content_bytes").as("n_bytes"), col("sig"), col("ffix"))
    val refFace = Multimodal.contentFingerprintFace(spark, Sf)
    assert(rowsOf(face) == rowsOf(refFace))
    // every row carries the audit pass's fmt and fidelity
    val fid = fused.select("media_id", "fmt", "fidelity")
    val refFid = Multimodal.fidelityFrame(spark, Sf)
    assert(rowsOf(fid) == rowsOf(refFid))
    // the synthetic corpus always extracts; the null-face path is
    // covered by construction (Options), pin the row count matches the
    // media universe so no row is silently dropped
    assert(fused.count() ==
      spark.read.parquet(s"$Sf/documents.parquet").count())
  }

  test("decision rows read fidelity off the fused face (no second decode)") {
    val raw0 = Multimodal.rawDecodeBuilds.get
    val cont0 = Multimodal.containerDecodeBuilds.get
    val fused0 = Multimodal.fusedDecodeBuilds.get
    val df = Multimodal.nearDupDecision(spark, Sf, HashFamily.Md5)
    assert(df.count() > 0)
    assert(Multimodal.fusedDecodeBuilds.get - fused0 == 1)
    assert(Multimodal.rawDecodeBuilds.get - raw0 == 0)
    assert(Multimodal.containerDecodeBuilds.get - cont0 == 0)
  }

  test("assoc-lift basket: aggregation form equals the distinct+window form") {
    import org.apache.spark.sql.expressions.Window
    // the old shape, inline as the reference: distinct (user, item),
    // row_number over item asc, keep rn <= cap — vs the operator's
    // slice(sort_array(collect_set)) form. Run at the default cap AND at
    // cap=2 (which BINDS on this fixture) so the truncation tie-break is
    // exercised, then pin the full operator output row-for-row.
    def reference(maxBasket: Int, minUsers: Int, topN: Int) = {
      val basket = spark.read.parquet(s"$Sf/events.parquet")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .where(col("item").isNotNull)
        .distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy("item")))
        .filter(col("rn") <= maxBasket)
        .select("user_id", "item")
        .localCheckpoint()
      val ni = basket.groupBy("item").agg(count(lit(1)).as("n"))
      val total = basket.select("user_id").distinct()
        .agg(count(lit(1)).as("u"))
      val pairs = basket.select(col("user_id"), col("item").as("item_a"))
        .join(basket.select(col("user_id"), col("item").as("item_b")), "user_id")
        .where(col("item_a") < col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= minUsers)
      pairs
        .join(ni.select(col("item").as("item_a"), col("n").as("na")), "item_a")
        .join(ni.select(col("item").as("item_b"), col("n").as("nb")), "item_b")
        .crossJoin(broadcast(total))
        .select(col("item_a"), col("item_b"), col("n_ab"),
          ((col("n_ab") * col("u")).cast("double")
            / (col("na") * col("nb")).cast("double")).as("lift"))
        .orderBy(desc("lift"), asc("item_a"), asc("item_b"))
        .limit(topN)
    }
    for ((cap, minU) <- Seq((64, 5), (2, 1))) {
      val got = rowsOf(graft.operators.Relational.itemAssociationLift(
        spark, Sf, minUsers = minU, maxBasket = cap))
      val want = rowsOf(reference(cap, minU, 100))
      assert(got == want, s"cap=$cap minUsers=$minU diverged")
      if (cap == 2) assert(want.nonEmpty, "cap=2 run must produce pairs")
    }
  }

  test("content decision pays one container pass") {
    val cont0 = Multimodal.containerDecodeBuilds.get
    val df = Multimodal.contentNearDupDecision(spark, Sf)
    assert(df.count() > 0)
    // contentAuditedFace builds over mediaWithHeaders — exactly one
    // container synthesis pipeline for the whole decision
    assert(Multimodal.containerDecodeBuilds.get - cont0 == 1,
      s"container passes: ${Multimodal.containerDecodeBuilds.get - cont0}")
  }
}
