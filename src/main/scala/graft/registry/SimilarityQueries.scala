package graft.registry

import org.apache.spark.sql.functions.{col, posexplode}

import graft.functions.VectorCentroidAggregator
import graft.operators.{Pca, Similarity}
import graft.registry.BenchRole._
import graft.registry.Oracle.{SameAs, Sql}
import graft.registry.Shared._

/** Embedding rows: ANN top-k (brute force, LSH, IVF, PQ, binary, quantized, Matryoshka),
  * k-means, kNN graphs, margin pairs, training triplets, semantic dedup, PCA and projections.
  */
object SimilarityQueries {

  /** Shared CTE for the LSH oracles: per-vector packed (band << 32 | bucket)
    * keys with the SAME deterministic hyperplanes the Spark expression uses,
    * inlined as SQL literals (double literals round-trip exactly, and both
    * engines fold the inner product over doubles, so the sign — and with it
    * the bucketing — agrees).
    */
  private def lshBucketKeysSql(bands: Int = 4, planesPerBand: Int = 8, dim: Int = 64): String = {
    val bandExprs = (0 until bands).map { b =>
      val planes = graft.operators.Similarity.hyperplanes(planesPerBand, dim, b + 1L)
      val bits = planes.zipWithIndex.map { case (p, i) =>
        val planeLit = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(v, $planeLit) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"CAST(${b.toLong << 32} + ($bits) AS BIGINT)"
    }.mkString("[", ", ", "]")
    s"""WITH v0 AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        bb AS (
          SELECT vec_id, unnest($bandExprs) AS bucket_key
          FROM v0)"""
  }

  /** GREATEST(16, ceil(sqrt(N))) over the embedding corpus — the SQL
    * twin of Similarity.adaptiveNlist (both engines compute nlist from
    * the same count, so the adaptive rows stay hash-green by
    * construction).
    */
  private val adaptiveNlistSql: String =
    "(SELECT GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM v0)"

  /** max(4, nlist / 8) — the SQL twin of Similarity.adaptiveNprobe. */
  private val adaptiveNprobeSql: String =
    "(SELECT GREATEST(4, GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) // 8) FROM v0)"

  /** CTE chain replaying [[graft.operators.Similarity.kmeansCodebook]]'s
    * Lloyd's iterations in SQL: literal-free — init centroids are the
    * vec_id < k corpus rows, per-dimension sums are the same
    * round(x * 1e6) fixed-point longs the Spark trainer accumulates
    * (order-independent, so the two engines' centroids are bit-identical
    * doubles), assignment ties break toward the lowest cid on FLOAT-cast
    * cosine in both engines. Ends with `cent$iters` = (cid, cv).
    */
  private def kmeansCentroidsSql(
      k: Int = 16,
      iters: Int = 2,
      kExpr: String = ""): String = {
    val kSql = if (kExpr.nonEmpty) kExpr else k.toString
    val iterCtes = (1 to iters).map { i =>
      s"""assign$i AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent${i - 1} c) WHERE rn = 1),
         sums$i AS (
           SELECT cid, t.pos, SUM(CAST(round(v[t.pos + 1] * 1000000.0) AS BIGINT)) AS s,
                  COUNT(*) AS n
           FROM assign$i, unnest(range(len(v))) AS t(pos)
           GROUP BY cid, t.pos),
         cent$i AS (
           SELECT cid, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cv
           FROM sums$i GROUP BY cid)"""
    }.mkString(",\n")
    s"""WITH v0 AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        cent0 AS (SELECT vec_id AS cid, v AS cv FROM v0 WHERE vec_id < $kSql),
        $iterCtes"""
  }

  /** Oracle for the IVF margin rows at a given pair `budget` — same
    * margin algebra over IVF-cell-bounded candidates: the
    * trained-centroid CTEs replay the Lloyd iterations (nlist and nprobe
    * computed from COUNT(*) exactly as the Scala adaptive rule),
    * assignment and probes use the float-washed argmax windows, and past
    * the budget the PROBE SRC side thins by the same deterministic md5
    * split as the Spark side (identical salt and double op order) with
    * the volume measured as the per-cell product sum — before any pair
    * materializes, exactly as the Spark plan does. `srcp`/`tgtc`/`sims`
    * are MATERIALIZED: each is referenced more than once and carries
    * the whole kmeans lineage — inlined, DuckDB would replay the Lloyd
    * iterations per reference.
    */
  private def marginIvfOracleSql(budget: Long): String =
    s"""${kmeansCentroidsSql(iters = 2, kExpr = adaptiveNlistSql)},
       sides AS (
         SELECT e.vec_id, e.v, d.lang = 'en' AS is_en
         FROM v0 e JOIN documents d ON e.vec_id = d.doc_id),
       assign AS (
         SELECT vec_id, v, cid, is_en FROM (
           SELECT s.vec_id, s.v, s.is_en, c.cid,
                  row_number() OVER (PARTITION BY s.vec_id
                    ORDER BY CAST(list_cosine_similarity(s.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM sides s CROSS JOIN cent2 c) WHERE rn = 1),
       probes AS (
         SELECT vec_id, v, is_en, cid FROM (
           SELECT s.vec_id, s.v, s.is_en, c.cid,
                  row_number() OVER (PARTITION BY s.vec_id
                    ORDER BY CAST(list_cosine_similarity(s.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM sides s CROSS JOIN cent2 c) WHERE rn <= $adaptiveNprobeSql),
       srcp AS MATERIALIZED (
         SELECT vec_id AS src_id, cid FROM probes WHERE is_en),
       tgtc AS MATERIALIZED (
         SELECT vec_id AS tgt_id, cid FROM assign WHERE NOT is_en),
       vol AS (
         SELECT CAST(COALESCE(SUM(ns * nt), 0) AS BIGINT) AS np
         FROM (SELECT cid, COUNT(*) AS ns FROM srcp GROUP BY cid) s
         JOIN (SELECT cid, COUNT(*) AS nt FROM tgtc GROUP BY cid) t USING (cid)),
       capped_src AS (
         -- GREATEST guard: np = 0 (no overlapping cells) satisfies the
         -- first disjunct, but DuckDB's vectorized OR still evaluates the
         -- division arm — keep its denominator nonzero
         SELECT srcp.src_id, srcp.cid FROM srcp, vol
         WHERE np <= $budget
            OR ('0x' || substr(md5(CAST(src_id AS VARCHAR) || '|margin_cap'), 1, 8))::BIGINT
               < CAST(floor(CAST($budget AS DOUBLE) / CAST(GREATEST(np, 1) AS DOUBLE)
                            * 4294967296.0) AS BIGINT)),
       sims AS MATERIALIZED (
         SELECT c.src_id, c.tgt_id,
                CAST(list_cosine_similarity(sv.v, tv.v) AS FLOAT) AS sim
         FROM (SELECT DISTINCT p.src_id, a.tgt_id
               FROM capped_src p JOIN tgtc a USING (cid)) c
         JOIN v0 sv ON c.src_id = sv.vec_id
         JOIN v0 tv ON c.tgt_id = tv.vec_id),
       fwd AS (
         SELECT src_id, tgt_id, sim,
                row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rn
         FROM sims QUALIFY rn <= 4),
       fwd_avg AS (
         SELECT src_id,
                CAST(sum(CAST(round(CAST(sim AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS x_avg_fp
         FROM fwd GROUP BY src_id),
       bwd_avg AS (
         SELECT tgt_id,
                CAST(sum(CAST(round(CAST(sim AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS y_avg_fp
         FROM (SELECT src_id, tgt_id, sim,
                      row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rn
               FROM sims QUALIFY rn <= 4)
         GROUP BY tgt_id)
       SELECT src_id, tgt_id, sim, margin FROM (
         SELECT f.src_id, f.tgt_id, f.sim,
                CAST(CAST(f.sim AS DOUBLE)
                     / (((x_avg_fp + y_avg_fp) / 2.0) / 1000000.0) AS FLOAT) AS margin
         FROM (SELECT src_id, tgt_id, sim FROM fwd WHERE rn = 1) f
         JOIN fwd_avg USING (src_id) JOIN bwd_avg USING (tgt_id))
       WHERE margin >= 1.0 ORDER BY src_id"""

  /** PQ geometry shared by the Spark defaults and the oracle generators. */
  private val PqNumSub = 8

  /** Oracle prefix replaying the PQ trainer per subvector slice: the same
    * fixed-point Lloyd iteration as [[kmeansCentroidsSql]] but over
    * `list_slice` subvectors under the inner-product assignment metric,
    * ending per sub `s` in `bookS` (code, cv) with dense 0-based codes in
    * cid order, and `pickS` (vec_id, code) — the encode. Tie-break
    * everywhere: float-cast sim DESC then code ASC = Spark's first-max
    * position.
    */
  private def pqBooksCtesSql(
      numSub: Int = PqNumSub,
      k: Int = 16,
      iters: Int = 1,
      dim: Int = 64,
      src: String = "v0"): String = {
    require(iters == 1, "oracle generator emits the fixed 1-iteration form")
    val subDim = dim / numSub
    val subCtes = (0 until numSub).map { s =>
      val off = s * subDim
      s"""sv$s AS (
           SELECT vec_id, list_slice(v, ${off + 1}, ${off + subDim}) AS sv
           FROM $src),
         cent${s}_0 AS (SELECT vec_id AS cid, sv AS cv FROM sv$s WHERE vec_id < $k),
         assign${s}_1 AS (
           SELECT vec_id, sv, cid FROM (
             SELECT e.vec_id, e.sv, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_inner_product(e.sv, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM sv$s e CROSS JOIN cent${s}_0 c) WHERE rn = 1),
         sums${s}_1 AS (
           SELECT cid, t.pos, SUM(CAST(round(sv[t.pos + 1] * 1000000.0) AS BIGINT)) AS s,
                  COUNT(*) AS n
           FROM assign${s}_1, unnest(range(len(sv))) AS t(pos)
           GROUP BY cid, t.pos),
         cent${s}_1 AS (
           SELECT cid, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cv
           FROM sums${s}_1 GROUP BY cid),
         book$s AS (
           SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS code, cv
           FROM cent${s}_1),
         pick$s AS (
           SELECT vec_id, code FROM (
             SELECT e.vec_id, b.code,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_inner_product(e.sv, b.cv) AS FLOAT) DESC, b.code) AS rn
             FROM sv$s e CROSS JOIN book$s b) WHERE rn = 1)"""
    }.mkString(",\n")
    subCtes
  }

  /** [[pqBooksCtesSql]] wrapped with the standard `v0` corpus prefix. */
  private def pqBooksSql(
      numSub: Int = PqNumSub,
      k: Int = 16,
      iters: Int = 1,
      dim: Int = 64): String =
    s"""WITH v0 AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        ${pqBooksCtesSql(numSub, k, iters, dim)}"""

  /** The pinned JL projection as a DuckDB list expression: float-cast
    * inner products against the same ±1/√k literal rows the Spark query
    * multiplies by (single source: [[Similarity.projectionMatrix]], so the
    * two engines cannot drift).
    */
  private def embProjectionListSql(outDims: Int = 16, dim: Int = 64): String =
    Similarity.projectionMatrix(outDims, dim)
      .map(row => s"CAST(list_inner_product(v, ${row.mkString("[", ", ", "]")}) AS FLOAT)")
      .mkString("[", ",\n             ", "]")

  /** Unrolled PCA-power-iteration oracle: replays graft.operators.Pca
    * exactly — floor-fixed-point moment sums (BIGINT, order-independent),
    * mean/covariance folded in the engine's pinned operation order, then
    * [[graft.operators.Pca.Iters]] unrolled mat-vec + L2-normalize rounds
    * where every sum is a BIGINT sum of floor(·×10⁹) terms, and the final
    * sign canonicalization (first coordinate ≥ 0). dim pinned at 64 (the
    * embeddings table's width — the ann_topk_binary precedent).
    */
  private def pcaSql(iters: Int = graft.operators.Pca.Iters): String = {
    val head =
      """WITH pv0 AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         pnn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pv0),
         pmfix AS (
           SELECT j, SUM(CAST(floor(vj * 1000000.0) AS BIGINT)) AS ms
           FROM (SELECT generate_subscripts(v, 1) AS j, unnest(v) AS vj FROM pv0)
           GROUP BY j),
         pmean AS (
           SELECT j, CAST(ms AS DOUBLE) / 1000000.0 / pnn.n AS m
           FROM pmfix, pnn),
         ppfix AS (
           SELECT tj.j, tk.k,
                  SUM(CAST(floor(pv0.v[tj.j] * pv0.v[tk.k] * 1000000.0) AS BIGINT)) AS ps
           FROM pv0, range(1, 65) tj(j), range(1, 65) tk(k)
           GROUP BY tj.j, tk.k),
         pcov AS (
           SELECT p.j, p.k,
                  CAST(p.ps AS DOUBLE) / 1000000.0 / pnn.n - mj.m * mk.m AS c
           FROM ppfix p
           JOIN pmean mj ON p.j = mj.j
           JOIN pmean mk ON p.k = mk.j, pnn),
         pw0 AS (SELECT j, 1.0 / sqrt(64.0) AS w FROM range(1, 65) t(j))"""
    val iterCtes = (1 to iters).map { i =>
      s"""py$i AS (
           SELECT c.j, SUM(CAST(floor(c.c * w.w * 1000000000.0) AS BIGINT)) AS yfix
           FROM pcov c JOIN pw${i - 1} w ON c.k = w.j GROUP BY c.j),
         pq$i AS (
           SELECT SUM(CAST(floor((CAST(yfix AS DOUBLE) / 1000000000.0)
                                 * (CAST(yfix AS DOUBLE) / 1000000000.0)
                                 * 1000000000.0) AS BIGINT)) AS qs
           FROM py$i),
         pw$i AS (
           SELECT y.j, (CAST(y.yfix AS DOUBLE) / 1000000000.0)
                       / sqrt(CAST(q.qs AS DOUBLE) / 1000000000.0) AS w
           FROM py$i y, pq$i q)"""
    }
    val tail =
      s"""psgn AS (
           SELECT CASE WHEN (SELECT w FROM pw$iters WHERE j = 1) < 0
                       THEN -1.0 ELSE 1.0 END AS s),
         ppc AS (SELECT j, w * psgn.s AS loading FROM pw$iters, psgn),
         peig AS (
           SELECT sqrt(CAST(qs AS DOUBLE) / 1000000000.0) AS eig FROM pq$iters)"""
    (head +: iterCtes :+ tail).mkString(",\n")
  }

  val specs: Seq[QuerySpec] = Seq(
    // LLM-pipeline: similarity search
    QuerySpec("ann_topk_bruteforce", (s, d) => Similarity.cosineTopK(s, d),
      Sql("""WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         scored AS (
           SELECT qid, vec_id, CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Headline),
    // identical oracle for the native-expression variant: the custom
    // Expression is spec-pinned bitwise-equal to the HOF composition
    QuerySpec("ann_topk_native", (s, d) => Similarity.cosineTopKNative(s, d),
      SameAs("ann_topk_bruteforce"), Timed),
    // planesPerBand pinned to 8 for the registered row: the oracle inlines
    // the deterministic hyperplanes as SQL literals, so DuckDB reproduces
    // the exact bucketing — the size-adaptive plane count stays the library
    // default and is spec-covered (LlmOpsSpec linear-growth test)
    QuerySpec("ann_topk_lsh", (s, d) => Similarity.lshCosineTopK(s, d, planesPerBand = 8),
      Sql(s"""${lshBucketKeysSql()},
         qb AS (SELECT vec_id AS qid, bucket_key FROM bb WHERE vec_id < 10),
         cand AS (SELECT DISTINCT qb.qid, bb.vec_id
                  FROM bb JOIN qb USING (bucket_key) WHERE bb.vec_id <> qb.qid),
         scored AS (
           SELECT qid, cand.vec_id,
                  CAST(list_cosine_similarity(qv.v, cv.v) AS FLOAT) AS sim
           FROM cand JOIN v0 cv ON cand.vec_id = cv.vec_id
                     JOIN v0 qv ON cand.qid = qv.vec_id)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Timed),
    // all-nodes approximate kNN graph over the same pinned LSH bands
    QuerySpec("emb_knn_graph", (s, d) => Similarity.knnGraph(s, d),
      Sql(s"""${lshBucketKeysSql()},
         cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
                  FROM bb a JOIN bb b USING (bucket_key) WHERE a.vec_id <> b.vec_id),
         scored AS (
           SELECT src, dst,
                  CAST(list_cosine_similarity(va.v, vb.v) AS FLOAT) AS sim
           FROM cand JOIN v0 va ON src = va.vec_id
                     JOIN v0 vb ON dst = vb.vec_id)
         SELECT src, CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INT) AS "rank",
                dst, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY src, "rank""""), Timed),
    // one NN-descent round: neighbors-of-neighbors candidates, monotone
    // per-rank improvement over the LSH seed graph
    QuerySpec("emb_knn_refine", (s, d) => Similarity.knnGraphRefined(s, d),
      // one NN-descent round over the knn-graph CTE: undirected
      // neighborhood ∪ two-hop candidates, re-scored, per-node top-k —
      // UNION dedups on both engines, same float-washed cosine + dst
      // tie-break as the seed graph
      Sql(s"""${lshBucketKeysSql()},
         cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
                  FROM bb a JOIN bb b USING (bucket_key) WHERE a.vec_id <> b.vec_id),
         scored AS (
           SELECT src, dst,
                  CAST(list_cosine_similarity(va.v, vb.v) AS FLOAT) AS sim
           FROM cand JOIN v0 va ON src = va.vec_id
                     JOIN v0 vb ON dst = vb.vec_id),
         g AS (
           SELECT src, dst FROM (
             SELECT src, dst,
                    row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
             FROM scored) WHERE rnk <= 5),
         und AS (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
         c2 AS (SELECT src, dst FROM und
                UNION SELECT src, far FROM (
                  SELECT a.src, b.far FROM und a
                  JOIN (SELECT src AS dst, dst AS far FROM und) b USING (dst)
                  WHERE a.src <> b.far)),
         s2 AS (
           SELECT src, dst,
                  CAST(list_cosine_similarity(va.v, vb.v) AS FLOAT) AS sim
           FROM c2 JOIN v0 va ON src = va.vec_id
                   JOIN v0 vb ON dst = vb.vec_id)
         SELECT src, CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INT) AS "rank",
                dst, sim
         FROM s2 QUALIFY "rank" <= 5 ORDER BY src, "rank""""), Headline),
    // margin-based bitext mining (ratio margin, forward top-1): en-side
    // docs paired to their best non-en neighbor when the pair beats both
    // endpoints' average k-NN neighborhoods
    QuerySpec("emb_margin_pairs", (s, d) => Similarity.marginBitextPairs(s, d),
      // ratio-margin bitext mining: float-washed cosines, fixed-point
      // k-NN neighborhood averages, one pinned double op chain for the
      // margin — mirrored verbatim from the Spark side
      Sql(s"""WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         sides AS (
           SELECT e.vec_id, e.v, d.lang = 'en' AS is_en
           FROM e JOIN documents d ON e.vec_id = d.doc_id),
         a0 AS (SELECT vec_id AS src_id, v AS src_v FROM sides WHERE is_en),
         b AS (SELECT vec_id AS tgt_id, v AS tgt_v FROM sides WHERE NOT is_en),
         -- pair budget (interpolated from the Spark row's constant): past
         -- it the src side thins by the same deterministic md5 split the
         -- Spark side applies (cut = budget / (nA*nB) * 2^32, identical
         -- double op order)
         a AS (
           SELECT a0.* FROM a0,
                (SELECT COUNT(*) AS na FROM a0) x,
                (SELECT COUNT(*) AS nb FROM b) y
           WHERE CAST(na AS BIGINT) * CAST(nb AS BIGINT) <= ${Similarity.MarginExactPairBudget}
              OR ('0x' || substr(md5(CAST(src_id AS VARCHAR) || '|margin_cap'), 1, 8))::BIGINT
                 < CAST(floor(CAST(${Similarity.MarginExactPairBudget} AS DOUBLE)
                              / CAST(CAST(na AS BIGINT) * CAST(nb AS BIGINT) AS DOUBLE)
                              * 4294967296.0) AS BIGINT)),
         sims AS (
           SELECT src_id, tgt_id,
                  CAST(list_cosine_similarity(src_v, tgt_v) AS FLOAT) AS sim
           FROM a CROSS JOIN b),
         fwd AS (
           SELECT src_id, tgt_id, sim,
                  row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rn
           FROM sims QUALIFY rn <= 4),
         fwd_avg AS (
           SELECT src_id,
                  CAST(sum(CAST(round(CAST(sim AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS x_avg_fp
           FROM fwd GROUP BY src_id),
         bwd_avg AS (
           SELECT tgt_id,
                  CAST(sum(CAST(round(CAST(sim AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS y_avg_fp
           FROM (SELECT src_id, tgt_id, sim,
                        row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rn
                 FROM sims QUALIFY rn <= 4)
           GROUP BY tgt_id)
         SELECT src_id, tgt_id, sim, margin FROM (
           SELECT f.src_id, f.tgt_id, f.sim,
                  CAST(CAST(f.sim AS DOUBLE)
                       / (((x_avg_fp + y_avg_fp) / 2.0) / 1000000.0) AS FLOAT) AS margin
           FROM (SELECT src_id, tgt_id, sim FROM fwd WHERE rn = 1) f
           JOIN fwd_avg USING (src_id) JOIN bwd_avg USING (tgt_id))
         WHERE margin >= 1.0 ORDER BY src_id"""), Timed),
    // the production CCMatrix shape: same margin algebra, candidates
    // bounded to the src's nprobe trained-IVF cells (and past the 16M
    // pair budget, thinned by the deterministic md5 src split)
    // budget interpolated from the one constant the Spark row reads, so
    // the two sides can never drift apart silently
    QuerySpec("emb_margin_pairs_ivf", (s, d) => Similarity.marginBitextPairsIvf(s, d),
      Sql(marginIvfOracleSql(Similarity.MarginIvfPairBudget)), Timed),
    // the SAME row with a deliberately tiny budget so the md5-split
    // thinning ENGAGES at every driver sf — the cross-engine proof the
    // production cap degrades deterministically instead of by luck
    QuerySpec("emb_margin_pairs_ivf_capped",
      (s, d) => Similarity.marginBitextPairsIvf(s, d, maxPairs = 2000L),
      Sql(marginIvfOracleSql(2000L)), Timed),
    // contrastive (anchor, positive, hard-negative) triplets mined from
    // the near-dup components + trained IVF cells the pipeline already
    // has; serve row consumes both persisted artifacts, rebuild row
    // derives them from scratch. Oracle: the simhash near-dup closure
    // supplies the component map (`base`), the Lloyd replay supplies the
    // trained centroids (`cent2`); positives argmax within the component,
    // hard negatives argmax within the IVF cell minus the component —
    // the same artifacts-joined shape as the Spark side
    QuerySpec("emb_training_triplets", (s, d) => Similarity.trainingTripletsStored(s, d),
      Sql(s"""$simHashClusterBaseSql,
         ${kmeansCentroidsSql(kExpr = adaptiveNlistSql).stripPrefix("WITH ")},
         asg AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         j AS (
           SELECT a.vec_id, a.v, a.cid, b.component_id
           FROM asg a JOIN base b ON a.vec_id = b.doc_id),
         pos AS (
           SELECT x.vec_id AS anchor_id, y.vec_id AS positive_id,
                  CAST(list_cosine_similarity(x.v, y.v) AS FLOAT) AS pos_sim,
                  row_number() OVER (PARTITION BY x.vec_id
                    ORDER BY CAST(list_cosine_similarity(x.v, y.v) AS FLOAT) DESC, y.vec_id) AS rn
           FROM j x JOIN j y
             ON x.component_id = y.component_id AND x.vec_id <> y.vec_id),
         neg AS (
           SELECT x.vec_id AS anchor_id, y.vec_id AS negative_id,
                  CAST(list_cosine_similarity(x.v, y.v) AS FLOAT) AS neg_sim,
                  row_number() OVER (PARTITION BY x.vec_id
                    ORDER BY CAST(list_cosine_similarity(x.v, y.v) AS FLOAT) DESC, y.vec_id) AS rn
           FROM j x JOIN j y
             ON x.cid = y.cid AND x.component_id <> y.component_id)
         SELECT p.anchor_id, p.positive_id, p.pos_sim, n.negative_id, n.neg_sim
         FROM (SELECT anchor_id, positive_id, pos_sim FROM pos WHERE rn = 1) p
         JOIN (SELECT anchor_id, negative_id, neg_sim FROM neg WHERE rn = 1) n
           USING (anchor_id)
         ORDER BY anchor_id"""), Timed),
    // row-identical to the serve row by construction (the artifacts ARE
    // the clustering and the codebook)
    QuerySpec("emb_training_triplets_rebuild", (s, d) => Similarity.trainingTriplets(s, d),
      SameAs("emb_training_triplets")),
    QuerySpec("ann_topk_quantized", (s, d) => Similarity.quantizedTopK(s, d),
      Sql("""WITH v0 AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         m AS (
           SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs
           FROM v0),
         v AS (
           SELECT vec_id,
                  list_transform(v, x -> round(x / (CASE WHEN max_abs > 0 THEN max_abs / 127.0 ELSE 1.0 END), 0)) AS v
           FROM m),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         scored AS (
           SELECT qid, vec_id, CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Timed),
    // IVF: centroids are corpus rows (vec_id < 16), so the oracle derives
    // the SAME codebook from the table; cell assignment ties break on
    // (float sim DESC, cid ASC) in both engines
    QuerySpec("ann_topk_ivf", (s, d) => Similarity.ivfCosineTopK(s, d),
      Sql("""WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT v.vec_id, v.v, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY CAST(list_cosine_similarity(v.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v CROSS JOIN cent c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM q CROSS JOIN cent c) WHERE rn <= 4),
         scored AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
           FROM assign a JOIN probes p USING (cid)
           WHERE a.vec_id <> p.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Timed),
    // recall@5 of the IVF ladder (nprobe 1/2/4) vs the brute ground
    // truth -- the eval artifact an index-tuning job publishes
    QuerySpec("ann_recall_report", (s, d) => Similarity.annRecallReport(s, d),
      // both rankings replay their own registered oracles (brute +
      // IVF per rung); hits are exact integers, recall one exact divide
      Sql("""WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT v.vec_id, v.v, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY CAST(list_cosine_similarity(v.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v CROSS JOIN cent c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         bs AS (
           SELECT qid, vec_id, CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid),
         brute AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rnk
             FROM bs) WHERE rnk <= 5),
         pr AS (
           SELECT q.qid, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.qid
                    ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM q CROSS JOIN cent c),
         p1 AS (SELECT qid, qv, cid FROM pr WHERE rn <= 1),
         s1 AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
           FROM assign a JOIN p1 p USING (cid)
           WHERE a.vec_id <> p.qid),
         i1 AS (
           SELECT 1 AS nprobe, qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rnk
             FROM s1) WHERE rnk <= 5),
         p2 AS (SELECT qid, qv, cid FROM pr WHERE rn <= 2),
         s2 AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
           FROM assign a JOIN p2 p USING (cid)
           WHERE a.vec_id <> p.qid),
         i2 AS (
           SELECT 2 AS nprobe, qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rnk
             FROM s2) WHERE rnk <= 5),
         p4 AS (SELECT qid, qv, cid FROM pr WHERE rn <= 4),
         s4 AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
           FROM assign a JOIN p4 p USING (cid)
           WHERE a.vec_id <> p.qid),
         i4 AS (
           SELECT 4 AS nprobe, qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rnk
             FROM s4) WHERE rnk <= 5),
         allp AS (SELECT * FROM i1 UNION ALL SELECT * FROM i2
                  UNION ALL SELECT * FROM i4),
         lad AS (SELECT np.nprobe, q.qid
                 FROM (VALUES (1), (2), (4)) np(nprobe) CROSS JOIN q),
         h AS (SELECT nprobe, qid, COUNT(*) AS hits
               FROM allp JOIN brute USING (qid, vec_id) GROUP BY 1, 2)
         SELECT lad.nprobe, lad.qid,
                CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
                CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0 AS recall
         FROM lad LEFT JOIN h USING (nprobe, qid)
         ORDER BY nprobe, qid"""), Headline),
    // k-means coarse-quantizer training (2 fixed Lloyd's iterations,
    // fixed-point centroid sums — the oracle replays both iterations in
    // SQL) and the IVF search over the trained codebook
    QuerySpec("kmeans_assign", (s, d) => Similarity.kmeansAssignments(s, d),
      Sql(s"""${kmeansCentroidsSql()}
         SELECT vec_id, cid FROM (
           SELECT e.vec_id, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1
         ORDER BY vec_id""")),
    // topic labels: per k-means cell, top tf-idf terms of member docs
    QuerySpec("emb_cluster_terms", (s, d) => Similarity.clusterTopTerms(s, d),
      // same Lloyd replay; cluster-level tf-idf with the float-cast
      // score convention (ranking on the float, term tiebreak)
      Sql(s"""${kmeansCentroidsSql()},
         ct_assign AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         ct_tf AS (
           SELECT a.cid, unnest(string_split(d.text, ' ')) AS term
           FROM ct_assign a JOIN documents d ON d.doc_id = a.vec_id),
         ct_cnt AS (SELECT cid, term, COUNT(*) AS tfreq FROM ct_tf GROUP BY 1, 2),
         ct_len AS (SELECT cid, SUM(tfreq) AS clen FROM ct_cnt GROUP BY 1),
         ct_df AS (SELECT term, COUNT(*) AS cdf FROM ct_cnt GROUP BY 1),
         ct_k AS (SELECT COUNT(*) AS kn FROM ct_len),
         ct_scored AS (
           SELECT f.cid, f.term, f.tfreq,
                  CAST((CAST(f.tfreq AS DOUBLE) / l.clen)
                    * ln((k.kn + 1.0) / (d.cdf + 1.0)) AS FLOAT) AS score
           FROM ct_cnt f
           JOIN ct_len l USING (cid)
           JOIN ct_df d USING (term)
           CROSS JOIN ct_k k)
         SELECT cid, term, tfreq, score FROM (
           SELECT *, row_number() OVER (PARTITION BY cid
                       ORDER BY score DESC, term) AS rn
           FROM ct_scored)
         WHERE rn <= 5 ORDER BY cid, term"""), Timed),
    // the materialized train-once artifact itself, hash-checked value
    // for value against the oracle's full Lloyd replay
    QuerySpec("kmeans_codebook", (s, d) => Similarity.kmeansCodebookTable(s, d),
      // the trained centroid VALUES (cent2 is the oracle's own Lloyd
      // replay with the same fixed-point accumulation) — exploded to
      // (cid, pos, val) rows so doubles compare numerically
      Sql(s"""${kmeansCentroidsSql()}
         SELECT cid, CAST(generate_subscripts(cv, 1) - 1 AS INT) AS pos,
                unnest(cv) AS centroid_val
         FROM cent2 ORDER BY cid, pos"""), Timed),
    // SemDeDup/D4-style per-cell prototypicality pruning over the trained
    // codebook: drop the most-central 25% of every cell
    QuerySpec("emb_semantic_prune", (s, d) => Similarity.semanticPruneDecisions(s, d),
      // same Lloyd replay; own-centroid sim is the rn=1 row's float, the
      // per-cell ranking and floor() cut are exact-integer on both sides
      Sql(s"""${kmeansCentroidsSql()},
         sp_assign AS (
           SELECT vec_id, cid, sim FROM (
             SELECT e.vec_id, c.cid,
                    CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) AS sim,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         sp_rank AS (
           SELECT vec_id, cid, sim,
                  CAST(row_number() OVER (PARTITION BY cid
                    ORDER BY sim DESC, vec_id) AS INT) AS cell_rank,
                  count(*) OVER (PARTITION BY cid) AS cell_n
           FROM sp_assign)
         SELECT vec_id, cid, sim, cell_rank,
                CAST(cell_rank > floor(0.25 * cell_n) AS INT) AS keep
         FROM sp_rank ORDER BY vec_id"""), Timed),
    // the embedding member of the incremental family: batch vectors vs
    // the cell-indexed corpus, SemDeDup cell-bounded candidates
    QuerySpec("emb_incremental_neardup", (s, d) => Similarity.incrementalSemanticNearDup(s, d),
      // same Lloyd replay + rn=1 assignment for both slices; candidates
      // join within cid, threshold on the DOUBLE cosine, pick ranks the
      // FLOAT cast (cos DESC, corpus_id) — the engine's max(struct)
      Sql(s"""${kmeansCentroidsSql()},
         iassign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         ib AS (SELECT vec_id AS batch_id, v AS bv, cid FROM iassign WHERE vec_id % 10 = 0),
         ic AS (SELECT vec_id AS corpus_id, v, cid FROM iassign WHERE vec_id % 10 <> 0),
         ih0 AS (
           SELECT ib.batch_id, ic.corpus_id,
                  list_cosine_similarity(ic.v, ib.bv) AS cs
           FROM ic JOIN ib USING (cid)),
         ipick AS (
           SELECT batch_id, corpus_id, CAST(cs AS FLOAT) AS cosf,
                  row_number() OVER (PARTITION BY batch_id
                    ORDER BY CAST(cs AS FLOAT) DESC, corpus_id) AS rn
           FROM ih0 WHERE cs >= 0.35)
         SELECT b.vec_id, p.corpus_id IS NULL AS is_new,
                p.corpus_id AS dup_of, p.cosf AS cos
         FROM (SELECT vec_id FROM v0 WHERE vec_id % 10 = 0) b
           LEFT JOIN (SELECT * FROM ipick WHERE rn = 1) p ON b.vec_id = p.batch_id
         ORDER BY vec_id"""), Primed),
    // embedding-space decontamination: paraphrase-resistant tier of the
    // decontam family over the persisted cell index
    QuerySpec("decontam_semantic", (s, d) => Similarity.semanticContaminationReport(s, d),
      // the incremental-semantic replay with roles transposed: the
      // verdict lands on the TRAIN side, contaminated rows only
      Sql(s"""${kmeansCentroidsSql()},
         iassign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         ie AS (SELECT vec_id AS eval_id, v AS ev, cid FROM iassign WHERE vec_id % 10 = 0),
         it AS (SELECT vec_id, v, cid FROM iassign WHERE vec_id % 10 <> 0),
         ih AS (
           SELECT it.vec_id, ie.eval_id,
                  list_cosine_similarity(it.v, ie.ev) AS cs
           FROM it JOIN ie USING (cid)),
         ipick AS (
           SELECT vec_id, eval_id, CAST(cs AS FLOAT) AS cosf,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY CAST(cs AS FLOAT) DESC, eval_id) AS rn
           FROM ih WHERE cs >= 0.35)
         SELECT vec_id, eval_id AS worst_eval, cosf AS cos
         FROM ipick WHERE rn = 1 ORDER BY vec_id"""), Timed),
    // full-training-replay IVF oracle
    QuerySpec("ann_topk_ivf_trained", (s, d) => Similarity.ivfCosineTopKTrained(s, d),
      Sql(s"""${kmeansCentroidsSql()},
       assign AS (
         SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
       q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
       probes AS (
         SELECT qid, qv, cid FROM (
           SELECT q.qid, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.qid
                    ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM q CROSS JOIN cent2 c) WHERE rn <= 4),
       scored AS (
         SELECT p.qid, a.vec_id,
                CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
         FROM assign a JOIN probes p USING (cid)
         WHERE a.vec_id <> p.qid)
       SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
              vec_id, sim
       FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""")),
    // the production search path: consumes the PERSISTED codebook parquet
    // (self-priming on first use), never trains — row-identical to
    // ann_topk_ivf_trained (the artifact IS the trained codebook)
    QuerySpec("ann_topk_ivf_stored", (s, d) => Similarity.ivfCosineTopKStored(s, d),
      SameAs("ann_topk_ivf_trained"), Timed),
    // 1-bit quantization: packed sign-bit signatures, bit_count(xor)
    // Hamming shortlist, exact-cosine rerank of the shortlist only
    // binary quantization: the oracle computes Hamming as the count of
    // sign disagreements (identical by construction to the engine's
    // bit_count(sig XOR qsig) over packed sign bits), shortlists 50 per
    // query on (ham, vec_id), then reranks with exact float cosine
    QuerySpec("ann_topk_binary", (s, d) => Similarity.binarySignTopK(s, d),
      Sql("""WITH v0 AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
         ham AS (
           SELECT q.qid, c.vec_id,
                  list_sum(list_transform(range(1, 65),
                    i -> CASE WHEN (c.v[i] > 0) <> (q.qv[i] > 0) THEN 1 ELSE 0 END)) AS ham
           FROM v0 c CROSS JOIN q WHERE c.vec_id <> q.qid),
         short AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rn
             FROM ham) WHERE rn <= 50),
         scored AS (
           SELECT s.qid, s.vec_id,
                  CAST(list_cosine_similarity(q.qv, c.v) AS FLOAT) AS sim
           FROM short s JOIN v0 c ON s.vec_id = c.vec_id JOIN q ON s.qid = q.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Timed),
    // product quantization: per-subvector codebooks trained distributed,
    // codes as INT columns (the stored index artifact), ADC-scored top-k
    QuerySpec("pq_codes", (s, d) => Similarity.pqEncode(s, d),
      Sql(s"""${pqBooksSql()}
         SELECT p0.vec_id, ${(0 until PqNumSub).map(s => s"p$s.code AS code_$s").mkString(", ")}
         FROM pick0 p0
           ${(1 until PqNumSub).map(s => s"JOIN pick$s p$s USING (vec_id)").mkString("\n           ")}
         ORDER BY vec_id"""), Headline),
    QuerySpec("ann_topk_pq", (s, d) => Similarity.pqTopK(s, d),
      // ADC: exact query vectors against code-reconstructed corpus; the
      // concatenated sub-centroids fold in the same element order as the
      // Spark dot over the concat'd reconstruction
      Sql(s"""${pqBooksSql()},
         recon AS (
           SELECT p0.vec_id, ${(0 until PqNumSub).map(s => s"b$s.cv").mkString(" || ")} AS rv
           FROM pick0 p0
             JOIN book0 b0 ON p0.code = b0.code
             ${(1 until PqNumSub).map(s =>
               s"JOIN pick$s p$s ON p0.vec_id = p$s.vec_id JOIN book$s b$s ON p$s.code = b$s.code")
               .mkString("\n             ")}),
         q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, r.vec_id,
                  CAST(list_inner_product(q.qv, r.rv) AS FLOAT) AS sim
           FROM recon r CROSS JOIN q WHERE r.vec_id <> q.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Headline),
    QuerySpec("ann_topk_ivfpq", (s, d) => Similarity.ivfPqTopK(s, d),
      // coarse cells from the cosine k-means replay, candidate scoring
      // over the PQ reconstruction — IVF bounds the scan, PQ the memory
      Sql(s"""${kmeansCentroidsSql()},
         ${pqBooksCtesSql()},
         cassign AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         recon AS (
           SELECT p0.vec_id, ${(0 until PqNumSub).map(s => s"b$s.cv").mkString(" || ")} AS rv
           FROM pick0 p0
             JOIN book0 b0 ON p0.code = b0.code
             ${(1 until PqNumSub).map(s =>
               s"JOIN pick$s p$s ON p0.vec_id = p$s.vec_id JOIN book$s b$s ON p$s.code = b$s.code")
               .mkString("\n             ")}),
         ar AS (
           SELECT a.vec_id, a.cid, r.rv
           FROM cassign a JOIN recon r ON a.vec_id = r.vec_id),
         q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM q CROSS JOIN cent2 c) WHERE rn <= 4),
         scored AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_inner_product(p.qv, a.rv) AS FLOAT) AS sim
           FROM ar a JOIN probes p USING (cid)
           WHERE a.vec_id <> p.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Timed),
    QuerySpec("ann_topk_ivfpq_res", (s, d) => Similarity.ivfPqResidualTopK(s, d),
      // residual PQ: books trained on x - centroid(cell); scoring adds
      // the centroid back element-wise before the same fold
      Sql(s"""${kmeansCentroidsSql()},
         cassign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         res AS (
           SELECT a.vec_id,
                  list_transform(range(len(a.v)), j -> a.v[j + 1] - c.cv[j + 1]) AS v
           FROM cassign a JOIN cent2 c USING (cid)),
         ${pqBooksCtesSql(src = "res")},
         rrecon AS (
           SELECT p0.vec_id, b0.cv || b1.cv || b2.cv || b3.cv || b4.cv || b5.cv || b6.cv || b7.cv AS rv
           FROM pick0 p0
             JOIN book0 b0 ON p0.code = b0.code
             JOIN pick1 p1 ON p0.vec_id = p1.vec_id JOIN book1 b1 ON p1.code = b1.code
             JOIN pick2 p2 ON p0.vec_id = p2.vec_id JOIN book2 b2 ON p2.code = b2.code
             JOIN pick3 p3 ON p0.vec_id = p3.vec_id JOIN book3 b3 ON p3.code = b3.code
             JOIN pick4 p4 ON p0.vec_id = p4.vec_id JOIN book4 b4 ON p4.code = b4.code
             JOIN pick5 p5 ON p0.vec_id = p5.vec_id JOIN book5 b5 ON p5.code = b5.code
             JOIN pick6 p6 ON p0.vec_id = p6.vec_id JOIN book6 b6 ON p6.code = b6.code
             JOIN pick7 p7 ON p0.vec_id = p7.vec_id JOIN book7 b7 ON p7.code = b7.code),
         frecon AS (
           SELECT a.vec_id, a.cid,
                  list_transform(range(len(c.cv)), j -> c.cv[j + 1] + r.rv[j + 1]) AS rv
           FROM cassign a JOIN cent2 c USING (cid)
             JOIN rrecon r ON a.vec_id = r.vec_id),
         q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM q CROSS JOIN cent2 c) WHERE rn <= 4),
         scored AS (
           SELECT p.qid, f.vec_id,
                  CAST(list_inner_product(p.qv, f.rv) AS FLOAT) AS sim
           FROM frecon f JOIN probes p USING (cid)
           WHERE f.vec_id <> p.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Headline),
    QuerySpec("ann_topk_dot", (s, d) => Similarity.dotTopK(s, d),
      Sql("""WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         scored AS (
           SELECT qid, vec_id, CAST(list_inner_product(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""")),
    // Matryoshka two-stage retrieval: 32-dim-prefix shortlist (50/query),
    // full-dim rerank of the shortlist only. (An MRL-trained model packs
    // the signal into a much shorter prefix; the synthetic fixture has no
    // such structure, so the registered config is the honest half-dims
    // point — recall vs brute force is spec-measured.)
    // Matryoshka two-stage: 32-dim-prefix cosine shortlist (float-ranked,
    // 50/query), then full-dim rerank of shortlist rows only — both
    // stages' ranks tie-break on vec_id like every ANN row
    QuerySpec("ann_topk_mrl", (s, d) => Similarity.mrlTopK(s, d),
      Sql("""WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         short AS (
           SELECT qid, vec_id FROM (
             SELECT q.qid, v.vec_id,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY CAST(list_cosine_similarity(q.qv[1:32], v.v[1:32]) AS FLOAT) DESC,
                               v.vec_id) AS rn
             FROM q CROSS JOIN v WHERE v.vec_id <> q.qid)
           WHERE rn <= 50),
         scored AS (
           SELECT s.qid, s.vec_id,
                  CAST(list_cosine_similarity(q.qv, v.v) AS FLOAT) AS sim
           FROM short s JOIN q USING (qid) JOIN v USING (vec_id))
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""), Timed),
    // pinned planes (see ann_topk_lsh); the float cast on the verified
    // cosine absorbs the ≤1-ulp double drift between engines so the row
    // hash-compares (the >= threshold is evaluated on the double in BOTH
    // engines before the cast)
    QuerySpec("emb_near_dup_pairs", (s, d) =>
      Similarity.embeddingNearDupPairs(s, d, planesPerBand = 8)
        .withColumn("cos_sim", col("cos_sim").cast("float")),
      Sql(s"""${lshBucketKeysSql()},
         cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                  FROM bb a JOIN bb b USING (bucket_key) WHERE a.vec_id < b.vec_id),
         scored AS (
           SELECT vec_a, vec_b, list_cosine_similarity(va.v, vb.v) AS cs
           FROM cand JOIN v0 va ON vec_a = va.vec_id
                     JOIN v0 vb ON vec_b = vb.vec_id)
         SELECT vec_a, vec_b, CAST(cs AS FLOAT) AS cos_sim
         FROM scored WHERE cs >= 0.35 ORDER BY vec_a, vec_b"""), Timed),
    // embedding spikiness (L∞) z-score outlier gate
    QuerySpec("emb_outlier_report", (s, d) => Similarity.embSpikeOutliers(s, d),
      // fixed-point L∞ peaks make both moments exact integer sums; the
      // z-score chain replays the pinned mean/std arithmetic
      Sql("""WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id,
                  CAST(round(CAST(CAST(list_max(list_transform(v, x -> abs(x))) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS nf
           FROM v),
         mo AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(nf) AS BIGINT) AS s1,
                  CAST(SUM(nf * nf) AS BIGINT) AS s2
           FROM nr),
         z AS (
           SELECT vec_id, nf,
                  (CAST(nf AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / sqrt((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                         - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) AS z
           FROM nr, mo)
         SELECT vec_id, CAST(nf AS DOUBLE) / 1000000.0 AS max_abs, z FROM z
         WHERE abs(z) >= CAST(2.0 AS DOUBLE) ORDER BY vec_id"""), Timed),
    // embedding centroids (average pooling) via the typed vector
    // aggregator; registered exploded to (label, pos, val) rows
    QuerySpec("emb_centroids", VectorCentroidAggregator.perLabelExploded _,
      // fixed-point (floor(x * 1e6) BIGINT) sums make the distributed mean
      // order-independent and exactly replayable; the divide order
      // (sum -> double, / 1e6, / n) mirrors the Aggregator's finish()
      Sql("""WITH e AS (
           SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                  unnest(embedding) AS v
           FROM embeddings)
         SELECT label, CAST(pos AS INT) AS pos,
                CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 / COUNT(*) AS centroid_val,
                COUNT(*) AS n
         FROM e GROUP BY label, pos ORDER BY label, pos"""), Timed),
    // semantic dedup (SemDeDup shape: k-means cells, then within-cell
    // cosine) and JL random projection over the embedding corpus
    QuerySpec("dedup_semantic", (s, d) => Similarity.semDedupDecisions(s, d),
      // same trained centroids as kmeans_assign; the within-cell threshold
      // runs on the DOUBLE cosine in both engines (emb_near_dup convention)
      Sql(s"""${kmeansCentroidsSql()},
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         drops AS (
           SELECT DISTINCT a.vec_id FROM assign a JOIN assign b
           ON a.cid = b.cid AND b.vec_id < a.vec_id
             AND list_cosine_similarity(a.v, b.v) >= 0.35)
         SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
         FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
         ORDER BY a.vec_id"""), Headline),
    // registered exploded (vec_id, pos, val): float values compare
    // numerically; an array-of-float column would need string formatting
    // that the two engines render differently
    QuerySpec("emb_project", (s, d) => Similarity.randomProjection(s, d)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "val"))),
      // the same ±1/√k rows the Spark fold multiplies by, emitted as SQL
      // literals from the same generator
      Sql(s"""WITH v0 AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          p AS (
            SELECT vec_id, ${embProjectionListSql()} AS proj FROM v0)
          SELECT vec_id, CAST(t.pos AS INT) AS pos, proj[t.pos + 1] AS val
          FROM p, unnest(range(len(proj))) AS t(pos)
          ORDER BY vec_id, pos"""), Timed),
    // top principal component: one-pass fixed-point moments, bounded
    // driver power iteration (oracle replays moments + every round)
    QuerySpec("emb_pca_component", Pca.componentTable _,
      Sql(s"""${pcaSql()}
         SELECT CAST(p.j - 1 AS INT) AS pos, p.loading, e.eig AS eigenvalue
         FROM ppc p, peig e ORDER BY pos"""), Timed),
    // per-vector PC1 score — map-side centered dot with literal arrays
    QuerySpec("emb_pca_project", Pca.project _,
      Sql(s"""${pcaSql()},
         pproj AS (
           SELECT pv0.vec_id,
                  SUM(CAST(floor((pv0.v[t.j] - m.m) * p.loading * 1000000000.0) AS BIGINT)) AS pfx
           FROM pv0, range(1, 65) t(j)
           JOIN pmean m ON t.j = m.j
           JOIN ppc p ON t.j = p.j
           GROUP BY pv0.vec_id)
         SELECT vec_id, CAST(pfx AS DOUBLE) / 1000000000.0 AS pc1
         FROM pproj ORDER BY vec_id"""), Timed),
  )
}
