package graft.registry

import graft.operators.LinkGraph
import graft.registry.BenchRole._
import graft.registry.Oracle.{SameAs, Sql}

/** Graph rows over the event transition graph: PageRank, PPR, HITS, label propagation,
  * SCC and condensation, k-core, BFS and widest paths, triangles, neighborhoods and walks.
  */
object GraphQueries {

  /** Unrolled-power-iteration PageRank oracle over the event transition
    * graph: `iters` rounds of (fixed-point contribution sum, fixed-point
    * dangling mass, pinned-order rank update) — each CTE triple mirrors
    * one loop round of graft.operators.LinkGraph.pageRank bit for bit.
    * Ends at `r$iters` = (node, r).
    */
  private def pageRankSql(iters: Int = 3): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         outw AS (SELECT src, CAST(SUM(weight) AS DOUBLE) AS outw FROM edges GROUP BY 1),
         en AS (
           SELECT e.src, e.dst, CAST(e.weight AS DOUBLE) / o.outw AS share
           FROM edges e JOIN outw o USING (src)),
         nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes, nn)"""
    val iterCtes = (1 to iters).map { i =>
      s"""s$i AS (
           SELECT en.dst AS node,
                  SUM(CAST(round(CAST(CAST(r.r * en.share AS FLOAT) AS DOUBLE) * 1000000000.0) AS BIGINT)) AS sfix
           FROM en JOIN r${i - 1} r ON en.src = r.node GROUP BY 1),
         d$i AS (
           SELECT COALESCE(SUM(CAST(round(r.r * 1000000000.0) AS BIGINT)), 0) AS dfix
           FROM r${i - 1} r LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
         r$i AS (
           SELECT nd.node,
                  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * ((CAST(COALESCE(s.sfix, 0) AS DOUBLE) / 1000000000.0)
                                            + (CAST(d.dfix AS DOUBLE) / 1000000000.0) / nn.n) AS r
           FROM nodes nd LEFT JOIN s$i s ON nd.node = s.node, d$i d, nn)"""
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Unrolled label-propagation oracle: the [[pageRankSql]] graph head,
    * then `iters` synchronous rounds — symmetrized weight-merged edges,
    * per-(node,label) integer vote sums, argmax with (sw DESC, l ASC)
    * tie-break, isolated nodes carrying their previous label. Integer
    * arithmetic end to end, so the replay is exact by construction.
    */
  private def labelPropSql(iters: Int = 3): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         sym AS (
           SELECT src AS u, dst AS v, weight FROM edges
           UNION ALL
           SELECT dst AS u, src AS v, weight FROM edges),
         und AS (SELECT u, v, SUM(weight) AS w FROM sym GROUP BY 1, 2),
         l0 AS (SELECT node, node AS l FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      s"""v$i AS (
           SELECT und.u, r.l, SUM(und.w) AS sw
           FROM und JOIN l${i - 1} r ON und.v = r.node GROUP BY 1, 2),
         t$i AS (
           SELECT u, l FROM (
             SELECT u, l,
                    ROW_NUMBER() OVER (PARTITION BY u ORDER BY sw DESC, l ASC) AS rn
             FROM v$i) WHERE rn = 1),
         l$i AS (
           SELECT nd.node, COALESCE(t.l, p.l) AS l
           FROM nodes nd
           LEFT JOIN t$i t ON nd.node = t.u
           JOIN l${i - 1} p ON nd.node = p.node)"""
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** K-core peeling oracle: `rounds` unrolled drop-below-k passes over
    * the distinct undirected edge set. The fixpoint is unique and extra
    * rounds are no-ops on a converged set, so over-unrolling is safe —
    * the engine loop runs to ACTUAL convergence and the spec pins its
    * round count under this unroll.
    */
  private def kCoreSql(k: Int = 3, rounds: Int = 12): String = {
    // per-round CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and
    // each round references the previous one three times — an inlined
    // chain expands to 3^rounds base scans (observed as an fd blowup)
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         u0 AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM edges)"""
    val iter = (1 to rounds).map { i =>
      s"""kk$i AS MATERIALIZED (
           SELECT n FROM (
             SELECT n, COUNT(*) AS d FROM (
               SELECT u AS n FROM u${i - 1} UNION ALL SELECT v FROM u${i - 1})
             GROUP BY 1) WHERE d >= $k),
         u$i AS MATERIALIZED (
           SELECT u, v FROM u${i - 1}
           WHERE u IN (SELECT n FROM kk$i) AND v IN (SELECT n FROM kk$i))"""
    }
    (head +: iter).mkString(",\n")
  }

  /** Bounded-hop BFS oracle: `maxHops` unrolled frontier expansions with
    * integer min-relaxation — MATERIALIZED per round (each references
    * the previous twice; the k-core inlining lesson).
    */
  private def widestSql(maxHops: Int = 6): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         w0 AS MATERIALIZED (
           SELECT node, CAST(4611686018427387904 AS BIGINT) AS cap
           FROM nodes WHERE node % 10 = 0)"""
    val iter = (1 to maxHops).map { h =>
      s"""w$h AS MATERIALIZED (
           SELECT node, MAX(cap) AS cap FROM (
             SELECT node, cap FROM w${h - 1}
             UNION ALL
             SELECT e.dst AS node, LEAST(d.cap, e.weight) AS cap
             FROM edges e JOIN w${h - 1} d ON e.src = d.node)
           GROUP BY 1)"""
    }
    (head +: iter).mkString(",\n")
  }

  private def bfsSql(maxHops: Int = 6): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         bsym AS MATERIALIZED (
           SELECT DISTINCT u, v FROM (
             SELECT src AS u, dst AS v FROM edges
             UNION ALL SELECT dst AS u, src AS v FROM edges)),
         b0 AS MATERIALIZED (
           SELECT node, 0 AS dist FROM nodes WHERE node % 10 = 0)"""
    val iter = (1 to maxHops).map { h =>
      s"""b$h AS MATERIALIZED (
           SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM b${h - 1}
             UNION ALL
             SELECT s.v AS node, $h AS dist
             FROM bsym s JOIN b${h - 1} d ON s.u = d.node
             WHERE d.dist = ${h - 1})
           GROUP BY 1)"""
    }
    (head +: iter).mkString(",\n")
  }

  /** Exact-closure SCC oracle base: the directed transition edges'
    * recursive transitive closure (`reach`, UNION-deduped so the
    * fixpoint is |items|²-bounded), mutual-reachability pairs (`mut`,
    * the closure self-joined both ways), and per-node scc_id = min
    * mutual partner with self included (`sid`). Ground truth for the
    * Spark side's FW-BW label-splitting loop (LinkGraph.sccOver).
    */
  private def sccBaseSql: String =
    """WITH RECURSIVE ev AS (
         SELECT user_id, ts, event_id,
                TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
         FROM events),
       tr AS (
         SELECT item AS dst,
                lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         FROM ev),
       wedges AS (
         SELECT src, dst, COUNT(*) AS weight FROM tr
         WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       bb AS MATERIALIZED (
         SELECT src, dst, weight FROM (
           SELECT src, dst, weight,
                  row_number() OVER (PARTITION BY src
                    ORDER BY weight DESC, dst) AS rn
           FROM wedges) WHERE rn <= 2),
       dedges AS MATERIALIZED (SELECT src, dst FROM bb),
       nodes AS (SELECT DISTINCT item AS node FROM ev),
       reach(u, v) AS (
         SELECT src, dst FROM dedges
         UNION
         SELECT r.u, e.dst FROM reach r JOIN dedges e ON r.v = e.src),
       mut AS MATERIALIZED (
         SELECT a.u AS x, a.v AS y
         FROM reach a JOIN reach b ON a.u = b.v AND a.v = b.u),
       sid AS MATERIALIZED (
         SELECT n.node, LEAST(n.node, COALESCE(MIN(m.y), n.node)) AS scc_id
         FROM nodes n LEFT JOIN mut m ON n.node = m.x
         GROUP BY n.node)"""

  /** Hop-unrolled neighborhood-function oracle over the backbone:
    * reach-pair sets p1..pH (self included, UNION-deduped,
    * MATERIALIZED per hop — the kcore fd-blowup lesson), counted per
    * node per hop. Mirrors LinkGraph.neighborhoodOver exactly.
    */
  private def neighborhoodSql(maxHops: Int = 3): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         wedges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         bb AS MATERIALIZED (
           SELECT src, dst FROM (
             SELECT src, dst,
                    row_number() OVER (PARTITION BY src
                      ORDER BY weight DESC, dst) AS rn
             FROM wedges) WHERE rn <= 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         p0 AS (SELECT node AS u, node AS v FROM nodes)"""
    val hops = (1 to maxHops).map { h =>
      s"""p$h AS MATERIALIZED (
           SELECT DISTINCT u, v FROM (
             SELECT u, v FROM p${h - 1}
             UNION ALL
             SELECT p.u, e.dst AS v FROM p${h - 1} p JOIN bb e ON p.v = e.src)),
         c$h AS (SELECT u, COUNT(*) AS r$h FROM p$h GROUP BY 1)"""
    }
    val joins = (1 to maxHops).map(h => s"JOIN c$h ON n.node = c$h.u").mkString(" ")
    val cols = (1 to maxHops).map(h => s"c$h.r$h").mkString(", ")
    s"""${(head +: hops).mkString(",\n")}
       SELECT n.node, $cols FROM nodes n $joins ORDER BY n.node"""
  }

  /** Degree-ordered triangle oracle: replays
    * graft.operators.LinkGraph.nodeTriangles verbatim — distinct
    * undirected edges, (degree, id) orientation, ordered wedges, closing
    * probe — exact integer arithmetic throughout, ending in the
    * per-node (node, degree, triangles) frame `pn`.
    */
  private def triangleBaseSql: String =
    """WITH ev AS (
         SELECT user_id, ts, event_id,
                TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
         FROM events),
       tr AS (
         SELECT item AS dst,
                lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         FROM ev),
       edges AS (
         SELECT src, dst, COUNT(*) AS weight FROM tr
         WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       nodes AS (SELECT DISTINCT item AS node FROM ev),
       und AS (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM edges),
       deg AS (
         SELECT n, COUNT(*) AS d FROM (
           SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
         GROUP BY 1),
       orient AS (
         SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND un.u < un.v)
                     THEN un.u ELSE un.v END AS a,
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND un.u < un.v)
                     THEN un.v ELSE un.u END AS b,
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND un.u < un.v)
                     THEN dv.d ELSE du.d END AS db
         FROM und un
         JOIN deg du ON un.u = du.n
         JOIN deg dv ON un.v = dv.n),
       tris AS (
         SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM orient e1
         JOIN orient e2 ON e1.a = e2.a
           AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
         JOIN orient e3 ON e3.a = e1.b AND e3.b = e2.b),
       pt AS (
         SELECT n, COUNT(*) AS t FROM (
           SELECT x AS n FROM tris
           UNION ALL SELECT y FROM tris
           UNION ALL SELECT z FROM tris)
         GROUP BY 1),
       pn AS (
         SELECT nd.node,
                COALESCE(dg.d, 0) AS degree,
                COALESCE(pt.t, 0) AS triangles
         FROM nodes nd
         LEFT JOIN deg dg ON nd.node = dg.n
         LEFT JOIN pt ON nd.node = pt.n)"""

  /** Unrolled personalized-PageRank oracle: the [[pageRankSql]] loop with
    * teleportation — and dangling mass — returning to the pinned seed
    * set (node % 10 = 0) via the per-node `tele` column; the rank update
    * replays graft.operators.LinkGraph.personalizedPageRank's pinned
    * arithmetic (NOT the uniform loop's driver-folded constants).
    */
  private def pprSql(iters: Int = 3): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         outw AS (SELECT src, CAST(SUM(weight) AS DOUBLE) AS outw FROM edges GROUP BY 1),
         en AS (
           SELECT e.src, e.dst, CAST(e.weight AS DOUBLE) / o.outw AS share
           FROM edges e JOIN outw o USING (src)),
         sd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM nodes WHERE node % 10 = 0),
         tele AS (
           SELECT node,
                  CASE WHEN node % 10 = 0 THEN CAST(1.0 AS DOUBLE) / sd.ns
                       ELSE CAST(0.0 AS DOUBLE) END AS tele
           FROM nodes, sd),
         r0 AS (SELECT node, tele AS r FROM tele)"""
    val iterCtes = (1 to iters).map { i =>
      s"""s$i AS (
           SELECT en.dst AS node,
                  SUM(CAST(round(CAST(CAST(r.r * en.share AS FLOAT) AS DOUBLE) * 1000000000.0) AS BIGINT)) AS sfix
           FROM en JOIN r${i - 1} r ON en.src = r.node GROUP BY 1),
         d$i AS (
           SELECT COALESCE(SUM(CAST(round(r.r * 1000000000.0) AS BIGINT)), 0) AS dfix
           FROM r${i - 1} r LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
         r$i AS (
           SELECT t.node,
                  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
                  + CAST(0.85 AS DOUBLE) * ((CAST(COALESCE(s.sfix, 0) AS DOUBLE) / 1000000000.0)
                                            + (CAST(d.dfix AS DOUBLE) / 1000000000.0) * t.tele) AS r
           FROM tele t LEFT JOIN s$i s ON t.node = s.node, d$i d)"""
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Unrolled deterministic-random-walk oracle: exact integer
    * cumulative-weight spans per out-edge set, then one CTE per step
    * drawing u = md5(walk:step) mod outweight and stepping by interval
    * containment — graft.operators.LinkGraph.randomWalks replayed
    * join for join (no floating point anywhere).
    */
  private def walksSql(length: Int = 4): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         sp AS (
           SELECT src, dst, weight,
                  SUM(weight) OVER (PARTITION BY src ORDER BY dst ROWS UNBOUNDED PRECEDING) AS hi,
                  SUM(weight) OVER (PARTITION BY src ORDER BY dst ROWS UNBOUNDED PRECEDING) - weight AS lo,
                  SUM(weight) OVER (PARTITION BY src) AS total
           FROM edges),
         w0 AS (SELECT node AS walk_id, node AS cur FROM nodes)"""
    val stepCtes = (1 to length).map { t =>
      s"""w$t AS (
           SELECT w.walk_id, s.dst AS cur
           FROM w${t - 1} w JOIN sp s ON w.cur = s.src
           WHERE (('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || ':' || '$t'), 1, 8))::BIGINT % s.total) >= s.lo
             AND (('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || ':' || '$t'), 1, 8))::BIGINT % s.total) < s.hi)"""
    }
    val union = (0 to length)
      .map(t => s"SELECT walk_id, $t AS step, cur AS node FROM w$t")
      .mkString("\n           UNION ALL ")
    (head +: stepCtes).mkString(",\n") +
      s"\n         SELECT walk_id, step, node FROM (\n           $union)\n         ORDER BY walk_id, step"
  }

  /** Unrolled HITS oracle over the same transition graph: per iteration,
    * an authority half-step (fixed-point pull src→dst, exact BIGINT L1
    * norm, pinned division) then a hub half-step (dst→src) — each CTE
    * triple mirrors one graft.operators.LinkGraph.halfStep bit for bit.
    * Ends at `a$iters` / `h$iters` = (node, s).
    */
  private def hitsSql(iters: Int = 2): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         e AS (SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM edges),
         h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS s FROM nodes)"""
    def half(out: String, in: String, from: String, to: String): String =
      s"""${out}p AS (
           SELECT e.$to AS node,
                  SUM(CAST(round(CAST(CAST(x.s * e.w AS FLOAT) AS DOUBLE) * 1000000000.0) AS BIGINT)) AS sfix
           FROM e JOIN $in x ON e.$from = x.node GROUP BY 1),
         ${out}n AS (SELECT COALESCE(SUM(sfix), 0) AS norm FROM ${out}p),
         $out AS (
           SELECT nd.node,
                  CAST(COALESCE(p.sfix, 0) AS DOUBLE) / CAST(n.norm AS DOUBLE) AS s
           FROM nodes nd LEFT JOIN ${out}p p ON nd.node = p.node, ${out}n n)"""
    val iterCtes = (1 to iters).flatMap { i =>
      Seq(
        half(s"a$i", if (i == 1) "h0" else s"h${i - 1}", "src", "dst"),
        half(s"h$i", s"a$i", "dst", "src"))
    }
    (head +: iterCtes).mkString(",\n")
  }

  val specs: Seq[QuerySpec] = Seq(
    // click-graph construction + unrolled-power-iteration PageRank
    QuerySpec("graph_transition_edges", LinkGraph.transitionEdges _,
      Sql("""WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev)
         SELECT src, dst, COUNT(*) AS weight FROM tr
         WHERE src IS NOT NULL AND src <> dst
         GROUP BY 1, 2 ORDER BY src, dst"""), Timed),
    // the DEFAULT row consumes the PERSISTED (edges, nodes) artifact
    // (the cluster-decision convention — build the graph once per corpus
    // version); row-identical to the rebuild row, one oracle
    QuerySpec("graph_pagerank", (s, d) => LinkGraph.pageRankStored(s, d),
      Sql(s"""${pageRankSql()}
         SELECT node, r AS pr FROM r3 ORDER BY node"""), Headline),
    // edge construction + iteration, timed as its own explicit row
    // the rebuild twin re-derives the graph — row-identical by
    // construction, same oracle
    QuerySpec("graph_pagerank_rebuild", (s, d) => LinkGraph.pageRank(s, d),
      SameAs("graph_pagerank"), Headline),
    // the past-broadcast-ceiling code path, forced at test scale
    // the past-ceiling join-loop variant changes the join STRATEGY, not
    // the arithmetic — bit-identical ranks, same oracle
    QuerySpec("graph_pagerank_joinloop", (s, d) => LinkGraph.pageRankStored(s, d, broadcastCeiling = 0L),
      SameAs("graph_pagerank"), Timed),
    // HITS hubs/authorities, every half-step unrolled in the oracle
    QuerySpec("graph_hits", (s, d) => LinkGraph.hits(s, d),
      Sql(s"""${hitsSql()}
         SELECT nd.node, h.s AS hub, a.s AS authority
         FROM nodes nd JOIN h2 h ON nd.node = h.node JOIN a2 a ON nd.node = a.node
         ORDER BY nd.node"""), Timed),
    // HITS past the broadcast ceiling: two pinned edge layouts
    // (forward/reverse adjacency), score frame as shuffle-hash build side
    // join-loop twin: strategy, not values — same oracle as graph_hits
    QuerySpec("graph_hits_joinloop", (s, d) => LinkGraph.hits(s, d, broadcastCeiling = 0L),
      SameAs("graph_hits"), Timed),
    // personalized PageRank from the pinned seed set (node % 10 = 0)
    QuerySpec("graph_ppr", (s, d) => LinkGraph.personalizedPageRank(s, d),
      Sql(s"""${pprSql()}
         SELECT node, r AS ppr FROM r3 ORDER BY node"""), Timed),
    // PPR past the broadcast ceiling (shared contrib-join seam)
    // join-loop twin: strategy, not values — same oracle as graph_ppr
    QuerySpec("graph_ppr_joinloop", (s, d) => LinkGraph.personalizedPageRank(s, d, broadcastCeiling = 0L),
      SameAs("graph_ppr"), Timed),
    // synchronous label propagation communities (integer-exact argmax,
    // min-label tie-break), every round unrolled in the oracle
    QuerySpec("graph_label_prop", (s, d) => LinkGraph.labelPropagation(s, d),
      Sql(s"""${labelPropSql()}
         SELECT node, l AS community FROM l3 ORDER BY node"""), Timed),
    // label propagation past the broadcast ceiling: v-pinned cached
    // symmetrized edges, label frame as shuffle-hash build side
    // join-loop twin: strategy, not values — same oracle
    QuerySpec("graph_label_prop_joinloop", (s, d) => LinkGraph.labelPropagation(s, d, broadcastCeiling = 0L),
      SameAs("graph_label_prop"), Timed),
    // the community-size profile a curation planner consumes
    QuerySpec("graph_label_prop_sizes", (s, d) => LinkGraph.labelCommunitySizes(s, d),
      Sql(s"""${labelPropSql()}
         SELECT l AS community, COUNT(*) AS members
         FROM l3 GROUP BY 1 ORDER BY 1"""), Timed),
    // Newman modularity profile of the converged partition — exact
    // integer fix per community, one division
    QuerySpec("graph_label_prop_modularity", (s, d) => LinkGraph.labelPropModularity(s, d),
      // per-community Q contribution in exact integer arithmetic
      // (w_in·m2 − w_tot²), one division of integer-valued doubles
      Sql(s"""${labelPropSql()},
         symq AS (
           SELECT src AS u, dst AS v, weight FROM edges
           UNION ALL SELECT dst AS u, src AS v, weight FROM edges),
         tg AS (
           SELECT s.u, s.v, s.weight, a.l AS cu, b.l AS cv
           FROM symq s JOIN l3 a ON s.u = a.node JOIN l3 b ON s.v = b.node),
         m2 AS (SELECT CAST(SUM(weight) AS BIGINT) AS m2 FROM tg),
         pc AS (
           SELECT cu AS community,
                  CAST(SUM(CASE WHEN cu = cv THEN weight ELSE 0 END) AS BIGINT) AS w_in,
                  CAST(SUM(weight) AS BIGINT) AS w_tot
           FROM tg GROUP BY 1),
         mem AS (SELECT l AS community, COUNT(*) AS members FROM l3 GROUP BY 1)
         SELECT mem.community, mem.members,
                COALESCE(pc.w_in, 0) AS w_in,
                COALESCE(pc.w_tot, 0) AS w_tot,
                CAST(COALESCE(pc.w_in, 0) * m2.m2
                     - COALESCE(pc.w_tot, 0) * COALESCE(pc.w_tot, 0) AS DOUBLE)
                  / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)) AS q_contrib
         FROM mem LEFT JOIN pc ON mem.community = pc.community, m2
         ORDER BY mem.community"""), Timed),
    // per-node triangle counts via degree-ordered wedge orientation
    QuerySpec("graph_triangles", (s, d) => LinkGraph.triangleCounts(s, d),
      Sql(s"""$triangleBaseSql
         SELECT node, triangles FROM pn ORDER BY node"""), Timed),
    // 3-core membership by iterative peeling (unique fixpoint; the
    // oracle over-unrolls safely)
    QuerySpec("graph_kcore", (s, d) => LinkGraph.kCoreMembers(s, d),
      Sql(s"""${kCoreSql()}
         SELECT n AS node, COUNT(*) AS core_degree FROM (
           SELECT u AS n FROM u12 UNION ALL SELECT v FROM u12)
         GROUP BY 1 ORDER BY 1"""), Timed),
    // directed strongly connected components (FW-BW label splitting,
    // convergence-checked) + the condensation DAG between them; the
    // oracle is the exact recursive-closure SCC — a hash match proves
    // the distributed splitting loop exact
    // exact-closure SCC: reach is the recursive transitive closure
    // (UNION-deduped, |items|²-bounded), mutual pairs are its self-join,
    // scc_id = min mutual partner (self included) — the ground truth the
    // Spark FW-BW splitting loop must reproduce exactly
    QuerySpec("graph_scc", (s, d) => LinkGraph.sccComponents(s, d),
      Sql(s"""$sccBaseSql
         SELECT node, scc_id,
                COUNT(*) OVER (PARTITION BY scc_id) AS scc_size
         FROM sid ORDER BY node"""), Headline),
    QuerySpec("graph_condensation", (s, d) => LinkGraph.sccCondensation(s, d),
      Sql(s"""$sccBaseSql
         SELECT s1.scc_id AS src_scc, s2.scc_id AS dst_scc,
                CAST(SUM(e.weight) AS BIGINT) AS weight
         FROM bb e
           JOIN sid s1 ON e.src = s1.node
           JOIN sid s2 ON e.dst = s2.node
         WHERE s1.scc_id <> s2.scc_id
         GROUP BY 1, 2 ORDER BY 1, 2"""), Primed),
    // exact neighborhood function (reach@1..3) over the backbone — the
    // effective-diameter primitive; the top-k cut bounds the ball at
    // k^t so the exact pair set replaces the HyperBall sketch
    QuerySpec("graph_neighborhood", (s, d) => LinkGraph.neighborhoodCounts(s, d),
      Sql(neighborhoodSql()), Timed),
    // per-SCC rollup from the stored map: size + internal/in/out weight
    QuerySpec("graph_scc_profile", (s, d) => LinkGraph.sccProfile(s, d),
      Sql(s"""$sccBaseSql,
         j AS (
           SELECT s1.scc_id AS a, s2.scc_id AS b, e.weight
           FROM bb e JOIN sid s1 ON e.src = s1.node
                     JOIN sid s2 ON e.dst = s2.node)
         SELECT g.scc_id, g.scc_size,
                CAST(COALESCE(i.iw, 0) AS BIGINT) AS internal_weight,
                CAST(COALESCE(n.nw, 0) AS BIGINT) AS in_weight,
                CAST(COALESCE(o.ow, 0) AS BIGINT) AS out_weight
         FROM (SELECT scc_id, COUNT(*) AS scc_size FROM sid GROUP BY 1) g
         LEFT JOIN (SELECT a AS scc_id, SUM(weight) AS iw FROM j
                    WHERE a = b GROUP BY 1) i USING (scc_id)
         LEFT JOIN (SELECT b AS scc_id, SUM(weight) AS nw FROM j
                    WHERE a <> b GROUP BY 1) n USING (scc_id)
         LEFT JOIN (SELECT a AS scc_id, SUM(weight) AS ow FROM j
                    WHERE a <> b GROUP BY 1) o USING (scc_id)
         ORDER BY g.scc_id"""), Timed),
    // 6-hop BFS distances from the pinned seed set (fixed-round contract)
    QuerySpec("graph_bfs_distances", (s, d) => LinkGraph.bfsDistances(s, d),
      Sql(s"""${bfsSql()}
         SELECT node, dist FROM b6 ORDER BY node"""), Timed),
    // max-bottleneck capacities from the seed set, 6 relaxation rounds
    QuerySpec("graph_widest_path", (s, d) => LinkGraph.widestPaths(s, d),
      // 6 unrolled relaxation rounds, exact integer min/max throughout;
      // MATERIALIZED per round (the kcore fd-blowup lesson)
      Sql(s"""${widestSql()}
         SELECT node, cap FROM w6
         WHERE cap < 4611686018427387904 ORDER BY node"""), Timed),
    // local clustering coefficient over the same oriented-wedge counts
    QuerySpec("graph_clustering_coeff", (s, d) => LinkGraph.clusteringCoefficients(s, d),
      Sql(s"""$triangleBaseSql
         SELECT node, degree, triangles,
                CASE WHEN degree >= 2
                     THEN CAST(triangles * 2 AS DOUBLE)
                          / (CAST(degree AS DOUBLE) * CAST(degree - 1 AS DOUBLE))
                     ELSE CAST(0.0 AS DOUBLE) END AS lcc
         FROM pn ORDER BY node"""), Timed),
    // deterministic weighted random walks (hash-derandomized DeepWalk)
    QuerySpec("graph_random_walks", (s, d) => LinkGraph.randomWalks(s, d),
      Sql(walksSql()), Timed),
    // DeepWalk skip-gram co-occurrence pairs over the derandomized walks
    // the walks CTE replays the registered walks oracle verbatim; the
    // pair extraction is a windowed self-join with exact-integer counts
    QuerySpec("graph_walk_skipgrams", (s, d) => LinkGraph.walkSkipgrams(s, d),
      Sql(s"""WITH walks AS (
           ${walksSql()}
         )
         SELECT a.node AS center, b.node AS context, COUNT(*) AS cnt
         FROM walks a JOIN walks b
           ON a.walk_id = b.walk_id AND a.step <> b.step
          AND abs(a.step - b.step) <= 2
         GROUP BY 1, 2
         ORDER BY center, context"""), Timed),
  )
}
