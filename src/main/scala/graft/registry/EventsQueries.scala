package graft.registry

import graft.operators.{Events, Relational, Snapshot}
import graft.registry.BenchRole._
import graft.registry.Oracle.{SameAs, Sql}

/** Event-stream and snapshot rows: sessionization, enrichment, funnels, retention, cohorts,
  * trending, A/B tests, preference pairs and ratings, basket lift, SCD-2 history and upserts.
  */
object EventsQueries {

  /** Unrolled Bradley-Terry MM oracle: replays
    * [[graft.operators.Events.btRatings]] exactly — ×10⁶ fixed-point
    * (user,item) value means, capped baskets with full tiebreaks, then
    * `iters` MM rounds where the per-item denominator is a BIGINT sum
    * of floor(·×10⁹) terms and the phantom-anchor update mirrors the
    * engine's scalar op order. Per-round CTEs AS MATERIALIZED: round t
    * reads round t−1 three times and DuckDB would otherwise inline the
    * chain into 3^t base scans.
    */
  private def btSql(iters: Int = graft.operators.Events.BtIters): String = {
    val cap = graft.operators.Events.BtBasketCap
    val head =
      s"""WITH bt_ev AS (
           SELECT user_id,
                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
                  value
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL
             AND value IS NOT NULL),
         bt_um AS (
           SELECT user_id, item,
                  (CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
                     / 1000000.0) / CAST(COUNT(*) AS DOUBLE) AS mean
           FROM bt_ev GROUP BY 1, 2),
         bt_bk AS (
           SELECT user_id, item, mean FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
                         ORDER BY mean DESC, item ASC) AS rn
             FROM bt_um)
           WHERE rn <= $cap),
         bt_cmp AS (
           SELECT a.item AS winner, b.item AS loser, COUNT(*) AS cnt
           FROM bt_bk a JOIN bt_bk b
             ON a.user_id = b.user_id AND a.mean > b.mean
           GROUP BY 1, 2),
         bt_dirn AS (
           SELECT i, j, SUM(cnt) AS n_ij FROM (
             SELECT winner AS i, loser AS j, cnt FROM bt_cmp
             UNION ALL
             SELECT loser AS i, winner AS j, cnt FROM bt_cmp)
           GROUP BY 1, 2),
         bt_items AS (SELECT DISTINCT i AS item FROM bt_dirn),
         bt_stat AS (
           SELECT it.item,
                  COALESCE(w.wins, 0) AS wins,
                  g.games,
                  CAST(COALESCE(w.wins, 0) AS DOUBLE) + 0.5 AS wins05
           FROM bt_items it
           LEFT JOIN (SELECT winner AS item, SUM(cnt) AS wins
                      FROM bt_cmp GROUP BY 1) w ON it.item = w.item
           JOIN (SELECT i AS item, SUM(n_ij) AS games
                 FROM bt_dirn GROUP BY 1) g ON it.item = g.item),
         bt_r0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS p FROM bt_items)"""
    val rounds = (1 to iters).map { t =>
      s"""bt_d$t AS MATERIALIZED (
           SELECT d.i AS item,
                  SUM(CAST(floor(CAST(d.n_ij AS DOUBLE) / (pi.p + pj.p)
                        * 1000000000.0) AS BIGINT)) AS dfix
           FROM bt_dirn d
           JOIN bt_r${t - 1} pi ON d.i = pi.item
           JOIN bt_r${t - 1} pj ON d.j = pj.item
           GROUP BY 1),
         bt_r$t AS MATERIALIZED (
           SELECT s.item,
                  s.wins05 / ((CAST(d.dfix AS DOUBLE) / 1000000000.0)
                              + (CAST(1.0 AS DOUBLE) / (r.p + CAST(1.0 AS DOUBLE)))) AS p
           FROM bt_stat s
           JOIN bt_d$t d ON s.item = d.item
           JOIN bt_r${t - 1} r ON s.item = r.item)"""
    }
    (head +: rounds).mkString(",\n")
  }

  /** SCD-2 history CTE chain over an event source CTE `src`: run starts
    * via null-safe lag compare, spans closed by the next run's start —
    * ends in `${pfx}h` (user_id, valid_from, valid_to, is_current,
    * event_type). Prefix-parameterized so an oracle can replay two
    * slices (full vs base) side by side.
    */
  private def scd2HistSql(src: String, pfx: String): String =
    s"""${pfx}f AS (
           SELECT user_id, tus, event_id, event_type,
                  lag(tus) OVER w IS NULL
                    OR event_type IS DISTINCT FROM lag(event_type) OVER w
                    AS is_start
           FROM $src
           WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         ${pfx}s AS (SELECT * FROM ${pfx}f WHERE is_start),
         ${pfx}o AS (
           SELECT user_id, tus AS valid_from,
                  lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                    AS valid_to,
                  event_type
           FROM ${pfx}s),
         ${pfx}h AS (
           SELECT user_id, valid_from, valid_to,
                  valid_to IS NULL AS is_current, event_type
           FROM ${pfx}o)"""

  val specs: Seq[QuerySpec] = Seq(
    // market-basket association lift over capped per-user item baskets
    QuerySpec("events_assoc_lift", (s, d) => Relational.itemAssociationLift(s, d),
      // exact counts over the SAME capped baskets (the cap is part of
      // the contract); the lift division has exact-integer operands on
      // both sides — no float wash needed
      Sql("""WITH it AS (
           SELECT DISTINCT user_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
         capped AS (
           SELECT user_id, item FROM (
             SELECT user_id, item,
                    row_number() OVER (PARTITION BY user_id ORDER BY item) AS rn
             FROM it) WHERE rn <= 64),
         ni AS (SELECT item, COUNT(*) AS n FROM capped GROUP BY 1),
         tot AS (SELECT COUNT(DISTINCT user_id) AS u FROM capped),
         pr AS (
           SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
           FROM capped a JOIN capped b
             ON a.user_id = b.user_id AND a.item < b.item
           GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         SELECT item_a, item_b, n_ab,
                CAST(n_ab * u AS DOUBLE) / CAST(na.n * nb.n AS DOUBLE) AS lift
         FROM pr
           JOIN ni na ON pr.item_a = na.item
           JOIN ni nb ON pr.item_b = nb.item
           CROSS JOIN tot
         ORDER BY lift DESC, item_a, item_b LIMIT 100"""), Headline),
    // µs on both sides: DuckDB's TIMESTAMP is µs, and the Spark side
    // computes on EventTime.tsUs (see sessionizeBatch scaladoc)
    QuerySpec("sess_batch", (s, d) => graft.streaming.EventStream.sessionizeBatch(s, d),
      Sql("""WITH w AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
           FROM events),
         s AS (
           SELECT user_id, event_id, tus,
                  CAST(SUM(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 1800000000 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM w)
         SELECT user_id, session_seq, COUNT(*) AS events,
                (MAX(tus) - MIN(tus)) // 1000 AS duration_ms
         FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq"""), Headline),
    QuerySpec("dedup_events_batch", (s, d) => graft.streaming.EventStream.dedupEventsBatch(s, d),
      Sql("""SELECT user_id, event_type, epoch_ns(ts) // 60000000000 AS minute_bucket,
                MIN(event_id) AS keep_id, COUNT(*) AS copies
         FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),
    QuerySpec("events_enriched", (s, d) => graft.streaming.EventStream.enrichBatch(s, d),
      Sql("""SELECT e.event_id, e.user_id, e.event_type, e.value,
                c.c_mktsegment, c.c_acctbal
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id""")),
    QuerySpec("events_funnel", (s, d) => graft.streaming.EventStream.funnelSummary(s, d),
      // µs event times on both sides (ns-vs-µs truncation must not flip
      // the strict inequalities anchoring each stage)
      Sql("""WITH e AS (
           SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         a AS (
           SELECT *, MIN(CASE WHEN event_type = 'view' THEN tus END)
                       OVER (PARTITION BY user_id) AS t_view FROM e),
         b AS (
           SELECT *, MIN(CASE WHEN event_type = 'click' AND tus > t_view THEN tus END)
                       OVER (PARTITION BY user_id) AS t_click FROM a),
         c AS (
           SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tus > t_click THEN tus END)
                       OVER (PARTITION BY user_id) AS t_purchase FROM b),
         u AS (
           SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
                  MAX(t_purchase) AS t_purchase
           FROM c GROUP BY user_id)
         SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_users,
                CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_users,
                CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_users
         FROM u"""), Timed),
    // snapshot maintenance: CDC diff + latest-wins upsert (SCD-1 merge)
    QuerySpec("snapshot_diff", Snapshot.ordersSnapshotDiff _,
      // +1.0 on a double is exact IEEE in both engines; IS DISTINCT FROM
      // mirrors Spark's null-safe <=> negation
      Sql("""WITH prev AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 10 <> 3),
         nxt AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 10 <> 7),
         d AS (
           SELECT COALESCE(p.o_orderkey, n.o_orderkey) AS o_orderkey,
                  CASE WHEN p.o_orderkey IS NULL THEN 'insert'
                       WHEN n.o_orderkey IS NULL THEN 'delete'
                       WHEN p.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                         OR p.o_totalprice IS DISTINCT FROM n.o_totalprice
                       THEN 'update' END AS op,
                  p.o_orderstatus AS prev_o_orderstatus,
                  n.o_orderstatus AS next_o_orderstatus,
                  p.o_totalprice AS prev_o_totalprice,
                  n.o_totalprice AS next_o_totalprice
           FROM prev p FULL OUTER JOIN nxt n ON p.o_orderkey = n.o_orderkey)
         SELECT * FROM d WHERE op IS NOT NULL ORDER BY o_orderkey"""), Headline),
    QuerySpec("snapshot_apply", Snapshot.ordersSnapshotApply _,
      // the oracle is the TARGET snapshot itself: a hash match proves
      // apply ∘ diff = identity on this data
      Sql("""SELECT o_orderkey, o_orderstatus,
                CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                     ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 10 <> 7
         ORDER BY o_orderkey""")),
    // SCD type-2 history: consecutive distinct states -> validity spans,
    // one key-partitioned exchange for both window passes
    QuerySpec("snapshot_scd2", Snapshot.eventsScd2History _,
      // SCD-2 replay: run starts via null-safe lag compare, spans closed
      // by the next run's start version — pure copies and comparisons,
      // no arithmetic, bit-identical cross-engine
      Sql("""WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
           FROM events),
         f AS (
           SELECT user_id, tus, event_id, event_type,
                  lag(tus) OVER w IS NULL
                    OR event_type IS DISTINCT FROM lag(event_type) OVER w
                    AS is_start
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         s AS (SELECT * FROM f WHERE is_start),
         o AS (
           SELECT user_id, tus AS valid_from,
                  lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                    AS valid_to,
                  event_type
           FROM s)
         SELECT user_id, valid_from, valid_to,
                valid_to IS NULL AS is_current, event_type
         FROM o ORDER BY user_id, valid_from"""), Timed),
    // incremental SCD-2: extend the persisted span table with a batch,
    // emitting exactly the delta (closed open-spans + new spans)
    QuerySpec("snapshot_scd2_incremental", Snapshot.eventsScd2Incremental _,
      // incremental ≡ from-scratch: replay the batch-inclusive history
      // in full, subtract the stored base-slice history (EXCEPT) — the
      // incremental-components oracle contract
      Sql(s"""WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
           FROM events),
         ${scd2HistSql("ev", "f")},
         bev AS (SELECT * FROM ev WHERE tus < 1706054400000000),
         ${scd2HistSql("bev", "b")}
         SELECT user_id, valid_from, valid_to, is_current, event_type
         FROM fh
         EXCEPT
         SELECT user_id, valid_from, valid_to, is_current, event_type
         FROM bh
         ORDER BY user_id, valid_from"""), Primed),
    // point-in-time lookup against the persisted span table (serve path:
    // broadcast 3-instant probe, the history never moves)
    QuerySpec("snapshot_scd2_asof", Snapshot.eventsScd2AsOf _,
      // replay the BASE slice's history from raw events and apply the
      // same half-open interval predicate per pinned instant — a hash
      // match proves the persisted artifact + predicate reproduce the
      // from-scratch answer (the incremental-components oracle contract)
      Sql(s"""WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
           FROM events),
         bev AS (SELECT * FROM ev WHERE tus < 1706054400000000),
         ${scd2HistSql("bev", "b")},
         lk AS (SELECT * FROM (VALUES (1704672000000000),
                  (1705276800000000), (1705881600000000)) AS t(asof_us))
         SELECT lk.asof_us, bh.user_id, bh.event_type, bh.valid_from
         FROM bh JOIN lk
           ON bh.valid_from <= lk.asof_us
          AND (bh.valid_to IS NULL OR bh.valid_to > lk.asof_us)
         ORDER BY asof_us, user_id"""), Timed),
    QuerySpec("upsert_latest", Snapshot.eventsUpsertLatest _,
      // µs times on both sides (sessionize convention); src ranks the
      // update batch above base on a same-µs tie, event_id pins the rest
      Sql("""WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, event_type, value
           FROM events),
         u AS (
           SELECT *, CASE WHEN tus >= 1706054400000000 THEN 0 ELSE 1 END AS src
           FROM ev),
         r AS (
           SELECT user_id, event_id, tus, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY tus DESC, src ASC, event_id DESC) AS rn
           FROM u)
         SELECT user_id, event_id, tus, event_type, value
         FROM r WHERE rn = 1 ORDER BY user_id"""), Headline),
    // cohort retention matrix + per-cohort volume contribution (one
    // per-user exchange each; sizes/totals broadcast back)
    QuerySpec("events_retention", Events.retention _,
      // cohort = min active day per user at exact integer µs//day; the
      // ratio is one double divide with exact-long operands — hash-stable
      Sql("""WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         a AS (
           SELECT user_id, day,
                  min(day) OVER (PARTITION BY user_id) AS cohort_day
           FROM ev),
         act AS (
           SELECT cohort_day, day - cohort_day AS offset_days,
                  COUNT(DISTINCT user_id) AS active_users
           FROM a GROUP BY 1, 2),
         sz AS (SELECT cohort_day, active_users AS cohort_users
                FROM act WHERE offset_days = 0)
         SELECT act.cohort_day, act.offset_days, act.active_users,
                sz.cohort_users,
                CAST(act.active_users AS DOUBLE)
                  / CAST(sz.cohort_users AS DOUBLE) AS retention
         FROM act JOIN sz USING (cohort_day)
         ORDER BY cohort_day, offset_days"""), Timed),
    // incremental retention: persisted compact state (first-touch +
    // distinct activity) extended by the batch, emitting changed cells
    QuerySpec("events_retention_incremental", Events.retentionIncremental _,
      // incremental ≡ from-scratch: replay the batch-inclusive matrix in
      // full, subtract the base-only matrix (EXCEPT) -- the
      // scd2-incremental oracle contract
      Sql("""WITH ev AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         ft AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
         full_m AS (
           SELECT cohort_day, day - cohort_day AS offset_days,
                  COUNT(*) AS active_users
           FROM ev JOIN ft USING (user_id) GROUP BY 1, 2),
         bev AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events WHERE epoch_us(ts) < 1706054400000000),
         bft AS (SELECT user_id, min(day) AS cohort_day FROM bev GROUP BY 1),
         base_m AS (
           SELECT cohort_day, day - cohort_day AS offset_days,
                  COUNT(*) AS active_users
           FROM bev JOIN bft USING (user_id) GROUP BY 1, 2)
         SELECT cohort_day, offset_days, active_users FROM full_m
         EXCEPT
         SELECT cohort_day, offset_days, active_users FROM base_m
         ORDER BY cohort_day, offset_days"""), Primed),
    QuerySpec("events_cohort_volume", Events.cohortVolume _,
      // value mass under the LM fixed-point convention (Σ of
      // round(v·10⁶) longs — order-independent); counts exact
      Sql("""WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day, value
           FROM events),
         a AS (
           SELECT user_id, day, value,
                  min(day) OVER (PARTITION BY user_id) AS cohort_day
           FROM ev),
         vol AS (
           SELECT cohort_day, COUNT(*) AS events,
                  COUNT(DISTINCT user_id) AS cohort_users,
                  SUM(CAST(round(value * 1000000) AS BIGINT)) AS value_fx
           FROM a GROUP BY 1),
         tot AS (SELECT SUM(events) AS total_events FROM vol)
         SELECT cohort_day, events, cohort_users,
                CAST(value_fx AS DOUBLE) / 1000000.0 AS value_sum,
                CAST(events AS DOUBLE) / CAST(total_events AS DOUBLE)
                  AS event_share
         FROM vol CROSS JOIN tot
         ORDER BY cohort_day"""), Timed),
    // RLHF-style (chosen, rejected) pair per user from event values
    QuerySpec("events_preference_pairs", Events.preferencePairs _,
      // same double ORDER BY with full tiebreaks; margin is one per-row
      // IEEE subtraction -- exact cross-engine
      Sql("""WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
                  value
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
             AND value IS NOT NULL),
         r AS (
           SELECT *,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, tus ASC, event_id ASC) AS rn_hi,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value ASC, tus DESC, event_id DESC) AS rn_lo
           FROM ev),
         c AS (SELECT user_id, item AS chosen_item, value AS chosen_value
               FROM r WHERE rn_hi = 1),
         j AS (SELECT user_id, item AS rejected_item, value AS rejected_value
               FROM r WHERE rn_lo = 1)
         SELECT c.user_id, chosen_item, rejected_item,
                chosen_value, rejected_value,
                chosen_value - rejected_value AS margin
         FROM c JOIN j ON c.user_id = j.user_id
         WHERE chosen_value > rejected_value
         ORDER BY c.user_id"""), Timed),
    // Bradley-Terry MM fit of item strengths over capped per-user
    // preference comparisons -- fixed-point loop, hash-exact oracle
    QuerySpec("events_bt_ratings", (s, d) => Events.btRatings(s, d),
      // unrolled MM rounds, fixed-point denominator sums — hash-exact
      Sql(s"""${btSql()}
         SELECT s.item, CAST(s.wins AS BIGINT) AS wins,
                CAST(s.games AS BIGINT) AS games, CAST(r.p AS FLOAT) AS rating
         FROM bt_stat s JOIN bt_r${graft.operators.Events.BtIters} r
           ON s.item = r.item
         ORDER BY s.item"""), Headline),
    // exponentially-decayed item popularity (half-life quantized to
    // whole periods: exact power-of-two fixed-point contributions)
    QuerySpec("events_trending", (s, d) => Events.trendingItems(s, d),
      // quantized half-life decay: contributions are exact powers of two
      // summed as BIGINTs at scale 2^40 — order-independent, no libm pow
      Sql("""WITH ev AS (
           SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
                  epoch_us(ts) // 86400000000 AS day
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
         anchored AS (
           SELECT item, day, (SELECT max(day) FROM ev) AS max_day FROM ev),
         wt AS (
           SELECT item, day,
                  CASE WHEN (max_day - day) // 7 <= 40
                       THEN (CAST(1 AS BIGINT) << CAST(40 - (max_day - day) // 7 AS INT))
                       ELSE CAST(0 AS BIGINT) END AS w_fx
           FROM anchored)
         SELECT item,
                CAST(sum(w_fx) AS DOUBLE) / 1099511627776.0 AS decayed_score,
                COUNT(*) AS n_events, max(day) AS last_day
         FROM wt GROUP BY item
         ORDER BY decayed_score DESC, item LIMIT 50"""), Timed),
    // batch-extend the persisted (item, day) count state and re-rank;
    // the oracle is deliberately the FROM-SCRATCH replay over the full
    // table: a hash match proves the batch-extended state reproduces it
    QuerySpec("events_trending_incremental", (s, d) => Events.trendingIncremental(s, d),
      SameAs("events_trending"), Timed),
    // two-sample experiment readout (parity assignment stand-in): exact
    // sufficient statistics, one pinned z/t chain, FLOAT emits
    QuerySpec("events_ab_test", Events.abTestReport _,
      // per-user collapse, conditional-sum sufficient statistics, then
      // the identical pinned z/t double chain cut to FLOAT
      Sql("""WITH pu AS (
           -- NULL user_id belongs to NO arm: filtered explicitly on
           -- both sides (the Spark side's parity predicate would drop
           -- NULLs while CASE ... ELSE would bucket them into control)
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
                  SUM(CAST(floor(value * 100.0) AS BIGINT)) AS uv
           FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         s AS (
           SELECT CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n0,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 0 ELSE converted END) AS BIGINT) AS c0,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 0 ELSE uv END) AS BIGINT) AS s0,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN uv ELSE 0 END) AS BIGINT) AS s1,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 0 ELSE uv * uv END) AS BIGINT) AS q0,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN uv * uv ELSE 0 END) AS BIGINT) AS q1
           FROM pu)
         SELECT n0 AS n_control, n1 AS n_treatment,
                c0 AS conv_control, c1 AS conv_treatment,
                CAST(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS FLOAT) AS rate_control,
                CAST(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS FLOAT) AS rate_treatment,
                CAST(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS FLOAT) AS lift_abs,
                CAST(CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
                     (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                     / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                            * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                            * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
                     ELSE NULL END AS FLOAT) AS z_conversion,
                CAST(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0 AS FLOAT) AS mean_value_control,
                CAST(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS FLOAT) AS mean_value_treatment,
                CAST(CASE WHEN n0 > 1 AND n1 > 1
                          AND (n0 * q0 > s0 * s0 OR n1 * q1 > s1 * s1) THEN
                     (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0
                      - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0)
                     / sqrt(((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                               / (CAST(n0 AS DOUBLE) - 1.0) / 10000.0) / CAST(n0 AS DOUBLE)
                            + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                               / (CAST(n1 AS DOUBLE) - 1.0) / 10000.0) / CAST(n1 AS DOUBLE))
                     ELSE NULL END AS FLOAT) AS t_value
         FROM s"""), Timed),
    // CUSUM change-point scan on daily volume: day-count-scaled integer
    // deviations, argmax flag (earliest day on ties)
    QuerySpec("events_cusum", Events.cusumDailyVolume _,
      // day-count-scaled integer CUSUM: s·days = days·cum − idx·total,
      // all BIGINTs; change-point = max |s| (earliest day on ties)
      Sql("""WITH ev AS (
           SELECT epoch_us(ts) // 86400000000 AS day FROM events),
         d AS (SELECT day, COUNT(*) AS n FROM ev GROUP BY day),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                      COUNT(*) AS days FROM d),
         sc AS (SELECT day, CAST(n AS BIGINT) AS n,
                       CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS cum,
                       CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
                FROM d),
         s2 AS (SELECT sc.day, sc.n, sc.cum,
                       t.days * sc.cum - sc.idx * t.total AS s_scaled
                FROM sc, t),
         pk AS (SELECT day AS peak_day FROM s2
                ORDER BY abs(s_scaled) DESC, day ASC LIMIT 1)
         SELECT s2.day, s2.n, s2.cum, s2.s_scaled,
                s2.day = pk.peak_day AS is_changepoint
         FROM s2, pk ORDER BY s2.day"""), Timed),
  )
}
