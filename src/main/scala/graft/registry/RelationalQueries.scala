package graft.registry

import graft.operators.{DataQuality, Layout, Relational}
import graft.registry.BenchRole._
import graft.registry.Oracle.{NoOracle, Sql}
import graft.registry.Shared._

/** Relational rows: sources and sinks, projection, filters, sorts, aggregations, joins, set
  * operations, windows, expressions, sketches, skew handling, layout curves, data quality
  * and the TPC-H headliners.
  */
object RelationalQueries {

  /** Exact decimal expansion of a double, wrapped for SQL: round-trips to
    * the bit-identical double in any engine with correctly-rounded decimal
    * parsing (both JVM and DuckDB are), so a Scala constant and its SQL
    * literal cannot drift.
    */
  private def doubleLit(d: Double): String =
    s"CAST('${new java.math.BigDecimal(d).toString}' AS DOUBLE)"

  private def ddGammaSql: String = doubleLit(Relational.DdGamma)

  private def ddGammaP1Sql: String = doubleLit(Relational.DdGamma + 1.0)

  /** Shared oracle prefix for the DDSketch rows: the γ-log bucket table
    * (event_type, sign, bucket, cnt) with the SAME float-frozen ln(γ)
    * divisor and float-washed ln(x) the Spark plan uses — bucket indices
    * are integer ceilings of bit-identical doubles, exact on both engines.
    */
  private def ddBucketsSql: String =
    s"""WITH e AS (SELECT event_type, value FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)),
         b AS (SELECT event_type,
                 CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END AS sign,
                 CASE WHEN value = 0 THEN 0
                      ELSE CAST(ceil(CAST(CAST(ln(abs(value)) AS FLOAT) AS DOUBLE)
                                     / ${doubleLit(Relational.DdLnGamma)}) AS BIGINT)
                 END AS bucket
               FROM e),
         g AS (SELECT event_type, sign, bucket, COUNT(*) AS cnt
               FROM b GROUP BY event_type, sign, bucket)"""

  val specs: Seq[QuerySpec] = Seq(
    // sources / sinks (S1-S3, K1-K3)
    QuerySpec("s1_csv_roundtrip", Relational.s1CsvRoundTrip _,
      Sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),
    QuerySpec("s2_csv_section_delim", Relational.s2CsvSectionDelim _,
      Sql("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    QuerySpec("s3_parquet_scan", Relational.s3ParquetScan _,
      Sql("SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey")),
    QuerySpec("s4_csv_schema_pinned", Relational.s4CsvSchemaPinned _,
      Sql("SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey")),
    QuerySpec("s5_json_corrupt_permissive", Relational.s5JsonCorruptPermissive _,
      // the dump holds every customer row plus one good and two broken
      // extra lines
      Sql("""SELECT (SELECT COUNT(*) FROM customer) + 1 AS n_good,
                CAST(2 AS BIGINT) AS n_corrupt""")),
    QuerySpec("k2_parquet_gzip_roundtrip", Relational.k2ParquetGzipRoundTrip _,
      Sql("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey")),
    QuerySpec("k3_show_limit", Relational.k3ShowLimit _,
      Sql("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 21")),
    QuerySpec("k4_json_roundtrip", Relational.k4JsonRoundTrip _,
      Sql("SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey")),
    QuerySpec("k5_orc_roundtrip", Relational.k5OrcRoundTrip _,
      Sql("SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey")),
    QuerySpec("k6_partitioned_roundtrip", Relational.k6PartitionedRoundTrip _,
      Sql("SELECT event_id, user_id, value, event_type FROM events WHERE event_type = 'click' ORDER BY event_id")),
    QuerySpec("k7_zstd_roundtrip", Relational.k7ZstdRoundTrip _,
      Sql("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    QuerySpec("k8_compacted_roundtrip", Relational.k8CompactedRoundTrip _,
      // compaction must be content-neutral: the oracle is the source table
      Sql("SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey")),
    // schema-evolution read: two parquet generations merged with
    // mergeSchema; the old generation null-pads the added column
    QuerySpec("k9_mergeschema_roundtrip", Relational.k9MergeSchemaRoundTrip _,
      // schema evolution must be content-neutral modulo the null-padding
      // contract: old-generation rows (even l_orderkey) read the added
      // column as NULL
      Sql("""SELECT l_orderkey, l_linenumber, l_quantity,
                CASE WHEN l_orderkey % 2 = 1 THEN l_extendedprice END AS l_extendedprice
         FROM lineitem ORDER BY l_orderkey, l_linenumber""")),
    // projection (P1-P4)
    QuerySpec("p1_select_prune", Relational.p1SelectPrune _,
      Sql("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber")),
    QuerySpec("p2_with_column", Relational.p2WithColumn _,
      Sql("SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS gross FROM lineitem ORDER BY l_orderkey, l_linenumber")),
    QuerySpec("p3_rename", Relational.p3Rename _,
      Sql("SELECT c_custkey AS id, c_name AS name FROM customer ORDER BY id")),
    QuerySpec("p4_drop_dup_key", Relational.p4DropDupKey _,
      Sql("SELECT o_orderkey, o_custkey, c_name FROM orders LEFT JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")),
    // filters (F1-F5)
    QuerySpec("f1_conj_filter", Relational.f1ConjFilter _,
      Sql("""WITH t AS (SELECT event_id, CASE WHEN event_type = 'error' THEN CAST('nan' AS DOUBLE) WHEN event_type = 'view' THEN NULL ELSE value END AS v FROM events)
         SELECT event_id, v FROM t WHERE v IS NOT NULL AND NOT isnan(v) AND v >= 100.0 ORDER BY event_id""")),
    QuerySpec("f2_case_when", Relational.f2CaseWhen _,
      Sql("SELECT l_orderkey, l_linenumber, CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS bucket FROM lineitem ORDER BY l_orderkey, l_linenumber")),
    QuerySpec("f3_ends_with", Relational.f3EndsWith _,
      Sql("SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%bolt' ORDER BY p_partkey")),
    QuerySpec("f4_contains", Relational.f4Contains _,
      Sql("SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%wid%' ORDER BY p_partkey")),
    QuerySpec("f5_eq_coerce", Relational.f5EqCoerce _,
      Sql("SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey")),
    // sorts (O1-O2)
    QuerySpec("o1_sort_desc_string", Relational.o1SortDescString _,
      Sql("SELECT o_orderkey, o_orderpriority FROM orders ORDER BY o_orderpriority DESC, o_orderkey"), Timed),
    QuerySpec("o2_topk", Relational.o2TopK _,
      Sql("SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 50")),
    // aggregations (A1-A7)
    QuerySpec("a1_group_avg", Relational.a1GroupAvg _,
      Sql("""SELECT c_nationkey,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_acctbal,
                COUNT(*) AS num_customers
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")),
    QuerySpec("a2_multi_max", Relational.a2MultiMax _,
      Sql("""SELECT l_returnflag, MAX(l_quantity) AS max_qty,
                MAX(CAST(l_shipdate AS DATE)) AS max_ship_date,
                MAX(l_linestatus) AS max_status
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),
    QuerySpec("a2b_max_array", (s, d) =>
      joinArrays(Relational.a2MaxArray(s, d), "|", "max_name_words"),
      Sql("SELECT p_brand, array_to_string(MAX(string_split(p_name, ' ')), '|') AS max_name_words FROM part GROUP BY p_brand ORDER BY p_brand")),
    QuerySpec("a3_collect_list", (s, d) =>
      joinArrays(Relational.a3CollectList(s, d), "|", "line_numbers"),
      Sql("""SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), '|') AS line_numbers
         FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY l_orderkey ORDER BY l_orderkey""")),
    QuerySpec("a4_count_star", Relational.a4CountStar _,
      Sql("SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type")),
    QuerySpec("a5_avg_with_nulls", Relational.a5AvgWithNulls _,
      Sql("""WITH t AS (SELECT event_type, CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v FROM events)
         SELECT event_type,
                CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS avg_v,
                COUNT(v) AS cnt_v
         FROM t GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("a6_drop_duplicates", Relational.a6DropDuplicates _,
      Sql("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus")),
    QuerySpec("a7_na_fill", Relational.a7NaFill _,
      Sql("""WITH t AS (SELECT event_id, CASE WHEN event_type = 'error' THEN CAST('nan' AS DOUBLE) WHEN event_type = 'view' THEN NULL ELSE value END AS v FROM events)
         SELECT event_id, CASE WHEN v IS NULL OR isnan(v) THEN 0.0 ELSE v END AS v FROM t ORDER BY event_id""")),
    // joins (J1 + engine-level)
    QuerySpec("j1_left_join_agg", Relational.j1LeftJoinAgg _,
      Sql("""SELECT c_custkey, COUNT(o_orderkey) AS num_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""")),
    QuerySpec("j2_broadcast_join", Relational.j2BroadcastJoin _,
      Sql("""SELECT p_type, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_type ORDER BY p_type""")),
    QuerySpec("j3_semi_join", Relational.semiJoin _,
      Sql("SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey")),
    QuerySpec("j4_anti_join", Relational.antiJoin _,
      Sql("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey")),
    QuerySpec("j5_asof_lookup", Relational.asofLastPurchase _,
      Sql("""SELECT event_id, user_id,
                last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_us
         FROM events ORDER BY event_id""")),
    QuerySpec("j6_range_join", Relational.rangeJoinBucketed _,
      Sql("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
         p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
               FROM events WHERE event_type = 'purchase')
         SELECT e.event_id, p.purchase_id, e.tus - p.pus AS lag_us
         FROM e JOIN p ON e.user_id = p.user_id
           AND e.tus >= p.pus AND e.tus < p.pus + 3600000000
           AND e.event_id <> p.purchase_id
         ORDER BY event_id, purchase_id"""), Headline),
    QuerySpec("j6b_range_join_left", Relational.rangeJoinBucketedLeft _,
      Sql("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
         p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
               FROM events WHERE event_type = 'purchase')
         SELECT p.purchase_id, e.event_id, e.tus - p.pus AS lag_us
         FROM p LEFT JOIN e ON e.user_id = p.user_id
           AND e.tus >= p.pus AND e.tus < p.pus + 3600000000
           AND e.event_id <> p.purchase_id
         ORDER BY purchase_id, event_id""")),
    // set operations
    QuerySpec("set_union_all", Relational.setUnionAll _,
      Sql("""SELECT c_custkey AS id FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL SELECT c_custkey AS id FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         ORDER BY id""")),
    QuerySpec("set_intersect", Relational.setIntersect _,
      Sql("""SELECT o_custkey AS id FROM orders
         INTERSECT SELECT c_custkey AS id FROM customer WHERE c_acctbal > 0
         ORDER BY id""")),
    QuerySpec("set_except", Relational.setExcept _,
      Sql("""SELECT c_custkey AS id FROM customer
         EXCEPT SELECT o_custkey AS id FROM orders
         ORDER BY id""")),
    // multi-dimensional aggregation
    QuerySpec("rollup_agg", Relational.rollupAgg _,
      Sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    QuerySpec("cube_agg", Relational.cubeAgg _,
      Sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),
    QuerySpec("pivot_agg", Relational.pivotAgg _,
      Sql("""SELECT user_id,
                COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY user_id ORDER BY user_id""")),
    QuerySpec("grouping_sets_agg", Relational.groupingSetsAgg _,
      Sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    QuerySpec("exact_median", Relational.exactMedian _,
      Sql("""SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
                quantile_cont(l_quantity, 0.9) AS p90_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""), Timed),
    // the Spark side runs this IDENTICAL string through spark.sql over temp
    // views — one SQL text, two engines
    QuerySpec("sql_via_view", Relational.sqlViaView _,
      Sql("""SELECT n_name, COUNT(*) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name""")),
    // semi-structured
    QuerySpec("json_extract", Relational.jsonExtract _,
      Sql("SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events ORDER BY event_id")),
    // sketches (approximate; accuracy-bounded in spec, no byte-exact oracle)
    QuerySpec("sketch_profile", Relational.sketchProfile _,
      NoOracle(
        "an HLL estimate: RelationalSketchSpec bounds its accuracy, and sketch_merge_exact is " +
          "the oracled exact anchor")),
    QuerySpec("sketch_merge", Relational.sketchMergeProfile _,
      NoOracle(
        "an HLL estimate: RelationalSketchSpec bounds its accuracy, and sketch_merge_exact is " +
          "the oracled exact anchor")),
    // oracled exactness anchor for the HLL rows: merged-halves estimate
    // == whole-corpus estimate, as a hashable boolean frame
    QuerySpec("sketch_merge_exact", Relational.sketchMergeExact _,
      // HLL union is lossless, so the engine-side merged-vs-direct
      // estimate comparison is deterministically true; the oracle pins
      // the literal per event type — a hash match certifies the sketch
      // build/merge/estimate path end to end
      Sql("""SELECT event_type, true AS merge_exact FROM events
         WHERE event_type IS NOT NULL GROUP BY event_type
         ORDER BY event_type"""), Timed),
    // audience overlap from stored sketches: inclusion-exclusion over
    // pairwise hll_union (estimate; exact twin is the oracled anchor)
    QuerySpec("sketch_hll_intersect", Relational.sketchHllIntersect _,
      NoOracle(
        "an HLL inclusion-exclusion estimate: RelationalSketchSpec pins it against its oracled " +
          "exact twin sketch_intersect_exact"), Timed),
    QuerySpec("sketch_intersect_exact", Relational.sketchIntersectExact _,
      // true pairwise distinct-user overlap; jaccard is one divide of
      // exact integer operands
      Sql("""WITH ut AS (
           SELECT DISTINCT event_type, user_id FROM events
           WHERE event_type IS NOT NULL),
         per AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
         pairs AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(*) AS exact_both
           FROM ut a JOIN ut b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT p.type_a, p.type_b,
                pa.n AS exact_a, pb.n AS exact_b, p.exact_both,
                CAST(p.exact_both AS DOUBLE)
                  / CAST(pa.n + pb.n - p.exact_both AS DOUBLE) AS exact_jaccard
         FROM pairs p
         JOIN per pa ON p.type_a = pa.event_type
         JOIN per pb ON p.type_b = pb.event_type
         ORDER BY p.type_a, p.type_b"""), Timed),
    QuerySpec("sketch_cms_counts", Relational.sketchCmsCounts _,
      // exact counts: the pinned-seed CMS over a 5-key domain in
      // 2000-counter rows is collision-free, so estimate == truth and the
      // hash match certifies the sketch build/merge/query path
      Sql("""SELECT event_type, COUNT(*) AS est_count FROM events
         WHERE event_type IS NOT NULL GROUP BY event_type
         ORDER BY event_type"""), Timed),
    // Misra-Gries heavy hitters: bounded per-partition summaries, then
    // exact counts of the candidate superset — exact output, no
    // full-vocabulary shuffle
    QuerySpec("sketch_heavy_hitters", (s, d) => Relational.sketchHeavyHitters(s, d),
      // the MG candidate pass is a guaranteed superset and the second
      // pass re-counts exactly, so the output is the plain GROUP BY /
      // HAVING answer — partition-independent, hash-oracled
      Sql(s"""WITH tk AS (
           SELECT unnest(${wsToksSql("text")}) AS token FROM documents),
         tot AS (SELECT COUNT(*) AS n FROM tk),
         c AS (SELECT token, COUNT(*) AS freq FROM tk GROUP BY 1)
         SELECT token, freq FROM c, tot
         WHERE freq * 256 > tot.n ORDER BY token"""), Timed),
    // same MG->exact-recount path at a 1/4096 share threshold: wide
    // enough that a x10 vocabulary (the SfScaler shifted-alphabet cut)
    // still surfaces hitters -- the scale probe's non-degenerate twin
    QuerySpec("sketch_heavy_hitters_wide",
      (s, d) => Relational.sketchHeavyHitters(s, d, k = 4096),
      Sql(s"""WITH tk AS (
           SELECT unnest(${wsToksSql("text")}) AS token FROM documents),
         tot AS (SELECT COUNT(*) AS n FROM tk),
         c AS (SELECT token, COUNT(*) AS freq FROM tk GROUP BY 1)
         SELECT token, freq FROM c, tot
         WHERE freq * 4096 > tot.n ORDER BY token"""), Timed),
    // DDSketch quantile buckets + extraction: the sketch family's
    // percentile member, hash-oracled end to end (bucket indices are
    // integer ceilings of bit-pinned doubles — see Relational.DdLnGamma)
    QuerySpec("sketch_quantile_buckets", Relational.sketchQuantileBuckets _,
      Sql(s"""$ddBucketsSql
         SELECT event_type, sign, bucket, cnt FROM g
         ORDER BY event_type, sign, bucket""")),
    QuerySpec("sketch_quantile_values", Relational.sketchQuantileValues _,
      Sql(s"""$ddBucketsSql,
         t AS (SELECT event_type, SUM(cnt) AS n FROM g GROUP BY event_type),
         c AS (SELECT event_type, sign, bucket, cnt,
                 SUM(cnt) OVER (PARTITION BY event_type
                   ORDER BY sign, sign * bucket) AS cum
               FROM g),
         x AS (SELECT c.event_type, q.q, c.sign, c.bucket, c.cum,
                 CAST(CASE WHEN c.sign = 0 THEN CAST(0.0 AS DOUBLE)
                      ELSE CAST(c.sign AS DOUBLE)
                           * (CAST(2.0 AS DOUBLE) * power($ddGammaSql, c.bucket)
                              / $ddGammaP1Sql)
                      END AS FLOAT) AS rep
               FROM c JOIN t USING (event_type)
                 CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
                                            CAST(0.99 AS DOUBLE)]) AS q) q
               WHERE c.cum >= greatest(1,
                 CAST(ceil(q.q * CAST(t.n AS DOUBLE)) AS BIGINT)))
         SELECT event_type, q, rep AS quantile_value FROM x
         QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, q
           ORDER BY sign, sign * bucket) = 1
         ORDER BY event_type, q"""), Timed),
    // the exact, oracle-able stats twin + deterministic hash sampling
    QuerySpec("stats_profile", Relational.statsProfile _,
      Sql("""SELECT COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS price_nulls,
                MIN(o_totalprice) AS price_min,
                MAX(o_totalprice) AS price_max,
                COUNT(DISTINCT o_custkey) AS custkey_ndv,
                COUNT(DISTINCT o_orderstatus) AS status_ndv,
                MIN(CAST(o_orderdate AS DATE)) AS date_min,
                MAX(CAST(o_orderdate AS DATE)) AS date_max
         FROM orders""")),
    QuerySpec("sample_hash", (s, d) => Relational.sampleHash(s, d),
      Sql("""SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 5
         ORDER BY o_orderkey""")),
    // expressions (E1-E8)
    QuerySpec("e1_regexp_extract", Relational.e1RegexpExtract _,
      Sql("SELECT p_partkey, regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS brand_num FROM part ORDER BY p_partkey")),
    QuerySpec("e2_round", Relational.e2Round _,
      Sql("SELECT o_orderkey, ROUND(o_totalprice / 7.0, 2) AS price_seventh FROM orders ORDER BY o_orderkey")),
    QuerySpec("e3_to_date_fmt", Relational.e3ToDateFmt _,
      Sql("""SELECT o_orderkey, strftime(o_orderdate, '%B %-d, %Y') AS pretty,
                CAST(strptime(strftime(o_orderdate, '%B %-d, %Y'), '%B %-d, %Y') AS DATE) AS parsed
         FROM orders ORDER BY o_orderkey""")),
    QuerySpec("e4_split", (s, d) => joinArrays(Relational.e4Split(s, d), "|", "words"),
      Sql("SELECT p_partkey, array_to_string(string_split(p_name, ' '), '|') AS words FROM part ORDER BY p_partkey")),
    QuerySpec("e5_non_ansi_cast", Relational.e5NonAnsiCast _,
      Sql("""SELECT event_id, TRY_CAST(event_type AS DOUBLE) AS bad_double,
                TRY_CAST(regexp_extract(props, '\{"k": ([0-9]+)\}', 1) AS BIGINT) AS k_val,
                TRY_CAST(CASE WHEN event_type = 'error' THEN 'nan' ELSE '1.5' END AS DOUBLE) AS nan_or_num
         FROM events ORDER BY event_id""")),
    QuerySpec("e7_arithmetic", Relational.e7Arithmetic _,
      Sql("SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge FROM lineitem ORDER BY l_orderkey, l_linenumber")),
    QuerySpec("e8_boolean", Relational.e8Boolean _,
      Sql("SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem WHERE l_quantity >= 10 AND NOT (l_returnflag = 'A') ORDER BY l_orderkey, l_linenumber")),
    // generators (G1)
    QuerySpec("g1_explode", Relational.g1Explode _,
      Sql("SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part ORDER BY p_partkey, word")),
    QuerySpec("g2_explode_outer", Relational.g2ExplodeOuter _,
      // outer unnest emulation: matched rows via unnest, empty-list rows
      // re-attached with a NULL element
      Sql("""WITH p AS (
           SELECT p_partkey,
                  CASE WHEN p_partkey % 10 = 0 THEN CAST([] AS VARCHAR[])
                       ELSE string_split(p_name, ' ') END AS l
           FROM part),
         m AS (SELECT p_partkey, unnest(l) AS tok FROM p WHERE len(l) > 0),
         e AS (SELECT p_partkey, CAST(NULL AS VARCHAR) AS tok FROM p WHERE len(l) = 0)
         SELECT * FROM m UNION ALL SELECT * FROM e ORDER BY p_partkey, tok""")),
    QuerySpec("e9_string_funcs", Relational.stringFuncs _,
      Sql("""SELECT p_partkey, upper(p_name) AS upper_name, lower(p_brand) AS lower_brand,
                trim('  ' || p_type || ' ') AS trimmed,
                concat_ws('-', p_brand, p_type) AS joined,
                substr(p_name, 1, 4) AS head4,
                CAST(length(p_name) AS BIGINT) AS name_len,
                replace(p_name, ' ', '_') AS snake,
                lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key
         FROM part ORDER BY p_partkey""")),
    QuerySpec("e10_date_funcs", Relational.dateFuncs _,
      Sql("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
                CAST(o_orderdate AS DATE) + 30 AS plus30,
                CAST((CAST(o_orderdate AS DATE) - INTERVAL 2 MONTH) AS DATE) AS minus2m,
                date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
                CAST(year(o_orderdate) AS INT) AS yr,
                CAST(month(o_orderdate) AS INT) AS mo,
                CAST(day(o_orderdate) AS INT) AS dom,
                CAST(CAST(o_orderdate AS DATE) - DATE '2024-01-01' AS INT) AS days_since
         FROM orders ORDER BY o_orderkey""")),
    QuerySpec("e11_array_hofs", Relational.e11ArrayHofs _,
      Sql("""WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
         SELECT p_partkey,
                len(words) AS n_words,
                list_max(list_transform(words, w -> length(w))) AS longest_word,
                CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) AS total_chars,
                array_to_string(list_sort(words), '|') AS sorted_words,
                len(list_filter(words, w -> length(w) >= 5)) AS n_long_words
         FROM w ORDER BY p_partkey""")),
    // windows (engine-level)
    QuerySpec("w1_row_number_topk", Relational.w1RowNumberTopK _,
      Sql("""SELECT o_custkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS "rank",
                o_orderkey, o_totalprice
         FROM orders QUALIFY "rank" <= 3 ORDER BY o_custkey, "rank""""), Timed),
    QuerySpec("w4_rank_topk", Relational.w4RankTopK _,
      Sql("""SELECT l_returnflag, l_quantity, CAST(rnk AS INT) AS rnk, l_orderkey, l_linenumber
         FROM (SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber,
                      rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rnk
               FROM lineitem)
         WHERE rnk <= 2 ORDER BY l_returnflag, rnk, l_orderkey, l_linenumber"""), Timed),
    QuerySpec("w5_dense_rank_topk", Relational.w5DenseRankTopK _,
      Sql("""SELECT l_linestatus, l_quantity, CAST(drnk AS INT) AS drnk, l_orderkey, l_linenumber
         FROM (SELECT l_linestatus, l_quantity, l_orderkey, l_linenumber,
                      dense_rank() OVER (PARTITION BY l_linestatus ORDER BY l_quantity DESC) AS drnk
               FROM lineitem)
         WHERE drnk <= 2 ORDER BY l_linestatus, drnk, l_orderkey, l_linenumber""")),
    QuerySpec("w2_running_sum", Relational.w2RunningSum _,
      Sql("""SELECT user_id, event_id,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         FROM events ORDER BY user_id, event_id""")),
    QuerySpec("w6_range_frame", Relational.w6RangeFrame _,
      // integer µs ordering key so the RANGE interval is exact; decimal
      // frame sum is order-free under same-µs ties
      Sql("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events)
         SELECT user_id, event_id, tus,
                COUNT(*) OVER w AS n_1h,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id"""), Headline),
    QuerySpec("w7_first_last_ignore_nulls", Relational.w7FirstLastIgnoreNulls _,
      Sql("""SELECT o_custkey, o_orderkey,
                FIRST_VALUE(CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END IGNORE NULLS)
                  OVER w AS first_nn,
                LAST_VALUE(CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END IGNORE NULLS)
                  OVER w AS last_nn
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""")),
    // ntile/percent_rank/cume_dist over a tie-free order — the
    // total-cardinality window family (stock plan by design)
    QuerySpec("w8_distribution_ranks", Relational.w8DistributionRanks _,
      // tie-free order ⟹ all three are integer-position arithmetic;
      // the doubles are exact integer ratios on both engines
      Sql("""SELECT o_custkey, o_orderkey,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""), Timed),
    QuerySpec("w3_analytic_windows", Relational.w3AnalyticWindows _,
      Sql("""SELECT o_custkey, o_orderkey,
                lag(o_totalprice, 1) OVER w AS prev_price,
                lead(o_totalprice, 1) OVER w AS next_price,
                CAST(rank() OVER w AS INT) AS rnk,
                CAST(dense_rank() OVER w AS INT) AS drnk,
                CAST(ntile(4) OVER w AS INT) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""")),
    // scale patterns: skew salting, stream-twin windowed agg, sessionization
    QuerySpec("skew_salted_agg", (s, d) => Relational.skewSaltedAgg(s, d),
      Sql("""SELECT event_type, COUNT(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""), Timed),
    QuerySpec("skew_salted_join", (s, d) => Relational.skewSaltedJoin(s, d),
      Sql("""SELECT event_id, event_type, type_cnt
         FROM events JOIN (SELECT event_type, COUNT(*) AS type_cnt
                           FROM events GROUP BY event_type) d USING (event_type)
         ORDER BY event_id"""), Timed),
    QuerySpec("stream_window_agg", Relational.windowAgg _,
      Sql("""SELECT make_timestamp((epoch_ns(ts) // 60000000000) * 60000000) AS window_start,
                event_type, COUNT(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""")),
    QuerySpec("sess_window_builtin", Relational.sessionWindowAgg _,
      Sql("""WITH w AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         s AS (
           SELECT user_id, tus,
                  SUM(CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
           FROM w)
         SELECT user_id, make_timestamp(MIN(tus)) AS session_start, COUNT(*) AS events
         FROM s GROUP BY user_id, seq ORDER BY user_id, session_start""")),
    // headline analytics
    QuerySpec("q1_pricing_summary", Relational.q1PricingSummary _,
      Sql("""SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
                MAX(l_quantity) AS max_qty,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""), Headline),
    QuerySpec("q_join_agg", Relational.qJoinAgg _,
      Sql("""SELECT o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""), Headline),
    QuerySpec("q_star_join", Relational.qStarJoin _,
      Sql("""SELECT r_name, n_name, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""), Headline),
    // Z-order layout: Morton codes over (partkey, suppkey) — the
    // projection the re-layout sorts on; pruning benefit is spec-measured
    QuerySpec("zorder_values", Layout.zOrderValues _,
      // the exact 32-term Morton interleave the Spark fold builds, emitted
      // as SQL by the same generator — integer bit math, bit-identical
      Sql(s"""WITH b AS (
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   l_partkey % 65536 AS zx, l_suppkey % 65536 AS zy
            FROM lineitem)
          SELECT l_orderkey, l_linenumber, zx, zy,
                 (${Layout.zValue16Sql("zx", "zy")}) AS z
          FROM b ORDER BY l_orderkey, l_linenumber"""), Timed),
    // Hilbert curve indices over the same 2-D key — the no-diagonal-jump
    // clustering curve, 16 chained integer-exact projections
    QuerySpec("hilbert_values", Layout.hilbertValues _,
      // the same 16-level xy2d walk, replayed as chained CTEs — pure
      // integer compares/adds/flips, bit-identical
      Sql(s"""WITH b AS (
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   l_partkey % 65536 AS hx, l_suppkey % 65536 AS hy
            FROM lineitem),
          ${Layout.hilbertSql("b", "l_orderkey, l_linenumber")}
          SELECT l_orderkey, l_linenumber, hx, hy, h
          FROM hf ORDER BY l_orderkey, l_linenumber"""), Timed),
    // data-quality expectation report: FK orphans, PK dups, null
    // contracts, ranges, derived-column consistency -- one row per check
    QuerySpec("dq_report", DataQuality.dqReport _,
      // each check replays as plain SQL; counts exact, rate one divide
      Sql("""WITH checks AS (
           SELECT 'orders_custkey_orphans' AS "check",
                  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
                     ON o.o_custkey = c.c_custkey
                   WHERE c.c_custkey IS NULL) AS violations,
                  (SELECT COUNT(*) FROM orders) AS total
           UNION ALL
           SELECT 'lineitem_orderkey_orphans',
                  (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
                     ON l.l_orderkey = o.o_orderkey
                   WHERE o.o_orderkey IS NULL),
                  (SELECT COUNT(*) FROM lineitem)
           UNION ALL
           SELECT 'customer_pk_duplicates',
                  (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
                     GROUP BY 1 HAVING COUNT(*) > 1)),
                  (SELECT COUNT(DISTINCT c_custkey) FROM customer)
           UNION ALL
           SELECT 'orders_pk_duplicates',
                  (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
                     GROUP BY 1 HAVING COUNT(*) > 1)),
                  (SELECT COUNT(DISTINCT o_orderkey) FROM orders)
           UNION ALL
           SELECT 'orders_totalprice_nulls',
                  (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL),
                  (SELECT COUNT(*) FROM orders)
           UNION ALL
           SELECT 'events_props_item_nulls',
                  (SELECT COUNT(*) FROM events
                   WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL),
                  (SELECT COUNT(*) FROM events)
           UNION ALL
           SELECT 'documents_lang_nulls',
                  (SELECT COUNT(*) FROM documents
                   WHERE lang IS NULL OR lang = ''),
                  (SELECT COUNT(*) FROM documents)
           UNION ALL
           SELECT 'lineitem_quantity_range',
                  (SELECT COUNT(*) FROM lineitem
                   WHERE l_quantity < 1 OR l_quantity > 50),
                  (SELECT COUNT(*) FROM lineitem)
           UNION ALL
           SELECT 'documents_nchars_mismatch',
                  (SELECT COUNT(*) FROM documents
                   WHERE n_chars <> length(text)),
                  (SELECT COUNT(*) FROM documents))
         SELECT "check", violations, total,
                CASE WHEN total > 0 THEN
                  CAST(violations AS DOUBLE) / CAST(total AS DOUBLE)
                END AS rate
         FROM checks ORDER BY "check""""), Timed),
  )
}
