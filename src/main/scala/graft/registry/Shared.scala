package graft.registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat_ws, lit, when}

/** What more than one query family uses: the array flattening at the
  * registered-query boundary, and the SQL CTE chains that several
  * families' oracles replay.
  */
object Shared {

  /** Serialize array-typed output columns to delimited strings at the
    * registered-query boundary: the driver's compare harness sorts rows in
    * pandas, which cannot hash ndarray cells. The underlying operators keep
    * their array types (ScalaTest asserts on those); only the driver-facing
    * registration flattens. Oracled queries pair this with
    * `array_to_string(..., sep)` on the DuckDB side; the null guard keeps
    * the two aligned (concat_ws would render a NULL array as '', DuckDB
    * array_to_string renders it as NULL).
    */
  private[registry] def joinArrays(df: DataFrame, sep: String, names: String*): DataFrame =
    names.foldLeft(df) { (d, n) =>
      d.withColumn(n,
        when(col(n).isNull, lit(null))
          .otherwise(concat_ws(sep, col(n).cast("array<string>"))))
    }

  /** Shared CTE chain of the md5-minhash oracles: shingling, HUGEINT
    * affine permutation minima, and banding, up to the `bb`
    * (doc_id, band_key) frame the candidate joins read.
    */
  private[registry] def minHashMd5BaseSql(
      numPerms: Int,
      bands: Int,
      tokenFeatures: Boolean = false): String = {
    val mix = graft.functions.MinHashSigExpr.mixers(numPerms)
    val muls = mix.map(_._1).mkString("[", ", ", "]")
    val adds = mix.map(_._2).mkString("[", ", ", "]")
    val rows = numPerms / bands
    val bandExprs = (0 until bands).map { b =>
      val elems = (b * rows until (b + 1) * rows).map(j => s"sig[${j + 1}]").mkString(", ")
      s"""('0x' || substr(md5(concat_ws(',', $b, $elems)), 1, 15))::BIGINT"""
    }.mkString("[", ", ", "]")
    // feature choice mirrors Dedup: 3-word shingles for the dedup rows,
    // distinct unigrams for the decontam gate (minHashBandedTokensMd5From)
    val shCte =
      if (tokenFeatures) "SELECT doc_id, list_distinct(toks) AS shingles FROM doc"
      else """SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_transform(range(len(toks) - 2),
                             i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                      ELSE [text] END AS shingles
          FROM doc"""
    s"""WITH doc AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        sh AS ($shCte),
        hs AS (
          SELECT doc_id,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
          FROM sh),
        sig AS (
          SELECT doc_id,
                 list_transform(range($numPerms), j ->
                   CAST(list_min(list_transform(hs, h ->
                     ((((CAST(h AS HUGEINT) * ($muls)[j + 1] + ($adds)[j + 1])
                        % 18446744073709551616) + 18446744073709551616 + 9223372036854775808)
                        % 18446744073709551616) - 9223372036854775808)) AS BIGINT)) AS sig
          FROM hs),
        bb AS (
          SELECT doc_id, unnest($bandExprs) AS band_key FROM sig)"""
  }

  /** DuckDB replay of [[graft.functions.TextAnalysis.wsTokens]]: split on
    * \s+ and DROP empty tokens, mirroring the engine's
    * phantom-leading-token filter — identical by construction, not by
    * fixture luck (the fixture carries no leading whitespace, so hashes
    * were green either way; this pins them green under testdata drift).
    */
  private[registry] def wsToksSql(textExpr: String): String =
    s"list_filter(string_split_regex($textExpr, '\\s+'), t -> t <> '')"

  /** Stopword-hit count replaying the engine's lower()-then-membership
    * probe ([[graft.functions.TextAnalysis.qualityScoreCol]]) — same
    * identical-by-construction contract as [[wsToksSql]] (the fixture is
    * all-lowercase, so case-sensitive membership happened to agree).
    */
  private[registry] def stopHitsSql(toksExpr: String): String =
    s"len(list_filter($toksExpr, t -> lower(t) IN " +
      "('the','a','of','and','to','in','is','it','for','on','with')))"

  /** The blended quality score replayed over a raw documents row —
    * [[graft.functions.TextAnalysis.qualityScoreCol]] with the engine's
    * empty-token filter and lowercased stopword probe mirrored in
    * ([[wsToksSql]]/[[stopHitsSql]]).
    */
  private[registry] def qualityScoreSql: String =
    s"""LEAST(1.0,
          (CAST(${stopHitsSql(wsToksSql("text"))} AS DOUBLE)
            / len(${wsToksSql("text")})) * 2.0
          + CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END)"""

  /** CTE chain replaying the winnowing selection
    * ([[graft.functions.TextAnalysis.winnowFingerprintFrame]]): k-gram
    * md5-prefix hashes, list_min per w-window slice, distinct — ends
    * with `wf` = (doc_id, fps LIST<BIGINT>). Slice clamping past the
    * list end matches Spark's `slice` truncation, so the short-doc
    * fallbacks (whole token list as one gram / one whole-list window)
    * agree by construction.
    */
  private[registry] def winnowBaseSql(
      k: Int = 3,
      w: Int = 4,
      recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}wdoc AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        wg AS (
          SELECT doc_id,
                 list_transform(range(greatest(len(toks) - ${k - 1}, 1)),
                   i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + $k), ' ')), 1, 15))::BIGINT) AS gh
          FROM wdoc),
        wf AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(greatest(len(gh) - ${w - 1}, 1)),
                   i -> list_min(list_slice(gh, i + 1, i + $w)))) AS fps
          FROM wg)"""

  /** One full simhash→banding→Hamming→recursive-closure CTE chain over
    * `documents` (optionally filtered), with every CTE name suffixed so
    * two chains (full vs corpus-carve) can coexist under one
    * WITH RECURSIVE — the incremental-clustering oracle needs both.
    */
  private[registry] def simHashClosureCtes(sfx: String, docFilter: String): String =
    s"""t$sfx AS (
           SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
                    tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
           FROM documents$docFilter),
         s$sfx AS (
           SELECT doc_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS simhash
           FROM t$sfx),
         bb$sfx AS (
           SELECT doc_id, simhash,
                  unnest([CAST(0 * 65536 + ((simhash >> 0) & 65535) AS BIGINT),
                          CAST(1 * 65536 + ((simhash >> 16) & 65535) AS BIGINT),
                          CAST(2 * 65536 + ((simhash >> 32) & 65535) AS BIGINT),
                          CAST(3 * 65536 + ((simhash >> 48) & 65535) AS BIGINT)]) AS band_key
           FROM s$sfx),
         cand$sfx AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM bb$sfx a JOIN bb$sfx b USING (band_key) WHERE a.doc_id < b.doc_id),
         edges$sfx AS (
           SELECT doc_a AS u, doc_b AS v FROM cand$sfx WHERE hamming <= 3
           UNION ALL
           SELECT doc_b AS u, doc_a AS v FROM cand$sfx WHERE hamming <= 3),
         walk$sfx(node, reach) AS (
           SELECT u, u FROM edges$sfx
           UNION
           SELECT w.node, e.v FROM walk$sfx w JOIN edges$sfx e ON w.reach = e.u),
         comp$sfx AS (SELECT node, MIN(reach) AS root FROM walk$sfx GROUP BY node),
         base$sfx AS (
           SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS component_id
           FROM documents d LEFT JOIN comp$sfx c ON d.doc_id = c.node$docFilter)"""

  /** Shared oracle prefix for the near-dup clustering rows: replays the
    * md5-simhash pair pipeline (same CTEs as the `dedup_simhash_md5`
    * oracle), then closes the pair graph transitively with a recursive CTE
    * and labels every document with its component minimum (`base`:
    * doc_id, component_id). The recursive closure is the ORACLE shape —
    * tractable at verify scale; the distributed shape is the
    * large-star/small-star contraction in `operators/Cluster.scala`.
    */
  private[registry] def simHashClusterBaseSql: String =
    "WITH RECURSIVE " + simHashClosureCtes("", "")
}
