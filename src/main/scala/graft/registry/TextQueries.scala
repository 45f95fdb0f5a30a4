package graft.registry

import graft.functions.TextAnalysis
import graft.operators.{Importance, QualityModel, Retrieval, Tokenize}
import graft.registry.BenchRole._
import graft.registry.Oracle.{NoOracle, SameAs, Sql}
import graft.registry.Shared._

/** Text rows: normalization, token and n-gram statistics, language models, language id,
  * quality rules and the quality model, tokenizers, DSIR importance weights and retrieval.
  */
object TextQueries {

  /** Pinned merge table for the registered segmentation row: the corpus'
    * four most frequent character pairs, in rank order. Pinned (like the
    * LSH planes) so the oracle can replay the greedy fusion as a
    * sentinel-character replace chain; the data-derived merge sequence is
    * what [[Tokenize.bpeTrainMerges]] computes and its spec pins.
    */
  private val PinnedBpeMerges: Seq[(String, String)] =
    Seq("e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r")

  /** [[PinnedBpeMerges]] as a DuckDB sentinel replace chain over `w`: each
    * merged pair collapses to one control character (chr(1)..), so the
    * remaining string length IS the greedy-BPE token count. Leftmost
    * non-overlapping `replace` is exactly the fold
    * [[Tokenize.bpeSegmentCounts]] runs — the oracle cross-checks that
    * equivalence, not just the arithmetic.
    */
  private def bpeReplaceChainSql: String =
    PinnedBpeMerges.zipWithIndex.foldLeft("w") {
      case (acc, ((l, r), i)) => s"replace($acc, '$l$r', chr(${i + 1}))"
    }

  /** Shared oracle prefix for the logistic-regression quality model:
    * the feature frame (Gopher label + exact-ratio features, all
    * integer-count divisions) and `iters` unrolled full-batch GD steps
    * with the same fixed-point gradient accumulation the Spark trainer
    * uses. The HARD sigmoid keeps every arithmetic step an exact or
    * correctly-rounded IEEE primitive (no libm transcendental — see
    * QualityModel's determinism note), so the weights are bit-identical
    * across engines. Ends with `w$iters` = (wa, wb, wc, wd); `f` stays
    * in scope for scoring.
    */
  private def lrGdSql(iters: Int = 3): String = {
    val head =
      """WITH f AS (
           SELECT doc_id,
                  CAST(CAST((CAST(len(toks) AS BIGINT) BETWEEN 50 AND 100000)
                    AND (CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) BETWEEN 3.0 AND 10.0)
                    AND CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE) / len(toks) >= 0.80
                    AND CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(toks) <= 0.10
                    AND len(list_filter(toks, t -> lower(t) IN ('the','be','to','of','and','that','have','with'))) >= 2 AS INT) AS DOUBLE) AS y,
                  1.0 AS x0,
                  (CAST(n_chars AS DOUBLE) / len(toks)) / 10.0 AS x1,
                  -- case-sensitive + unfiltered split ON PURPOSE: the LR
                  -- feature frame (QualityModel.featureFrame) uses raw
                  -- split + isInCollection, unlike qualityScoreCol —
                  -- both sides match by construction as written
                  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','for','on','with'))) AS DOUBLE) / len(toks) AS x2,
                  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / n_chars AS x3
           FROM (SELECT doc_id, n_chars, text, string_split_regex(text, '\s+') AS toks FROM documents)),
         w0 AS (SELECT 0.0 AS wa, 0.0 AS wb, 0.0 AS wc, 0.0 AS wd)"""
    val iterCtes = (1 to iters).map { i =>
      s"""g$i AS (
           SELECT CAST(SUM(CAST(round((p - y) * x0 * 1000000.0, 0) AS BIGINT)) AS DOUBLE) AS ga,
                  CAST(SUM(CAST(round((p - y) * x1 * 1000000.0, 0) AS BIGINT)) AS DOUBLE) AS gb,
                  CAST(SUM(CAST(round((p - y) * x2 * 1000000.0, 0) AS BIGINT)) AS DOUBLE) AS gc,
                  CAST(SUM(CAST(round((p - y) * x3 * 1000000.0, 0) AS BIGINT)) AS DOUBLE) AS gd,
                  CAST(COUNT(*) AS DOUBLE) AS n
           FROM (SELECT f.*, least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS p
                 FROM f, w${i - 1} w)),
         w$i AS (
           SELECT w.wa - 1.0 * (g.ga / (g.n * 1000000.0)) AS wa,
                  w.wb - 1.0 * (g.gb / (g.n * 1000000.0)) AS wb,
                  w.wc - 1.0 * (g.gc / (g.n * 1000000.0)) AS wc,
                  w.wd - 1.0 * (g.gd / (g.n * 1000000.0)) AS wd
           FROM w${i - 1} w, g$i g)"""
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Oracle for the positional phrase search: the identical adjacency
    * join per pinned phrase over 0-based token positions, unioned.
    */
  private def phraseOracleSql: String = {
    val per = graft.operators.Retrieval.Phrases.map { case (qid, terms) =>
      val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
        s"JOIN p p$i ON p$i.doc_id = p0.doc_id AND p$i.term = '$t'" +
          s" AND p$i.pos = p0.pos + $i"
      }.mkString(" ")
      s"""SELECT $qid AS qid, p0.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_matches,
                 CAST(MIN(p0.pos) AS BIGINT) AS first_pos
          FROM p p0 $joins
          WHERE p0.term = '${terms.head}'
          GROUP BY p0.doc_id"""
    }.mkString("\nUNION ALL\n")
    s"""WITH p AS (
         SELECT doc_id,
                generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
                unnest(string_split(text, ' ')) AS term
         FROM documents)
       SELECT * FROM ($per) ORDER BY qid, doc_id"""
  }

  /** Shared oracle prefix for the DSIR importance estimator: hashed
    * unigram buckets (md5 span 1-8 mod 256 — the repo's content-hash
    * convention), raw-vs-target (lang='en') token counts, the
    * Laplace-smoothed float-washed fixed-point log-ratio table `lr`, and
    * the per-document integer dot product `dw` = (doc_id, n_tokens,
    * lw_fix). Every arithmetic step mirrors graft.operators.Importance
    * operation for operation.
    */
  private def dsirBaseSql: String =
    """WITH toks AS (
           SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
           FROM documents),
         bk AS (
           SELECT doc_id, ('0x' || substr(md5(term), 1, 8))::BIGINT % 256 AS bucket
           FROM toks),
         c AS (
           SELECT ('0x' || substr(md5(term), 1, 8))::BIGINT % 256 AS bucket,
                  COUNT(*) AS n_raw,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
           FROM toks GROUP BY 1),
         tt AS (
           SELECT CAST(SUM(n_raw) AS DOUBLE) AS tot_raw,
                  CAST(SUM(n_tgt) AS DOUBLE) AS tot_tgt
           FROM c),
         lr AS (
           SELECT bucket, n_raw, n_tgt,
                  CAST(round(CAST(CAST(ln(
                    ((CAST(n_tgt AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (tt.tot_tgt + CAST(256.0 AS DOUBLE)))
                    / ((CAST(n_raw AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (tt.tot_raw + CAST(256.0 AS DOUBLE)))
                  ) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS logratio_fix
           FROM c, tt),
         dw AS (
           SELECT bk.doc_id, COUNT(*) AS n_tokens,
                  SUM(lr.logratio_fix) AS lw_fix
           FROM bk JOIN lr USING (bucket) GROUP BY 1)"""

  /** Shared oracle prefix for the interpolated bigram LM (λ = 0.7): ends
    * at `blp` = (doc_id, n_bigrams, mean_logprob). Every count division
    * is an exact-integer-valued IEEE double op and the interpolation
    * constants are DOUBLE-cast literals — with 1-λ COMPUTED as the same
    * double subtraction Spark performs (the literal 0.3 is not the
    * double 1.0-0.7); the float-then-fixed-point log follows the unigram
    * convention. Used by txt_bigram_logprob and the CCNet bucket cut.
    */
  private def bigramLpBaseSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         toks AS (SELECT doc_id, unnest(toks) AS term FROM t),
         uni AS (SELECT term, COUNT(*) AS ucnt FROM toks GROUP BY term),
         tot AS (SELECT SUM(ucnt) AS n FROM uni),
         occ AS (
           SELECT doc_id, toks[i.i - 1] AS prev, toks[i.i] AS cur
           FROM t, unnest(range(2, len(toks) + 1)) AS i(i)
           WHERE len(toks) >= 2),
         bi AS (SELECT prev, cur, COUNT(*) AS bcnt FROM occ GROUP BY prev, cur),
         lp AS (
           SELECT o.doc_id,
                  CAST(round(CAST(CAST(ln(
                    CAST(0.7 AS DOUBLE) * (CAST(b.bcnt AS DOUBLE) / CAST(up.ucnt AS DOUBLE))
                    + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * (CAST(uc.ucnt AS DOUBLE) / CAST(tot.n AS DOUBLE))
                  ) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS lpf
           FROM occ o
             JOIN bi b ON o.prev = b.prev AND o.cur = b.cur
             JOIN uni up ON o.prev = up.term
             JOIN uni uc ON o.cur = uc.term
             CROSS JOIN tot),
         blp AS (
           SELECT doc_id, COUNT(*) AS n_bigrams,
                  CAST(SUM(lpf) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_logprob
           FROM lp GROUP BY doc_id)"""

  val specs: Seq[QuerySpec] = Seq(
    // canonical-form preparation + the published "fuzzy exact" criterion
    // (case/punct/whitespace-invariant content identity)
    // plain string (no interpolation): the regex '\s' must reach DuckDB
    // unprocessed, like txt_scrub
    QuerySpec("txt_normalize", TextAnalysis.normalize _,
      Sql("""WITH n AS (
           SELECT doc_id, text,
                  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
           FROM documents)
         SELECT doc_id, norm_text, CAST(norm_text <> text AS INT) AS changed
         FROM n ORDER BY doc_id"""), Timed),
    // LLM-pipeline: text analysis
    QuerySpec("txt_token_counts", TextAnalysis.tokenCounts _,
      Sql(s"""SELECT doc_id, len(${wsToksSql("text")}) AS n_ws_tokens,
                len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS n_regex_tokens,
                n_chars
         FROM documents ORDER BY doc_id"""), Timed),
    QuerySpec("txt_quality", TextAnalysis.qualityScores _,
      Sql(s"""WITH t AS (
           SELECT doc_id, n_chars, text, ${wsToksSql("text")} AS toks
           FROM documents)
         SELECT doc_id,
                CAST(n_chars AS DOUBLE) / len(toks) AS mean_token_len,
                CAST(${stopHitsSql("toks")} AS DOUBLE)
                  / len(toks) AS stopword_ratio,
                CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                  / n_chars AS alpha_ratio,
                LEAST(1.0,
                  (CAST(${stopHitsSql("toks")} AS DOUBLE) / len(toks)) * 2.0
                  + CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END) AS quality_score
         FROM t ORDER BY doc_id"""), Timed),
    QuerySpec("txt_lang_id", TextAnalysis.languageId _,
      Sql("""WITH t AS (
           SELECT doc_id, lang AS labelled_lang,
                  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, labelled_lang, toks, unnest([
             {'l': 'en', 'w': ['the','and','of','to','in','is','that','for']},
             {'l': 'de', 'w': ['der','die','das','und','ist','nicht','ein','zu']},
             {'l': 'fr', 'w': ['le','la','les','et','est','un','une','pour']},
             {'l': 'es', 'w': ['el','la','los','y','es','un','una','para']},
             {'l': 'zh', 'w': ['的','是','了','在','我','有','和','不']}]) AS cand
           FROM t),
         h AS (
           SELECT doc_id, labelled_lang, cand.l AS cl,
                  len(list_filter(toks, x -> list_contains(cand.w, x))) AS hits
           FROM c)
         SELECT doc_id,
                CASE WHEN hits > 0 THEN cl ELSE 'und' END AS predicted_lang,
                labelled_lang
         FROM h
         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cl DESC) = 1
         ORDER BY doc_id"""), Timed),
    // per (label, prediction) confusion cell with the label's share
    QuerySpec("txt_langid_confusion", TextAnalysis.langIdConfusion _,
      // the lang-id oracle's per-doc predictions aggregated to cells;
      // counts exact, shares exact-operand divides
      Sql("""WITH t AS (
           SELECT doc_id, lang AS labelled_lang,
                  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, labelled_lang, toks, unnest([
             {'l': 'en', 'w': ['the','and','of','to','in','is','that','for']},
             {'l': 'de', 'w': ['der','die','das','und','ist','nicht','ein','zu']},
             {'l': 'fr', 'w': ['le','la','les','et','est','un','une','pour']},
             {'l': 'es', 'w': ['el','la','los','y','es','un','una','para']},
             {'l': 'zh', 'w': ['的','是','了','在','我','有','和','不']}]) AS cand
           FROM t),
         h AS (
           SELECT doc_id, labelled_lang, cand.l AS cl,
                  len(list_filter(toks, x -> list_contains(cand.w, x))) AS hits
           FROM c),
         p AS (
           SELECT doc_id,
                  CASE WHEN hits > 0 THEN cl ELSE 'und' END AS predicted_lang,
                  labelled_lang
           FROM h
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cl DESC) = 1),
         cells AS (
           SELECT labelled_lang, predicted_lang, COUNT(*) AS docs
           FROM p GROUP BY 1, 2),
         tot AS (
           SELECT labelled_lang, SUM(docs) AS label_docs
           FROM cells GROUP BY 1)
         SELECT cells.labelled_lang, predicted_lang, docs,
                CAST(docs AS DOUBLE) / CAST(label_docs AS DOUBLE) AS share
         FROM cells JOIN tot USING (labelled_lang)
         ORDER BY labelled_lang, predicted_lang"""), Timed),
    QuerySpec("txt_scrub", TextAnalysis.scrub _,
      Sql("""SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text,
                      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                    'https?://[^\s]+', '<URL>', 'g'),
                  '[0-9]{6,}', '<NUM>', 'g') AS scrubbed,
                CAST(scrubbed <> text AS INT) AS changed
         FROM documents ORDER BY doc_id"""), Timed),
    QuerySpec("txt_repetition", TextAnalysis.repetitionScores _,
      // toks mirrors wsTokens' empty-token filter (see wsToksSql; inlined
      // here because this plain string must not escape-process '\.')
      Sql("""WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents)
         SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
                1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_ratio,
                CAST(list_max(list_transform(list_distinct(toks),
                       d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
                  / len(toks) AS top_token_share
         FROM t ORDER BY doc_id"""), Timed),
    // the published Gopher filter battery, per-rule signals + verdict
    QuerySpec("txt_gopher_rules", TextAnalysis.gopherRules _,
      // every ratio is exact-integer-count division in doubles; keep is a
      // conjunction over those exact values, so it replays bit-for-bit
      Sql("""WITH t AS (
           SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents),
         s AS (
           SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n_words FROM t),
         m AS (
           SELECT doc_id,
                  n_words,
                  CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) AS mean_word_len,
                  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) AS frac_alpha_words,
                  CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) AS symbol_ratio,
                  CAST(len(list_filter(toks, t -> lower(t) IN
                    ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS stop_hits
           FROM s)
         SELECT doc_id, n_words, mean_word_len, frac_alpha_words, symbol_ratio, stop_hits,
                (n_words BETWEEN 50 AND 100000)
                  AND (mean_word_len BETWEEN 3.0 AND 10.0)
                  AND frac_alpha_words >= 0.80
                  AND symbol_ratio <= 0.10
                  AND stop_hits >= 2 AS keep
         FROM m ORDER BY doc_id"""), Timed),
    // PII audit trail (counts per pattern class; txt_scrub is the rewrite)
    QuerySpec("txt_pii_report", TextAnalysis.piiReport _,
      Sql("""SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
                CAST(len(regexp_extract_all(text,
                  '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_long_numbers,
                (n_emails + n_urls + n_ipv4 + n_long_numbers) > 0 AS has_pii
         FROM documents ORDER BY doc_id"""), Timed),
    // per-domain URL/document counts (blocklist & per-domain-cap input)
    QuerySpec("txt_domains", TextAnalysis.domainStats _,
      Sql("""WITH u AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
           FROM documents),
         d AS (
           SELECT doc_id, lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)) AS domain
           FROM u)
         SELECT domain,
                CAST(COUNT(*) AS BIGINT) AS n_urls,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM d GROUP BY domain ORDER BY domain""")),
    // distilled quality classifier: logistic regression on rule-battery
    // labels, fixed-point-summed gradients — training itself is oracled
    // (the weights row hash-matches DuckDB's unrolled-GD replay)
    QuerySpec("quality_lr_weights", QualityModel.lrWeights _,
      // the trained weight VECTOR, value for value vs the unrolled replay
      Sql(s"""${lrGdSql()},
         out AS (
           SELECT 'bias' AS feature, wa AS weight FROM w3
           UNION ALL SELECT 'mean_token_len_s', wb FROM w3
           UNION ALL SELECT 'stopword_ratio', wc FROM w3
           UNION ALL SELECT 'alpha_ratio', wd FROM w3)
         SELECT feature, weight FROM out ORDER BY feature"""), Timed),
    QuerySpec("quality_lr_scores", QualityModel.lrScores _,
      Sql(s"""${lrGdSql()}
         SELECT doc_id,
                CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score,
                CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) >= 0.5 AS predicted
         FROM f, w3 w ORDER BY doc_id"""), Timed),
    // reliability table: per score decile, teacher-positive rate vs
    // mean predicted score -- the gate-threshold eval artifact
    QuerySpec("quality_calibration", QualityModel.lrCalibration _,
      Sql(s"""${lrGdSql()},
         scored AS (
           SELECT f.y,
                  CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score
           FROM f, w3 w),
         b AS (
           SELECT CAST(least(floor(CAST(score AS DOUBLE) * 100.0), 99.0) AS BIGINT) AS bucket,
                  y, score
           FROM scored)
         SELECT bucket, COUNT(*) AS n,
                CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS positives,
                CAST(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS FLOAT) AS pos_rate,
                CAST(CAST(SUM(CAST(round(CAST(score AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS FLOAT) AS mean_score
         FROM b GROUP BY 1 ORDER BY bucket"""), Timed),
    // threshold-free model evals: exact rank-statistic ROC AUC and the
    // percent-threshold precision/recall/F1 sweep
    QuerySpec("quality_auc", QualityModel.lrAuc _,
      // rank-statistic AUC with average ranks for ties: everything up
      // to the final divide is exact BIGINTs (r2 = doubled avg rank)
      Sql(s"""${lrGdSql()},
         scored AS (
           SELECT CAST(f.y AS BIGINT) AS y,
                  CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score
           FROM f, w3 w),
         g AS (SELECT score, COUNT(*) AS cnt, SUM(y) AS pos
               FROM scored GROUP BY score),
         r AS (SELECT *, SUM(cnt) OVER (ORDER BY score) AS cumall FROM g),
         a AS (SELECT CAST(SUM(pos * ((cumall - cnt) * 2 + cnt + 1)) AS BIGINT) AS posr2,
                      CAST(SUM(pos) AS BIGINT) AS npos,
                      CAST(SUM(cnt - pos) AS BIGINT) AS nneg
               FROM r)
         SELECT npos + nneg AS n, npos AS n_pos, nneg AS n_neg,
                posr2 - npos * (npos + 1) AS u2,
                CASE WHEN npos > 0 AND nneg > 0 THEN
                  CAST(CAST(posr2 - npos * (npos + 1) AS DOUBLE)
                       / (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)) AS FLOAT)
                END AS auc
         FROM a"""), Timed),
    QuerySpec("quality_pr_table", QualityModel.lrPrTable _,
      // percent-threshold confusion sweep: descending cumulative sums
      // give tp/fp; fn from the total; ratios are single exact-operand
      // divides cut to FLOAT
      Sql(s"""${lrGdSql()},
         scored AS (
           SELECT CAST(f.y AS BIGINT) AS y,
                  CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score
           FROM f, w3 w),
         b AS (SELECT CAST(least(floor(CAST(score AS DOUBLE) * 100.0), 99.0) AS BIGINT) AS bucket,
                      COUNT(*) AS n, SUM(y) AS pos
               FROM scored GROUP BY 1),
         c AS (SELECT bucket, n, pos,
                      SUM(pos) OVER (ORDER BY bucket DESC) AS tp,
                      SUM(n) OVER (ORDER BY bucket DESC) AS cumn,
                      (SELECT SUM(pos) FROM b) AS tot_pos
               FROM b)
         SELECT bucket AS threshold_bucket,
                CAST(tp AS BIGINT) AS tp,
                CAST(cumn - tp AS BIGINT) AS fp,
                CAST(tot_pos - tp AS BIGINT) AS fn,
                CAST(CAST(tp AS DOUBLE) / CAST(tp + (cumn - tp) AS DOUBLE) AS FLOAT) AS "precision",
                CASE WHEN tot_pos > 0 THEN
                  CAST(CAST(tp AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS FLOAT)
                END AS recall,
                CAST((2.0 * CAST(tp AS DOUBLE))
                     / CAST(tp * 2 + (cumn - tp) + (tot_pos - tp) AS DOUBLE) AS FLOAT) AS f1
         FROM c ORDER BY threshold_bucket"""), Timed),
    // one-number calibration summary over the percent-bin reliability
    // table: weighted |pos_rate - mean_score| plus the worst bucket gap
    QuerySpec("quality_ece", QualityModel.lrEce _,
      // the calibration CTE chain re-derives the float-cut
      // pos_rate/mean_score per bucket, then the same fixed-point
      // weighted-gap sum and pinned final divides
      Sql(s"""${lrGdSql()},
         scored AS (
           SELECT f.y,
                  CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score
           FROM f, w3 w),
         bkt AS (
           SELECT CAST(least(floor(CAST(score AS DOUBLE) * 100.0), 99.0) AS BIGINT) AS bucket,
                  y, score
           FROM scored),
         cal AS (
           SELECT bucket, COUNT(*) AS n,
                  CAST(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS FLOAT) AS pos_rate,
                  CAST(CAST(SUM(CAST(round(CAST(score AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS FLOAT) AS mean_score
           FROM bkt GROUP BY bucket)
         SELECT CAST(SUM(n) AS BIGINT) AS n,
                CASE WHEN SUM(n) > 0 THEN
                  CAST(CAST(SUM(CAST(round(CAST(n AS DOUBLE)
                         * ABS(CAST(pos_rate AS DOUBLE) - CAST(mean_score AS DOUBLE))
                         * 1000000.0) AS BIGINT)) AS DOUBLE)
                       / CAST(SUM(n) AS DOUBLE) / 1000000.0 AS FLOAT)
                END AS ece,
                CAST(MAX(CAST(ABS(CAST(pos_rate AS DOUBLE) - CAST(mean_score AS DOUBLE)) AS FLOAT)) AS FLOAT) AS max_ce
         FROM cal"""), Timed),
    QuerySpec("txt_fingerprints", TextAnalysis.fingerprints _,
      NoOracle("DuckDB cannot replay xxhash64; its md5 twin txt_fingerprints_md5 is oracled"), Timed),
    // md5-only projection: the full fingerprint row keeps xxhash64 columns
    // DuckDB cannot reproduce; this twin gives the content-id path an oracle
    QuerySpec("txt_fingerprints_md5", (s, d) =>
      TextAnalysis.fingerprints(s, d).select("doc_id", "fp_md5"),
      Sql("SELECT doc_id, md5(text) AS fp_md5 FROM documents ORDER BY doc_id")),
    // winnowing fingerprint selection (MOSS): min-hash per w-window of
    // k-gram md5-prefix hashes — fully oracled (DuckDB replays the
    // selection with list_min over list slices)
    QuerySpec("txt_winnow", (s, d) => TextAnalysis.winnowFingerprints(s, d),
      Sql(s"""${winnowBaseSql()}
         SELECT doc_id, unnest(fps) AS fp FROM wf ORDER BY doc_id, fp"""), Headline),
    QuerySpec("txt_top_bigrams", (s, d) => TextAnalysis.topBigrams(s, d),
      Sql("""WITH g AS (
           SELECT unnest(list_transform(range(len(string_split(text, ' ')) - 1),
                    i -> string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2])) AS bigram
           FROM documents WHERE len(string_split(text, ' ')) >= 2)
         SELECT bigram, COUNT(*) AS cnt FROM g GROUP BY bigram
         ORDER BY cnt DESC, bigram LIMIT 100""")),
    // PMI collocations: above-chance co-occurrence (min-count guarded),
    // float-washed ln over a pinned exact-integer operand chain
    QuerySpec("txt_pmi_collocations", (s, d) => TextAnalysis.pmiCollocations(s, d),
      // exact counts; the PMI operand chain (casts + association order)
      // mirrors the engine's, the one ln float-washed; bigram tiebreak
      Sql("""WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
         uni AS (SELECT unnest(tk) AS t FROM t),
         uc AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY 1),
         nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uc),
         occ AS (
           SELECT tk[i.i - 1] AS w1, tk[i.i] AS w2
           FROM t, unnest(range(2, len(tk) + 1)) AS i(i)
           WHERE len(tk) >= 2),
         bi AS (SELECT w1, w2, COUNT(*) AS cab FROM occ GROUP BY 1, 2),
         nb AS (SELECT CAST(SUM(cab) AS BIGINT) AS nb FROM bi),
         s AS (
           SELECT b.w1 || ' ' || b.w2 AS bigram, b.cab AS n_ab,
                  CAST(CAST(ln(
                    (CAST(b.cab AS DOUBLE) * CAST(nu.nu AS DOUBLE) * CAST(nu.nu AS DOUBLE))
                    / (CAST(nb.nb AS DOUBLE) * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))
                  ) AS FLOAT) AS DOUBLE) AS pmi
           FROM bi b
             JOIN uc ua ON b.w1 = ua.t
             JOIN uc ub ON b.w2 = ub.t
             CROSS JOIN nu CROSS JOIN nb
           WHERE b.cab >= 5)
         SELECT bigram, n_ab, pmi FROM s
         ORDER BY pmi DESC, bigram LIMIT 100"""), Timed),
    // per-source KL drift vs the corpus token distribution
    QuerySpec("txt_source_kl", TextAnalysis.sourceKlDivergence _,
      // integer-weighted fixed-point ln terms -> order-independent BIGINT
      // sum per source; one exact final division
      Sql(s"""WITH st AS (
           SELECT source, t AS term, COUNT(*) AS cs FROM (
             SELECT source, unnest(${wsToksSql("text")}) AS t FROM documents)
           GROUP BY 1, 2),
         ct AS (SELECT term, CAST(SUM(cs) AS BIGINT) AS c FROM st GROUP BY 1),
         ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM st GROUP BY 1),
         n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct),
         fx AS (
           SELECT st.source, ns.ns,
                  st.cs * CAST(round(CAST(CAST(ln(
                    (CAST(st.cs AS DOUBLE) * CAST(n.n AS DOUBLE))
                    / (CAST(ns.ns AS DOUBLE) * CAST(ct.c AS DOUBLE))
                  ) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS fix
           FROM st JOIN ct USING (term) JOIN ns USING (source) CROSS JOIN n)
         SELECT source, ns AS n_tokens,
                CAST(SUM(fix) AS DOUBLE) / (CAST(ns AS DOUBLE) * 1000000.0) AS kl
         FROM fx GROUP BY source, ns ORDER BY source"""), Timed),
    // per-source Zipf exponent (fixed-point log-log least squares)
    QuerySpec("txt_source_zipf", TextAnalysis.sourceZipfFit _,
      // exact BIGINT regression sums over float-washed fixed-point logs;
      // the closing fold runs in DOUBLE space in the engine's pinned
      // operand order (n*Sxy overflows BIGINT at a few hundred terms)
      Sql(s"""WITH st AS (
           SELECT source, t AS term, COUNT(*) AS cnt FROM (
             SELECT source, unnest(${wsToksSql("text")}) AS t FROM documents)
           GROUP BY 1, 2),
         rk AS (
           SELECT source, cnt,
                  row_number() OVER (PARTITION BY source
                    ORDER BY cnt DESC, term) AS r
           FROM st),
         fx AS (
           SELECT source,
                  CAST(round(CAST(CAST(ln(CAST(r AS DOUBLE)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
                  CAST(round(CAST(CAST(ln(CAST(cnt AS DOUBLE)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS y
           FROM rk),
         ag AS (
           SELECT source, COUNT(*) AS n_terms,
                  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(x * y) AS BIGINT) AS sxy,
                  CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM fx GROUP BY 1)
         SELECT source, n_terms,
                (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope
         FROM ag ORDER BY source"""), Timed),
    QuerySpec("txt_unigram_logprob", TextAnalysis.unigramLogProb _,
      // fixed-point per-token log-probs (round(float(ln(p))*1e6) BIGINT)
      // so the per-doc sum is order-independent and engine-exact; the
      // FLOAT cast before the round absorbs 1-ulp JVM-vs-libm ln drift
      Sql("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         tot AS (SELECT SUM(cnt) AS total FROM counts),
         lp AS (
           SELECT t.doc_id,
                  CAST(round(CAST(CAST(ln(CAST(c.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS lpf
           FROM toks t JOIN counts c USING (term) CROSS JOIN tot)
         SELECT doc_id, COUNT(*) AS n_tokens,
                CAST(SUM(lpf) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_logprob
         FROM lp GROUP BY doc_id ORDER BY doc_id"""), Headline),
    QuerySpec("txt_bigram_logprob", (s, d) => TextAnalysis.bigramLogProb(s, d),
      Sql(s"""$bigramLpBaseSql
         SELECT doc_id, n_bigrams, mean_logprob FROM blp ORDER BY doc_id"""), Timed),
    // CCNet head/middle/tail cut over the bigram-LM score
    QuerySpec("txt_perplexity_buckets", TextAnalysis.perplexityBuckets _,
      // percent_rank over a TIE-FREE total order (doc_id breaks score
      // ties) is pure integer rank arithmetic; the third boundaries are
      // the same double chain Spark folds ((1/3) then (1/3)*2)
      Sql(s"""$bigramLpBaseSql,
         pr AS (
           SELECT doc_id, mean_logprob,
                  percent_rank() OVER (ORDER BY mean_logprob DESC, doc_id) AS pr
           FROM blp)
         SELECT doc_id, mean_logprob,
                CASE WHEN pr < CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE) THEN 'head'
                     WHEN pr < (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) * CAST(2.0 AS DOUBLE) THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM pr ORDER BY doc_id"""), Timed),
    // Flesch reading-ease: exact word/sentence/vowel-group counts, one
    // pinned double chain cut to FLOAT
    QuerySpec("txt_readability", TextAnalysis.readabilityScores _,
      // exact regex-derived counts in a CTE, one pinned double chain
      Sql("""WITH r AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  GREATEST(CAST(1 AS BIGINT),
                    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                      s -> trim(s) <> '')) AS BIGINT)) AS n_sentences,
                  CAST(list_sum(list_transform(string_split(lower(text), ' '),
                    w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT) AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                CAST(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS FLOAT) AS flesch
         FROM r ORDER BY doc_id"""), Timed),
    // exact phrase search over positional postings (adjacency joins)
    QuerySpec("retrieval_phrase", graft.operators.Retrieval.phraseSearch _,
      Sql(phraseOracleSql), Timed),
    QuerySpec("txt_tfidf_top_terms", (s, d) => TextAnalysis.tfIdfTopTerms(s, d),
      Sql("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tfreq FROM toks GROUP BY doc_id, term),
         dlen AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
         dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term),
         n AS (SELECT COUNT(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
                  CAST((CAST(tfreq AS DOUBLE) / dlen) * ln((n + 1.0) / (dfreq + 1.0)) AS FLOAT) AS score
           FROM tf JOIN dlen USING (doc_id) JOIN dfr USING (term) CROSS JOIN n)
         SELECT doc_id, term, score FROM scored
         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 3
         ORDER BY doc_id, term"""), Timed),
    // BM25 ranked retrieval (fixed-point scores; index = postings + dlen)
    // Okapi BM25, Lucene +1 idf, k1=1.2 b=0.75 k=10: the idf ln is
    // float-washed, the per-term score is fixed-pointed before the
    // per-doc sum, and BOTH ranking and output read the same integer.
    // Constants replay Spark's driver arithmetic (1.2+1.0, 1-0.75+...)
    // as the identical double chains, never pre-folded literals.
    QuerySpec("retrieval_bm25_topk", (s, d) => Retrieval.bm25TopK(s, d),
      Sql("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tfreq FROM toks GROUP BY 1, 2),
         dlen AS (SELECT doc_id, SUM(tfreq) AS dlen FROM tf GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dlen) AS DOUBLE) AS total FROM dlen),
         q(qid, term) AS (VALUES
           (0, 'spark'), (0, 'query'), (0, 'join'),
           (1, 'fast'), (1, 'sort'), (1, 'merge'), (1, 'scan'),
           (2, 'customer'), (2, 'order'), (2, 'line'),
           (3, 'window'), (3, 'filter'), (3, 'group')),
         dfq AS (
           SELECT tf.term, COUNT(*) AS dfreq
           FROM tf JOIN (SELECT DISTINCT term FROM q) qt ON tf.term = qt.term
           GROUP BY 1),
         sc AS (
           SELECT q.qid, tf.doc_id,
                  SUM(CAST(round(CAST(CAST(
                    CAST(CAST(ln(CAST(1.0 AS DOUBLE)
                      + (st.n - CAST(d.dfreq AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        / (CAST(d.dfreq AS DOUBLE) + CAST(0.5 AS DOUBLE))) AS FLOAT) AS DOUBLE)
                    * ((CAST(tf.tfreq AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                       / (CAST(tf.tfreq AS DOUBLE)
                          + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                            + CAST(0.75 AS DOUBLE) * (CAST(dl.dlen AS DOUBLE) / (st.total / st.n)))))
                  AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT)) AS sfix
           FROM tf
             JOIN q ON tf.term = q.term
             JOIN dfq d ON tf.term = d.term
             JOIN dlen dl ON tf.doc_id = dl.doc_id
             CROSS JOIN st
           GROUP BY 1, 2),
         rk AS (
           SELECT qid, doc_id, sfix,
                  row_number() OVER (PARTITION BY qid ORDER BY sfix DESC, doc_id) AS rn
           FROM sc)
         SELECT qid, doc_id, CAST(sfix AS DOUBLE) / 1000000.0 AS score
         FROM rk WHERE rn <= 10 ORDER BY qid, doc_id"""), Headline),
    // persisted-posting-index consumer (train-once contract): row-identical
    // to retrieval_bm25_topk by construction (the artifact IS the tf frame)
    QuerySpec("retrieval_bm25_stored", (s, d) => Retrieval.bm25TopKStored(s, d),
      SameAs("retrieval_bm25_topk"), Headline),
    // DSIR importance resampling: estimator artifact, per-doc weights,
    // Gumbel-top-N draw — all replayed bit-exactly by the oracle
    QuerySpec("dsir_logratios", Importance.logRatios _,
      Sql(s"""$dsirBaseSql
         SELECT bucket, n_raw, n_tgt, logratio_fix FROM lr ORDER BY bucket"""), Timed),
    QuerySpec("dsir_weights", Importance.weights _,
      Sql(s"""$dsirBaseSql
         SELECT doc_id, n_tokens,
                CAST(lw_fix AS DOUBLE) / 1000000.0 AS log_weight
         FROM dw ORDER BY doc_id"""), Timed),
    QuerySpec("dsir_sample", (s, d) => Importance.sample(s, d),
      // Gumbel-top-N: uniform from md5 span 17-24 (disjoint from the
      // split and sampling spans), both ln applications float-washed,
      // the key an exact BIGINT sum; N = floor(0.25·corpus)
      Sql(s"""$dsirBaseSql,
         gk AS (
           SELECT d.doc_id,
                  dw.lw_fix + CAST(round(CAST(-CAST(ln(-CAST(ln(
                      (CAST(('0x' || substr(md5(d.text), 17, 8))::BIGINT AS DOUBLE) + CAST(0.5 AS DOUBLE))
                      / CAST(4294967296.0 AS DOUBLE)
                    ) AS FLOAT)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS key_fix
           FROM documents d JOIN dw ON d.doc_id = dw.doc_id),
         rk AS (
           SELECT doc_id, key_fix,
                  row_number() OVER (ORDER BY key_fix DESC, doc_id) AS rn
           FROM gk),
         tk AS (SELECT CAST(floor(CAST(0.25 AS DOUBLE) * COUNT(*)) AS BIGINT) AS n FROM documents)
         SELECT doc_id, CAST(key_fix AS DOUBLE) / 1000000.0 AS gumbel_key
         FROM rk, tk WHERE rk.rn <= tk.n ORDER BY doc_id"""), Timed),
    // contrastive hard-negative mining over the embedding corpus
    QuerySpec("retrieval_hard_negatives", (s, d) => Retrieval.hardNegatives(s, d),
      // positives: nearest same-label neighbor; hard negatives: top-5
      // wrong-label neighbors — float-washed sims, vec_id tie-breaks
      Sql("""WITH v AS (
           SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM v WHERE vec_id < 8),
         sc AS (
           SELECT qid, ql, vec_id, label,
                  CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid),
         pos AS (
           SELECT qid, vec_id AS pos_id, sim AS pos_sim FROM (
             SELECT qid, vec_id, sim,
                    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             FROM sc WHERE label = ql) WHERE rn = 1),
         neg AS (
           SELECT qid, CAST(rn AS INT) AS neg_rank, vec_id AS neg_id, sim AS neg_sim FROM (
             SELECT qid, vec_id, sim,
                    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             FROM sc WHERE label <> ql) WHERE rn <= 5)
         SELECT qid, pos_id, pos_sim, neg_rank, neg_id, neg_sim
         FROM pos JOIN neg USING (qid) ORDER BY qid, neg_rank"""), Timed),
    // lexical (Jaccard) + dense (cosine) rankings fused with RRF
    QuerySpec("retrieval_hybrid_rrf", (s, d) => Retrieval.hybridRrfTopK(s, d),
      // lexical rank: unigram Jaccard (exact-integer division); dense
      // rank: float-washed cosine; RRF contribution round(1e9/(60+r)) has
      // no representable .5 case in rank range, so the fused key is an
      // exact BIGINT sum on both engines
      Sql("""WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents),
         sized AS (SELECT doc_id, len(ts) AS nd, ts FROM d),
         q AS (SELECT doc_id AS qid, len(ts) AS qn, ts FROM d WHERE doc_id < 4),
         qt AS (SELECT qid, qn, unnest(ts) AS term FROM q),
         ct AS (SELECT doc_id, nd, unnest(ts) AS term FROM sized),
         inter AS (
           SELECT qt.qid, ct.doc_id, ANY_VALUE(ct.nd) AS nd, ANY_VALUE(qt.qn) AS qn,
                  COUNT(*) AS ninter
           FROM ct JOIN qt USING (term) WHERE ct.doc_id <> qt.qid GROUP BY 1, 2),
         lex AS (
           SELECT qid, doc_id, CAST(rn AS INT) AS lex_rank FROM (
             SELECT qid, doc_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY CAST(ninter AS DOUBLE) / CAST(nd + qn - ninter AS DOUBLE) DESC, doc_id) AS rn
             FROM inter) WHERE rn <= 50),
         v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         qv AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 4),
         den AS (
           SELECT qid, doc_id, CAST(rn AS INT) AS dense_rank FROM (
             SELECT qid, vec_id AS doc_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY CAST(list_cosine_similarity(qv, v) AS FLOAT) DESC, vec_id) AS rn
             FROM qv CROSS JOIN v WHERE vec_id <> qid) WHERE rn <= 50),
         fuse AS (
           SELECT COALESCE(l.qid, de.qid) AS qid, COALESCE(l.doc_id, de.doc_id) AS doc_id,
                  l.lex_rank, de.dense_rank,
                  COALESCE(CAST(round(1000000000.0 / (CAST(60 AS DOUBLE) + CAST(l.lex_rank AS DOUBLE))) AS BIGINT), 0)
                  + COALESCE(CAST(round(1000000000.0 / (CAST(60 AS DOUBLE) + CAST(de.dense_rank AS DOUBLE))) AS BIGINT), 0) AS rrf_fix
           FROM lex l FULL OUTER JOIN den de ON l.qid = de.qid AND l.doc_id = de.doc_id)
         SELECT qid, doc_id, lex_rank, dense_rank,
                CAST(rrf_fix AS DOUBLE) / 1000000000.0 AS rrf
         FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_fix DESC, doc_id) AS rn
               FROM fuse) WHERE rn <= 10
         ORDER BY qid, doc_id"""), Timed),
    // interpolated Kneser-Ney bigram LM (D = 0.75)
    QuerySpec("txt_kn_logprob", (s, d) => TextAnalysis.knLogProb(s, d),
      // interpolated Kneser-Ney, D = 0.75: continuation counts N₁₊ are
      // exact integers (their total IS the bigram type count), the
      // discount/backoff chain replays in pinned order, and the log
      // follows the float-then-fixed-point convention
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         occ AS (
           SELECT doc_id, toks[i.i - 1] AS prev, toks[i.i] AS cur
           FROM t, unnest(range(2, len(toks) + 1)) AS i(i)
           WHERE len(toks) >= 2),
         bi AS (SELECT prev, cur, COUNT(*) AS bcnt FROM occ GROUP BY 1, 2),
         ctx AS (SELECT prev, CAST(SUM(bcnt) AS BIGINT) AS cctx, COUNT(*) AS n1p_v FROM bi GROUP BY 1),
         cont AS (SELECT cur, COUNT(*) AS n1p_w FROM bi GROUP BY 1),
         tt AS (SELECT CAST(SUM(n1p_w) AS BIGINT) AS tt FROM cont),
         lp AS (
           SELECT o.doc_id,
                  CAST(round(CAST(CAST(ln(
                    (greatest(CAST(b.bcnt AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
                      / CAST(x.cctx AS DOUBLE))
                    + (((CAST(0.75 AS DOUBLE) * CAST(x.n1p_v AS DOUBLE)) / CAST(x.cctx AS DOUBLE))
                      * (CAST(c.n1p_w AS DOUBLE) / CAST(tt.tt AS DOUBLE)))
                  ) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS lpf
           FROM occ o
             JOIN bi b ON o.prev = b.prev AND o.cur = b.cur
             JOIN ctx x ON o.prev = x.prev
             JOIN cont c ON o.cur = c.cur
             CROSS JOIN tt)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                CAST(SUM(lpf) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_logprob
         FROM lp GROUP BY doc_id ORDER BY doc_id"""), Timed),
    // tokenizer training: corpus vocabulary, round-0 BPE pair statistics,
    // the iterative merge trainer (argmax-per-round: spec-pinned, not
    // SQL-expressible), and segmentation under a pinned 4-merge table
    // (oracle replays the greedy fusion as a sentinel replace chain)
    QuerySpec("txt_vocab", (s, d) => Tokenize.vocabulary(s, d),
      Sql("""WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         SELECT word, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
         FROM toks GROUP BY word ORDER BY cnt DESC, word LIMIT 1000"""), Timed),
    QuerySpec("txt_bpe_pairs", (s, d) => Tokenize.bpePairCounts(s, d),
      Sql("""WITH w AS (
           SELECT word, COUNT(*) AS wcnt
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           GROUP BY word),
         p AS (
           SELECT wcnt, unnest(list_transform(range(1, length(word)),
                    i -> {'lhs': substr(word, CAST(i AS INT), 1),
                          'rhs': substr(word, CAST(i + 1 AS INT), 1)}),
                  recursive := true)
           FROM w WHERE length(word) >= 2)
         SELECT lhs, rhs, CAST(SUM(wcnt) AS BIGINT) AS cnt
         FROM p GROUP BY lhs, rhs ORDER BY cnt DESC, lhs, rhs LIMIT 200""")),
    QuerySpec("txt_bpe_merges", (s, d) => Tokenize.bpeTrainMerges(s, d),
      NoOracle(
        "the batched BPE merge trainer, pinned by TokenizeSpec; txt_bpe_segment oracles the " +
          "segmentation under a pinned merge table"), Timed),
    QuerySpec("txt_bpe_segment", (s, d) =>
      Tokenize.bpeSegmentCounts(s, d, PinnedBpeMerges),
      Sql(s"""SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
                 CAST(list_sum(list_transform(string_split(text, ' '),
                   w -> length($bpeReplaceChainSql))) AS BIGINT) AS n_bpe_tokens
          FROM documents ORDER BY doc_id"""), Headline),
    // per-source fertility (BPE tokens per word, chars per token)
    QuerySpec("txt_tokenizer_fertility", (s, d) =>
      Tokenize.fertilityBySource(s, d, PinnedBpeMerges),
      // the segment oracle's per-doc counts aggregated per source;
      // counts exact, ratios exact-operand divides
      Sql(s"""WITH seg AS (
           SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
                  CAST(list_sum(list_transform(string_split(text, ' '),
                    w -> length($bpeReplaceChainSql))) AS BIGINT) AS n_bpe_tokens
           FROM documents)
         SELECT source, COUNT(*) AS docs,
                CAST(SUM(n_ws_tokens) AS BIGINT) AS ws_tokens,
                CAST(SUM(n_bpe_tokens) AS BIGINT) AS bpe_tokens,
                CAST(CAST(SUM(n_bpe_tokens) AS DOUBLE) / CAST(SUM(n_ws_tokens) AS DOUBLE) AS FLOAT) AS fertility,
                CAST(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_bpe_tokens) AS DOUBLE) AS FLOAT) AS chars_per_token
         FROM seg GROUP BY source ORDER BY source"""), Timed),
  )
}
