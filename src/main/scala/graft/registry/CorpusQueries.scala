package graft.registry

import graft.operators.{CorpusPrep, Curate, Decontaminate}
import graft.registry.BenchRole._
import graft.registry.Oracle.{SameAs, Sql}
import graft.registry.Shared._

/** Training-corpus preparation: packing, splits, chunking, objectives, sampling and
  * mixtures, decontamination, curation and ingest decisions.
  */
object CorpusQueries {

  /** Sampling configs shared between the registered queries and their
    * oracles — one definition, so the Spark CASE thresholds and the SQL
    * CASE literals cannot drift.
    */
  private val StratifiedRates = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25)

  private val StratifiedDefaultRate = 0.1

  private val MixtureWeights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)

  /** Shared CTE chain for the curation oracles: quality score, canonical
    * flag (first doc_id per identical text), quality flag, and the
    * capped `keep` decision — the same pinned stage order as
    * [[Curate.decisions]] (minQuality 0.6, cap 12).
    */
  private def curationFlagsSql: String =
    s"""WITH t AS (
         SELECT doc_id, source, lang, n_chars, text,
                ${wsToksSql("text")} AS toks,
                ('0x' || substr(md5(text), 17, 8))::BIGINT AS pick_key
         FROM documents),
       q AS (
         SELECT doc_id, source, lang, n_chars, text, pick_key,
                LEAST(1.0,
                  (CAST(${stopHitsSql("toks")} AS DOUBLE)
                    / len(toks)) * 2.0
                  + CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END) AS quality_score
         FROM t),
       f AS (
         SELECT *,
                CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
                     THEN 1 ELSE 0 END AS is_canonical,
                CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END AS passes_quality
         FROM q),
       h AS (
         SELECT *,
                CASE WHEN is_canonical * passes_quality = 1
                      AND row_number() OVER (PARTITION BY source
                            ORDER BY is_canonical * passes_quality DESC, pick_key, doc_id) <= 12
                     THEN 1 ELSE 0 END AS keep
         FROM f)"""

  /** Shared CTEs for the decontamination oracles: per-doc distinct width-4
    * grams (RAW strings — the Spark side joins on xxhash64 of the same
    * grams; a collision could only add a doc to the report, and the
    * hash-compare against this string-exact oracle proves none occurred)
    * and the distinct eval-set grams.
    */
  private def decontamGramsSql: String =
    """WITH d AS (
         SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS toks,
                ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
         FROM documents),
       g AS (
         SELECT DISTINCT doc_id, bucket,
                array_to_string(list_slice(toks, i.i, i.i + 3), ' ') AS gram
         FROM d, unnest(range(1, greatest(len(toks) - 3, 1) + 1)) AS i(i)),
       ev AS (SELECT DISTINCT gram FROM g WHERE bucket >= 95)"""

  /** CASE over [[StratifiedRates]] emitting the same floor(rate * 2^32)
    * BIGINT thresholds the Spark plan compares against.
    */
  private def stratifiedCaseSql: String = {
    val arms = StratifiedRates.toSeq.sortBy(_._1).map { case (k, r) =>
      s"WHEN '$k' THEN ${CorpusPrep.threshold32(r)}"
    }.mkString(" ")
    s"CASE lang $arms ELSE ${CorpusPrep.threshold32(StratifiedDefaultRate)} END"
  }

  /** CASE over [[MixtureWeights]] as DOUBLE-cast literals (a bare 0.3 is
    * DECIMAL in DuckDB — decimal arithmetic would diverge from Spark's
    * double rate computation).
    */
  private def mixtureWeightCaseSql: String = {
    val arms = MixtureWeights.toSeq.sortBy(_._1).map { case (k, w) =>
      s"WHEN '$k' THEN CAST($w AS DOUBLE)"
    }.mkString(" ")
    s"CASE source $arms END"
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("corpus_stats", graft.functions.CorpusStatsAggregator.perSource _,
      Sql("""SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
                MAX(n_chars) AS max_chars, MIN(n_chars) AS min_chars
         FROM documents GROUP BY source ORDER BY source"""), Timed),
    // per-(train, eval) n-gram containment — the fuzzy decontam metric
    QuerySpec("decontam_containment", (s, d) => Decontaminate.containmentReport(s, d),
      // per-(train, eval) distinct-gram containment at τ = 0.02 (the
      // registered τ is pinned low so the synthetic corpus' diffuse
      // overlap still yields report rows at every sf — production runs
      // pass the published 0.2-0.7 thresholds): counts are exact
      // integers, the division is one deterministic IEEE op
      Sql(s"""$decontamGramsSql,
         evd AS (SELECT doc_id AS eval_id, gram FROM g WHERE bucket >= 95),
         evn AS (SELECT eval_id, COUNT(*) AS n_eval FROM evd GROUP BY 1),
         sh AS (
           SELECT g.doc_id, e.eval_id, COUNT(*) AS n_shared
           FROM g JOIN evd e USING (gram) WHERE g.bucket < 95 GROUP BY 1, 2)
         SELECT s.doc_id, s.eval_id, s.n_shared, n.n_eval,
                CAST(s.n_shared AS DOUBLE) / CAST(n.n_eval AS DOUBLE) AS containment
         FROM sh s JOIN evn n USING (eval_id)
         WHERE CAST(s.n_shared AS DOUBLE) / CAST(n.n_eval AS DOUBLE) >= CAST(0.02 AS DOUBLE)
         ORDER BY s.doc_id, s.eval_id"""), Timed),
    // the minhash member of the decontamination family: band-collision
    // candidates, exact-Jaccard verified, worst eval offender per doc
    // oracle: the md5 token-minhash band replay (dedup_minhash_md5's CTE)
    // split train/eval on the content-hash bucket, candidates from band
    // collisions, exact token-set Jaccard, worst offender per train doc
    QuerySpec("decontam_neardup", (s, d) => Decontaminate.nearDupContaminationReport(s, d),
      Sql(s"""${minHashMd5BaseSql(32, 8, tokenFeatures = true)},
         bk AS (
           SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
           FROM documents),
         cand AS (
           SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
           FROM bb t JOIN bk bt ON t.doc_id = bt.doc_id
                JOIN bb e ON t.band_key = e.band_key
                JOIN bk be ON e.doc_id = be.doc_id
           WHERE bt.bucket < 95 AND be.bucket >= 95),
         ts AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset FROM documents),
         jac AS (
           SELECT c.doc_id, c.eval_id,
                  CAST(len(list_intersect(ta.tokset, tb.tokset)) AS DOUBLE)
                    / len(list_distinct(list_concat(ta.tokset, tb.tokset))) AS jaccard
           FROM cand c JOIN ts ta ON c.doc_id = ta.doc_id
                JOIN ts tb ON c.eval_id = tb.doc_id),
         f AS (SELECT * FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)),
         r AS (
           SELECT doc_id, eval_id, jaccard,
                  COUNT(*) OVER (PARTITION BY doc_id) AS n_eval_matches,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY jaccard DESC, eval_id) AS rn
           FROM f)
         SELECT doc_id, eval_id, jaccard,
                CAST(n_eval_matches AS BIGINT) AS n_eval_matches
         FROM r WHERE rn = 1 ORDER BY doc_id"""), Headline),
    // same report consuming the PERSISTED train band index (the serve
    // path — the corpus is never re-signed per eval suite); the live row
    // above doubles as the _rebuild twin. Row-identical by construction:
    // the artifact IS the train banding
    QuerySpec("decontam_neardup_stored", (s, d) => Decontaminate.nearDupContaminationReportStored(s, d),
      SameAs("decontam_neardup"), PrimedHeadline),
    // the UNION gate: drop on ANY of {gram overlap, containment, near-dup}
    // the union gate: each metric's replay chained under one WITH —
    // gram/containment ride decontamGramsSql's CTEs, near-dup rides the
    // token-minhash chain (its 'sh' CTE renamed csh in the containment
    // leg to avoid colliding with the minhash shingle CTE)
    QuerySpec("decontam_gate", (s, d) => Decontaminate.decontaminationGate(s, d),
      Sql(s"""$decontamGramsSql,
         ${minHashMd5BaseSql(32, 8, tokenFeatures = true).stripPrefix("WITH ")},
         bk AS (
           SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
           FROM documents),
         ndc AS (
           SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
           FROM bb t JOIN bk bt ON t.doc_id = bt.doc_id
                JOIN bb e ON t.band_key = e.band_key
                JOIN bk be ON e.doc_id = be.doc_id
           WHERE bt.bucket < 95 AND be.bucket >= 95),
         ndt AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset FROM documents),
         nd AS (
           SELECT DISTINCT c.doc_id
           FROM ndc c JOIN ndt ta ON c.doc_id = ta.doc_id
                JOIN ndt tb ON c.eval_id = tb.doc_id
           WHERE CAST(len(list_intersect(ta.tokset, tb.tokset)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tokset, tb.tokset))) >= CAST(0.5 AS DOUBLE)),
         gh AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram) WHERE g.bucket < 95),
         evd AS (SELECT doc_id AS eval_id, gram FROM g WHERE bucket >= 95),
         evn AS (SELECT eval_id, COUNT(*) AS n_eval FROM evd GROUP BY 1),
         csh AS (
           SELECT g.doc_id, e.eval_id, COUNT(*) AS n_shared
           FROM g JOIN evd e USING (gram) WHERE g.bucket < 95 GROUP BY 1, 2),
         ch AS (
           SELECT DISTINCT s.doc_id
           FROM csh s JOIN evn n USING (eval_id)
           WHERE CAST(s.n_shared AS DOUBLE) / CAST(n.n_eval AS DOUBLE) >= CAST(0.02 AS DOUBLE))
         SELECT d.doc_id,
                CAST(CASE WHEN gh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS gram_hit,
                CAST(CASE WHEN ch.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS containment_hit,
                CAST(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS neardup_hit,
                CAST(CASE WHEN gh.doc_id IS NOT NULL OR ch.doc_id IS NOT NULL
                           OR nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS dropped
         FROM d LEFT JOIN gh ON d.doc_id = gh.doc_id
                LEFT JOIN ch ON d.doc_id = ch.doc_id
                LEFT JOIN nd ON d.doc_id = nd.doc_id
         WHERE d.bucket < 95 ORDER BY d.doc_id"""), Headline),
    // cross-source verbatim-overlap audit (mixture double-count check)
    QuerySpec("corpus_source_overlap", (s, d) => CorpusPrep.sourceOverlap(s, d),
      Sql("""WITH fp AS (
           SELECT DISTINCT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp, source
           FROM documents)
         SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
         FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
         GROUP BY 1, 2 ORDER BY src_a, src_b"""), Timed),
    // token-budget mixture planner with epoch-capped repetition
    QuerySpec("corpus_budget_mix", (s, d) => CorpusPrep.budgetMix(s, d),
      // √n temperature shares fixed-pointed before the denominator sum;
      // budget = 4× corpus tokens, epochs capped at 4 (the temperature
      // tilt pushes tail sources over the cap while head sources stay
      // under — the partial-saturation regime the planner exists for);
      // desired/served/deficit are exact BIGINTs past the one rounding
      Sql("""WITH c AS (
           SELECT source, SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_tokens
           FROM documents GROUP BY 1),
         f AS (
           SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
                  CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576.0) AS BIGINT) AS sqf
           FROM c),
         s AS (SELECT CAST(SUM(sqf) AS BIGINT) AS ssqf, CAST(SUM(n_tokens) AS BIGINT) AS stok FROM f),
         m AS (
           SELECT source, n_tokens,
                  CAST(sqf AS DOUBLE) / CAST(s.ssqf AS DOUBLE) AS share,
                  CAST(round((CAST(sqf AS DOUBLE) / CAST(s.ssqf AS DOUBLE))
                    * (CAST(4.0 AS DOUBLE) * CAST(s.stok AS DOUBLE))) AS BIGINT) AS desired_tok
           FROM f, s)
         SELECT source, n_tokens, share, desired_tok,
                least(desired_tok, 4 * n_tokens) AS served_tok,
                CAST(least(desired_tok, 4 * n_tokens) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs,
                desired_tok - least(desired_tok, 4 * n_tokens) AS deficit
         FROM m ORDER BY source"""), Timed),
    // LLM-pipeline: corpus preparation
    // numShards pinned to 32: the DuckDB oracle hard-codes `doc_id % 32`;
    // the unpinned default derives the count from corpus size
    QuerySpec("corpus_pack_sequences", (s, d) =>
      CorpusPrep.packSequences(s, d, numShards = 32),
      Sql("""WITH d AS (
           SELECT doc_id, doc_id % 32 AS shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT doc_id, shard, n_tokens,
                CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS offset_in_shard,
                CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2048 AS BIGINT) AS seq_id
         FROM d ORDER BY doc_id"""), Timed),
    QuerySpec("corpus_pack_nosplit", (s, d) =>
      CorpusPrep.packSequencesNoSplit(s, d, numShards = 32),
      // the per-shard next-fit-decreasing fold replayed as a recursive
      // CTE: each recursion step consumes the next document (rn order =
      // n_tokens desc, doc_id) carrying (seq_id, used) forward — the
      // sequential state the Spark side folds inside mapPartitions
      Sql("""WITH RECURSIVE d AS (
           SELECT doc_id, doc_id % 32 AS shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, shard, n_tokens,
                  CAST(row_number() OVER (PARTITION BY shard
                    ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rn
           FROM d),
         pack(shard, rn, doc_id, n_tokens, seq_id, off, used) AS (
           SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
                  CAST(0 AS BIGINT), n_tokens
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
                  CASE WHEN p.used + r.n_tokens <= 2048 OR p.used = 0
                       THEN p.seq_id ELSE p.seq_id + 1 END,
                  CASE WHEN p.used + r.n_tokens <= 2048 OR p.used = 0
                       THEN p.used ELSE CAST(0 AS BIGINT) END,
                  CASE WHEN p.used + r.n_tokens <= 2048 OR p.used = 0
                       THEN p.used + r.n_tokens ELSE r.n_tokens END
           FROM pack p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
         SELECT doc_id, shard, n_tokens, seq_id, off AS offset_in_seq
         FROM pack ORDER BY doc_id"""), Timed),
    QuerySpec("corpus_train_val_split", (s, d) => CorpusPrep.trainValSplit(s, d),
      Sql("""SELECT doc_id,
                ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket,
                CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 95
                     THEN 'train' ELSE 'val' END AS split
         FROM documents ORDER BY doc_id"""), Timed),
    // near-dup-cluster-aware split: each doc inherits its cluster
    // representative's split decision, so near-duplicates of val docs
    // cannot sit in train (the leakage the content-hash split misses)
    // the DEFAULT row consumes the persisted component map (see
    // dedup_cluster_decision); the rebuild row times the full clustering
    QuerySpec("corpus_split_leakage_safe", (s, d) => CorpusPrep.leakageSafeSplitStored(s, d),
      Sql(s"""$simHashClusterBaseSql
         SELECT b.doc_id, b.component_id,
                CASE WHEN ('0x' || substr(md5(d.text), 1, 8))::BIGINT % 100 < 95
                     THEN 'train' ELSE 'val' END AS split
         FROM base b JOIN documents d ON b.component_id = d.doc_id
         ORDER BY b.doc_id"""), Headline),
    QuerySpec("corpus_split_leakage_rebuild", (s, d) => CorpusPrep.leakageSafeSplit(s, d),
      SameAs("corpus_split_leakage_safe"), Headline),
    QuerySpec("corpus_chunk", (s, d) => CorpusPrep.chunkDocuments(s, d),
      Sql("""WITH d AS (
           SELECT doc_id, text,
                  greatest((length(text) - 50 + 149) // 150, 1) AS n_chunks
           FROM documents),
         c AS (
           SELECT doc_id,
                  unnest(range(n_chunks)) AS chunk_id,
                  unnest(list_transform(range(n_chunks),
                    i -> substr(text, CAST(i * 150 + 1 AS INT), 200))) AS chunk_text
           FROM d)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, chunk_text,
                CAST(length(chunk_text) AS BIGINT) AS chunk_chars
         FROM c ORDER BY doc_id, chunk_id"""), Timed),
    // padding-waste ladder: the batching-vs-packing decision number
    // waste_frac is two exact-long casts divided in doubles — IEEE-equal
    // cross-engine without fixed-pointing
    QuerySpec("corpus_padding_waste", CorpusPrep.paddingWaste _,
      Sql(s"""WITH t AS (
           SELECT len(${wsToksSql("text")}) AS n_tok FROM documents),
         r AS (
           SELECT n_tok,
                  CASE WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                       WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
                       WHEN n_tok <= 1024 THEN 1024 WHEN n_tok <= 2048 THEN 2048
                       ELSE 4096 END AS rung
           FROM t)
         SELECT CAST(rung AS BIGINT) AS rung,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(LEAST(n_tok, rung)) AS BIGINT) AS n_tokens_kept,
                CAST(SUM(CASE WHEN n_tok > rung THEN n_tok - rung ELSE 0 END) AS BIGINT) AS n_tokens_truncated,
                CAST(rung * COUNT(*) AS BIGINT) AS n_padded,
                CAST(rung * COUNT(*) - SUM(LEAST(n_tok, rung)) AS DOUBLE)
                  / CAST(rung * COUNT(*) AS DOUBLE) AS waste_frac
         FROM r GROUP BY rung ORDER BY rung"""), Timed),
    // derandomized T5-style span-corruption layout (manifest, not rewrite)
    // grid-block derandomization: every arithmetic step is exact integers
    // off an md5 prefix, so the layout replays bit-for-bit
    QuerySpec("corpus_span_corruption", (s, d) => CorpusPrep.spanCorruptionManifest(s, d),
      Sql("""WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS tk FROM documents
           WHERE len(string_split(text, ' ')) >= 20),
         b AS (
           SELECT doc_id, tk, unnest(range(len(tk) // 20)) AS span_id FROM d),
         h AS (
           SELECT doc_id, tk, span_id,
                  ('0x' || substr(md5(doc_id || ':' || span_id || ':' || 42), 1, 8))::BIGINT AS h
           FROM b),
         s AS (
           SELECT doc_id, CAST(span_id AS BIGINT) AS span_id, tk,
                  span_id * 20 + (h % 18) + 1 AS start_tok
           FROM h)
         SELECT doc_id, span_id, CAST(start_tok AS BIGINT) AS start_tok,
                CAST(3 AS BIGINT) AS span_len,
                array_to_string(list_slice(tk, CAST(start_tok AS INT),
                  CAST(start_tok + 2 AS INT)), ' ') AS span_text
         FROM s ORDER BY doc_id, span_id"""), Timed),
    // fill-in-the-middle cut layout at the published ~50% apply rate
    QuerySpec("corpus_fim_manifest", (s, d) => CorpusPrep.fimManifest(s, d),
      Sql("""WITH d AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         f AS (
           SELECT doc_id, n_tok,
                  CAST(('0x' || substr(md5(doc_id || ':apply:' || 42), 1, 8))::BIGINT % 100 < 50 AS INT) AS fim,
                  ('0x' || substr(md5(doc_id || ':cut1:' || 42), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(doc_id || ':cut2:' || 42), 1, 8))::BIGINT AS h2
           FROM d),
         c AS (
           SELECT doc_id, n_tok, fim,
                  CASE WHEN fim = 1 THEN LEAST(h1 % (n_tok + 1), h2 % (n_tok + 1)) END AS cut_lo,
                  CASE WHEN fim = 1 THEN GREATEST(h1 % (n_tok + 1), h2 % (n_tok + 1)) END AS cut_hi
           FROM f)
         SELECT doc_id, n_tok, fim, cut_lo, cut_hi,
                cut_lo AS len_prefix, cut_hi - cut_lo AS len_middle,
                n_tok - cut_hi AS len_suffix
         FROM c ORDER BY doc_id"""), Timed),
    // UL2 mixture-of-denoisers routing (R/X/S at 50/25/25)
    QuerySpec("corpus_denoiser_mix", (s, d) => CorpusPrep.denoiserMix(s, d),
      Sql("""WITH d AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         r AS (
           SELECT doc_id, n_tok,
                  ('0x' || substr(md5(doc_id || ':denoiser:' || 42), 1, 8))::BIGINT % 4 AS route,
                  ('0x' || substr(md5(doc_id || ':split:' || 42), 1, 8))::BIGINT AS hs
           FROM d),
         m AS (
           SELECT doc_id, n_tok,
                  CASE WHEN route < 2 THEN 'R' WHEN route = 2 THEN 'X' ELSE 'S' END AS denoiser,
                  hs
           FROM r)
         SELECT doc_id, n_tok, denoiser,
                CAST(CASE denoiser WHEN 'R' THEN 3 WHEN 'X' THEN 12 END AS BIGINT) AS span_len,
                CAST(CASE denoiser WHEN 'R' THEN 20 WHEN 'X' THEN 40 END AS BIGINT) AS block_len,
                CASE WHEN denoiser = 'S' THEN hs % (n_tok + 1) END AS s_split
         FROM m ORDER BY doc_id"""), Timed),
    // gramWidth pinned to 4 for the registered rows: the synthetic corpus'
    // ~30-word vocabulary makes the published 13-gram convention (the
    // library default) vacuously overlap-free here — width 4 yields a
    // meaningful non-empty contamination set to hash-compare
    QuerySpec("corpus_decontam_report", (s, d) =>
      Decontaminate.contaminationReport(s, d, gramWidth = 4),
      Sql(s"""$decontamGramsSql
         SELECT g.doc_id, COUNT(*) AS n_shared_grams
         FROM g JOIN ev USING (gram) WHERE g.bucket < 95
         GROUP BY g.doc_id ORDER BY g.doc_id""")),
    QuerySpec("corpus_decontaminated", (s, d) =>
      Decontaminate.decontaminate(s, d, gramWidth = 4),
      Sql(s"""$decontamGramsSql,
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram) WHERE g.bucket < 95)
         SELECT doc_id, lang, source, n_chars FROM d
         WHERE bucket < 95 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""")),
    // bloom prefilter is a pure pre-prune: result must equal the exact
    // report, so the row reuses its oracle verbatim. The registered row
    // is the STORED-sketch consumer (build-and-persist on first use,
    // artifact reload after) — the production contract; the
    // build-every-time variant stays spec-pinned row-identical to it
    QuerySpec("corpus_decontam_bloom", (s, d) =>
      Decontaminate.contaminationReportBloomStored(s, d, gramWidth = 4),
      SameAs("corpus_decontam_report"), Headline),
    QuerySpec("corpus_stratified_sample", (s, d) =>
      CorpusPrep.stratifiedSample(s, d, StratifiedRates, StratifiedDefaultRate),
      Sql(s"""WITH d AS (
           SELECT doc_id, lang, source, n_chars,
                  ('0x' || substr(md5(text), 9, 8))::BIGINT AS k
           FROM documents)
         SELECT doc_id, lang, source, n_chars FROM d
         WHERE k < $stratifiedCaseSql ORDER BY doc_id"""), Timed),
    QuerySpec("corpus_mixture_sample", (s, d) =>
      CorpusPrep.mixtureSample(s, d, MixtureWeights),
      Sql(s"""WITH d AS (
           SELECT doc_id, source, lang, n_chars,
                  ('0x' || substr(md5(text), 9, 8))::BIGINT AS k,
                  $mixtureWeightCaseSql AS w
           FROM documents),
         counts AS (
           SELECT source, w, CAST(COUNT(*) AS DOUBLE) AS n
           FROM d WHERE w IS NOT NULL GROUP BY source, w),
         rates AS (
           SELECT source,
                  CAST(floor((w * (SELECT MIN(n / w) FROM counts)) / n * 4294967296.0) AS BIGINT) AS thresh
           FROM counts)
         SELECT doc_id, source, lang, n_chars FROM d JOIN rates USING (source)
         WHERE k < thresh ORDER BY doc_id""")),
    QuerySpec("corpus_shuffle_order", (s, d) => CorpusPrep.shuffleOrder(s, d),
      Sql("""WITH d AS (
           SELECT doc_id,
                  ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS shuffle_key
           FROM documents)
         SELECT doc_id, shuffle_key, shuffle_key % 64 AS bucket,
                CAST(row_number() OVER (PARTITION BY shuffle_key % 64
                  ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
         FROM d ORDER BY bucket, pos"""), Timed),
    // per-shard reproducibility certificate over the shuffle layout:
    // order-insensitive + order-sensitive xor fingerprints
    QuerySpec("corpus_shard_manifest", (s, d) => CorpusPrep.shardManifest(s, d),
      Sql("""WITH d AS (
           SELECT doc_id,
                  ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS skey,
                  ('0x' || substr(md5(text), 1, 15))::BIGINT AS dh,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
         p AS (
           SELECT *, skey % 64 AS bucket,
                  CAST(row_number() OVER (PARTITION BY skey % 64
                    ORDER BY skey, doc_id) AS BIGINT) AS pos
           FROM d),
         s AS (
           SELECT bucket, ntok, dh,
                  ('0x' || substr(md5(bucket || ':' || pos || ':' || dh), 1, 15))::BIGINT AS slot
           FROM p)
         SELECT bucket, COUNT(*) AS n_docs,
                CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                bit_xor(dh) AS content_fp, bit_xor(slot) AS order_fp
         FROM s GROUP BY bucket ORDER BY bucket"""), Timed),
    // τ=1/2 temperature-balanced language mixture (XLM-R recipe):
    // tail langs up-weighted, deterministic content-hash acceptance
    QuerySpec("corpus_temp_mixture", (s, d) => CorpusPrep.temperatureMixture(s, d),
      // τ=1/2 language temperature mixture: √n fixed-pointed to BIGINT
      // before the (order-dependent) sum; shares/rates replay the pinned
      // operation order; acceptance is the integer hash-threshold compare
      Sql("""WITH c AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
         f AS (
           SELECT lang, n,
                  CAST(round(sqrt(CAST(n AS DOUBLE)) * 1048576.0, 0) AS BIGINT) AS sqf
           FROM c),
         r AS (
           SELECT lang,
                  least(1.0,
                    ((CAST(sqf AS DOUBLE) / CAST((SELECT SUM(sqf) FROM f) AS DOUBLE))
                      * (0.5 * CAST((SELECT SUM(n) FROM f) AS DOUBLE)))
                      / CAST(n AS DOUBLE)) AS rate
           FROM f),
         t AS (
           SELECT lang, CAST(floor(rate * 4294967296.0) AS BIGINT) AS thresh FROM r),
         d AS (
           SELECT doc_id, lang, source, n_chars,
                  ('0x' || substr(md5(text), 9, 8))::BIGINT AS k
           FROM documents)
         SELECT doc_id, lang, source, n_chars FROM d JOIN t USING (lang)
         WHERE k < thresh ORDER BY doc_id"""), Timed),
    // C4-style cross-doc line dedup (corpus re-lined at 8 tokens/line) and
    // per-source document capping
    // cross-doc line dedup over the 8-tokens-per-line rendering: lines in
    // more than 2 distinct docs are boilerplate and removed everywhere,
    // survivors reassembled in order (unnest WITH ORDINALITY + list(ORDER
    // BY ord) replays the Spark-side filter HOF)
    QuerySpec("corpus_line_dedup", CorpusPrep.lineDedupRelined _,
      Sql("""WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         lined AS (
           SELECT doc_id, list_transform(range(0, (len(toks) - 1) // 8 + 1),
                    i -> array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')) AS lines
           FROM t),
         common AS (
           SELECT line FROM (
             SELECT line, COUNT(*) AS n_docs FROM (
               SELECT DISTINCT doc_id, unnest(lines) AS line FROM lined)
             GROUP BY line)
           WHERE n_docs > 2),
         ex AS (
           -- parallel unnests in one SELECT zip positionally in DuckDB
           -- (WITH ORDINALITY is unimplemented there)
           SELECT doc_id, unnest(lines) AS line,
                  unnest(range(1, len(lines) + 1)) AS ord
           FROM lined),
         keptl AS (
           SELECT e.doc_id, e.line, e.ord
           FROM ex e LEFT JOIN common c ON e.line = c.line
           WHERE c.line IS NULL),
         agg AS (
           SELECT doc_id, list(line ORDER BY ord) AS kept
           FROM keptl GROUP BY doc_id)
         SELECT l.doc_id,
                COALESCE(array_to_string(a.kept, chr(10)), '') AS text,
                CAST(COALESCE(len(a.kept), 0) AS BIGINT) AS n_lines_kept,
                CAST(len(l.lines) - COALESCE(len(a.kept), 0) AS BIGINT) AS n_lines_dropped
         FROM lined l LEFT JOIN agg a USING (doc_id)
         ORDER BY l.doc_id"""), Timed),
    // RefinedWeb-style domain-scoped boilerplate: report + hash-probe scrub
    QuerySpec("corpus_boilerplate_report", (s, d) => CorpusPrep.boilerplateReport(s, d),
      // domain-scoped recurrence at 4-token lines; share is one divide
      // of exact integer operands
      Sql("""WITH t AS (
           SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         lined AS (
           SELECT doc_id, source,
                  list_transform(range(0, (len(toks) - 1) // 4 + 1),
                    i -> array_to_string(list_slice(toks, i * 4 + 1, i * 4 + 4), ' ')) AS lines
           FROM t),
         src_tot AS (SELECT source, COUNT(*) AS src_docs FROM lined GROUP BY 1),
         per AS (
           SELECT source, line, COUNT(*) AS n_docs FROM (
             SELECT DISTINCT doc_id, source, unnest(lines) AS line FROM lined)
           GROUP BY 1, 2)
         SELECT p.source, p.line, p.n_docs, s.src_docs,
                CAST(p.n_docs AS DOUBLE) / CAST(s.src_docs AS DOUBLE) AS share
         FROM per p JOIN src_tot s USING (source)
         WHERE p.n_docs > 1
         ORDER BY p.source, p.n_docs DESC, p.line"""), Timed),
    QuerySpec("corpus_boilerplate_scrub", (s, d) => CorpusPrep.boilerplateScrub(s, d),
      // the line_dedup scrub replay, keyed by (source, line)
      Sql("""WITH t AS (
           SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         lined AS (
           SELECT doc_id, source,
                  list_transform(range(0, (len(toks) - 1) // 4 + 1),
                    i -> array_to_string(list_slice(toks, i * 4 + 1, i * 4 + 4), ' ')) AS lines
           FROM t),
         common AS (
           SELECT source, line FROM (
             SELECT source, line, COUNT(*) AS n_docs FROM (
               SELECT DISTINCT doc_id, source, unnest(lines) AS line FROM lined)
             GROUP BY 1, 2)
           WHERE n_docs > 1),
         ex AS (
           SELECT doc_id, source, unnest(lines) AS line,
                  unnest(range(1, len(lines) + 1)) AS ord
           FROM lined),
         keptl AS (
           SELECT e.doc_id, e.line, e.ord
           FROM ex e LEFT JOIN common c
             ON e.source = c.source AND e.line = c.line
           WHERE c.line IS NULL),
         agg AS (
           SELECT doc_id, list(line ORDER BY ord) AS kept
           FROM keptl GROUP BY doc_id)
         SELECT l.doc_id, l.source,
                COALESCE(array_to_string(a.kept, chr(10)), '') AS text,
                CAST(COALESCE(len(a.kept), 0) AS BIGINT) AS n_lines_kept,
                CAST(len(l.lines) - COALESCE(len(a.kept), 0) AS BIGINT) AS n_lines_dropped
         FROM lined l LEFT JOIN agg a USING (doc_id)
         ORDER BY l.doc_id"""), Timed),
    // per-source cap: 10 docs per source by content-hash order (md5 hex
    // digits 17-24, disjoint from the split/sample key digits)
    QuerySpec("corpus_cap_per_source", (s, d) => CorpusPrep.capPerSource(s, d, cap = 10),
      Sql("""SELECT doc_id, source, lang, n_chars FROM (
           SELECT doc_id, source, lang, n_chars,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY ('0x' || substr(md5(text), 17, 8))::BIGINT, doc_id) AS rn
           FROM documents)
         WHERE rn <= 10 ORDER BY doc_id"""), Timed),
    // per-source weighted sample without replacement (priority sampling:
    // q = n_chars/u, deterministic u from disjoint md5 digits)
    QuerySpec("corpus_weighted_sample", (s, d) => CorpusPrep.weightedSample(s, d),
      // priority sampling: q = w/u, u = (md5-hex[25..32] + 1)/2^32 —
      // one IEEE division of exact operands, no transcendental
      Sql("""SELECT source, rn, doc_id, n_chars, priority FROM (
           SELECT source, doc_id, n_chars,
                  CAST(n_chars AS DOUBLE)
                    / (CAST(('0x' || substr(md5(text), 25, 8))::BIGINT + 1 AS DOUBLE)
                       / 4294967296.0) AS priority,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY CAST(n_chars AS DOUBLE)
                      / (CAST(('0x' || substr(md5(text), 25, 8))::BIGINT + 1 AS DOUBLE)
                         / 4294967296.0) DESC, doc_id) AS rn
           FROM documents WHERE n_chars > 0)
         WHERE rn <= 20 ORDER BY source, rn"""), Timed),
    // end-to-end curation: dedup -> quality floor -> per-source cap, with
    // the per-document decision trail and the per-source funnel report
    QuerySpec("corpus_curation_decisions", (s, d) => Curate.decisions(s, d),
      Sql(s"""$curationFlagsSql
          SELECT doc_id, source, lang, n_chars, quality_score,
                 is_canonical, passes_quality, keep
          FROM h ORDER BY doc_id""")),
    // flagship composition: curate -> decontaminate -> shuffle -> pack in
    // one lineage (gramWidth 4 for the same non-vacuous-overlap reason as
    // the decontam rows)
    QuerySpec("corpus_curate_pack", (s, d) => Curate.curateThenPack(s, d, gramWidth = 4),
      // the full composition replayed: curation flags (shared CTEs), the
      // string-exact gram contamination set, the content-hash split, the
      // seed-keyed shuffle, and the running-offset pack — every stage is
      // the same SQL its standalone oracle uses, chained
      Sql(s"""$curationFlagsSql,
         db AS (
           SELECT *, ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS split_bucket,
                  string_split(text, ' ') AS gtoks
           FROM h),
         g AS (
           SELECT DISTINCT doc_id, split_bucket,
                  array_to_string(list_slice(gtoks, i.i, i.i + 3), ' ') AS gram
           FROM db, unnest(range(1, greatest(len(gtoks) - 3, 1) + 1)) AS i(i)),
         ev AS (SELECT DISTINCT gram FROM g WHERE split_bucket >= 95),
         cont AS (
           SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
           WHERE g.split_bucket < 95),
         surv AS (
           SELECT doc_id, source, quality_score,
                  CAST(len(gtoks) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS shuffle_key
           FROM db
           WHERE keep = 1 AND split_bucket < 95
             AND doc_id NOT IN (SELECT doc_id FROM cont)),
         sh AS (
           SELECT *, shuffle_key % 64 AS shard,
                  CAST(row_number() OVER (PARTITION BY shuffle_key % 64
                    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
           FROM surv)
         SELECT doc_id, source, quality_score, shard, pos, n_tokens,
                CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS offset_in_shard,
                CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2048 AS BIGINT) AS seq_id
         FROM sh ORDER BY shard, pos"""), Timed),
    // the batch-arrival sibling: per incoming doc, the full gate trail
    // (exact dup -> near dup -> contamination -> quality) with the first
    // failing reason — the decision row a continuous-ingest loop audits
    // the DEFAULT row gates against the persisted artifacts (the
    // stored-default convention); the rebuild row re-derives the corpus
    // inputs per call — row-identical, one oracle
    QuerySpec("corpus_ingest_decisions", (s, d) => Curate.ingestDecisionsStored(s, d, gramWidth = 4),
      // every gate replayed with its standalone oracle's SQL, chained:
      // exact fp lookup + within-batch window, the md5-simhash verdict
      // pipeline, the string-exact gram contamination set, the quality
      // floor — then the pinned-precedence reason CASE
      Sql(s"""$decontamGramsSql,
         bfp AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 0),
         cfp AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0),
         ex AS (
           SELECT doc_id,
                  CASE WHEN fp IN (SELECT fp FROM cfp)
                        OR ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1
                       THEN 1 ELSE 0 END AS exact_dup
           FROM bfp),
         t AS (
           SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
                    tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
           FROM documents),
         s AS (
           SELECT doc_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS simhash
           FROM t),
         bb AS (
           SELECT doc_id, simhash,
                  unnest([CAST(0 * 65536 + ((simhash >> 0) & 65535) AS BIGINT),
                          CAST(1 * 65536 + ((simhash >> 16) & 65535) AS BIGINT),
                          CAST(2 * 65536 + ((simhash >> 32) & 65535) AS BIGINT),
                          CAST(3 * 65536 + ((simhash >> 48) & 65535) AS BIGINT)]) AS band_key
           FROM s),
         nd AS (
           SELECT DISTINCT a.doc_id FROM bb a JOIN bb b USING (band_key)
           WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
             AND bit_count(xor(a.simhash, b.simhash)) <= 3),
         cont AS (
           SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
           WHERE g.doc_id % 10 = 0),
         qq AS (
           SELECT doc_id, $qualityScoreSql AS quality_score
           FROM documents)
         SELECT b.doc_id, ex.exact_dup,
                CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END AS near_dup,
                CASE WHEN cont.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated,
                CASE WHEN qq.quality_score >= 0.6 THEN 1 ELSE 0 END AS passes_quality,
                CASE WHEN ex.exact_dup = 0 AND nd.doc_id IS NULL
                      AND cont.doc_id IS NULL AND qq.quality_score >= 0.6
                     THEN 1 ELSE 0 END AS admit,
                CASE WHEN ex.exact_dup = 1 THEN 'exact_dup'
                     WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                     WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
                     WHEN qq.quality_score < 0.6 THEN 'low_quality' END AS reason
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b
         JOIN ex USING (doc_id)
         LEFT JOIN nd USING (doc_id)
         LEFT JOIN cont USING (doc_id)
         JOIN qq USING (doc_id)
         ORDER BY b.doc_id"""), Timed),
    // rebuild twin: row-identical to corpus_ingest_decisions, same replay
    QuerySpec("corpus_ingest_rebuild", (s, d) => Curate.ingestDecisions(s, d, gramWidth = 4),
      SameAs("corpus_ingest_decisions"), Timed),
    QuerySpec("corpus_curated", (s, d) => Curate.curatedCorpus(s, d),
      Sql(s"""$curationFlagsSql
          SELECT doc_id, source, lang, n_chars, quality_score
          FROM h WHERE keep = 1 ORDER BY doc_id"""), Timed),
    QuerySpec("corpus_curation_report", (s, d) => Curate.report(s, d),
      Sql(s"""$curationFlagsSql
          SELECT source, COUNT(*) AS n_input,
                 CAST(SUM(is_canonical) AS BIGINT) AS n_canonical,
                 CAST(SUM(is_canonical * passes_quality) AS BIGINT) AS n_quality,
                 CAST(SUM(keep) AS BIGINT) AS n_kept
          FROM h GROUP BY source ORDER BY source""")),
    QuerySpec("corpus_quality_quantile", (s, d) => Curate.qualityQuantileFilter(s, d),
      // percent_rank is pure integer rank arithmetic over the same
      // (quality_score, doc_id) total order — no interpolated percentile
      Sql(s"""WITH t AS (
           SELECT doc_id, source, n_chars,
                  ${wsToksSql("text")} AS toks
           FROM documents),
         q AS (
           SELECT doc_id, source,
                  LEAST(1.0,
                    (CAST(${stopHitsSql("toks")} AS DOUBLE) / len(toks)) * 2.0
                    + CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END) AS quality_score
           FROM t),
         r AS (
           SELECT doc_id, source, quality_score,
                  percent_rank() OVER (PARTITION BY source
                    ORDER BY quality_score, doc_id) AS pct_rank
           FROM q)
         SELECT doc_id, source, quality_score, pct_rank
         FROM r WHERE pct_rank >= 0.25 ORDER BY doc_id"""), Timed),
  )
}
