package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.IO

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language identification, and document fingerprinting.
  * Everything is built from codegen'd Catalyst expressions (split/filter/
  * transform/aggregate, xxhash64/md5) — no UDFs in the hot path, so the
  * whole stage stays inside WholeStageCodegen and scales linearly with
  * input splits.
  */
object TextAnalysis {

  /** The documents scan, widen-if-narrow (IO.widened): every operator in
    * this file runs split/transform/hash kernels directly on the scan,
    * and the single-row-group testdata file would run them in ONE task;
    * at production scan widths the widening is a no-op.
    */
  private def widenedDocs(
      spark: SparkSession,
      sfDir: String): DataFrame =
    IO.widened(IO.table(spark, sfDir, "documents"))

  /** Whitespace tokens. Leading whitespace would otherwise yield a
    * phantom empty first token (Spark's split keeps leading empties, only
    * trailing are trimmed) that inflates every count-derived signal —
    * filtered here so whitespace-prefixed crawl text scores the same as
    * its trimmed twin. (Result-neutral on the fixture, which carries no
    * leading whitespace — pinned by the oracles staying hash-green.)
    */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** Token counting: whitespace tokens next to BPE-ish regex tokens
    * (maximal alnum runs plus single punctuation marks — a regex stand-in
    * for a real byte-pair vocabulary).
    */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    widenedDocs(spark, sfDir)
      .select(
        col("doc_id"),
        size(wsTokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
          .cast("long").as("n_regex_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  /** PII/noise scrubbing: redact emails, URLs, and long digit runs with
    * typed placeholder tokens — the standard pre-training hygiene pass.
    * Pure regexp_replace chain (codegen'd, no UDF); patterns use only
    * character classes and quantifiers so the Java and RE2 regex dialects
    * agree (no backreferences, no lookaround).
    */
  def scrub(spark: SparkSession, sfDir: String): DataFrame =
    widenedDocs(spark, sfDir)
      .select(col("doc_id"), col("text"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"),
              "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
            "https?://[^\\s]+", "<URL>"),
          "[0-9]{6,}", "<NUM>").as("scrubbed"))
      .select(col("doc_id"), col("scrubbed"),
        (col("scrubbed") =!= col("text")).cast("int").as("changed"))
      .orderBy("doc_id")

  /** Repetition signals (the Gopher-style quality heuristics): the share of
    * duplicate whitespace tokens and the concentration of the most frequent
    * token — high-repetition documents are the classic low-quality crawl
    * artifacts a pretraining pipeline drops. Integer counts divided in
    * doubles, so the scores are exact cross-engine.
    *
    * top_token_share folds over distinct×all tokens — O(d·n) per document,
    * fine for web-document lengths; a corpus of multi-megabyte documents
    * should truncate to a prefix window first (repetition is a local
    * signal), keeping the per-row cost bounded.
    */
  def repetitionScores(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = col("toks")
    widenedDocs(spark, sfDir)
      .withColumn("toks", wsTokens(col("text")))
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        (lit(1.0) - size(array_distinct(toks)).cast("double")
          / size(toks)).as("dup_token_ratio"),
        // top token count = LONGEST EQUAL RUN of the sorted token array:
        // one O(n log n) sort + one linear fold, replacing the r18
        // distinct×filter scan (O(distinct·n) string compares per doc —
        // quadratic on low-duplication text, measured 2.2 s at sf0.1 for
        // a map-side row). The max run length of the sorted array IS the
        // max occurrence count, so the emitted integer (and the final
        // divide's operands) are unchanged — same oracle.
        (expr(
          """aggregate(array_sort(toks),
               named_struct('prev', cast(null as string), 'run', 0, 'best', 0),
               (acc, t) -> named_struct(
                 'prev', t,
                 'run',  if(t = acc.prev, acc.run + 1, 1),
                 'best', greatest(acc.best, if(t = acc.prev, acc.run + 1, 1))),
               acc -> acc.best)""").cast("double")
          / size(toks)).as("top_token_share"))
      .orderBy("doc_id")
  }

  private val StopwordsEn = Seq(
    "the", "a", "of", "and", "to", "in", "is", "it", "for", "on", "with")

  /** The blended [0,1] quality score as a bare Column over a frame carrying
    * `toks` (whitespace tokens) and `n_chars` — factored out so composed
    * pipelines ([[graft.operators.Curate]]) compute it on their own scan
    * instead of paying a join against [[qualityScores]].
    */
  def qualityScoreCol: Column = {
    val toks = col("toks")
    val nTok = size(toks).cast("double")
    // lower() before the stopword probe — the languageId/gopherRules
    // convention; a title-case document must not score stopword-poor
    // (result-neutral on the all-lowercase fixture)
    val stopHits = size(filter(toks,
      t => lower(t).isInCollection(StopwordsEn))).cast("double")
    least(
      lit(1.0),
      (stopHits / nTok) * 2.0
        + when(col("n_chars") >= 100 && col("n_chars") <= 10000, 0.5)
          .otherwise(0.0))
  }

  /** Quality scoring: mean token length, stopword ratio, alphabetic ratio,
    * and a blended [0,1] quality score (long-token-heavy, stopword-poor
    * text scores low — the usual cheap pretraining-corpus heuristics).
    */
  def qualityScores(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = col("toks")
    val nTok = size(toks).cast("double")
    val stopHits = size(filter(toks,
      t => lower(t).isInCollection(StopwordsEn))).cast("double")
    val alphaChars = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
      .cast("double")
    widenedDocs(spark, sfDir)
      .withColumn("toks", wsTokens(col("text")))
      .select(
        col("doc_id"),
        (col("n_chars").cast("double") / nTok).as("mean_token_len"),
        (stopHits / nTok).as("stopword_ratio"),
        (alphaChars / col("n_chars").cast("double")).as("alpha_ratio"),
        qualityScoreCol.as("quality_score"))
      .orderBy("doc_id")
  }

  /** Tiny per-language stopword lists for the n-gram/stopword-overlap
    * language-ID heuristic.
    */
  private val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "para"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Language ID: argmax over per-language stopword hit counts;
    * zero-evidence documents fall back to "und" (undetermined), and exact
    * ties resolve deterministically to the lexicographically-greatest
    * language code (struct max compares (hits, lang)). Returns the
    * prediction next to the table's labelled lang for eyeballing accuracy.
    */
  def languageId(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = col("toks")
    val scored = LangStopwords.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isInCollection(words))).as("hits"),
        lit(lang).as("lang"))
    }
    // `best` is referenced TWICE below (guard on .hits, emit .lang).
    // Written inline, both references carried the whole 5-language
    // scoring expression — 10 stop-word passes per document instead of 5
    // (the guide's duplicated-subtree trap; confirmed in the r19 before
    // plan). Materializing it as its own column keeps one evaluation:
    // CollapseProject refuses to inline a non-cheap expression referenced
    // more than once, so the scoring stays in its own projection.
    val best = array_max(array(scored: _*))
    widenedDocs(spark, sfDir)
      .withColumn("toks", wsTokens(lower(col("text"))))
      .withColumn("best", best)
      .select(
        col("doc_id"),
        when(col("best").getField("hits") > 0, col("best").getField("lang"))
          .otherwise(lit("und")).as("predicted_lang"),
        col("lang").as("labelled_lang"))
      .orderBy("doc_id")
  }

  /** LANGUAGE-ID CONFUSION MATRIX — the eval row behind the n-gram
    * heuristic: per (labelled, predicted) language pair, document count
    * and the share of that label's documents — where the classifier's
    * mass actually lands, read before anyone trusts a per-language
    * corpus mix it produced. Exact counts; shares are exact-operand
    * divides.
    *
    * Scale shape: [[languageId]]'s one map-side scoring pass into a
    * (|langs|², tiny) aggregation; the label-total joins back by
    * broadcast.
    */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = languageId(spark, sfDir)
      .select("labelled_lang", "predicted_lang")
    val cells = pred.groupBy("labelled_lang", "predicted_lang")
      .agg(count(lit(1)).as("docs"))
      .localCheckpoint() // two consumers: totals and share rows
    val totals = cells.groupBy("labelled_lang")
      .agg(sum("docs").as("label_docs"))
    cells.join(broadcast(totals), "labelled_lang")
      .select(col("labelled_lang"), col("predicted_lang"), col("docs"),
        (col("docs").cast("double") / col("label_docs").cast("double"))
          .as("share"))
      .orderBy("labelled_lang", "predicted_lang")
  }

  /** Corpus-level top bigrams: explode rolling 2-grams, count, keep the
    * top 100 under a deterministic total order. Partial aggregation
    * collapses per-partition counts before the shuffle; the final limit is
    * a TakeOrdered, not a global sort.
    */
  def topBigrams(spark: SparkSession, sfDir: String, topN: Int = 100): DataFrame =
    widenedDocs(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 2),
             i -> concat_ws(' ', slice(toks, i + 1, 2)))""")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(topN)

  /** PMI COLLOCATIONS: the top bigrams by pointwise mutual information
    *   pmi(a,b) = ln( p(ab) / (p(a)·p(b)) )
    *            = ln( c(ab)·N_u² / (N_b·c(a)·c(b)) )
    * — the statistical-collocation complement to [[topBigrams]]'s raw
    * frequency ranking (raw counts surface boilerplate; PMI surfaces
    * pairs that co-occur far above chance — named entities, fixed
    * phrases — the vocabulary-curation signal tokenizer and quality
    * teams read). The min-count floor is the standard guard against the
    * PMI rare-pair pathology (a hapax bigram of two hapax words scores
    * maximal PMI on zero evidence).
    *
    * Scale shape: one token explode → unigram counts, one bigram
    * explode → pair counts — both Zipf-small after their map-side
    * combines; the min-count filter cuts the pair table BEFORE the two
    * unigram joins (AQE broadcasts the vocab side when it fits); totals
    * are one-row broadcast frames. The final top-N is TakeOrdered.
    *
    * Determinism: all counts are exact longs; the PMI operand chain is
    * pinned (casts and association order mirrored in the oracle), the
    * single ln is float-washed (the LM-ladder convention), and ties
    * break on the bigram string.
    */
  def pmiCollocations(
      spark: SparkSession,
      sfDir: String,
      minCount: Int = 5,
      topN: Int = 100): DataFrame = {
    val toks = IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val uni = toks.select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val nu = uni.agg(sum("c").as("nu"))
    val bi = toks
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        """transform(sequence(2, size(tk)),
             i -> struct(element_at(tk, i - 1) AS w1, element_at(tk, i) AS w2))"""))
        .as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cab"))
    val nb = bi.agg(sum("cab").as("nb"))
    bi.filter(col("cab") >= minCount)
      .join(uni.select(col("t").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(nu))
      .crossJoin(broadcast(nb))
      .select(
        concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("cab").as("n_ab"),
        log(
          (col("cab").cast("double") * col("nu").cast("double")
            * col("nu").cast("double"))
            / (col("nb").cast("double") * col("ca").cast("double")
              * col("cb").cast("double")))
          .cast("float").cast("double").as("pmi"))
      .orderBy(desc("pmi"), asc("bigram"))
      .limit(topN)
  }

  /** Per-source KL DIVERGENCE of token distributions against the whole
    * corpus — the drift detector curation teams chart per source/crawl
    * version: KL(p_source ‖ p_corpus) = Σ_t p_s(t)·ln(p_s(t)/q(t)).
    * A source whose KL jumps between corpus versions changed its
    * language (template rot, spam injection, encoding breakage) even if
    * its volume and quality scores held steady. Always well-defined:
    * every source term is a corpus term, so q(t) > 0 on the support.
    *
    * Scale shape: ONE token explode into the (source, term) count table
    * (map-side combined, Zipf-small); corpus-wide term counts re-
    * aggregate THAT table (the TF-IDF trick — never a second explode);
    * totals are one-row broadcast frames. The only data-scale exchange
    * is the first count's.
    *
    * Determinism: the per-term ratio (c_s·N)/(N_s·c) has exact-integer
    * operands; its ln is float-washed and fixed-pointed to
    * round(·×10⁶), then WEIGHTED BY THE INTEGER c_s — so the per-source
    * sum is an exact BIGINT sum (order-independent) and the final
    * division by N_s·10⁶ is one exact op. Cross-engine bit-identical.
    */
  def sourceKlDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val st = IO.table(spark, sfDir, "documents")
      .select(col("source"), explode(wsTokens(col("text"))).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("cs"))
    val ct = st.groupBy("term").agg(sum("cs").as("c"))
    val ns = st.groupBy("source").agg(sum("cs").as("ns"))
    val n = ct.agg(sum("c").as("n"))
    st.join(ct, "term")
      .join(ns, "source")
      .crossJoin(broadcast(n))
      .select(col("source"), col("ns"),
        (col("cs")
          * round(log((col("cs").cast("double") * col("n").cast("double"))
              / (col("ns").cast("double") * col("c").cast("double")))
              .cast("float").cast("double") * lit(1000000.0), 0).cast("long"))
          .as("fix"))
      .groupBy("source", "ns")
      .agg(sum("fix").as("s"))
      .select(col("source"), col("ns").as("n_tokens"),
        (col("s").cast("double")
          / (col("ns").cast("double") * lit(1000000.0))).as("kl"))
      .orderBy("source")
  }

  /** ZIPF-EXPONENT fit per source: least-squares slope of
    * ln(freq) vs ln(rank) over each source's term-frequency table — the
    * vocabulary-health diagnostic next to [[sourceKlDivergence]]'s drift
    * (natural text sits near s ≈ −1; template/boilerplate sources
    * flatten toward 0 and their slope shifts before human review
    * notices). Ranks are tie-broken by term, so the regression inputs
    * are deterministic.
    *
    * Scale shape: one token explode into the Zipf-small (source, term)
    * count table; the rank window partitions by source over that
    * already-aggregated table; the regression reduces each source to
    * FIVE integer sums. Nothing at token scale shuffles twice.
    *
    * Determinism: ln(rank) and ln(freq) are float-washed and
    * fixed-pointed to round(·×10⁶) longs; Σx, Σy, Σxy, Σx² are exact
    * BIGINT sums of exact products (order-independent), and the final
    * slope/intercept fold those integers in pinned operation order —
    * bit-identical cross-engine. Headroom: Σ(xy-fix) stays in a long
    * through ~10⁴ ranked terms per source at 10⁶ scaling; a web-scale
    * vocabulary lifts the sums to DECIMAL (the moment-sum convention).
    */
  def sourceZipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = widenedDocs(spark, sfDir)
      .select(col("source"), explode(wsTokens(col("text"))).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("cnt").desc, col("term"))))
    val fixed = ranked.select(col("source"),
      round(log(col("r").cast("double")).cast("float").cast("double")
        * lit(1000000.0), 0).cast("long").as("x"),
      round(log(col("cnt").cast("double")).cast("float").cast("double")
        * lit(1000000.0), 0).cast("long").as("y"))
    fixed
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_terms"),
        // slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²). The sums are exact
        // integers (order-independent); the fold runs in DOUBLE space
        // in pinned operand order because n·Σxy overflows a long at a
        // few hundred terms (Σxy ~ n·(ln·10⁶)² ≈ 10¹⁶). The 10⁶ fix
        // scales cancel in the ratio.
        ((col("n_terms").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_terms").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
          .as("zipf_slope"))
      .orderBy("source")
  }

  /** TF-IDF top-3 terms per document. All inputs to the score are exact
    * integers, so the double score is bit-identical across engines:
    * (tf/dlen) * ln((N+1)/(df+1)). The raw token stream is exploded and
    * shuffled ONCE (into `tf`); `dlen` (sum of tfreq per doc) and `dfreq`
    * (rows per term) both derive from that already-aggregated frame, whose
    * row count is distinct (doc, term) pairs — typically 5-20× smaller
    * than the token stream a second explode would re-shuffle. Join order
    * is term-side first, doc-side last, so the final hash(doc_id)
    * partitioning satisfies the ranking window's distribution with no
    * extra exchange.
    */
  def tfIdfTopTerms(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val docs = IO.table(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tfreq"))
    val dlen = tf.groupBy("doc_id").agg(sum("tfreq").as("dlen"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf
      .join(dfreq, "term")
      .join(dlen, "doc_id")
      .crossJoin(broadcast(n))
      // float: JVM Math.log and C libm log differ by 1 ulp on some inputs;
      // the float rounding absorbs it. BOTH the output and the ranking use
      // the float score, so cross-engine top-k selection is deterministic
      // too (a double-score rank could pick different rows at a 1-ulp tie).
      .withColumn("score",
        ((col("tfreq").cast("double") / col("dlen"))
          * log((col("n") + lit(1.0)) / (col("dfreq") + lit(1.0))))
          .cast("float"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("doc_id", "term", "score")
      .orderBy("doc_id", "term")
  }

  /** Unigram language-model score per document: mean log-probability of
    * its tokens under the corpus' own unigram distribution — the cheap
    * end of perplexity filtering (documents whose token mix is improbable
    * under the corpus LM are the classic junk: boilerplate, wrong
    * language, encoding noise). Two shuffles at any scale: tokens join
    * the (Zipf-small) vocabulary on term, then re-aggregate per doc; the
    * vocab side is groupBy-built so both inputs arrive map-side combined,
    * and AQE broadcasts the vocab when it fits.
    *
    * Determinism: each token's log-prob is fixed-pointed to
    * round(float(ln(p))·1e6) as a BIGINT before summing — integer sums
    * are order-independent, so the score is bit-identical across
    * partition orders AND engines (the kmeans accumulator argument; a
    * raw double sum of logs would pick up partition-order rounding).
    * The float cast before the round mirrors the tf-idf convention: JVM
    * Math.log and DuckDB's libm ln can differ by 1 ulp in the double,
    * and a value landing inside that of a .5 boundary would flip the
    * BIGINT; float's 24-bit mantissa washes the ulp out, and float·1e6
    * is exact in double (24+20 bits < 53), so the round is stable.
    */
  /** The persisted LM count tables — `uni` (term, ucnt) and `bi`
    * (prev, cur, bcnt), both Zipf-small. The LM
    * ladder's corpus-derived side: training is counting, so these
    * artifacts ARE the trained model, refreshed per corpus version; every
    * scoring row then pays only its own occurrence scan (the per-doc
    * positions scoring needs cannot be pre-aggregated). Row-identical by
    * construction — the artifact is the same aggregation — so stored and
    * rebuild rows share one oracle.
    */
  private[graft] def lmCountTables(sfDir: String): IO.Artifact = {
    import org.apache.spark.sql.types._
    IO.Artifact(sfDir, "documents", "text", "lmco", s"lmco_v1|$sfDir|ws",
      Seq("uni" -> StructType(Seq(
          StructField("term", StringType, nullable = false),
          StructField("ucnt", LongType, nullable = false))),
        "bi" -> StructType(Seq(
          StructField("prev", StringType, nullable = false),
          StructField("cur", StringType, nullable = false),
          StructField("bcnt", LongType, nullable = false)))))
  }

  /** Self-priming (uni, bi) count frames off the artifact: count once,
    * persist both tables.
    */
  private def lmCounts(
      spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val Seq(uni, bi) = IO.servedArtifact(spark, lmCountTables(sfDir)) { root =>
      val toks = widenedDocs(spark, sfDir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      toks.select(explode(col("tk")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("ucnt"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/uni")
      bigramOcc(toks)
        .groupBy("prev", "cur").agg(count(lit(1)).as("bcnt"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/bi")
    }
    (uni, bi)
  }

  /** Per-position (doc_id, prev, cur) bigram occurrences of a
    * (doc_id, tk) token-array frame — THE pair construction every bigram
    * consumer shares (a drifted copy would break the cross-engine
    * bit-exactness the LM ladder's oracles pin).
    */
  private def bigramOcc(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("tk")) >= 2) // sequence(2,1) would COUNT DOWN, not empty
      .select(col("doc_id"), explode(expr(
        """transform(sequence(2, size(tk)),
             i -> struct(element_at(tk, i - 1) AS prev, element_at(tk, i) AS cur))"""))
        .as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur"))

  /** Shared fixed-point mean over per-position `lpf` rows:
    * (doc_id, nCol, mean_logprob) — the integer sum is partition-order
    * independent, the one division exact.
    */
  private def fixedPointMean(scored: DataFrame, nCol: String): DataFrame =
    scored
      .groupBy("doc_id")
      .agg(count(lit(1)).as(nCol), sum("lpf").as("s"))
      .select(col("doc_id"), col(nCol),
        (col("s").cast("double")
          / (col(nCol).cast("double") * lit(1000000.0)))
          .as("mean_logprob"))
      .orderBy("doc_id")

  def unigramLogProb(spark: SparkSession, sfDir: String): DataFrame = {
    // counts stay INLINE here (unlike the bigram/KN rows): the count
    // subplan shares the token-explode exchange with the scoring join,
    // so the inline form is cheaper than an artifact read at every scale
    // the row has been measured at
    val toks = IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val counts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    toks.join(counts, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(col("cnt").cast("double") / col("total").cast("double"))
          .cast("float") * lit(1000000.0), 0).cast("long").as("lpf"))
      .transform(fixedPointMean(_, "n_tokens"))
  }

  /** Bigram language-model score per document: mean log-probability of
    * each token given its predecessor under a Jelinek-Mercer interpolated
    * bigram/unigram model trained on the corpus itself —
    *   p(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}) + (1-λ)·c(w_i)/N.
    * One step up from [[unigramLogProb]] on the perplexity-filter ladder:
    * the bigram term catches token-salad documents whose unigram mix
    * looks fine (every word common, no two adjacent words ever seen
    * together). Documents need ≥ 2 tokens to score (a document with no
    * bigram has no distribution to be improbable under).
    *
    * Scale shape: the count tables are Zipf-small (distinct unigrams /
    * bigrams, map-side combined before their exchanges) and join against
    * the bigram occurrence stream — AQE broadcasts them when they fit,
    * and the occurrence side only ever shuffles for the final per-doc
    * aggregation. Interpolation constants are double-cast literals on
    * both engines, every count division is an exact-integer-valued IEEE
    * double op, and the per-position log goes through the same
    * float-then-fixed-point convention as [[unigramLogProb]], so the
    * integer sum is order-independent and cross-engine bit-exact.
    */
  def bigramLogProb(
      spark: SparkSession,
      sfDir: String,
      lambda: Double = 0.7): DataFrame = {
    val toks = widenedDocs(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val (uni, bi) = lmCounts(spark, sfDir)
    val total = uni.agg(sum("ucnt").as("n"))
    bigramOcc(toks)
      .join(bi, Seq("prev", "cur"))
      .join(uni.withColumnRenamed("term", "prev").withColumnRenamed("ucnt", "pcnt"), "prev")
      .join(uni.withColumnRenamed("term", "cur").withColumnRenamed("ucnt", "ccnt"), "cur")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(
          lit(lambda) * (col("bcnt").cast("double") / col("pcnt").cast("double"))
            + lit(1.0 - lambda) * (col("ccnt").cast("double") / col("n").cast("double")))
          .cast("float") * lit(1000000.0), 0).cast("long").as("lpf"))
      .transform(fixedPointMean(_, "n_bigrams"))
  }

  /** Document fingerprints: a cryptographic content id (md5), a cheap
    * 64-bit content id (xxhash64), and a winnowing-style robust fingerprint
    * (min hash over 5-word rolling windows — stable under small edits
    * outside the minimal window). Each token is hashed once and the window
    * fingerprint hashes the 5 token-hashes, so the rolling pass allocates
    * no per-window strings (the previous concat_ws form rebuilt the window
    * text for every position — the dominant cost of this linear scan).
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    widenedDocs(spark, sfDir)
      .withColumn("th", expr("transform(split(text, '\\\\s+'), t -> xxhash64(t))"))
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("fp_md5"),
        xxhash64(col("text")).as("fp_xx64"),
        expr("""array_min(transform(
                  sequence(0, greatest(size(th) - 5, 0)),
                  i -> xxhash64(element_at(th, i + 1), element_at(th, i + 2),
                                element_at(th, i + 3), element_at(th, i + 4),
                                element_at(th, i + 5))))""")
          .as("fp_rolling_min"))
      .orderBy("doc_id")

  /** Aggressive text normalization — the published pre-hash canonical
    * form (RefinedWeb/Dolma-class "fuzzy exact" preparation): lowercase,
    * strip everything outside [a-z0-9\s] to a space, collapse whitespace
    * runs, trim. Pure per-row codegen'd string ops (scan speed at any
    * size); both engines run the identical regex chain, so the
    * canonical form — and every hash derived from it — is byte-equal by
    * construction.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  /** Registered surface of [[normalizeText]]. */
  def normalize(spark: SparkSession, sfDir: String): DataFrame =
    widenedDocs(spark, sfDir)
      .select(col("doc_id"),
        normalizeText(col("text")).as("norm_text"),
        col("text"))
      .select(col("doc_id"), col("norm_text"),
        (col("norm_text") =!= col("text")).cast("int").as("changed"))
      .orderBy("doc_id")

  /** WINNOWING fingerprint selection (Schleimer et al. 2003, "Winnowing:
    * Local Algorithms for Document Fingerprinting" — the MOSS scheme):
    * hash every width-`k` token gram, slide a window of `w` consecutive
    * gram hashes, and keep the MINIMUM of each window. The guarantee the
    * whole-document hashes in [[fingerprints]] cannot give: any shared
    * token run of at least k+w-1 tokens between two documents selects at
    * least one IDENTICAL fingerprint in both — local, position-robust
    * overlap detection with a selected set ~2/(w+1) the gram count.
    *
    * Entirely map-side (one codegen'd pass per document: tokens → gram
    * hashes → window minima → distinct), so selection runs at scan speed
    * at any corpus size; only the selected (doc_id, fp) rows — ~1/4 the
    * gram volume at w=4, text pruned — ever leave the scan. Gram hashes
    * use the md5-prefix convention (first 15 hex chars → BIGINT) so the
    * oracle replays the exact values; ties inside a window collapse to
    * one value (min is value-based), matching DuckDB `list_min`.
    * Short-doc clamp: a document with fewer than k tokens hashes its
    * whole token list as one gram (`slice` truncates past the end on
    * both engines), and fewer than w grams yield one whole-list window.
    */
  private[graft] def winnowFingerprintFrame(
      docs: DataFrame,
      k: Int,
      w: Int): DataFrame = {
    // Per-position element_at chains instead of slice() (r19): slice
    // allocated a fresh k-array per gram and a w-array per window — pure
    // allocator traffic on the hottest map pass of the winnow family.
    // Value-identical including the short-doc clamp: element_at past the
    // end is null (non-ANSI), concat_ws SKIPS nulls (same string the
    // truncated slice produced) and least() ignores nulls (same minimum
    // the truncated window produced); position 1 always exists, so an
    // all-null least can't arise. The md5-gram VALUES are unchanged —
    // same oracle.
    val win = (0 until w).map(o => s"element_at(gh, i + $o)").mkString(", ")
    // widen-if-narrow: the md5-per-gram pass is the winnow family's
    // dominant map cost and the single-row-group testdata scan would run
    // it in ONE task (IO.widened — no-op at production scan widths)
    IO.widened(docs.select("doc_id", "text"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("gh",
        transform(sequence(lit(1), greatest(size(col("toks")) - (k - 1), lit(1))),
          i => HashFamily.Md5.feature(
            concat_ws(" ", (0 until k).map(o => element_at(col("toks"), i + o)): _*))))
      .select(col("doc_id"),
        explode(array_distinct(expr(
          s"""transform(sequence(1, greatest(size(gh) - ${w - 1}, 1)),
              i -> least($win))"""))).as("fp"))
  }

  /** Registered surface of [[winnowFingerprintFrame]]: the selected
    * fingerprint set per document as (doc_id, fp) rows.
    */
  def winnowFingerprints(
      spark: SparkSession,
      sfDir: String,
      k: Int = 3,
      w: Int = 4): DataFrame =
    winnowFingerprintFrame(widenedDocs(spark, sfDir), k, w)
      .orderBy("doc_id", "fp")

  /** The Gopher rule suite (Rae et al. 2021, "Scaling Language Models",
    * appendix A1.1): the published hand-tuned filter battery the big
    * pretraining corpora actually ship — word-count bounds, mean-word-
    * length bounds, symbol-to-word ratio, alphabetic-word fraction, and a
    * minimum stop-word count. Emits every per-rule signal (a pipeline
    * audits WHICH rule fired, not just the verdict) plus the conjunction
    * as `keep`.
    *
    * One map-side pass over the text — no shuffle at any scale except the
    * presentation sort; every signal is a codegen'd HOF over one token
    * split. Integer counts divided in doubles (exact cross-engine); rule
    * thresholds compare those exact doubles, so `keep` is deterministic.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    widenedDocs(spark, sfDir)
      .withColumn("toks", wsTokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .select(
        col("doc_id"),
        col("n_words"),
        (aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (acc, x) => acc + x).cast("double")
          / col("n_words").cast("double")).as("mean_word_len"),
        (size(filter(col("toks"), t => t.rlike("[a-zA-Z]"))).cast("double")
          / col("n_words").cast("double")).as("frac_alpha_words"),
        (size(expr("regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0)")).cast("double")
          / col("n_words").cast("double")).as("symbol_ratio"),
        size(filter(col("toks"), t => lower(t).isin(stops: _*)))
          .cast("long").as("stop_hits"))
      .withColumn("keep",
        col("n_words").between(50, 100000)
          && col("mean_word_len").between(3.0, 10.0)
          && col("frac_alpha_words") >= 0.80
          && col("symbol_ratio") <= 0.10
          && col("stop_hits") >= 2)
      .orderBy("doc_id")
  }

  /** PII detection REPORT: per-document counts of each PII-ish pattern
    * class ([[scrub]] redacts them; this row is the audit trail a
    * compliance pass wants — what was found, where, how much, before
    * anything is rewritten). Patterns are the scrub set plus IPv4;
    * character-class-only regexes so the Java and RE2 dialects agree
    * (`\b` is an ASCII word boundary in both). Counting is
    * `regexp_extract_all` length — one codegen'd map-side pass, no
    * shuffle at any scale except the presentation sort.
    */
  def piiReport(spark: SparkSession, sfDir: String): DataFrame =
    widenedDocs(spark, sfDir)
      .select(
        col("doc_id"),
        size(expr(
          "regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\\\.[a-zA-Z]{2,}', 0)"))
          .cast("long").as("n_emails"),
        size(expr("regexp_extract_all(text, 'https?://[^\\\\s]+', 0)"))
          .cast("long").as("n_urls"),
        size(expr(
          "regexp_extract_all(text, '\\\\b([0-9]{1,3}\\\\.){3}[0-9]{1,3}\\\\b', 0)"))
          .cast("long").as("n_ipv4"),
        size(expr("regexp_extract_all(text, '[0-9]{6,}', 0)"))
          .cast("long").as("n_long_numbers"))
      .withColumn("has_pii",
        col("n_emails") + col("n_urls") + col("n_ipv4") + col("n_long_numbers") > 0)
      .orderBy("doc_id")

  /** Corpus domain profile: every URL mentioned in the text, reduced to
    * its lowercased host, counted as occurrences and as distinct
    * documents. The provenance primitive behind domain blocklists and
    * per-domain caps (the C4/RefinedWeb curation step that happens BEFORE
    * quality scoring). Scale shape: URL matches are sparse per document
    * (explode of a regexp_extract_all — no token-level blowup) and the
    * domain key space is Zipf-small, so the single aggregation arrives
    * map-side combined; nothing else shuffles.
    */
  def domainStats(spark: SparkSession, sfDir: String): DataFrame =
    widenedDocs(spark, sfDir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, 'https?://[^\\\\s]+', 0)")).as("url"))
      .select(col("doc_id"),
        lower(regexp_extract(col("url"), "^https?://([^/:?#]+)", 1)).as("domain"))
      .groupBy("domain")
      .agg(
        count(lit(1)).as("n_urls"),
        countDistinct("doc_id").as("n_docs"))
      .orderBy("domain")

  /** Interpolated Kneser-Ney bigram LM score per document — the smoothing
    * family the CCNet reference scorer (KenLM) actually ships, one rung
    * above Jelinek-Mercer on the perplexity-filter ladder:
    *   p(w|v) = max(c(vw)−D, 0)/c(v·) + (D·N₁₊(v·)/c(v·)) · N₁₊(·w)/|bigram types|
    * with absolute discount D = 0.75. The continuation probability
    * N₁₊(·w)/T is KN's insight: "how many contexts has w followed"
    * rather than "how often has w occurred" — it kills the
    * high-frequency-but-fixed-context token ("Francisco") that raw
    * backoff overrates. Documents need ≥ 2 tokens to score.
    *
    * Scale shape: identical to [[bigramLogProb]] — every model table
    * (bigram counts, per-context totals/continuation fan-outs,
    * per-word continuation counts) is Zipf-small and map-side combined;
    * the occurrence stream only shuffles for the final per-doc sum.
    *
    * Determinism: every count is an exact integer; c(vw)−D and the
    * divisions are pinned-order IEEE ops on exact-integer-valued
    * doubles; the log is float-washed then fixed-pointed (the
    * [[unigramLogProb]] convention), so the per-doc integer sum is
    * partition-order independent and cross-engine bit-exact. Every
    * scored bigram has c(vw) ≥ 1 > D, so the discounted term — and the
    * probability — stays strictly positive.
    */
  def knLogProb(
      spark: SparkSession,
      sfDir: String,
      discount: Double = 0.75): DataFrame = {
    val toks = widenedDocs(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val occ = bigramOcc(toks)
    val bi = lmCounts(spark, sfDir)._2
    // per-context: total bigram mass c(v·) and continuation fan-out N₁₊(v·)
    val ctx = bi.groupBy("prev")
      .agg(sum("bcnt").as("cctx"), count(lit(1)).as("n1p_v"))
    // per-word: continuation count N₁₊(·w); its total is |bigram types|
    val cont = bi.groupBy("cur").agg(count(lit(1)).as("n1p_w"))
    val types = cont.agg(sum("n1p_w").as("tt"))
    val d = lit(discount)
    occ
      .join(bi, Seq("prev", "cur"))
      .join(ctx, "prev")
      .join(cont, "cur")
      .crossJoin(broadcast(types))
      .select(col("doc_id"),
        round(log(
          (greatest(col("bcnt").cast("double") - d, lit(0.0))
            / col("cctx").cast("double"))
            + (((d * col("n1p_v").cast("double")) / col("cctx").cast("double"))
              * (col("n1p_w").cast("double") / col("tt").cast("double"))))
          .cast("float") * lit(1000000.0), 0).cast("long").as("lpf"))
      .transform(fixedPointMean(_, "n_bigrams"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * scoreable document by its LM score and cut the corpus into
    * head / middle / tail thirds — the published "keep the head, sample
    * the middle, drop the tail" curation gate. Scores come from
    * [[bigramLogProb]] (higher mean log-prob = lower perplexity = head).
    *
    * percent_rank over (mean_logprob DESC, doc_id) is pure integer rank
    * arithmetic on a TIE-FREE total order (doc_id breaks exact-score
    * ties), so the cut is deterministic cross-engine; the third
    * boundaries are double-cast literal quotients on both sides. Docs
    * with <2 tokens have no bigram distribution and are not scored —
    * the same exclusion the LM itself makes. One extra data-scale
    * exchange beyond the LM: the global rank sort (at 100 TB the same
    * cut runs per-shard against sampled global quantile boundaries;
    * the exact global rank is the verify-scale contract).
    */
  def perplexityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("mean_logprob"), asc("doc_id"))
    val third = lit(1.0) / lit(3.0)
    bigramLogProb(spark, sfDir)
      .withColumn("pr", percent_rank().over(w))
      .select(col("doc_id"), col("mean_logprob"),
        when(col("pr") < third, lit("head"))
          .when(col("pr") < third * lit(2.0), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  /** FLESCH READING-EASE per document — the readability score a
    * data-mix report buckets corpora by (Flesch 1948; the classic
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    * formula): whitespace words, sentence count from [.!?]+ runs
    * (floored at 1 — punctuation-free synthetic docs are one
    * "sentence"), and the standard vowel-group syllable heuristic
    * (runs of [aeiouy] per lowercased word, floored at 1).
    *
    * Determinism: the three counts are exact integers from identical
    * regex semantics on both engines; the score is ONE pinned double
    * chain over exact-integer divides, cut to FLOAT.
    *
    * Scale shape: pure map-side projection — one corpus scan, no
    * exchange at all before the presentation sort.
    */
  def readabilityScores(spark: SparkSession, sfDir: String): DataFrame = {
    val words = size(split(col("text"), " ")).cast("long")
    val sentences = greatest(lit(1L),
      size(filter(split(col("text"), "[.!?]+"), s => trim(s) =!= ""))
        .cast("long"))
    val syllables = expr(
      "aggregate(transform(split(lower(text), ' '), " +
        "w -> greatest(1L, CAST(size(regexp_extract_all(w, '[aeiouy]+', 0)) AS BIGINT))), " +
        "0L, (a, x) -> a + x)")
    // counts STAGED once, flesch computed from the attributes: inlined,
    // each count expression evaluated twice (its output column + the
    // formula) — the syllable fold's per-word regexp ran twice per doc
    // (r19 plan audit). Same long values into the same double ops.
    widenedDocs(spark, sfDir)
      .select(col("doc_id"),
        words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (lit(206.835)
          - lit(1.015) * (col("n_words").cast("double")
            / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double")
            / col("n_words").cast("double")))
          .cast("float").as("flesch"))
      .orderBy("doc_id")
  }
}
