package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{HashFamily, TextAnalysis}
import graft.sources.IO

/** Corpus-preparation operators for a training-data pipeline: sequence
  * packing (assigning documents to fixed-token-budget training sequences)
  * and deterministic content-hash train/validation splitting.
  *
  * Scale notes: packing is computed per shard (documents are hashed into
  * shards first), so every window is a bounded partition and the plan
  * shuffles once on the shard key — there is no global ordering anywhere.
  * The split is a pure per-row projection (no shuffle, no RNG): membership
  * is a function of the content hash, so it is stable across runs,
  * executors, and engines, and survivors of a re-crawl keep their split.
  */
object CorpusPrep {

  /** Shard count scaled to the corpus: ceil(rows / targetShardDocs), floored
    * at `minShards`. A FIXED shard count is a parameter cliff at 100 TB —
    * each shard's window partition grows linearly with the corpus until it
    * no longer fits an executor; scaling the count with the row count keeps
    * per-shard mass (docs, and with near-uniform doc length, tokens)
    * bounded by a constant regardless of corpus size.
    */
  private[graft] def adaptiveNumShards(
      rows: Long,
      targetShardDocs: Long = 100000L,
      minShards: Int = 32): Int = {
    val needed = (rows + targetShardDocs - 1) / targetShardDocs
    math.max(minShards.toLong, needed).min(Int.MaxValue.toLong).toInt
  }

  /** Greedy in-order sequence packing within hash shards: docs are laid
    * end-to-end in doc_id order per shard, and a document starts the
    * sequence its cumulative offset falls into (documents may straddle
    * a boundary; the training loader handles truncation). Output:
    * (doc_id, shard, n_tokens, offset_in_shard, seq_id).
    *
    * `numShards <= 0` (the default) derives the shard count from the
    * corpus row count via [[adaptiveNumShards]] — parquet footer metadata,
    * no Spark job. Callers with a pinned layout contract (the registered
    * query's DuckDB oracle hard-codes `% 32`) pass it explicitly.
    */
  def packSequences(
      spark: SparkSession,
      sfDir: String,
      ctxLen: Long = 2048L,
      numShards: Int = -1,
      targetShardDocs: Long = 100000L): DataFrame = {
    val shards =
      if (numShards > 0) numShards
      else adaptiveNumShards(
        IO.parquetRowCount(spark, s"$sfDir/documents.parquet"), targetShardDocs)
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        (col("doc_id") % shards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("offset_in_shard",
        sum("n_tokens").over(w) - col("n_tokens"))
      // integral div, not double division: offsets can exceed 2^53 at scale
      .withColumn("seq_id", expr(s"offset_in_shard div $ctxLen"))
      .orderBy("doc_id")
  }

  case class PackedDoc(
      doc_id: Long, shard: Long, n_tokens: Long, seq_id: Long, offset_in_seq: Long)

  /** NO-SPLIT sequence packing — next-fit-decreasing within each shard:
    * documents are sorted by token count (desc, doc_id tie-break) and laid
    * greedily into sequences, opening a new sequence when the current one
    * cannot hold the next document. Unlike [[packSequences]] (whose
    * straddle layout lets a document span a boundary and relies on the
    * loader to truncate), every document here lives WHOLE inside one
    * sequence — the layout for training recipes that forbid cutting a
    * document mid-thought — at the cost of padding waste, which
    * decreasing-order placement minimizes (the classic bin-packing
    * heuristic: two consecutive sequences always sum past the budget, so
    * waste is bounded at <50% and in practice single-digit). A document
    * larger than the budget occupies its own sequence (the loader owns
    * that truncation decision).
    *
    * Scale shape: one shuffle on the shard key, then packing is a
    * per-shard in-memory fold inside `mapPartitions` — the one operator
    * class where per-partition imperative logic is the honest answer,
    * because running-remainder-with-reset is inherently sequential state
    * that no window frame expresses. Shard mass is bounded by
    * [[adaptiveNumShards]] exactly as in [[packSequences]], so the
    * per-task buffer is a constant independent of corpus size. The
    * DuckDB oracle replays the fold as a recursive CTE (tractable at
    * oracle scale; the fold is the distributed shape).
    */
  def packSequencesNoSplit(
      spark: SparkSession,
      sfDir: String,
      ctxLen: Long = 2048L,
      numShards: Int = -1,
      targetShardDocs: Long = 100000L): DataFrame = {
    import spark.implicits._
    val shards =
      if (numShards > 0) numShards
      else adaptiveNumShards(
        IO.parquetRowCount(spark, s"$sfDir/documents.parquet"), targetShardDocs)
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        (col("doc_id") % shards).as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .as[(Long, Long, Long)]
      .repartition(shards, col("shard"))
      .mapPartitions { it =>
        // a partition holds whole shards (hash-partitioned on the shard
        // key), so buffering it is the bounded per-shard mass
        it.toSeq.groupBy(_._2).iterator.flatMap { case (shard, rows) =>
          val sorted = rows.sortBy { case (id, _, n) => (-n, id) }
          var seq = 0L
          var used = 0L
          sorted.map { case (id, _, n) =>
            if (used + n <= ctxLen || used == 0L) {
              val off = used; used += n
              PackedDoc(id, shard, n, seq, off)
            } else {
              seq += 1; used = n
              PackedDoc(id, shard, n, seq, 0L)
            }
          }
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Overlapping document chunking for embedding/retrieval pipelines:
    * fixed-size character windows whose starts advance by
    * (chunkChars - overlap), so consecutive chunks share `overlap` chars of
    * context. Output: (doc_id, chunk_id, chunk_text, chunk_chars); every
    * document yields at least one chunk (short docs chunk to themselves).
    *
    * Pure per-row generate (sequence + transform + substring, all
    * codegen'd): no shuffle, no UDF — the chunk fan-out multiplies rows
    * but never re-partitions, so at 100 TB this is a map-only stage.
    */
  def chunkDocuments(
      spark: SparkSession,
      sfDir: String,
      chunkChars: Int = 200,
      overlap: Int = 50): DataFrame = {
    require(overlap >= 0 && overlap < chunkChars, "need 0 <= overlap < chunkChars")
    val step = chunkChars - overlap
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
                sequence(0, greatest((length(text) - $overlap + ${step - 1}) div $step, 1) - 1),
                i -> substring(text, i * $step + 1, $chunkChars))""")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col").as("chunk_text"))
      .withColumn("chunk_chars", length(col("chunk_text")).cast("long"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Deterministic train/val split on the content hash: the first 8 hex
    * digits of md5(text) parsed as an integer, mod 100 — bucket < 95 is
    * train. Content-keyed (not doc_id-keyed), so duplicate texts land in
    * the same split and cannot leak train data into validation.
    */
  def trainValSplit(
      spark: SparkSession,
      sfDir: String,
      trainPct: Int = 95): DataFrame =
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train")).otherwise(lit("val")))
      .orderBy("doc_id")

  /** LEAKAGE-SAFE train/val split: [[trainValSplit]]'s content-hash
    * bucketing keeps EXACT duplicates on one side (same text → same
    * bucket), but a near-duplicate of a validation document still lands
    * in train — the classic eval-inflation leak. This variant splits by
    * NEAR-DUP CLUSTER: every document inherits the split decision of its
    * cluster representative (the component-minimum doc), computed from
    * the representative's content hash with the same bucket convention —
    * so entire near-dup clusters move to one side, and singleton docs
    * (the overwhelming majority) get exactly [[trainValSplit]]'s
    * decision. This is the published hygiene rule: split on the
    * canonical document, never the raw row.
    *
    * Scale shape: the clustering is [[Cluster]]'s star contraction (its
    * 100 TB story); the split itself adds ONE co-partitioned (long,long)
    * ⋈ (long,bucket) join — the representative's bucket is computed
    * map-side on the documents scan and joined by component id, text
    * never crosses an exchange.
    */
  def leakageSafeSplit(
      spark: SparkSession,
      sfDir: String,
      trainPct: Int = 95): DataFrame =
    splitByComponents(spark, sfDir,
      Cluster.nearDupComponentsMd5Unsorted(spark, sfDir), trainPct)

  /** [[leakageSafeSplit]] consuming [[Cluster]]'s PERSISTED component map:
    * the clustering pipeline (signatures, banding, star contraction — all
    * of the on-the-fly cost) runs only when the artifact primes; repeat
    * splits pay one artifact scan plus the representative-bucket join.
    * Row-identical by construction, so the registered row keeps
    * [[leakageSafeSplit]]'s oracle.
    */
  def leakageSafeSplitStored(
      spark: SparkSession,
      sfDir: String,
      trainPct: Int = 95): DataFrame =
    splitByComponents(spark, sfDir,
      Cluster.componentMapStored(spark, sfDir), trainPct)

  private def splitByComponents(
      spark: SparkSession,
      sfDir: String,
      comp: DataFrame,
      trainPct: Int): DataFrame = {
    val repBucket = IO.table(spark, sfDir, "documents")
      .select(col("doc_id").as("component_id"),
        (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
    comp
      .join(repBucket, "component_id")
      .select(col("doc_id"), col("component_id"),
        when(col("bucket") < trainPct, lit("train")).otherwise(lit("val"))
          .as("split"))
      .orderBy("doc_id")
  }

  /** A 32-bit uniform sampling key from the content hash — hex digits 9-16
    * of md5(text), DISJOINT from the digits the train/val split reads
    * (1-8), so sampling decisions are independent of split membership
    * (sampling from "train" with a correlated key would bias the sample
    * toward one end of the split buckets).
    */
  private def sampleKey32: Column =
    conv(substring(md5(col("text").cast("binary")), 9, 8), 16, 10).cast("long")

  /** Integer acceptance threshold for rate `r` over the 32-bit key space.
    * The comparison `key < floor(r * 2^32)` is pure integer arithmetic —
    * no floating-point acceptance test to drift between engines.
    */
  private[graft] def threshold32(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    math.floor(rate * 4294967296.0).toLong
  }

  /** Deterministic stratified sampling: each stratum (value of `keyCol`)
    * keeps its configured fraction of documents, selected by content-hash
    * threshold — no RNG, so the sample is reproducible across runs,
    * executors, and engines, and is a pure per-row filter (no shuffle, no
    * sampleBy two-pass). Strata absent from `rates` keep `defaultRate`.
    */
  def stratifiedSample(
      spark: SparkSession,
      sfDir: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      keyCol: String = "lang"): DataFrame = {
    val thresholdCol = rates.foldLeft(lit(threshold32(defaultRate))) {
      case (acc, (k, r)) => when(col(keyCol) === k, lit(threshold32(r))).otherwise(acc)
    }
    IO.table(spark, sfDir, "documents")
      .filter(sampleKey32 < thresholdCol)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Deterministic mixture sampling: downsample each source so the sampled
    * corpus approaches the target source proportions `weights` (e.g. "30%
    * code, 50% web, 20% books") while keeping as many documents as the
    * scarcest source allows. With n_s docs in source s and target weight
    * w_s, the largest feasible mixture size is C = min_s(n_s / w_s) and
    * each source keeps rate_s = (w_s * C) / n_s (= 1 for the binding
    * source).
    *
    * Scale shape: per-source counts are ONE small aggregate (|sources|
    * rows); the binding constant C is a windowed min over that frame (no
    * driver collect) broadcast back onto the corpus, and selection is the
    * same content-hash threshold as [[stratifiedSample]] — the corpus side
    * is a single map-only filter pass. Selection thresholds are computed
    * as floor(rate * 2^32) BIGINTs so the acceptance test is integer-exact
    * across engines.
    */
  def mixtureSample(
      spark: SparkSession,
      sfDir: String,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0.0),
      "mixture weights must be positive")
    val docs = IO.table(spark, sfDir, "documents")
    val weightCol = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (k, w)) => when(col("source") === k, lit(w)).otherwise(acc)
    }
    val counts = docs
      .withColumn("w", weightCol)
      .filter(col("w").isNotNull)
      .groupBy("source", "w")
      .agg(count(lit(1)).cast("double").as("n"))
    // C = min_s(n_s / w_s) over the tiny counts frame; an empty OVER ()
    // window on |sources| rows, not a data-scale global sort
    val rates = counts
      .withColumn("c", min(col("n") / col("w")).over(Window.partitionBy()))
      // operation order pinned ((w * C) / n) — the oracle multiplies and
      // divides in the same order, so the IEEE result is bit-identical
      .withColumn("thresh",
        floor((col("w") * col("c")) / col("n") * 4294967296.0).cast("long"))
      .select("source", "thresh")
    docs
      .join(broadcast(rates), "source")
      .filter(sampleKey32 < col("thresh"))
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Temperature-balanced language mixture (the multilingual-pretraining
    * recipe popularized by mBERT/XLM-R: sample languages with probability
    * ∝ n_l^τ, τ < 1, so head languages are down-weighted and tail
    * languages up-weighted without exploding total epochs on tiny
    * corpora). τ is fixed at 1/2 — `sqrt` is an IEEE correctly-rounded
    * primitive on every engine, so the shares replay bit-exactly without
    * a general `pow` (whose libm implementations differ by ulps).
    *
    * Determinism: Σ √n_l is a DOUBLE sum whose value depends on addition
    * order, so each √n_l is fixed-pointed to round(√n·2^20) BIGINT first —
    * integer sums are order-independent (the kmeans-accumulator argument).
    * Shares and rates are then exact-integer-sourced double divisions in a
    * pinned operation order, and acceptance is the integer
    * content-hash-vs-threshold compare ([[threshold32]]'s rationale), so
    * the sampled set is reproducible across runs, partition orders, AND
    * engines.
    *
    * Scale shape: the per-lang count frame is tiny (|langs| rows, map-side
    * combined); rates broadcast back; acceptance is a pure map-side
    * filter. No data-scale shuffle except the presentation sort.
    */
  def temperatureMixture(
      spark: SparkSession,
      sfDir: String,
      targetFrac: Double = 0.5): DataFrame = {
    require(targetFrac > 0.0 && targetFrac <= 1.0,
      s"targetFrac must be in (0,1], got $targetFrac")
    val docs = IO.table(spark, sfDir, "documents")
    val w = Window.partitionBy()
    val rates = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("sqf",
        round(sqrt(col("n").cast("double")) * 1048576.0, 0).cast("long"))
      // p_l = sqf_l / Σ sqf; rate_l = min(1, (p_l · (targetFrac · N)) / n_l)
      // — operation order pinned, mirrored verbatim by the oracle
      .withColumn("p",
        col("sqf").cast("double") / sum("sqf").over(w).cast("double"))
      .withColumn("rate", least(lit(1.0),
        (col("p") * (lit(targetFrac) * sum("n").over(w).cast("double")))
          / col("n").cast("double")))
      .withColumn("thresh", floor(col("rate") * 4294967296.0).cast("long"))
      .select("lang", "thresh")
    docs
      .join(broadcast(rates), "lang")
      .filter(sampleKey32 < col("thresh"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Cross-document line dedup (the C4 recipe): a LINE that occurs in more
    * than `maxDocs` distinct documents is boilerplate (nav bars, cookie
    * banners, licence headers) and is removed from EVERY document; the
    * surviving lines are reassembled in their original order. Output:
    * (doc_id, text, n_lines_kept, n_lines_dropped).
    *
    * Scale shape: lines are never the unit of shuffle for the corpus —
    * the only exchange is the line-FINGERPRINT aggregation
    * (xxhash64-sized keys, map-side combined; at 100 TB this is the
    * classic word-count shape), and the resulting common-line set is tiny
    * by construction (it's the lines repeated across >maxDocs docs, a
    * fixed vocabulary of boilerplate) so it broadcasts back as a hash set
    * probe. Documents themselves are filtered map-side: explode the
    * document's own lines per row with a codegen'd `filter` HOF against
    * the broadcast set — the text column never shuffles. The common-line
    * frame is collected into a broadcast join ONLY after an aggregation
    * that bounds it; there is no collect to the driver.
    *
    * Duplicate lines WITHIN one document count once (distinct doc per
    * line), matching C4: a doc repeating its own footer 50 times does not
    * make the footer corpus-boilerplate.
    */
  def lineDedup(
      spark: SparkSession,
      sfDir: String,
      maxDocs: Int = 2): DataFrame =
    lineDedupFrames(IO.table(spark, sfDir, "documents"), maxDocs)

  /** [[lineDedup]] over any (doc_id, text) frame — the registered query
    * feeds it [[relined]] documents because the synthetic corpus carries
    * no newlines of its own.
    */
  def lineDedupFrames(docs: DataFrame, maxDocs: Int): DataFrame = {
    val common = docs
      .select(explode(array_distinct(split(col("text"), "\\n"))).as("line"))
      .groupBy(xxhash64(col("line")).as("line_fp"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select("line_fp")
    docs
      // sorted set + codegen'd binary-search probe (sorted_contains):
      // the common-line vocabulary grows with the corpus, and
      // array_contains' linear scan would make the per-line probe
      // O(L×S) per document (the boilerplateScrub lesson)
      .join(broadcast(common.agg(
        array_sort(collect_set("line_fp")).as("common_set"))))
      // `lines` staged once: the drop count re-split the text a second
      // time when written inline (r19)
      .withColumn("lines", split(col("text"), "\\n"))
      .withColumn("kept", expr(
        """filter(lines,
             l -> NOT sorted_contains(common_set, xxhash64(l)))"""))
      .select(col("doc_id"),
        concat_ws("\n", col("kept")).as("text"),
        size(col("kept")).cast("long").as("n_lines_kept"),
        (size(col("lines")) - size(col("kept")))
          .cast("long").as("n_lines_dropped"))
      .orderBy("doc_id")
  }

  /** The documents table with a newline inserted every `lineTokens` word
    * tokens — a deterministic multi-line rendering of the newline-free
    * synthetic corpus so the line-level operators have real lines to work
    * on. Pure map-side projection.
    */
  private[graft] def relined(
      spark: SparkSession,
      sfDir: String,
      lineTokens: Int = 8): DataFrame =
    // `toks` staged once per document: written inline, the split sat
    // INSIDE the per-line lambda and re-tokenized the document once per
    // emitted line (O(lines × tokens) per doc — r19 plan audit; three
    // bench rows consume this frame). Same string out.
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("source"), expr(
        s"""concat_ws('\\n', transform(
              sequence(0, (size(toks) - 1) div $lineTokens),
              i -> concat_ws(' ', slice(toks, i * $lineTokens + 1, $lineTokens))))""")
        .as("text"))

  /** The registered line-dedup query: re-line the corpus at 8 tokens per
    * line, then drop lines occurring in more than 2 distinct documents.
    */
  def lineDedupRelined(spark: SparkSession, sfDir: String): DataFrame =
    lineDedupFrames(relined(spark, sfDir), maxDocs = 2)

  /** SOURCE-SCOPED BOILERPLATE REPORT — the RefinedWeb/CCNet variant of
    * [[lineDedup]]: a line is boilerplate for a SOURCE (domain) when it
    * recurs across more than `maxDocs` distinct documents of that same
    * source — nav bars, footers, cookie banners repeat within a domain
    * long before they repeat across the whole corpus, so the
    * domain-scoped count catches them at a far lower threshold than the
    * corpus-global one. One row per (source, line) over the threshold,
    * with the distinct-doc count, the source's doc total, and the share
    * of the source's documents carrying the line.
    *
    * Scale shape: the aggregation key is (source, line) — boilerplate
    * is a small per-domain vocabulary and the count is map-side
    * combined, so carrying the line TEXT through the one exchange costs
    * a bounded set of short strings, not the corpus (the report exists
    * for humans; the scrub twin probes by hash only). Source doc totals
    * are a |sources|-row aggregate joined back by BROADCAST.
    * Duplicate lines within one document count once (array_distinct
    * before the explode — a doc repeating its own footer is
    * [[lineDedup]]'s repetition signal, not domain boilerplate).
    */
  def boilerplateReport(
      spark: SparkSession,
      sfDir: String,
      lineTokens: Int = BoilerplateLineTokens,
      maxDocs: Int = BoilerplateMaxDocs): DataFrame = {
    val docs = relined(spark, sfDir, lineTokens)
    val srcTotals = docs.groupBy("source")
      .agg(count(lit(1)).as("src_docs"))
    docs
      .select(col("source"),
        explode(array_distinct(split(col("text"), "\\n"))).as("line"))
      .groupBy("source", "line")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .join(broadcast(srcTotals), "source")
      .select(col("source"), col("line"), col("n_docs"), col("src_docs"),
        (col("n_docs").cast("double") / col("src_docs").cast("double"))
          .as("share"))
      .orderBy(col("source"), col("n_docs").desc, col("line"))
  }

  /** Scrub twin of [[boilerplateReport]]: every document with its
    * source's boilerplate lines removed. The boilerplate set travels as
    * xxhash64(source, line) fingerprints — 8 bytes per (domain, line),
    * never the text — broadcast once and probed map-side by a codegen'd
    * `filter` HOF, so documents are cleaned in place without any
    * document-scale exchange (the [[lineDedup]] probe shape, keyed by
    * domain+line instead of line alone).
    */
  def boilerplateScrub(
      spark: SparkSession,
      sfDir: String,
      lineTokens: Int = BoilerplateLineTokens,
      maxDocs: Int = BoilerplateMaxDocs): DataFrame = {
    // the LINES ARRAY is the working form — building the joined text
    // and re-splitting it per branch would pay the tokenize twice;
    // checkpoint once, both consumers (common-set agg, probe) read it
    val lined = IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), expr(
        s"""transform(
              sequence(0, (size(split(text, ' ')) - 1) div $lineTokens),
              i -> concat_ws(' ', slice(split(text, ' '), i * $lineTokens + 1, $lineTokens)))""")
        .as("lines"))
      .localCheckpoint()
    val common = lined
      .select(col("source"), explode(array_distinct(col("lines"))).as("line"))
      .groupBy(xxhash64(col("source"), col("line")).as("bp_fp"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select("bp_fp")
    // the probe set is SORTED once at aggregate time so the per-line
    // membership test is a codegen'd binary search (sorted_contains),
    // O(L log S) per document — array_contains' linear scan made the
    // scrub O(L×S) and 16× superlinear at the ×10 cut, where the
    // boilerplate vocabulary S grows with the corpus
    lined
      .join(broadcast(common.agg(
        array_sort(collect_set("bp_fp")).as("bp_set"))))
      .withColumn("kept", expr(
        "filter(lines, l -> NOT sorted_contains(bp_set, xxhash64(source, l)))"))
      .select(col("doc_id"), col("source"),
        concat_ws("\n", col("kept")).as("text"),
        size(col("kept")).cast("long").as("n_lines_kept"),
        (size(col("lines")) - size(col("kept")))
          .cast("long").as("n_lines_dropped"))
      // presentation sort on a checkpointed frame: RangePartitioning
      // samples its child, and un-checkpointed that replays the whole
      // scrub ~2x (a 100 TB deployment writes the scrub UNSORTED —
      // the sort exists for the deterministic local dump)
      .localCheckpoint()
      .orderBy("doc_id")
  }

  private[graft] val BoilerplateLineTokens = 4
  private[graft] val BoilerplateMaxDocs = 1

  /** Per-source document cap (domain capping): keep at most `cap` docs per
    * source, chosen by content-hash order (ties to doc_id) — the standard
    * guard against one domain flooding the mixture. Hash order, not
    * doc_id order: crawl ids correlate with crawl time, and "first N by
    * id" would bias every capped source toward its oldest pages; the hash
    * is a uniform draw that is still fully deterministic and
    * oracle-replayable.
    *
    * Scale shape: row_number over (source) is the TopK-per-key pattern —
    * the rn <= cap filter rewrites to the two-phase TopK operator
    * (partial per-partition prune before the exchange), so the shuffle
    * carries at most cap×partitions rows per source, not the whole
    * corpus. Plan-asserted in PlanAuditSpec.
    */
  def capPerSource(
      spark: SparkSession,
      sfDir: String,
      cap: Int = 50): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("pick_key"), col("doc_id"))
    IO.table(spark, sfDir, "documents")
      .withColumn("pick_key",
        conv(substring(md5(col("text").cast("binary")), 17, 8), 16, 10)
          .cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT per source, by PRIORITY
    * SAMPLING (Duffield, Lund & Thorup, JACM 2007): each document draws
    * priority q = w/u with weight w = n_chars and u a deterministic
    * uniform in (0,1]; the per-source top-`n` by q is a weighted sample
    * — longer documents proportionally likelier — whose subset-sum
    * estimates are provably near-optimal. The standard way to thin a
    * mixture stratum toward its token target without the
    * short-doc bias a uniform draw has (per-DOC uniform sampling
    * under-serves token mass concentrated in long docs).
    *
    * Priority sampling over Efraimidis–Spirakis (u^(1/w)) is a
    * DETERMINISM choice, not just taste: the E–S key needs a
    * transcendental (pow/ln) whose last-ulp varies between libm
    * implementations, putting rank order at cross-engine risk; q = w/u
    * is ONE IEEE division of exactly-representable operands (w a small
    * long; u = (h+1)/2^32 from md5 hex digits 25–32, disjoint from the
    * cap/split/sample key digits) — bit-identical everywhere.
    *
    * Scale shape: the per-source cut is the TopKPerKey rn≤n rewrite
    * (partial per-partition prune before the one exchange), keys and
    * priorities are map-side projections — the capPerSource shape with
    * a weighted key.
    */
  def weightedSample(
      spark: SparkSession,
      sfDir: String,
      n: Int = 20): DataFrame = {
    val u = (conv(substring(md5(col("text").cast("binary")), 25, 8), 16, 10)
      .cast("long") + lit(1L)).cast("double") / lit(4294967296.0)
    val w = Window.partitionBy("source")
      .orderBy(col("priority").desc, col("doc_id"))
    IO.table(spark, sfDir, "documents")
      .filter(col("n_chars") > 0)
      .withColumn("priority", col("n_chars").cast("double") / u)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select("source", "rn", "doc_id", "n_chars", "priority")
      .orderBy("source", "rn")
  }

  /** Deterministic global shuffle for training-data ordering: every
    * document gets a pseudo-random 60-bit key derived from (seed, doc_id),
    * a shuffle shard (`bucket`), and its position within the shard. The
    * global training order is (bucket, pos) — readable shard-by-shard
    * without ANY global sort: the window partitions by bucket, so each
    * sort is a bounded partition, and a writer laying out
    * `partitionBy(bucket) sortWithinPartitions(pos)` files reproduces the
    * order at 100 TB. Changing `seed` reshuffles; same seed always
    * replays the same order (epoch-stable).
    */
  def shuffleOrder(
      spark: SparkSession,
      sfDir: String,
      seed: Long = 42L,
      numBuckets: Int = 64): DataFrame = {
    val key = HashFamily.Md5.feature(
      concat(lit(seed.toString), lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), key.as("shuffle_key"))
      .withColumn("bucket", pmod(col("shuffle_key"), lit(numBuckets.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .orderBy("bucket", "pos")
  }

  /** SHARD MANIFEST — the reproducibility certificate for the
    * [[shuffleOrder]] layout: per shard, the document count, token
    * volume, an order-INSENSITIVE content fingerprint (bit_xor of the
    * per-doc md5-prefix hashes — same docs in any order ⇒ same value)
    * and an order-SENSITIVE one (bit_xor of md5(bucket:pos:doc-hash)
    * slots — xor commutes so the aggregation is exchange-friendly, but
    * each value encodes its position, so ANY reorder, swap, or
    * drop/extra flips the fingerprint). A re-run of the writer on
    * another cluster certifies byte-identical shard layout by comparing
    * |shards| rows instead of diffing 100 TB of output; the manifests
    * are also the resume tokens a restarted writer checks before
    * re-emitting a shard.
    *
    * Scale shape: one scan; the doc hash, token count, and shuffle key
    * compute map-side, TEXT IS PRUNED before the bucket-partitioned
    * position window (the [[shuffleOrder]] exchange carries ~32-byte
    * rows), and the final aggregation map-combines to |shards| rows.
    */
  def shardManifest(
      spark: SparkSession,
      sfDir: String,
      seed: Long = 42L,
      numBuckets: Int = 64): DataFrame = {
    val skey = HashFamily.Md5.feature(
      concat(lit(seed.toString), lit(":"), col("doc_id").cast("string")))
    val w = Window.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        skey.as("shuffle_key"),
        HashFamily.Md5.feature(col("text")).as("dh"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .withColumn("bucket", pmod(col("shuffle_key"), lit(numBuckets.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("slot", HashFamily.Md5.feature(concat_ws(":",
        col("bucket").cast("string"), col("pos").cast("string"),
        col("dh").cast("string"))))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        expr("bit_xor(dh)").as("content_fp"),
        expr("bit_xor(slot)").as("order_fp"))
      .orderBy("bucket")
  }

  /** Token-budget mixture planner with bounded repetition (the
    * data-constrained scaling recipe: when the training budget exceeds
    * the corpus, repeat sources — but cap epochs, because repeated data
    * decays in value after ~4 passes). Given a token budget of
    * `budgetFrac` × corpus tokens: temperature-weight each source by
    * √tokens (τ = 1/2 — head sources down-weighted without exploding
    * tail epochs), allocate the budget by those shares, then cap each
    * source at `maxEpochs` passes and report the undeliverable deficit.
    * The output is the per-source serving plan a data loader consumes:
    * (source, n_tokens, share, desired_tok, served_tok, epochs, deficit).
    *
    * Scale shape: ONE corpus pass for the per-source token counts
    * (map-side combined into |sources| rows); everything downstream is
    * arithmetic on that bounded artifact — the mixture analogue of the
    * codebook contract.
    *
    * Determinism: √n is a correctly-rounded IEEE primitive fixed-pointed
    * before the (order-dependent) share denominator sum (the
    * [[temperatureMixture]] argument); shares and the allocation replay
    * in pinned operation order; desired/served/deficit are exact BIGINTs
    * past the one rounding.
    */
  def budgetMix(
      spark: SparkSession,
      sfDir: String,
      budgetFrac: Double = 4.0,
      maxEpochs: Int = 4): DataFrame = {
    val w = Window.partitionBy()
    IO.table(spark, sfDir, "documents")
      .groupBy("source")
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .withColumn("sqf",
        round(sqrt(col("n_tokens").cast("double")) * 1048576.0, 0).cast("long"))
      .withColumn("share",
        col("sqf").cast("double") / sum("sqf").over(w).cast("double"))
      .withColumn("desired_tok",
        round(col("share")
          * (lit(budgetFrac) * sum("n_tokens").over(w).cast("double")), 0)
          .cast("long"))
      .withColumn("served_tok",
        least(col("desired_tok"), lit(maxEpochs.toLong) * col("n_tokens")))
      .withColumn("epochs",
        col("served_tok").cast("double") / col("n_tokens").cast("double"))
      .withColumn("deficit", col("desired_tok") - col("served_tok"))
      .select("source", "n_tokens", "share", "desired_tok", "served_tok",
        "epochs", "deficit")
      .orderBy("source")
  }

  /** Cross-source contamination matrix: for every source pair, how many
    * distinct content fingerprints they share — the audit that runs
    * before mixing corpora (a high-overlap pair means double-counted
    * training mass and a broken per-source mixture weight). Identity is
    * the md5 of the first `prefixWords` words: the cheap near-verbatim
    * fingerprint (republished/mirrored documents keep their opening span
    * even when boilerplate diverges later — the same reason CCNet-class
    * pipelines dedup on a leading-span hash before any minhash pass);
    * `prefixWords = Int.MaxValue` degenerates to exact-text identity.
    * The self-join runs on the DEDUPLICATED (fingerprint, source) frame,
    * so its width is bounded by distinct-content volume (never raw
    * rows), the join key is the 32-hex fingerprint (text itself stays
    * out of the exchange), and `src_a < src_b` keeps each unordered
    * pair once.
    */
  def sourceOverlap(
      spark: SparkSession,
      sfDir: String,
      prefixWords: Int = 8): DataFrame = {
    val fp = IO.table(spark, sfDir, "documents")
      .select(
        md5(concat_ws(" ",
          slice(split(col("text"), " "), 1, prefixWords)).cast("binary"))
          .as("fp"),
        col("source"))
      .distinct()
    fp.withColumnRenamed("source", "src_a")
      .join(fp.withColumnRenamed("source", "src_b"), "fp")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  /** Span-corruption MANIFEST for denoising objectives (the T5/UL2
    * recipe): per document, the token spans a masked-span objective
    * replaces with sentinels. DERANDOMIZED like the weighted walks: the
    * token stream is gridded into `blockLen`-token blocks and each
    * complete block masks one `spanLen`-token span whose offset is
    * md5-derived from (doc_id, block, seed) — corruption rate is exactly
    * spanLen/blockLen (the published ~15% at 3/20), spans can never
    * overlap by construction, and every engine replays the layout
    * bit-for-bit (sampled-span T5 trades this determinism for jitter the
    * objective does not need). Emitting a MANIFEST (doc, span, start,
    * text) rather than rewritten text keeps the operator composable: the
    * training loader owns sentinel ids and target construction.
    *
    * Scale shape: one map-side pass — tokens, blocks, and offsets are all
    * computed inline on the scan; the only exchange is the presentation
    * sort. At 100 TB this fuses into the same WholeStageCodegen span as
    * the packing scan that consumes it.
    */
  def spanCorruptionManifest(
      spark: SparkSession,
      sfDir: String,
      spanLen: Int = 3,
      blockLen: Int = 20,
      seed: Long = 42L): DataFrame = {
    require(spanLen >= 1 && blockLen > spanLen, "need 1 <= spanLen < blockLen")
    val offsets = blockLen - spanLen + 1
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= blockLen)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0),
          (size(col("tk")) / blockLen).cast("int") - 1)).as("span_id"))
      .withColumn("h",
        conv(substring(md5(concat_ws(":", col("doc_id"), col("span_id"),
          lit(seed)).cast("binary")), 1, 8), 16, 10).cast("long"))
      .withColumn("start_tok",
        col("span_id") * blockLen + (col("h") % offsets) + 1)
      .select(col("doc_id"), col("span_id").cast("long").as("span_id"),
        col("start_tok"), lit(spanLen.toLong).as("span_len"),
        concat_ws(" ",
          slice(col("tk"), col("start_tok").cast("int"), lit(spanLen)))
          .as("span_text"))
      .orderBy("doc_id", "span_id")
  }

  /** Fill-in-the-middle (FIM) layout manifest — the code-model sibling of
    * [[spanCorruptionManifest]]: for the hash-selected half of the corpus
    * (the published ~50% FIM rate), two md5-derived cut points split the
    * token stream into prefix | middle | suffix, and training reorders to
    * PSM/SPM with sentinels. Emitted as cuts + segment lengths (the
    * loader owns sentinel ids and the reorder); non-selected docs carry
    * the flag so the manifest covers the corpus exactly once. All
    * arithmetic is exact integers off md5 prefixes — bit-replayable on
    * any engine, one map-side pass, no exchange but the presentation
    * sort.
    */
  def fimManifest(
      spark: SparkSession,
      sfDir: String,
      applyPct: Int = 50,
      seed: Long = 42L): DataFrame = {
    def h(tag: String): Column =
      conv(substring(md5(concat_ws(":", col("doc_id"), lit(tag),
        lit(seed)).cast("binary")), 1, 8), 16, 10).cast("long")
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("fim", (h("apply") % 100 < applyPct).cast("int"))
      .withColumn("c1", when(col("fim") === 1, h("cut1") % (col("n_tok") + 1)))
      .withColumn("c2", when(col("fim") === 1, h("cut2") % (col("n_tok") + 1)))
      .select(col("doc_id"), col("n_tok"), col("fim"),
        least(col("c1"), col("c2")).as("cut_lo"),
        greatest(col("c1"), col("c2")).as("cut_hi"))
      .withColumn("len_prefix", col("cut_lo"))
      .withColumn("len_middle", col("cut_hi") - col("cut_lo"))
      .withColumn("len_suffix", col("n_tok") - col("cut_hi"))
      .orderBy("doc_id")
  }

  /** Mixture-of-denoisers assignment (the UL2 recipe): every document is
    * hash-routed to one denoiser family with its span parameters —
    * R (regular span corruption, 3/20), X (extreme: long spans, 12/40),
    * or S (sequential prefix-LM: one hash-placed split point) — at the
    * published 50/25/25 mix. The R/X rows parameterize
    * [[spanCorruptionManifest]]'s grid; the S rows carry their split
    * directly (a FIM cut with the middle pinned to the tail). One
    * map-side pass; the routing hash is disjoint from the corruption
    * hashes (different tag), so denoiser choice and span placement are
    * independent.
    */
  def denoiserMix(
      spark: SparkSession,
      sfDir: String,
      seed: Long = 42L): DataFrame = {
    def h(tag: String): Column =
      conv(substring(md5(concat_ws(":", col("doc_id"), lit(tag),
        lit(seed)).cast("binary")), 1, 8), 16, 10).cast("long")
    IO.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("route", h("denoiser") % 4)
      .withColumn("denoiser",
        when(col("route") < 2, lit("R"))
          .when(col("route") === 2, lit("X"))
          .otherwise(lit("S")))
      .withColumn("span_len",
        when(col("denoiser") === "R", 3L)
          .when(col("denoiser") === "X", 12L))
      .withColumn("block_len",
        when(col("denoiser") === "R", 20L)
          .when(col("denoiser") === "X", 40L))
      .withColumn("s_split",
        when(col("denoiser") === "S", h("split") % (col("n_tok") + 1)))
      .select("doc_id", "n_tok", "denoiser", "span_len", "block_len",
        "s_split")
      .orderBy("doc_id")
  }

  /** Fixed sequence-length ladder for [[paddingWaste]] — the power-of-two
    * max-length buckets a training stack actually allocates.
    */
  private[graft] val PaddingBuckets = Seq(64L, 128L, 256L, 512L, 1024L,
    2048L, 4096L)

  /** Padding-waste audit for length-bucketed batching: assign every
    * document the smallest ladder length that fits its whitespace token
    * count (overflow clamps to the top rung — those docs truncate, the
    * ladder's third column), then report per rung how many real tokens
    * ride against the allocated (rung × docs) budget. waste_frac is what
    * the accelerator pays for padding at that rung: the number that
    * decides between plain max-length batching and sequence packing
    * ([[packSequences]]) — pipelines chart it per corpus version next to
    * the cluster-size profile. One map-side token count + one |ladder|-row
    * aggregation; nothing at corpus scale shuffles more than the 7-key
    * groupBy. The division is two exact longs in IEEE doubles —
    * cross-engine deterministic without fixed-pointing.
    */
  def paddingWaste(spark: SparkSession, sfDir: String): DataFrame = {
    val top = PaddingBuckets.last
    val rungExpr = PaddingBuckets.init.reverse
      .foldLeft(lit(top)) { (acc, edge) =>
        when(col("n_tok") <= edge, lit(edge)).otherwise(acc)
      }
    IO.table(spark, sfDir, "documents")
      .select(size(TextAnalysis.wsTokens(col("text"))).cast("long")
        .as("n_tok"))
      .withColumn("rung", rungExpr)
      .groupBy("rung")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(col("n_tok"), col("rung"))).as("n_tokens_kept"),
        sum(when(col("n_tok") > col("rung"),
          col("n_tok") - col("rung")).otherwise(0L)).as("n_tokens_truncated"))
      .withColumn("n_padded", col("rung") * col("n_docs"))
      .withColumn("waste_frac",
        (col("n_padded") - col("n_tokens_kept")).cast("double")
          / col("n_padded").cast("double"))
      .select("rung", "n_docs", "n_tokens_kept", "n_tokens_truncated",
        "n_padded", "waste_frac")
      .orderBy("rung")
  }
}
