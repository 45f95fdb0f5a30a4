package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{IO, Memo}

/** BM25 ranked retrieval over the documents table — the lexical-search
  * side of data curation (retrieval-based filtering, eval-set mining,
  * "find training docs about X" audits). Okapi BM25 with the Lucene
  * +1-inside-the-log idf (always positive, so scores compose across
  * terms monotonically).
  *
  * Scale shape: the (doc, term, tf) posting frame and per-doc lengths
  * are the INDEX — built with two corpus-keyed shuffles that a
  * production deployment materializes once and reuses per query batch
  * (same train-once contract as the ANN codebooks). The query set is a
  * tiny literal frame broadcast against the postings, so only
  * query-term postings flow past the index scan: the scoring join,
  * per-(query,doc) aggregation, and top-k are all bounded by hit volume,
  * never corpus volume. df and avgdl are Zipf-small / scalar aggregates.
  *
  * Determinism: idf carries the ln-of-count ratio, so it is float-cast
  * to wash the JVM-vs-libm ulp (the tf-idf convention); every other
  * factor is exact-integer-derived IEEE arithmetic in pinned order. The
  * per-term score is fixed-pointed to round(float(score)·1e6) BIGINT
  * before the per-document sum — integer sums are partition-order
  * independent — and BOTH the ranking and the emitted score read the
  * same integer, so cross-engine top-k selection cannot diverge at a
  * rounding boundary.
  */
object Retrieval {

  /** Pinned query workload: deterministic, vocabulary-covering term sets
    * (the fixture corpus draws from a small synthetic vocabulary).
    */
  private[graft] val Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("spark", "query", "join"),
    1 -> Seq("fast", "sort", "merge", "scan"),
    2 -> Seq("customer", "order", "line"),
    3 -> Seq("window", "filter", "group"))

  /** Pinned phrase workload for [[phraseSearch]] — consecutive-token
    * phrases over the fixture vocabulary, mixed lengths.
    */
  private[graft] val Phrases: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("fast", "sort"),
    1 -> Seq("customer", "order"),
    2 -> Seq("table", "table"),
    3 -> Seq("window", "filter", "group"))

  /** EXACT PHRASE SEARCH over positional postings — the IR primitive
    * BM25's bag-of-words scoring cannot express: a document matches a
    * phrase iff its tokens appear CONSECUTIVELY. Per (phrase, doc):
    * the token-level match count (overlaps included — "table table
    * table" matches the "table table" phrase twice) and the first
    * match position.
    *
    * Mechanics: one posexplode builds the (doc_id, pos, term)
    * positional posting list; each phrase term is FILTERED to its own
    * posting slice BEFORE any join (term selectivity does the pruning,
    * the inverted-index property), then adjacency is a chain of
    * doc-keyed equi-joins with the position offset folded into the
    * join condition (p_i = p_0 + i). All joins share the doc_id key,
    * so after the first exchange the chain is co-partitioned — one
    * shuffle per term slice, never a re-shuffle of the full posting
    * list. At 100 TB the posting list is the persisted term-bucketed
    * artifact (the bm25 postings convention) and each phrase touches
    * only its terms' buckets.
    *
    * Determinism: positions and counts are exact integers; the oracle
    * replays the same positional join in SQL.
    */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val pos = IO.widened(
        IO.table(spark, sfDir, "documents").select("doc_id", "text"))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .localCheckpoint() // one posting build serves every phrase slice
    val perPhrase = Phrases.map { case (qid, terms) =>
      val base = pos.filter(col("term") === terms.head)
        .select(col("doc_id"), col("pos").as("p0"))
      val matched = terms.zipWithIndex.drop(1).foldLeft(base) {
        case (acc, (t, i)) =>
          acc.join(pos.filter(col("term") === t)
              .select(col("doc_id"), col("pos").as(s"p$i")),
            Seq("doc_id"))
            .where(col(s"p$i") === col("p0") + i)
            .select(col("doc_id"), col("p0"))
      }
      matched.groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"),
          min("p0").cast("long").as("first_pos"))
        .select(lit(qid).as("qid"), col("doc_id"),
          col("n_matches"), col("first_pos"))
    }
    perPhrase.reduce(_ unionByName _).orderBy("qid", "doc_id")
  }

  /** Top-k documents per query under BM25(k1, b). Output:
    * (qid, doc_id, score) — score is the fixed-point sum scaled back.
    */
  def bm25TopK(
      spark: SparkSession,
      sfDir: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 10): DataFrame = {
    val docs = IO.table(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    // the index: postings + doc lengths (two corpus shuffles, build-once)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tfreq"))
    bm25ScoreOverPostings(spark, tf, k1, b, k)
  }

  /** Declared schemas of the persisted posting artifacts — the serve
    * path's in-plan frames ([[bm25TopKStored]] re-stamps them through
    * [[IO.servedArtifact]]) and the driver-collected df/stats side
    * tables.
    */
  private[graft] val PostingsTfSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("term", StringType, nullable = false),
      StructField("tfreq", LongType, nullable = false)))
  }

  private[graft] val PostingsDlenSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("dlen", LongType, nullable = false)))
  }

  private val PostingsDfSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("dfreq", LongType, nullable = false)))
  }

  private val PostingsStatsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("n", DoubleType, nullable = false),
      // sum over an empty dlen table is null
      StructField("total", DoubleType, nullable = true)))
  }

  /** The persisted posting index: (doc_id, term, tfreq) postings (`tf`),
    * per-doc lengths (`dlen`), per-term document frequency (`df`) and
    * the (N, total-length) scalar pair (`stats`). Everything per query
    * batch (query-term df, corpus stats, scoring) reads these text-free
    * frames, never the corpus.
    */
  private[graft] def postings(sfDir: String): IO.Artifact =
    IO.Artifact(sfDir, "documents", "text", "bm25", s"bm25_v2|$sfDir|ws_tokens",
      Seq("tf" -> PostingsTfSchema, "dlen" -> PostingsDlenSchema,
        "df" -> PostingsDfSchema, "stats" -> PostingsStatsSchema), ".parquet")

  /** Vocab-size ceiling for the driver-side df map: above it the stored
    * path keeps the in-plan df JOIN (`side = None`) instead of collecting
    * the vocabulary — ~10⁶ (string, long) entries is tens of MB of driver
    * heap, the comfortable edge; a web-scale vocabulary (10⁸+ terms)
    * must never collect. Read from the df artifact FOOTER (row count, no
    * Spark job), so the gate costs nothing.
    */
  private val DfMapTermCeiling = 1000000L

  /** [[bm25TopK]] consuming the PERSISTED posting index, self-priming on
    * first use (the stored-bloom/band-index/component-map contract): the
    * corpus tokenize+tf build AND the doc-length aggregation — all of the
    * corpus-derived cost — run only at priming; repeat query batches pay
    * one scan of each artifact. Row-identical by construction (the
    * artifact IS the tf frame), so the registered row keeps
    * [[bm25TopK]]'s oracle.
    */
  def bm25TopKStored(
      spark: SparkSession,
      sfDir: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 10): DataFrame = {
    val artifact = postings(sfDir)
    val Seq(tf, dlen, df, stats) = IO.servedArtifact(spark, artifact) { root =>
      val built = IO.table(spark, sfDir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tfreq"))
      // file counts sized to the artifact, not to shuffle parallelism: the
      // side frames are vocab/doc-count-bounded (4 readable splits beat 32
      // scheduling stubs at any scale; a 100 TB deployment would instead
      // bucket tf by term and size these by HDFS block)
      built.coalesce(4).write.mode("overwrite").parquet(s"$root/tf")
      val tfStored = spark.read.parquet(s"$root/tf")
      // everything corpus-derived lands in the artifact: doc lengths,
      // per-term document frequency (vocab-sized — Zipf-small), and the
      // (N, total-length) scalar pair — the stored consumer then touches
      // the posting frame exactly once (the hit join)
      tfStored
        .groupBy("doc_id").agg(sum("tfreq").as("dlen"))
        .coalesce(4).write.mode("overwrite").parquet(s"$root/dlen")
      tfStored
        .groupBy("term").agg(count(lit(1)).as("dfreq"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/df")
      spark.read.parquet(s"$root/dlen")
        .agg(count(lit(1)).cast("double").as("n"),
          sum("dlen").cast("double").as("total"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/stats")
    }
    val root = artifact.root(spark)
    // the query-side constants (term→df map, N, total length): ONE fixed
    // Memo key with the root as identity, so a long-lived driver holds the
    // most recent artifact's only (the df map is vocab-bounded; a larger
    // vocabulary keeps the in-plan df JOIN, `side = None`)
    val side =
      if (IO.parquetRowCount(spark, s"$root/df") > DfMapTermCeiling) None
      else Some(Memo("bm25|side", root) {
        val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val st = stats.head()
        (m, st.getDouble(0), st.getDouble(1))
      })
    bm25ScoreOverPostings(spark, tf, k1, b, k, dlenStored = Some(dlen), side = side)
  }

  /** Scoring tail over a (doc_id, term, tfreq) posting frame — shared by
    * the build-inclusive and stored-index rows. Doc lengths and df are
    * posting-frame aggregates (text-free, Zipf-small; the stored path
    * hands lengths in pre-aggregated), the query batch broadcasts, and
    * everything past the posting join is hit-bounded.
    */
  private def bm25ScoreOverPostings(
      spark: SparkSession,
      tf: DataFrame,
      k1: Double,
      b: Double,
      k: Int,
      dlenStored: Option[DataFrame] = None,
      side: Option[(Map[String, Long], Double, Double)] = None): DataFrame = {
    import spark.implicits._
    val dlen = dlenStored.getOrElse(
      tf.groupBy("doc_id").agg(sum("tfreq").as("dlen")))
    // query-term postings only: the broadcast join prunes the corpus-wide
    // posting stream down to hit volume before anything else touches it.
    // With side constants (stored path) the df and corpus stats ride the
    // SAME query broadcast as literal columns — one posting pass total;
    // without them (build-inclusive path) df/stats are derived in-plan.
    val joined = side match {
      case Some((dfMap, nV, tV)) =>
        val q = Queries
          .flatMap { case (qid, ts) =>
            ts.map(t => (qid, t, dfMap.getOrElse(t, 0L)))
          }
          .toDF("qid", "term", "dfreq")
        tf.join(broadcast(q), "term")
          .join(dlen, "doc_id")
          .withColumn("n", lit(nV))
          .withColumn("total", lit(tV))
      case None =>
        val qterms = Queries
          .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
          .toDF("qid", "term")
        val stats = dlen.agg(
          count(lit(1)).cast("double").as("n"),
          sum("dlen").cast("double").as("total"))
        val dfreq = tf
          .join(broadcast(qterms.select("term").distinct()), "term")
          .groupBy("term").agg(count(lit(1)).as("dfreq"))
        tf.join(broadcast(qterms), "term")
          .join(broadcast(dfreq), "term")
          .join(dlen, "doc_id")
          .crossJoin(broadcast(stats))
    }
    val avgdl = col("total") / col("n")
    val idf = log(lit(1.0) +
      (col("n") - col("dfreq").cast("double") + lit(0.5))
        / (col("dfreq").cast("double") + lit(0.5))).cast("float")
    val tfpart = (col("tfreq").cast("double") * lit(k1 + 1.0)) /
      (col("tfreq").cast("double") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dlen").cast("double") / avgdl)))
    val scored = joined
      .select(col("qid"), col("doc_id"),
        round((idf.cast("double") * tfpart).cast("float") * lit(1000000.0), 0)
          .cast("long").as("sfix"))
      .groupBy("qid", "doc_id")
      .agg(sum("sfix").as("sfix"))
    val w = Window.partitionBy("qid").orderBy(desc("sfix"), asc("doc_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"),
        (col("sfix").cast("double") / lit(1000000.0)).as("score"))
      .orderBy("qid", "doc_id")
  }

  private def vectors(spark: SparkSession, sfDir: String): DataFrame =
    IO.widened(IO.table(spark, sfDir, "embeddings"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))

  /** Hard-negative mining for contrastive training (the DPR/SBERT
    * recipe): for each query vector, the positive is its nearest
    * same-label neighbor and the hard negatives are the `numNegs`
    * HIGHEST-scoring wrong-label neighbors — the near-misses that teach a
    * bi-encoder its decision boundary (random negatives are trivially
    * separable and carry no gradient).
    *
    * Scale shape: the query block broadcasts against the corpus (the
    * [[Similarity]] ANN scaffold — the corpus never shuffles), both
    * selections are per-query row_number windows bounded by the
    * broadcast-join output, and at real scale the scoring scan is
    * replaced by any of the ANN paths feeding the same (qid, vec_id,
    * sim) frame — the mining logic downstream is unchanged.
    *
    * Determinism: sims are float-washed before ranking (the ANN
    * convention), ties break on vec_id, and positives/negatives read the
    * same float the ranking sorted on.
    */
  def hardNegatives(
      spark: SparkSession,
      sfDir: String,
      numQueries: Int = 8,
      numNegs: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val q = v.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("v").as("qv"))
    val scored = v.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("q_label"), col("vec_id"), col("label"),
        Similarity.cosine(col("qv"), col("v")).cast("float").as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
    val pos = scored.filter(col("label") === col("q_label"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("vec_id").as("pos_id"), col("sim").as("pos_sim"))
    val negs = scored.filter(col("label") =!= col("q_label"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= numNegs)
      .select(col("qid"), col("rn").as("neg_rank"),
        col("vec_id").as("neg_id"), col("sim").as("neg_sim"))
    pos.join(negs, "qid")
      .select("qid", "pos_id", "pos_sim", "neg_rank", "neg_id", "neg_sim")
      .orderBy("qid", "neg_rank")
  }

  /** Hybrid lexical+dense retrieval fused with Reciprocal Rank Fusion
    * (Cormack et al. 2009) — the production search stack in one operator:
    * query-by-example probes rank the corpus twice (unigram-Jaccard
    * token overlap; embedding cosine), each list is cut to `cand`, and
    * RRF combines them as Σ 1/(rrfK + rank). Fusing RANKS, not scores,
    * is the entire point — the two scorers live on incomparable scales,
    * and RRF needs no calibration between them. Documents without an
    * embedding (the corpus outgrows its embedded slice at sf0.1) simply
    * miss the dense list and fuse from their lexical rank alone — the
    * graceful degradation a partially-embedded corpus needs.
    *
    * Scale shape: the probe side of BOTH rankers broadcasts (probe term
    * sets against a distinct-token posting stream; probe vectors against
    * the embedding scan — corpus never shuffles in either); each ranking
    * is a per-query window over broadcast-join output; the fusion
    * full-outer join runs on two ≤`numQueries`×`cand` frames — driver
    * dust. At 100 TB each ranker is independently swappable for its
    * indexed form (BM25 postings / ANN) feeding the same rank frames.
    *
    * Determinism: Jaccard is a single division of exact integers and
    * cosine is float-washed (each ranker's established convention); both
    * rank windows tie-break on doc_id; the RRF contribution
    * round(10⁹/(rrfK+rank)) is an exact-integer-derived division with no
    * representable half-way case in rank range (2·10⁹ has only ten
    * factors of two), so the fused key is an exact BIGINT sum.
    */
  def hybridRrfTopK(
      spark: SparkSession,
      sfDir: String,
      numQueries: Int = 4,
      cand: Int = 50,
      k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    val docs = IO.table(spark, sfDir, "documents")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ts"))
    val sized = docs.withColumn("nd", size(col("ts")))
    val qlex = docs.filter(col("doc_id") < numQueries)
      .select(col("doc_id").as("qid"), explode(col("ts")).as("term"),
        size(col("ts")).as("qn"))
    val inter = sized
      .select(col("doc_id"), col("nd"), explode(col("ts")).as("term"))
      .join(broadcast(qlex), "term")
      .where(col("doc_id") =!= col("qid"))
      .groupBy("qid", "doc_id")
      .agg(first("nd").as("nd"), first("qn").as("qn"),
        count(lit(1)).as("ninter"))
    val wq = Window.partitionBy("qid").orderBy(desc("jacc"), asc("doc_id"))
    val lexRanks = inter
      .withColumn("jacc", col("ninter").cast("double")
        / (col("nd") + col("qn") - col("ninter")).cast("double"))
      .withColumn("lex_rank", row_number().over(wq))
      .filter(col("lex_rank") <= cand)
      .select("qid", "doc_id", "lex_rank")
    val v = vectors(spark, sfDir).select(col("vec_id"), col("v"))
    val qv = v.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wd = Window.partitionBy("qid").orderBy(desc("sim"), asc("doc_id"))
    val denseRanks = v.join(broadcast(qv), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        Similarity.cosine(col("qv"), col("v")).cast("float").as("sim"))
      .withColumn("dense_rank", row_number().over(wd))
      .filter(col("dense_rank") <= cand)
      .select("qid", "doc_id", "dense_rank")
    def contrib(rank: org.apache.spark.sql.Column) =
      coalesce(
        round(lit(1000000000.0) / (lit(rrfK).cast("double") + rank.cast("double")), 0)
          .cast("long"),
        lit(0L))
    val wf = Window.partitionBy("qid").orderBy(desc("rrf_fix"), asc("doc_id"))
    lexRanks
      .join(denseRanks, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_fix",
        contrib(col("lex_rank")) + contrib(col("dense_rank")))
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("lex_rank"), col("dense_rank"),
        (col("rrf_fix").cast("double") / lit(1000000000.0)).as("rrf"))
      .orderBy("qid", "doc_id")
  }
}
