package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.functions.HashFamily
import graft.operators.{CorpusPrep, Dedup}

/** Behavior specs for the incremental-dedup, line-dedup, and per-source
  * cap operators (round-6 corpus maintenance family).
  */
class IncrementalSpec extends SparkTestBase {

  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("incremental exact: admits exactly the batch docs absent from the corpus") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val corpusFps = docs.filter(_._1 % 10 != 0).map(d => md5hex(d._2)).toSet
    // ground truth: batch minus corpus content, then first doc_id per fp
    val expected = docs.filter(_._1 % 10 == 0)
      .filterNot(d => corpusFps.contains(md5hex(d._2)))
      .groupBy(d => md5hex(d._2)).values.map(_.map(_._1).min).toSet
    val got = Dedup.incrementalExact(spark, Sf)
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected)
  }

  test("incremental exact: rejects batch rows that duplicate the corpus or each other") {
    val base = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val batch = Seq(
      (10L, "alpha"),  // exact dup of corpus -> rejected
      (11L, "delta"),  // new -> admitted
      (12L, "delta"),  // within-batch dup of 11 -> rejected
      (13L, "beta"),   // dup of corpus -> rejected
      (14L, "epsilon") // new -> admitted
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Dedup.incrementalExactFrames(base, batch)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L, 14L))
  }

  test("incremental near-dup verdicts agree with the full-corpus pair list") {
    val verdicts = Dedup.incrementalNearDupMd5(spark, Sf).collect()
    val batchCount = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0).count()
    assert(verdicts.length == batchCount, "one verdict per batch doc")
    // the full pair list restricted to batch x corpus pairs must flag
    // exactly the non-new batch docs
    val crossPairs = Dedup.simHashNearDupPairs(spark, Sf, HashFamily.Md5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        if (a % 10 == 0 && b % 10 != 0) Some(a)
        else if (b % 10 == 0 && a % 10 != 0) Some(b)
        else None
      }.toSet
    val flagged = verdicts.filterNot(_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(flagged == crossPairs,
      s"flagged=${flagged.size} crossPairs=${crossPairs.size}")
    verdicts.filterNot(_.getBoolean(1)).foreach { r =>
      assert(r.getLong(2) % 10 != 0, "dup_of must be a corpus doc")
      assert(r.getInt(3) <= 3, "hamming must be within the verify bound")
    }
    verdicts.filter(_.getBoolean(1)).foreach { r =>
      assert(r.isNullAt(2) && r.isNullAt(3), "new docs carry null match cols")
    }
  }

  test("incremental components equal the from-scratch batch-inclusive delta") {
    import graft.operators.Cluster
    val inc = Cluster.incrementalComponentsMd5(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // from-scratch replay: full clustering of all docs, corpus-only map
    // from the artifact the incremental path primed
    val full = Cluster.nearDupComponentsMd5(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val corpusOnly = spark.read
      .parquet(s"${Cluster.corpusClusterState(Sf).root(spark)}/map")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = full.filter { case (id, comp) =>
      id % 10 == 0 || corpusOnly(id) != comp
    }
    assert(inc == expected,
      s"incremental delta must equal the from-scratch restriction " +
        s"(inc=${inc.size} rows, expected=${expected.size})")
    assert(inc.keys.exists(_ % 10 != 0),
      "testdata must exercise at least one corpus remap (a batch bridge)")
  }

  test("stored minhash index: persists once, reloads, verdicts row-identical") {
    val path = java.nio.file.Paths.get(
      Dedup.minHashIndex(Sf, numPerms = 32, bands = 8).root(spark))
    java.nio.file.Files.deleteIfExists(path.resolve("_SUCCESS"))
    if (java.nio.file.Files.exists(path)) {
      // wipe any artifact from an earlier run so this exercises the cold path
      val fs = java.nio.file.Files.walk(path)
      try fs.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally fs.close()
    }
    val onTheFly = Dedup.incrementalMinHashMd5(spark, Sf)
    // cold: builds and persists the corpus band index
    val cold = Dedup.incrementalMinHashMd5Stored(spark, Sf)
    assert(java.nio.file.Files.exists(path), "first use must persist the index")
    assert(cold.exceptAll(onTheFly).isEmpty && onTheFly.exceptAll(cold).isEmpty,
      "stored-index verdicts must equal the on-the-fly verdicts")
    // warm: consumes the artifact (row-identity again — the artifact IS
    // the corpus banding, so any drift means a stale or torn artifact)
    val warm = Dedup.incrementalMinHashMd5Stored(spark, Sf)
    assert(warm.exceptAll(onTheFly).isEmpty && onTheFly.exceptAll(warm).isEmpty)
  }

  test("line dedup: drops cross-doc boilerplate, preserves order, keeps within-doc dups") {
    val docs = Seq(
      (1L, "keep one\nBOILER\nkeep two"),
      (2L, "BOILER\nunique a\nunique a"), // within-doc dup of a rare line survives
      (3L, "unique b\nBOILER"),
      (4L, "BOILER") // all lines common -> empty text
    ).toDF("doc_id", "text")
    val got = CorpusPrep.lineDedupFrames(docs, maxDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("keep one\nkeep two", 2L, 1L)))
    assert(got(2L) == (("unique a\nunique a", 2L, 1L)), "order + within-doc dup kept")
    assert(got(3L) == (("unique b", 1L, 1L)))
    assert(got(4L) == (("", 0L, 1L)), "fully-boilerplate doc must empty, not vanish")
  }

  test("line dedup threshold: a line in exactly maxDocs docs survives") {
    val docs = Seq(
      (1L, "shared\nx"), (2L, "shared\ny"))
      .toDF("doc_id", "text")
    val got = CorpusPrep.lineDedupFrames(docs, maxDocs = 2).collect()
    assert(got.forall(_.getLong(3) == 0L), "2 docs <= maxDocs=2: nothing dropped")
  }

  test("per-source cap: at most cap docs per source, deterministic, hash-ordered") {
    val capped = CorpusPrep.capPerSource(spark, Sf, cap = 10)
    val bySource = capped.groupBy("source").count().collect()
    assert(bySource.nonEmpty && bySource.forall(_.getLong(1) <= 10L))
    // sf0.001 has 25 docs in every source, so the cap binds everywhere
    assert(bySource.forall(_.getLong(1) == 10L))
    // deterministic: two runs agree exactly
    val a = capped.collect().map(_.toString).sorted
    val b = CorpusPrep.capPerSource(spark, Sf, cap = 10)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // selection matches a driver-side recompute of the hash order
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val expected = docs.groupBy(_._2).flatMap { case (_, rows) =>
      rows.sortBy(d =>
        (java.lang.Long.parseLong(md5hex(d._3).substring(16, 24), 16), d._1))
        .take(10).map(_._1).toSeq
    }.toSet
    val got = capped.select("doc_id").as[Long].collect().toSet
    assert(got == expected)
  }
}
