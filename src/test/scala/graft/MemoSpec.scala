package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{QualityModel, Similarity}
import graft.sources.{IO, Memo}

/** The driver memo's staleness rule: a value derived from a table is
  * reused only while the table's files are the ones it was derived from.
  * Each spec copies an sf0.001 table into a scratch sfDir, derives a value,
  * rewrites the table IN PLACE with a subset, and asks again.
  */
class MemoSpec extends SparkTestBase {

  /** Write `df` as `<dir>/<name>.parquet`, replacing what is there. */
  private def writeTable(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def source(name: String): DataFrame = spark.read.parquet(s"$Sf/$name.parquet")

  test("footer stats and artifact roots follow a table rewritten in place") {
    val dir = IO.scratchDir("memo_footer")
    val path = s"$dir/documents.parquet"
    val artifact = IO.Artifact(dir, "documents", "text", "memo_spec", "v1",
      Seq("" -> IO.longSchema("doc_id")))
    writeTable(source("documents"), dir, "documents")
    val rows1 = IO.parquetRowCount(spark, path)
    val bytes1 = IO.parquetColumnUncompressedBytes(spark, path, "text")
    val root1 = artifact.root(spark)
    assert(rows1 == source("documents").count())

    writeTable(source("documents").filter(col("doc_id") % 3 === 0), dir, "documents")
    val rows2 = IO.parquetRowCount(spark, path)
    val bytes2 = IO.parquetColumnUncompressedBytes(spark, path, "text")
    val root2 = artifact.root(spark)
    assert(rows2 == spark.read.parquet(path).count(), "row count kept the old files'")
    assert(rows2 < rows1)
    assert(bytes2 < bytes1, "column bytes kept the old files'")
    assert(root2 != root1, "artifact root kept the old files' fingerprint")
    Memo.clear()
    assert(IO.parquetColumnUncompressedBytes(spark, path, "text") == bytes2)
    assert(artifact.root(spark) == root2)
  }

  /** Derive `train(dir)` over a copy of `table`, rewrite the copy in place
    * with a subset, and derive again: the second value must be a fresh
    * derivation over the new files, and the memo must not have grown.
    */
  private def followsRewrite[T](table: String, keep: org.apache.spark.sql.Column)(
      train: String => T): Unit = {
    val dir = IO.scratchDir(s"memo_$table")
    writeTable(source(table), dir, table)
    val before = train(dir)
    val entries = Memo.size
    writeTable(source(table).filter(keep), dir, table)
    val after = train(dir)
    assert(Memo.size == entries, "a new table version must replace, not add, memo entries")
    Memo.clear()
    val fresh = train(dir)
    assert(after == fresh, s"$table rewritten in place: served the value trained on the old files")
    assert(after != before, "the rewrite must change the trained value for this check to bite")
  }

  test("a trained LR model follows a documents table rewritten in place") {
    followsRewrite("documents", col("doc_id") % 2 === 0) { dir =>
      QualityModel.trainWeights(spark, dir)
    }
  }

  test("a trained k-means codebook follows an embeddings table rewritten in place") {
    followsRewrite("embeddings", col("vec_id") % 2 === 1) { dir =>
      Similarity.kmeansCodebook(spark, dir).map { case (cid, v) => (cid, v.toSeq) }
    }
  }
}
