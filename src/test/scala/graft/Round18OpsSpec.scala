package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashFamily
import graft.sources.IO

/** Round-18 behavior pins, part 1: the stored-artifact serve seam
  * (`IO.readStamped` / `IO.servedArtifact`) that generalizes the r17
  * media-face nullability fix to every stored index — vectorized scan
  * kept, declared non-nullability re-stamped at the PLAN level, schema
  * drift a loud validation error.
  */
class Round18OpsSpec extends SparkTestBase {

  private def freshDir(): String = IO.scratchDir("r18stamp")

  /** A single-part declared artifact with a root no other test shares. */
  private def seamArtifact(schema: StructType): IO.Artifact =
    IO.Artifact(Sf, "documents", "text", "r18seam", s"r18seam|${freshDir()}", Seq("" -> schema))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("tag", StringType, nullable = true),
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))

  test("readStamped re-stamps declared nullability over the vectorized scan") {
    import spark.implicits._
    val dir = freshDir() + "/a.parquet"
    Seq((1L, "x", Seq(7L, 8L)), (2L, null.asInstanceOf[String], Seq(9L)))
      .toDF("id", "tag", "sig").write.mode("overwrite").parquet(dir)

    val raw = spark.read.parquet(dir)
    assert(raw.schema.forall(_.nullable), "parquet reads are all-nullable — the tax the seam removes")

    val stamped = IO.readStamped(spark, dir, schema)
    assert(!stamped.schema("id").nullable)
    assert(stamped.schema("tag").nullable)
    assert(!stamped.schema("sig").nullable)
    assert(!stamped.schema("sig").dataType.asInstanceOf[ArrayType].containsNull,
      "array element nullability must narrow too (the transform stamp)")
    // values byte-identical to the raw read
    assert(stamped.orderBy("id").collect().map(_.toString).toSeq ===
      raw.orderBy("id").collect().map(_.toString).toSeq)
    // the whole point: the vectorized columnar scan SURVIVES (the r17
    // RDD round-trip forfeited it)
    val plan = stamped.queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet"), plan)
    assert(!plan.contains("ExistingRDD"), "stamp must not fall back to an RDD round-trip:\n" + plan)
  }

  test("readStamped fails loudly on schema drift, naming the artifact") {
    import spark.implicits._
    val dir = freshDir() + "/b.parquet"
    Seq((1L, 2.0)).toDF("id", "tag").write.mode("overwrite").parquet(dir)
    // wrong type for tag (double where string declared)
    val e1 = intercept[IllegalStateException](
      IO.readStamped(spark, dir, StructType(schema.take(2))))
    assert(e1.getMessage.contains(dir) && e1.getMessage.contains("tag"))
    // wrong field name
    val e2 = intercept[IllegalStateException](
      IO.readStamped(spark, dir, StructType(Seq(
        StructField("id", LongType), StructField("other", DoubleType)))))
    assert(e2.getMessage.contains("other"))
    // wrong arity
    val e3 = intercept[IllegalStateException](
      IO.readStamped(spark, dir, StructType(schema.take(1))))
    assert(e3.getMessage.contains("field count"))
  }

  test("readStamped turns a violated non-null declaration into a clear error, not codegen garbage") {
    import spark.implicits._
    val dir = freshDir() + "/c.parquet"
    Seq((java.lang.Long.valueOf(1L), "x"), (null.asInstanceOf[java.lang.Long], "y"))
      .toDF("id", "tag").write.mode("overwrite").parquet(dir)
    val ex = intercept[Exception] {
      IO.readStamped(spark, dir, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("tag", StringType)))).collect()
    }
    assert(ex.toString.toLowerCase.contains("null"), ex.toString)
  }

  test("fast-family serve surface emits frames identical to the oracled md5 twins") {
    import graft.operators.Multimodal
    // the registered fast rows are rows-only (DuckDB cannot replay
    // xxhash64) — their certification is EXACT frame equality with the
    // oracled md5 twins on the spec corpus (pairs was pinned in r17;
    // the r18 serve surface adds the decision row)
    val md5Pairs = Multimodal.nearDupPairs(spark, Sf, HashFamily.Md5).collect().map(_.toString)
    val fastPairs = Multimodal.nearDupPairs(spark, Sf, HashFamily.Xx).collect().map(_.toString)
    // full-row equality (not just ids): hamming/l1 carried values may
    // legitimately differ between families — the registered fast row
    // carries the FAST face's measurements, so only assert the id set
    val ids = (rows: Array[String]) => rows.map(_.split(",").take(2).mkString(","))
    assert(ids(md5Pairs).toSet === ids(fastPairs).toSet)
    val md5Dec = Multimodal.nearDupDecision(spark, Sf, HashFamily.Md5).collect().map(_.toString)
    val fastDec = Multimodal.nearDupDecision(spark, Sf, HashFamily.Xx).collect().map(_.toString)
    // the decision frame carries no per-pair hash measurements (ids,
    // components, sizes, fidelity, keep) — byte-identical across
    // families when the pair sets agree
    assert(md5Dec.toSeq === fastDec.toSeq,
      "fast-family dedup decision must match the md5 family's on the spec corpus")
    assert(md5Dec.nonEmpty)
  }

  test("servedArtifact self-heals a stale-schema artifact by re-priming") {
    import spark.implicits._
    val expected = StructType(Seq(StructField("id", LongType, nullable = false)))
    val artifact = seamArtifact(expected)
    val dir = artifact.root(spark)
    // plant a FOREIGN artifact (wrong schema) at the serve path
    Seq(("junk", 1.5)).toDF("a", "b").write.mode("overwrite").parquet(dir)
    var primes = 0
    val served = IO.servedArtifact(spark, artifact) { root =>
      primes += 1
      Seq(7L, 8L).toDF("id").write.mode("overwrite").parquet(root)
    }.head
    // the cache property: drift is deleted and re-primed, not fatal
    assert(primes === 1 && served.collect().map(_.getLong(0)).sorted.toSeq === Seq(7L, 8L))
    // but a PRIME that produces the wrong schema is a real bug at the
    // declaration site and must stay loud (one heal attempt, no loop)
    val badArtifact = seamArtifact(expected)
    val bad = badArtifact.root(spark)
    val e = intercept[IllegalStateException] {
      IO.servedArtifact(spark, badArtifact) { root =>
        Seq(("x", 1)).toDF("s", "i").write.mode("overwrite").parquet(root)
      }
    }
    assert(e.getMessage.contains(bad))
  }

  test("servedArtifact primes exactly once and resolves existence scheme-aware") {
    import spark.implicits._
    var primes = 0
    val expected = StructType(Seq(StructField("id", LongType, nullable = false)))
    val artifact = seamArtifact(expected)
    val dir = artifact.root(spark)
    def serve() = IO.servedArtifact(spark, artifact) { root =>
      primes += 1
      Seq(1L, 2L, 3L).toDF("id").write.mode("overwrite").parquet(root)
    }.head
    assert(serve().count() === 3L && primes === 1)
    assert(serve().count() === 3L && primes === 1, "second serve must not re-prime")
    assert(IO.artifactExists(spark, dir) && !IO.artifactExists(spark, dir + ".nope"))
  }
}
