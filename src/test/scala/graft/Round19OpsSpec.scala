package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.IO

/** Round-19 behavior pins: the serve-seam hardening — `_SUCCESS`-gated
  * existence (a crashed prime reads as absent, on any part of a
  * multi-part artifact), the heal path scoped to genuine drift
  * (`ArtifactDriftException` | `AnalysisException`, never a bare
  * `IllegalStateException`) and covering the whole artifact root, the
  * struct-declaration guard in `readStamped`, and the SCD-2 write-time
  * non-null contract.
  */
class Round19OpsSpec extends SparkTestBase {

  private def freshDir(): String = IO.scratchDir("r19seam")

  private val IdSchema = StructType(Seq(StructField("id", LongType, nullable = false)))

  /** A declared artifact with a root no other test shares: the key names
    * a fresh scratch directory.
    */
  private def seamArtifact(parts: (String, StructType)*): IO.Artifact =
    IO.Artifact(Sf, "documents", "text", "r19seam", s"r19seam|${freshDir()}", parts)

  private def fs = new org.apache.hadoop.fs.Path(Sf)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("artifactExists requires the _SUCCESS job marker on directories") {
    import spark.implicits._
    val dir = freshDir() + "/ok.parquet"
    Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(dir)
    assert(IO.artifactExists(spark, dir), "committed write carries _SUCCESS")

    // simulate a prime that died mid-write: directory + data files
    // present, no job marker — must read as ABSENT, not half-served
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    assert(!IO.artifactExists(spark, dir),
      "a directory without _SUCCESS is a crashed/in-flight prime")

    // plain FILES have no committer protocol — bare existence suffices
    val f = new org.apache.hadoop.fs.Path(freshDir() + "/plain.bin")
    val out = fs.create(f); out.write(7); out.close()
    assert(IO.artifactExists(spark, f.toString))
  }

  test("servedArtifact re-primes over a crashed (markerless) prime") {
    import spark.implicits._
    val artifact = seamArtifact("" -> IdSchema)
    val dir = artifact.root(spark)
    Seq(99L).toDF("id").write.mode("overwrite").parquet(dir)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    var primes = 0
    val served = IO.servedArtifact(spark, artifact) { root =>
      primes += 1
      Seq(1L, 2L, 3L).toDF("id").write.mode("overwrite").parquet(root)
    }.head
    assert(primes === 1 && served.count() === 3L,
      "markerless directory must be treated as absent and re-primed")
  }

  test("servedArtifact primes a two-part artifact with a markerless second part exactly once") {
    import spark.implicits._
    // a writer that died after committing its first part
    val artifact = seamArtifact("a" -> IdSchema, "b" -> IdSchema)
    val root = artifact.root(spark)
    Seq(7L).toDF("id").write.mode("overwrite").parquet(s"$root/a")
    Seq(8L).toDF("id").write.mode("overwrite").parquet(s"$root/b")
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/b", "_SUCCESS"), false)
    var primes = 0
    def serve(): Seq[org.apache.spark.sql.DataFrame] =
      IO.servedArtifact(spark, artifact) { r =>
        primes += 1
        Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(s"$r/a")
        Seq(3L, 4L, 5L).toDF("id").write.mode("overwrite").parquet(s"$r/b")
      }
    val Seq(a, b) = serve()
    assert(primes === 1 && a.count() === 2L && b.count() === 3L,
      "a missing marker on ANY part must re-prime every part")
    serve()
    assert(primes === 1, "a complete artifact must be served, not primed again")
  }

  test("servedArtifact heals the whole root when one part has drifted") {
    import spark.implicits._
    val artifact = seamArtifact("a" -> IdSchema, "b" -> IdSchema)
    val root = artifact.root(spark)
    Seq(7L).toDF("id").write.mode("overwrite").parquet(s"$root/a")
    Seq(("x", 1.0)).toDF("a", "b").write.mode("overwrite").parquet(s"$root/b")
    // an undeclared leftover: only a whole-root delete removes it
    Seq(9L).toDF("id").write.mode("overwrite").parquet(s"$root/leftover")
    var primes = 0
    val Seq(a, b) = IO.servedArtifact(spark, artifact) { r =>
      primes += 1
      Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(s"$r/a")
      Seq(3L, 4L, 5L).toDF("id").write.mode("overwrite").parquet(s"$r/b")
    }
    assert(primes === 1 && a.count() === 2L && b.count() === 3L,
      "a drifted part must re-prime every part")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/leftover")),
      "the heal must delete the whole root, not only the drifted part")
  }

  test("servedArtifact heals an unreadable (empty) artifact directory") {
    import spark.implicits._
    // an empty dir WITH a marker: exists-check passes, the read itself
    // throws AnalysisException (no footers to infer from) — the r18 seam
    // crashed here; r19 heals it like any other drift
    val artifact = seamArtifact("" -> IdSchema)
    val p = new org.apache.hadoop.fs.Path(artifact.root(spark))
    fs.mkdirs(p)
    fs.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS")).close()
    var primes = 0
    val served = IO.servedArtifact(spark, artifact) { root =>
      primes += 1
      Seq(4L, 5L).toDF("id").write.mode("overwrite").parquet(root)
    }.head
    assert(primes === 1 && served.count() === 2L)
  }

  test("schema drift surfaces as the dedicated ArtifactDriftException") {
    import spark.implicits._
    val dir = freshDir() + "/drift.parquet"
    Seq(("x", 1.0)).toDF("a", "b").write.mode("overwrite").parquet(dir)
    val e = intercept[IO.ArtifactDriftException](
      IO.readStamped(spark, dir,
        StructType(Seq(StructField("id", LongType, nullable = false)))))
    assert(e.getMessage.contains(dir))
    // still an IllegalStateException for broad matchers (r18 pins)
    assert(e.isInstanceOf[IllegalStateException])
  }

  test("readStamped rejects struct-typed declarations at the declaration site") {
    import spark.implicits._
    val dir = freshDir() + "/struct.parquet"
    Seq((1L, (2L, "x"))).toDF("id", "s").write.mode("overwrite").parquet(dir)
    val decl = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("f", LongType, nullable = false))), nullable = false)))
    val e = intercept[IllegalArgumentException](IO.readStamped(spark, dir, decl))
    assert(e.getMessage.contains("struct-typed"),
      "a struct declaration would silently half-stamp — must be rejected")
    // nested inside an array is the same silent gap
    val declArr = StructType(Seq(StructField("s",
      ArrayType(StructType(Seq(StructField("f", LongType)))), nullable = false)))
    intercept[IllegalArgumentException](IO.readStamped(spark, dir, declArr))
  }

  test("the scd2 base writer enforces the non-null event_type contract at write time") {
    import graft.operators.Snapshot
    // the generated events carry no null event_type, so the prime
    // succeeds AND the artifact round-trips through the stamped read —
    // proving the write-side assert and the declared schema agree
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(Snapshot.scd2Base(Sf).root(spark)))
    val stamped = Snapshot.scd2BaseStored(spark, Sf)
    assert(!stamped.schema("event_type").nullable)
    assert(stamped.filter(col("event_type").isNull).isEmpty)
    assert(stamped.count() > 0)
  }

  test("mm artifact version tokens moved to v2 with the r18 synthesis") {
    // the media payloads are synthesized FROM the unchanged documents
    // table, so contentKeyedArtifactPath's footer fingerprint cannot see
    // a synthesis change — only the literal token can. r18 changed the
    // %12==8 WAV bytes; a stale r17 face/index must MISS. Pin the token
    // so a future synthesis change fails this test until it bumps again.
    import graft.operators.Multimodal
    assert(Multimodal.mediaIndex(Sf).root(spark) !=
      IO.contentKeyedArtifactPath(spark, s"$Sf/documents.parquet", "text",
        "mmfp", s"mmfp_v1|$Sf") + ".parquet",
      "mmfp token must have moved off v1")
    assert(Multimodal.mediaFace(Sf).root(spark) ==
      IO.contentKeyedArtifactPath(spark, s"$Sf/documents.parquet", "text",
        "mmface", s"mmface_v3|$Sf") + ".parquet",
      "mmface token must sit at v3 (the r20 audited-face schema fusion)")
  }
}
