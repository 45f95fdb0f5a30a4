package graft.sources

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.obs.RunRecord

/** Typed readers/writers for the engine's source/sink surface
  * (SURVEY.md §2.1: S1-S3 scans, K1-K3 sinks), plus the write-then-reread
  * combinators the reference pipelines embody
  * (/root/reference/src/main/scala/tiago/cebola/challenge.scala:104-112,
  * 186-196, 219-229).
  */
object IO {

  /** The reference's custom CSV field delimiter (challenge.scala:11). */
  val SectionDelimiter = "§" // §

  /** S1/S2 — CSV scan with header + schema inference. Inference costs an
    * extra eager pass over the data; at 100 TB callers should pass an
    * explicit schema instead (see `readCsvWithSchema`).
    */
  def readCsv(
      spark: SparkSession,
      path: String,
      delimiter: String = ",",
      header: Boolean = true,
      inferSchema: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .option("delimiter", delimiter)
      .csv(path)

  /** Schema-pinned CSV scan — the scale path: no inference pass. */
  def readCsvWithSchema(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      delimiter: String = ","): DataFrame =
    spark.read
      .option("header", "true")
      .option("delimiter", delimiter)
      .schema(schema)
      .csv(path)

  /** S3 — parquet scan. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Widen a NARROW frame to session parallelism before a heavy per-row
    * pass. The testdata parquet files carry a single row group, so the
    * scan is ONE task no matter how `maxPartitionBytes` /
    * `minPartitionNum` slice the byte range (parquet can only split at
    * row-group boundaries) — and a decode/hash kernel downstream of it
    * then runs serially on any machine (measured r20: the 5000-media
    * fingerprint pass held 1 partition on 32 cores). At production
    * scale the scan already carries >= the session width and this is a
    * NO-OP — no exchange is added; the width derives from the input,
    * not from a constant tuned to either regime (guide §2
    * "scale-adaptive partitioning").
    *
    * PRECONDITION: `df` is a scan, or a scan under narrow operators
    * (filter, project, explode). The width probe `df.rdd` plans the frame
    * physically; over a shuffle-bearing input with AQE on, that runs the
    * upstream query stages as real jobs just to read a partition count,
    * and the plan is then thrown away and planned again. Every call site
    * today passes a table scan or a narrow derivative of one.
    */
  def widened(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  /** Testdata table loader (TESTDATA.md). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** K1 — CSV sink, header + custom delimiter, overwrite. */
  def writeCsv(
      df: DataFrame,
      path: String,
      delimiter: String = ",",
      header: Boolean = true): Unit =
    df.write
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .mode(SaveMode.Overwrite)
      .csv(path)

  /** K2 — parquet sink, gzip-compressed, overwrite. */
  def writeParquetGzip(df: DataFrame, path: String): Unit =
    df.write
      .option("compression", "gzip")
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** Write df as delimited CSV then read it back with fresh schema
    * inference — the Part-2 shape (challenge.scala:104-112). The re-read
    * frame's schema can legitimately differ from the written frame's
    * (inference over the clean delimited text re-types columns).
    */
  def csvRoundTrip(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      delimiter: String = SectionDelimiter): DataFrame = {
    writeCsv(df, path, delimiter)
    readCsv(spark, path, delimiter)
  }

  /** Write df as gzip parquet then read it back — the Part-4/5 shape
    * (challenge.scala:186-196). Acts as a materialization barrier: the
    * re-read plan starts from files, not from the upstream lineage.
    */
  def parquetGzipRoundTrip(
      spark: SparkSession,
      df: DataFrame,
      path: String): DataFrame = {
    writeParquetGzip(df, path)
    readParquet(spark, path)
  }

  /** Write df as ZSTD parquet then read it back. Gzip is the reference's
    * committed-artifact codec (K2 keeps it for parity); zstd is what a
    * 100 TB deployment actually runs — comparable ratio at several times
    * the (de)compression throughput, so scan-bound queries stay CPU-light.
    */
  def parquetZstdRoundTrip(
      spark: SparkSession,
      df: DataFrame,
      path: String): DataFrame = {
    df.write.option("compression", "zstd").mode(SaveMode.Overwrite).parquet(path)
    readParquet(spark, path)
  }

  /** Write df as JSON lines then read it back with inference — extends the
    * source/sink matrix beyond the reference's CSV/parquet (SURVEY.md §2.1).
    * JSON inference loses integer-vs-long width and column order; callers
    * re-select/cast. At 100 TB, JSON is an interchange format, not a scan
    * format — the round-trip exists for capability, parquet is the scale
    * path.
    */
  def jsonRoundTrip(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).json(path)
    spark.read.json(path)
  }

  /** Write df as zlib ORC then read it back — the columnar-format twin of
    * [[parquetGzipRoundTrip]]; exercises the second vectorized-scan format.
    */
  def orcRoundTrip(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.option("compression", "zlib").mode(SaveMode.Overwrite).orc(path)
    spark.read.orc(path)
  }

  /** Write df hive-partitioned by `partitionCol` then read it back — the
    * layout whose directory pruning PlanAuditSpec asserts. The partition
    * column round-trips through the directory name (string-typed on
    * re-read for non-inferable types).
    */
  def partitionedParquetRoundTrip(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      partitionCol: String): DataFrame = {
    df.write.partitionBy(partitionCol).mode(SaveMode.Overwrite).parquet(path)
    spark.read.parquet(path)
  }

  /** Scratch dir for round-trip sinks (never inside /root/repo). */
  def scratchDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Small-files compaction: rewrite a parquet directory into
    * ceil(totalBytes / targetBytes) files and return the re-read frame.
    *
    * The small-files problem is the classic operational failure mode of a
    * long-running ingest at scale — a 100 TB table accreted in
    * per-micro-batch writes ends up as millions of KB-sized files, and
    * every scan pays per-file open/footer/seek costs that dwarf the read
    * itself (plus NameNode/listing pressure). Compaction restores
    * scan-sized files.
    *
    * Sizing comes from the driver's file LISTING (byte sizes — no Spark
    * job, no footer reads), and the rewrite uses `coalesce`, a NARROW
    * dependency: input files are concatenated into output partitions
    * without a shuffle (plan-asserted in the spec). Coalesce inherits the
    * input's file order, so an already-sorted (e.g. Z-ordered) layout
    * keeps its clustering; if input files are heavily skewed in size,
    * callers trade the shuffle for balance with `repartition` instead.
    */
  def compactParquet(
      spark: SparkSession,
      srcDir: String,
      dstDir: String,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val totalBytes = listed(spark, srcDir)._2.map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(srcDir)
      .coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(dstDir)
    readParquet(spark, dstDir)
  }

  /** One recursive driver listing (partitioned layouts nest files) of a
    * table's data files, skipping `_`/`.` side files: the conf that reads
    * them, the files, and their [[tableIdentity]].
    */
  private def listed(
      spark: SparkSession,
      path: String): (Configuration, Seq[FileStatus], Seq[(String, Long, Long)]) = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(conf)
    val it = fs.listFiles(dir, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq
    val root = s"${fs.makeQualified(dir)}/"
    (conf, files, files.map(st =>
      (st.getPath.toString.stripPrefix(root), st.getLen, st.getModificationTime)).sorted)
  }

  /** A table's FILE IDENTITY: the sorted (relative path, length, mtime) of
    * its data files — a driver listing, no job. Part-file names carry the
    * write's UUID, so an overwrite changes it even within one millisecond.
    */
  def tableIdentity(spark: SparkSession, path: String): Seq[(String, Long, Long)] =
    listed(spark, path)._3

  private final case class FooterStats(rows: Long, columnBytes: Map[String, Long])

  /** Row count and per-column (dotted path) uncompressed bytes of a parquet
    * table from every footer, read once per [[tableIdentity]].
    */
  private def footerStats(spark: SparkSession, path: String): FooterStats = {
    import scala.jdk.CollectionConverters._
    val (conf, files, identity) = listed(spark, path)
    Memo(s"footer|$path", identity) {
      val bytes = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      val rows = files.map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          reader.getRowGroups.asScala.foreach(_.getColumns.asScala.foreach { c =>
            bytes(c.getPath.toDotString) += c.getTotalUncompressedSize
          })
          reader.getRecordCount
        } finally reader.close()
      }.sum
      FooterStats(rows, bytes.toMap)
    }
  }

  /** Exact row count of a parquet table from file-footer metadata — NO Spark
    * job: the driver lists the directory and reads each footer's record
    * count (a few KB per file) once per table version ([[footerStats]]).
    *
    * This exists so operators that size themselves to the corpus (the
    * adaptive LSH plane count in [[graft.operators.Similarity]]) don't run a
    * full count() job inside every query invocation. At 100 TB the same
    * number should come from catalog statistics (ANALYZE TABLE / metastore
    * rowCount) rather than a driver listing of millions of footers — which
    * is why the operators also accept the count-derived parameter directly
    * from the caller; this helper is the no-catalog fallback.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long =
    footerStats(spark, path).rows

  /** Total UNCOMPRESSED byte size of one column across a parquet table,
    * from file-footer row-group metadata — NO Spark job, read once per
    * table version like [[parquetRowCount]]. This is the data-derived
    * volume signal for operators whose cost tracks a column's content
    * size rather than the row count (the substring-dedup window estimate:
    * token volume ≈ text bytes, which a rows×constant heuristic gets
    * badly wrong on long-document corpora). Uncompressed chunk size
    * includes encoding overhead (length prefixes, rep/def levels), so it
    * slightly overestimates raw content bytes — the right direction for
    * a materialization gate. Same catalog-statistics caveat as the row
    * count: at 100 TB this number comes from ANALYZE TABLE column stats,
    * and callers accept the derived parameter directly.
    */
  def parquetColumnUncompressedBytes(
      spark: SparkSession,
      path: String,
      column: String): Long =
    footerStats(spark, path).columnBytes.getOrElse(column, 0L)

  /** Scheme-aware existence probe for a persisted artifact — resolved
    * through the Hadoop FileSystem of the path's scheme, NOT
    * `java.nio.file.Files` (which is local-only and would report every
    * HDFS/S3-backed artifact as missing, re-persisting — and racing
    * on — it every invocation). Centralized here so the filesystem
    * assumption lives in exactly one place.
    *
    * A DIRECTORY artifact additionally requires the `_SUCCESS` job
    * marker: every artifact in this library is written by
    * `df.write.parquet`, whose committer drops the marker only after the
    * job commits, so a prime that crashed (or is still running in
    * another process) leaves a directory that must read as ABSENT — bare
    * path existence would serve its partial files. Plain files (no
    * committer protocol) keep the simple existence check.
    */
  def artifactExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && (fs.getFileStatus(p).isFile ||
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
  }

  /** Thrown by [[readStamped]] when the on-disk artifact does not match
    * its declared schema. A dedicated type (still an
    * `IllegalStateException` for callers matching broadly) so
    * [[servedArtifact]]'s self-heal can scope its delete-and-re-prime to
    * GENUINE drift — an unrelated `IllegalStateException` surfacing
    * through the read must never trigger recursive deletion of a healthy
    * artifact.
    */
  final class ArtifactDriftException(msg: String) extends IllegalStateException(msg)

  /** Read a persisted artifact and RE-STAMP the producer's declared
    * nullability onto the plan — the serve-path seam every stored index
    * in this library reads through.
    *
    * Why it exists: parquet reads mark every column nullable, and the
    * consumers' whole-stage codegen then pays a null branch per
    * expression per row — measured on the media fingerprint face at ×100
    * as 39-41 s off a plain read vs 25 s re-stamped (the banded join's 68
    * band-key expressions), invisible in the plan shape. The original fix
    * (`createDataFrame(df.rdd, schema)`) forfeited the vectorized parquet
    * scan and inserted a Row-deserialization pass; this seam instead
    * projects each non-null column through a Catalyst `AssertNotNull`, so
    * the vectorized scan SURVIVES, downstream operators see
    * `nullable = false` attributes, and — unlike a raw `KnownNotNull`
    * tag, which would make an actually-null value silent codegen
    * garbage — a corrupt artifact fails loudly at the first null.
    * Array columns declared `containsNull = false` re-stamp their
    * element nullability through a `transform(x -> assert_not_null(x))`
    * pass (a cast cannot narrow `containsNull`).
    *
    * The read schema is VALIDATED against `expected` (field names and
    * types, nullability ignored — parquet cannot round-trip it) before
    * any stamping, so an artifact written by a different producer, a
    * partially-written file, or a schema drift surfaces as one
    * descriptive error naming the artifact path — not as NPEs or
    * mis-bound columns deep in codegen. (The content-keyed path digest
    * only guards staleness of the SOURCE data, not the artifact bytes.)
    */
  def readStamped(
      spark: SparkSession,
      path: String,
      expected: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
    import org.apache.spark.sql.catalyst.expressions.ArrayTransform
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, StructField}
    expected.fields.foreach { f =>
      def hasStruct(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
        case _: org.apache.spark.sql.types.StructType => true
        case ArrayType(et, _) => hasStruct(et)
        case org.apache.spark.sql.types.MapType(k, v, _) => hasStruct(k) || hasStruct(v)
        case _ => false
      }
      // declaration-site guard, not drift: the stamp narrows top-level and
      // array-ELEMENT nullability only, so a struct field's inner
      // nullability would silently stay nullable — reject the declaration
      // until the stamp learns to recurse, rather than serve a half-stamp
      require(!hasStruct(f.dataType),
        s"readStamped cannot re-stamp inner-field nullability of struct-typed " +
          s"column '${f.name}' (${f.dataType.simpleString}) declared for $path; " +
          "flatten the artifact or extend the stamp before declaring structs")
    }
    val raw = readParquet(spark, path)
    val actual = raw.schema
    def mismatch(why: String): Nothing = throw new ArtifactDriftException(
      s"stored artifact at $path does not match its declared schema ($why); " +
        s"expected ${expected.simpleString}, found ${actual.simpleString} — " +
        "the artifact was produced by a different writer or is corrupt; " +
        "delete it to re-prime")
    if (actual.length != expected.length)
      mismatch(s"field count ${actual.length} != ${expected.length}")
    expected.fields.zip(actual.fields).foreach { case (e, a) =>
      if (e.name != a.name) mismatch(s"field '${a.name}' where '${e.name}' expected")
      if (!GraftSqlBridge.sameTypeIgnoreNullability(e.dataType, a.dataType))
        mismatch(s"field '${e.name}' has type ${a.dataType.simpleString}, " +
          s"expected ${e.dataType.simpleString}")
    }
    val cols = expected.fields.map { case StructField(name, dt, nullable, _) =>
      var e = GraftSqlBridge.expression(col(name))
      dt match {
        case ArrayType(_, false) =>
          // element-level stamp: transform's result containsNull is the
          // lambda body's nullability, the one plan-level way to narrow it
          val x = UnresolvedNamedLambdaVariable(Seq("x"))
          e = ArrayTransform(e, LambdaFunction(AssertNotNull(x), Seq(x)))
        case _ => ()
      }
      if (!nullable) e = AssertNotNull(e, Seq(s"stored artifact $path column $name declared non-null"))
      GraftSqlBridge.column(e).as(name)
    }
    raw.select(cols.toSeq: _*)
  }

  /** All-non-null all-BIGINT struct — the shape of most persisted
    * id/count artifacts; convenience for [[readStamped]] declarations.
    */
  def longSchema(names: String*): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(names.map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** A stored artifact, declared: the source table it derives from
    * (`sfDir/table.parquet`) and the column whose footer volume
    * fingerprints it, a `tag` naming it for humans, the versioned `key`
    * (scheme-version token first, then every parameter that shapes the
    * contents), and its PARTS as name -> schema. A part named `""` is
    * the root directory itself, so a single-part artifact may be one
    * parquet directory; every other part is the `root/name` directory.
    * `ext` is a suffix on the root name (`.parquet` on the single-part
    * artifacts that are one parquet directory).
    *
    * Declarations are cheap values: an operator holds one `def` per
    * family and serves it through [[servedArtifact]]; tests ask it for
    * [[root]].
    */
  final case class Artifact(
      sfDir: String,
      table: String,
      column: String,
      tag: String,
      key: String,
      parts: Seq[(String, org.apache.spark.sql.types.StructType)],
      ext: String = "") {

    /** `graft_<tag>_<md5>` under `java.io.tmpdir` (see
      * [[contentKeyedArtifactPath]]), plus `ext`.
      */
    def root(spark: SparkSession): String =
      contentKeyedArtifactPath(spark, s"$sfDir/$table.parquet", column, tag, key) + ext

    private[sources] def partPaths(root: String): Seq[String] =
      parts.map { case (name, _) => if (name.isEmpty) root else s"$root/$name" }
  }

  /** THE stored-artifact mechanism: every persisted index in this
    * library is named, primed, judged complete, read back and healed
    * here, and nowhere else. Returns the artifact's parts, in declared
    * order, each read through the [[readStamped]] nullability seam.
    *
    * The contract:
    *   - ROOT LAYOUT: one directory per artifact, `graft_<tag>_<md5>`
    *     under `java.io.tmpdir`, the digest covering the declared key
    *     and the source table's footer fingerprint
    *     ([[contentKeyedArtifactPath]]). Each named part is a parquet
    *     directory `root/<name>`; a `""` part is the root itself.
    *   - PRIME: `write(root)` builds EVERY part under the root, each by
    *     a committing `df.write.parquet`. It runs when ANY declared part
    *     lacks its `_SUCCESS` job marker ([[artifactExists]]) — a
    *     writer that died after its first part leaves an artifact that
    *     reads as absent, never one served half-built. The root is
    *     deleted first, so a prime always starts from nothing.
    *   - HEAL: these artifacts are pure caches of a deterministic build,
    *     so when reading ANY part fails validation
    *     ([[ArtifactDriftException]]: a producer whose schema changed
    *     without a version-token bump, a foreign writer) or fails
    *     outright (`AnalysisException`: an empty or unreadable part that
    *     somehow carries its marker), the WHOLE root is deleted, primed
    *     once more and read again. A re-primed artifact that still fails
    *     is a loud error: the declared schema is out of step with its
    *     writer, a bug at the declaration. Any other exception (an
    *     executor OOM, an interrupted job) propagates without deleting a
    *     possibly healthy artifact. Value drift under an unchanged
    *     schema stays invisible to validation; that class needs a
    *     version-token bump in the key.
    */
  def servedArtifact(
      spark: SparkSession,
      artifact: Artifact)(write: String => Unit): Seq[DataFrame] = {
    val root = artifact.root(spark)
    val paths = artifact.partPaths(root)
    def delete(): Unit = {
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
    def read(): Seq[DataFrame] =
      paths.zip(artifact.parts).map { case (p, (_, schema)) => readStamped(spark, p, schema) }
    if (!paths.forall(artifactExists(spark, _))) { delete(); write(root) }
    try read()
    catch {
      case drift @ (_: ArtifactDriftException |
                    _: org.apache.spark.sql.AnalysisException) =>
        RunRecord.degraded(RunRecord.ArtifactReprimed, 1L)(
          s"stale/foreign artifact at $root — " +
            s"re-priming (${drift.getMessage.take(200)})")
        delete()
        write(root)
        read()
    }
  }

  /** Stable tmpdir path for a content-keyed persisted artifact — the
    * root naming rule of [[Artifact]]: the digest covers the caller's
    * scheme/params `key` PLUS a footer-derived fingerprint (row count +
    * uncompressed bytes of `column`) of the source table, so a
    * regenerated table misses the stale artifact; `tag` names the
    * directory for humans.
    */
  def contentKeyedArtifactPath(
      spark: SparkSession,
      dataPath: String,
      column: String,
      tag: String,
      key: String): String = {
    val stats = footerStats(spark, dataPath)
    val fingerprint = s"${stats.rows}:${stats.columnBytes.getOrElse(column, 0L)}"
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$key|$fingerprint".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_$digest"
  }
}
