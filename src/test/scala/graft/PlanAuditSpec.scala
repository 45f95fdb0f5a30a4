package graft

import graft.functions.{HashFamily, VectorCentroidAggregator}
import graft.operators.{Dedup, Relational, Similarity}
import graft.sources.IO

/** Physical-plan audits — the 100 TB posture claims, asserted on explain
  * output so a regression (lost pushdown, lost broadcast, surprise global
  * sort) fails CI rather than only showing up at scale.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    qe.executedPlan.toString
  }

  test("parquet scan prunes columns (S3/P1)") {
    val p = plan(Relational.s3ParquetScan(spark, Sf))
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("p_partkey") && read.contains("p_name")
      && !read.contains("p_brand"), s"scan must read only selected cols: $read")
  }

  test("filter pushes to the parquet scan (F3)") {
    val p = plan(Relational.f3EndsWith(spark, Sf))
    assert(p.contains("PushedFilters") &&
      (p.contains("StringEndsWith") || p.contains("EndsWith")),
      s"endsWith must reach the scan:\n$p")
  }

  test("upsert's time-split predicate pushes to the events scan (EventTime)") {
    // the base/update split must filter on the RAW ts column so row-group
    // min/max skipping works — a tus-computed filter evaluates post-scan
    val p = plan(operators.Snapshot.eventsUpsertLatest(spark, Sf))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.nonEmpty, s"no pushed filters in upsert plan:\n$p")
    assert(pushed.exists(l => l.contains("ts") &&
      (l.contains("GreaterThanOrEqual") || l.contains("LessThan"))),
      s"ts range must reach the scan: ${pushed.mkString("; ")}")
  }

  test("schema-pinned CSV read runs NO inference job; inferred read runs one (S1/S4)") {
    import org.apache.spark.sql.functions.col
    val dir = graft.sources.IO.scratchDir("s4_audit")
    graft.sources.IO.writeCsv(
      spark.read.parquet(s"$Sf/customer.parquet")
        .select("c_custkey", "c_name", "c_acctbal"), dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // listener events are async: a marker job after each read construction
    // fences them. The marker is a plain RDD count (exactly ONE job — a
    // Dataset count would be split into multiple jobs by AQE stage
    // materialization). Waiting for `expectAtLeast` alone would race a
    // regression's own job against the marker (the first delivered event
    // satisfies the bound either way), so after reaching it the count must
    // also hold STABLE across a settle window before it is trusted.
    def settleAfterMarker(expectAtLeast: Int): Int = {
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (jobs.get() < expectAtLeast && System.nanoTime() < deadline)
        Thread.sleep(20)
      var prev = -1
      while (jobs.get() != prev && System.nanoTime() < deadline) {
        prev = jobs.get()
        Thread.sleep(300)
      }
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c_acctbal",
          org.apache.spark.sql.types.DoubleType)))
      graft.sources.IO.readCsvWithSchema(spark, dir, schema)
      val afterPinned = settleAfterMarker(1)
      assert(afterPinned == 1,
        s"schema-pinned CSV read must trigger zero jobs before any action (saw ${afterPinned - 1})")
      graft.sources.IO.readCsv(spark, dir) // header+inferSchema
      val afterInferred = settleAfterMarker(afterPinned + 2)
      assert(afterInferred >= afterPinned + 2,
        "inferred CSV read should eagerly run at least one inference job")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("orderBy+limit plans as TakeOrderedAndProject, not a global sort (O2)") {
    val p = plan(Relational.o2TopK(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("explicit broadcast join plans as BroadcastHashJoin (J2)") {
    val p = plan(Relational.j2BroadcastJoin(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("star join broadcasts the dimension chain (headline)") {
    val p = plan(Relational.qStarJoin(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("aggregations do partial (map-side) aggregation before the exchange") {
    val p = plan(Relational.q1PricingSummary(spark, Sf))
    assert(p.contains("HashAggregate"), p)
    val exchangeIdx = p.indexOf("Exchange")
    val firstAgg = p.indexOf("HashAggregate")
    assert(exchangeIdx >= 0 && firstAgg >= 0, p)
    // partial aggregate appears below (after in text) the exchange
    assert(p.lastIndexOf("HashAggregate") > exchangeIdx,
      "expect partial_ aggregate under the shuffle")
  }

  test("whole-stage codegen covers the scan+filter+project pipeline") {
    val p = Relational.e7Arithmetic(spark, Sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), p)
  }

  test("minhash/simhash signature stages plan with no KEYED exchange (shuffle-free)") {
    // r20: the widen-if-narrow seam (IO.widened) may insert ONE
    // round-robin exchange when the scan is narrower than the session —
    // that is deliberate (the hash kernel per byte dwarfs one text
    // move, and at production scan widths the seam is a no-op). What
    // must NEVER appear is a hash/range exchange: keyed re-shuffles of
    // text are the 100 TB hazard the original zero-exchange pin guarded.
    def keyedExchanges(df: org.apache.spark.sql.DataFrame): Seq[Any] = {
      val root = df.queryExecution.executedPlan
      val exec = root match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !e.outputPartitioning.toString.contains("RoundRobinPartitioning") => e
      }
    }
    assert(keyedExchanges(Dedup.minHashSignatures(spark, Sf, HashFamily.Xx)).isEmpty,
      "minhash signatures must not shuffle by key")
    assert(keyedExchanges(Dedup.simHashSignatures(IO.table(spark, Sf, "documents"), HashFamily.Xx)).isEmpty,
      "simhash signatures must not shuffle by key")
  }

  test("banded candidate joins shuffle ONE packed long key (no multi-column band keys)") {
    // the banded frame is bands x corpus rows — the widest-fanout
    // intermediate in the near-dup pipelines — so its exchange key must be
    // the single packed long, not a (pos, band) pair
    import org.apache.spark.sql.functions.col
    // the public paths checkpoint the banded frame (hiding the join plan),
    // so the assertion runs on the pre-checkpoint seams with the same join
    // shape the operators build; broadcast is disabled so the tiny test SF
    // plans the same shuffle join the operator would at scale
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    def selfJoinExchangeWidths(
        banded: org.apache.spark.sql.DataFrame,
        idCol: String,
        keyCol: String): Seq[Int] = {
      val joined = banded.as("a").join(banded.as("b"),
        col(s"a.$keyCol") === col(s"b.$keyCol")
          && col(s"a.$idCol") < col(s"b.$idCol"))
      val root = joined.queryExecution.executedPlan
      val exec = root match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains(keyCol) =>
          e.outputPartitioning match {
            case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
              h.expressions.length
          }
      }
    }
    val minhash = selfJoinExchangeWidths(
      Dedup.minHashBanded(IO.table(spark, Sf, "documents"), HashFamily.Xx, 32, 8), "doc_id", "band_key")
    assert(minhash.nonEmpty && minhash.forall(_ == 1),
      s"minhash band exchange must key on the single band_key: $minhash")
    val simhash = selfJoinExchangeWidths(
      Dedup.simHashBandedFrom(
        Dedup.simHashSignatures(IO.table(spark, Sf, "documents"), HashFamily.Xx)), "doc_id", "band_key")
    assert(simhash.nonEmpty && simhash.forall(_ == 1),
      s"simhash band exchange must key on the single band_key: $simhash")
    val lsh = selfJoinExchangeWidths(
      Similarity.bandedEmbeddings(spark, Sf), "vec_id", "bucket_key")
    assert(lsh.nonEmpty && lsh.forall(_ == 1),
      s"embedding-LSH exchange must key on the single bucket_key: $lsh")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("minhash LSH candidate join is an equi-join on band keys, never a cross join") {
    val p = plan(Dedup.minHashNearDupPairs(spark, Sf, HashFamily.Xx))
    assert(!p.contains("CartesianProduct"),
      s"LSH banding must produce an equi-join:\n$p")
  }

  test("IVF assignment is map-side: the corpus crosses at most the final top-k exchange") {
    val df = Similarity.ivfCosineTopK(spark, Sf)
    val root = df.queryExecution.executedPlan
    val exec = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // cell assignment is a per-row literal-codebook argmax: NO exchange may
    // partition on the corpus key (vec_id) — every shuffle in the plan is
    // query-side (qid: the probe window and the per-query top-k) or the
    // final presentation sort
    assert(exchanges.nonEmpty && !exchanges.exists(
        _.outputPartitioning.toString.contains("vec_id")),
      s"IVF must not shuffle the corpus for assignment: ${exchanges.map(_.outputPartitioning)}")
    assert(!exec.toString.contains("CartesianProduct"),
      "probe/candidate joins must broadcast, never cartesian")
  }

  test("LSH ANN join is bucket-equi, brute-force stays broadcast (no shuffle of corpus)") {
    val lsh = plan(Similarity.lshCosineTopK(spark, Sf))
    assert(!lsh.contains("CartesianProduct"), lsh)
    val bf = plan(Similarity.cosineTopK(spark, Sf))
    assert(bf.contains("BroadcastNestedLoopJoin") || bf.contains("BroadcastHashJoin"),
      s"query side must broadcast; corpus must not shuffle:\n$bf")
  }

  test("partitioned parquet layout prunes partitions at the scan") {
    import org.apache.spark.sql.functions.col
    val dir = graft.sources.IO.scratchDir("prune")
    spark.read.parquet(s"$Sf/events.parquet")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val p = plan(spark.read.parquet(dir).filter(col("event_type") === "click"))
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      s"partition filter must prune directories, not scan+filter:\n$p")
    assert(!p.contains("Filter ("), "no residual row filter expected")
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory catalog forgets tables across JVMs but their warehouse
    // dirs persist; clear them so saveAsTable doesn't hit LOCATION_ALREADY_EXISTS
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Seq("b_orders", "b_customer").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(f => { if (f.isDirectory) f.listFiles().foreach(_.delete()); f.delete() })
        d.delete()
      }
    }
    spark.read.parquet(s"$Sf/orders.parquet")
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    spark.read.parquet(s"$Sf/customer.parquet")
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    val joined = spark.table("b_orders")
      .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
    val p = plan(joined)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    if (p.contains("SortMergeJoin")) {
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed SMJ must not re-shuffle either side:\n$p")
    }
  }

  test("parquetRowCount reads exact counts from footers (no Spark job)") {
    import graft.sources.IO
    for (tbl <- Seq("documents", "embeddings", "lineitem")) {
      val path = s"$Sf/$tbl.parquet"
      assert(IO.parquetRowCount(spark, path)
        == spark.read.parquet(path).count(),
        s"footer count must equal actual count for $tbl")
    }
    // multi-file directory layout (the cluster shape)
    val dir = IO.scratchDir("rowcount_multi")
    spark.read.parquet(s"$Sf/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(dir)
    assert(IO.parquetRowCount(spark, dir)
      == spark.read.parquet(dir).count(),
      "footer count must sum across part files and skip _SUCCESS markers")
    // hive-partitioned layout: data files nest under partition dirs, so the
    // listing must recurse (a flat listing would silently return 0)
    val pdir = IO.scratchDir("rowcount_part")
    spark.read.parquet(s"$Sf/events.parquet")
      .write.mode("overwrite").partitionBy("event_type").parquet(pdir)
    assert(IO.parquetRowCount(spark, pdir)
      == spark.read.parquet(pdir).count(),
      "footer count must recurse into partition directories")
  }

  test("runtime bloom filter prunes the fact side of a selective fact-fact join") {
    // at 100 TB a selective dimension-side filter should inject a runtime
    // bloom filter into the probe-side scan so non-matching fact rows die
    // before the exchange; tiny test tables sit below the default size
    // thresholds, so they are lowered to prove the engine's plans pick the
    // feature up (it is on by default in the session)
    val conf = spark.conf
    assert(conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    val prevCreation = conf.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val prevApp = conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // the filter targets SHUFFLE joins (a broadcast-able creation side
    // already prunes via the hash relation), so force the at-scale shape
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$Sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"selective join must inject a runtime bloom filter:\n$p")
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", prevCreation)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", prevApp)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("media band join is shuffle-hash and the distinct is verify-first") {
    // two posture pins for the media near-dup core (r15's lessons,
    // carried into the r16 fingerprint banding): (a) the band key join
    // must not sort (SMJ sorted 12.8M thin rows at x10 for nothing —
    // the key equality needs no order); (b) the distinct must sit ABOVE
    // the L1 verify, i.e. group on the VERIFIED row (its hash
    // partitioning includes l1_fix) — a candidate-first distinct groups
    // on ids alone and was the 97 s x10 exchange
    val p = plan(operators.Multimodal.nearDupPairs(spark, Sf, HashFamily.Md5))
    assert(p.contains("ShuffledHashJoin"),
      s"band key join must be shuffle-hash:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge in the media pair core:\n${p.take(2000)}")
    val distinctExchanges = p.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("media_a"))
      .toSeq
    assert(distinctExchanges.exists(_.contains("l1_fix")),
      s"distinct must key on the verified row (verify-first), got:\n" +
        distinctExchanges.mkString("\n"))
  }

  test("media band-key exchanges are thin: the ffix array never rides them") {
    // the key rows carry exactly (ids, kind, n_bytes, sig) — 16 bytes of
    // verify signal per row. A regression that lets the 8-long ffix
    // array onto the 68-keys-per-media candidate exchange multiplies the
    // dominant shuffle ~5× at every scale; checked on the exchange
    // NODE's output attributes (the one-line tree rendering never lists
    // them, the exact-dedup audit convention below)
    val root = operators.Multimodal.nearDupPairs(spark, Sf, HashFamily.Md5)
      .queryExecution.executedPlan
    val exec = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val bandExchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("band_key") => e
    }
    assert(bandExchanges.nonEmpty, exec.toString)
    bandExchanges.foreach { e =>
      assert(!e.output.map(_.name).exists(_.startsWith("ffix")),
        s"band-key exchange must stay thin: ${e.output.map(_.name).mkString(",")}")
    }
  }

  test("curation capstone decodes each corpus table exactly once (decode-once)") {
    // the r16 shape paid the decode+fingerprint pass ~4x in one query
    // (each gate rebuilt its own face); the r17 shape threads ONE
    // checkpointed fingerprint face + ONE container-audit frame through
    // all three gates. Two instruments: (a) the decode-pipeline
    // construction counters — curationDecisions checkpoints both frames
    // eagerly, so constructions == executed decode passes; (b) the
    // composed plan must read only checkpointed faces, never a parquet
    // scan of documents.
    // DELTA assertion over counter snapshots, not reset-and-read: the
    // counters are global, and a reset would race with any concurrent
    // Multimodal call if suite-level parallelism were ever enabled
    // (today testForkedParallel is false and suites run sequentially —
    // the snapshot form keeps the test correct either way as long as
    // no OTHER suite runs Multimodal concurrently with these 3 lines).
    // r20: the two passes (raw fingerprint + container audit) FUSED
    // into one audited-face pass — the capstone now constructs exactly
    // one decode pipeline of any kind
    val raw0 = operators.Multimodal.rawDecodeBuilds.get
    val cont0 = operators.Multimodal.containerDecodeBuilds.get
    val fused0 = operators.Multimodal.fusedDecodeBuilds.get
    val df = operators.Multimodal.curationDecisions(spark, Sf)
    assert(operators.Multimodal.fusedDecodeBuilds.get - fused0 == 1,
      s"fused decode passes: ${operators.Multimodal.fusedDecodeBuilds.get - fused0} (want 1)")
    assert(operators.Multimodal.rawDecodeBuilds.get - raw0 == 0,
      s"raw decode passes: ${operators.Multimodal.rawDecodeBuilds.get - raw0} (want 0)")
    assert(operators.Multimodal.containerDecodeBuilds.get - cont0 == 0,
      s"container passes: ${operators.Multimodal.containerDecodeBuilds.get - cont0} (want 0)")
    val p = plan(df)
    assert(!p.contains("FileScan"),
      s"the composed curation plan must read only checkpointed faces:\n${p.take(2000)}")
    assert(df.count() > 0)
  }

  test("stored-face serve keeps the vectorized parquet scan (no RDD round-trip)") {
    // r18: the stamped-read seam replaced the createDataFrame(rdd,
    // schema) nullability fix — the serve plan must read the artifact
    // through a columnar FileScan (an ExistingRDD leaf would mean the
    // Row-deserialization pass is back), with the non-null stamp
    // visible as nullable=false output attributes
    operators.Multimodal.servedAuditedFace(spark, Sf)
    val face = operators.Multimodal.servedMediaFace(spark, Sf)
    assert(!face.schema("sig").nullable && !face.schema("media_id").nullable,
      face.schema.treeString)
    val p = plan(operators.Multimodal.decontamReportStored(spark, Sf))
    assert(p.contains("Scan parquet"), p.take(1500))
    assert(!p.contains("ExistingRDD"),
      "stored serve must not fall back to an RDD round-trip:\n" + p.take(1500))
  }

  test("exact dedup shuffles on the dedup key only (no global sort)") {
    val p = plan(Dedup.exactByText(spark, Sf))
    // rn = 1 is rewritten to the two-phase top-k operator; the only
    // exchange below it is the hash clustering on the key. The final
    // orderBy is the presentation sort.
    val topkIdx = p.indexOf("TopKFinal")
    val firstRange = p.indexOf("rangepartitioning")
    assert(topkIdx >= 0, p)
    assert(firstRange == -1 || firstRange < topkIdx,
      "no range shuffle below the top-k (only the final presentation sort)")
  }

  test("exact dedup shuffles hashes, not document text") {
    // the window key is the (xxhash64, md5) fingerprint, so the exchange
    // must cluster on the fingerprint columns and the full text column must
    // be projected away before the shuffle — checked on the exchange NODE's
    // output attributes (the tree's one-line rendering never lists them, so
    // a string match on the plan text would be vacuous)
    val root = Dedup.exactByText(spark, Sf).queryExecution.executedPlan
    // AdaptiveSparkPlanExec is a leaf wrapper — collect() would not descend
    val exec = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, exec.toString)
    val hashEx = exchanges.filter(_.outputPartitioning.toString.contains("fp_xx"))
    assert(hashEx.nonEmpty,
      s"shuffle must key on the fingerprint: ${exchanges.map(_.outputPartitioning)}")
    hashEx.foreach { e =>
      assert(e.outputPartitioning.toString.contains("fp_md5"))
      assert(!e.output.exists(_.name == "text"),
        s"text must be pruned before the exchange: ${e.output.map(_.name)}")
    }
  }

  test("TopK partial phase: shuffle reduction survives key-budget overflow (k=1, 200k keys)") {
    // TopKPartialExec tracks at most MaxBufferedRows/k keys; rows of
    // further keys stream through UN-pruned. This drives a single task
    // holding 200k distinct keys (budget at k=1 is 131072) and measures
    // real shuffle-write records: overflow must degrade shuffle volume
    // gracefully (between keys and input rows), never correctness.
    import org.apache.spark.sql.functions.{col, row_number, rank}
    import org.apache.spark.sql.expressions.Window
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        records.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def settled(): Long = {
      var prev = -1L
      val deadline = System.nanoTime() + 15_000_000_000L
      while (records.get() != prev && System.nanoTime() < deadline) {
        prev = records.get(); Thread.sleep(300)
      }
      records.get()
    }
    // 800k rows, 400k keys, 2 rows per key, TWO range partitions (a single
    // partition would satisfy ClusteredDistribution trivially and elide the
    // exchange; repartition() would pollute the record count with its own
    // shuffle). Each task sees 200k contiguous keys > the 131072 budget, so
    // both overflow.
    val df = spark.range(0L, 800000L, 1L, 2)
      .select(col("id"),
        (col("id") / 2).cast("long").as("key"), (col("id") % 97L).as("v"))
    val w = Window.partitionBy("key").orderBy("v", "id")
    spark.sparkContext.addSparkListener(listener)
    try {
      records.set(0)
      val topk = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      assert(topk.queryExecution.executedPlan.toString.contains("TopKPartial"))
      assert(topk.count() == 400000L, "one survivor per key through overflow")
      val partialRecords = settled()
      records.set(0)
      // control: the same window WITHOUT the rank filter — the rewrite only
      // fires on Filter(rank<=k), so this is the stock plan shuffling every
      // input row to the window sort
      val stock = df.withColumn("rn", row_number().over(w))
      assert(!stock.queryExecution.executedPlan.toString.contains("TopKPartial"))
      // aggregate over rn so the window (and its exchange) cannot be pruned
      // the way a bare count() lets it be
      assert(stock.agg(org.apache.spark.sql.functions.max("rn"))
        .collect()(0).getInt(0) == 2)
      val stockRecords = settled()
      info(s"shuffled records: partial-phase=$partialRecords stock=$stockRecords")
      assert(stockRecords >= 800000L,
        s"stock window must shuffle every row, saw $stockRecords")
      // no-overflow pruning would shuffle exactly 1 row/key/task (400k);
      // the excess proves rows streamed through un-pruned past the budget
      assert(partialRecords > 400000L,
        s"overflow must have streamed un-pruned rows (budget=131072 keys/task), saw $partialRecords")
      assert(partialRecords < stockRecords * 3 / 4,
        s"shuffle reduction must survive overflow: $partialRecords vs $stockRecords")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("incremental near-dup broadcasts the batch: corpus side never shuffles pre-join") {
    val df = Dedup.incrementalNearDupMd5(spark, Sf)
    val root = df.queryExecution.executedPlan
    val exec = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val bhj = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, s"banded batch must broadcast-join the corpus index:\n$exec")
    // candidate generation must stream the corpus: under the broadcast
    // join's streamed (non-build) side there is no shuffle — the only
    // exchanges in the plan sit ABOVE it, on the post-Hamming-filter
    // candidate rows (tiny by construction)
    val streamed = bhj.map(j => j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
    })
    streamed.foreach { side =>
      // r20: IO.widened's round-robin may widen the narrow testdata scan
      // below the kernel — a KEYED shuffle of the corpus is what this
      // pin forbids (see the signature-stage pin)
      val shuffles = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !e.outputPartitioning.toString.contains("RoundRobinPartitioning") => e
      }
      assert(shuffles.isEmpty,
        s"corpus (streamed) side must not shuffle by key for candidate generation:\n$side")
    }
  }

  test("incremental components consume the stored index: batch broadcasts, no corpus re-sign") {
    // prime the artifact so the audited plan is the steady-state one
    operators.Cluster.corpusClusterStateStored(spark, Sf)
    val df = operators.Cluster.incrementalComponentsMd5(spark, Sf)
    val plan = df.queryExecution.executedPlan.toString
    // the corpus side must arrive from the persisted parquet state
    // (index scan), not from re-signing text: the only simhash64 calls
    // in the plan belong to the batch carve
    assert(plan.contains("graft_ccstate_"),
      s"corpus banding must come from the stored artifact:\n${plan.take(2000)}")
    val simhashCalls = "simhash64".r.findAllIn(plan).length
    assert(simhashCalls <= 2, // batch banding (+ possible reuse render)
      s"corpus must never re-sign: $simhashCalls simhash64 sites in plan")
    assert(!plan.contains("CartesianProduct"), "no all-pairs anywhere")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "batch candidates must broadcast against the index")
  }

  test("incremental exact anti-join over a bucketed fingerprint index: corpus side exchange-free") {
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS b_corpus_fp")
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val d = new java.io.File(wh, "b_corpus_fp")
    if (d.exists()) {
      d.listFiles().foreach(f => { if (f.isDirectory) f.listFiles().foreach(_.delete()); f.delete() })
      d.delete()
    }
    // the production shape: the corpus fingerprint index is maintained
    // bucketed on fp across batches, so per-batch dedup never reshuffles it
    spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
      .select(md5(col("text").cast("binary")).as("fp"))
      .write.bucketBy(4, "fp").sortBy("fp").saveAsTable("b_corpus_fp")
    val batch = spark.read.parquet(s"$Sf/documents.parquet")
      .filter(col("doc_id") % 10 === 0)
      .withColumn("fp", md5(col("text").cast("binary")))
    val anti = batch.hint("merge")
      .join(spark.table("b_corpus_fp"), Seq("fp"), "left_anti")
    val p = plan(anti)
    assert(p.contains("SortMergeJoin"), s"bucketed anti join should sort-merge:\n$p")
    // exactly one exchange: the batch reshuffling into the corpus
    // bucketing; the bucketed index itself must not move
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"only the batch side may exchange (saw $exchanges):\n$p")
  }

  test("per-source cap rewrites to the two-phase TopK operator") {
    val p = plan(graft.operators.CorpusPrep.capPerSource(spark, Sf, cap = 10))
    assert(p.contains("TopKFinal") && p.contains("TopKPartial"),
      s"rn<=cap over (source) must plan as two-phase top-k:\n$p")
  }

  test("row_number<=k window rewrites to the two-phase TopK operator") {
    val p = plan(Relational.w1RowNumberTopK(spark, Sf))
    assert(p.contains("TopKFinal") && p.contains("TopKPartial"),
      s"Filter(rn<=3, Window(row_number)) must plan as two-phase top-k:\n$p")
    // partial phase must sit BELOW the exchange (map-side pruning)
    val partialIdx = p.indexOf("TopKPartial")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"TopKPartial must be under the shuffle:\n$p")
  }

  /** Shuffle exchanges of a frame's (adaptive-unwrapped) executed plan. */
  private def shuffles(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] = {
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
  }

  /** [[shuffles]] minus the widen-if-narrow round-robin exchanges the
    * r20 IO.widened seam inserts when the testdata scan is narrower than
    * the session (a no-op at production scan widths). The text-never-
    * exchanges pins guard KEYED re-shuffles of text — the 100 TB hazard;
    * the deliberate one-time round-robin widening below the hash kernels
    * is exempt.
    */
  private def keyedShuffles(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
    shuffles(df).filterNot(
      _.outputPartitioning.toString.contains("RoundRobinPartitioning"))

  test("pagerank join loop: edges keep their pinned partitioning, only rank rows shuffle") {
    val df = graft.operators.LinkGraph.joinLoopRoundSeam(spark, Sf)
    val p = plan(df)
    // node-level collects (not string matching): the cached edge frame's
    // BUILD plan legitimately used a broadcast pre-loop and its string
    // renders inside InMemoryRelation, but collect() does not descend
    // into cached plans — so these assert on the per-round plan only
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case q => q
    }
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.size == 1,
      s"past-ceiling loop must shuffle-hash join the rank frame:\n$p")
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.isEmpty,
      s"no broadcast join in the past-ceiling round:\n$p")
    // exactly two exchanges: the |nodes|-row rank frame moving to the
    // edges' pinned src-partitioning, and the dst-keyed contribution sum
    // (map-side combined). The edge side re-uses the checkpoint's
    // partitioning — a third exchange would mean edges re-shuffled.
    val ex = shuffles(df)
    assert(ex.size == 2,
      s"exactly two exchanges (rank side + contribution sum), saw ${ex.size}:\n$p")
    assert(!ex.exists(_.output.exists(_.name == "share")),
      s"the edge-volume share column must never cross an exchange: " +
        s"${ex.map(_.output.map(_.name))}")
  }

  test("hits join loop: edges keep their pinned layout, only score rows shuffle") {
    val df = graft.operators.LinkGraph.hitsJoinLoopRoundSeam(spark, Sf)
    val p = plan(df)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case q => q
    }
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.size == 1,
      s"past-ceiling half-step must shuffle-hash join the score frame:\n$p")
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.isEmpty,
      s"no broadcast join in the past-ceiling half-step:\n$p")
    // two exchanges only: the |nodes|-row score frame moving to the
    // edges' pinned src-partitioning, and the node-keyed fixed-point sum
    // (map-side combined); the edge side reuses the cached layout
    val ex = shuffles(df)
    assert(ex.size == 2,
      s"exactly two exchanges (score side + contribution sum), saw ${ex.size}:\n$p")
    assert(!ex.exists(_.output.exists(_.name == "w")),
      s"the edge-volume weight column must never cross an exchange: " +
        s"${ex.map(_.output.map(_.name))}")
  }

  test("label prop join loop: edges keep their pinned layout, only label rows shuffle") {
    val df = graft.operators.LinkGraph.labelPropJoinLoopRoundSeam(spark, Sf)
    val p = plan(df)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case q => q
    }
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.size == 1,
      s"past-ceiling vote round must shuffle-hash join the label frame:\n$p")
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.isEmpty,
      s"no broadcast join in the past-ceiling vote round:\n$p")
    // two exchanges only: the |nodes|-row label frame moving to the
    // symmetrized edges' pinned v-partitioning, and the (u,label)-keyed
    // vote sum (map-side combined); the edge side reuses the cached layout
    val ex = shuffles(df)
    assert(ex.size == 2,
      s"exactly two exchanges (label side + vote sum), saw ${ex.size}:\n$p")
    assert(!ex.exists(_.output.exists(_.name == "w")),
      s"the edge-volume weight column must never cross an exchange: " +
        s"${ex.map(_.output.map(_.name))}")
  }

  test("pca projection: wholly map-side — the only exchange is the presentation sort") {
    val df = graft.operators.Pca.project(spark, Sf)
    val ex = shuffles(df)
    assert(ex.size <= 1,
      s"projection must not shuffle beyond the output sort, saw ${ex.size}:\n${plan(df)}")
  }

  test("vocabulary: top-N is a TakeOrdered, never a global sort") {
    val p = plan(graft.operators.Tokenize.vocabulary(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N vocab must plan as TakeOrdered:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no range shuffle anywhere in the vocab plan:\n$p")
  }

  test("vector centroids shuffle one fixed-width buffer per group, never embeddings") {
    val hashEx = shuffles(VectorCentroidAggregator.perLabelExploded(spark, Sf))
      .filter(_.outputPartitioning.toString.contains("hashpartitioning"))
    assert(hashEx.size == 1,
      s"exactly one aggregation exchange expected, saw ${hashEx.size}")
    assert(!hashEx.head.output.exists(_.name.contains("embedding")),
      s"the embedding column must be collapsed into the partial buffer " +
        s"before the exchange: ${hashEx.head.output.map(_.name)}")
  }

  test("fuzzy Levenshtein dedup: equi-join blocking, text never in an exchange") {
    val df = Dedup.fuzzyLevPairs(spark, Sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"blocked candidate join must never fall back to all-pairs:\n$p")
    keyedShuffles(df).foreach { e =>
      assert(!e.output.exists(a => a.name == "text"
          || a.name == "text_a" || a.name == "text_b"),
        s"document text must not shuffle (candidates are id pairs; text " +
          s"joins back broadcast-side): ${e.output.map(_.name)}")
    }
  }

  test("CDC diff: one co-partitioned full-outer join, never nested-loop") {
    val p = plan(graft.operators.Snapshot.ordersSnapshotDiff(spark, Sf))
    assert(p.contains("FullOuter"), s"expected a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"keyed diff must stay an equi-join:\n$p")
  }

  test("latest-wins upsert gets the TopKPerKey partial-pruning rewrite") {
    // rn=1-per-key over the unioned snapshots: the rewrite prunes each
    // map partition to one candidate row per key BEFORE the exchange, so
    // a mostly-unchanged key space shuffles ~|keys| rows, not |versions|
    val p = plan(graft.operators.Snapshot.eventsUpsertLatest(spark, Sf))
    assert(p.contains("TopKPartial"),
      s"upsert should plan through the two-phase top-k operator:\n$p")
  }

  test("semantic dedup: map-side cell assignment, cid-equi pair join only") {
    val p = plan(Similarity.semDedupDecisions(spark, Sf))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"within-cell pair generation must stay an equi-join on cid:\n$p")
  }

  test("random projection adds NO hash exchange (map-side matmul)") {
    val p = plan(Similarity.randomProjection(spark, Sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"projection is per-row; only the presentation sort may exchange:\n$p")
  }

  test("PQ encode is map-side: codegen'd per-slice argmax, no hash exchange") {
    val p = plan(Similarity.pqEncode(spark, Sf))
    assert(!p.contains("Exchange hashpartitioning"),
      s"encoding must not shuffle the corpus:\n$p")
  }

  test("substring spans: hash equi-join only, text never in an exchange") {
    val df = Dedup.substringSpanPairs(spark, Sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"window-hash join must stay an equi-join:\n$p")
    keyedShuffles(df).foreach { e =>
      assert(!e.output.exists(a => a.name == "text" || a.name == "toks"),
        s"only (doc_id, window-hash) rows may shuffle: ${e.output.map(_.name)}")
    }
  }

  test("winnow pairs: equi-join on selected fingerprints, text never in an exchange") {
    val df = Dedup.winnowPairs(spark, Sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"fingerprint join must stay an equi-join:\n$p")
    keyedShuffles(df).foreach { e =>
      assert(!e.output.exists(a => a.name == "text" || a.name == "toks"
          || a.name == "gh"),
        s"only (doc_id, fp) rows may shuffle: ${e.output.map(_.name)}")
    }
  }

  test("semantic prune: map-side assignment, only (vec_id,cid,sim) triples exchange") {
    val df = Similarity.semanticPruneDecisions(spark, Sf)
    keyedShuffles(df).foreach { e =>
      assert(!e.output.exists(a => a.name == "v" || a.name == "embedding"
          || a.name == "sims"),
        s"embeddings must be pruned before the per-cell ranking exchange: ${e.output.map(_.name)}")
    }
  }

  test("incremental winnow: batch broadcasts against the index, text never exchanges") {
    val df = Dedup.incrementalWinnowStored(spark, Sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"fp candidates must stay an equi-join:\n$p")
    // steady state reads the persisted DF-CAPPED index — the corpus-wide
    // df aggregation must not appear in the per-batch plan
    assert(p.contains("graft_wnkeep_"),
      s"serve path must consume the capped-index artifact:\n${p.take(2000)}")
    keyedShuffles(df).foreach { e =>
      assert(!e.output.exists(a => a.name == "text" || a.name == "toks"
          || a.name == "gh"),
        s"only verdict/id rows may shuffle: ${e.output.map(_.name)}")
    }
  }

  test("shard manifest: text pruned before the bucket window exchange") {
    val df = graft.operators.CorpusPrep.shardManifest(spark, Sf)
    shuffles(df).foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"the manifest exchanges hashes and counts, never documents: ${e.output.map(_.name)}")
    }
  }

  test("incremental semantic near-dup: batch broadcasts, vectors never exchange") {
    val df = Similarity.incrementalSemanticNearDup(spark, Sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"cell-bounded candidates must stay a cid equi-join:\n$p")
    keyedShuffles(df).foreach { e =>
      assert(!e.output.exists(a => a.name == "v" || a.name == "bv"
          || a.name == "embedding" || a.name == "sims"),
        s"only verdict triples may shuffle: ${e.output.map(_.name)}")
    }
  }

  test("curation pipeline: dedup window shuffles fingerprints with text pruned") {
    val hashEx = shuffles(graft.operators.Curate.decisions(spark, Sf))
      .filter(_.outputPartitioning.toString.contains("fp_xx"))
    assert(hashEx.nonEmpty, "expected the fingerprint-keyed dedup exchange")
    hashEx.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text") && !names.contains("toks"),
        s"text/toks must be pruned before the dedup exchange (quality is " +
          s"computed below it): $names")
      assert(names.contains("quality_score"),
        s"quality_score should already be materialized below the exchange: $names")
    }
  }

  test("no-split packing: one shard exchange, no global sort before the fold") {
    val df = graft.operators.CorpusPrep.packSequencesNoSplit(spark, Sf, numShards = 32)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    val shardExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(shard"))
    assert(shardExchanges == 1,
      s"the fold needs exactly the one shard shuffle, got $shardExchanges:\n$p")
    // the per-shard sort happens inside the fold's buffer, not as a
    // cluster-wide Sort below the exchange; only the presentation
    // orderBy may range-partition above it
    assert(!p.contains("CartesianProduct"), p)
  }

  test("triangles: equi-joins only, no cartesian, text-free narrow rows") {
    val df = graft.operators.LinkGraph.triangleCounts(spark, Sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"wedge + closing joins must stay equi-joins:\n$p")
  }

  test("heavy hitters: candidates filter map-side via a broadcast join") {
    val df = graft.operators.Relational.sketchHeavyHitters(spark, Sf)
    val p = plan(df)
    // the candidate set joins map-side (broadcast): the only shuffle is
    // the candidate-bounded count aggregation — a full-vocabulary
    // shuffle would mean the MG pass bought nothing
    assert(p.contains("BroadcastHashJoin"),
      s"candidate filter must be a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("scd2 history: both window passes share ONE key exchange") {
    val df = graft.operators.Snapshot.eventsScd2History(spark, Sf)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    // the lag-flag window and the lead-close window both partition by
    // user_id with the same ordering, and the run-start filter preserves
    // both — a second hash exchange (or a second sort) would mean the
    // plan re-shuffled between the passes
    val keyExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(keyExchanges == 1,
      s"scd2 must reuse one user_id exchange for both windows, got $keyExchanges:\n$p")
    val sorts = p.linesIterator.count(l => l.trim.startsWith("+- Sort ")
      || l.trim.startsWith("Sort "))
    // one window sort + (at most) the presentation range sort
    assert(sorts <= 2, s"unexpected extra sorts in scd2 plan:\n$p")
  }

  test("curate-then-pack composition stays ONE pipeline") {
    val df = graft.operators.Curate.curateThenPack(spark, Sf, gramWidth = 4)
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString
    // exactly two scans of the documents table: the curation-signal scan
    // and the contamination report's corpus side — the shuffle and pack
    // stages must NOT re-read it (the composition is one lineage)
    val docScans = p.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("documents.parquet"))
    assert(docScans == 2, s"expected 2 documents scans, got $docScans:\n$p")
    // decontamination is a broadcast anti-join (map-side; the corpus
    // never shuffles for it)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"contaminated-id removal must be a broadcast anti-join:\n$p")
    // shuffle position and pack offset share ONE shard exchange: the
    // second window sorts within the partitions the first one shuffled
    val shardExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(shard"))
    assert(shardExchanges == 1,
      s"pos and offset windows must share one shard exchange, got $shardExchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("gram explode evaluates the token-hash transform exactly once per row") {
    // Guard for the InferFiltersFromGenerate exclusion (GraftSession):
    // that rule adds a size(grams) > 0 pre-filter under the explode, and
    // predicate pushdown then substitutes the `th` alias into every
    // element_at use site — the optimized plan grows 1 + w copies of the
    // per-token hash transform and the scan recomputes all token hashes
    // per window element (measured 8x on this query at sf0.1). The
    // contract: the report's two branches (corpus side, eval side) plan
    // with exactly ONE token-hash transform each — w+1 copies per branch
    // is the regression signature.
    val df = graft.operators.Decontaminate.contaminationReport(spark, Sf, gramWidth = 4)
    val opt = df.queryExecution.optimizedPlan.toString
    val copies = "transform\\(split\\(text".r.findAllIn(opt).length
    assert(copies == 2,
      s"expected exactly 2 token-hash transforms (one per branch), got $copies:\n${opt.take(4000)}")
  }

  test("preference pairs: one per-user exchange serves both window passes") {
    val df = graft.operators.Events.preferencePairs(spark, Sf)
    // both extreme-rank windows partition by user_id, so Catalyst must
    // plan ONE hash exchange feeding two in-partition sorts -- a second
    // user-keyed exchange would mean the docstring's claim regressed.
    // (The checkpointed ranked frame hides everything upstream of the
    // join, so count on the ranked seam's own plan.)
    val userShuffles = shuffles(df).count(_.outputPartitioning.toString
      .contains("user_id"))
    assert(userShuffles <= 1,
      s"both rank windows must share one user exchange:\n${plan(df)}")
  }

  test("retention: cohort sizes join back by BROADCAST, never a shuffle") {
    val df = graft.operators.Events.retention(spark, Sf)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case q => q
    }
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.size == 1,
      s"the |days|-row sizes frame must broadcast:\n${plan(df)}")
    assert(exec.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "no sort-merge in an output-sized join")
  }

  test("dq report: fused one-pass-per-table, dims broadcast, facts stream") {
    val df = graft.operators.DataQuality.dqReport(spark, Sf)
    df.collect() // finalize AQE
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case q => q
    }
    val s = exec.toString
    // the FK-orphan flags ride the row-grain scans as broadcast LEFT
    // OUTER joins whose BUILD side is the dimension key set — fact rows
    // stream, dimensions broadcast (AQE nests the joins inside query
    // stages, so audit the plan string like the bt-ratings audit)
    val outer = raw"BroadcastHashJoin .*LeftOuter, BuildRight".r
      .findAllIn(s).size
    assert(outer == 2, s"both FK checks must be broadcast left-outer " +
      s"joins with the dimension as build side:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"no FK check may sort-merge the fact table:\n$s")
    // the FUSION contract: nine checks cost six table scans — orders at
    // row and key grain, every other table exactly once (lineitem and
    // documents are the 100 TB-scale scans that must not repeat)
    def scans(table: String): Int =
      raw"FileScan parquet .*$table\.parquet".r.findAllIn(s).size
    assert(scans("lineitem") == 1, s"lineitem must scan once:\n$s")
    assert(scans("documents") == 1, s"documents must scan once:\n$s")
    assert(scans("events") == 1, s"events must scan once:\n$s")
    // key-grain passes materialize via localCheckpoint (shared by the
    // PK check and the FK probe side), so orders/customer parquet scans
    // appear once each in the final plan
    assert(scans("orders") <= 1 && scans("customer") <= 1,
      s"key-grain frames must be shared, not re-scanned:\n$s")
  }

  test("prefix-join verify: broadcast below the ceiling, shuffle-hash past it") {
    def exec(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case q => q
      }
    // default ceiling: both set lookups broadcast — the candidate frame
    // streams through one map-side stage, arrays never cross an exchange
    val below = graft.operators.Dedup.jaccardVerifiedSeam(spark, Sf)
    val bj = exec(below).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bj.size >= 2,
      s"verify must broadcast both set sides below the ceiling:\n${plan(below)}")
    // ceiling forced to 0: the in-plan fallback must pick SHUFFLE-HASH
    // for the two array-carrying set lookups — never sort-merge, which
    // would sort candidate rows twice for nothing
    val past = graft.operators.Dedup.jaccardVerifiedSeam(spark, Sf,
      verifyBroadcastCeiling = 0L)
    val pe = exec(past)
    val sh = pe.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(sh.size == 2,
      s"past-ceiling verify must shuffle-hash both set lookups:\n${plan(past)}")
    assert(pe.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty,
      s"sort-merge must never serve the verify joins:\n${plan(past)}")
    // strategy, not values: both sides of the ceiling emit the same pairs
    val a = below.select("doc_a", "doc_b", "jaccard")
    val b = past.select("doc_a", "doc_b", "jaccard")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "ceiling changes WHERE rows meet, never which rows qualify")
  }

  test("scc round step: label frames broadcast, edges never shuffle") {
    val df = operators.LinkGraph.sccStepSeam(spark, Sf)
    val root = df.queryExecution.executedPlan
    val exec0 = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val bhj = exec0.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 6,
      s"below the node ceiling every label-side join must broadcast " +
        s"(2 contribution relaxations + contrib merge + 4 jumps):\n$exec0")
    assert(exec0.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }.isEmpty,
      s"no shuffle join may appear in a below-ceiling round:\n$exec0")
    // the round's only exchanges serve the per-node min aggregation of
    // the unioned contributions — edge rows are never exchange input
    // (their joins are all broadcast probes)
    val shuffles = exec0.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2,
      s"a round pays at most the contribution aggregation exchanges:\n$exec0")
  }

  test("scc backbone: the top-2 cut is the two-phase TopKPerKey prune") {
    val (edges, _) = operators.LinkGraph.transitionGraphStored(spark, Sf)
    val p = plan(operators.LinkGraph.backboneOf(edges))
    assert(p.contains("TopKPartial"),
      s"the rn<=k cut must prune before the exchange:\n$p")
  }

  test("ab test: one per-user exchange, then a 1-row aggregate — no join") {
    val df = operators.Events.abTestReport(spark, Sf)
    df.collect()
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case q => q
    }
    val s = exec.toString
    assert(!s.contains("Join"), s"the readout must never join:\n$s")
    // exchanges: the user_id hash aggregation and the SinglePartition
    // collapse of the sufficient statistics — nothing else
    val n = "Exchange".r.findAllIn(s).size
    assert(n <= 2, s"one wide exchange + the 1-row collapse, got $n:\n$s")
    // partial aggregation runs map-side before the user exchange
    assert(s.contains("partial_"), s"per-user collapse must map-side combine:\n$s")
  }

  test("auc + pr table: global cumulatives pay no single-partition window") {
    for (df <- Seq(operators.QualityModel.lrAuc(spark, Sf),
        operators.QualityModel.lrPrTable(spark, Sf))) {
      df.collect()
      val exec = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case q => q
      }
      val unpart = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(unpart.isEmpty,
        s"the rank must be the two-phase rangeCumsum, not a global window:\n$exec")
    }
  }

  test("phrase search: one posting build serves every phrase slice") {
    val df = operators.Retrieval.phraseSearch(spark, Sf)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    // the posexplode posting build is checkpointed ONCE: the executed
    // plan reads the materialized RDD per slice and contains no
    // Generate (re-tokenization) at all
    assert(!s.contains("Generate"),
      s"posting list must come from the one checkpointed build:\n$s")
    // adjacency joins never sort-merge (doc-keyed slices are small
    // after the term filters; broadcast or shuffle-hash are both fine)
    assert(!s.contains("SortMergeJoin"),
      s"adjacency must not pay posting sorts:\n$s")
  }
}
