package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{HashFamily, Standardizers}
import graft.sources.IO

/** Property-based tests (SURVEY.md §5.3#4): parsers never throw under
  * non-ANSI semantics, IO round-trips are lossless, and the custom TopK
  * operator agrees with an in-Scala reference on random data.
  *
  * (Raw ScalaCheck generators with fixed seeds — the scalatest/scalacheck
  * bridge artifact is not on the offline resolver, and deterministic seeds
  * make failures reproducible anyway.)
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int = 5): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val dirtyString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.oneOf("", "NaN", "nan", "Varies with device", "1.9M", "201k", "512K",
      "$4.99", "$0", "Everyone", "February 11, 2018", "10,000+", "4.1", "-3"),
    Gen.listOfN(8, Gen.asciiPrintableChar).map(_.mkString))

  test("apply ∘ diff is the identity on random keyed snapshots") {
    import graft.operators.Snapshot
    // random (key, payload) tables with overlapping key ranges, null
    // payloads, and disjoint stripes — diff then apply must always
    // reconstruct the target as a multiset
    val rowGen: Gen[(Long, Option[String], Double)] = for {
      k <- Gen.chooseNum(0L, 30L)
      s <- Gen.option(Gen.oneOf("a", "b", "c", ""))
      p <- Gen.oneOf(0.0, 1.5, -2.25, 99.0)
    } yield (k, s, p)
    val tableGen = Gen.listOfN(25, rowGen)
      // one row per key: keyed snapshots are unique-keyed by contract
      .map(_.groupBy(_._1).map(_._2.head).toSeq)
    samples(Gen.zip(tableGen, tableGen), n = 4).foreach { case (pa, pb) =>
      val prev = pa.map { case (k, s, p) => (k, s.orNull, p) }.toDF("k", "s", "p")
      val next = pb.map { case (k, s, p) => (k, s.orNull, p) }.toDF("k", "s", "p")
      val rebuilt = Snapshot.applyDiff(prev,
        Snapshot.snapshotDiff(prev, next, "k", Seq("s", "p")),
        "k", Seq("s", "p"))
      assert(rebuilt.exceptAll(next).isEmpty && next.exceptAll(rebuilt).isEmpty,
        s"apply∘diff drifted from the target snapshot")
    }
  }

  test("standardizers never throw on arbitrary dirty strings (non-ANSI contract)") {
    samples(Gen.listOfN(40, dirtyString)).foreach { values =>
      val df = values.toDF("Size")
        .withColumn("Price", col("Size"))
        .withColumn("Rating", col("Size"))
        .withColumn("LU", col("Size"))
      // collect forces evaluation; any throw fails the property
      val n = df.select(
        Standardizers.sizeMb(col("Size")),
        Standardizers.priceToEur(col("Price")),
        Standardizers.ratingOrNull(col("Rating")),
        Standardizers.parseUpdateDate(col("LU")),
        Standardizers.splitGenres(col("Size"))).collect().length
      assert(n == values.length)
    }
  }

  test("gzip parquet round-trip is lossless for mixed-type rows") {
    val gen = Gen.listOfN(30, Gen.zip(
      Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.alphaNumStr,
      Gen.chooseNum(-1e12, 1e12)))
    samples(gen).foreach { rows =>
      val df = rows.toDF("a", "b", "c")
      val back = IO.parquetGzipRoundTrip(spark, df, IO.scratchDir("prop_pq"))
        .as[(Long, String, Double)].collect().toList.sorted
      assert(back == rows.sorted)
    }
  }

  test("§-CSV round-trip preserves string cells without the delimiter") {
    // cells containing the delimiter get quoted by the writer — also
    // lossless, but this property pins the common path
    val cell = Gen.listOfN(6, Gen.alphaNumChar).map(_.mkString)
    samples(Gen.listOfN(20, Gen.zip(cell, cell))).foreach { rows =>
      val df = rows.toDF("x", "y")
      val back = IO.csvRoundTrip(spark, df, IO.scratchDir("prop_csv"))
        .as[(String, String)].collect().toList.sorted
      assert(back == rows.sorted)
    }
  }

  test("fsum (fixed-point long sum) is bitwise-identical to dsum (decimal sum) on random fixed-dp data") {
    // the q1/star-join money sums rely on this equivalence: exact unit sums
    // + one final division must reproduce the decimal accumulator's double
    // (and with it the DuckDB oracle hash) on any 2dp/4dp-rounded input
    import graft.operators.Relational
    for (scale <- Seq(2, 4)) {
      val unit = math.pow(10, scale)
      val centsGen = Gen.listOfN(500,
        Gen.zip(Gen.chooseNum(0, 6), Gen.chooseNum(-2000000000L, 2000000000L)))
      samples(centsGen, n = 6).foreach { pairs =>
        val df = pairs.map { case (k, cents) => (k, cents / unit) }.toDF("k", "v")
        val both = df.groupBy("k")
          .agg(Relational.dsum(col("v"), scale).as("d"),
            Relational.fsum(col("v"), scale).as("f"))
          .collect()
        both.foreach { r =>
          assert(java.lang.Double.doubleToLongBits(r.getDouble(1))
            == java.lang.Double.doubleToLongBits(r.getDouble(2)),
            s"scale=$scale key=${r.get(0)}: dsum=${r.getDouble(1)} fsum=${r.getDouble(2)}")
        }
      }
    }
  }

  test("BPE ranked-prefix batching equals sequential merges on random corpora") {
    // the exactness claim behind Tokenize.bpeTrainMergesBatched, checked
    // on the pure algorithm across many random corpora (the Spark specs
    // pin one fixture; this pins the RULE): a conflict-free ranked
    // prefix of merges, TIE-TRUNCATED at the first unaccepted candidate's
    // count, applied together equals applying them one at a time with a
    // recount in between. The truncation is load-bearing: the prefix rule
    // alone fails ~5% of random corpora (a created pair ties an accepted
    // count and wins the lexicographic tie-break), measured at 425/9000
    // runs on this generator's distribution.
    type Vocab = Map[Vector[String], Long]
    def pairCounts(v: Vocab): Map[(String, String), Long] = {
      val m = scala.collection.mutable.Map.empty[(String, String), Long]
      v.foreach { case (syms, c) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          m((p(0), p(1))) = m.getOrElse((p(0), p(1)), 0L) + c
        }
      }
      m.toMap
    }
    def fuse(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    def applyMerge(v: Vocab, l: String, r: String): Vocab =
      v.toSeq.map { case (syms, c) => (fuse(syms, l, r), c) }
        .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
    def ranked(v: Vocab) =
      pairCounts(v).toSeq.sortBy { case ((l, r), c) => (-c, l, r) }
    def sequential(v0: Vocab, n: Int): Seq[(String, String, Long)] = {
      var v = v0
      val out = Seq.newBuilder[(String, String, Long)]
      for (_ <- 1 to n) ranked(v).headOption.foreach { case ((l, r), c) =>
        out += ((l, r, c)); v = applyMerge(v, l, r)
      }
      out.result()
    }
    def batched(v0: Vocab, n: Int, maxBatch: Int): Seq[(String, String, Long)] = {
      var v = v0
      val out = Seq.newBuilder[(String, String, Long)]
      var done = 0
      var exhausted = false
      while (done < n && !exhausted) {
        val used = scala.collection.mutable.Set.empty[String]
        val batch = Seq.newBuilder[(String, String, Long)]
        var taken = 0
        var stopped = false
        var stopCount: Option[Long] = None // first UNaccepted candidate's count
        // the maxBatch+1 window mirrors the Spark trainer's limit()
        ranked(v).take(maxBatch + 1).foreach { case ((l, r), c) =>
          if (!stopped && taken < maxBatch && done + taken < n) {
            if (!used(l) && !used(r) && !used(l + r)) {
              batch += ((l, r, c)); used ++= Seq(l, r, l + r); taken += 1
            } else { stopped = true; stopCount = Some(c) }
          } else if (stopCount.isEmpty) stopCount = Some(c)
        }
        val raw = batch.result()
        val b = stopCount match {
          case None => raw // every candidate accepted, window uncut
          case Some(sc) =>
            val kept = raw.filter(_._3 > sc)
            if (kept.nonEmpty) kept else raw.take(1) // sequential fallback
        }
        if (b.isEmpty) exhausted = true
        else {
          b.foreach { case (l, r, _) => v = applyMerge(v, l, r) }
          out ++= b
          done += b.size
        }
      }
      out.result()
    }
    val wordGen = Gen.chooseNum(1, 6)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString))
    val corpusGen = Gen.listOfN(30, wordGen)
    samples(corpusGen, n = 40).zipWithIndex.foreach { case (words, i) =>
      val vocab: Vocab = words.groupBy(identity)
        .map { case (w, g) => w.split("").toVector -> g.size.toLong }
      for (maxBatch <- Seq(2, 4, 8)) {
        val seqM = sequential(vocab, 10)
        val batM = batched(vocab, 10, maxBatch)
        assert(batM == seqM,
          s"sample $i maxBatch $maxBatch:\n batched: $batM\n sequential: $seqM")
      }
    }
  }

  test("media header parser never throws on arbitrary bytes (fuzz)") {
    import graft.operators.Multimodal
    val byteArrayGen = Gen.chooseNum(0, 64)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
      .map(_.toArray)
    // plain junk, and junk grafted onto real magic prefixes (the paths
    // where a lazy parser would index past the end)
    val pngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val jpegMagic = Array[Byte](0xff.toByte, 0xd8.toByte)
    val riffMagic = "RIFF????WAVE".getBytes("US-ASCII")
    // a plausible ISO-BMFF prefix: junk grafted after a size+ftyp header
    val bmffMagic = Array[Byte](0, 0, 0, 20, 'f', 't', 'y', 'p')
    samples(byteArrayGen, n = 200).zipWithIndex.foreach { case (bytes, i) =>
      for (payload <- Seq(bytes, pngMagic ++ bytes, jpegMagic ++ bytes,
          riffMagic ++ bytes, bmffMagic ++ bytes)) {
        // the whole parse surface holds the never-throws crawl contract
        Multimodal.parseMediaDims(payload)
        Multimodal.parseMediaExtent(payload)
        Multimodal.extractContent(payload)
        // and the fingerprint is total with a 60-bit image
        assert((Multimodal.mediaSimHash(payload, HashFamily.Md5) >>> 60) == 0L,
          s"sample $i: sig must live in 60 bits")
      }
    }
  }

  test("TopK rewrite agrees with an in-Scala reference on random data") {
    val gen = Gen.listOfN(200,
      Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0, 100000)))
    samples(gen, n = 8).foreach { pairs =>
      // unique (key, value) rows so ordering ties cannot make the expected
      // result ambiguous
      val rows = pairs.distinct
      val df = rows.toDF("key", "value")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(desc("value"))
      val got = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("key", "value", "rn")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
      val expected = rows.groupBy(_._1).flatMap { case (k, vs) =>
        vs.map(_._2).sorted(Ordering[Int].reverse).take(3)
          .zipWithIndex.map { case (v, i) => (k, v, i + 1) }
      }.toSet
      assert(got == expected)
    }
  }

  test("rank()<=k rewrite keeps ALL boundary ties and gapped ranks (vs in-Scala reference)") {
    // heavy ties on purpose: values drawn from a tiny domain
    val gen = Gen.listOfN(300,
      Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 7), Gen.chooseNum(0, 100000)))
    samples(gen, n = 8).foreach { triples =>
      val rows = triples.distinct // (key, value, id): id disambiguates rows
      val df = rows.toDF("key", "value", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(desc("value"))
      val out = df.withColumn("rnk", rank().over(w)).filter(col("rnk") <= 2)
      assert(out.queryExecution.executedPlan.toString.contains("TopKPartial"),
        "rank()<=k must plan as the two-phase TopK operator")
      val got = out.select("key", "value", "rnk", "id")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
      val expected = rows.groupBy(_._1).flatMap { case (k, vs) =>
        val sorted = vs.sortBy(-_._2)
        // SQL rank(): position of the first row with an equal value
        val ranks = sorted.zipWithIndex.map { case ((_, v, _), i) =>
          val firstIdx = sorted.indexWhere(_._2 == v)
          (v, firstIdx + 1)
        }
        sorted.zip(ranks).collect {
          case ((_, v, id), (_, rnk)) if rnk <= 2 => (k, v, rnk, id)
        }
      }.toSet
      assert(got == expected,
        s"ties must all survive with gapped ranks; missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("dense_rank()<=k rewrite keeps every row of the k smallest distinct values") {
    val gen = Gen.listOfN(300,
      Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 7), Gen.chooseNum(0, 100000)))
    samples(gen, n = 8).foreach { triples =>
      val rows = triples.distinct
      val df = rows.toDF("key", "value", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(desc("value"))
      val out = df.withColumn("drnk", dense_rank().over(w)).filter(col("drnk") <= 2)
      assert(out.queryExecution.executedPlan.toString.contains("TopKPartial"),
        "dense_rank()<=k must plan as the two-phase TopK operator")
      val got = out.select("key", "value", "drnk", "id")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
      val expected = rows.groupBy(_._1).flatMap { case (k, vs) =>
        val distinctVals = vs.map(_._2).distinct.sorted(Ordering[Int].reverse)
        val rankOf = distinctVals.zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap
        vs.collect { case (_, v, id) if rankOf(v) <= 2 => (k, v, rankOf(v), id) }
      }.toSet
      assert(got == expected,
        s"every tie of the top-2 values must survive; missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("TopK partial phase stays correct past the tracked-key budget (passthrough path)") {
    // more distinct keys than TopKPartialExec.MaxTrackedKeys (16384) in a
    // single partition: overflow keys stream through un-pruned and the
    // final phase must still produce exact per-key top-1
    val n = graft.plans.TopKPartialExec.MaxTrackedKeys + 5000
    val df = spark.range(n.toLong).toDF("key")
      .withColumn("value", col("key") % 7)
      .repartition(1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(desc("value"))
    val out = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    assert(out.count() == n.toLong, "every key keeps exactly its top-1 row")
    assert(out.queryExecution.executedPlan.toString.contains("TopKFinal"))
  }

  test("TopK rewrite with extra filter conjuncts keeps the residual filter") {
    val df = (1 to 100).map(i => (i % 5, i)).toDF("key", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(desc("value"))
    val out = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2 && col("key") =!= 0)
      .select("key", "value", "rn")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    val expected = (1 to 4).flatMap { k =>
      Seq((k, 95 + k, 1), (k, 90 + k, 2))
    }.toSet
    assert(out == expected)
  }

  test("sorted_intersect_count equals a Set-based reference on random long arrays") {
    // random multisets (duplicates + negatives + extremes) pushed through
    // the producer's canonicalization (sort ∘ distinct) — the expression
    // must agree with plain Set intersection cardinality every time
    val arrGen: Gen[List[Long]] = Gen.listOfN(40,
      Gen.oneOf(Gen.chooseNum(-20L, 20L), Gen.oneOf(Long.MinValue, Long.MaxValue, 0L)))
    samples(Gen.zip(arrGen, arrGen), n = 8).foreach { case (xs, ys) =>
      val df = Seq((xs, ys)).toDF("x", "y")
        .select(
          call_function("sorted_intersect_count",
            array_sort(array_distinct(col("x"))),
            array_sort(array_distinct(col("y")))).as("got"))
      assert(df.head().getInt(0) == xs.toSet.intersect(ys.toSet).size,
        s"merge count drifted from Set intersection on $xs vs $ys")
    }
  }

  test("sorted_contains equals Set membership on random long arrays") {
    // random sets through the producer's canonicalization (array_sort ∘
    // collect_set equivalent) probed with members AND non-members — the
    // binary search must agree with plain Set membership every time,
    // including at the array boundaries (min/max extremes included)
    val arrGen: Gen[List[Long]] = Gen.listOfN(40,
      Gen.oneOf(Gen.chooseNum(-20L, 20L), Gen.oneOf(Long.MinValue, Long.MaxValue, 0L)))
    val probeGen: Gen[Long] =
      Gen.oneOf(Gen.chooseNum(-25L, 25L), Gen.oneOf(Long.MinValue, Long.MaxValue))
    samples(Gen.zip(arrGen, Gen.listOfN(6, probeGen)), n = 8).foreach {
      case (xs, probes) =>
        val df = probes.map(p => (xs, p)).toDF("x", "p")
          .select(col("p"),
            call_function("sorted_contains",
              array_sort(array_distinct(col("x"))), col("p")).as("got"))
        df.collect().foreach { r =>
          val p = r.getLong(0)
          assert(r.getBoolean(1) == xs.toSet.contains(p),
            s"binary search drifted from Set membership probing $p in $xs")
        }
    }
  }

  test("winnowing on random texts: selection is a gram subset and obeys the window bound") {
    import graft.functions.TextAnalysis
    val word: Gen[String] = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val textGen: Gen[String] = for {
      n <- Gen.chooseNum(0, 30) // includes docs shorter than k and w
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val texts = samples(textGen, n = 12).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val docs = texts.toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprintFrame(docs, 3, 4)
      .groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (id, t) =>
      val nToks = t.split(" ", -1).length
      val nGrams = math.max(nToks - 2, 1)
      val nWindows = math.max(nGrams - 3, 1)
      val n = fps.getOrElse(id, 0L)
      assert(n >= 1, s"doc $id must select at least one fingerprint")
      assert(n <= nWindows,
        s"doc $id selected $n fps from $nWindows windows (distinct can only shrink)")
    }
  }

  test("sccOver equals driver-side Tarjan on random digraphs") {
    // an independent reference implementation (iterative Tarjan with
    // min-id canonical labels) checked against the distributed FW-BW
    // splitting loop on adversarially random edge sets
    def tarjanSccMin(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var counter = 0
      val index = scala.collection.mutable.Map.empty[Long, Int]
      val low = scala.collection.mutable.Map.empty[Long, Int]
      val onStack = scala.collection.mutable.Set.empty[Long]
      val stack = scala.collection.mutable.Stack.empty[Long]
      val out = scala.collection.mutable.Map.empty[Long, Long]
      def strong(v0: Long): Unit = {
        var work = List((v0, 0))
        while (work.nonEmpty) {
          val (v, pi) = work.head
          if (pi == 0) {
            index(v) = counter; low(v) = counter; counter += 1
            stack.push(v); onStack += v
          }
          val succ = adj.getOrElse(v, Seq.empty)
          var advanced = false
          var i = pi
          while (i < succ.length && !advanced) {
            val w = succ(i)
            if (!index.contains(w)) {
              work = (w, 0) :: (v, i + 1) :: work.tail
              advanced = true
            } else {
              if (onStack(w)) low(v) = math.min(low(v), index(w))
              i += 1
            }
          }
          if (!advanced) {
            if (low(v) == index(v)) {
              var comp = List.empty[Long]
              var w = 0L
              do { w = stack.pop(); onStack -= w; comp ::= w } while (w != v)
              val m = comp.min
              comp.foreach(out(_) = m)
            }
            work = work.tail
            work.headOption.foreach { case (u, _) =>
              low(u) = math.min(low(u), low(v))
            }
          }
        }
      }
      nodes.foreach(v => if (!index.contains(v)) strong(v))
      out.toMap
    }
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 4) {
      val n = 12 + rnd.nextInt(10)
      val ids = (0 until n).map(_ => rnd.nextInt(1000).toLong).distinct
      val es = (for {
        u <- ids; v <- ids
        if u != v && rnd.nextDouble() < 0.12
      } yield (u, v)).distinct
      val got = operators.LinkGraph.sccOver(
          es.toDF("src", "dst"), ids.toDF("node"))
        .select("node", "scc_id").as[(Long, Long)].collect().toMap
      val want = tarjanSccMin(ids, es) ++
        ids.filterNot(tarjanSccMin(ids, es).contains).map(v => v -> v)
      val wantFull = ids.map(v => v -> want.getOrElse(v, v)).toMap
      assert(got == wantFull,
        s"trial $trial (n=$n, e=${es.size}): FW-BW disagrees with Tarjan\n" +
          s"diff=${got.toSet.diff(wantFull.toSet).take(5)}")
    }
  }
}
