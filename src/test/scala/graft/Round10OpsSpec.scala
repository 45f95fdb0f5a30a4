package graft

import org.apache.spark.sql.functions._

import graft.obs.RunRecord
import graft.operators.Pca

/** Behavior specs for the round-10 operators: top-principal-component
  * training (one-pass fixed-point moments + driver power iteration) and
  * the map-side PC1 projection. Label propagation's specs live with the
  * other graph loops in CurationOpsSpec/PlanAuditSpec.
  */
class Round10OpsSpec extends SparkTestBase {

  test("pca component: unit norm, canonical sign, positive eigenvalue, memoized") {
    val t = Pca.topComponent(spark, Sf)
    val norm2 = t.component.map(x => x * x).sum
    // the L2 normalize runs through floor-fixed-point sums whose error is
    // RELATIVE to ‖y‖ ≈ eigenvalue (small), not absolute — the drift
    // bound is ~d×10⁻⁹/λ², a few 10⁻⁵ at this corpus's λ
    assert(math.abs(norm2 - 1.0) < 1e-3, s"component norm² $norm2")
    assert(t.component(0) >= 0.0, "sign canonicalization: first coord >= 0")
    assert(t.eigenvalue > 0.0)
    // train-once memo: the second call must return the cached artifact
    assert(Pca.topComponent(spark, Sf) eq t)
  }

  test("pca projection: centered scores (zero mean up to fix-point drift), deterministic") {
    val p = Pca.project(spark, Sf).cache()
    val mean = p.agg(avg("pc1")).collect()(0).getDouble(0)
    // E[(x-m)·v] = (E[x]-m)·v: m carries ≤10⁻⁶ per-dim quantization and
    // each row's fold ≤ d×10⁻⁹ — the score mean must sit near zero
    assert(math.abs(mean) < 1e-2, s"projection mean $mean")
    val again = Pca.project(spark, Sf).collect().toSeq
    assert(p.collect().toSeq == again, "bit-identical re-run")
    p.unpersist()
  }

  test("knn graph: per-node rank contract and exact agreement with the query-side LSH top-k") {
    import graft.operators.Similarity
    val g = Similarity.knnGraph(spark, Sf).cache()
    // rank contract: ≤k consecutive ranks per src, sims non-increasing
    val byRank = g.groupBy("src")
      .agg(count(lit(1)).as("n"), max("rank").as("maxr"))
    assert(byRank.filter(col("n") =!= col("maxr") || col("n") > 5).isEmpty,
      "ranks must be consecutive 1..n with n <= k")
    // the graph restricted to the LSH query ids IS the query-side top-k
    // (same bands, same planes, same tie-breaks) — column names aside
    val fromGraph = g.filter(col("src") < 10)
      .select(col("src").as("qid"), col("rank"), col("dst").as("vec_id"), col("sim"))
      .collect().toSeq
    val fromTopK = Similarity.lshCosineTopK(spark, Sf, planesPerBand = 8)
      .collect().toSeq
    assert(fromGraph == fromTopK)
    g.unpersist()
  }

  test("triangles: oriented-wedge counts equal brute force on random graphs") {
    import graft.operators.LinkGraph
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val und = edges.toDF("u", "v")
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("node")
      val got = LinkGraph.nodeTriangles(und, nodes)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // brute force: adjacency sets, count closed wedges per node
      val adj = edges.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      val truth = adj.map { case (n, nbrs) =>
        val t = nbrs.toSeq.combinations(2)
          .count { case Seq(x, y) => adj(x).contains(y) }
        n -> (nbrs.size.toLong, t.toLong)
      }
      truth.foreach { case (n, (d, t)) =>
        assert(got(n) == ((d, t)), s"node $n seed $seed: got ${got(n)}, want ($d,$t)")
      }
    }
  }

  test("triangles on testdata: total divisible by 3, lcc bounded, rows consistent") {
    import graft.operators.LinkGraph
    val cc = LinkGraph.clusteringCoefficients(spark, Sf).cache()
    val tot = cc.agg(sum("triangles")).collect()(0).getLong(0)
    assert(tot % 3 == 0, s"per-node triangle mass $tot must be 3x the triangle count")
    assert(cc.filter(col("lcc") < 0.0 || col("lcc") > 1.0).isEmpty,
      "lcc must lie in [0,1]")
    assert(cc.filter(col("degree") < 2 && col("lcc") =!= 0.0).isEmpty,
      "degree<2 nodes have lcc 0 by contract")
    // the triangles row is the same frame minus degree/lcc
    val t = LinkGraph.triangleCounts(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc.collect().foreach { r =>
      assert(t(r.getLong(0)) == r.getLong(2), s"row drift at node ${r.getLong(0)}")
    }
    cc.unpersist()
  }

  test("jaccard prefix join: equals brute-force all-pairs (filter provably lossless)") {
    import graft.operators.Dedup
    val filtered = Dedup.jaccardPrefixPairs(spark, Sf)
      .filter(col("doc_a") < 150 && col("doc_b") < 150)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // naive truth over the same id range, no prefix filter involved —
    // same bigram-shingle construction as the engine's gram sets
    val docs = graft.sources.IO.table(spark, Sf, "documents")
      .filter(col("doc_id") < 150)
      .select(col("doc_id"),
        array_distinct(expr(
          """transform(sequence(0, greatest(size(split(text, ' ')) - 2, 0)),
               i -> concat_ws(' ', slice(split(text, ' '), i + 1, 2)))"""))
          .as("toks"))
    val naive = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        size(array_intersect(col("a.toks"), col("b.toks"))).as("o"),
        size(col("a.toks")).as("na"), size(col("b.toks")).as("nb"))
      .where(col("o") * 19 >= (col("na") + col("nb")) * 9)
      .select(col("doc_a"), col("doc_b"),
        (col("o").cast("double")
          / (col("na") + col("nb") - col("o")).cast("double")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(naive.nonEmpty, "testdata plants qualifying near-dup pairs")
    assert(filtered == naive,
      s"prefix filter must be lossless: got ${filtered.size} pairs, want ${naive.size}")
  }

  test("misra-gries candidates: guaranteed superset of heavy tokens under any partitioning") {
    import graft.operators.Relational
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // skewed synthetic stream: few heavy tokens + a long tail
    val stream = Seq.fill(20000)(
      if (rnd.nextInt(10) < 4) s"heavy${rnd.nextInt(3)}"
      else s"tail${rnd.nextInt(5000)}")
    (1 to 8 by 3).foreach { parts =>
      val ds = spark.createDataset(stream).repartition(parts).as[String]
      val k = 64
      val cands = Relational.misraGriesCandidates(ds, k)
        .collect().map(_.getString(0)).toSet
      val n = stream.size
      val truth = stream.groupBy(identity).view.mapValues(_.size)
        .filter { case (_, c) => c.toLong * k > n }.keySet
      assert(truth.nonEmpty, "synthetic stream plants heavy hitters")
      assert(truth.subsetOf(cands),
        s"parts=$parts: MG candidates must contain every heavy token")
      // and per-partition state is bounded: at most k survivors each
      assert(cands.size <= k * parts)
    }
  }

  test("heavy hitters row equals brute-force groupBy + threshold on testdata") {
    import graft.operators.Relational
    val got = Relational.sketchHeavyHitters(spark, Sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = graft.sources.IO.table(spark, Sf, "documents")
      .select(explode(graft.functions.TextAnalysis.wsTokens(col("text")))
        .as("token"))
    val n = toks.count()
    val truth = toks.groupBy("token").agg(count(lit(1)).as("freq"))
      .where(col("freq") * 256 > lit(n))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(truth.nonEmpty, "testdata has tokens above the 1/256 share")
    assert(got == truth)
  }

  test("scd2: spans tile each key's timeline, runs collapse, states alternate") {
    import graft.operators.Snapshot
    val hist = Snapshot.eventsScd2History(spark, Sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3), r.getString(4)))
    assert(hist.nonEmpty)
    hist.groupBy(_._1).foreach { case (user, rows) =>
      val spans = rows.sortBy(_._2)
      // exactly one open (current) span per key, and it is the last
      assert(spans.count(_._4) == 1, s"user $user: one current span")
      assert(spans.last._4 && spans.last._3.isEmpty)
      spans.sliding(2).foreach {
        case Array(a, b) =>
          // spans tile: each closed span ends where the next begins
          assert(a._3.contains(b._2), s"user $user: gap between spans")
          // and consecutive spans carry DIFFERENT states (runs collapsed)
          assert(a._5 != b._5, s"user $user: uncollapsed run")
        case _ =>
      }
    }
    // span count equals the brute-force number of state changes
    val ev = graft.sources.IO.table(spark, Sf, "events")
    val seqs = ev.select(col("user_id"), graft.operators.EventTime.tsUs(ev).as("tus"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
    val expected = seqs.map { case (_, rows) =>
      val types = rows.sortBy(r => (r._2, r._3)).map(_._4)
      1 + types.sliding(2).count { case Array(x, y) => x != y; case _ => false }
    }.sum
    assert(hist.length == expected, s"got ${hist.length} spans, want $expected")
  }

  test("pmi collocations: formula replay, min-count floor, ordering contract") {
    import graft.functions.TextAnalysis
    val rows = TextAnalysis.pmiCollocations(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    assert(rows.forall(_.getLong(1) >= 5), "min-count floor")
    val pmis = rows.map(_.getDouble(2))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b }, "pmi desc")
    // replay the top row's pmi from independently-collected counts
    val top = rows.head
    val Array(w1, w2) = top.getString(0).split(" ", 2)
    val toks = graft.sources.IO.table(spark, Sf, "documents")
      .select(split(col("text"), " ").as("tk"))
    val uni = toks.select(explode(col("tk")).as("t")).collect().map(_.getString(0))
    val nu = uni.length.toDouble
    val ca = uni.count(_ == w1).toDouble
    val cb = uni.count(_ == w2).toDouble
    val bis = toks.collect().flatMap(_.getSeq[String](0).sliding(2).collect {
      case Seq(a, b) => (a, b)
    })
    val nb = bis.length.toDouble
    val cab = bis.count(_ == ((w1, w2))).toDouble
    assert(cab >= 5)
    val expected = math.log((cab * nu * nu) / (nb * ca * cb)).toFloat.toDouble
    assert(top.getDouble(2) == expected,
      s"pmi(${top.getString(0)}): got ${top.getDouble(2)}, want $expected")
  }

  test("nn-descent refine: per-rank sims monotonically improve, recall never drops") {
    import graft.operators.Similarity
    def byRank(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getFloat(3)))
      .toMap
    val g0 = byRank(Similarity.knnGraph(spark, Sf))
    val g1 = byRank(Similarity.knnGraphRefined(spark, Sf))
    // candidate superset ⟹ the refined rank-i sim dominates the seed's
    g0.foreach { case ((src, rank), (_, sim0)) =>
      val (_, sim1) = g1.getOrElse((src, rank),
        fail(s"refined graph lost ($src, rank $rank)"))
      assert(sim1 >= sim0, s"($src,$rank): refined $sim1 < seed $sim0")
    }
    // recall vs the exact top-k can only improve (strictly better
    // somewhere on this fixture, else the round was a no-op)
    val c = graft.sources.IO.table(spark, Sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val exact = byRank(
      c.as("a").join(c.select(col("vec_id").as("dst"), col("v").as("dv")).as("b"),
          col("vec_id") =!= col("dst"))
        .withColumn("sim", expr("cosine_sim(v, dv)").cast("float"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
            .orderBy(desc("sim"), asc("dst"))))
        .filter(col("rank") <= 5)
        .select(col("vec_id").as("src"), col("rank"), col("dst"), col("sim")))
    def recall(g: Map[(Long, Int), (Long, Float)]) = {
      val bySrc = g.groupBy(_._1._1).view.mapValues(_.values.map(_._1).toSet)
      val truth = exact.groupBy(_._1._1).view.mapValues(_.values.map(_._1).toSet)
      truth.map { case (s, t) =>
        bySrc.getOrElse(s, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    val (r0, r1) = (recall(g0), recall(g1))
    assert(r1 >= r0, s"refined recall $r1 must not drop below seed $r0")
  }

  test("semantic decontam: reports exactly the same-cell train vectors over threshold") {
    import graft.operators.Similarity
    val got = Similarity.semanticContaminationReport(spark, Sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getFloat(2))).toMap
    assert(got.nonEmpty, "testdata plants semantic contamination")
    // every reported train id is from the train carve and its offender
    // from the eval carve, above threshold
    got.foreach { case (vid, (eid, cos)) =>
      assert(vid % 10 != 0 && eid % 10 == 0)
      assert(cos >= 0.35f)
    }
    // role-transposition cross-check: if train t reports eval e at cos c,
    // then the incremental row (which scores the SAME cell-bounded pairs
    // in the other direction) must see t at >= c for batch e — t is one
    // of e's candidates, and e's pick is its max
    val inc = Similarity.incrementalSemanticNearDup(spark, Sf)
      .filter(!col("is_new"))
      .collect().map(r => r.getLong(0) -> r.getFloat(3)).toMap
    got.foreach { case (_, (eid, cos)) =>
      val best = inc.getOrElse(eid,
        fail(s"eval $eid contaminates but has no incremental verdict"))
      assert(best >= cos, s"eval $eid: pick $best < reported offender $cos")
    }
  }

  test("association lift: formula matches brute force over the capped baskets") {
    import graft.operators.Relational
    val got = Relational.itemAssociationLift(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty, "testdata plants co-occurring items")
    assert(got.forall { case ((a, b), _) => a < b })
    // brute force from the raw events
    val ev = graft.sources.IO.table(spark, Sf, "events")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = ev.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.take(64).toSet).toMap
    val u = baskets.size.toLong
    val ni = baskets.values.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    got.foreach { case ((a, b), (nab, lift)) =>
      val truth = baskets.values.count(s => s.contains(a) && s.contains(b)).toLong
      assert(truth == nab, s"pair ($a,$b): n_ab $nab, brute $truth")
      assert(nab >= 5)
      val expect = (nab * u).toDouble / (ni(a) * ni(b)).toDouble
      assert(lift == expect, s"pair ($a,$b): lift $lift, brute $expect")
    }
  }

  test("modularity: per-community contributions replay brute force exactly") {
    import graft.operators.LinkGraph
    val rows = LinkGraph.labelPropModularity(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val q = rows.map(_._5).sum
    // Newman bound; the synthetic click graph has no planted community
    // structure, so Q near (or slightly below) zero is the honest value
    // — the metric EXISTS to report exactly that
    assert(q > -1.0 && q <= 1.0, s"Q=$q out of range")
    // identities: w_in <= w_tot per community, nonempty communities
    rows.foreach { case (_, members, win, wtot, _) =>
      assert(members >= 1 && win <= wtot)
    }
    // brute-force replay: collect the symmetrized weighted edges and the
    // community map, recompute every per-community fix integer exactly
    val g = LinkGraph.labelPropagation(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = LinkGraph.transitionEdges(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sym = edges.flatMap { case (s, d, w) => Seq((s, d, w), (d, s, w)) }
    val m2 = sym.map(_._3).sum
    val winB = sym.filter { case (s, d, _) => g(s) == g(d) }
      .groupBy { case (s, _, _) => g(s) }.view.mapValues(_.map(_._3).sum)
    val wtotB = sym.groupBy { case (s, _, _) => g(s) }.view.mapValues(_.map(_._3).sum)
    rows.foreach { case (c, _, win, wtot, qc) =>
      assert(win == winB.getOrElse(c, 0L), s"community $c w_in")
      assert(wtot == wtotB.getOrElse(c, 0L), s"community $c w_tot")
      val expect = (win * m2 - wtot * wtot).toDouble / (m2.toDouble * m2.toDouble)
      assert(qc == expect, s"community $c q_contrib $qc vs $expect")
    }
    // every community from the sizes row appears, with the same members
    val sizes = LinkGraph.labelCommunitySizes(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == sizes)
  }

  test("incremental scd2: stored + delta reconstructs the from-scratch history") {
    import graft.operators.Snapshot
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3), r.getString(4))).toSet
    val delta = rows(Snapshot.eventsScd2Incremental(spark, Sf))
    assert(delta.nonEmpty, "the batch slice must change some spans")
    val stored = rows(spark.read.parquet(Snapshot.scd2Base(Sf).root(spark)))
    // merge: delta rows replace same-(user, valid_from) stored rows
    val deltaKeys = delta.map(r => (r._1, r._2))
    val merged = stored.filterNot(r => deltaKeys.contains((r._1, r._2))) ++ delta
    val full = rows(Snapshot.eventsScd2History(spark, Sf))
    assert(merged == full, "apply(stored, delta) must equal the full recompute")
    // and the delta is MINIMAL: no delta row already exists verbatim
    assert(delta.intersect(stored).isEmpty, "delta must not restate unchanged rows")
  }

  test("hilbert index: matches the reference xy2d walk, injective, curve-adjacent") {
    import graft.operators.Layout
    import spark.implicits._
    // reference implementation (the classic xy2d)
    def ref(x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (Layout.ZBits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(400)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      .distinct
    val got = Layout.hilbertWithColumns(pts.toDF("hx", "hy"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == ref(x, y), s"hilbert($x,$y)")
    }
    assert(got.values.toSet.size == pts.size, "curve must be injective")
    // the defining property: consecutive indices are ADJACENT cells —
    // check on a full low-order walk (first 256 indices tile a 16x16
    // corner region of the curve)
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .map { case (x, y) => ref(x, y) -> (x, y) }.toMap
    (0L until 255L).foreach { d =>
      // indices 0..255 lie inside the 64x64 corner (4^4 cells per
      // 16x16 block, walked block-contiguously)
      (grid.get(d), grid.get(d + 1)) match {
        case (Some((x1, y1)), Some((x2, y2))) =>
          assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
            s"d=$d: ($x1,$y1) -> ($x2,$y2) not adjacent")
        case _ => fail(s"index $d missing from the corner walk")
      }
    }
  }

  test("source kl divergence: non-negative up to fix quantization, brute-force replay") {
    import graft.functions.TextAnalysis
    val got = TextAnalysis.sourceKlDivergence(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size >= 2, "testdata has several sources")
    // KL >= 0 (Gibbs); the 1e-6 fixed-point rounding can dip epsilon below
    got.foreach { case (s, (_, kl)) =>
      assert(kl >= -1e-4, s"source $s: KL $kl")
    }
    // brute-force replay with the same fix arithmetic
    val toks = graft.sources.IO.table(spark, Sf, "documents")
      .select(col("source"), explode(TextAnalysis.wsTokens(col("text"))).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bySrcTerm = toks.groupBy(identity).view.mapValues(_.size.toLong)
    val byTerm = toks.groupBy(_._2).view.mapValues(_.size.toLong)
    val bySrc = toks.groupBy(_._1).view.mapValues(_.size.toLong)
    val n = toks.length.toLong
    got.foreach { case (src, (nTok, kl)) =>
      assert(nTok == bySrc(src))
      val fixSum = bySrcTerm.collect { case ((s, t), cs) if s == src =>
        cs * math.round(
          math.log((cs.toDouble * n.toDouble)
            / (bySrc(src).toDouble * byTerm(t).toDouble)).toFloat.toDouble
            * 1000000.0)
      }.sum
      val expect = fixSum.toDouble / (bySrc(src).toDouble * 1000000.0)
      assert(kl == expect, s"source $src: kl $kl vs $expect")
    }
  }

  test("k-core: equals brute-force peeling on random graphs; rounds under the oracle unroll") {
    import graft.operators.LinkGraph
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed * 31)
      val edges = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val got = LinkGraph.kCoreOver(edges.toDF("u", "v"), 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute-force peel
      var cur = edges.toSet
      var changed = true
      while (changed) {
        val deg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size)
        val keep = deg.filter(_._2 >= 3).keySet
        val next = cur.filter(e => keep(e._1) && keep(e._2))
        changed = next != cur
        cur = next
      }
      val truth = cur.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == truth, s"seed $seed: k-core drift")
    }
    // testdata row: peeling must converge well under the oracle's
    // 12-round unroll (over-unrolling is a no-op, under-unrolling isn't)
    val (_, notes) = RunRecord.capture(
      LinkGraph.kCoreMembers(spark, Sf).write.format("noop").mode("overwrite").save())
    val r = notes.getOrElse(RunRecord.KCoreRounds, fail("no k-core telemetry"))
    assert(r <= 12, s"k-core took $r rounds; raise the oracle unroll")
  }

  test("bfs distances: equals driver-side BFS from the seed set, capped at 6 hops") {
    import graft.operators.LinkGraph
    val got = LinkGraph.bfsDistances(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.nonEmpty)
    val edges = LinkGraph.transitionEdges(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap { case (s, d) => Seq(s -> d, d -> s) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = graft.sources.IO.table(spark, Sf, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("i"))
      .distinct().collect().map(_.getLong(0)).toSet
    // driver BFS
    var dist = nodes.filter(_ % 10 == 0).map(_ -> 0).toMap
    (1 to 6).foreach { h =>
      val frontier = dist.collect { case (n, d) if d == h - 1 => n }
      frontier.foreach { n =>
        adj.getOrElse(n, Set.empty).foreach { m =>
          if (!dist.contains(m)) dist += m -> h
        }
      }
    }
    assert(got == dist, s"bfs drift: got ${got.size} rows, want ${dist.size}")
  }

  test("zipf fit: negative slopes, exact fixed-point regression replay") {
    import graft.functions.TextAnalysis
    val got = TextAnalysis.sourceZipfFit(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.size >= 2)
    got.foreach { case (s, (n, slope)) =>
      assert(n > 10, s"source $s too small to fit")
      assert(slope < 0.0, s"source $s: rank-frequency must decay, slope $slope")
    }
    // brute-force replay with the same fix arithmetic
    val toks = graft.sources.IO.table(spark, Sf, "documents")
      .select(col("source"), explode(TextAnalysis.wsTokens(col("text"))).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    toks.groupBy(_._1).foreach { case (src, rows) =>
      val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (t, c) => (-c, t) }
      val fix = counts.zipWithIndex.map { case ((_, c), i) =>
        val x = math.round(math.log((i + 1).toDouble).toFloat.toDouble * 1e6)
        val y = math.round(math.log(c.toDouble).toFloat.toDouble * 1e6)
        (x, y)
      }
      val n = fix.size.toLong
      val (sx, sy) = (fix.map(_._1).sum, fix.map(_._2).sum)
      val sxy = fix.map { case (x, y) => x * y }.sum
      val sxx = fix.map { case (x, _) => x * x }.sum
      val expect = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
      assert(got(src)._2 == expect, s"source $src: slope ${got(src)._2} vs $expect")
    }
  }

  test("pca captures the dominant direction: pc1 variance ~ eigenvalue, >= any axis variance") {
    val t = Pca.topComponent(spark, Sf)
    val p = Pca.project(spark, Sf)
    val stats = p.agg(avg("pc1").as("m"), avg(col("pc1") * col("pc1")).as("m2"))
      .collect()(0)
    val varPc1 = stats.getDouble(1) - stats.getDouble(0) * stats.getDouble(0)
    // after Iters power rounds the Rayleigh estimate and the realized
    // projection variance must agree to a few percent
    assert(math.abs(varPc1 - t.eigenvalue) / t.eigenvalue < 0.05,
      s"var(pc1)=$varPc1 vs eigenvalue=${t.eigenvalue}")
    // and the learned direction must beat every axis-aligned one: its
    // variance is at least the largest covariance diagonal (within the
    // same few-percent convergence tolerance)
    val emb = graft.sources.IO.table(spark, Sf, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg((avg(col("x") * col("x")) - avg("x") * avg("x")).as("axisVar"))
      .agg(max("axisVar")).collect()(0).getDouble(0)
    assert(varPc1 > emb * 0.95,
      s"var(pc1)=$varPc1 must dominate best axis variance $emb")
  }
}
