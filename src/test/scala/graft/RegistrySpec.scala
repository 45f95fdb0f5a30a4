package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.registry.{BenchRole, Oracle, QuerySpec, Registry}
import graft.registry.Oracle.{NoOracle, SameAs, Sql}

/** Driver-contract consistency: the correctness gate compares
  * `SparkEntry.queries` dumps against `SparkEntry.oracleSql` BY NAME, so a
  * misspelled oracle key silently downgrades its query to a rows-only
  * check (and an orphan oracle checks nothing at all). These are pure
  * map-shape assertions — no Spark session.
  */
class RegistrySpec extends AnyFunSuite {

  test("every oracle key has a registered query (no orphan oracles)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.toSeq.sorted}")
  }

  test("the no-oracle rows are exactly the documented exceptions") {
    // Each name here is a DELIBERATE rows-only row: xxhash64 fast paths
    // twinned by an md5 row, the reference-CSV PlayStore pipelines
    // (DuckDB cannot see the bundled resource), genuinely approximate
    // sketches with exact twins, and the spec-pinned batched BPE.
    // Growing this set is a deliberate act — add the justification here.
    // (round 16: the normalized-float mm_features row retired — its
    // integer twin mm_features_fix is oracled and the float
    // presentation is spec-pinned in Round16OpsSpec — set was 13.)
    // (round 17: mm_fingerprint_fast added — the xxhash64 production
    // fast path of the media fingerprint; DuckDB cannot replay
    // xxhash64, the oracled md5 row mm_fingerprint is its twin, and
    // Round17OpsSpec pins the two faces' near-dup pair sets identical
    // — set is 14.)
    // (round 18: mm_neardup_pairs_fast and mm_dedup_decision_fast added
    // — the fast family's serve surface, pairs + decision over the
    // xxhash64 face; same justification as mm_fingerprint_fast (DuckDB
    // cannot replay xxhash64), Round18OpsSpec pins both frames
    // identical to their oracled md5 twins on the spec corpus — set is
    // 16.)
    val expected = Set(
      "mm_fingerprint_fast",
      "mm_neardup_pairs_fast", "mm_dedup_decision_fast",
      "dedup_minhash_pairs", "dedup_simhash_pairs", "dedup_substring_pairs",
      "sketch_merge", "sketch_profile",
      "txt_bpe_merges", "txt_fingerprints",
      "ps_part1_sentiment", "ps_part2_best_apps", "ps_part3_standardize",
      "ps_part4_cleaned", "ps_part5_metrics",
      // HLL inclusion-exclusion overlap is an estimate by nature; its
      // exact twin sketch_intersect_exact is the oracled anchor and
      // RelationalSketchSpec pins the estimate against the exact twin
      "sketch_hll_intersect")
    val actual = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(actual == expected,
      s"no-oracle set drifted: unexpected=${(actual -- expected).toSeq.sorted}, " +
        s"missing=${(expected -- actual).toSeq.sorted}")
  }

  private def spec(name: String, oracle: Oracle): QuerySpec =
    QuerySpec(name, (_, _) => null, oracle)

  test("the derivation rejects a name declared twice") {
    val twice = Seq(spec("a", Sql("SELECT 1")), spec("b", NoOracle("x")), spec("a", NoOracle("y")))
    Seq[Seq[QuerySpec] => Any](QuerySpec.builders, QuerySpec.oracles).foreach { derive =>
      val e = intercept[IllegalArgumentException](derive(twice))
      assert(e.getMessage.contains("'a'"), e.getMessage)
    }
  }

  test("a SameAs resolves only to a Sql spec, and shares its string") {
    val primary = spec("p", Sql(new String("SELECT 1")))
    val ok = QuerySpec.oracles(Seq(primary, spec("t", SameAs("p")), spec("n", NoOracle("r"))))
    assert(ok.keySet == Set("p", "t"))
    assert(ok("t") eq ok("p"))
    for (bad <- Seq(
        Seq(primary, spec("t", SameAs("missing"))),
        Seq(spec("n", NoOracle("r")), spec("t", SameAs("n"))),
        Seq(primary, spec("u", SameAs("p")), spec("t", SameAs("u"))))) {
      val e = intercept[IllegalArgumentException](QuerySpec.oracles(bad))
      assert(e.getMessage.contains("'t'"), e.getMessage)
    }
  }

  test("every NoOracle reason says something") {
    val blank = Registry.specs.collect {
      case QuerySpec(name, _, NoOracle(reason), _) if reason.trim.isEmpty => name
    }
    assert(blank.isEmpty, s"NoOracle without a reason: $blank")
  }

  test("Bench's primed, headline and canary rows are all timed rows") {
    val timed = Registry.benchRows(_.timed).toSet
    val named = Registry.benchRows(r => r.primed || r.headline) ++ Bench.CanaryBasket
    // Bench times its own Part-5 row from the warm-up's df_4, not through
    // the registered builder
    assert(named.filterNot(timed).toSet == Set(Bench.OwnRow))
    assert(Registry.specs.find(_.name == Bench.OwnRow).map(_.bench)
      .contains(BenchRole.HeadlineOwnTiming))
  }

  test("an unknown query name is rejected, listing every unknown name") {
    assert(Registry.known(Seq("a4_count_star", "q_join_agg")) == Seq("a4_count_star", "q_join_agg"))
    val e = intercept[IllegalArgumentException](
      Registry.known(Seq("a4_count_star", "a4_count_stat", "no_such_row")))
    assert(e.getMessage.contains("a4_count_stat, no_such_row"), e.getMessage)
  }
}
