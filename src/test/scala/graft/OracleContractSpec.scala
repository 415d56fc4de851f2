package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{NoOracle, Query, Sql}

/** Pins the driver-contract surface: the query census and exactly which
  * queries carry DuckDB oracles.  The census is read from the registry
  * itself; the second test also BUILDS every oracle, and the builders for
  * the pinned sweeps run REAL work here (registry scan, grid load,
  * JVM-direct evaluation) — so an asset that silently went missing, or a
  * builder quietly degrading an entry to rows-only, fails THAT test
  * instead of shrinking hash coverage invisibly (Verify's resilient dump
  * must never be the only thing noticing). */
class OracleContractSpec extends AnyFunSuite {

  // the rows-only tail, each with its reason on its NoOracle entry:
  // probabilistic LSH banding (minhash/simhash/embedding), driver-side
  // k-means (ivf/pq), trained BPE merges, codec output (media_*), the
  // near-dup-dependent pipeline census, and the Douglas-Peucker split
  // (its DuckDB lambda formulation segfaults duckdb 1.0 — see the
  // frechet oracle for the recursion pattern that IS safe)
  private val rowsOnly = Set("q_ann_ivf", "q_ann_pq", "q_bpe_tokens",
    "q_corpus_pipeline", "q_dedup_embedding", "q_dedup_minhash",
    "q_dedup_simhash", "q_media_features", "q_media_jdk",
    "q_media_neardup", "q_media_probe", "q_simplify")

  test("the registry census is pinned: 107 queries, 95 with SQL oracles") {
    val reg = SparkEntry.registry
    val names = reg.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct).sorted}")
    assert(names.size == 107, s"query census moved: ${names.size} (update this pin)")
    assert(SparkEntry.queries.keySet == names.toSet)
    val sql = reg.collect { case q if q.oracle.isInstanceOf[Sql] => q.name }
    assert(sql.size == 95, s"oracled count moved: ${sql.size} (update this pin)")
    val noOracle = reg.collect { case q @ Query(_, _, NoOracle(_)) => q.name }
    assert(noOracle.toSet == rowsOnly, s"rows-only set drifted: ${noOracle.sorted}")
    // a blank reason cannot be built (NoOracle's constructor refuses it)
    intercept[IllegalArgumentException](NoOracle(" "))
  }

  test("oracle coverage is pinned: 95 of 107 queries hash-verified") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"orphan oracles: ${(o -- q).toSeq.sorted}")
    assert(q.size == 107, s"query census moved: ${q.size} (update this pin)")
    assert(o.size == 95,
      s"oracled count moved: ${o.size} — either update this pin for a new" +
        " oracle, or a builder lost its asset (check stderr)")
    assert((q -- o) == rowsOnly,
      s"rows-only set drifted: ${(q -- o).toSeq.sorted}")
    // every oracle is non-trivial SQL (no sentinel leaked through)
    assert(SparkEntry.oracleSql.values.forall(s =>
      s.length > 20 && s.toUpperCase.contains("SELECT")))
  }
}
