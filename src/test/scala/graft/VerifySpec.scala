package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.grids.Grids
import graft.geo.proj.ProjString
import graft.queries.{NoOracle, Query, Sql}

class VerifySpec extends AnyFunSuite {

  test("oracle JSON escapes builder-authored SQL") {
    val json = Verify.oracleJson(Map("q_a" -> "SELECT 1\tAS \"x\"\n"))
    assert(json == """{"q_a": "SELECT 1\tAS \"x\"\n"}""")
  }

  test("a throwing oracle builder leaves a marker, not an empty map") {
    val json = Verify.oracleJson(throw new IllegalStateException("grid \"x\" missing"))
    assert(json == """{"_oracle_error": "grid \"x\" missing"}""")
  }

  test("the query filter rejects an unknown name and lists the valid ones") {
    assert(Verify.queryFilter("q_webmerc_fwd, q_tile_assign") ==
      Set("q_webmerc_fwd", "q_tile_assign"))
    val e = intercept[IllegalArgumentException](
      Verify.queryFilter("q_webmerc_fwd,q_webmerc_fdw"))
    assert(e.getMessage.contains("q_webmerc_fdw"))
    SparkEntry.queries.keys.foreach(n => assert(e.getMessage.contains(n), n))
    // an empty filter would run zero queries just as silently
    for (empty <- Seq("", ",", " , ")) {
      val e = intercept[IllegalArgumentException](Verify.queryFilter(empty))
      assert(e.getMessage.contains("q_webmerc_fwd"), empty)
    }
  }

  test("only a missing-asset oracle builder loses its own entry") {
    val noPlan: (SparkSession, String) => DataFrame = (_, _) => ???
    def q(name: String, sql: => String) = Query(name, noPlan, Sql(sql))
    // ProjString's two wrappings of an absent file (hgridshift, gridshift)
    val skipped = ProjString.Unsupported("grid absent.gsb")
      .initCause(Grids.GridMissing("absent.gsb"))
    val failed = ProjString.BadProjString("grid not found: absent.tif")
      .initCause(Grids.GridMissing("absent.tif"))
    val built = SparkEntry.oraclesOf(Seq(
      q("q_ok", "SELECT 1 AS x"),
      q("q_grid", throw Grids.GridMissing("absent.gsb")),
      q("q_skipped", throw skipped),
      q("q_failed", throw failed),
      Query("q_rows", noPlan, NoOracle("rows-only here"))))
    assert(built == Map("q_ok" -> "SELECT 1 AS x"))
    // any other builder failure is a regression and must propagate
    intercept[MatchError](SparkEntry.oraclesOf(Seq(
      q("q_ok", "SELECT 1 AS x"), q("q_bug", throw new MatchError(1)))))
    intercept[ProjString.Unsupported](SparkEntry.oraclesOf(Seq(
      q("q_op", throw ProjString.Unsupported("proj=nope")))))
    intercept[ProjString.BadProjString](SparkEntry.oraclesOf(Seq(
      q("q_typo", throw ProjString.BadProjString("no +proj= in 'x'")))))
  }
}
