package graft

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("oracle JSON escapes builder-authored SQL") {
    val json = Verify.oracleJson(Map("q_a" -> "SELECT 1\tAS \"x\"\n"))
    assert(json == """{"q_a": "SELECT 1\tAS \"x\"\n"}""")
  }

  test("a throwing oracle builder leaves a marker, not an empty map") {
    val json = Verify.oracleJson(throw new IllegalStateException("grid \"x\" missing"))
    assert(json == """{"_oracle_error": "grid \"x\" missing"}""")
  }
}
