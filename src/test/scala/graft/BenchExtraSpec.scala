package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchExtraSpec extends AnyFunSuite {
  test("a failed query is null, listed as failed and left out of the total") {
    val json = BenchExtra.summary(
      Seq("a" -> Some(1.25), "b" -> None, "c" -> Some(0.5)), "sf", "after")
    assert(json.contains(""""value":1.750,"""))
    assert(json.contains(""""queries":{"a":1.250,"b":null,"c":0.500}"""))
    assert(json.contains(""""failed":["b"]"""))
  }
}
