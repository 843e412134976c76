package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("cpus goes into the bench JSON as a number or an escaped string") {
    assert(Bench.cpusJson("8") == "8")
    assert(Bench.cpusJson(" 16 ") == "16")
    assert(Bench.cpusJson("*") == "\"*\"")
    val odd = "a\"b\\c\nd"
    val parsed = org.json4s.jackson.JsonMethods.parse(s"""{"cpus":${Bench.cpusJson(odd)}}""")
    assert((parsed \ "cpus") == org.json4s.JString(odd))
  }
}
