package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.PlanFp
import graft.BenchDiff.Result

class BenchDiffSpec extends AnyFunSuite {
  private def result(qs: (String, Double)*): Result = Result(qs.toMap, Map.empty)

  test("a regression must clear both the 1.5x and the +0.5 s bar") {
    val base = result("a" -> 2.0, "b" -> 0.4, "c" -> 2.0, "d" -> 0.05)
    // a: 1.6x and +1.2 s; b: 2.5x and +0.6 s; c: +0.9 s but only 1.45x;
    // d: a base under 0.1 s is never compared
    val head = result("a" -> 3.2, "b" -> 1.0, "c" -> 2.9, "d" -> 3.0)
    assert(BenchDiff.diff(base, head) == Seq(
      "REGRESSION a: 2.00 s -> 3.20 s (+60%)",
      "REGRESSION b: 0.40 s -> 1.00 s (+150%)"))
    // 2x but only +0.4 s
    assert(BenchDiff.diff(result("e" -> 0.4), result("e" -> 0.8)).isEmpty)
    // +0.6 s but 1.3x
    assert(BenchDiff.diff(result("f" -> 2.0), result("f" -> 2.6)).isEmpty)
  }

  test("a plan change is named with its node, exchange, sort and join counts") {
    val base = Result(Map("q" -> 1.0), Map("q" -> PlanFp("aaaa0001", 8, 1, 2, 0)))
    val head = Result(Map("q" -> 1.0), Map("q" -> PlanFp("bbbb0002", 11, 2, 2, 1)))
    assert(BenchDiff.diff(base, head) == Seq(
      "plan change q: nodes 8->11 exchanges 1->2 sorts 2->2 joins 0->1 (hash aaaa0001->bbbb0002)"))
    assert(BenchDiff.diff(base, base).isEmpty)
  }

  test("failed (-1) and one-sided queries are reported") {
    val base = result("ok" -> 1.0, "gone" -> 1.0, "broke" -> 1.0, "fixed" -> -1.0)
    val head = result("ok" -> 1.0, "new" -> 1.0, "broke" -> -1.0, "fixed" -> 1.0)
    assert(BenchDiff.diff(base, head) == Seq(
      "FAILED broke: -1 in head",
      "FAILED fixed: -1 in base",
      "missing gone: in base only",
      "missing new: in head only"))
  }

  test("parses a result file as Bench writes it, with or without plans") {
    val withPlans = BenchDiff.parse(
      """{"metric":"total","value":1.5,"unit":"sec","n":2,"sf":"/x/sf0.1","cores":4,""" +
        """"load":0.50,"contended":false,"failed":1,"queries":{"q1":1.5000,"q2":-1.0000},""" +
        """"plans":{"q1":{"hash":"0000abcd","nodes":3,"exchanges":1,"sorts":0,"joins":0}}}""")
    assert(withPlans == Result(Map("q1" -> 1.5, "q2" -> -1.0),
      Map("q1" -> PlanFp("0000abcd", 3, 1, 0, 0))))
    val old = BenchDiff.parse("""{"metric":"total","value":1.0,"queries":{"q1":1.0}}""")
    assert(old == Result(Map("q1" -> 1.0), Map.empty))
  }
}
