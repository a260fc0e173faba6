package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  test("percentile interpolates linearly between closest ranks") {
    val xs = (1 to 10).map(_.toDouble)
    assert(close(percentile(xs, 90), 9.1))
    assert(close(percentile(Seq(4.0, 1.0, 3.0, 2.0), 50), 2.5))
    assert(close(percentile(Seq(10.0, 20.0, 30.0), 25), 15.0))
    assert(percentile(xs, 0) == 1.0 && percentile(xs, 100) == 10.0)
    assert(percentile(Seq(7.0), 90) == 7.0)
    assert(close(median(Seq(3.0, 1.0, 2.0)), 2.0))
  }

  test("highest percentile keeps at least ten samples beyond it") {
    assert(highestSupported(100).contains(90.0)) // 10 samples above p90
    assert(highestSupported(99).contains(50.0)) // 9.9 above p90 is too few
    assert(highestSupported(1000).contains(99.0))
    assert(highestSupported(10000).contains(99.9))
    assert(highestSupported(20).contains(50.0))
    assert(highestSupported(19).isEmpty)
  }

  test("quartiles match Python's statistics.quantiles(n=4)") {
    def q(xs: Double*) = quartiles(xs)
    // reference values printed by CPython's statistics.quantiles(data, n=4)
    val cases = Seq(
      (1 to 10).map(_.toDouble) -> (2.75, 5.5, 8.25),
      Seq(1.0, 2.0) -> (0.75, 1.5, 2.25),
      Seq(3.0, 1.0, 2.0) -> (1.0, 2.0, 3.0),
      Seq(5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0) -> (2.0, 4.0, 7.0),
      Seq(0.5, 0.7, 0.6, 0.9, 0.55, 0.8, 0.65, 0.75, 0.62, 0.58) -> (0.5725, 0.635, 0.7625))
    cases.foreach { case (xs, (a, b, c)) =>
      val (x, y, z) = q(xs: _*)
      assert(close(x, a) && close(y, b) && close(z, c), s"$xs -> ($x, $y, $z)")
    }
    assertThrows[IllegalArgumentException](q(1.0))
  }

  test("interval union merges overlaps and ignores empty intervals") {
    assert(merge(Seq((5L, 7L), (0L, 2L), (1L, 3L), (6L, 9L), (4L, 4L), (8L, 6L))) ==
      List((0L, 3L), (5L, 9L)))
    assert(unionLength(Seq((0L, 10L), (2L, 3L), (9L, 12L))) == 12L) // nested + overlap
    assert(unionLength(Seq((0L, 1L), (1L, 2L))) == 2L) // touching
    assert(unionLength(Nil) == 0L)
  }

  test("covered time is clipped to the window, which is how the driver gap is taken") {
    // an operation from 100 to 200 ms; jobs at 90-120, 150-160, 155-170, 190-250
    val jobs = Seq((90L, 120L), (150L, 160L), (155L, 170L), (190L, 250L))
    val covered = coveredWithin(jobs, 100L, 200L)
    assert(covered == 20L + 20L + 10L)
    assert(100L - covered == 50L) // driver gap: wall minus the union of job intervals
    assert(coveredWithin(jobs, 300L, 400L) == 0L)
  }

  test("digests ignore order but see every missing, extra or duplicated element") {
    val a = Digest.ofStrings(Seq("1", "2", "3"))
    assert(a == Digest.ofStrings(Seq("3", "1", "2")))
    assert(a.count == 3)
    assert(a != Digest.ofStrings(Seq("1", "2")))
    assert(a != Digest.ofStrings(Seq("1", "2", "3", "3")))
    assert(a != Digest.ofStrings(Seq("1", "2", "4")))
    assert(Digest.ofStrings(Seq("x", "y")) != Digest.ofStrings(Seq("xy")))
    assert(Digest.ofStrings(Seq("a")).add(hashString("b")) == Digest.ofStrings(Seq("b", "a")))
    assert(Digest.empty.render == "0:0000000000000000")
    assert(hashString("é") != hashString("e"))
  }

  test("canonical doubles are rounded and fold -0 to 0") {
    assert(canonicalDouble(0.1 + 0.2) == "0.3")
    assert(canonicalDouble(-0.0) == "0" && canonicalDouble(1e-9) == "0")
    assert(canonicalDouble(2.5) == "2.5" && canonicalDouble(100.0) == "100")
  }
}
