package graftbench

/** Pure helpers behind the reported numbers: percentiles, quartiles,
  * interval unions (driver gap, span self time) and order-insensitive
  * digests. No Spark here, so they are unit-tested directly. */
object Stats {

  /** Percentile `p` (0..100) by linear interpolation between closest ranks
    * (the "linear" method of NumPy and R type 7). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of `candidates` that still has at least `beyond` samples
    * above it among `n`, or None when even the lowest has fewer. */
  def highestSupported(n: Int, candidates: Seq[Double] = Seq(50, 90, 99, 99.9),
      beyond: Int = 10): Option[Double] =
    candidates.sorted.reverse.find(p => n * (1 - p / 100.0) >= beyond - 1e-9)

  /** First, second and third quartile exactly as Python's
    * `statistics.quantiles(data, n=4)` (the default "exclusive" method). */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val d = xs.sorted
    val ld = d.length
    val m = ld + 1
    def q(i: Int): Double = {
      val j = math.max(1, math.min(ld - 1, i * m / 4))
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  /** Total length covered by the union of half-open intervals [s, e). */
  def unionLength(iv: Seq[(Long, Long)]): Long =
    merge(iv).map { case (s, e) => e - s }.sum

  /** Length of `[from, to)` that the union of `iv` covers. */
  def coveredWithin(iv: Seq[(Long, Long)], from: Long, to: Long): Long =
    unionLength(iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) })

  /** Sorted, non-overlapping union; empty and inverted intervals drop out. */
  def merge(iv: Seq[(Long, Long)]): List[(Long, Long)] =
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  // ---------- digests ----------

  /** SplitMix64 finalizer: a strong 64-bit mix of a 64-bit value. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** FNV-1a over the UTF-8 bytes, finalised with [[mix64]]. */
  def hashString(s: String): Long = {
    var h = 0xCBF29CE484222325L
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h = (h ^ (b & 0xFF)) * 0x100000001B3L
    }
    mix64(h)
  }

  /** Order-insensitive multiset digest: element hashes summed modulo 2^64.
    * A missing, extra or duplicated element changes it; reordering does
    * not. Rendered with the element count so an empty set reads as such. */
  final case class Digest(count: Long, sum: Long) {
    def add(h: Long): Digest = Digest(count + 1, sum + h)
    def render: String = f"$count:${sum}%016x"
  }
  object Digest {
    val empty: Digest = Digest(0, 0)
    def ofStrings(xs: Iterable[String]): Digest =
      xs.foldLeft(empty)((d, x) => d.add(hashString(x)))
  }

  /** Canonical text of a double for row digests: rounded to 6 decimals,
    * -0 folded to 0. */
  def canonicalDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
      if (r.signum == 0) "0" else r.bigDecimal.stripTrailingZeros.toPlainString
    }
}
