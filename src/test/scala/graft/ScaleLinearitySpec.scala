package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates the committed scale-probe artifacts (SCALE_r10.json at sf0.1 ×
  * {1,4,16}, plus SCALE_r10_64x.json and SCALE_r10_256x.json for the
  * families probed deeper, all produced by `graft.Probe scale` on an idle
  * box): wall-clock per 4× data step must stay within LINEAR_SLACK of
  * linear for every probed operator family, the fitted log-log
  * wall-vs-mult slope must stay ≤ SLOPE_MAX (the trend gate — stepwise
  * slack compounds to 1.69× over two steps, a regression fit catches the
  * same drift a round earlier),
  * pair-emitting operators must not blow up their output super-linearly,
  * and measured SHUFFLE BYTES must grow near-linearly (the noise-free
  * signal: wall-clock on this shared host wobbles ±2× between identical
  * runs, byte counters don't). A hidden quadratic (cross join,
  * unpartitioned window, hot LSH bucket, driver collect) shows up here
  * as a >5.2× step long before any cluster sees it — the probe's first
  * run caught exactly that (36M candidates for 1k true pairs in
  * MinHash-LSH).
  *
  * The artifacts are committed rather than re-measured per test run: the
  * probe takes minutes at 16× and timing under sbt-test co-scheduling
  * is meaningless. Re-generate with
  * `sbt "runMain graft.Probe scale"` after touching any probed operator.
  * A family's steps compare rows across the three files, so regenerate a
  * family WHOLE, every mult the files hold for it, on one box: e.g.
  * `--ops <op> --out SCALE_r10.json 1 4 16`, then `--ops <op> --out
  * SCALE_r10_64x.json 64` (and 256× likewise) — the probe merges its rows
  * into each file and keeps every other family's. A 4-core row next to a
  * 32-core row makes the step between them meaningless.
  */
class ScaleLinearitySpec extends AnyFunSuite {
  private val LinearSlack = 1.3 // per 4× step: ≤ 1.3 × linear growth
  private val SlopeMax = 1.15 // log-log wall-vs-mult regression slope cap
  // sub-second measurements ride the Spark scheduling floor; a step
  // FROM a floor-dominated point can't indict the operator
  private val FloorSec = 1.0

  private case class P(op: String, mult: Int, wall: Double, out: Long,
      cross: Long, shuffle: Long, spill: Long, records: Long,
      spillDisk: Long) {
    /** A point that SPILLS more than it SHUFFLES is memory-thrash-bound
      * on this single box: its wall measures disk/GC pressure and its
      * run-to-run variance, not plan growth (jaccard 64× measured
      * 168→256 s across four runs of identical code while its byte
      * counters reproduced to five digits). Wall gates skip such
      * points; the noise-free BYTE gates, pair-output gates, and
      * cross-copy gates still cover them in full.
      *
      * Rows that carry `spill_disk` (r9 late) key the exclusion on the
      * bytes that actually HIT DISK: the legacy `spill_bytes` sums
      * memoryBytesSpilled, an accounting metric counted per spill pass
      * at in-memory width — any exchange targeting >200 partitions
      * runs the sort-based shuffle writer and inflates it wildly
      * (measured: 94.6 GB "spill" on a stage that wrote 2.47 GB, with
      * ~2 GB touching disk). Older rows without the field keep the
      * legacy rule. */
    def spillBound: Boolean =
      if (spillDisk >= 0) shuffle >= 0 && spillDisk > shuffle
      else spill >= 0 && shuffle >= 0 && spill > shuffle
  }

  private def readPoints(f: java.io.File): Seq[P] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val rs = root.get("results")
    (0 until rs.size).map { i =>
      val r = rs.get(i)
      P(r.get("op").asText, r.get("mult").asInt,
        r.get("wall_s").asDouble, r.get("rows_out").asLong,
        if (r.has("cross_pairs")) r.get("cross_pairs").asLong else -1L,
        if (r.has("shuffle_bytes")) r.get("shuffle_bytes").asLong else -1L,
        if (r.has("spill_bytes")) r.get("spill_bytes").asLong else -1L,
        if (r.has("shuffle_records")) r.get("shuffle_records").asLong else -1L,
        if (r.has("spill_disk")) r.get("spill_disk").asLong else -1L)
    }
  }

  private lazy val points: Seq[P] = {
    val f = new java.io.File("SCALE_r10.json")
    assert(f.exists, "SCALE_r10.json missing — run `sbt \"runMain graft.Probe scale\"`")
    // the worst-growing families carry an extra 64× point (probed with
    // --ops so the full suite doesn't pay 64× corpus cost); merging it
    // here puts the deeper tail under the same step + slope gates
    val f64 = new java.io.File("SCALE_r10_64x.json")
    // the r10-attributed families carry a further 256× point (1.28M
    // docs) pinning the exchange-sizing fixes at the scale where the
    // spill lived
    val f256 = new java.io.File("SCALE_r10_256x.json")
    readPoints(f) ++ (if (f64.exists) readPoints(f64) else Seq.empty) ++
      (if (f256.exists) readPoints(f256) else Seq.empty)
  }

  test("probe covers every scale-sensitive operator family at 1x/4x/16x") {
    val want = Set("jaccard_join", "minhash_pairs", "cc_dedup", "bloom_anti",
      "tfidf_topk", "semdedup", "kmeans_largek", "sessionize", "pagerank",
      "funnel", "retention", "ann_ivf", "bm25", "simhash_pairs",
      "embed_neardup", "shared_passages", "contamination")
    val got = points.groupBy(_.op).map { case (op, ps) => op -> ps.map(_.mult).toSet }
    want.foreach { op =>
      assert(got.get(op).exists(ms => Set(1, 4, 16).subsetOf(ms)),
        s"$op missing 1x/4x/16x points in SCALE_r10.json (got ${got.get(op)})")
    }
  }

  test("shuffle RECORDS grow near-linearly (compression- and noise-free)") {
    // Written shuffle records are the cleanest data-growth signal:
    // immune to wall noise AND to codec adjacency (r9: jaccard's
    // verify exchange compressed 20× at 32 output partitions but 9× at
    // 205, so exactly-linear records read as a 1.76×-of-linear BYTE
    // step — the r8 verdict's one unexplained signal). Tighter slack
    // than the byte gate: 1.5× per step, floor 1M records.
    val FloorRecords = 1000000L
    points.filter(_.records >= 0).groupBy(_.op).foreach { case (op, ps) =>
      ps.sortBy(_.mult).sliding(2).foreach {
        case Seq(lo, hi) =>
          val factor = hi.mult.toDouble / lo.mult
          val ratio = hi.records.toDouble / math.max(lo.records, 1L)
          assert(lo.records < FloorRecords || ratio <= factor * 1.5,
            f"$op ${lo.mult}x->${hi.mult}x shuffle records grew $ratio%.2fx " +
              f"(${lo.records} -> ${hi.records}) for ${factor}%.0fx data — " +
              "super-linear exchange row count")
        case _ => ()
      }
    }
  }

  test("log-log byte and record slopes stay bounded (byte-trend gate)") {
    // Mirrors the wall slope gate: per-step slack
    // compounds, a regression fit bounds the TREND. Records get the
    // wall's 1.15 cap (they are exact row counts); compressed bytes get
    // 1.3 — partition-count codec-adjacency effects legitimately bend
    // the byte curve (measured 2.3× bytes/record on identical data at
    // 205 vs 32 partitions) while a real quadratic pushes the slope
    // toward 2 regardless.
    val FloorBytes = 64L << 20
    def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
      val xm = xs.sum / xs.size
      val ym = ys.sum / ys.size
      val cov = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum
      cov / xs.map(x => (x - xm) * (x - xm)).sum
    }
    points.groupBy(_.op).foreach { case (op, ps) =>
      val byBytes = ps.sortBy(_.mult).filter(p => p.shuffle >= FloorBytes)
      if (byBytes.size >= 3) {
        val s = slope(byBytes.map(p => math.log(p.mult.toDouble)),
          byBytes.map(p => math.log(p.shuffle.toDouble)))
        assert(s <= 1.3,
          f"$op log-log shuffle-BYTE slope $s%.3f > 1.3 (" +
            byBytes.map(p => s"${p.mult}x=${p.shuffle}").mkString(", ") +
            ") — super-linear byte trend")
      }
      val byRec = ps.sortBy(_.mult).filter(p => p.records >= 1000000L)
      if (byRec.size >= 3) {
        val s = slope(byRec.map(p => math.log(p.mult.toDouble)),
          byRec.map(p => math.log(p.records.toDouble)))
        assert(s <= 1.15,
          f"$op log-log shuffle-RECORD slope $s%.3f > 1.15 (" +
            byRec.map(p => s"${p.mult}x=${p.records}").mkString(", ") +
            ") — super-linear row-count trend")
      }
    }
  }

  test("shuffle bytes grow near-linearly (the noise-free scale signal)") {
    // Wall-clock on this shared host wobbles ±2× between runs of
    // identical code; the bytes a plan exchanges don't. A quadratic
    // candidate blowup or a join that stops pruning shows up here as
    // super-linear byte growth with zero timing noise. Slack 2.0 covers
    // content-dependent variation (bucket skew, AQE plan switches at
    // small scale); steps whose base is under 64 MB are excluded — tiny
    // shuffles are dominated by per-partition fixed overheads.
    val FloorBytes = 64L << 20
    points.filter(_.shuffle >= 0).groupBy(_.op).foreach { case (op, ps) =>
      ps.sortBy(_.mult).sliding(2).foreach {
        case Seq(lo, hi) =>
          val factor = hi.mult.toDouble / lo.mult
          val ratio = hi.shuffle.toDouble / math.max(lo.shuffle, 1L)
          assert(lo.shuffle < FloorBytes || ratio <= factor * 2.0,
            f"$op ${lo.mult}x->${hi.mult}x shuffle bytes grew $ratio%.2fx " +
              f"(${lo.shuffle} -> ${hi.shuffle}) for ${factor}%.0fx data — " +
              "super-linear exchange volume")
        case _ => ()
      }
    }
  }

  test("wall-clock growth per 4x step stays near-linear for every operator") {
    // every violating step of every family, in family order, in one
    // failure message (an assert per step stops at the first one)
    val violations = points.groupBy(_.op).toSeq.sortBy(_._1).flatMap { case (op, ps) =>
      ps.sortBy(_.mult).sliding(2).flatMap {
        case Seq(lo, hi) =>
          val factor = hi.mult.toDouble / lo.mult
          val ratio = hi.wall / math.max(lo.wall, 0.01)
          // 64× points come from targeted --ops runs on this shared-host
          // box, where repeat runs of IDENTICAL code measured 140→300 s
          // (±2×); the tight slack would gate machine noise, so the 64×
          // step gets 2.5× and the trend is held by the slope gate +
          // the structural gates (pair counts, cross-copy mass), which
          // are noise-free
          val slack = if (hi.mult >= 64) 2.5 else LinearSlack
          val allowed = factor * slack
          if (lo.wall < FloorSec || lo.spillBound || hi.spillBound ||
              ratio <= allowed) None
          else Some(f"$op ${lo.mult}x->${hi.mult}x wall grew $ratio%.2fx " +
            f"(allowed ${allowed}%.2fx for ${factor}%.0fx data): " +
            f"${lo.wall}%.2fs -> ${hi.wall}%.2fs")
        case _ => None
      }
    }
    assert(violations.isEmpty, "— hidden super-linearity")
  }

  test("log-log wall-vs-mult slope stays <= 1.15 (trend gate)") {
    // Stepwise 1.3× slack compounds (1.69× over two 4× steps); a least-
    // squares fit of ln(wall) on ln(mult) across ALL points above the
    // scheduling floor bounds the TREND instead, catching an emerging
    // quadratic (slope → 2) a round earlier at the same probe cost.
    // Points under FloorSec are excluded — they measure the scheduler,
    // not the operator — as are spill-bound points (see P.spillBound);
    // a fit needs ≥ 2 usable points.
    points.groupBy(_.op).foreach { case (op, ps) =>
      val usable = ps.sortBy(_.mult)
        .filter(p => p.wall >= FloorSec && !p.spillBound)
      if (usable.size >= 2) {
        val xs = usable.map(p => math.log(p.mult.toDouble))
        val ys = usable.map(p => math.log(p.wall))
        val xm = xs.sum / xs.size
        val ym = ys.sum / ys.size
        val cov = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum
        val varX = xs.map(x => (x - xm) * (x - xm)).sum
        val slope = cov / varX
        assert(slope <= SlopeMax,
          f"$op log-log slope $slope%.3f > $SlopeMax (walls " +
            usable.map(p => f"${p.mult}x=${p.wall}%.2fs").mkString(", ") +
            ") — super-linear trend")
      }
    }
  }

  test("pair outputs scale near-linearly (no candidate blowup)") {
    // exact-verified emitters only (Jaccard ≥ threshold): their per-copy
    // pair counts are stable under the replica relabeling, so total
    // growth is meaningful. Threshold-on-hash emitters (simhash Hamming,
    // winnowing minShared) are excluded — their totals are hypersensitive
    // to the per-copy relabeling (measured simhash per-copy counts at
    // 4×: 607/2141/688/3023) — and gated on cross-copy mass instead.
    val pairOps = Set("jaccard_join", "minhash_pairs")
    points.filter(p => pairOps(p.op)).groupBy(_.op).foreach { case (op, ps) =>
      val byMult = ps.sortBy(_.mult)
      byMult.sliding(2).foreach {
        case Seq(lo, hi) =>
          val factor = hi.mult.toDouble / lo.mult
          val ratio = hi.out.toDouble / math.max(lo.out, 1L)
          assert(ratio <= factor * 2.0,
            f"$op ${lo.mult}x->${hi.mult}x output grew $ratio%.1fx " +
              f"(${lo.out} -> ${hi.out}) for ${factor}%.0fx data — " +
              "candidate-generation blowup (hot buckets?)")
        case _ => ()
      }
    }
  }

  test("cross-copy pair mass stays ~zero (no false-collision blowup)") {
    // replica copies are mutually unrelated by construction, so every
    // cross-copy pair is a false collision. Quadratic blowup puts
    // (m-1)/2 × the within-copy mass cross-copy at m copies (7.5× at
    // 16×, 31.5× at 64×); a healthy emitter keeps it ≈ 0. Gate as a
    // FRACTION — ≤ 0.5% of total (sharp against the 88%+ a quadratic
    // would show) — with a tiny absolute floor for birthday-level
    // chance collisions: winnowing selects ~n_shingles/w fingerprints
    // per copy from a 26^k 5-gram space, so at 64 copies a handful of
    // cross-copy fingerprint coincidences clearing minShared=2 is the
    // expected residual (the 64× point measures 21 of 11,270 = 0.19%),
    // not a candidate-blowup signature, which would be thousands-fold.
    // r8 spot-decode of the 21: every one is a GENUINE identical
    // 5-gram across copies — space-heavy grams of single-letter words
    // ("u u d", "s p s", "t y i"), which the per-copy alphabet
    // bijection maps into a small (26³) birthday space; each pair
    // shares exactly minShared=2 such grams. Real shared substrings of
    // the replica construction, not emitter false positives.
    val pairPoints = points.filter(_.cross >= 0)
    assert(pairPoints.map(_.op).toSet == Set("jaccard_join",
      "minhash_pairs", "simhash_pairs", "shared_passages"),
      s"expected cross_pairs on the four pair emitters, got ${pairPoints.map(_.op).toSet}")
    pairPoints.filter(_.mult > 1).foreach { p =>
      val allowed = math.max(16L, (0.005 * p.out).toLong)
      assert(p.cross <= allowed,
        s"${p.op} ${p.mult}x: ${p.cross} cross-copy pairs of ${p.out} " +
          s"total (allowed $allowed = max(16, 0.5%)) — false-collision blowup")
    }
  }
}
