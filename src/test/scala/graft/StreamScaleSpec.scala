package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates the committed STREAMING scale artifact (STREAMSCALE_r10.json,
  * produced by `graft.Probe stream`: the sf0.1 events corpus time-shifted to
  * 1×/4×/16× its length — per-hour density constant, stream LONGER,
  * the unbounded-stream deployment shape). The scale verdict signal is
  * PEAK STATE-STORE ROWS across all micro-batches
  * (StreamingQueryProgress.stateOperators.numRowsTotal): a watermarked
  * stateful operator must hold state proportional to its instantaneous
  * open horizon (open sessions / join range), NOT the stream's length.
  * Output rows must stay linear in the corpus (each time-shifted copy
  * contributes the same sessions / join pairs). Walls are recorded in
  * the artifact but not gated — micro-batch overhead dominates at
  * small mults and the shared box wobbles ±2× (measured 109 s vs 36 s
  * for identical 16× runs under load).
  *
  * Re-generate with `sbt "runMain graft.Probe stream"` after touching
  * the streaming operators.
  */
object StreamScaleSpec {
  case class P(op: String, mult: Int, rowsIn: Long, wall: Double,
      out: Long, batches: Long, maxState: Long, dropped: Long)

  /** The artifact's rows, read by field name. */
  def readPoints(f: java.io.File): Seq[P] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    val rs = root.get("results")
    (0 until rs.size).map { i =>
      val r = rs.get(i)
      P(r.get("op").asText, r.get("mult").asInt, r.get("rows_in").asLong,
        r.get("wall_s").asDouble, r.get("rows_out").asLong,
        r.get("batches").asLong, r.get("max_state_rows").asLong,
        r.get("dropped_by_watermark").asLong)
    }
  }
}

class StreamScaleSpec extends AnyFunSuite {
  import StreamScaleSpec._

  private lazy val points = {
    val f = new java.io.File("STREAMSCALE_r10.json")
    assume(f.exists(), "STREAMSCALE_r10.json not present")
    readPoints(f)
  }

  test("peak state-store rows stay FLAT while the stream grows 16x") {
    points.groupBy(_.op).foreach { case (op, ps) =>
      val sorted = ps.sortBy(_.mult)
      val base = sorted.head
      sorted.tail.foreach { p =>
        assert(p.maxState <= (base.maxState * 1.5).toLong + 64,
          s"$op: peak state grew ${base.maxState} -> ${p.maxState} " +
            s"at ${p.mult}x — state is tracking stream LENGTH, " +
            "not the open horizon (eviction broken at scale)")
      }
    }
  }

  test("output rows grow linearly with the corpus (per-copy structure preserved)") {
    // ttl_dedupe is the exception BY CLAIM: its output converges on the
    // distinct-key population (users x event types), which the
    // time-shifted copies do not grow — outputs must stay FLAT
    points.groupBy(_.op).foreach { case (op, ps) =>
      val sorted = ps.sortBy(_.mult)
      if (op == "ttl_dedupe") {
        val base = sorted.head
        sorted.tail.foreach(p =>
          assert(p.out <= (base.out * 1.2).toLong + 16,
            s"$op: rows_out grew ${base.out} -> ${p.out} at ${p.mult}x — " +
              "the dedupe is emitting duplicates as the stream grows"))
      } else sorted.sliding(2).foreach {
        case Seq(a, b) =>
          val dataStep = b.mult.toDouble / a.mult
          val outStep = b.out.toDouble / a.out
          assert(outStep <= dataStep * 1.3 && outStep >= dataStep / 1.3,
            s"$op: rows_out stepped ${outStep}x for ${dataStep}x data " +
              s"(${a.out} at ${a.mult}x -> ${b.out} at ${b.mult}x)")
        case _ => ()
      }
    }
  }

  test("micro-batch count grows with the stream (the probe ran the unbounded shape)") {
    points.groupBy(_.op).foreach { case (_, ps) =>
      val sorted = ps.sortBy(_.mult)
      assert(sorted.last.batches > sorted.head.batches,
        "the probe must feed more micro-batches at higher mults")
    }
  }

  test("all stateful families are present at every mult") {
    val byOp = points.groupBy(_.op)
    assert(byOp.keySet == Set("session_agg", "interval_join", "ttl_dedupe"))
    byOp.values.foreach(ps =>
      assert(Set(1, 4, 16).subsetOf(ps.map(_.mult).toSet)))
  }
}
