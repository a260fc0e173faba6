package graft

import graft.Bench.PlanFp

/** Compares two result files written by [[Bench]]
  * (`BENCH_RESULT_<sf>[_c<cores>].json`): regressions, plan changes,
  * failed queries and queries present on one side only.
  *
  * Usage: sbt "runMain graft.BenchDiff <base.json> <head.json>". A slow
  * creep across many changes is the same diff against an older result
  * file. Files from before plan fingerprints were recorded diff on
  * timings alone.
  */
object BenchDiff {
  final case class Result(queries: Map[String, Double], plans: Map[String, PlanFp])

  def parse(json: String): Result = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    def fields(key: String) =
      Option(root.get(key)).map(_.properties.asScala.map(e => e.getKey -> e.getValue).toMap)
        .getOrElse(Map.empty)
    Result(
      fields("queries").map { case (k, v) => k -> v.asDouble },
      fields("plans").map { case (k, v) => k -> PlanFp(v.get("hash").asText,
        v.get("nodes").asInt, v.get("exchanges").asInt, v.get("sorts").asInt,
        v.get("joins").asInt) })
  }

  /** A REGRESSION must clear BOTH a relative bar (1.5×) and an absolute
    * one (+0.5 s): sub-second queries drift ±0.2-0.4 s with session state
    * (codegen-cache/registry floor) while their plans are untouched, and a
    * real plan defect on any query that matters at scale moves seconds,
    * not fractions of the JVM floor. PlanAuditSpec pins the plan shapes
    * the floor can't excuse. */
  def isRegression(base: Double, head: Double): Boolean =
    head >= 0.3 && base >= 0.1 && head > base * 1.5 && head - base > 0.5

  /** One line per finding, by query name. */
  def diff(base: Result, head: Result): scala.Seq[String] =
    (base.queries.keySet ++ head.queries.keySet).toSeq.sorted.flatMap { n =>
      (base.queries.get(n), head.queries.get(n)) match {
        case (Some(_), None) => scala.Seq(s"missing $n: in base only")
        case (None, Some(_)) => scala.Seq(s"missing $n: in head only")
        case (Some(b), Some(h)) =>
          val failed =
            if (h < 0) scala.Seq(s"FAILED $n: -1 in head" + (if (b < 0) " and base" else ""))
            else if (b < 0) scala.Seq(s"FAILED $n: -1 in base")
            else Nil
          val regressed =
            if (isRegression(b, h))
              scala.Seq(f"REGRESSION $n: $b%.2f s -> $h%.2f s (+${(h / b - 1) * 100}%.0f%%)")
            else Nil
          val plan = (base.plans.get(n), head.plans.get(n)) match {
            case (Some(p), Some(q)) if p.hash != q.hash =>
              scala.Seq(s"plan change $n: nodes ${p.nodes}->${q.nodes} " +
                s"exchanges ${p.exchanges}->${q.exchanges} sorts ${p.sorts}->${q.sorts} " +
                s"joins ${p.joins}->${q.joins} (hash ${p.hash}->${q.hash})")
            case _ => Nil
          }
          failed ++ regressed ++ plan
        case (None, None) => Nil
      }
    }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.BenchDiff <base.json> <head.json>")
      sys.exit(2)
    }
    def read(p: String) =
      parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    val lines = diff(read(args(0)), read(args(1)))
    if (lines.isEmpty) println("no regressions, plan changes, failures or missing queries")
    else lines.foreach(println)
  }
}
