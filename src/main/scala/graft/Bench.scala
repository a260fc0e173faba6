package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, 1 warmup + 3 timed runs each, and writes the
  * per-query median wall seconds and plan fingerprints to
  * `BENCH_RESULT_<sf>[_c<cores>].json`. Its last stdout line is the
  * compact protocol line (BASELINE.md). Bench only measures and writes:
  * comparing two result files is [[BenchDiff]]'s job.
  */
object Bench {
  /** Plan FINGERPRINT of a query: the pre-AQE physical plan's node names
    * and tree shape (expr-ids stripped by using nodeName only), which is
    * deterministic for fixed code and data. A wall regression WITH a
    * fingerprint change names its own cause (the plan moved); one WITHOUT
    * points at machine state. The counts say what kind of node appeared. */
  final case class PlanFp(hash: String, nodes: Int, exchanges: Int,
      sorts: Int, joins: Int) {
    def json: String =
      s"""{"hash":"$hash","nodes":$nodes,"exchanges":$exchanges,""" +
        s""""sorts":$sorts,"joins":$joins}"""
  }

  def planFingerprint(df: org.apache.spark.sql.DataFrame): PlanFp = {
    val sb = new StringBuilder
    var nodes = 0; var ex = 0; var so = 0; var jo = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
      sb.append(d).append(':').append(p.nodeName).append('\n')
      nodes += 1
      val n = p.nodeName
      if (n.contains("Exchange")) ex += 1
      if (n.contains("Sort")) so += 1
      if (n.contains("Join")) jo += 1
      p.children.foreach(walk(_, d + 1))
    }
    walk(df.queryExecution.sparkPlan, 0)
    PlanFp(f"${scala.util.hashing.MurmurHash3.stringHash(sb.toString)}%08x",
      nodes, ex, so, jo)
  }

  def main(args: Array[String]): Unit = {
    // optional args = query-name filter (dev loop); a full-suite run passes none
    val names = Probe.orExit(Probe.select(args.toSeq), "usage: graft.Bench [query ...]")
    val sfDir = Probe.sfDir
    val spark = Sessions.get()

    // "cores" is the SESSION's parallelism (SPARK_GRAFT_CPUS drives
    // local[N] + shuffle.partitions in Sessions), not the host's core
    // count: a scaling run sets CPUS=8 on a 32-core host and reads this
    // field to confirm the env was honored.
    val cores = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(Sessions.DefaultCpus)
    // A bench co-scheduled with other work produces 1.5-3x inflated
    // timings: the 1-min load average at start goes into the protocol
    // line so readers can discount a loaded run.
    val loadAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage // -1 if unsupported

    def median(xs: scala.Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val fps = scala.collection.mutable.Map[String, PlanFp]()
    val results = names.map { name =>
      try {
        // build once for the fingerprint, then warm up on the built frame
        // — warmup wall is discarded either way, and for the streaming
        // gates (whose BUILDER runs the stream) this avoids one extra
        // full stream execution per query
        val df = SparkEntry.queries(name)(spark, sfDir)
        try fps(name) = planFingerprint(df) catch { case _: Throwable => () }
        Probe.execute(df) // warmup
        name -> median((1 to 3).map(_ => Probe.execute(SparkEntry.queries(name)(spark, sfDir))))
      } catch { case _: Throwable => name -> -1.0 }
    }

    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.filter(_._2 < 0)
    // The stdout protocol line stays compact, so it survives a 2,000-char
    // log tail; the per-query map goes only to BENCH_RESULT_<sf>.json.
    val resultLine =
      f"""{"metric":"total","value":$total%.4f,"unit":"sec","n":${results.size},"sf":"$sfDir","cores":$cores,"load":$loadAtStart%.2f,"failed":${failed.size}}"""
    // Full-suite runs only, so a filtered dev loop never clobbers it with a
    // partial total. Non-default core counts (scaling runs) get
    // their own file so the default-core snapshot is never overwritten.
    if (args.isEmpty) {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
        .mkString("{", ",", "}")
      val plans = fps.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v.json }.mkString("{", ",\n ", "}")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          s"BENCH_RESULT_${new java.io.File(sfDir).getName}" +
            (if (cores == Sessions.DefaultCpus) "" else s"_c$cores") + ".json"),
        (resultLine.stripSuffix("}") + s""","queries":$qs,"plans":$plans}""" + "\n")
          .getBytes("UTF-8"))
    }
    failed.foreach { case (name, _) =>
      System.err.println(s"[bench] FAILED $name (-1)")
    }
    spark.stop()
    // The protocol line is printed LAST, after all close-out chatter, so a
    // reader that keeps only a bounded log tail still has it.
    println(resultLine)
  }
}
