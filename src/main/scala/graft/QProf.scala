package graft

import graft.obs.JobProfile

/** Per-query job/stage profiler (guide §1: measure first).
  *
  * `runMain graft.QProf <query> [reps]` runs one declared query against
  * SPARK_GRAFT_SF_DIR and prints, per Spark job (read from
  * [[graft.obs.JobProfile]]): wall ms, stage count, task count, executor
  * run/cpu time, shuffle read/write bytes, and the job group/description —
  * so a multi-job query (localCheckpoints, adaptive counts, iterative
  * algorithms) shows where its wall time actually goes before anything is
  * changed.
  */
object QProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QProf <queryName...> [reps]")
    val (names, reps) =
      if (args.length > 1 && args.last.forall(_.isDigit))
        (args.dropRight(1).toSeq, args.last.toInt)
      else (args.toSeq, 2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.get()
    val profile = JobProfile.attach(spark.sparkContext)

    def once(name: String, tag: String): Double = {
      profile.drain().take()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val prof = profile.drain().take()
      val rows = prof.jobs.filter(_.endMs >= 0).map(j => (j, prof.countsOf(j.id)))
      println(f"== $name $tag: wall $wall%.3f s, ${rows.size} jobs ==")
      val jobSum = rows.map(_._1.wallMs).sum
      println(f"   sum(job walls) ${jobSum / 1000.0}%.3f s  " +
        f"(driver gap ${wall - jobSum / 1000.0}%.3f s)")
      rows.sortBy(-_._1.wallMs).take(25).foreach { case (j, c) =>
        println(f"   job ${j.id}%3d ${j.wallMs}%6d ms  stages=${j.stageIds.size}%2d " +
          f"tasks=${c.tasks}%4d run=${c.runMs}%6d cpu=${c.cpuMs}%6d " +
          f"shufR=${c.shuffleReadBytes}%9d shufW=${c.shuffleWriteBytes}%9d " +
          f"spill=${c.spillBytes}%9d  ${j.description.take(60)}")
      }
      // duplicate-eval signature: two jobs in one run reading the same
      // shuffle bytes with both cpu-heavy (range-sampling re-evaluation)
      val heavies = rows.filter(_._2.cpuMs > 300).groupBy(_._2.shuffleReadBytes)
        .filter { case (_, g) => g.size >= 2 }
      heavies.foreach { case (sr, g) =>
        println(s"   DUP-EVAL? shufR=$sr jobs=${g.map(_._1.id).mkString(",")} " +
          s"cpuMs=${g.map(_._2.cpuMs).mkString(",")}")
      }
      wall
    }
    names.foreach { name =>
      try {
        once(name, "warmup")
        val timed = (1 to reps).map(i => once(name, s"run$i"))
        println(f"== $name best of $reps: ${timed.min}%.3f s ==")
      } catch { case e: Throwable =>
        println(s"== $name FAILED: ${e.getMessage} ==")
      }
    }
    spark.stop()
  }
}
