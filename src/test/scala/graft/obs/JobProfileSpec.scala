package graft.obs

import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class JobProfileSpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.builder("4").getOrCreate()

  test("a two-stage shuffle job: one job, two stages, tasks per partition, shuffle bytes balance") {
    // no adaptive re-planning, so the aggregation is one job of two stages
    // whose reduce side has exactly the configured partitions
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.shuffle.partitions", "3")
    val profile = JobProfile.attach(session.sparkContext)
    try {
      profile.drain().take()
      val df = session.range(0, 1000, 1, 5).groupBy((col("id") % 7).as("k")).count()
      assert(df.collect().length == 7)
      val p = profile.drain().take()
      assert(p.jobs.size == 1)
      val job = p.jobs.head
      assert(job.endMs >= job.startMs && job.wallMs >= 0)
      assert(p.stages.size == 2 && p.stages.forall(_.jobId == job.id))
      assert(p.stages.map(_.id).toSet == job.stageIds.toSet)
      val Seq(map, reduce) = p.stages.sortBy(_.id)
      assert(map.counts.tasks == 5 && reduce.counts.tasks == 3)
      assert(map.taskRunMs.size == 5 && reduce.taskRunMs.size == 3)
      assert(map.counts.shuffleWriteBytes > 0)
      assert(reduce.counts.shuffleReadBytes == map.counts.shuffleWriteBytes)
      assert(p.total.shuffleReadBytes == p.total.shuffleWriteBytes)
      assert(p.total.records == map.counts.records && map.counts.records > 0)
      assert(p.countsOf(job.id) == p.total)

      assert(profile.take() == JobProfile.Profile(Nil, Nil))
    } finally profile.detach()
  }

  test("attaching twice leaves one listener on the bus") {
    val sc = spark.sparkContext
    def onBus = GraftListenerBus.listeners(sc).count(_.isInstanceOf[JobProfile])
    val a = JobProfile.attach(sc)
    try {
      assert(JobProfile.attach(sc) eq a)
      assert(onBus == 1)
    } finally a.detach()
    assert(onBus == 0)
  }
}
