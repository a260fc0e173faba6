package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface

/** The `private[spark]` listener-bus surface `graft.obs.JobProfile` needs
  * (lives under `org.apache.spark` for that access, like
  * `org.apache.spark.sql.graft.GraftSqlShims`). */
object GraftListenerBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The listeners registered on the bus, all queues. */
  def listeners(sc: SparkContext): scala.Seq[SparkListenerInterface] = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.toSeq
  }
}
