package org.apache.spark

/** Reaches package-private state of a live SparkContext.
  *
  * Listener events are delivered asynchronously, so a benchmark job's
  * record may only be closed after every event its Spark jobs posted
  * has been handed to the listeners. */
object PerfbenchBus {
  /** Blocks until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Jobs and finished task attempts per job group (null: no group), as
    * the session's status store counts them, independently of the
    * benchmark's own listener. */
  def jobsByGroup(sc: SparkContext): Map[String, (Long, Long)] =
    sc.statusStore.jobsList(null).groupBy(_.jobGroup.orNull).map { case (g, js) =>
      g -> (js.size.toLong, js.map(j => (j.numCompletedTasks + j.numFailedTasks + j.numKilledTasks).toLong).sum)
    }
}
