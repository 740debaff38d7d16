package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The number of Spark jobs `body` starts, counted by job group after
  * the listener bus has drained (the status tracker learns of jobs
  * from listener events, so a count taken straight after the action
  * can miss one).
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty()
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
