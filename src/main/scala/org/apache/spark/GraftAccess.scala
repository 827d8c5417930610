package org.apache.spark

/** Two reads that are private to Spark, for `graft.obs.Profile`: wait
  * until the listener bus has delivered every queued event, and tell a
  * shuffle-map stage (one exchange) from a result stage.
  */
object GraftAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def isShuffleMap(s: scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
}
