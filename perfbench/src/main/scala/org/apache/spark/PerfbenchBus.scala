package org.apache.spark

/** The two `private[spark]` members the traced pass reads, hence this
  * object in Spark's package.
  */
object PerfbenchBus {
  /** Wait until the listener bus has delivered every queued event; the
    * traced pass calls it before it unregisters its listeners, so no event
    * of a traced call is lost to asynchronous delivery.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a job's final stage is a shuffle map stage: a map-stage job,
    * which is how adaptive query execution materializes its query stages.
    */
  def isMapStage(stage: scheduler.StageInfo): Boolean = stage.shuffleDepId.isDefined
}
