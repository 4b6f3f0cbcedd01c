package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two Spark-internal reads the benchmark's trace needs. */
object Bridge {

  /** Blocks until the listener bus has delivered every posted event, so a
    * span's stage and task records are complete before they are folded.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Names of the physical operators that built the stage's RDDs
    * (e.g. "CoGroup", "BroadcastHashJoin", "WholeStageCodegen (3)").
    */
  def operatorNames(info: StageInfo): Seq[String] =
    info.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
