package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Bridge into the two `private[spark]` corners the query trace
  * ([[graft.tools.Trace]]) reads: the listener bus's drain, so every
  * event of an action has been delivered before a record is read, and
  * the RDD operation scopes that name the plan nodes a stage ran
  * (`WholeStageCodegen (3)`, `Exchange`, ...). The same kind of shim as
  * `org.apache.spark.sql.GraftExpressionBridge`.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def scopes(stage: StageInfo): Seq[String] =
    stage.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct.toSeq
}
