package org.apache.spark

/** Core-side bridge (the `sql.GraftGlue` pattern): the listener bus is
  * `private[spark]`, but the bench needs to DRAIN it between timed
  * queries — task-end metric events are posted asynchronously, so a
  * per-query shuffle-bytes delta read without a drain could attribute
  * a straggler task's bytes to the next query.
  */
object GraftSparkGlue {
  /** Block until every queued listener event is dispatched (or the
    * timeout passes — returns false then).
    */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: Throwable => false }

  /** The operation scope names of a stage's RDDs, without repeats: the
    * SQL operators that built them (`Exchange`, `WholeStageCodegen (3)`,
    * `StateStoreSave`) or the RDD methods (`map`). The scope is
    * `private[spark]`.
    */
  def scopeNames(stage: org.apache.spark.scheduler.StageInfo): Seq[String] =
    stage.rddInfos.flatMap(_.scope.map(_.name)).distinct
}
