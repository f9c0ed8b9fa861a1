package org.apache.spark

/** The two package-private Spark internals the benchmark reads. */
object PerfbenchBus {
  /** Spark delivers task-end events asynchronously, so a span's listener
    * counts are only complete once the listener bus has drained. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Executor CPU and run time (ms) summed over the stages whose id is
    * above `afterStage`, from the status store Spark always keeps, and the
    * highest stage id seen. */
  def stageTotals(sc: SparkContext, afterStage: Int): (Long, Long, Int) = {
    drain(sc)
    val stages = sc.statusStore.stageList(null)
    val mine = stages.filter(_.stageId > afterStage)
    (mine.map(_.executorCpuTime).sum / 1000000L, mine.map(_.executorRunTime).sum,
      (afterStage +: stages.map(_.stageId)).max)
  }
}
