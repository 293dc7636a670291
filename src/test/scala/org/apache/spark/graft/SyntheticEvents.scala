package org.apache.spark.graft

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.StageInfo

/** Listener events built by hand, for specs of listeners: lives in
  * Spark's package because task metrics can only be filled from there. */
object SyntheticEvents {
  /** One attempt of a stage, with its shuffle bytes. */
  def stage(id: Int, attempt: Int, tasks: Int, shuffleWrite: Long,
      shuffleRead: Long): StageInfo = {
    val m = TaskMetrics.empty
    m.shuffleWriteMetrics.incBytesWritten(shuffleWrite)
    m.shuffleReadMetrics.incLocalBytesRead(shuffleRead)
    new StageInfo(id, attempt, s"stage $id", tasks, Seq.empty, Seq.empty,
      "", m, resourceProfileId = 0)
  }
}
