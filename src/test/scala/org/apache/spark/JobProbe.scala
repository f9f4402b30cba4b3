package org.apache.spark

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** The Spark jobs and stages that end while a block runs, counted by a
  * plain listener. Lives in `org.apache.spark` for the one package-private
  * call it needs: draining the listener bus, so every event of the block
  * has landed before the record is read. */
object JobProbe {

  /** `stageTasks`: task count of each completed stage, in completion
    * order. `jobTasks`: per finished job, the tasks of its stages that
    * ran (skipped stages excluded). */
  final case class Record(jobs: Int, stageTasks: Seq[Int], jobTasks: Seq[Int])

  def apply[T](sc: SparkContext)(body: => T): (T, Record) = {
    val stagesOfJob = mutable.Map.empty[Int, Seq[Int]]
    val tasksOfStage = mutable.Map.empty[Int, Int]
    val stageOrder = mutable.ArrayBuffer.empty[Int]
    val ended = mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        stagesOfJob(e.jobId) = e.stageIds
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += e.jobId }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        tasksOfStage(e.stageInfo.stageId) = e.stageInfo.numTasks
        stageOrder += e.stageInfo.stageId
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      listener.synchronized {
        (out, Record(
          ended.size,
          stageOrder.map(tasksOfStage).toSeq,
          ended.map(j => stagesOfJob.getOrElse(j, Nil).flatMap(tasksOfStage.get).sum).toSeq))
      }
    } finally sc.removeSparkListener(listener)
  }
}
