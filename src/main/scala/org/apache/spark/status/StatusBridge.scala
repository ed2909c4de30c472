package org.apache.spark.status

import org.apache.spark.SparkContext
import org.apache.spark.status.api.v1.StageData

/** Spark keeps its listener bus and its status store (the job and stage
  * rows its UI and REST API serve) `private[spark]`; this bridge
  * re-exports the reads graft's counting needs, the same pattern as
  * `FooterBridge`. */
object StatusBridge {
  /** One job's store row: the stage ids it lists, those it skipped
    * (listed but never submitted: their map output already existed),
    * and the SQL execution it ran under, if any. */
  final case class JobRow(id: Int, name: String, stageIds: Seq[Int],
      skipped: Set[Int], sqlExecutionId: Option[Long])

  /** Blocks (10 s at most) until every posted event has reached every
    * listener. A job's end is posted before its action returns, so after
    * a drain every row of a finished action's jobs is final. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Throws NoSuchElementException when the store holds no row for `id`. */
  def job(sc: SparkContext, id: Int): JobRow = {
    val w = sc.statusStore.store.read(classOf[JobDataWrapper], id)
    JobRow(id, w.info.name, w.info.stageIds.toSeq, w.skippedStages, w.sqlExecutionId)
  }

  /** The ids of every job the store holds. */
  def jobIds(sc: SparkContext): Seq[Int] = sc.statusStore.jobsList(null).map(_.jobId)

  /** Every attempt's row for `stageId`; empty when the store holds none. */
  def stageAttempts(sc: SparkContext, stageId: Int): Seq[StageData] =
    sc.statusStore.stageData(stageId).toSeq
}
