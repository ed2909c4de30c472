package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Spark counters of one operation (one job group). Times in ms,
  * sizes in bytes. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, stagesSkipped: Long = 0,
    tasks: Long = 0, failedTasks: Long = 0,
    runMs: Long = 0, cpuMs: Long = 0, deserializeMs: Long = 0,
    resultSerMs: Long = 0, schedulerDelayMs: Long = 0, gcMs: Long = 0,
    spillBytes: Long = 0, peakMemBytes: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleWriteMs: Long = 0,
    shuffleReadBytes: Long = 0, fetchWaitMs: Long = 0, inputBytes: Long = 0) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, stagesSkipped + o.stagesSkipped,
    tasks + o.tasks, failedTasks + o.failedTasks,
    runMs + o.runMs, cpuMs + o.cpuMs, deserializeMs + o.deserializeMs,
    resultSerMs + o.resultSerMs, schedulerDelayMs + o.schedulerDelayMs, gcMs + o.gcMs,
    spillBytes + o.spillBytes, math.max(peakMemBytes, o.peakMemBytes),
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleWriteMs + o.shuffleWriteMs,
    shuffleReadBytes + o.shuffleReadBytes, fetchWaitMs + o.fetchWaitMs,
    inputBytes + o.inputBytes)
}

/** Per-group accounting of listener events, free of Spark types so
  * the settle rule can be tested on its own.
  *
  * Settle rule (the one `graft.StageBytesListener` reasons out): the
  * listener bus delivers events to a listener in the order they were
  * posted, and the DAGScheduler posts every task-end of a stage before
  * that stage's stage-completed event, and every stage event of a job
  * before that job's job-end. So once a group's jobs have all ended
  * here and each stage it submitted has completed here, its sums are
  * final. A stage a job lists but never submits (its shuffle output
  * was reused) has no events and is counted as skipped, not waited on.
  * The caller learns which jobs to wait for from a marker job it runs
  * after the operation returns: the marker's job-end arrives after
  * every event the operation posted. */
final class Ledger {
  private final class Group {
    var counters = Counters()
    val stagesListed = mutable.Set[Int]()
    val stagesSubmitted = mutable.Set[Int]()
    val jobsOpen = mutable.Set[Int]()
    val jobStartMs = mutable.ArrayBuffer[Long]()
  }
  private val groups = mutable.Map[String, Group]()
  private val stageGroup = mutable.Map[Int, String]()
  private val completed = mutable.Set[Int]()

  private def group(g: String): Group = groups.getOrElseUpdate(g, new Group)

  def jobStart(g: String, jobId: Int, timeMs: Long, stageIds: Seq[Int]): Unit =
    synchronized {
      val gr = group(g)
      gr.counters = gr.counters.copy(jobs = gr.counters.jobs + 1)
      gr.jobsOpen += jobId
      gr.jobStartMs += timeMs
      stageIds.foreach { s => gr.stagesListed += s; stageGroup.getOrElseUpdate(s, g) }
    }

  def stageSubmitted(stageId: Int): Unit = synchronized {
    stageGroup.get(stageId).foreach(g => group(g).stagesSubmitted += stageId)
  }

  def taskEnd(stageId: Int, c: Counters): Unit = synchronized {
    stageGroup.get(stageId).foreach { g =>
      val gr = group(g)
      gr.counters = gr.counters + c
    }
  }

  def stageCompleted(stageId: Int): Unit = synchronized { completed += stageId }

  def jobEnd(g: String, jobId: Int): Unit = synchronized { group(g).jobsOpen -= jobId }

  /** True when group `g`'s sums are final: the group has no job still
    * open and every stage it submitted has completed. */
  def settled(g: String): Boolean = synchronized {
    groups.get(g).forall(gr => gr.jobsOpen.isEmpty && gr.stagesSubmitted.forall(completed))
  }

  /** True once a job of group `g` has ended here (the marker check). */
  def ended(g: String): Boolean = synchronized {
    groups.get(g).exists(gr => gr.counters.jobs > 0 && gr.jobsOpen.isEmpty)
  }

  /** Group `g`'s counters, with stage counts resolved, and the number
    * of its jobs submitted before `beforeMs`. Removes the group. */
  def take(g: String, beforeMs: Long = Long.MaxValue): (Counters, Int) = synchronized {
    groups.remove(g) match {
      case None => (Counters(), 0)
      case Some(gr) =>
        gr.stagesListed.foreach(stageGroup.remove)
        completed --= gr.stagesListed
        val c = gr.counters.copy(stages = gr.stagesSubmitted.size.toLong,
          stagesSkipped = (gr.stagesListed -- gr.stagesSubmitted).size.toLong)
        (c, gr.jobStartMs.count(_ < beforeMs))
    }
  }

  /** Everything recorded for groups whose name starts with `prefix`,
    * summed, then forgotten — for work not split per operation (HTTP
    * requests run on the server's threads, outside any group). */
  def takeAll(prefix: String): Counters = synchronized {
    groups.keys.filter(_.startsWith(prefix)).toSeq
      .map(take(_)._1).foldLeft(Counters())(_ + _)
  }
}

object Ledger {
  /** Group of jobs started outside any job group. */
  val NoGroup = "-"

  /** One finished task's counters, as Spark's UI derives them. */
  def taskCounters(e: SparkListenerTaskEnd): Counters = {
    val info = e.taskInfo
    val failed = if (e.reason == Success) 0L else 1L
    val m = e.taskMetrics
    val duration = if (info.finishTime > 0) info.finishTime - info.launchTime else 0L
    val gettingResult =
      if (info.gettingResultTime > 0 && info.finishTime > 0) info.finishTime - info.gettingResultTime
      else 0L
    if (m == null) Counters(tasks = 1, failedTasks = failed)
    else {
      val sr = m.shuffleReadMetrics
      Counters(tasks = 1, failedTasks = failed,
        runMs = m.executorRunTime, cpuMs = m.executorCpuTime / 1000000L,
        deserializeMs = m.executorDeserializeTime, resultSerMs = m.resultSerializationTime,
        schedulerDelayMs = Stats.schedulerDelay(duration, m.executorRunTime,
          m.executorDeserializeTime, m.resultSerializationTime, gettingResult),
        gcMs = m.jvmGCTime, spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        peakMemBytes = m.peakExecutionMemory,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteMs = m.shuffleWriteMetrics.writeTime / 1000000L,
        shuffleReadBytes = sr.remoteBytesRead + sr.localBytesRead,
        fetchWaitMs = sr.fetchWaitTime, inputBytes = m.inputMetrics.bytesRead)
    }
  }
}

/** Feeds a [[Ledger]] from the listener bus. */
final class LedgerListener(val ledger: Ledger) extends SparkListener {
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(Ledger.NoGroup)
  private val jobGroup = scala.collection.concurrent.TrieMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobGroup.put(e.jobId, g)
    ledger.jobStart(g, e.jobId, e.time, e.stageIds)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    ledger.stageSubmitted(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    ledger.taskEnd(e.stageId, Ledger.taskCounters(e))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    ledger.stageCompleted(e.stageInfo.stageId)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobGroup.remove(e.jobId).foreach(ledger.jobEnd(_, e.jobId))
}
