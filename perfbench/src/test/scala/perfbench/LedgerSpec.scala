package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LedgerSpec extends AnyFunSuite {
  private val task = Counters(tasks = 1, runMs = 10, shuffleWriteBytes = 100, inputBytes = 7)

  test("a group settles only once its jobs ended and each submitted stage completed") {
    val l = new Ledger
    l.jobStart("g", jobId = 1, timeMs = 1000, stageIds = Seq(1, 2, 3))
    l.stageSubmitted(1)
    l.taskEnd(1, task)
    l.taskEnd(1, task)
    l.stageSubmitted(2)
    assert(!l.settled("g"))
    l.stageCompleted(1)
    l.taskEnd(2, task)
    assert(!l.settled("g"), "job still open")
    l.jobEnd("g", 1)
    assert(!l.settled("g"), "stage 2 was submitted and has not completed")
    l.stageCompleted(2)
    // stage 3 was listed but never submitted: its shuffle output was reused
    assert(l.settled("g"))
    val (c, jobs) = l.take("g")
    assert(jobs == 1)
    assert(c.jobs == 1 && c.stages == 2 && c.stagesSkipped == 1)
    assert(c.tasks == 3 && c.runMs == 30 && c.shuffleWriteBytes == 300 && c.inputBytes == 21)
  }

  test("sums read at settle time are final: task-ends precede their stage's completion") {
    val l = new Ledger
    l.jobStart("g", 7, 0, Seq(5))
    l.stageSubmitted(5)
    (1 to 4).foreach(_ => l.taskEnd(5, task))
    l.stageCompleted(5)
    l.jobEnd("g", 7)
    assert(l.settled("g"))
    assert(l.take("g")._1.tasks == 4)
  }

  test("jobs are split at the end of the build, and groups stay apart") {
    val l = new Ledger
    l.jobStart("op", 1, timeMs = 100, stageIds = Seq(1))
    l.jobStart("op", 2, timeMs = 300, stageIds = Seq(2))
    l.jobStart("other", 3, timeMs = 150, stageIds = Seq(3))
    l.stageSubmitted(3)
    l.taskEnd(3, task)
    val (c, beforeBuildEnd) = l.take("op", beforeMs = 200)
    assert(c.jobs == 2 && beforeBuildEnd == 1 && c.tasks == 0)
    assert(l.take("other")._1.tasks == 1)
  }

  test("the marker group reads as ended once its job ends") {
    val l = new Ledger
    assert(!l.ended("m"))
    l.jobStart("m", 9, 0, Seq(9))
    assert(!l.ended("m"))
    l.jobEnd("m", 9)
    assert(l.ended("m"))
    assert(l.settled("never-seen"))
  }

  test("takeAll sums every group with a prefix and forgets them") {
    val l = new Ledger
    l.jobStart("w-1", 1, 0, Seq(1)); l.stageSubmitted(1); l.taskEnd(1, task)
    l.jobStart("w-2", 2, 0, Seq(2)); l.stageSubmitted(2); l.taskEnd(2, task)
    l.jobStart("x", 3, 0, Seq(3))
    assert(l.takeAll("w-").tasks == 2)
    assert(l.takeAll("w-").tasks == 0)
    assert(l.take("x")._1.jobs == 1)
  }
}
