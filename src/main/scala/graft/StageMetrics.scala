package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** One completed stage: wall and executor-run time, and the bytes its
  * task metrics recorded.
  */
final case class StageStat(id: Int, name: String, tasks: Int, wallMs: Long,
    cpuMs: Long, scanBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Job and stage listener shared by Bench and Profile. A mark taken
  * before a query and [[since]] after it attribute the jobs and stages
  * the query ran — "does this operator shuffle more than it must" as a
  * recorded number instead of a plan-reading exercise.
  */
final class StageMetrics extends SparkListener {
  private var jobs = 0
  private val stages = ArrayBuffer.empty[StageStat]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) synchronized {
      stages += StageStat(i.stageId, i.name.takeWhile(_ != '\n').take(60),
        i.numTasks,
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def snap: (Int, Int) = synchronized((jobs, stages.length))

  /** The (jobs, stages) mark. Listener events arrive async; wait until the
    * counters stop moving (bounded) so trailing stages aren't billed to
    * the next query. */
  def settled: (Int, Int) = {
    var prev = snap
    var i = 0
    while (i < 10) {
      Thread.sleep(60)
      val cur = snap
      if (cur == prev) i = 10 else { prev = cur; i += 1 }
    }
    prev
  }

  /** Jobs started and stages completed since `mark`, once settled. */
  def since(mark: (Int, Int)): (Int, Seq[StageStat]) = {
    settled
    synchronized((jobs - mark._1, stages.drop(mark._2).toSeq))
  }
}

object StageMetrics {
  /** Bytes as MB, rounded to 1/`per` MB. */
  def mb(bytes: Long, per: Int = 10): Double =
    math.round(bytes / 1e6 * per) / per.toDouble
}
