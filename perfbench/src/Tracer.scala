package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's task launch/finish times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced interval: the pass (parent -1), a chain, a chain task, or a
  * layer call inside a task. Counters are filled by [[SpanListener]] for
  * the Spark jobs that ran while a layer call was the thread's current
  * span, and rolled up into the task, chain and pass spans when the pass
  * ends. */
final class Span(val id: Int, val name: String, val layer: String,
                 val parent: Int, val startMs: Double) {
  var endMs: Double = startMs
  var jobs = 0
  var taskBusyMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var scanBytes = 0L
  var outputBytes = 0L
  var cachedRddsLeft = 0
  var artifactWrites = 0
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def wallMs: Double = endMs - startMs

  /** Adds a child span's counters to this one (task, chain and pass
    * spans). */
  def absorb(c: Span): Unit = synchronized {
    jobs += c.jobs
    taskBusyMs += c.taskBusyMs
    shuffleWriteBytes += c.shuffleWriteBytes
    spillBytes += c.spillBytes
    scanBytes += c.scanBytes
    outputBytes += c.outputBytes
    cachedRddsLeft += c.cachedRddsLeft
    artifactWrites += c.artifactWrites
    taskIntervals ++= c.taskIntervals
  }

  /** Span time during which none of its Spark tasks ran. */
  def driverOnlyMs: Double = synchronized {
    val clipped = taskIntervals.toSeq
      .map { case (a, b) => (math.max(a.toDouble, startMs), math.min(b.toDouble, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, wallMs - covered)
  }
}

/** Attributes job, task and I/O counters to spans through the Spark local
  * property [[SpanListener.Key]], which the calling thread (and threads it
  * starts) carry into every job they submit. */
final class SpanListener extends SparkListener {
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  def register(s: Span): Unit = { spans.put(s.id, s); () }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .flatMap(id => Option(spans.get(id.toInt))).foreach { s =>
        s.synchronized { s.jobs += 1 }
        e.stageIds.foreach(stageSpan.put(_, s))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        if (m != null) {
          s.taskBusyMs += m.executorRunTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.scanBytes += m.inputMetrics.bytesRead
          s.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

object SpanListener {
  val Key = "perfbench.span"
}

/** Bytes of cached RDD blocks the block manager holds, and their peak
  * since the last [[resetPeak]]. */
final class StorageListener extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      current += size - sizes.getOrElse(key, 0L)
      if (size == 0L) sizes.remove(key) else sizes.put(key, size)
      peak = math.max(peak, current)
    }
  }

  def resetPeak(): Unit = synchronized { peak = current }
  def peakBytes: Long = synchronized(peak)
}
