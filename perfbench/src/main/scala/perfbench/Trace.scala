package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the work Spark did between two reads of the [[Tracer]]. */
final class Counts {
  var jobs, stages, tasks, taskFailures = 0L
  var taskCpuNs, taskRunMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakExecMem = 0L
  var scanTasks, inputBytes, inputRows, outputBytes = 0L
  var planMs, executions = 0L
  var gcMs = 0L
  /** (start, end) epoch ms of every finished job. */
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  /** stage (id, attempt) -> (wall ms, task run times ms). */
  val stageRuns = mutable.HashMap[(Int, Int), (Long, mutable.ArrayBuffer[Long])]()

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; taskCpuNs += o.taskCpuNs
    taskRunMs += o.taskRunMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    scanTasks += o.scanTasks; inputBytes += o.inputBytes
    inputRows += o.inputRows; outputBytes += o.outputBytes
    planMs += o.planMs; executions += o.executions; gcMs += o.gcMs
    jobSpans ++= o.jobSpans
    stageRuns ++= o.stageRuns
  }
}

/** One timed call into the engine, as recorded by the traced run. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Double, endMs: Double, counts: Counts) {
  def ms: Double = endMs - startMs
}

/** Spark listener plus query-execution listener that accumulate
  * [[Counts]]; [[take]] drains the listener bus first, so the counts it
  * returns cover exactly the work finished since the previous take.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var cur = new Counts
  private val jobStart = mutable.HashMap[Int, Long]()
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcTotal: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gcMark = gcTotal
  private var on = false

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Count only while enabled; untraced rounds pay just the listener
    * callbacks' early return. */
  def enable(b: Boolean): Unit = { take(); on = b }

  def take(): Counts = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val c = cur
      cur = new Counts
      val g = gcTotal
      c.gcMs = g - gcMark
      gcMark = g
      c
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (on) {
      cur.jobs += 1
      cur.jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (on) {
        val i = e.stageInfo
        cur.stages += 1
        val wall = (for (s <- i.submissionTime; c <- i.completionTime)
          yield c - s).getOrElse(0L)
        val key = (i.stageId, i.attemptNumber())
        val prev = cur.stageRuns.getOrElse(key, (0L, mutable.ArrayBuffer[Long]()))
        cur.stageRuns(key) = (wall, prev._2)
      }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on) {
      cur.tasks += 1
      if (e.taskInfo.failed) cur.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        cur.taskCpuNs += m.executorCpuTime
        cur.taskRunMs += m.executorRunTime
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.peakExecMem = math.max(cur.peakExecMem, m.peakExecutionMemory)
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) {
          cur.scanTasks += 1
          cur.inputBytes += m.inputMetrics.bytesRead
          cur.inputRows += m.inputMetrics.recordsRead
        }
        cur.outputBytes += m.outputMetrics.bytesWritten
        val key = (e.stageId, e.stageAttemptId)
        val prev = cur.stageRuns.getOrElse(key, (0L, mutable.ArrayBuffer[Long]()))
        prev._2 += m.executorRunTime
        cur.stageRuns(key) = prev
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    if (on) {
      cur.executions += 1
      cur.planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
