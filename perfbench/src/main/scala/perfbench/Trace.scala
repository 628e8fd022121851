package perfbench

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.util.CollectionAccumulator

/** One task's spans, aggregated by name. Every span's parent is the task span,
  * and spans of one task run one after another, so the task's self time is
  * its wall time minus the sum of its children. */
final case class TaskRecord(pass: Int, stage: Int, partition: Int, startNs: Long, endNs: Long,
                            spans: Map[String, (Long, Long)], counts: Map[String, Long]) {
  def wallNs: Long = endNs - startNs
  def spanNs(name: String): Long = spans.get(name).map(_._2).getOrElse(0L)
  def selfNs: Long = wallNs - spans.values.map(_._2).sum
}

/** Span recorder for the task running on the current thread. The traced
  * compositions open it at their first `mapPartitions` and look it up in
  * later ones of the same task; the record is added to the accumulator when
  * the task completes (after the sink has committed). */
final class TaskTrace private (pass: Int) {
  private val startNs = System.nanoTime()
  private val calls = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val nanos = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val counters = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private var outputNs = 0L

  def span[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally { nanos(name) += System.nanoTime() - t0; calls(name) += 1 }
  }

  def count(name: String, n: Long): Unit = counters(name) += n

  /** Time spent inside `it` (the upstream operators feeding this map) is
    * recorded as span `name`, one call per row. */
  def pulled[T](name: String, it: Iterator[T]): Iterator[T] = new Iterator[T] {
    def hasNext: Boolean = { val t0 = System.nanoTime(); try it.hasNext finally nanos(name) += System.nanoTime() - t0 }
    def next(): T = TaskTrace.this.span(name)(it.next())
  }

  /** Wraps the composition's output; the task's time outside it is the sink
    * (the encoder and the parquet writer that pull from it). */
  def output[T](it: Iterator[T]): Iterator[T] = new Iterator[T] {
    def hasNext: Boolean = { val t0 = System.nanoTime(); try it.hasNext finally outputNs += System.nanoTime() - t0 }
    def next(): T = { val t0 = System.nanoTime(); try it.next() finally outputNs += System.nanoTime() - t0 }
  }

  private def record(tc: TaskContext): TaskRecord = {
    val end = System.nanoTime()
    val sink = math.max(0L, end - startNs - outputNs)
    val spans = nanos.keys.map(k => k -> (calls(k), nanos(k))).toMap + ("sink" -> (1L, sink))
    TaskRecord(pass, tc.stageId(), tc.partitionId(), startNs, end, spans, counters.toMap)
  }
}

object TaskTrace {
  private val current = new ThreadLocal[TaskTrace]

  def begin(pass: Int, acc: CollectionAccumulator[TaskRecord]): TaskTrace = {
    val tc = TaskContext.get()
    val t = new TaskTrace(pass)
    current.set(t)
    tc.addTaskCompletionListener[Unit] { ctx => acc.add(t.record(ctx)); current.remove() }
    t
  }

  def get: TaskTrace = current.get()
}

/** Engine counters over a window of listener events. */
final case class EngineWindow(jobs: Int, stages: Int, tasks: Int, taskRunS: Double, taskCpuS: Double,
                              gcS: Double, schedDelayS: Double, taskSkew: Double,
                              shuffleWriteMb: Double, shuffleReadMb: Double, shuffleWaitS: Double,
                              spillMb: Double, tasksFailed: Int, aqeUpdates: Int)

/** Records task, stage, job and adaptive-plan events; windows are read
  * between two marks after draining the listener bus. */
final class EngineListener extends SparkListener {
  import EngineListener._
  private val tasks = mutable.ArrayBuffer.empty[T]
  private var jobs = 0
  private var stages = 0
  private var aqe = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { aqe += 1 }
    case _ =>
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    val dur = math.max(0L, i.finishTime - i.launchTime)
    tasks += (if (m == null) T(e.stageId.toLong << 16 | e.stageAttemptId, dur, 0, 0, 0, 0, 0, 0, 0, 0, failed)
    else {
      val sched = math.max(0L, dur - m.executorDeserializeTime - m.executorRunTime -
        m.resultSerializationTime - i.gettingResultTime)
      T(e.stageId.toLong << 16 | e.stageAttemptId, dur, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, sched,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, failed)
    })
  }

  def mark(): Mark = synchronized { Mark(tasks.size, jobs, stages, aqe) }

  def since(m: Mark): EngineWindow = synchronized {
    val ts = tasks.slice(m.tasks, tasks.size).toSeq
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val med = Stats.median(g.map(_.durMs.toDouble))
      if (med <= 0) 1.0 else g.map(_.durMs).max / med
    }
    val mb = 1048576.0
    EngineWindow(jobs - m.jobs, stages - m.stages, ts.size,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.schedMs).sum / 1e3, if (skew.isEmpty) 1.0 else skew.max,
      ts.map(_.shW).sum / mb, ts.map(_.shR).sum / mb, ts.map(_.fetchWaitMs).sum / 1e3,
      ts.map(_.spill).sum / mb, ts.count(_.failed), aqe - m.aqe)
  }
}

object EngineListener {
  private final case class T(stage: Long, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, schedMs: Long,
                             shW: Long, shR: Long, fetchWaitMs: Long, spill: Long, failed: Boolean)
  final case class Mark(tasks: Int, jobs: Int, stages: Int, aqe: Int)
}
