package graft.core

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** Per-scope Spark counters for one SparkContext. A scope is the value of
  * the [[QueryMetrics.ScopeProperty]] local property on the thread that
  * submits a job (set with [[QueryMetrics.scoped]]); jobs submitted with no
  * scope are not counted. A dedicated property, not the job group: user
  * code and streaming queries own the job group for cancellation.
  *
  * Stage totals come from each completed stage's aggregated task metrics;
  * `task_ends` counts task-end events separately, so `tasks == task_ends`
  * reconciles the two on jobs that run to completion. Peak execution
  * memory is the largest single task's peak. Reading drains the listener
  * bus first, so a read right after an action sees all of its events. */
final class QueryMetrics private (sc: SparkContext) extends SparkListener {
  import QueryMetrics._

  private val totals = mutable.Map.empty[String, mutable.LinkedHashMap[String, Long]]
  /** Scope of each running stage, from its submit event's properties. */
  private val stageScopes = mutable.Map.empty[(Int, Int), String]

  private def add(scope: String, key: String, n: Long): Unit = {
    val c = totals.getOrElseUpdate(scope, mutable.LinkedHashMap.from(Zero))
    c(key) = if (key == PeakKey) math.max(c.getOrElse(key, 0L), n) else c.getOrElse(key, 0L) + n
  }

  private def scopeOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(ScopeProperty)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    scopeOf(e.properties).foreach(add(_, "jobs", 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    scopeOf(e.properties).foreach(stageScopes((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageScopes.remove((si.stageId, si.attemptNumber())).foreach { s =>
      add(s, "stages", 1)
      add(s, "tasks", si.numTasks)
      Option(si.taskMetrics).foreach { m =>
        add(s, "executor_run_ms", m.executorRunTime)
        add(s, "executor_cpu_ns", m.executorCpuTime)
        add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(s, "spill_bytes", m.diskBytesSpilled)
      }
    }
  }

  // a task end precedes its stage's completion event on the bus
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageScopes.get((e.stageId, e.stageAttemptId)).foreach { s =>
      add(s, "task_ends", 1)
      Option(e.taskMetrics).foreach(m => add(s, PeakKey, m.peakExecutionMemory))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case Counted(scope, counter) => synchronized(add(scope, counter, 1))
    case _ =>
  }

  /** The counters of `scope` since its last take (all zero if it ran no
    * job), removed from the collector. */
  def take(scope: String): ListMap[String, Long] = {
    ListenerBusBridge.drain(sc)
    synchronized(ListMap.from(totals.remove(scope).getOrElse(Zero)))
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object QueryMetrics {
  val ScopeProperty = "graft.metrics.scope"
  private val PeakKey = "peak_execution_memory_bytes"
  private val Zero = Seq("jobs", "stages", "tasks", "task_ends", "executor_run_ms", "executor_cpu_ns",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", PeakKey, "sizing_misses").map(_ -> 0L)

  /** One degraded-path occurrence in `scope`, posted on the listener bus
    * so it is ordered with, and read like, the scope's job events. */
  final case class Counted(scope: String, counter: String) extends SparkListenerEvent

  def attach(sc: SparkContext): QueryMetrics = {
    val m = new QueryMetrics(sc)
    sc.addSparkListener(m)
    m
  }

  /** Runs `body` with jobs submitted from this thread counted under
    * `name`; the enclosing scope (or none) is restored afterwards. */
  def scoped[T](sc: SparkContext, name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(ScopeProperty)
    sc.setLocalProperty(ScopeProperty, name)
    try body finally sc.setLocalProperty(ScopeProperty, outer)
  }

  /** Adds 1 to `counter` of this thread's current scope; no-op outside one. */
  def count(sc: SparkContext, counter: String): Unit =
    Option(sc.getLocalProperty(ScopeProperty)).foreach(s => ListenerBusBridge.post(sc, Counted(s, counter)))

  /** Sums two readings of one scope; the peak keeps the larger value. */
  def merge(a: ListMap[String, Long], b: ListMap[String, Long]): ListMap[String, Long] =
    ListMap.from((a.keys ++ b.keys.filterNot(a.contains)).map { k =>
      val (x, y) = (a.getOrElse(k, 0L), b.getOrElse(k, 0L))
      k -> (if (k == PeakKey) math.max(x, y) else x + y)
    })
}
