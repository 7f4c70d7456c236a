package graft.core

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
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
    case Counted(scope, counter, n) => synchronized(add(scope, counter, n))
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
  /** The counters of every reading, in order. */
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_ends", "executor_run_ms", "executor_cpu_ns",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", PeakKey, "sizing_misses",
    "graph_local_solves", "stream_batches", "codegen_compiles", "codegen_ms")
  private val Zero = Keys.map(_ -> 0L)

  /** `n` occurrences of `counter` in `scope` (1 for a degraded or
    * alternative path taken),
    * posted on the listener bus so it is ordered with, and read like, the
    * scope's job events. */
  final case class Counted(scope: String, counter: String, n: Long = 1) extends SparkListenerEvent

  /** (classes compiled, compile nanos) of Spark's code generator, JVM-wide.
    * The first read initialises `CodeGenerator`, which sizes its class
    * cache from the active session's conf then, once per JVM; scopes run
    * inside a session, so that is the engine's conf. */
  private val codegen = new Exclusive(() =>
    Array(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime))

  def attach(sc: SparkContext): QueryMetrics = {
    val m = new QueryMetrics(sc)
    sc.addSparkListener(m)
    m
  }

  /** Runs `body` with jobs submitted from this thread counted under
    * `name`; the enclosing scope (or none) is restored afterwards.
    *
    * The scope's `codegen_compiles` and `codegen_ms` are the classes Spark
    * compiled, and the compile time, in its wall window, less those of the
    * scopes nested in it on this thread: a `build:<memo>` inside an entry
    * is charged to the build alone. Both counters are JVM-wide, so they
    * also hold the executor threads' compiles in the window (in local mode
    * each executor compiles its own copy of a class) and those of any
    * other thread running a query at the same time. */
  def scoped[T](sc: SparkContext, name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(ScopeProperty)
    sc.setLocalProperty(ScopeProperty, name)
    try codegen { d =>
      if (d(0) > 0) ListenerBusBridge.post(sc, Counted(name, "codegen_compiles", d(0)))
      if (d(1) >= 1000000L) ListenerBusBridge.post(sc, Counted(name, "codegen_ms", d(1) / 1000000L))
    }(body)
    finally sc.setLocalProperty(ScopeProperty, outer)
  }

  /** Adds `n` to `counter` of this thread's current scope; no-op outside one. */
  def count(sc: SparkContext, counter: String, n: Long = 1): Unit =
    Option(sc.getLocalProperty(ScopeProperty)).foreach(s => ListenerBusBridge.post(sc, Counted(s, counter, n)))
}
