package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark counters for the traced run, read from the listener bus. Jobs keep
  * the span id they were submitted under; stage totals come from each
  * completed stage's aggregated task metrics and are reconciled against the
  * per-task totals. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Job

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stage = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  val task = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .flatMap(_.toIntOption).getOrElse(0)
    jobs(e.jobId) = Job(e.time, -1L, span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stage("stages") += 1
    stage("tasks") += si.numTasks
    Option(si.taskMetrics).foreach { m =>
      stage("executor_run_ms") += m.executorRunTime
      stage("executor_cpu_ns") += m.executorCpuTime
      stage("gc_ms") += m.jvmGCTime
      stage("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      stage("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      stage("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      stage("input_bytes") += m.inputMetrics.bytesRead
      stage("input_records") += m.inputMetrics.recordsRead
      stage("output_bytes") += m.outputMetrics.bytesWritten
      stage("output_records") += m.outputMetrics.recordsWritten
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    task("tasks") += 1
    Option(e.taskMetrics).foreach(m => task("executor_run_ms") += m.executorRunTime)
  }

  def snapshot(): SparkCounters.Snapshot = synchronized {
    SparkCounters.Snapshot(jobs.toMap, stage.toMap.withDefaultValue(0L), task.toMap.withDefaultValue(0L))
  }
}

object SparkCounters {
  final case class Job(startMs: Long, endMs: Long, span: Int)
  final case class Snapshot(jobs: Map[Int, Job], stage: Map[String, Long], task: Map[String, Long])
}

/** Micro-batch progress of every streaming query in the session. */
final class StreamCounters extends StreamingQueryListener {
  private val batchIds = mutable.Set.empty[(java.util.UUID, Long)]
  val totals = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  /** Last reported state size per query: (rows, memory bytes). */
  private val lastState = mutable.Map.empty[java.util.UUID, (Long, Long)]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (batchIds.add((p.id, p.batchId))) {
      totals("batches") += 1
      totals("input_rows") += p.numInputRows
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach(k => Option(p.durationMs.get(k)).foreach(v => totals(s"${k}_ms") += v.longValue))
      p.stateOperators.foreach(s => totals("state_commit_ms") += s.commitTimeMs)
      lastState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  def snapshot(): Map[String, Long] = synchronized {
    (totals.toMap ++ Map(
      "state_rows" -> lastState.values.map(_._1).sum,
      "state_memory_bytes" -> lastState.values.map(_._2).sum)).withDefaultValue(0L)
  }
}
