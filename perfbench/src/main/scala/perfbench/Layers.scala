package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced pass, the spans they come from, and the
  * checks that the counters agree with each other and with wall time. */
final case class Layers(
    pass: Pass,
    metrics: Map[String, Double],
    reconcile: Map[String, Any],
    spans: Seq[Map[String, Any]]
)

object Layers {
  /** Listener times are whole epoch milliseconds and memo builds are dated
    * to a poll, so intervals from either are compared with this slack. */
  val ContainNs = 5000000L
  /** Slack between an operation's latency, timed outside the tracer, and
    * its span's duration. */
  val SelfTimeNs = 5000000L

  def apply(
      traced: Pass, tracer: Tracer, counters: SparkCounters.Snapshot, st: Map[String, Long], memoBuilds: Seq[MemoBuild],
      untracedWall: Double, warmS: Double
  ): Layers = {
    // listener times are epoch milliseconds; spans are nanoTime
    val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val SparkCounters.Snapshot(jobs, stage, task) = counters
    val roots = tracer.spans.filter(_.layer == "bench.op").sortBy(_.start)

    // memo builds, outermost first, under the deepest span of their operation holding them
    val memoOutsideOps = memoBuilds.sortBy(b => b.start - b.end).count { b =>
      roots.find(o => MemoWatch.within(b.start, b.end, o.start, o.end, ContainNs)) match {
        case Some(o) =>
          tracer.addChild(o.id, "core.FrameMemo", b.memo, b.start, b.end, _.layer != "spark.job", ContainNs)
          false
        case None => true
      }
    }
    // Spark jobs under the span they were submitted in, or a memo build inside it
    var jobsOutside = 0
    jobs.foreach { case (id, j) =>
      if (j.span != 0) {
        val (s, e) = (j.startMs * 1000000L + offset, j.endMs * 1000000L + offset)
        val inParent = j.endMs >= 0 && tracer.spans.find(_.id == j.span).exists(p => MemoWatch.within(s, e, p.start, p.end, ContainNs))
        if (!inParent) jobsOutside += 1
        if (j.endMs >= 0) tracer.addChild(j.span, "spark.job", s"job$id", s, e, _.layer == "core.FrameMemo", ContainNs)
      }
    }
    val spans = tracer.spans

    // operation records and operation spans are both in run order
    val paired = traced.ops.zip(roots).filter { case (r, s) => r.name == s.name }
    val opsWithoutSpan = traced.ops.size - paired.size
    val pass = if (opsWithoutSpan == 0) traced.copy(ops = paired.map { case (r, s) => r.copy(spanId = s.id) }) else traced
    val groupOfOp = pass.ops.map(r => r.spanId -> r.group).toMap
    val slots = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(Runtime.getRuntime.availableProcessors).toDouble
    val executorRunS = stage("executor_run_ms") / 1000.0

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("spark.jobs") = jobs.size.toDouble
    m("spark.stages") = stage("stages").toDouble
    m("spark.tasks") = stage("tasks").toDouble
    m("spark.executor_run_s") = executorRunS
    m("spark.executor_cpu_s") = stage("executor_cpu_ns") / 1e9
    m("spark.gc_s") = stage("gc_ms") / 1000.0
    Seq("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")
      .foreach(k => m(s"spark.$k") = stage(k).toDouble)
    m("spark.utilization") = if (pass.wall > 0) executorRunS / (pass.wall * slots) else 0.0
    m ++= pass.layers
    m("core.FrameMemo.build_s") = memoBuilds.map(_.exclusive).sum / 1e9
    memoBuilds.groupBy(_.memo).foreach { case (n, bs) => m(s"core.FrameMemo.$n.build_s") = bs.map(_.exclusive).sum / 1e9 }
    val queryObjects = Board.objects.map(_._1).toSet
    spans.filter(_.layer == "spark.job").groupBy(s => groupOfOp.getOrElse(s.op, ""))
      .foreach { case (g, js) => if (queryObjects(g)) m(s"queries.$g.jobs") = js.size.toDouble }
    Seq("batches", "input_rows", "latestOffset_ms", "getBatch_ms", "queryPlanning_ms", "addBatch_ms",
      "walCommit_ms", "commitOffsets_ms", "state_commit_ms", "state_rows", "state_memory_bytes")
      .foreach(k => m(s"streaming.StreamingJobs.$k") = st(k).toDouble)
    m("write.bytes_written") = stage("output_bytes").toDouble
    m("write.bytes_per_input_byte") = stage("output_bytes").toDouble / math.max(1L, stage("input_bytes"))
    m("setup.warm_s") = warmS
    m("trace.overhead_s") = pass.wall - untracedWall

    // self time per layer; per operation it must add up to the latency the
    // workload timed outside the tracer
    val byOp = spans.groupBy(_.op)
    val selfByLayer = mutable.Map.empty[String, Long].withDefaultValue(0L)
    byOp.values.foreach(ss => Tracer.selfTimes(ss).foreach { case (l, v) => selfByLayer(l) += v })
    selfByLayer.foreach { case (l, v) => m(s"self.${l}_s") = v / 1e9 }
    val gaps = paired.map { case (r, s) =>
      math.abs(Tracer.selfTimes(byOp.getOrElse(s.id, Nil)).values.sum - math.round(r.latency * 1e9))
    }
    val worstGap = if (gaps.isEmpty) 0L else gaps.max

    // each memo the pass touched built exactly once in it, while its
    // JVM-lifetime count also holds the earlier passes' builds; and every
    // build was dated inside an operation
    val lifetime = graft.core.FrameMemo.allStats.map { case (n, _, r) => n -> r }.toMap
    val touched = pass.memo.filter { case (_, d) => d.hits + d.recomputes > 0 }
    val memoPerPass = touched.forall { case (n, d) => d.recomputes == 1L && lifetime.getOrElse(n, 0L) > 1L }
    val passBuilds = pass.memo.values.map(_.recomputes).sum
    val reconcile = Map(
      "tasks_listener" -> task("tasks"),
      "tasks_stage_sum" -> stage("tasks"),
      "tasks_match" -> (task("tasks") == stage("tasks")),
      "executor_run_ms_listener" -> task("executor_run_ms"),
      "executor_run_ms_stage_sum" -> stage("executor_run_ms"),
      "executor_run_match" -> (task("executor_run_ms") == stage("executor_run_ms")),
      "ops_without_span" -> opsWithoutSpan,
      "self_time_max_gap_ns" -> worstGap,
      "self_time_match" -> (opsWithoutSpan == 0 && worstGap <= SelfTimeNs),
      "jobs_outside_parent" -> jobsOutside,
      "jobs_within_parent" -> (jobsOutside == 0),
      "unattributed_jobs" -> jobs.values.count(_.span == 0),
      "memo_pass_recomputes" -> touched.map { case (n, d) => n -> d.recomputes },
      "memo_lifetime_recomputes" -> touched.keys.map(n => n -> lifetime.getOrElse(n, 0L)).toMap,
      "memo_is_per_pass" -> memoPerPass,
      "memo_builds_dated" -> memoBuilds.size,
      "memo_builds_outside_ops" -> memoOutsideOps,
      "memo_builds_match" -> (memoBuilds.size == passBuilds && memoOutsideOps == 0))
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val spanJson = spans.sortBy(s => (s.start, s.id)).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9))
    Layers(pass, m.toMap, reconcile, spanJson)
  }
}
