package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.core.SparkSessionFactory

/** The benchmark's JVM side, started by `run.py`. It runs one workload for
  * one seed and writes what it measured to `--out`; `run.py` turns that into
  * metrics, checks it against the expected results and prints the verdict.
  *
  *   run:    --workload W --seed N --trace 0|1 --work DIR --out FILE
  *           [--data DIR --ops FILE]                       (query_board)
  *           [--cycles N --sizes fema,noaa,stations,usda]  (em_refresh)
  *   record: --data DIR --out FILE
  */
object Main {
  /** Warm set-ups per run besides the timed session's; set-up time is the
    * median of these and the timed session's. */
  val ExtraSetups = 2

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    o.getOrElse("mode", "run") match {
      case "run" => run(o)
      case "record" => Record(o)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  def session(): SparkSession = SparkSessionFactory.local("perfbench")

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Board op list: one `name<TAB>inputRows` line per operation, in run order. */
  def readOps(path: String): Seq[(String, Long)] =
    Files.readAllLines(new File(path).toPath, UTF_8).toArray(Array.empty[String]).toSeq
      .filter(_.trim.nonEmpty).map { l =>
        val f = l.split("\t")
        f(0) -> (if (f.length > 1) f(1).toLong else 0L)
      }

  def write(path: String, v: Any): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    Files.write(new File(path).toPath, Json.render(v).getBytes(UTF_8)): Unit
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val trace = o.getOrElse("trace", "0") == "1"
    val work = o("work")
    val wl: Workload = workload match {
      case "query_board" =>
        val ops = readOps(o("ops"))
        new BoardWorkload(o("data"), ops.map(_._1), ops.toMap)
      case "em_refresh" =>
        val Array(f, n, st, u) = o("sizes").split(",").map(_.toInt)
        new EmRefresh(work, o("seed").toLong, o("cycles").toInt, EmSizes(f, n, st, u))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // where a run's time goes, phase by phase, for sizing runs against the
    // benchmark's time budget
    val phases = mutable.LinkedHashMap[String, Double](
      "jvm_start" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
    var phase0 = System.nanoTime()
    def phase(name: String): Unit = {
      phases(name) = Clock.secs(phase0)
      phase0 = System.nanoTime()
    }
    val setups = mutable.ArrayBuffer.empty[Double]
    def setup(): SparkSession = {
      val t0 = System.nanoTime()
      val s = session()
      wl.register(s)
      setups += Clock.secs(t0)
      s
    }

    // the first session also generates the inputs, outside its set-up time;
    // its set-up pays for the JVM's first SparkContext and is kept apart
    val f0 = System.nanoTime()
    val first = session()
    val firstSession = Clock.secs(f0)
    phase("cold_session")
    wl.prepare(first)
    phase("prepare")
    val r0 = System.nanoTime()
    wl.register(first)
    val coldSetup = firstSession + Clock.secs(r0)
    val w0 = System.nanoTime()
    wl.warm(first)
    val warmS = Clock.secs(w0)
    stop(first)
    phase("register_warm")
    (1 to ExtraSetups).foreach(_ => stop(setup()))
    phase("extra_setups")

    val timedSession = setup()
    val timed = wl.pass(timedSession, new Tracer(false), () => phase("timed_window"))
    stop(timedSession)
    phase("timed_checks")

    // traced run: the same pass again in a fresh session, traced
    val traced = if (!trace) None else Some {
      val s = session()
      wl.register(s)
      val sparkCounters = new SparkCounters
      val streamCounters = new StreamCounters
      s.sparkContext.addSparkListener(sparkCounters)
      s.streams.addListener(streamCounters)
      // the tracer's first spans pay its class loading: pay it before the pass
      val unused = new Tracer(true)
      unused.span("bench.op", "warm")(unused.span("queries.plan", "warm")(()))
      Tracer.selfTimes(unused.spans): Unit
      val tracer = new Tracer(true)
      tracer.attach(s.sparkContext)
      var counters: SparkCounters.Snapshot = null
      var streamTotals: Map[String, Long] = null
      var memoBuilds: Seq[MemoBuild] = Nil
      var compiles = 0L
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val watch = new MemoWatch
      val p = wl.pass(s, tracer, { () =>
        memoBuilds = watch.stop()
        compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        ListenerBusDrain(s.sparkContext)
        counters = sparkCounters.snapshot()
        streamTotals = streamCounters.snapshot()
      })
      stop(s)
      val layers = Layers(p.copy(layers = p.layers + ("spark.codegen_compiles" -> compiles.toDouble)),
        tracer, counters, streamTotals, memoBuilds, timed.wall, warmS)
      phase("traced")
      layers
    }

    write(o("out"), mutable.LinkedHashMap(
      "workload" -> workload,
      "seed" -> o("seed").toLong,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "setup_s" -> setups.toSeq,
      "setup_cold_s" -> coldSetup,
      "warm_s" -> warmS,
      "timed" -> passJson(timed),
      "traced" -> traced.map(t => passJson(t.pass)),
      "layers" -> traced.map(_.metrics),
      "reconcile" -> traced.map(_.reconcile),
      "spans" -> traced.map(_.spans),
      "peak_rss_mb" -> peakRssMb,
      "phases_s" -> phases))
  }

  def passJson(p: Pass): Map[String, Any] = Map(
    "wall_s" -> p.wall,
    "layers" -> p.layers,
    "checks" -> p.checks,
    "memo" -> p.memo.map { case (m, d) => m -> Map("hits" -> d.hits, "recomputes" -> d.recomputes, "build_s" -> d.buildS) },
    "ops" -> p.ops.map(r => mutable.LinkedHashMap(
      "name" -> r.name, "group" -> r.group, "span" -> r.spanId, "latency_s" -> r.latency, "plan_s" -> r.plan,
      "exec_s" -> r.exec, "input_rows" -> r.inputRows, "rows" -> r.rows, "digest" -> r.digest,
      "schema" -> r.schema, "error" -> r.error)))

  /** High-water resident set of this JVM, from /proc (0 where unavailable). */
  def peakRssMb: Double =
    try {
      val line = Files.readAllLines(new File("/proc/self/status").toPath).toArray(Array.empty[String])
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}
