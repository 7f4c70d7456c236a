package perfbench

import org.apache.spark.sql.SparkSession

/** One operation of a pass: a board query, a streaming leg or a refresh
  * cycle. Times are seconds; `inputRows` is the work the operation was given. */
final case class OpRecord(
    name: String,
    group: String,
    spanId: Int,
    latency: Double,
    plan: Double,
    exec: Double,
    inputRows: Long,
    rows: Long,
    digest: String,
    schema: String,
    error: Option[String]
)

/** Shared-frame memo traffic over one pass. */
final case class MemoDelta(hits: Long, recomputes: Long, buildS: Double)

/** A timed pass: its operations, its wall time, the per-layer numbers only
  * this workload knows (already named as in BENCHMARK.json), the results of
  * its output checks, and its memo traffic. */
final case class Pass(
    wall: Double,
    ops: Seq[OpRecord],
    layers: Map[String, Double],
    checks: Map[String, Any],
    memo: Map[String, MemoDelta] = Map.empty
)

trait Workload {
  /** Work done once in the first session, before any timing. */
  def prepare(spark: SparkSession): Unit = ()
  /** Makes the sources known to a new session; timed as part of set-up. */
  def register(spark: SparkSession): Unit
  /** Untimed pass that fills JIT and code-generation caches. */
  def warm(spark: SparkSession): Unit
  /** The closed-loop timed pass: one client, each operation after the last.
    * `windowEnd` runs when the last operation has finished, before any
    * checking work of the pass. */
  def pass(spark: SparkSession, tracer: Tracer, windowEnd: () => Unit): Pass
}

object Clock {
  def secs(fromNanos: Long, toNanos: Long = System.nanoTime()): Double = (toNanos - fromNanos) / 1e9
}
