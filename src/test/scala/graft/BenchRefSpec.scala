package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Staleness gate for the committed per-class retry-ceiling reference
  * (tools/bench_ref_sf0.01.json, regenerated by tools/gen_bench_ref.sh):
  * a query added to the board without a regen silently falls back to the
  * flat 2 s ceiling (safe but wasteful), and a renamed/removed query
  * leaves a dead entry behind. Bench itself tolerates both; this spec
  * makes either drift a visible test failure instead of builder memory.
  */
class BenchRefSpec extends AnyFunSuite {

  /** Keys of the flat {"name": seconds} map. */
  private lazy val refKeys: Set[String] =
    new ObjectMapper().readTree(new java.io.File("tools/bench_ref_sf0.01.json"))
      .properties.asScala.map(_.getKey).toSet

  test("bench_ref covers every timed board query (regen gen_bench_ref.sh)") {
    val timed = Bench.timedBoard.toSet
    val missing = timed -- refKeys
    assert(missing.isEmpty,
      s"tools/bench_ref_sf0.01.json is stale — run tools/gen_bench_ref.sh; " +
        s"missing: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("bench_ref carries no entries outside the timed board") {
    // diff against the TIMED set, not all queries: a ceiling for a twin
    // (never timed by default) is exactly the dead entry this gate exists
    // to catch — e.g. a ref regenerated from a run whose
    // SPARK_GRAFT_BENCH_QUERIES allowlist named a twin
    val timed = Bench.timedBoard.toSet
    val dead = refKeys -- timed
    assert(dead.isEmpty,
      s"tools/bench_ref_sf0.01.json names queries outside the timed board " +
        s"— run tools/gen_bench_ref.sh; dead: ${dead.toSeq.sorted.mkString(", ")}")
  }
}
