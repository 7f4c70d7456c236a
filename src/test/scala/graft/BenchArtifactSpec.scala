package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's two stdout lines, assembled from fabricated results
  * without a board run: strings survive a JSON round trip, both lines keep
  * the keys the board tools read, numbers keep their decimal places, and
  * the compact line stays bounded. */
class BenchArtifactSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val oddName = "q\"quoted\\slash\ttab\nline"
  private val oddSf = "/data/sf \"0.01\"\\dir\twith\nbreak"
  // one retried entry, one failure marker, twelve plain entries; of the two
  // memos only the recomputed one is charged as build:<memo>
  private val results =
    Seq((oddName, 0.12345, 1), ("failed_q", -1.0, 0)) ++ (1 to 12).map(i => (f"q$i%02d", i.toDouble, 0))
  private def reading(jobs: Long) = ListMap("jobs" -> jobs, "tasks" -> 3 * jobs, "task_ends" -> 3 * jobs,
    "graph_local_solves" -> jobs % 2, "codegen_compiles" -> 2 * jobs, "codegen_ms" -> 15 * jobs)
  // counters for every entry and both memos; the idle memo's are not charged
  private val counters = (results.map(_._1) ++ Seq("build:spec_built", "build:spec_idle"))
    .zipWithIndex.map { case (k, i) => k -> reading(i.toLong) }.toMap
  private val (fullLine, compactLine) = Bench.artifactLines(oddSf, results,
    memos = Seq(("spec_built", 2L, 1L, 20.5), ("spec_idle", 4L, 0L, 0.0)), counters = counters,
    refTimes = Map(oddName -> 1.0), steal = Some((7L, 1.234)))
  private val full = mapper.readTree(fullLine)
  private val compact = mapper.readTree(compactLine)
  private def keys(n: JsonNode): Set[String] = n.properties.asScala.map(_.getKey).toSet

  test("both lines are single-line JSON that give back every string") {
    assert(!fullLine.contains('\n') && !compactLine.contains('\n'))
    for (n <- Seq(full, compact))
      assert(n.get("sf").asText == oddSf && n.get("retries").get(oddName).asInt == 1)
    assert(full.get("queries").has(oddName) && full.get("ceilings_raised").has(oddName))
  }

  test("both lines carry the board's key sets") {
    val env = Set("sf", "commit", "cores", "load_avg_1m", "cold", "recycle_every", "passes",
      "retry_ceiling_sec", "ceiling_ref", "frame_memo", "steal", "closing_board", "retries",
      "n_failed", "twins_excluded", "metric", "value", "unit")
    assert(keys(full) == env ++ Set("queries", "ceilings_raised", "counters"))
    assert(keys(compact) == env ++ Set("n_queries", "slowest"))
    assert(keys(full.get("frame_memo")) == Set("spec_built", "spec_idle"))
    // re-emitted from the committed tools/closing_board.json
    assert(keys(compact.get("closing_board")) == Set("round", "value_sec", "n_queries",
      "per_query_sec", "load_avg_1m", "steal_pct", "n_retried", "commit"))
    assert(full.get("n_failed").asInt == 1 && compact.get("n_queries").asInt == results.size)
  }

  test("the full line carries the counters of every timed entry and every charged build") {
    assert(keys(full.get("counters")) == keys(full.get("queries")))
    assert(keys(full.get("counters")).contains("build:spec_built"))
    for ((k, c) <- counters if k != "build:spec_idle") {
      val o = full.get("counters").get(k)
      assert(o.properties.asScala.toSeq.map(e => e.getKey -> e.getValue.asLong) == c.toSeq, k)
    }
  }

  test("each counters record says how much of its entry was compilation") {
    for (k <- keys(full.get("counters"))) {
      val o = full.get("counters").get(k)
      assert(o.get("codegen_compiles").asLong == counters(k)("codegen_compiles") &&
        o.get("codegen_ms").asLong == counters(k)("codegen_ms"), k)
    }
    // the keys are those of every QueryMetrics reading
    assert(Set("codegen_compiles", "codegen_ms").subsetOf(graft.core.QueryMetrics.Keys.toSet))
  }

  test("each counters record says how often its entry solved a graph recurrence in one task") {
    for (k <- keys(full.get("counters")))
      assert(full.get("counters").get(k).get("graph_local_solves").asLong ==
        counters(k)("graph_local_solves"), k)
    assert(graft.core.QueryMetrics.Keys.contains("graph_local_solves"))
  }

  test("numbers keep their decimal places; the -1 marker counts as zero in the total") {
    for (s <- Seq("\"failed_q\":-1.0000", "\"build:spec_built\":20.5000", ":4.00},",
        "\"steal\":{\"ticks\":7,\"pct\":1.23}"))
      assert(fullLine.contains(s), s)
    assert(!keys(full.get("queries")).contains("build:spec_idle"))
    assert(compactLine.contains("\"value\":98.623,") && compactLine.contains("\"build:spec_built\":20.500"))
  }

  test("the compact line keeps only the ten slowest entries") {
    assert(keys(compact.get("slowest")) == Set("build:spec_built") ++ (4 to 12).map(i => f"q$i%02d"))
  }
}
