package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Staleness gate for the committed ×10 scale-leg artifact
  * (SCALE_r<N>.json, written by tools/scale_leg.sh) — the BenchRefSpec
  * pattern applied to the one regression class nothing else catches: a
  * query added to the board WITHOUT a scale-leg rerun ships with no ×10
  * ratio evidence at all (the round-7 board-addition window proved the
  * gap is real). This spec fails the suite until tools/scale_leg.sh is
  * rerun, making "batch board additions, then rerun the scale leg" a
  * hard invariant instead of builder memory.
  */
class ScaleRefSpec extends AnyFunSuite {

  /** The highest-round SCALE_r<N>.json at the repo root — the artifact
    * the next judge reads. Lexicographic max is wrong past r9 (r10 < r9),
    * so compare parsed round numbers. Plain listFiles, not Files.list —
    * the stream variant holds a directory handle until closed. */
  private lazy val latestScale: Option[(Int, String)] =
    Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .flatMap { n =>
        "^SCALE_r(\\d+)\\.json$".r.findFirstMatchIn(n).map(m => (m.group(1).toInt, n))
      }
      .sortBy(_._1).lastOption

  /** Shared accessor with the actionable message (a bare .get would fail
    * tests 2-3 with an opaque None.get on a fresh clone). */
  private def latestScaleOrFail: (Int, String) = {
    assert(latestScale.nonEmpty,
      "no SCALE_r<N>.json at the repo root — run tools/scale_leg.sh <round>")
    latestScale.get
  }

  /** Keys of the artifact's TOP-LEVEL "queries" object only, so a
    * check_scale.py top-level key whose value is an object (the round-9
    * regex trap: it scanned the whole document minus a hand-maintained
    * stop-set) can never masquerade as board coverage. */
  private def scaleKeys(file: String): Set[String] =
    scaleKeysOf(Files.readString(Paths.get(file)))

  private[graft] def scaleKeysOf(txt: String): Set[String] =
    new ObjectMapper().readTree(txt).path("queries").properties.asScala.map(_.getKey).toSet

  /** Artifact keys outside the timed board. `build:<memo>` entries ARE
    * timed-board members (Bench charges memo builds to the board), but
    * only while a board entry declares it reads <memo>: a renamed or
    * deleted memo's key is dead. */
  private def deadKeys(keys: Set[String]): Set[String] =
    keys -- Bench.timedBoard -- SparkEntry.board.flatMap(_.memos).map(m => s"build:$m")

  test("a SCALE_r<N>.json artifact exists (run tools/scale_leg.sh <round>)") {
    assert(latestScale.nonEmpty, "no SCALE_r<N>.json at the repo root")
  }

  test("scaleKeysOf reads ONLY the top-level queries object") {
    // a future top-level object-valued gate key ("thresholds") and an
    // object nested inside gate must NOT read as board coverage, and a
    // board query listed outside "queries" must not satisfy it
    val fabricated =
      """{
        | "round": 99,
        | "gate": {"ratio_ceiling": 10.0, "allowlist": {"q_allow": 15.0},
        |          "nested_obj": {"q_fake_inner": {"x": 1}}},
        | "thresholds": {"q_fake_top": {"base_sec": 1.0}},
        | "violations": [{"query": "q_viol", "ratio": 99.0}],
        | "queries": {
        |  "q_real_a": {"base_sec": 0.5, "x10_sec": 1.0, "ratio": 2.0},
        |  "q_real_b": {"base_sec": 0.5, "x10_sec": 1.0, "ratio": 2.0}
        | }
        |}""".stripMargin
    assert(scaleKeysOf(fabricated) == Set("q_real_a", "q_real_b"))
    // and an artifact whose queries object omits a board query yields a
    // set that misses it (the staleness test would go red)
    assert(!scaleKeysOf(fabricated).contains("q_viol"))
  }

  test("the latest scale artifact covers every timed board query (rerun tools/scale_leg.sh)") {
    val (round, file) = latestScaleOrFail
    val missing = Bench.timedBoard.toSet -- scaleKeys(file)
    assert(missing.isEmpty,
      s"$file (round $round) is stale — a board entry shipped without a ×10 scale ratio; " +
        s"run tools/scale_leg.sh; missing: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("the latest scale artifact carries no entries outside the timed board") {
    val (round, file) = latestScaleOrFail
    // negative controls (toy_quadratic) live only in SCALE_selftest.json,
    // never in the round artifact
    val dead = deadKeys(scaleKeys(file))
    assert(dead.isEmpty,
      s"$file (round $round) names queries outside the timed board — rerun " +
        s"tools/scale_leg.sh; dead: ${dead.toSeq.sorted.mkString(", ")}")
  }

  test("a build: entry whose memo is no longer registered reads as dead") {
    val fabricated =
      """{"queries": {
        |  "a1_conditional_agg": {"base_sec": 0.5, "x10_sec": 1.0, "ratio": 2.0},
        |  "build:trade_pairs": {"base_sec": 0.5, "x10_sec": 1.0, "ratio": 2.0},
        |  "build:gone_memo": {"base_sec": 0.5, "x10_sec": 1.0, "ratio": 2.0}
        |}}""".stripMargin
    assert(deadKeys(scaleKeysOf(fabricated)) == Set("build:gone_memo"))
  }
}
