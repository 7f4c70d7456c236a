package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.QuerySpec.{CapturedOracle, Declared, RowsOnly}

/** The board registry's contract: [[QuerySpec.board]] refuses a
  * declaration table that disagrees with the query objects, naming the
  * entry; Bench and Verify refuse an allowlist naming anything off the
  * board; and Bench runs every memo reader after the other entries. */
class QueryRegistrySpec extends AnyFunSuite {

  private val noop: (SparkSession, String) => DataFrame = (_, _) => null
  private val queries = Map("q_oracled" -> noop, "q_sketch" -> noop, "q_trained" -> noop)

  private def failure(f: => Any): String = intercept[IllegalArgumentException](f).getMessage

  test("a consistent declaration table builds one spec per query, name-sorted") {
    val board = QuerySpec.board(queries, Set("q_oracled"), Seq(
      "q_sketch" -> Declared(RowsOnly("sketch", "twin q_oracled")),
      "q_trained" -> Declared(CapturedOracle, memos = Set("m"))))
    assert(board.map(_.name) == Seq("q_oracled", "q_sketch", "q_trained"))
    assert(board.map(_.check) == Seq(QuerySpec.Oracle, RowsOnly("sketch", "twin q_oracled"), CapturedOracle))
    assert(board.map(_.memos) == Seq(Set.empty, Set.empty, Set("m")))
  }

  test("a query without oracle SQL that is declared neither RowsOnly nor CapturedOracle fails, named") {
    val msg = failure(QuerySpec.board(queries, Set("q_oracled"),
      Seq("q_trained" -> Declared(CapturedOracle))))
    assert(msg.contains("declared neither RowsOnly nor CapturedOracle: q_sketch"), msg)
  }

  test("a RowsOnly entry that has oracle SQL fails, named") {
    val msg = failure(QuerySpec.board(queries, Set("q_oracled", "q_sketch"), Seq(
      "q_sketch" -> Declared(RowsOnly("sketch", "none")),
      "q_trained" -> Declared(CapturedOracle))))
    assert(msg.contains("declared RowsOnly, yet has oracle SQL: q_sketch"), msg)
  }

  test("a declaration for a name that is not a query fails, named") {
    val msg = failure(QuerySpec.board(queries, Set("q_oracled", "q_sketch", "q_trained"),
      Seq("q_renamed_twin" -> Declared(untimedBecause = Some("portable stand-in")))))
    assert(msg.contains("declared but not a board query: q_renamed_twin"), msg)
  }

  test("a name declared twice fails, named") {
    val msg = failure(QuerySpec.board(queries, Set("q_oracled", "q_sketch", "q_trained"),
      Seq("q_sketch" -> Declared(memos = Set("m")), "q_sketch" -> Declared(untimedBecause = Some("x")))))
    assert(msg.contains("declared twice: q_sketch"), msg)
  }

  test("the timed pass and the twins partition the board") {
    val names = SparkEntry.board.map(_.name)
    assert(names == names.sorted && names.toSet == SparkEntry.queries.keySet)
    assert(Bench.timedBoard.toSet ++ Bench.TwinEntries == names.toSet)
    assert(Bench.timedBoard.toSet.intersect(Bench.TwinEntries).isEmpty)
    assert(SparkEntry.rowsOnly.keySet.subsetOf(Bench.timedBoard.toSet))
  }

  test("an allowlist naming an unknown query fails with that name, for Bench and Verify") {
    val bench = failure(Bench.selected("d5_neardup_clusters, d5_neardup_clusterz"))
    assert(bench.endsWith(": d5_neardup_clusterz"), bench)
    val verify = failure(SparkEntry.allowlist("a1_conditional_agg,toy_quadratic", SparkEntry.queries.keySet))
    assert(verify.endsWith(": toy_quadratic"), verify)
    assert(failure(Bench.selected(" , ")).contains("allowlist ' , '"))
  }

  test("an allowlist resolves board entries, the negative control and build:<memo>") {
    assert(Bench.selected("x1_hash_split,toy_quadratic") == Seq("x1_hash_split", "toy_quadratic"))
    assert(Bench.selected("d17_fuzzy_join") == Seq("d17_fuzzy_join"))
    assert(Bench.selected("build:trade_pairs,g1_pagerank") ==
      Seq("g1_pagerank", "g1b_pagerank_dangling", "g2_label_propagation", "g3_hits"))
  }

  test("the run order covers the selection and puts every memo reader last") {
    val memos = SparkEntry.board.map(q => q.name -> q.memos).toMap.withDefaultValue(Set.empty[String])
    val order = Bench.runOrder(Bench.timedBoard, memos)
    assert(order.sorted == Bench.timedBoard.sorted)
    val firstReader = order.indexWhere(memos(_).nonEmpty)
    assert(firstReader > 0 && order.drop(firstReader).forall(memos(_).nonEmpty), order)
  }
}
