package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.QuerySpec.{CapturedOracle, Declared, RowsOnly}

/** The board registry's contract: [[QuerySpec.board]] refuses a
  * declaration table that disagrees with the query objects, naming the
  * entry; Bench and Verify refuse an allowlist naming anything off the
  * board; and Bench's session blocks never split a memo's readers. */
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

  private def memosOf(names: Map[String, Set[String]]): String => Set[String] =
    names.withDefaultValue(Set.empty)

  test("the board's timed pass puts every memo's readers in the first block") {
    val memos = memosOf(SparkEntry.board.map(q => q.name -> q.memos).toMap)
    val blocks = Bench.blocks(Bench.timedBoard, memos, size = 40)
    val readers = Bench.timedBoard.filter(memos(_).nonEmpty).toSet
    assert(readers.nonEmpty && readers.subsetOf(blocks.head.toSet))
    assert(blocks.flatten.sorted == Bench.timedBoard.sorted && blocks.forall(_.size <= 40))
  }

  test("block placement never splits a memo's readers across blocks") {
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val size = 1 + rnd.nextInt(12)
      val entries = (0 until rnd.nextInt(40)).map { i =>
        s"q$i" -> (0 until 3).filter(_ => rnd.nextInt(6) == 0).map(m => s"m$m").toSet
      }
      val memos = memosOf(entries.toMap)
      val names = rnd.shuffle(entries.map(_._1))
      val nReaders = entries.count(_._2.nonEmpty)
      scala.util.Try(Bench.blocks(names, memos, size)).fold(
        e => assert(e.isInstanceOf[IllegalArgumentException] && nReaders > size, e.getMessage),
        blocks => {
          assert(blocks.flatten.sorted == names.sorted && blocks.forall(_.size <= size))
          entries.flatMap(_._2).distinct.foreach { m =>
            assert(blocks.count(_.exists(memos(_).contains(m))) == 1, s"$m split across blocks")
          }
        })
    }
    // more readers of one memo than a block holds cannot be placed
    val crowded = memosOf((1 to 5).map(i => s"q$i" -> Set("m")).toMap)
    assert(failure(Bench.blocks((1 to 5).map(i => s"q$i"), crowded, size = 4)).contains("readers of m"))
  }
}
