package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty

import graft.core.QueryMetrics
import graft.operators.Graph

/** The graph recurrences' one-task path against their distributed loop.
  * Spec-sized graphs measure at one partition, so a plain call takes the
  * one-task path; a few-byte advisory partition size sizes the same edge
  * checkpoint past one partition and forces the distributed loop. Both
  * must return the same rows under the same schema, nullability included,
  * on random graphs with self-loops, duplicate and reversed edges,
  * isolated nodes and null endpoints, converged or not. */
class GraphOneTaskSpec extends SparkSpecBase {
  import spark.implicits._
  private val sc = spark.sparkContext
  private val metrics = QueryMetrics.attach(sc)
  private var scopes = 0

  /** (rows, schema, one-task solves) of `run` on the path the graph's size picks. */
  private def oneTask(run: => DataFrame) = measured(run)

  /** The same with the distributed loop forced. */
  private def distributed(run: => DataFrame) = forced(measured(run))

  private def forced[T](body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try body finally spark.conf.set(key, prev)
  }

  private def measured(run: => DataFrame): (Seq[String], String, Long) = {
    scopes += 1
    val scope = s"graph-one-task-$scopes"
    val (rows, schema) = QueryMetrics.scoped(sc, scope) {
      val df = run
      (df.collect().map(_.toString).sorted.toSeq, df.schema.toString)
    }
    (rows, schema, metrics.take(scope)("graph_local_solves"))
  }

  /** Both paths agree, and each took the path it was meant to. An empty
    * edge list measures at one partition however small the advisory size,
    * so it takes the one-task path both times. */
  private def agree(label: String, emptyGraph: Boolean = false)(run: => DataFrame): Prop = {
    val (rowsL, schemaL, solvesL) = oneTask(run)
    val (rowsD, schemaD, solvesD) = distributed(run)
    ((rowsL == rowsD) :| s"$label rows: one-task $rowsL vs distributed $rowsD") &&
      ((schemaL == schemaD) :| s"$label schema: $schemaL vs $schemaD") &&
      ((emptyGraph || solvesL == 1 && solvesD == 0) :|
        s"$label solves: $solvesL one-task, $solvesD distributed")
  }

  private def check(prop: Prop, cases: Int): Unit = {
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(cases).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  // small id space: self-loops, duplicates and reversed pairs come up often
  private val endpoint = Gen.frequency(1 -> Gen.const(None), 12 -> Gen.choose(0L, 9L).map(Some(_)))
  private val edgeList = Gen.choose(0, 24).flatMap(Gen.listOfN(_, Gen.zip(endpoint, endpoint)))
  private val isolatedIds = Gen.listOf(Gen.choose(0L, 14L))

  private def edgesDf(es: Seq[(Option[Long], Option[Long])]) = es.toDF("src", "dst")

  test("connected components: one task == distributed for int, bigint and string ids") {
    val prop = Prop.forAllNoShrink(edgeList, isolatedIds, Gen.choose(0, 4)) { (es, iso, maxIter) =>
      Prop.all(Seq("int", "bigint", "string").map { t =>
        def typed(c: String) = if (t == "string") concat(lit("n"), col(c)) else col(c).cast(t)
        val edges = edgesDf(es).select(typed("src").as("a"), typed("dst").as("b"))
        val nodes = iso.toDF("v").select(typed("v").as("doc"))
        agree(s"cc[$t, maxIter=$maxIter]", es.isEmpty)(Graph.connectedComponents(nodes, edges, "doc", "a", "b", maxIter)) &&
          agree(s"ccFromEdges[$t]", es.isEmpty)(Graph.connectedComponentsFromEdges(edges, "a", "b", maxIter,
            isolated = Some(nodes), isolatedCol = "doc"))
      }: _*)
    }
    check(prop, 5)
  }

  test("connected components on a chain longer than maxIter stop unconverged on both paths") {
    val chain = (1L to 9L).map(i => (Option(i + 1), Option(i))).toDF("a", "b")
    val nodes = (0L to 11L).toDF("id")
    val run = () => Graph.connectedComponents(nodes, chain, "id", "a", "b", maxIter = 3)
    val (rows, _, _) = oneTask(run())
    // three rounds carry node 1's label three hops: 2, 3, 4 reach 1, 5 reaches 2
    assert(rows.contains("[4,1]") && rows.contains("[5,2]") && rows.contains("[10,7]"), rows)
    check(agree("chain")(run()), 1)
  }

  test("label propagation: one task == distributed") {
    val prop = Prop.forAllNoShrink(edgeList, isolatedIds, Gen.choose(0, 4)) { (es, iso, iterations) =>
      agree(s"lp[$iterations]", es.isEmpty)(Graph.labelPropagation(edgesDf(es), "src", "dst", iterations)) &&
        agree(s"lp[$iterations, isolated]", es.isEmpty)(Graph.labelPropagation(edgesDf(es), "src", "dst", iterations,
          isolated = Some(iso.toDF("v")), isolatedCol = "v"))
    }
    check(prop, 6)
  }

  test("PageRank in both dangling modes: one task == distributed") {
    val prop = Prop.forAllNoShrink(edgeList, Gen.choose(0, 5), Gen.oneOf(1000L, 1000000000L)) {
      (es, iterations, scale) =>
        Prop.all(Seq(false, true).map { dangling =>
          agree(s"pr[$iterations, $scale, dangling=$dangling]", es.isEmpty)(
            Graph.pageRankInt(edgesDf(es), "src", "dst", iterations, scale, dangling))
        }: _*)
    }
    check(prop, 6)
  }

  test("HITS: one task == distributed") {
    val prop = Prop.forAllNoShrink(edgeList, Gen.choose(1, 4), Gen.oneOf(100L, 1000000L)) {
      (es, iterations, scale) =>
        agree(s"hits[$iterations, $scale]", es.isEmpty)(Graph.hitsInt(edgesDf(es), "src", "dst", iterations, scale))
    }
    check(prop, 6)
  }

  test("a scale too large for 64 bits fails loudly on both paths") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    def overflows(run: => Long): Boolean = {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).toLowerCase.contains("overflow"))
    }
    val huge = Long.MaxValue / 4
    for (dangling <- Seq(false, true)) {
      assert(overflows(oneTask(Graph.pageRankInt(edges, "src", "dst", 3, huge, dangling))._1.size))
      assert(overflows(distributed(Graph.pageRankInt(edges, "src", "dst", 3, huge, dangling))._1.size))
    }
    assert(overflows(oneTask(Graph.hitsInt(edges, "src", "dst", 2, huge))._1.size))
    assert(overflows(distributed(Graph.hitsInt(edges, "src", "dst", 2, huge))._1.size))
  }

  test("the distributed min-label round folds its convergence test into its checkpoint job") {
    // a chain of n edges converges in n + 1 rounds (the last one changes
    // nothing), so two chain lengths give the jobs of one round; the
    // separate filter(_changed).limit(1).count() cost 2 more a round (7)
    def jobs(n: Int): Long = {
      scopes += 1
      val scope = s"graph-one-task-$scopes"
      val chain = (1L to n.toLong).map(i => (i, i + 1)).toDF("a", "b")
      forced(QueryMetrics.scoped(sc, scope)(Graph.connectedComponentsFromEdges(chain, "a", "b")))
      val c = metrics.take(scope)
      assert(c("graph_local_solves") == 0)
      c("jobs")
    }
    assert((jobs(5) - jobs(3)) / 2 == 5)
  }
}
