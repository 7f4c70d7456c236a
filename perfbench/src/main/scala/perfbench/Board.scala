package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.{FrameMemo, Tables}
import graft.queries._

/** The board entries of `graft.SparkEntry.queries`, grouped by the query
  * object that defines them. */
object Board {
  type Fn = (SparkSession, String) => DataFrame

  val objects: Seq[(String, Map[String, Fn])] = Seq(
    "RelationalQueries" -> RelationalQueries.queries,
    "TextQueries" -> TextQueries.queries,
    "DedupQueries" -> DedupQueries.queries,
    "EventGraphQueries" -> EventGraphQueries.queries,
    "AdvancedQueries" -> AdvancedQueries.queries,
    "ExtraQueries" -> ExtraQueries.queries,
    "EmModelQueries" -> EmModelQueries.queries,
    "RetrievalQueries" -> RetrievalQueries.queries,
    "StreamingQueries" -> StreamingQueries.queries)

  val entries: Map[String, (String, Fn)] =
    objects.flatMap { case (obj, qs) => qs.map { case (n, f) => n -> ((obj, f)) } }.toMap

  val tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolves every table's schema in the session, then runs one small job
    * so the session's first-job costs land in set-up, not in whichever
    * operation the seed puts first. */
  def register(spark: SparkSession, dir: String): Unit = {
    val t = Tables(spark, dir)
    tables.foreach(n => (if (n == "events") t.events else t.table(n)).schema: Unit)
    t.region.count(): Unit
  }

  def memoStats: Map[String, (Long, Long, Double)] =
    FrameMemo.allStatsWithBuild.map { case (n, h, r, b) => n -> ((h, r, b)) }.toMap

  def error(t: Throwable): String = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
}

/** query_board: board entries in the given (seeded) order; an entry may
  * appear more than once.
  * The timed part of an operation is the query function call (`plan`,
  * which includes any eager memo build or streaming drain) plus collecting
  * its result (`exec`). Digests are computed after the window. */
final class BoardWorkload(dir: String, names: Seq[String], inputRows: Map[String, Long]) extends Workload {
  names.foreach(n => require(Board.entries.contains(n), s"unknown board entry: $n"))

  def register(spark: SparkSession): Unit = Board.register(spark, dir)

  /** Runs the pass's operations once, repeats included, so the repeated
    * typical-cost entries are as warm in the timed pass as the others. */
  def warm(spark: SparkSession): Unit = names.foreach { n =>
    try Board.entries(n)._2(spark, dir).collect(): Unit
    catch { case NonFatal(_) => () }
  }

  def pass(spark: SparkSession, tracer: Tracer, windowEnd: () => Unit): Pass = {
    val memo0 = Board.memoStats
    val results = new Array[(OpRecord, Option[(StructType, Array[Row])])](names.length)
    val w0 = System.nanoTime()
    names.zipWithIndex.foreach { case (n, i) =>
      val (obj, fn) = Board.entries(n)
      val t0 = System.nanoTime()
      var t1 = t0
      val out = try {
        tracer.span("bench.op", n) {
          val df = tracer.span("queries.plan", n)(fn(spark, dir))
          t1 = System.nanoTime()
          val rows = tracer.span("queries.exec", n)(df.collect())
          Right((df.schema, rows))
        }
      } catch { case NonFatal(e) => Left(Board.error(e)) }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      val rec = OpRecord(n, obj, 0, Clock.secs(t0, t2), Clock.secs(t0, t1), Clock.secs(t1, t2),
        inputRows.getOrElse(n, 0L), 0L, "", "", out.left.toOption)
      results(i) = (rec, out.toOption)
    }
    val wall = Clock.secs(w0)
    windowEnd()
    val memo1 = Board.memoStats
    val ops = results.toSeq.map { case (rec, res) =>
      res.fold(rec) { case (schema, rows) =>
        rec.copy(rows = rows.length.toLong, digest = Canon.digest(schema, rows), schema = Canon.schemaString(schema))
      }
    }
    val memo = memo1.map { case (m, (h1, r1, b1)) =>
      val (h0, r0, b0) = memo0.getOrElse(m, (0L, 0L, 0.0))
      m -> MemoDelta(h1 - h0, r1 - r0, b1 - b0)
    }
    // build times come from the traced pass, where nested builds are told apart
    val layers = Map(
      "core.FrameMemo.hits" -> memo.values.map(_.hits).sum.toDouble,
      "core.FrameMemo.recomputes" -> memo.values.map(_.recomputes).sum.toDouble) ++
      ops.groupBy(_.group).flatMap { case (g, os) =>
        Seq(s"queries.$g.plan_s" -> os.map(_.plan).sum, s"queries.$g.exec_s" -> os.map(_.exec).sum)
      }
    Pass(wall, ops, layers, Map.empty, memo)
  }
}
