package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** Reference pass over board entries, for `record.py`: after an untimed warm
  * pass, each entry's latency, rows read, result digest and the memo builds
  * it paid for (exclusive of nested builds), in a fresh session; then each
  * memo-reading entry alone in a fresh session of its own, where every memo
  * it reads, directly or through another memo's build, is built and so
  * shows; then the oracle SQL of every entry. */
object Record {
  def apply(o: Map[String, String]): Unit = {
    val dir = o("data")
    // every timed board entry: the portable-oracle twins are not timed
    val names = graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(graft.Bench.TwinEntries)
    val warm = Main.session()
    val wl = new BoardWorkload(dir, names, Map.empty)
    wl.warm(warm)
    Main.stop(warm)
    val spark = Main.session()
    Board.register(spark, dir)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    def readRows(): Long = { ListenerBusDrain(spark.sparkContext); counters.snapshot().stage("input_records") }
    val watch = new MemoWatch
    val timed = names.map { n =>
      val (obj, fn) = Board.entries(n)
      val memo0 = Board.memoStats
      val r0 = readRows()
      val t0 = System.nanoTime()
      val res = try {
        val df = fn(spark, dir)
        val rows = df.collect()
        Right((df.schema, rows))
      } catch { case NonFatal(e) => Left(Board.error(e)) }
      val t1 = System.nanoTime()
      (n, obj, t0, t1, touched(memo0), readRows() - r0, res)
    }
    val builds = watch.stop()
    Main.stop(spark)
    val out = timed.map { case (n, obj, t0, t1, used, inputRows, res) =>
      val built = builds.filter(b => MemoWatch.within(b.start, b.end, t0, t1, Layers.ContainNs))
        .groupBy(_.memo).map { case (m, bs) => m -> bs.map(_.exclusive).sum / 1e9 }
      mutable.LinkedHashMap[String, Any](
        "name" -> n, "group" -> obj, "latency_s" -> Clock.secs(t0, t1), "input_rows" -> inputRows,
        "memos" -> (if (used.isEmpty) used else alone(n, dir)), "memo_build_s" -> built,
        "error" -> res.left.toOption,
        "rows" -> res.toOption.map(_._2.length), "digest" -> res.toOption.map { case (s, r) => Canon.digest(s, r) },
        "schema" -> res.toOption.map(x => Canon.schemaString(x._1)))
    }
    Main.write(o("out"), Map("ops" -> out, "oracle_sql" -> graft.SparkEntry.oracleSql))
  }

  /** The memos whose hits or builds moved since `before`. */
  private def touched(before: Map[String, (Long, Long, Double)]): Seq[String] =
    Board.memoStats.collect {
      case (m, (h, r, _)) if before.get(m).forall { case (h0, r0, _) => h0 + r0 != h + r } => m
    }.toSeq.sorted

  /** The memos entry `n` reads when it runs alone in a fresh session. */
  private def alone(n: String, dir: String): Seq[String] = {
    val s: SparkSession = Main.session()
    try {
      val before = Board.memoStats
      try Board.entries(n)._2(s, dir).collect(): Unit
      catch { case NonFatal(_) => () }
      touched(before)
    } finally Main.stop(s)
  }
}
