package graft
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, NullNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.core.{FrameMemo, QueryMetrics}
object Bench {
  // NEGATIVE CONTROLS for the scale gate (tools/scale_leg.sh --selftest),
  // run only when SPARK_GRAFT_BENCH_QUERIES names them; never on the
  // board. toy_quadratic is an uncapped within-group self-join whose pair
  // count grows as the SQUARE of the corpus, so the x10 fixture must
  // blow past the gate's ratio ceiling.
  private val extraQueries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "toy_quadratic" -> { (s, dir) =>
        import org.apache.spark.sql.functions._
        val d = s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val b = d.select(col("doc_id").as("bid"), col("lang"), col("n_chars").as("bn"))
        d.join(b, Seq("lang"))
          .where(col("doc_id") < col("bid") && abs(col("n_chars") - col("bn")) <= lit(5))
          .groupBy("lang").agg(count(lit(1)).as("pairs"))
      }
    )
  // Force EVERY output column of the final plan: Dataset.count() lets
  // Catalyst prune the measured computation for pure projections (count
  // needs no columns, so a quality-score pass over 10x data timed flat),
  // which under-measures exactly the map-heavy queries whose scaling the
  // bench exists to watch. toRdd executes the plan as optimized for full
  // output; the RDD count forces all partitions without a driver collect.
  private def force(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Board entries kept off the default timed pass, each for the reason
    * its [[QuerySpec.untimedBecause]] gives; they run only when the
    * allowlist names them and stay fully graded in Verify. */
  val TwinEntries: Set[String] = SparkEntry.board.filter(_.untimedBecause.nonEmpty).map(_.name).toSet

  /** The default timed pass: every other board entry. */
  private[graft] val timedBoard: Seq[String] =
    SparkEntry.board.filter(_.untimedBecause.isEmpty).map(_.name)

  // Recycle the SparkSession every BlockSize queries: one long-lived session
  // running 150+ queries x 2 passes outgrows the JVM code cache, and the
  // sweeper evicts hot codegen methods from ROTATING victims — a map-only
  // query intermittently times 10-50x its isolated cost (j10 11.5 s
  // official vs 0.2 s isolated, round 5), so a real regression could hide
  // in the noise. Dropping the session releases the generated-class
  // loaders, letting the sweeper reclaim whole nmethod regions instead of
  // evicting live ones. Session startup is untimed. Spark's class cache
  // (2000 classes, SparkSessionFactory) keeps a stopped block's classes,
  // all compiled under the driver's loader (local tasks run under it,
  // DriverLoaderPlugin), so each of them serves later blocks, tasks
  // included, until it is evicted. The code heap stays far inside
  // the code cache with it (build.sbt); same-window sf0.01 boards (4
  // cores) read 0 failed, 25 ceilings raised, and 2 and 0 retries
  // (st11/st13 at 11% host steal: executor run time tripled at flat CPU
  // time) against the 100-class cache's 0 and 23 (at 7% and 37% steal).
  private val BlockSize = 40
  // Two timed passes per query, per-query MIN: this host shows bursty
  // hypervisor steal that inflates a rotating victim 5-20x per pass
  // (BASELINE.md wave-7 note: three same-day full runs spanned 155-208 s
  // with different victims each time). A single pass makes the artifact
  // hostage to whichever queries the burst lands on; min-of-two is the
  // standard noisy-host estimator of the query's true steady-state cost
  // and is recorded as such ("passes":2) in the artifact.
  private val Passes = 2
  // Steal-retry sanity ceiling: this host's hypervisor-steal bursts can
  // hit BOTH timed passes of one query (round 6: j10 recorded 11.2 s
  // official vs 0.47 s isolated), so min-of-two alone can still print a
  // wild outlier next to a sub-second query — and a genuine regression in
  // a fast query could then hide behind the "it's just steal" precedent.
  // Any query whose best time exceeds the ceiling is re-run once and the
  // retry count is recorded in the artifact, so the official number either
  // recovers the true cost or documents that the query is REALLY that slow
  // even on a third pass. The base ceiling is absolute (legit slow legs
  // like g1 pay one extra ~4 s pass — cheap insurance on a 135 s board).
  private val RetryCeilingSec = 2.0
  private val MaxRetries = 1
  // Per-class ceilings: a flat 2 s ceiling re-runs the same ~10
  // known-heavy legs (g1/g2/st22/em_snapshots/...) every official run —
  // ~30 s of wasted third passes that can't change the outcome. The
  // committed ref file (tools/gen_bench_ref.sh: one Bench run at
  // sf0.01) records each query's small-scale cost; a query's ceiling is
  // max(base, 4x its sf0.01 time), so map-only queries keep the 1-2 s
  // expectation while a leg that costs 2 s at sf0.01 only retries above
  // 8 s — a genuine outlier, not its own steady state. Queries missing
  // from the ref (new this round) fall back to the flat base ceiling.
  private val CeilingRefPath = "tools/bench_ref_sf0.01.json"
  // the official idle closing run, written by
  // tools/record_closing_board.sh at round close (see closingBoard)
  private val ClosingBoardPath = "tools/closing_board.json"

  // Exact decimals both ways: fixed-place numbers keep their places on
  // output ("0.1000"), and closing-board numbers are re-emitted as written.
  private val mapper = new ObjectMapper()
    .setNodeFactory(JsonNodeFactory.withExactBigDecimals(true))
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  private def fixed(v: Double, places: Int): java.math.BigDecimal =
    new java.math.BigDecimal(
      java.lang.String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v)))

  private def ceilingFor(refTimes: Map[String, Double], name: String): Double =
    refTimes.get(name).map(t => math.max(RetryCeilingSec, 4.0 * t)).getOrElse(RetryCeilingSec)

  /** (steal, total) jiffy counters from /proc/stat's aggregate cpu line —
    * field 8 is time stolen by the hypervisor. Sampled at run start and
    * end so the artifact self-labels hot runs (round-13 verdict item 4:
    * the driver sweep read +43% purely from steal and only commit-message
    * prose said so). None off-Linux / on parse failure — the metric must
    * never fail a bench run. */
  private def stealSample(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        src.getLines().find(_.startsWith("cpu ")).flatMap { l =>
          val f = l.trim.split("\\s+").drop(1).flatMap(_.toLongOption)
          // total = fields 0-7 (user..steal) ONLY: the kernel already
          // folds guest/guest_nice (fields 8-9) into user/nice, so
          // summing them would double-count guest time and understate
          // steal_pct on nested-VM hosts
          if (f.length >= 8) Some((f(7), f.take(8).sum)) else None
        }
      } finally src.close()
    } catch { case _: Throwable => None }

  // tree-identity stamp: which code this artifact measured ("+dirty" =
  // uncommitted tree — the number pins nothing), so cross-round "code
  // is identical" claims are checkable mechanically
  private def commitStamp(): String = {
    def run(cmd: String*): Option[String] =
      try {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
        if (p.waitFor() == 0 && out.nonEmpty) Some(out) else None
      } catch { case _: Throwable => None }
    // sibling generated artifacts don't dirty the stamp: they are
    // measurement outputs, not measured code (tools/git_commit.py is
    // the python twin of this rule)
    val artifact =
      "(?i)^(SCALE|SKEW|EM100|BENCH|CORRECTNESS)_[a-z0-9_]+\\.json$|^SCALE_selftest\\.json$|^LEAKCHECK\\.json$".r
    run("git", "rev-parse", "HEAD").map { h =>
      // run() trims the captured output, which can eat the first
      // porcelain line's leading status char — strip the 1-2-char XY
      // status prefix with a regex (BEFORE the rename split, so a renamed
      // path whose first token is short isn't truncated) instead of
      // whitespace-splitting, which reduced a path containing a space to
      // its last token and could mis-exclude real code dirt
      val dirty = run("git", "status", "--porcelain", "--untracked-files=no")
        .map(_.linesIterator.filter(_.nonEmpty)
          .map(_.replaceFirst("^\\s*\\S{1,2}\\s+", "").split(" -> ").last)
          .filterNot(p => artifact.pattern.matcher(p).matches()).toSeq)
      h + (if (dirty.exists(_.nonEmpty)) "+dirty" else "")
    }.getOrElse("unknown")
  }

  // The idle closing run recorded at round close rides the artifact so
  // round-over-round comparisons use like-for-like idle numbers instead of
  // whatever load a single graded run happened to see. The known fields
  // are EXTRACTED and re-emitted in a fixed bounded shape (never the raw
  // file): this block rides the compact FINAL line, whose whole contract
  // is fitting the bounded stdout tail the official artifact keeps — an
  // unbounded embed (the retries map grows per retried query) could
  // truncate the official artifact mid-JSON, the round-3 failure the
  // final line exists to prevent. Absent/malformed file -> null, never a
  // crash (a board run must not depend on round bookkeeping).
  private def closingBoard(): JsonNode = {
    val f = new java.io.File(ClosingBoardPath)
    val board = if (f.isFile) Try(mapper.readTree(f)).toOption else None
    board.filter { t =>
      Seq("round", "value_sec", "n_queries", "per_query_sec").forall(t.path(_).isNumber) &&
        t.path("commit").isTextual && t.get("commit").asText.matches("[0-9a-f]{7,40}(\\+dirty)?")
    }.map { t =>
      val o = mapper.createObjectNode()
      for (k <- Seq("round", "value_sec", "n_queries", "per_query_sec", "load_avg_1m", "steal_pct"))
        o.set[JsonNode](k, if (t.path(k).isNumber) t.get(k) else NullNode.instance)
      o.put("n_retried", if (t.path("retries").isObject) t.get("retries").size else 0)
      o.set[JsonNode]("commit", t.get("commit"))
    }.getOrElse(NullNode.instance)
  }

  /** The entries an allowlist names, failing on any unknown name;
    * `build:<memo>` stands for every board entry that reads the memo, so
    * the build is charged again. */
  private[graft] def selected(csv: String): Seq[String] = {
    val readers = SparkEntry.board.flatMap(q => q.memos.map(m => s"build:$m" -> q.name))
      .groupMap(_._1)(_._2)
    SparkEntry.allowlist(csv, SparkEntry.queries.keySet ++ extraQueries.keySet ++ readers.keySet)
      .flatMap(n => readers.getOrElse(n, Seq(n))).distinct
  }

  /** Session blocks of at most `size` entries, memo readers placed first,
    * so all readers of a memo share the block whose warmup pass builds it:
    * one build per memo per run, and a retried pass hits the live memo.
    * Within a block the readers run last, so a build follows the block's
    * other warmups instead of a cold JVM. Fails if one memo's readers
    * would span two blocks. */
  private[graft] def blocks(names: Seq[String], memos: String => Set[String],
      size: Int = BlockSize): Seq[Seq[String]] = {
    val placed = names.sortBy(n => (memos(n).isEmpty, n)).grouped(size).toSeq
    val split = placed.flatMap(_.flatMap(memos).distinct).groupBy(identity)
      .collect { case (m, in) if in.size > 1 => m }
    require(split.isEmpty, s"readers of ${split.toSeq.sorted.mkString(", ")} would span two blocks")
    placed.map(_.sortBy(n => (memos(n).nonEmpty, n)))
  }

  /** The two stdout lines of a run: the full per-query record first (for
    * the build log / BASELINE.md), then a compact summary as the LAST
    * line. The official artifact keeps a bounded tail of stdout, and the
    * ~4 KB full line overflows it (round-3 artifacts truncated mid-line
    * and failed to parse); the final line is sized to always fit the tail
    * window whole, so the official artifact is self-contained: total +
    * count + the slowest legs, parseable. `results` holds (query, best
    * seconds or the -1 failure marker, retries) per timed query, `memos`
    * is [[graft.core.FrameMemo.allStatsWithBuild]], `counters` the
    * [[graft.core.QueryMetrics]] reading per timed query and per
    * `build:<memo>`, `refTimes` the sf0.01 reference costs behind the
    * retry ceilings, and `steal` the run's (ticks, pct) hypervisor-steal
    * delta. */
  private[graft] def artifactLines(sfDir: String, results: Seq[(String, Double, Int)],
      memos: Seq[(String, Long, Long, Double)], counters: Map[String, ListMap[String, Long]],
      refTimes: Map[String, Double], steal: Option[(Long, Double)]): (String, String) = {
    // Charge memo builds to the timed board: min-of-two passes report only
    // WARM consumer times, and the block's warmup pass builds each memo
    // once. Every memo that recomputed rides the board as `build:<memo>`,
    // valued at the wall seconds of its builds (eager localCheckpoint
    // included) as FrameMemo measured them, so the charge reconciles with
    // the recompute counters by construction.
    val charged = results ++ memos.collect { case (n, _, r, b) if r > 0 => (s"build:$n", b, 0) }
    val total = charged.map { case (_, v, _) => math.max(v, 0.0) }.sum
    def secs(entries: Seq[(String, Double)], places: Int): ObjectNode = {
      val o = mapper.createObjectNode()
      entries.foreach { case (k, v) => o.put(k, fixed(v, places)) }
      o
    }
    // environment fingerprint: a contended machine (stray JVMs, parallel
    // builds) inflates CPU-bound queries 10-100x — recording cores + the
    // 1-min load average alongside the numbers makes contamination
    // self-evident in the artifact instead of requiring a manual re-run
    val env = mapper.createObjectNode()
      .put("sf", sfDir).put("commit", commitStamp())
      .put("cores", Runtime.getRuntime.availableProcessors)
      .put("load_avg_1m",
        java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
      .put("cold", false).put("recycle_every", BlockSize).put("passes", Passes)
      .put("retry_ceiling_sec", RetryCeilingSec)
      .put("ceiling_ref", if (refTimes.isEmpty) null else CeilingRefPath)
    // every registered FrameMemo: hits vs recomputes per memo — the
    // observable that separates "leg drifted because its shared frame
    // recomputed" from host noise
    val frameMemo = env.putObject("frame_memo")
    memos.foreach { case (n, h, r, b) =>
      frameMemo.putObject(n).put("hits", h).put("recomputes", r).put("build_sec", fixed(b, 3))
    }
    // hypervisor-steal delta across the whole run: jiffies stolen / total
    // jiffies elapsed — cross-round tooling can discount hot runs
    // mechanically instead of band-reading load_avg
    env.set[JsonNode]("steal", steal.fold[JsonNode](NullNode.instance) { case (ticks, pct) =>
      mapper.createObjectNode().put("ticks", ticks).put("pct", fixed(pct, 2))
    })
    env.set[JsonNode]("closing_board", closingBoard())
    val retried = env.putObject("retries")
    results.foreach { case (k, _, r) => if (r > 0) retried.put(k, r) }
    env.put("n_failed", results.count(_._2 < 0))
    // the artifact records the twin exclusion so the official number
    // documents exactly what ran
    val twins = env.putArray("twins_excluded")
    TwinEntries.toSeq.sorted.foreach(twins.add)
    val full = mapper.createObjectNode().put("metric", "total_full").put("value", total)
      .put("unit", "sec")
    full.set[JsonNode]("queries", secs(charged.map { case (k, v, _) => (k, v) }, 4))
    // Spark counters of each board entry's reported pass and each charged
    // build, full line only: the compact line must stay bounded
    val perEntry = full.putObject("counters")
    charged.foreach { case (k, _, _) =>
      counters.get(k).foreach { c =>
        val o = perEntry.putObject(k)
        c.foreach { case (n, v) => o.put(n, v) }
      }
    }
    // per-class ceilings actually raised above the flat base ride the FULL
    // line only — the compact final line must stay inside the bounded
    // stdout tail
    full.set[JsonNode]("ceilings_raised", secs(results.map(_._1)
      .filter(ceilingFor(refTimes, _) > RetryCeilingSec).sorted
      .map(n => (n, ceilingFor(refTimes, n))), 2))
    full.setAll[JsonNode](env)
    val compact = mapper.createObjectNode().put("metric", "total").put("value", fixed(total, 3))
      .put("unit", "sec").put("n_queries", results.length)
    compact.set[JsonNode]("slowest",
      secs(charged.sortBy(-_._2).take(10).map { case (k, v, _) => (k, v) }, 3))
    compact.setAll[JsonNode](env)
    (mapper.writeValueAsString(full), mapper.writeValueAsString(compact))
  }

  def main(args: Array[String]): Unit = {
    val stealStart = stealSample()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated allowlist — lets scale/skew experiments time
    // a query subset on fixture dirs that only carry the tables they need
    val names = sys.env.get("SPARK_GRAFT_BENCH_QUERIES").fold(timedBoard)(selected)
    val memos = SparkEntry.board.map(q => q.name -> q.memos).toMap.withDefaultValue(Set.empty[String])
    val runs = SparkEntry.queries ++ extraQueries
    // flat {"name": sec} map; a missing or malformed ref falls back to the
    // flat base ceiling
    val refTimes: Map[String, Double] = Try {
      mapper.readTree(new java.io.File(CeilingRefPath)).properties.asScala
        .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap
    }.getOrElse(Map.empty)
    // Spark counters per timed query (its reported pass) and per memo
    // build (summed over the run, as build_sec is)
    val counters = scala.collection.mutable.Map.empty[String, ListMap[String, Long]]
    val results = blocks(names, memos).flatMap { blockNames =>
      val block = blockNames.map(n => n -> runs(n))
      val spark = graft.core.SparkSessionFactory.local("graft-bench")
      val sc = spark.sparkContext
      val metrics = QueryMetrics.attach(sc)
      // Warm the fresh JVM session: parquet footers + one pass through the
      // shuffle, join, window and codegen machinery so the first timed
      // query doesn't absorb one-time JIT/session costs.
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        graft.core.Tables.parquet(spark, s"$sfDir/$t.parquet").limit(1).count(): Unit
      }
      locally {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        val o = graft.core.Tables.parquet(spark, s"$sfDir/orders.parquet").limit(5000)
        val c = graft.core.Tables.parquet(spark, s"$sfDir/customer.parquet").limit(5000)
        o.join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("o_orderstatus").agg(sum("o_totalprice"), countDistinct("o_custkey"))
          .count(): Unit
        o.select(row_number().over(
          Window.partitionBy("o_orderstatus").orderBy("o_orderkey")).as("rn")).count(): Unit
      }
      // Untimed warmup pass over THIS block: JIT-compiles each query's
      // generated code and fills the footer/OS page caches, so the timed
      // pass measures steady-state throughput (what a long-running
      // cluster job sees), not one-time JVM warmup.
      block.foreach { case (_, fn) =>
        try { force(fn(spark, sfDir)): Unit } catch { case _: Throwable => () }
      }
      val timed = block.map { case (name, fn) =>
        def onePass(): (Double, Boolean, ListMap[String, Long]) = {
          val t0 = System.nanoTime()
          val ok = try { QueryMetrics.scoped(sc, name)(force(fn(spark, sfDir))); true }
            catch { case _: Throwable => false }
          val t = (System.nanoTime() - t0) / 1e9
          (t, ok, metrics.take(name))
        }
        // min over SUCCESSFUL passes only: a pass that throws typically
        // fails fast, and letting its short elapsed time win the min would
        // mask a regression behind a fast failure. All-passes-failed
        // records the -1 failure marker (never a time) and the counters
        // of the last failed pass.
        val first = (1 to Passes).map(_ => onePass())
        var (best, _, bestCounters) = first.filter(_._2).minByOption(_._1)
          .getOrElse((-1.0, false, first.last._3))
        var retries = 0
        val ceiling = ceilingFor(refTimes, name)
        while (best > ceiling && retries < MaxRetries) {
          retries += 1
          val (t, ok, c) = onePass()
          if (ok && t < best) { best = t; bestCounters = c }
        }
        counters(name) = bestCounters
        (name, best, retries)
      }
      FrameMemo.allStats.foreach { case (n, _, _) =>
        val k = s"build:$n"
        val c = metrics.take(k)
        counters(k) = counters.get(k).fold(c)(QueryMetrics.merge(_, c))
      }
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      timed
    }
    val steal = for ((s0, t0) <- stealStart; (s1, t1) <- stealSample() if t1 > t0)
      yield (s1 - s0, (s1 - s0).toDouble / (t1 - t0) * 100.0)
    val (full, compact) =
      artifactLines(sfDir, results, FrameMemo.allStatsWithBuild, counters.toMap, refTimes, steal)
    println(full)
    println(compact)
  }
}
