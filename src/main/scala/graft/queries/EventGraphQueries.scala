package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{AsOfJoin, Dedup, FuzzyJoin, Graph, Percentiles}

/** Wave 7: event-analytics and graph operators over the driver testdata —
  * the product-analytics surface (funnel, cohort retention, rolling
  * active users, robust outliers) plus link analysis (integer PageRank),
  * boilerplate-chunk removal (the remove-everywhere complement of d15's
  * keep-first paragraph dedup) and blocked edit-distance fuzzy matching.
  * Every entry has a full DuckDB oracle: float surfaces are either pure
  * per-row IEEE arithmetic (identical op order both engines) or
  * integerized (PageRank), so hashes compare exactly.
  */
object EventGraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Session-scoped memo of the distinct customer->supplier trade pair
    * list the graph entries start from — the orders ⋈ lineitem
    * projection, parity-encoded and deduplicated, built once per
    * (session, dir). Results stay bit-identical: the pair SET is what
    * the downstream integer recurrences consume, and they are order-free;
    * a lone oracle replay computes it fresh. */
  private val tradePairsMemo = graft.core.FrameMemo("trade_pairs")

  /** Release hook: frees the checkpoint blocks and map entries of one
    * session — or, with the None default, of EVERY entry, live sessions
    * included. Call to free a session's trade-pairs blocks while it lives
    * on, and only when no previously-returned graph DataFrame is still in
    * flight: the blocks are unpersisted EAGERLY (the release contract —
    * Wave11Spec pins it)
    * and a localCheckpoint's truncated lineage cannot recompute them for
    * a concurrent reader. The next access recomputes from source; results
    * are unaffected. */
  private[graft] def releaseTradePairs(session: Option[SparkSession] = None): Unit =
    tradePairsMemo.release(session)

  /** Test hook: ids of the currently-memoized checkpoint RDDs. */
  private[graft] def tradePairsRddIds: Set[Int] = tradePairsMemo.rddIds

  private def tradePairs(s: SparkSession, d: String): DataFrame =
    tradePairsMemo.get(s, d) {
      val t = Tables(s, d)
      t.orders.select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
    }

  /** The symmetrized (undirected) form g1/g2 run on. */
  private def tradeEdgesSym(s: SparkSession, d: String): DataFrame = {
    val pairs = tradePairs(s, d)
    pairs.select(col("c").as("src"), col("p").as("dst"))
      .unionByName(pairs.select(col("p").as("src"), col("c").as("dst")))
  }

  /** The directed customer->supplier form g1b/g3 run on. */
  private def tradeEdgesDir(s: SparkSession, d: String): DataFrame =
    tradePairs(s, d).select(col("c").as("src"), col("p").as("dst"))

  def queries: Map[String, Q] = Map(
    "a23_funnel" -> ((s, d) => {
      // Ordered conversion funnel view -> click -> purchase: a user
      // advances a stage only with an event strictly AFTER their
      // previous-stage entry time. Per-user stage times are min-aggs
      // (one shuffle on user_id each, partial-agg'd); the stage frame is
      // 3 rows; the denominator is a broadcast 1-row aggregate
      // (whitelisted 1-row BNLJ, the scalar-subquery shape).
      val e = Tables(s, d).events
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = e.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      def stage(df: DataFrame, n: Long, nm: String) =
        df.agg(count(lit(1)).as("users"))
          .select(lit(n).as("stage"), lit(nm).as("stage_name"), col("users"))
      val stages = stage(v, 1L, "view")
        .unionByName(stage(c, 2L, "click"))
        .unionByName(stage(p, 3L, "purchase"))
      val first = v.agg(count(lit(1)).as("first_users"))
      stages.crossJoin(broadcast(first))
        .select(col("stage"), col("stage_name"), col("users"),
          round(col("users").cast("double") / col("first_users"), 6).as("conv_vs_first"))
    }),

    "a24_cohort_retention" -> ((s, d) => {
      // Classic cohort-retention triangle at day grain: cohort = date of
      // a user's first event; each (cohort, day-offset) cell counts the
      // distinct users of that cohort active that many days later. Two
      // shuffles total: the per-user min (partial-agg'd) and the
      // count-distinct cell reduce; the cohort frame joins back on
      // user_id — an equi shuffle join, never a broadcast of the
      // (unbounded) user set.
      val e = Tables(s, d).events
      val cohorts = e.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("cohort_date"))
      e.join(cohorts, Seq("user_id"))
        .select(col("cohort_date"),
          datediff(to_date(col("ts")), col("cohort_date")).cast("long").as("day_offset"),
          col("user_id"))
        .groupBy("cohort_date", "day_offset")
        .agg(countDistinct(col("user_id")).as("active_users"))
        // string dates: the a10 convention — parquet DATE and DuckDB DATE
        // materialize as different pandas types in the hash compare
        .withColumn("cohort_date", date_format(col("cohort_date"), "yyyy-MM-dd"))
    }),

    "a25_rolling_active_users" -> ((s, d) => {
      // Trailing 7-day distinct users per day (the DAU/WAU-style rolling
      // active card). COUNT(DISTINCT) cannot ride a window frame, and a
      // day-grid range join would plan as a BNLJ — so each (day, user)
      // pair is EXPANDED map-side to the <=7 window-end days it
      // contributes to (bounded x7, the d15/IntervalJoin day-bucket
      // idiom), then one count-distinct reduce per window day. Window
      // ends are clamped to days that exist in the data via a semi join
      // against the distinct-day frame (|days| rows, broadcast-small at
      // any SF).
      val e = Tables(s, d).events
      val perDay = e.select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val days = e.select(to_date(col("ts")).as("day")).distinct()
      perDay
        .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("s"), col("d"))
        .select(col("user_id"), date_add(col("d"), col("s")).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("au_7d"))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    }),

    "a25b_rolling_actives_hll" -> ((s, d) => {
      // a25's rolling distinct via MERGEABLE DataSketches HLL — the true
      // 100 TB shape: the exact path must re-count each 7-day window from
      // the raw (day, user) pairs, while sketches reduce the corpus ONCE
      // to |days| fixed-size (lgK=12 ≈ 1.6% err) sketch rows, and the
      // window union runs over |days|×7 rows — a different complexity
      // class when users/day is huge.
      val e = Tables(s, d).events
      val perDay = e.groupBy(to_date(col("ts")).as("d"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val days = e.select(to_date(col("ts")).as("day")).distinct()
      perDay
        .select(col("sk"), explode(sequence(lit(0), lit(6))).as("s"), col("d"))
        .select(col("sk"), date_add(col("d"), col("s")).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("au_7d_est"))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    }),

    "a31_stickiness" -> ((s, d) => {
      // DAU/WAU stickiness — the product-analytics card sitting directly
      // on a25's machinery: daily distinct actives over trailing-7-day
      // distinct actives, per day. The trailing distinct reuses a25's
      // bounded map-side window expansion (COUNT(DISTINCT) cannot ride a
      // window frame and a day-grid range join plans as a BNLJ — the ×7
      // explode is the scale-correct shape); the DAU side is a count
      // over the already-distinct (day, user) frame. Both reduce to
      // |days| rows, so the ratio join is trivially small at any SF.
      val e = Tables(s, d).events
      val perDay = e.select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val days = e.select(to_date(col("ts")).as("day")).distinct()
      val dau = perDay.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
      val wau = perDay
        .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("s"), col("d"))
        .select(col("user_id"), date_add(col("d"), col("s")).as("day"))
        .join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("wau_7d"))
      dau.join(wau, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau_7d"),
          round(col("dau").cast("double") / col("wau_7d"), 6).as("stickiness"))
    }),

    "a26_mad_outliers" -> ((s, d) => {
      // Robust outlier card: median absolute deviation with the 1.4826
      // normal-consistency factor (the robust-statistics complement of
      // a11's z-score, which a single wild value can hide from by
      // inflating sigma). Both medians run through the distributed exact
      // selection (Percentiles.exactByRange — a15's plan), whose results
      // are G-row local frames broadcast back; the flag itself is pure
      // per-row IEEE arithmetic in the same op order as the oracle, so
      // the card hashes exactly.
      val e = Tables(s, d).events
      val med = Percentiles.exactByRange(e, "event_type", "value", Seq("med" -> 0.5))
      val withDev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = Percentiles.exactByRange(withDev, "event_type", "dev", Seq("mad" -> 0.5))
      val thresh = lit(3.0) * lit(1.4826) * col("mad")
      withDev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("dev") > thresh, 1L).otherwise(0L)).as("outliers"),
          round(max(col("med")), 6).as("median"),
          round(max(col("mad")), 6).as("mad"))
        .withColumn("outlier_rate",
          round(col("outliers").cast("double") / col("n"), 6))
    }),

    "a27_attribution" -> ((s, d) => {
      // Last-touch attribution: each purchase is credited to the user's
      // most recent click at-or-before it — the marketing-analytics
      // application of the as-of join. Reuses AsOfJoin.asOfLeft's
      // union + carry-forward shape: ONE shuffle on user_id, no range
      // join, no per-row scans; ties at identical click timestamps
      // resolve to the max click id (asOfLeft's max-struct reduction),
      // replayed identically in the oracle's ORDER BY.
      val e = Tables(s, d).events
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id").as("purchase_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("click_id"), col("ts_us").as("click_ts_us"))
      AsOfJoin.asOfLeft(purchases, clicks, "user_id", "ts_us",
          payloadCols = Seq("click_id", "click_ts_us"), prefix = "")
        .select(col("user_id"), col("purchase_id"),
          col("ts_us").as("purchase_ts_us"),
          col("click_id"), col("click_ts_us"),
          (col("ts_us") - col("click_ts_us")).as("latency_us"))
    }),

    "a28_forecast_backtest" -> ((s, d) => {
      // Seasonal-naive forecast backtest — the baseline every capacity
      // plan / anomaly detector is judged against: predict each day's
      // event count with the count 7 days earlier, score MAE/MAPE per
      // event type over the days that HAVE a 7-day-old ancestor. The
      // prediction joins c(day) with c(day-7) by DATE ARITHMETIC (an
      // equi join), not a ROWS lag — robust to missing days, and the
      // daily-counts frame it self-joins is |days|×|types| rows, so the
      // backtest costs one small shuffle after the count reduce.
      val daily = Tables(s, d).events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val pred = daily.select(col("event_type"),
        date_add(col("day"), 7).as("day"), col("c").as("pred"))
      daily.join(pred, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_eval_days"),
          round(sum(abs(col("c") - col("pred"))).cast("double") / count(lit(1)), 6).as("mae"),
          // wMAPE (sum|err|/sum actual), not per-day MAPE: both sums are
          // INTEGER — commutative, partition-order-independent — where a
          // float sum of per-day ratios would be merge-order-sensitive
          round(sum(abs(col("c") - col("pred"))).cast("double") /
            sum(col("c")).cast("double"), 6).as("wmape"))
    }),

    "x16_dp_noisy_counts" -> ((s, d) => {
      // Seeded-Laplace DP-SHAPED histogram release: each (event_type,
      // day) count gets Laplace(1/ε)-distributed noise BEFORE
      // publication — the modern complement of a3's threshold-
      // suppression privacy rule. The noise is SEEDED (md5-uniform →
      // inverse-CDF Laplace) from the group key and a hardcoded public
      // seed, so the release is a pure function of the data and seed:
      // any engine reproduces it bit-for-bit (the x4/x11 portable-
      // uniform idiom), the oracle replays it, and a re-run can't
      // silently re-randomize a published table. NOTE: determinism is
      // a replay/testing device, not a privacy guarantee — with a
      // public seed anyone can recompute and subtract the noise, so a
      // real ε-DP deployment must draw the noise from a secret seed
      // (swap the "dp42" literal for a key-management secret); the
      // mechanism and sensitivity analysis carry over unchanged.
      // Raw counts are NOT released. Map-side
      // assignment on a |types|×|days| frame after one count reduce.
      val e = Tables(s, d).events
        .groupBy(col("event_type"),
          date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("c"))
      val u16 = conv(substring(md5(concat(col("event_type"), lit("|"),
        col("day"), lit("|dp42"))), 1, 4), 16, 10).cast("double")
      val u = (u16 + lit(0.5)) / lit(65536.0) // (0,1), never exactly 0.5
      val eps = 1.0
      val noise = signum(u - lit(0.5)) * lit(-1.0 / eps) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
      e.select(col("event_type"), col("day"),
        round(col("c") + noise, 6).as("noisy_count"),
        lit(eps).as("epsilon"))
    }),

    "a29_cusum_changepoint" -> ((s, d) => {
      // One-sided CUSUM drift detection over the daily count series, via
      // the drawdown identity cusum⁺(d) = S(d) − min_{0≤j≤d} S(j) with
      // S = running sum of (count − mean) and the S(0)=0 empty prefix
      // included in the min (the least(0, …) term): exactly the
      // max(0, prev + dev) recursion — by induction, both are 0 at d=0
      // and clamp at 0 whenever the running sum sets a new minimum —
      // expressible as two ordered window passes: no recursion, no UDF,
      // identical plan in the oracle. The mean rides the exact decimal-sum pattern and the
      // ordered float cumsum is bit-deterministic (fixed order both
      // engines). Alarm threshold = 4σ of the daily counts (a17's
      // stddev_samp precedent; a type with a single observed day has
      // null σ and a null flag — both engines agree). |days|×|types|
      // rows after one reduce.
      val daily = Tables(s, d).events
        .groupBy(col("event_type"),
          date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("c"))
      val byType = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val ordered = byType.orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val mean = sum(col("c").cast("decimal(28,6)")).over(byType).cast("double") /
        count(lit(1)).over(byType)
      val sd = stddev_samp(col("c").cast("double")).over(byType)
      daily
        .withColumn("dev", col("c") - mean)
        .withColumn("srun", sum(col("dev")).over(ordered))
        .withColumn("cusum_pos",
          col("srun") - least(lit(0.0), min(col("srun")).over(ordered)))
        .select(col("event_type"), col("day"),
          round(col("cusum_pos"), 6).as("cusum_pos"),
          (col("cusum_pos") > lit(4.0) * sd).as("is_change"))
    }),

    "j11_overlap_join" -> ((s, d) => {
      // interval × interval overlap: which user sessions (x2's 30-min
      // gap rule) overlapped a global incident window (error event
      // ±30 min)? Counted WITHOUT enumerating pairs:
      // RangeRank.overlapCounts = #(i_start <= s_end) − #(i_end <
      // s_start) via two distributed rank lookups — the pair-join
      // version (IntervalJoin.overlapByDay, kept for pair-OUTPUT use
      // cases and differentially tested in Wave7Spec) measured ×16.9
      // for ×10 data because per-bucket pairs grow quadratically when
      // both sides scale; this is O((S+I) log) and output-linear.
      // Every session appears (count 0 when nothing overlaps).
      val e = Tables(s, d).events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val sessions = e
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800L, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("new_sess")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy("user_id", "session_seq")
        .agg(unix_micros(min(col("ts"))).as("s_start_us"),
          unix_micros(max(col("ts"))).as("s_end_us"))
      val incidents = e.filter(col("event_type") === "error")
        .select(
          unix_micros(col("ts") - expr("INTERVAL 30 MINUTES")).as("i_start_us"),
          unix_micros(col("ts") + expr("INTERVAL 30 MINUTES")).as("i_end_us"))
      graft.operators.RangeRank.overlapCounts(
          sessions, "s_start_us", "s_end_us",
          incidents, "i_start_us", "i_end_us", "n_incidents")
        .select(col("user_id"), col("session_seq"), col("n_incidents"))
    }),

    "d16_boilerplate" -> ((s, d) =>
      // remove-everywhere boilerplate filter (vs d15's keep-first dedup)
      Dedup.boilerplateChunkStats(Tables(s, d).documents, "doc_id", "text",
        chunkLen = 16, minChunkTokens = 4, docFreqThreshold = 3)),

    "d17_fuzzy_join" -> ((s, d) => {
      // entity-resolution fuzzy match over part names: blocked on
      // (name noun, p_size) PLUS the operator's default length-div-8
      // bucket so candidate generation is an equi join, with
      // levenshtein <= 3 evaluated post-join (banded-Ukkonen codegen).
      // maxBlock=1000 is the degenerate-block skew guard, mirrored in
      // the oracle. The id-level pair OUTPUT is Θ(n²) on this corpus:
      // part has only 64 distinct p_names, so identical names collide
      // under ANY blocking key (BASELINE.md, "Round 15: d17_fuzzy_join");
      // its SparkEntry.board declaration keeps it off the timed pass.
      val p = Tables(s, d).part
        .select(col("p_partkey"), col("p_name"),
          element_at(split(col("p_name"), " "), 2).as("noun"), col("p_size"))
      FuzzyJoin.blockedLevenshtein(p, "p_partkey", "p_name",
        blockCols = Seq("noun", "p_size"), maxDist = 3, maxBlock = Some(1000))
    }),

    "d17b_fuzzy_join_grouped" -> ((s, d) => {
      // the 100 TB entity-resolution shape for the same match (round-15
      // d17 attribution): canonicalize to DISTINCT (p_name, noun,
      // p_size) groups first — a linear map-side-combine groupBy whose
      // output is vocabulary-sized, not corpus-sized — run the blocked
      // fuzzy join over the canonical frame (id = the group's min
      // p_partkey, so pair orientation is value-deterministic), and
      // carry id-level multiplicities as counts instead of
      // materializing the quadratic id×id expansion: cross-group rows
      // get n_a·n_b implicit pairs, same-group (identical-name) rows
      // n·(n-1)/2 at dist 0. sum(n_id_pairs) over this result equals
      // d17's row count exactly (Wave13Spec pins the invariant); the
      // maxBlock guard now caps DISTINCT NAMES per block, which is what
      // keeps the join linear on any corpus.
      val p = Tables(s, d).part
        .select(col("p_partkey"), col("p_name"),
          element_at(split(col("p_name"), " "), 2).as("noun"), col("p_size"))
      val groups = p.groupBy("p_name", "noun", "p_size")
        .agg(count(lit(1)).as("n_parts"), min(col("p_partkey")).as("canon_id"))
      val pairs = FuzzyJoin.blockedLevenshtein(
        groups.select(col("canon_id"), col("p_name"), col("noun"), col("p_size")),
        "canon_id", "p_name", blockCols = Seq("noun", "p_size"),
        maxDist = 3, maxBlock = Some(1000))
      val cnt = groups.select(col("canon_id"), col("p_size").as("g_size"), col("n_parts"))
      val cross = pairs
        .join(broadcast(cnt.select(col("canon_id").as("id_a"),
          col("g_size").as("p_size"), col("n_parts").as("n_a"))), "id_a")
        .join(broadcast(cnt.select(col("canon_id").as("id_b"),
          col("n_parts").as("n_b"))), "id_b")
        .select(col("p_size"), col("name_a"), col("name_b"), col("dist"),
          col("n_a"), col("n_b"),
          (col("n_a") * col("n_b")).cast("long").as("n_id_pairs"))
      val self = groups.filter(col("n_parts") >= 2)
        .select(col("p_size"), col("p_name").as("name_a"),
          col("p_name").as("name_b"), lit(0L).as("dist"),
          col("n_parts").as("n_a"), col("n_parts").as("n_b"),
          expr("(n_parts * (n_parts - 1)) div 2").as("n_id_pairs"))
      cross.unionByName(self)
    }),

    "g2_label_propagation" -> ((s, d) => {
      // community detection over the same symmetrized trade graph as g1:
      // 4 synchronous label-propagation rounds, majority label with
      // min-label tie-break — integer-deterministic, so the oracle
      // replays the rounds exactly (a float-modularity method could
      // never hash-compare). Symmetric edges mean every node has
      // in-neighbors and survives each round.
      Graph.labelPropagation(tradeEdgesSym(s, d), "src", "dst", iterations = 4)
        .select(col("node"),
          when(col("node") % 2 === 0, "customer").otherwise("supplier").as("node_type"),
          col("community"))
    }),

    "g1_pagerank" -> ((s, d) => {
      // link analysis over the customer<->supplier trade graph (distinct
      // pairs from orders x lineitem, symmetrized; nodes integer-encoded
      // by parity). Integer PageRank: every rank a BIGINT in 1e-9 units,
      // floor-division damping — order-independent, hash-exact vs the
      // oracle's unrolled 5-iteration replay.
      Graph.pageRankInt(tradeEdgesSym(s, d), "src", "dst",
          iterations = 5, scale = 1000000000L)
        .select(col("node"),
          when(col("node") % 2 === 0, "customer").otherwise("supplier").as("node_type"),
          col("rank"))
    }),

    "g1b_pagerank_dangling" -> ((s, d) => {
      // the DIRECTED customer->supplier trade graph: suppliers receive
      // but never emit edges, so they are all dangling — the workload the
      // redistribution variant exists for. Their pooled rank mass is
      // floor-shared back to every node each round (integer-exact, one
      // 1-row broadcast per round); the oracle replays the same unrolled
      // recurrence including the per-round dangling-sum CTE.
      Graph.pageRankInt(tradeEdgesDir(s, d), "src", "dst",
          iterations = 5, scale = 1000000000L, redistributeDangling = true)
        .select(col("node"),
          when(col("node") % 2 === 0, "customer").otherwise("supplier").as("node_type"),
          col("rank"))
    }),

    "g3_hits" -> ((s, d) => {
      // HITS hubs & authorities over the DIRECTED customer->supplier
      // trade graph (g1b's edge list): on a bipartite graph the two
      // scores answer the two questions one PageRank folds together —
      // customers that buy BROADLY (hubs: point at many good suppliers)
      // vs suppliers bought from broadly (authorities). Integer-exact
      // mean-to-scale normalization per half-round (Graph.hitsInt doc);
      // the oracle replays the unrolled 5-iteration recurrence with the
      // same 64-bit floor arithmetic.
      Graph.hitsInt(tradeEdgesDir(s, d), "src", "dst",
          iterations = 5, scale = 1000000L)
        .select(col("node"),
          when(col("node") % 2 === 0, "customer").otherwise("supplier").as("node_type"),
          col("hub"), col("auth"))
    })
  )

  /** DuckDB replay of the 5 unrolled PageRank iterations — same integer
    * arithmetic (`//` floor division == Spark `div` on positives), sums
    * cast back from HUGEINT to BIGINT at every step. */
  private def pageRankOracleSql(iterations: Int): String = {
    val iters = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |    CAST(150000000 + ((85 * COALESCE(s.contrib, 0)) // 100) AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(r.rank // g.outdeg) AS BIGINT) AS contrib
         |    FROM edges e
         |    JOIN r${k - 1} r ON e.src = r.node
         |    JOIN deg g ON e.src = g.src
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT c AS src, p AS dst FROM pairs
       |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
       |$iters
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  rank
       |FROM r$iterations""".stripMargin
  }

  /** DuckDB replay of the dangling-redistribution PageRank on the DIRECTED
    * customer->supplier graph: per round a 1-row dangling-sum CTE is
    * floor-shared over |V| and added to the damped term — the same integer
    * recurrence as [[Graph.pageRankInt]] with `redistributeDangling`. */
  private def pageRankDanglingOracleSql(iterations: Int): String = {
    val iters = (1 to iterations).map { k =>
      s"""d$k AS (
         |  SELECT CAST(COALESCE(sum(r.rank), 0) // (SELECT n FROM nv) AS BIGINT) AS share
         |  FROM r${k - 1} r JOIN dang ON r.node = dang.node),
         |r$k AS (
         |  SELECT n.node,
         |    CAST(150000000 + ((85 * (COALESCE(s.contrib, 0) + (SELECT share FROM d$k))) // 100) AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(r.rank // g.outdeg) AS BIGINT) AS contrib
         |    FROM edges e
         |    JOIN r${k - 1} r ON e.src = r.node
         |    JOIN deg g ON e.src = g.src
         |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
       |dang AS (SELECT n.node FROM nodes n LEFT JOIN deg g ON n.node = g.src
       |         WHERE g.src IS NULL),
       |nv AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
       |$iters
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  rank
       |FROM r$iterations""".stripMargin
  }

  /** DuckDB replay of the synchronous LP rounds — same integer majority +
    * min-label tie-break, unrolled. */
  private def labelPropOracleSql(iterations: Int): String = {
    val iters = (1 to iterations).map { k =>
      s"""l$k AS (
         |  SELECT dst AS node, label FROM (
         |    SELECT e.dst, r.label, count(*) AS k,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, r.label ASC) AS rn
         |    FROM edges e JOIN l${k - 1} r ON e.src = r.node
         |    GROUP BY e.dst, r.label) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT c AS src, p AS dst FROM pairs
       |          UNION ALL SELECT p AS src, c AS dst FROM pairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$iters
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  label AS community
       |FROM l$iterations""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "g2_label_propagation" -> labelPropOracleSql(4),
    "a23_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
        |  WHERE e.event_type = 'purchase' GROUP BY 1),
        |st AS (
        |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, count(*) AS users FROM v
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'click', count(*) FROM c
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM p)
        |SELECT stage, stage_name, users,
        |  round(CAST(users AS DOUBLE) / (SELECT count(*) FROM v), 6) AS conv_vs_first
        |FROM st""".stripMargin,
    "a24_cohort_retention" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
        |  FROM events GROUP BY 1)
        |SELECT CAST(f.cohort_date AS VARCHAR) AS cohort_date,
        |  CAST(datediff('day', f.cohort_date, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
        |  count(DISTINCT e.user_id) AS active_users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "a25_rolling_active_users" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |expanded AS (
        |  SELECT du.user_id, du.d + CAST(t.s AS INTEGER) AS day
        |  FROM du, unnest(range(0, 7)) AS t(s))
        |SELECT CAST(e.day AS VARCHAR) AS day, count(DISTINCT e.user_id) AS au_7d
        |FROM expanded e JOIN days USING (day)
        |GROUP BY 1""".stripMargin,
    "a31_stickiness" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT d AS day, count(*) AS dau FROM du GROUP BY 1),
        |expanded AS (
        |  SELECT du.user_id, du.d + CAST(t.s AS INTEGER) AS day
        |  FROM du, unnest(range(0, 7)) AS t(s)),
        |wau AS (
        |  SELECT e.day, count(DISTINCT e.user_id) AS wau_7d
        |  FROM expanded e JOIN days USING (day)
        |  GROUP BY 1)
        |SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau_7d,
        |  round(CAST(dau.dau AS DOUBLE) / wau.wau_7d, 6) AS stickiness
        |FROM dau JOIN wau USING (day)""".stripMargin,
    "a26_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN d.dev > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * m.mad
        |                THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
        |  round(max(d.med), 6) AS median,
        |  round(max(m.mad), 6) AS mad,
        |  round(CAST(sum(CASE WHEN d.dev > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * m.mad
        |                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS outlier_rate
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1""".stripMargin,
    "a27_attribution" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS purchase_ts_us, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS cts, event_id AS cid
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.user_id, p.purchase_id, p.purchase_ts_us, c.cid, c.cts,
        |    row_number() OVER (
        |      PARTITION BY p.user_id, p.purchase_id
        |      ORDER BY c.cts DESC, c.cid DESC) AS rn
        |  FROM p LEFT JOIN c
        |    ON p.user_id = c.user_id AND c.cts <= p.purchase_ts_us)
        |SELECT user_id, purchase_id, purchase_ts_us,
        |  cid AS click_id, cts AS click_ts_us,
        |  purchase_ts_us - cts AS latency_us
        |FROM j WHERE rn = 1""".stripMargin,
    "a28_forecast_backtest" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.c, p.c AS pred
        |  FROM daily a JOIN daily p
        |    ON a.event_type = p.event_type AND a.day = p.day + 7)
        |SELECT event_type,
        |  count(*) AS n_eval_days,
        |  round(CAST(sum(abs(c - pred)) AS DOUBLE) / count(*), 6) AS mae,
        |  round(CAST(sum(abs(c - pred)) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS wmape
        |FROM j GROUP BY 1""".stripMargin,
    "j11_overlap_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |    OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f),
        |sess AS (
        |  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |    min(ts) AS s_start, max(ts) AS s_end
        |  FROM g GROUP BY 1, 2),
        |inc AS (
        |  SELECT event_id AS incident_id,
        |    ts - INTERVAL 30 MINUTE AS i_start, ts + INTERVAL 30 MINUTE AS i_end
        |  FROM events WHERE event_type = 'error'),
        |sd AS (
        |  SELECT s.*, unnest(generate_series(CAST(s_start AS DATE), CAST(s_end AS DATE),
        |    INTERVAL 1 DAY)) AS day FROM sess s),
        |id2 AS (
        |  SELECT i.*, unnest(generate_series(CAST(i_start AS DATE), CAST(i_end AS DATE),
        |    INTERVAL 1 DAY)) AS day FROM inc i),
        |p AS (
        |  SELECT DISTINCT sd.user_id, sd.session_seq, id2.incident_id
        |  FROM sd JOIN id2 ON sd.day = id2.day
        |  WHERE sd.s_start <= id2.i_end AND id2.i_start <= sd.s_end)
        |SELECT s.user_id, s.session_seq,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_incidents
        |FROM sess s LEFT JOIN (
        |  SELECT user_id, session_seq, count(DISTINCT incident_id) AS n
        |  FROM p GROUP BY 1, 2) c
        |  ON s.user_id = c.user_id AND s.session_seq = c.session_seq""".stripMargin,
    "x16_dp_noisy_counts" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |n AS (
        |  SELECT event_type, day, c,
        |    (CAST(CAST(('0x' || substr(md5(event_type || '|' || day || '|dp42'), 1, 4))
        |          AS INTEGER) AS DOUBLE) + 0.5) / 65536.0 AS u
        |  FROM daily)
        |SELECT event_type, day,
        |  round(c + sign(u - 0.5) * (-1.0) * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_count,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM n""".stripMargin,
    "a29_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT *,
        |    CAST(sum(CAST(c AS DECIMAL(28,6))) OVER (PARTITION BY event_type) AS DOUBLE)
        |      / count(*) OVER (PARTITION BY event_type) AS mean_c,
        |    stddev_samp(CAST(c AS DOUBLE)) OVER (PARTITION BY event_type) AS sd_c
        |  FROM daily),
        |s AS (
        |  SELECT *, sum(c - mean_c) OVER (
        |    PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS srun
        |  FROM m),
        |x AS (
        |  SELECT *, srun - least(0, min(srun) OVER (
        |    PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING)) AS cusum_pos
        |  FROM s)
        |SELECT event_type, day,
        |  round(cusum_pos, 6) AS cusum_pos,
        |  cusum_pos > 4.0 * sd_c AS is_change
        |FROM x""".stripMargin,
    "d16_boilerplate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c0 AS (SELECT doc_id, w, unnest(range(0, len(w), 16)) AS st FROM d),
        |c AS (
        |  SELECT doc_id,
        |    CAST(least(st + 16, len(w)) - st AS INTEGER) AS n_chunk_tokens,
        |    md5(array_to_string(w[st + 1 : least(st + 16, len(w))], ' ')) AS fp
        |  FROM c0),
        |df AS (SELECT fp, count(DISTINCT doc_id) AS docfreq FROM c GROUP BY 1),
        |f AS (SELECT c.doc_id, c.n_chunk_tokens,
        |        (df.docfreq >= 3 AND c.n_chunk_tokens >= 4) AS removed
        |      FROM c JOIN df USING (fp))
        |SELECT doc_id,
        |  count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS boilerplate_chunks,
        |  CAST(sum(CASE WHEN removed THEN 0 ELSE n_chunk_tokens END) AS BIGINT) AS kept_tokens,
        |  CAST(sum(CASE WHEN removed THEN n_chunk_tokens ELSE 0 END) AS BIGINT) AS removed_tokens
        |FROM f
        |GROUP BY 1""".stripMargin,
    "d17_fuzzy_join" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, string_split(p_name, ' ')[2] AS noun, p_size,
        |    length(p_name) // 8 AS len_b
        |  FROM part),
        |ok AS (SELECT noun, p_size, len_b FROM p GROUP BY 1, 2, 3 HAVING count(*) <= 1000),
        |pb AS (SELECT p.* FROM p JOIN ok USING (noun, p_size, len_b))
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM pb a JOIN pb b
        |  ON a.noun = b.noun AND a.p_size = b.p_size AND a.len_b = b.len_b
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,
    "d17b_fuzzy_join_grouped" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, string_split(p_name, ' ')[2] AS noun, p_size,
        |    length(p_name) // 8 AS len_b
        |  FROM part),
        |g AS (
        |  SELECT p_name, noun, p_size, len_b,
        |    count(*) AS n_parts, min(p_partkey) AS canon_id
        |  FROM p GROUP BY 1, 2, 3, 4),
        |ok AS (SELECT noun, p_size, len_b FROM g GROUP BY 1, 2, 3 HAVING count(*) <= 1000),
        |gb AS (SELECT g.* FROM g JOIN ok USING (noun, p_size, len_b)),
        |cross_pairs AS (
        |  SELECT a.p_size, a.p_name AS name_a, b.p_name AS name_b,
        |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |    a.n_parts AS n_a, b.n_parts AS n_b,
        |    CAST(a.n_parts * b.n_parts AS BIGINT) AS n_id_pairs
        |  FROM gb a JOIN gb b
        |    ON a.noun = b.noun AND a.p_size = b.p_size AND a.len_b = b.len_b
        |    AND a.canon_id < b.canon_id
        |  WHERE levenshtein(a.p_name, b.p_name) <= 3),
        |self_pairs AS (
        |  SELECT p_size, p_name AS name_a, p_name AS name_b,
        |    CAST(0 AS BIGINT) AS dist,
        |    n_parts AS n_a, n_parts AS n_b,
        |    CAST((n_parts * (n_parts - 1)) // 2 AS BIGINT) AS n_id_pairs
        |  FROM g WHERE n_parts >= 2)
        |SELECT * FROM cross_pairs UNION ALL SELECT * FROM self_pairs""".stripMargin,
    "g1_pagerank" -> pageRankOracleSql(5),
    "g1b_pagerank_dangling" -> pageRankDanglingOracleSql(5),
    "g3_hits" -> hitsOracleSql(5)
  )

  /** DuckDB replay of [[Graph.hitsInt]]'s unrolled integer recurrence on
    * the directed customer->supplier graph: per half-round a node-joined
    * raw-mass CTE, a 1-row mean normalizer (floor `//` == Spark `div` on
    * these nonnegative masses, GREATEST(...,1) for the all-zero edge
    * case), and the normalized score — the exact arithmetic, iteration
    * for iteration. */
  private def hitsOracleSql(iterations: Int): String = {
    val iters = (1 to iterations).map { k =>
      s"""ap$k AS MATERIALIZED (
         |  SELECT n.node, CAST(COALESCE(s.am, 0) AS BIGINT) AS am
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS am
         |    FROM edges e JOIN h${k - 1} h ON e.src = h.node GROUP BY 1) s ON n.node = s.node),
         |an$k AS (SELECT GREATEST(CAST(COALESCE(sum(am), 0) // (SELECT n FROM nv) AS BIGINT), 1) AS norm FROM ap$k),
         |a$k AS MATERIALIZED (SELECT node, CAST((am * 1000000) // (SELECT norm FROM an$k) AS BIGINT) AS auth FROM ap$k),
         |hp$k AS MATERIALIZED (
         |  SELECT n.node, CAST(COALESCE(s.hm, 0) AS BIGINT) AS hm
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS hm
         |    FROM edges e JOIN a$k a ON e.dst = a.node GROUP BY 1) s ON n.node = s.node),
         |hn$k AS (SELECT GREATEST(CAST(COALESCE(sum(hm), 0) // (SELECT n FROM nv) AS BIGINT), 1) AS norm FROM hp$k),
         |h$k AS MATERIALIZED (SELECT node, CAST((hm * 1000000) // (SELECT norm FROM hn$k) AS BIGINT) AS hub FROM hp$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nv AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
       |$iters
       |SELECT h.node,
       |  CASE WHEN h.node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  h.hub AS hub, a.auth AS auth
       |FROM h$iterations h JOIN a$iterations a ON h.node = a.node""".stripMargin
  }
}
