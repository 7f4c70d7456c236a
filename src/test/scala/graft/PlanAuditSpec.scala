package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}

/** Scale-posture regression gate over EVERY board query's physical plan.
  *
  * QueriesSmokeSpec proves the queries RUN; the DuckDB oracle proves they
  * are CORRECT; this spec pins the property the other two can't see — that
  * the plan Catalyst actually picks is one that survives a 1000-executor
  * 100 TB run. A future edit that silently turns an equi join into a
  * cartesian product, drops a join condition into a BroadcastNestedLoop,
  * or widens a window to a single unpartitioned task would stay green on
  * correctness and (at test SF) on the smoke test; it fails here.
  *
  * Whitelists are exact and per-query: every entry names the reason the
  * shape is bounded, and an entry that stops firing fails the staleness
  * test — so a NEW query tripping a detector has to argue its case in
  * review, and dead exemptions can't accumulate.
  */
class PlanAuditSpec extends SparkSpecBase {

  // BroadcastNestedLoopJoin is acceptable ONLY when the broadcast side is
  // provably tiny by construction (a 1-row global aggregate, a bounded
  // stats/query frame, a |sources|-grain table) — the standard
  // scalar-subquery / stats-join shape. Cost is |stream| x |bounded|.
  private val bnljBounded: Map[String, String] = Map(
    "a23_funnel" -> "broadcast 1-row first-stage user count (scalar-subquery shape)",
    "d9_semantic_decontamination" -> "broadcast distinct-collapsed bench embedding set",
    "d13_corpus_overlap" -> "source-pair signature matrix, |sources|^2 rows",
    "d18_incremental_neardup" -> "broadcast 1-row max(doc_id) median-split bound (u10's device)",
    "d18b_incremental_fast" -> "broadcast 1-row max(doc_id) median-split bound (u10's device)",
    "d13b_corpus_overlap_fast" -> "source-pair signature matrix, |sources|^2 rows",
    "em_ag_risk" -> "broadcast 1-row model-statistics frame (means/stds/quantiles)",
    "em_prediction_features" -> "broadcast 1-row ag quantile frame (agDailyFeatures device)",
    "g3_hits" -> "broadcast 1-row mean-to-scale normalizers (round-15 sparse half-rounds: the final hub/auth normalize rides the returned plan)",
    "s1_knn_bruteforce" -> "broadcast bounded query set; brute force is |q|x|corpus| by definition",
    "s11_mips_topk" -> "broadcast bounded query set; brute MIPS is |q|x|corpus| by definition",
    // s8 dropped in round 14: its stats crossJoin moved inside the
    // memoized bm25Scores build (a LogicalRDD in the audited plan)
    "s9_hybrid_rrf" -> "composes s8's memoized scores + s1 (bounded query set)",
    "s4_ann_pq" -> "broadcast bounded query set for ADC scoring",
    "s7_knn_quantized" -> "broadcast bounded query set vs decoded SQ8 corpus",
    "st18_stream_drift_psi" -> "broadcast bounded per-bucket reference histogram",
    "t19_lm_quality_filter" -> "broadcast 1-row corpus perplexity quantile bound",
    "u10_snapshot_diff" -> "broadcast 1-row max(event_id) median-split bound",
    "u12_scd2_checkcols" -> "broadcast 1-row max(event_id) median-split bound (u10's device)",
    "x6_ann_recall_report" -> "composes s1/s2: bounded query set both sides",
    "x6b_trained_ann_recall" -> "composes s1/s3: bounded query set both sides",
    "x6c_quantized_recall" -> "composes s1/s7: bounded query set both sides",
    "x17_negative_sampling" -> "broadcast 1-row max(vec_id)+1 id-range bound (u10's device)",
    "x7_quantile_shards" -> "broadcast |shards| cut-point rows",
    "x7b_quantile_shards_approx" -> "broadcast |shards| cut-point rows"
  )

  // A Window with an empty partitionSpec plans as ONE task holding the
  // whole input — acceptable only when the windowed frame is already a
  // bounded aggregate (histograms, per-source rate tables, shard
  // cut-points), never a raw fact table.
  private val globalWindowBounded: Map[String, String] = Map(
    "x5_mixture_rebalance" -> "normalize over |sources| rows",
    "x5b_temperature_mixture" -> "normalize over |sources| rows",
    "x12_mixture_apply" -> "temperature rates over |sources| rows, broadcast back",
    "x13_token_budget_repeat" -> "uniform budgets over |sources| rows, broadcast back"
  )

  // Per-query shuffle-exchange budget (EXACT counts, AQE-off executedPlan
  // at sf0.001): the cartesian/BNLJ/window detectors can't see a regression
  // that merely ADDS an avoidable exchange — a stray repartition(), a lost
  // broadcast, a join that stopped reusing a partitioning. Counting is
  // exact both ways: above budget fails as a shuffle regression; below
  // budget fails as a stale entry (the plan improved — lock in the win by
  // lowering the number). Regenerate after an intentional plan change with
  //   sbt "Test/runMain graft.ShuffleBudgetGen"
  private val shuffleBudget: Map[String, Int] = Map(
    "a10_freshness" -> 1,
    "a11_zscore_outliers" -> 2,
    "a13_rollup" -> 1,
    "a14_pivot" -> 2,
    "a15_percentiles" -> 0,
    "a16_histogram" -> 1,
    "a17_stats_suite" -> 1,
    "a18_cube" -> 1,
    "a19_geo_constraint" -> 1,
    "a1_conditional_agg" -> 1,
    "a20_temporal_cluster" -> 1,
    "a21_drift_psi" -> 2,
    "a22_latency_quantiles" -> 1,
    "a23_funnel" -> 7,
    "a24_cohort_retention" -> 3,
    "a25_rolling_active_users" -> 4,
    "a25b_rolling_actives_hll" -> 3,
    "a26_mad_outliers" -> 1,
    "a27_attribution" -> 2,
    "a28_forecast_backtest" -> 3,
    "a29_cusum_changepoint" -> 2,
    "a2_daily_rollup" -> 1,
    "a30_groupwise_ols" -> 1,
    "a31_stickiness" -> 6,
    "a3_privacy_rollup" -> 1,
    "a4_quality_union" -> 6,
    "a5_count_distinct" -> 2,
    "a5b_approx_distinct" -> 1,
    "a6_health_buckets" -> 1,
    "a7_time_floor_agg" -> 1,
    "a8_config_agg" -> 1,
    "a9_profile_stats" -> 2,
    "d10_repeated_spans" -> 3,
    "d10b_longest_dup_span" -> 3,
    "d12_containment" -> 0,
    "d13_corpus_overlap" -> 4,
    "d13b_corpus_overlap_fast" -> 1,
    "d14_dedup_savings" -> 2,
    "d15_paragraph_dedup" -> 2,
    "d16_boilerplate" -> 3,
    "d17_fuzzy_join" -> 1,
    "d17b_fuzzy_join_grouped" -> 4,
    "d18_incremental_neardup" -> 7,
    "d18b_incremental_fast" -> 3,
    "d19_normalized_dedup" -> 1,
    "d1_ngram_jaccard" -> 0,
    "d2_minhash_lsh" -> 1,
    "d2b_minhash_portable" -> 3,
    "d3_simhash" -> 1,
    "d3b_simhash_portable" -> 1,
    "d4_embedding_neardup" -> 1,
    "d5_neardup_clusters" -> 0,
    "d6_dedup_keepers" -> 1,
    "d7_decontamination" -> 2,
    "d7b_leaked_spans" -> 1,
    "d7c_decontamination_bloom" -> 1,
    "d8_semantic_dedup" -> 2,
    "d9_semantic_decontamination" -> 1,
    "em_ag_risk" -> 2,
    "em_ag_summary" -> 3,
    "em_analytics" -> 0,
    "em_api_performance" -> 6,
    "em_events" -> 0,
    "em_fiscal_calendar" -> 1,
    "em_prediction_features" -> 9,
    "em_public_ag" -> 1,
    "em_public_alerts" -> 1,
    "em_public_disasters" -> 1,
    "em_quality_metrics" -> 6,
    "em_scalar_suite" -> 0,
    // three Scd2 merges, each one sort-merge join over two exchanges: no
    // side-presence filter sits above the join (one explode over per-row
    // outcomes), so outer-join elimination cannot split it per merge case
    "em_snapshots" -> 6,
    "em_surrogate_ids" -> 0,
    "em_usage_metrics" -> 2,
    "em_weather_impacts" -> 0,
    "g1_pagerank" -> 5,
    "g1b_pagerank_dangling" -> 0,
    // round 16: the edge checkpoint declares its hash layout on src
    // (CheckpointBridge.localCheckpointHashPartitioned), so the four
    // per-round edge⋈labels joins read the edge side in place — 11 → 8
    // (the 8th is the build's own sizing repartition, visible only under
    // the audit's AQE-off conditions; at runtime it replaces four
    // per-round edge exchanges — probed tasks 137 → 71). 8 → 7 once the
    // audit forces the distributed loop (distributedGraphs): the sized
    // count is then the session's shuffle partitions, the width every
    // exchange of the loop has, where the old sf0.001 audit measured one
    // partition and paid the re-alignment exchange of a layout that now
    // takes the one-task path instead
    "g2_label_propagation" -> 7,
    // round 15: sparse half-rounds moved the node-spine restore out of
    // the per-iteration checkpoints into the returned plan — the 2
    // exchanges are the epilogue's two |V|-row spine left joins.
    // Round 16: +1 — the declared-layout node spine (sized partition
    // count) re-aligns to the score frames' exchange width in the
    // epilogue under the audit's AQE-off conditions; at runtime the
    // declared edge/node layouts drop the operator from 84 stage-jobs /
    // 171 tasks to 75 / 100 (probed, same window: 4.39 → 3.72 s). 3 → 2
    // with the distributed loop forced, as for g2: at the shuffle
    // partition count the node spine already has the score frames' width
    "g3_hits" -> 2,
    "j10_json_extract" -> 0,
    "j11_overlap_join" -> 3,
    "j1_dim_enrich_agg" -> 1,
    "j2_two_key_left" -> 2,
    "j3_interval_join" -> 1,
    "j5_anti_join" -> 0,
    "j6_semi_join" -> 0,
    "j7_daily_merge" -> 2,
    "j8_ri_check" -> 2,
    "j9_asof_join" -> 2,
    "m1_multimodal_meta" -> 0,
    "m2_image_decode" -> 0,
    "m3_frame_sample" -> 0,
    "m4_audio_decode" -> 0,
    "m5_image_resize" -> 0,
    "o2_custom_sort_topk" -> 0,
    "p1_standardize_project" -> 0,
    "p2_required_nonnull" -> 1,
    "p3_range_validate" -> 0,
    "p4_time_window_prune" -> 1,
    "p5_categorical_filter" -> 1,
    "p6_config_filter" -> 0,
    "p7_truncate_mask" -> 0,
    "s10_random_projection" -> 0,
    "s11_mips_topk" -> 1,
    "s1_knn_bruteforce" -> 1,
    "s2_ann_lsh" -> 2,
    "s3_ann_ivf" -> 1,
    "s4_ann_pq" -> 2,
    "s5_ann_ivfpq" -> 2,
    "s6_scalar_quantization" -> 0,
    "s7_knn_quantized" -> 1,
    "s8_bm25_topk" -> 1,
    "s9_hybrid_rrf" -> 5,
    "st10_stream_semantic_dedup" -> 0,
    "st11_stream_exact_dedup" -> 1,
    "st12_stream_chunking" -> 0,
    "st13_stream_sessionize" -> 0,
    "st14_stream_quality_gate" -> 0,
    "st15_stream_packing" -> 1,
    "st16_stream_cdc_apply" -> 1,
    "st17_stream_latency_quantiles" -> 0,
    "st18_stream_drift_psi" -> 2,
    "st19_stream_funnel" -> 3,
    "st20_stream_attribution" -> 0,
    "st21_stream_dp_release" -> 0,
    "st22_stream_incremental_neardup" -> 0,
    "st22b_stream_incremental_fast" -> 0,
    "st5_stream_tumbling" -> 0,
    "st6_stream_sliding" -> 0,
    "st7_stream_join" -> 0,
    "st9_stream_decontaminate" -> 0,
    "t10_unigram_lm" -> 3,
    "t11_repetition" -> 2,
    "t12_normalize" -> 0,
    "t13_bpe_learned" -> 0,
    "t13b_bpe_encode_sample" -> 0,
    "t14_compression_ratio" -> 0,
    "t15_chunking" -> 0,
    "t16_bigram_lm" -> 5,
    "t17_gopher_filter" -> 0,
    "t18_repetition_filter" -> 0,
    "t19_lm_quality_filter" -> 7,
    "t1_token_stats" -> 0,
    "t20_token_entropy" -> 2,
    "t21_heavy_hitters" -> 1,
    "t22_pii_scrub" -> 0,
    "t23_url_canonicalize" -> 0,
    "t24_registrable_domain" -> 0,
    "t25_url_blocklist" -> 0,
    "t26_cc_luhn" -> 0,
    "t27_unicode_scrub" -> 0,
    "t2_quality_score" -> 0,
    "t3_lang_id" -> 0,
    "t4_fingerprint_shingles" -> 0,
    "t5_rolling_fingerprint" -> 0,
    "t5b_rolling_fingerprint_portable" -> 0,
    "t6_bpe_pieces" -> 0,
    "t7_pii_redact" -> 0,
    "t7b_pii_spans" -> 0,
    "t8_tfidf_topterms" -> 4,
    "t9_array_suite" -> 0,
    "u10_snapshot_diff" -> 3,
    "u11_incremental_rollup" -> 2,
    // mergeCheckCols reads its four cases off one sort-merge join (one
    // explode over per-row outcomes)
    "u12_scd2_checkcols" -> 3,
    "u1_union_align" -> 0,
    "u3_union_missing_cols" -> 0,
    "u4_exact_dedup" -> 1,
    "u5_upsert_latest" -> 1,
    "u6_intersect" -> 1,
    "u7_except" -> 1,
    "u8_scd2_history" -> 1,
    "u9_cdc_apply" -> 1,
    "w1_lag_yoy" -> 2,
    "w2_row_number" -> 1,
    "w3_range_frame_30d" -> 1,
    "w4_rows_frame_trailing" -> 1,
    "w5_lead_next" -> 1,
    "w7_ranking_suite" -> 1,
    "w8_gapfill_ffill" -> 2,
    "x10_zorder_curve" -> 0,
    "x11_stratified_quota" -> 1,
    "x12_mixture_apply" -> 2,
    "x13_token_budget_repeat" -> 3,
    "x14_dataset_card" -> 2,
    "x15_purged_time_split" -> 2,
    "x16_dp_noisy_counts" -> 1,
    "x17_negative_sampling" -> 1,
    "x18_domain_quota" -> 1,
    "x18b_domain_topk" -> 1,
    "x1_hash_split" -> 1,
    "x1b_hash_split_portable" -> 1,
    "x2_sessionize_batch" -> 1,
    "x3_pack_sequences" -> 1,
    "x4_weighted_sample" -> 0,
    "x5_mixture_rebalance" -> 2,
    "x5b_temperature_mixture" -> 2,
    "x6_ann_recall_report" -> 6,
    // round 16: 13 → 14 — the brute-force ground truth is checkpointed
    // once (it fed three comparison branches, each re-scanning the
    // corpus), so the three joins now exchange the 50-row checkpoint
    // (one canonical exchange, AQE-reused at runtime) instead of
    // replaying the corpus-scan+window subtree per branch
    "x6b_trained_ann_recall" -> 14,
    "x6c_quantized_recall" -> 5,
    "x7_quantile_shards" -> 1,
    "x7b_quantile_shards_approx" -> 2,
    "x8_global_shuffle" -> 1,
    "x9_leakage_safe_split" -> 0,
  )

  private case class Fired(cartesian: Boolean, bnlj: Boolean, globalWindow: Boolean, shuffles: Int)

  private def audit(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Fired = {
    val df = fn(spark, Sf0001)
    val physical = df.queryExecution.sparkPlan.toString
    val globalWin = df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }.nonEmpty
    Fired(
      cartesian = physical.contains("CartesianProduct"),
      bnlj = physical.contains("BroadcastNestedLoopJoin"),
      globalWindow = globalWin,
      shuffles = PlanAudit.shuffleCount(df))
  }

  /** Runs `body` with the graph recurrences on their distributed loop.
    * Every sf0.001 graph sizes its edge checkpoint to one partition and
    * would take the one-task path (one checkpoint, no exchange to audit);
    * a few-byte advisory partition size sizes it past one partition, so
    * the pins below keep auditing the plan a 100 TB graph runs. With AQE
    * off nothing else reads the advisory size. */
  private def distributedGraphs[T](body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try body finally spark.conf.set(key, prev)
  }

  private lazy val fired: Map[String, Either[String, Fired]] = {
    // AQE off for the WHOLE audit pass: shuffleCount needs the concrete
    // executedPlan (under AQE it's an opaque adaptive wrapper), and the
    // budget table is defined at these exact conditions
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try distributedGraphs(SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(audit(fn))
      catch { case e: Throwable => Left(s"${String.valueOf(e.getMessage).take(120)}") })
    }.toMap)
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("no board query plans a cartesian product, unbounded BNLJ, or raw global window") {
    val violations = fired.toSeq.sortBy(_._1).flatMap {
      case (name, Left(err)) => Seq(s"$name: audit failed to plan: $err")
      case (name, Right(f)) =>
        Seq(
          if (f.cartesian) Some(s"$name: CartesianProduct in physical plan") else None,
          if (f.bnlj && !bnljBounded.contains(name)) Some(s"$name: un-whitelisted BroadcastNestedLoopJoin") else None,
          if (f.globalWindow && !globalWindowBounded.contains(name)) Some(s"$name: un-whitelisted global (unpartitioned) Window") else None
        ).flatten
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("whitelists are exact: every exemption names a real query whose plan still fires the detector") {
    val known = SparkEntry.queries.keySet
    val stale = (bnljBounded.keySet ++ globalWindowBounded.keySet) -- known
    assert(stale.isEmpty, s"whitelist entries for unknown queries: $stale")
    val unusedBnlj = bnljBounded.keySet.filter(n => fired.get(n).exists(_.exists(f => !f.bnlj)))
    val unusedWin = globalWindowBounded.keySet.filter(n => fired.get(n).exists(_.exists(f => !f.globalWindow)))
    assert(unusedBnlj.isEmpty && unusedWin.isEmpty,
      s"exemptions whose detector no longer fires (remove them): bnlj=$unusedBnlj window=$unusedWin")
  }

  test("every board query's shuffle-exchange count matches its recorded budget exactly") {
    val violations = fired.toSeq.sortBy(_._1).flatMap {
      case (_, Left(_)) => None // reported by the detector test
      case (name, Right(f)) =>
        shuffleBudget.get(name) match {
          case None => Some(s"$name: no shuffle budget recorded — run ShuffleBudgetGen and add it")
          case Some(b) if f.shuffles > b =>
            Some(s"$name: ${f.shuffles} shuffles > budget $b — an avoidable exchange crept in")
          case Some(b) if f.shuffles < b =>
            Some(s"$name: ${f.shuffles} shuffles < budget $b — plan improved, lower the budget to lock it in")
          case _ => None
        }
    }
    assert(violations.isEmpty, violations.mkString("\n"))
    // and the budget table can't accumulate entries for dead queries
    val stale = shuffleBudget.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"budget entries for unknown queries: $stale")
  }

  test("x18b's rnk filter fires the partial WindowGroupLimit pushdown below the exchange") {
    // the property x18 (keep-flag variant) structurally cannot have: the
    // rnk <= k filter directly above row_number lets InferWindowGroupLimit
    // insert WindowGroupLimit in Partial mode on the map side (plus Final
    // after the exchange), so a hot host ships k rows, not its row count
    val df = SparkEntry.queries("x18b_domain_topk")(spark, Sf0001)
    val plan = df.queryExecution.sparkPlan.toString
    val n = "WindowGroupLimit".r.findAllIn(plan).size
    assert(n >= 2, s"expected Partial+Final WindowGroupLimit, saw $n in:\n$plan")
    // and the audit-variant x18 must NOT get it (documents the trade)
    val flag = SparkEntry.queries("x18_domain_quota")(spark, Sf0001)
    assert(!flag.queryExecution.sparkPlan.toString.contains("WindowGroupLimit"))
  }

  test("un-memoized builder frames (EM marts, BM25 scores) keep their build-plan shape") {
    // Round 15: since the FrameMemo landed, the board's em_*/s8/s9
    // audited plans are warm LogicalRDD memo scans — the detectors above
    // no longer see the mart and score BUILD plans, so a
    // BroadcastNestedLoopJoin or stray-exchange regression inside e.g.
    // Marts.weatherImpacts would pass the whole-board audit unseen.
    // Audit the builders called FRESH, the shape a lone oracle replay
    // (and the memo's one recompute per session) actually executes.
    import java.sql.{Date, Timestamp}
    val asOfDay = 19990L // EmModelQueries' injected clock: 2024-09-24
    val asOf = new Date(asOfDay * 86400000L)
    val runTs = new Timestamp(asOfDay * 86400000L + 12L * 3600000L)
    // invoking any em board entry writes the staging fixture parquet
    SparkEntry.queries("em_events")(spark, Sf0001)
    val fx = graft.queries.EmModelQueries.FixtureDir
    def src(name: String) = spark.read.parquet(s"$fx/$name.parquet")
    val stgFema = graft.em.Staging.femaDisasters(src("fema"), runTs)
    val stgNoaa = graft.em.Staging.noaaWeather(src("noaa"), runTs)
    val stgCoag = graft.em.Staging.coagmetData(src("coagmet"), runTs)
    val stgUsda = graft.em.Staging.usdaData(src("usda"), runTs)
    val events = graft.em.Marts.emergencyEvents(spark, stgFema, stgNoaa, runTs)
    val docs = graft.core.Tables(spark, Sf0001).documents
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    // AQE off BEFORE construction: the CC builder below executes eager
    // internal localCheckpoints at construction time, and the shape of
    // the post-checkpoint remainder depends on the build-time AQE mode —
    // the audit pins the AQE-off shape, the same conditions `fired` uses
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try distributedGraphs {
      // (name, frame, pinned exchange count, bounded-BNLJ reason or null —
      // same contract as bnljBounded: the only tolerated nested-loop is a
      // provably tiny broadcast side)
      val builders: Seq[(String, org.apache.spark.sql.DataFrame, Int, String)] = Seq(
        ("build:em_events", events, 0, null),
        ("build:em_impacts",
          graft.em.Marts.weatherImpacts(stgCoag, stgNoaa, asOf, runTs), 2, null),
        ("build:em_analytics",
          graft.em.Marts.disasterAnalytics(events, stgUsda, asOf, runTs), 3, null),
        // round 15: d1/d12 (and the cluster builder) score the memoized
        // pair-stats frame — the shingle → inverted-index → pair-reduce
        // BUILD plan needs its own pin (same rationale as the EM marts)
        ("build:shingle_pair_stats",
          graft.queries.DedupQueries.buildPairStats(spark, Sf0001), 4, null),
        // round 15: d5/d6/d14/x9 read the memoized near-dup cluster map —
        // the CC BUILD plan (over the memoized stats frame) keeps its own
        // pin; the pair DAG below it is pinned by build:shingle_pair_stats
        ("build:neardup_clusters",
          graft.queries.DedupQueries.buildNeardupClusters(spark, Sf0001)
            .select(org.apache.spark.sql.functions.col("id").as("doc_id"),
              org.apache.spark.sql.functions.col("comp").as("cluster_id")), 1, null),
        ("build:bm25_scored",
          graft.operators.Retrieval.bm25Scores(
            docs,
            docs.filter(org.apache.spark.sql.functions.col("doc_id") < 8),
            "doc_id", "text"), 7,
          "broadcast 1-row corpus stats (N, avg dl) into the score projection")
      )
      val violations = builders.flatMap { case (name, df, budget, bnljOk) =>
        val physical = df.queryExecution.sparkPlan.toString
        val shuffles = PlanAudit.shuffleCount(df)
        Seq(
          if (physical.contains("CartesianProduct"))
            Some(s"$name: CartesianProduct in build plan") else None,
          if (physical.contains("BroadcastNestedLoopJoin") && bnljOk == null)
            Some(s"$name: un-whitelisted BroadcastNestedLoopJoin in build plan") else None,
          if (shuffles != budget)
            Some(s"$name: $shuffles shuffles != pinned $budget") else None
        ).flatten
      }
      assert(violations.isEmpty, violations.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("Scd2 merges plan one sort-merge join, two shuffle exchanges and no broadcast") {
    // both strategies, both hard-delete flags: the four SCD2 cases come
    // off ONE join — a side-presence filter above it would let outer-join
    // elimination plan a different (broadcast) join per case
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
    import graft.operators.Scd2
    import spark.implicits._
    val (t1, t2, t3) = (Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-02-01 00:00:00"), Timestamp.valueOf("2024-03-01 00:00:00"))
    val history = Scd2.init(Seq(("a", "x", t1), ("b", "y", t1)).toDF("id", "v", "updated_at"), "updated_at")
    val batch = Seq(("a", "x2", t2), ("c", "z", t2)).toDF("id", "v", "updated_at")
    val checkHistory = Scd2.initAt(Seq(("a", "x"), ("b", "y")).toDF("id", "v"), t1)
    val checkBatch = batch.drop("updated_at")
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val merges = Seq(
        "merge" -> Scd2.merge(history, batch, Seq("id"), "updated_at"),
        "merge(invalidateHardDeletes)" -> Scd2.merge(history, batch, Seq("id"), "updated_at",
          invalidateHardDeletes = true, deleteTs = Some(t3)),
        "mergeCheckCols" -> Scd2.mergeCheckCols(checkHistory, checkBatch, Seq("id"), Seq("v"), t3),
        "mergeCheckCols(invalidateHardDeletes)" -> Scd2.mergeCheckCols(checkHistory, checkBatch,
          Seq("id"), Seq("v"), t3, invalidateHardDeletes = true))
      val violations = merges.flatMap { case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val joins = plan.collect { case j: BaseJoinExec => j.getClass.getSimpleName }
        val shuffles = PlanAudit.shuffleCount(df)
        val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }.size
        if (joins == Seq(classOf[SortMergeJoinExec].getSimpleName) && shuffles == 2 && broadcasts == 0) None
        else Some(s"$name: joins $joins, $shuffles shuffles, $broadcasts broadcasts in:\n$plan")
      }
      assert(violations.isEmpty, violations.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("budget sensitivity: a deliberately added repartition() busts its query's budget") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sabotaged = SparkEntry.queries("a1_conditional_agg")(spark, Sf0001)
        .repartition(7)
      assert(PlanAudit.shuffleCount(sabotaged) > shuffleBudget("a1_conditional_agg"),
        "an added exchange must exceed the recorded budget or the gate is blind")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
