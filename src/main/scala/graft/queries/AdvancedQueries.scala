package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.{AsOfJoin, Sampling}

/** Third wave: beyond-reference operators a training-data pipeline needs —
  * point-in-time as-of join, full ranking-function surface, pivot,
  * PII redaction (the reference only SCANS for PII,
  * tests/data_quality_tests.yml:155-175 — redaction is the fix side),
  * TF-IDF term scoring. All DuckDB-oracle-checked.
  */
object AdvancedQueries {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "x1_hash_split" -> ((s, d) => {
      // deterministic train/test split — membership is a pure function of
      // the key hash, stable across runs/partitionings (no SQL oracle:
      // DuckDB lacks xxhash64; determinism + ratios asserted in
      // AdvancedSpec)
      Sampling.hashSplit(Tables(s, d).documents, "doc_id",
          Seq("train" -> 0.8, "test" -> 0.2))
        .groupBy("split").agg(count(lit(1)).as("cnt"))
    }),
    "x1b_hash_split_portable" -> ((s, d) => {
      // the oracle-PORTABLE split twin: bucket = md5 hex prefix compared
      // against quantized cumulative-fraction thresholds — replayable as
      // plain SQL, so x1's rows-only check gets a hash-checked sibling
      Sampling.hashSplitPortable(Tables(s, d).documents, "doc_id",
          Seq("train" -> 0.8, "test" -> 0.2))
        .groupBy("split").agg(count(lit(1)).as("cnt"))
    }),
    "x4_weighted_sample" -> ((s, d) => {
      // quality-weighted downsampling: keep probability grows with doc
      // length (proxy for any per-doc quality score); membership is a pure
      // function of (doc_id, seed) via the portable md5 uniform, so the
      // sample is stable across runs/partitionings AND SQL-replayable
      Sampling.weightedKeepPortable(
        Tables(s, d).documents, "doc_id",
        least(lit(1.0), col("n_chars").cast("double") / 3000.0))
        .select("doc_id", "keep_p", "u")
    }),
    "x5_mixture_rebalance" -> ((s, d) => {
      // source-mixture rebalancing report: per-source token mass, corpus
      // share, and the sampling rate that levels every source to a uniform
      // target — the planning artifact before a weighted-sample pass. The
      // window runs over the per-source AGGREGATE (5 rows), not the corpus.
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables(s, d).documents
        .groupBy("source")
        .agg(sum(TextFunctions.tokenCount(col("text")).cast("long")).as("tokens"))
        .withColumn("total", sum("tokens").over(w))
        .withColumn("n_sources", count(lit(1)).over(w))
        .select(
          col("source"), col("tokens"),
          (col("tokens").cast("double") / col("total")).as("share"),
          least(lit(1.0), col("total").cast("double") / col("n_sources") / col("tokens")).as("rate"))
    }),
    "x5b_temperature_mixture" -> ((s, d) => {
      // mT5-style temperature sampling (Xue et al. 2021, §3.1): source
      // pick-probability ∝ share^alpha (alpha=0.3 upweights low-resource
      // sources), then the per-source sampling rate that realizes the
      // target mixture, normalized so the largest rate is 1.0 (no source
      // oversamples). Same 5-row-aggregate window shape as x5 — the
      // corpus is touched once, for the token counts.
      val alpha = 0.3
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      Tables(s, d).documents
        .groupBy("source")
        .agg(sum(TextFunctions.tokenCount(col("text")).cast("long")).as("tokens"))
        .withColumn("total", sum("tokens").over(w))
        .withColumn("share", col("tokens").cast("double") / col("total"))
        .withColumn("p_temp",
          pow(col("share"), alpha) / sum(pow(col("share"), alpha)).over(w))
        .withColumn("rel_rate", col("p_temp") / col("share"))
        .withColumn("rate", col("rel_rate") / max(col("rel_rate")).over(w))
        // pow() is not correctly-rounded and differs in the last bit
        // between JVM and C runtimes; 9-dp rounding (both engines) makes
        // the derived ratios hash-stable without hiding real error
        .select(col("source"), col("tokens"), col("share"),
          round(col("p_temp"), 9).as("p_temp"), round(col("rate"), 9).as("rate"))
    }),
    "t7b_pii_spans" -> ((s, d) => {
      // PII audit report — the reviewable twin of t7's redaction: WHICH
      // spans matched, per doc and type. The corpus carries no PII, so the
      // spans are constructed deterministically from doc_id (m2's
      // synthetic-ground-truth recipe) and must round-trip through the
      // extraction regexes exactly; the oracle replays the construction.
      // Patterns are the published scrub contract (one sync point with
      // the DuckDB twins here and in t22 — not a re-derivation).
      val email = TextFunctions.PiiPatternMap("email")
      val phone = TextFunctions.PiiPatternMap("phone")
      val seeded = Tables(s, d).documents.select(
        col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or "),
          format_string("%03d", col("doc_id") % 1000), lit("-555-"),
          format_string("%04d", col("doc_id") % 10000)).as("text"))
      seeded.select(
        col("doc_id"),
        explode(array(
          struct(lit("email").as("pii_type"),
            regexp_extract_all(col("text"), lit(email), lit(0)).as("spans")),
          struct(lit("phone").as("pii_type"),
            regexp_extract_all(col("text"), lit(phone), lit(0)).as("spans")))).as("x"))
        .select(col("doc_id"), col("x.pii_type"), explode(col("x.spans")).as("span"))
    }),
    "x7_quantile_shards" -> ((s, d) => {
      // curriculum sharding done scale-right: EXACT quartile cut points of
      // the difficulty score from the distributed-selection operator
      // (Percentiles.exactByRange — bit-equal to the builtin `percentile`,
      // but per-task state is one bucket slice instead of the whole corpus
      // buffered in a single final-merge task), broadcast back over the
      // corpus for a map-side shard comparison — never the global-sort
      // single-partition ntile window (w7 has ntile for the SQL surface;
      // x7b remains the approx variant). Cut points are only used for
      // comparisons, not emitted: an interpolated cut lies strictly
      // between adjacent data values, so last-bit interpolation
      // differences between engines cannot move any doc across a shard.
      val docs = Tables(s, d).documents.select(
        col("doc_id"),
        (col("n_chars").cast("double") /
          TextFunctions.tokenCount(col("text"))).as("difficulty"))
      val cuts = graft.operators.Percentiles.exactByRange(
        docs.withColumn("corpus", lit("all")), "corpus", "difficulty",
        Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75)).drop("corpus")
      docs.crossJoin(broadcast(cuts))
        .withColumn("shard",
          when(col("difficulty") <= col("q1"), 0)
            .when(col("difficulty") <= col("q2"), 1)
            .when(col("difficulty") <= col("q3"), 2)
            .otherwise(3))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          min("difficulty").as("min_difficulty"),
          max("difficulty").as("max_difficulty"))
    }),
    "x10_zorder_curve" -> ((s, d) => {
      // the Z-order (Morton) curve value Layout.zorderedParquet sorts on:
      // min/max-normalized 16-bit bins of (user_id, event second), bits
      // interleaved with the mask-shift cascade — all codegen'd bitwise
      // projections, corpus bounds from ONE bounded agg row. The layout
      // property (tight per-file bounding boxes in BOTH dims) is asserted
      // on real written files in LayoutSpec.
      graft.operators.Layout.zValue(
        Tables(s, d).events
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("ts_s")),
        col("user_id"), col("ts_s"))
        .select("event_id", "bin_a", "bin_b", "z")
    }),
    "x12_mixture_apply" -> ((s, d) => {
      // x5b's temperature mixture MATERIALIZED (mT5 §3.1 end to end): the
      // 5-row rate table broadcasts back over the corpus and membership is
      // the portable md5 uniform (x4's recipe, fresh salt) vs the source's
      // rate — the sampled corpus is a pure function of (doc_id, seed) and
      // the whole pass costs ONE token-count agg + ONE map over the docs.
      val alpha = 0.3
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      val rates = Tables(s, d).documents
        .groupBy("source")
        .agg(sum(TextFunctions.tokenCount(col("text")).cast("long")).as("tokens"))
        .withColumn("total", sum("tokens").over(w))
        .withColumn("share", col("tokens").cast("double") / col("total"))
        .withColumn("p_temp",
          pow(col("share"), alpha) / sum(pow(col("share"), alpha)).over(w))
        .withColumn("rel_rate", col("p_temp") / col("share"))
        .withColumn("rate", round(col("rel_rate") / max(col("rel_rate")).over(w), 9))
        .select("source", "rate")
      val u = (conv(substring(md5(concat(col("doc_id").cast("string"), lit("|mx42"))), 1, 4), 16, 10)
        .cast("double") / 65536.0)
      Tables(s, d).documents.select(col("doc_id"), col("source"))
        .join(broadcast(rates), Seq("source"))
        .withColumn("u", u)
        .select(col("doc_id"), col("source"), col("rate"), col("u"),
          (col("u") < col("rate")).as("keep"))
    }),
    "x13_token_budget_repeat" -> ((s, d) => {
      // fractional-epoch repeat schedule (the GLaM/PaLM mixture repeat
      // step): rebalance every source to a UNIFORM token budget
      // (total/n_sources) — light sources repeat up (floor(r) epochs for
      // all docs + one extra for a deterministic frac(r) of them), heavy
      // sources downsample below one epoch — via
      // Sampling.tokenBudgetRepeat's quantized portable-hash schedule.
      // ONE token agg (n_sources rows, broadcast back) + a map-side
      // explode; the corpus itself never shuffles.
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      val docs = Tables(s, d).documents.select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      val budgets = docs.groupBy("source").agg(sum("n_tok").as("tokens"))
        .withColumn("budget_tokens",
          sum(col("tokens")).over(w).cast("double") / count(lit(1)).over(w))
        .select("source", "budget_tokens")
      Sampling.tokenBudgetRepeat(docs, "doc_id", "source", "n_tok", budgets)
    }),
    "x14_dataset_card" -> ((s, d) => {
      // per-source dataset card — the summary table a corpus release
      // ships: volume, token mass, mean length, language spread, exact-
      // dup rate (u4's fingerprint recipe). ONE scan, one source-grain
      // agg; every column is a map-side-combinable aggregate.
      val nTok = TextFunctions.tokenCount(col("text"))
      Tables(s, d).documents.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(nTok.cast("long")).as("n_tokens"),
        round(avg(nTok.cast("double")), 6).as("avg_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(md5(lower(trim(col("text")))))).as("n_exact_dups"))
        .withColumn("dup_rate",
          round(col("n_exact_dups").cast("double") / col("n_docs"), 6))
    }),
    "x11_stratified_quota" -> ((s, d) => {
      // EXACT-quota stratified sampling: keep precisely ceil(0.25·n_s)
      // docs from every source s — Bernoulli keeps (x4, stratifiedByHash)
      // only hit quotas in expectation, but mixture CONTRACTS ("exactly
      // 25% of each source") need rank-based selection. Docs rank within
      // their source by the portable md5 uniform (deterministic,
      // engine-replayable); the per-source count rides the same window
      // partition, so the whole op is ONE shuffle on the stratum key and
      // no second pass over the corpus.
      val u = md5(concat(col("doc_id").cast("string"), lit("|q42")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(u, col("doc_id"))
      val n = org.apache.spark.sql.expressions.Window.partitionBy("source")
      Tables(s, d).documents
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(w))
        .withColumn("quota", ceil(count(lit(1)).over(n) * 0.25).cast("long"))
        .filter(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"),
          col("rn").cast("long").as("rank_in_source"), col("quota"))
    }),
    "x8_global_shuffle" -> ((s, d) => {
      // deterministic training-data shuffle: every doc gets a reproducible
      // (shard, pos) address in a fully shuffled global order — md5 order
      // key, hex-prefix shard, per-shard rank. 16 shards here; at 100 TB
      // the same plan runs with 65 536 shards and one output file each,
      // so no epoch-time shuffle is ever needed (readers stream shards).
      Sampling.globalShuffle(Tables(s, d).documents, "doc_id")
        .select("doc_id", "okey", "shard", "pos")
    }),
    "x7b_quantile_shards_approx" -> ((s, d) => {
      // x7's 100 TB path made concrete: the quartile cuts come from
      // approx_percentile (KLL-style mergeable sketch — one pass, fixed
      // memory, no exact-percentile sort buffer), shard assignment stays
      // the same map-side comparison; Wave3Spec bounds the shard-size
      // deviation vs exact x7.
      val docs = Tables(s, d).documents.select(
        col("doc_id"),
        (col("n_chars").cast("double") /
          TextFunctions.tokenCount(col("text"))).as("difficulty"))
      val cuts = docs.agg(
        expr("approx_percentile(difficulty, array(0.25D, 0.5D, 0.75D), 10000)").as("q"))
      docs.crossJoin(broadcast(cuts))
        .withColumn("shard",
          when(col("difficulty") <= element_at(col("q"), 1), 0)
            .when(col("difficulty") <= element_at(col("q"), 2), 1)
            .when(col("difficulty") <= element_at(col("q"), 3), 2)
            .otherwise(3))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"))
    }),
    "x3_pack_sequences" -> ((s, d) => {
      // LLM training-sequence packing: docs fill 512-token bins per source
      // (offset-based first-fit — a pure window function, so deterministic,
      // group-parallel, and SQL-replayable; see operators/Packing)
      val docs = Tables(s, d).documents.select(
        col("source"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("toks"))
      graft.operators.Packing.packedSummary(docs, "source", "doc_id", "toks", budget = 512L)
    }),
    "j9_asof_join" -> ((s, d) => {
      // point-in-time lookup: each view event gets the value of the user's
      // most recent prior (or simultaneous) purchase — one shuffle, no
      // range join (operators/AsOfJoin)
      val t = Tables(s, d)
      val views = t.events.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = t.events.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      AsOfJoin.asOfLeft(views, purchases, "user_id", "ts", Seq("value"), "last_purchase_")
        .select(
          col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("last_purchase_value"))
    }),
    "w7_ranking_suite" -> ((s, d) => {
      // remaining ranking surface in one query: rank, dense_rank, ntile,
      // percent_rank, cume_dist (deterministic: unique order key)
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, d).orders.select(
        col("o_orderkey"), col("o_orderstatus"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
    }),
    "a14_pivot" -> ((s, d) => {
      // wide-format daily activity matrix (explicit pivot values: no extra
      // distinct-scan job, deterministic column order)
      Tables(s, d).events
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
    }),
    "t7_pii_redact" -> ((s, d) => {
      // training-corpus PII scrub: email/SSN/phone -> placeholder tokens
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
      val phone = "\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b"
      Tables(s, d).documents.select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), email, "[EMAIL]"),
            ssn, "[SSN]"),
          phone, "[PHONE]").as("clean_text"))
    }),
    "j10_json_extract" -> ((s, d) => {
      // §2.8 JSON surface: path extraction (get_json_object) + typed parse
      // (from_json to StructType) over the events.props JSON column
      val t = Tables(s, d)
      t.events.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_path"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType)
        ))).getField("k").as("k_typed"))
    }),
    "x2_sessionize_batch" -> ((s, d) => {
      // batch gap-based sessionization (30-min inactivity): new-session
      // flag via lag, session id via running sum — the batch twin of
      // StreamingJobs.sessionize (flatMapGroupsWithState)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gapSec = 1800L
      Tables(s, d).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("events_in_session"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("session_value"))
    }),
    "x15_purged_time_split" -> ((s, d) => {
      // Leakage-safe TEMPORAL split with an embargo gap (the backtesting
      // complement of x9's cluster-based split): train = strictly before
      // the boundary, an embargo band is EXCLUDED entirely so windowed
      // features computed at train time can't peek across the boundary,
      // test = after the embargo. Pure map-side assignment + one card
      // reduce; the boundary is a fixed literal (injected-clock
      // convention), so the split is reproducible anywhere.
      val trainEnd = lit("2024-01-20 00:00:00").cast("timestamp")
      val testStart = lit("2024-01-22 00:00:00").cast("timestamp") // 2-day embargo
      val e = Tables(s, d).events
        .withColumn("split",
          when(col("ts") < trainEnd, "train")
            .when(col("ts") >= testStart, "test")
            .otherwise("embargo"))
      e.groupBy("split")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          date_format(min(to_date(col("ts"))), "yyyy-MM-dd").as("first_day"),
          date_format(max(to_date(col("ts"))), "yyyy-MM-dd").as("last_day"))
    }),
    "a16_histogram" -> ((s, d) => {
      // fixed-width binning (pd.cut parity, ml_assets.py:387-391) as pure
      // arithmetic — no Bucketizer, so it runs inside codegen
      Tables(s, d).lineitem
        .select(least(floor(col("l_quantity") / 10.0), lit(4L)).cast("long").as("qty_bin"))
        .groupBy("qty_bin").agg(count(lit(1)).as("cnt"))
    }),
    "a17_stats_suite" -> ((s, d) => {
      // second-moment aggregate surface: stddev/variance/corr/covariance
      // (rounded: the engines accumulate in different orders)
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          round(var_samp(col("l_discount")), 8).as("var_disc"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 8).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price"))
    }),
    "a30_groupwise_ols" -> ((s, d) => {
      // per-key trend fitting (the feature-store "slope feature"): OLS of
      // event value on day index, one per event_type — slope / intercept /
      // R² / n via the linear-regression aggregate family. Single shuffle
      // with map-side partial moments (the regr_* aggregates reduce to
      // sums), so it scales exactly like a1. Rounded: the engines
      // accumulate moments in different orders (a17 precedent).
      val x = datediff(to_date(col("ts")), lit("2024-01-01")).cast("double")
      Tables(s, d).events
        .groupBy("event_type")
        .agg(
          round(regr_slope(col("value"), x), 6).as("slope"),
          round(regr_intercept(col("value"), x), 6).as("intercept"),
          round(regr_r2(col("value"), x), 6).as("r2"),
          regr_count(col("value"), x).as("n"))
    }),
    "x17_negative_sampling" -> ((s, d) => {
      // deterministic negative sampling for contrastive training: each
      // anchor draws k=4 candidate ids via the portable md5 uniform
      // (x1b's device) over the dense id range, keeps candidates whose
      // label differs. Membership is a pure function of (anchor_id, slot)
      // — stable across runs/partitionings AND SQL-replayable. Plan: one
      // O(1) broadcast of the 1-row max-id frame (u10's device), a
      // map-side k-way expansion, one id-keyed equi join — k·N rows
      // shuffle, never a cross join.
      val emb = Tables(s, d).embeddings.select(col("vec_id"), col("label"))
      val mx = emb.agg((max("vec_id") + 1L).as("n"))
      val k = 4
      val cand = emb.crossJoin(broadcast(mx))
        .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
          explode(array((0 until k).map(lit): _*)).as("slot"), col("n"))
        .withColumn("cand_id",
          pmod(conv(substring(md5(concat(col("anchor_id").cast("string"),
            lit("|"), col("slot").cast("string"))), 1, 8), 16, 10).cast("long"),
            col("n")))
      cand.join(emb.select(col("vec_id").as("cand_id"), col("label").as("neg_label")), Seq("cand_id"))
        .filter(col("neg_label") =!= col("anchor_label"))
        .select(col("anchor_id"), col("slot"), col("cand_id").as("neg_id"),
          col("anchor_label"), col("neg_label"))
    }),
    "x18_domain_quota" -> ((s, d) => {
      // per-domain quota cap (Dolma/C4-style curation: no single site may
      // dominate the training mix): keep the top-K docs per canonical
      // host by quality (n_chars as the per-doc score proxy), ties broken
      // on doc_id so the cut is deterministic. Hosts come from t23's
      // planted url (the fixture has none) through UrlFunctions.urlHost —
      // the quota composes the url surface with ONE host-keyed window
      // exchange; at 100 TB the partition key is the (bounded) host
      // universe. Skew bound: AQE splits skewed JOIN partitions, not
      // window partitions — one hot host is one straggler task whose cost
      // is that host's row count (sort + scan, never a cross join). This
      // entry keeps ALL rows (emits a keep flag), which also blocks the
      // WindowGroupLimit pushdown; the production cut is x18b below,
      // which filters rnk <= k so the per-partition top-k prunes
      // map-side BEFORE the exchange and the straggler carries only k
      // survivors per hot host past the rank scan.
      val id = col("doc_id")
      val k = 5
      val host = graft.functions.UrlFunctions.urlHost(col("url"))
      val w = Window.partitionBy("host")
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables(s, d).documents
        .select(id, col("n_chars"), TextQueries.plantedUrl(id).as("url"))
        .withColumn("host", host)
        .withColumn("rnk", row_number().over(w))
        .select(col("doc_id"), col("host"), col("rnk"),
          (col("rnk") <= k).as("keep"))
    }),
    "x18b_domain_topk" -> ((s, d) => {
      // x18's production cut: same quota key and order, but FILTERED to
      // the keepers (Sampling.topKPerKey) so InferWindowGroupLimit
      // inserts a partial WindowGroupLimit BELOW the exchange — each map
      // task forwards at most k rows per host, a hot host ships k rows
      // instead of its corpus share, and the post-shuffle sort touches
      // only survivors. PlanAuditSpec pins the pushdown firing.
      val id = col("doc_id")
      val k = 5
      Sampling.topKPerKey(
        Tables(s, d).documents
          .select(id, col("n_chars"), TextQueries.plantedUrl(id).as("url"))
          .withColumn("host", graft.functions.UrlFunctions.urlHost(col("url"))),
        col("host"), k, Seq(col("n_chars").desc, col("doc_id")))
        .select(col("doc_id"), col("host"), col("rnk"))
    }),
    "t9_array_suite" -> ((s, d) => {
      // array-function surface over tokenized text: size, distinct size,
      // slice, join, contains, sorted first element
      val toks = TextFunctions.tokens(col("text"))
      Tables(s, d).documents.select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_unique"),
        concat_ws("|", slice(toks, 1, 3)).as("first3"),
        array_contains(toks, "the").as("has_the"),
        element_at(array_sort(toks), 1).as("first_sorted"))
    }),
    "t8_tfidf_topterms" -> ((s, d) => {
      // top-5 characteristic terms per doc by tf/df; document frequency is
      // computed over the FULL corpus (the scale-relevant side), ranking
      // restricted to a doc sample. Integer tf/df output; the tf/df score
      // is an exactly-rounded double division in both engines.
      val docs = Tables(s, d).documents
      val toks = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy((col("tf").cast("double") / col("df")).desc, col("term"))
      tf.filter(col("doc_id") % 50 === 0)
        .join(dfreq, "term")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          row_number().over(w).as("rank"))
        .filter(col("rank") <= 5)
    })
  )

  /** x5b's oracle, shared verbatim: the x5b board entry runs it directly
    * and x12 composes it as the rate table (one source of truth for the
    * temperature-mixture rates in SQL). */
  private val X5bOracleSql: String =
    """WITH t AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |s AS (
      |  SELECT source, tokens,
      |    CAST(tokens AS DOUBLE) / CAST(sum(tokens) OVER () AS BIGINT) AS share
      |  FROM t),
      |p AS (
      |  SELECT source, tokens, share,
      |    pow(share, 0.3) / sum(pow(share, 0.3)) OVER () AS p_temp
      |  FROM s),
      |r AS (SELECT *, p_temp / share AS rel_rate FROM p)
      |SELECT source, tokens, share, round(p_temp, 9) AS p_temp,
      |  round(rel_rate / max(rel_rate) OVER (), 9) AS rate
      |FROM r""".stripMargin

  def oracle: Map[String, String] = Map(
    "x1b_hash_split_portable" ->
      // thresholds: round(0.8 * 65536) = 52429 = 0xcccd (P(train) ≈ 0.80000)
      """WITH s AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 4) < 'cccd'
        |    THEN 'train' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS cnt FROM s GROUP BY 1""".stripMargin,
    "x4_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    least(CAST(1.0 AS DOUBLE), CAST(n_chars AS DOUBLE) / 3000.0) AS keep_p,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|ws42'), 1, 4)) AS INTEGER) AS DOUBLE)
        |      / 65536.0 AS u
        |  FROM documents)
        |SELECT doc_id, keep_p, u FROM s WHERE u < keep_p""".stripMargin,
    "x5_mixture_rebalance" ->
      """WITH t AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |s AS (
        |  SELECT source, tokens,
        |    CAST(sum(tokens) OVER () AS BIGINT) AS total,
        |    count(*) OVER () AS n_sources
        |  FROM t)
        |SELECT source, tokens,
        |  CAST(tokens AS DOUBLE) / total AS share,
        |  least(CAST(1.0 AS DOUBLE), CAST(total AS DOUBLE) / n_sources / tokens) AS rate
        |FROM s""".stripMargin,
    "x7_quantile_shards" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS difficulty
        |  FROM documents),
        |c AS (SELECT quantile_cont(difficulty, [0.25, 0.5, 0.75]) AS q FROM s),
        |a AS (
        |  SELECT difficulty,
        |    CASE WHEN difficulty <= q[1] THEN 0
        |         WHEN difficulty <= q[2] THEN 1
        |         WHEN difficulty <= q[3] THEN 2
        |         ELSE 3 END AS shard
        |  FROM s, c)
        |SELECT shard, count(*) AS n_docs,
        |  min(difficulty) AS min_difficulty,
        |  max(difficulty) AS max_difficulty
        |FROM a GROUP BY 1""".stripMargin,
    "x13_token_budget_repeat" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |st AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tokens FROM d GROUP BY 1),
        |rate AS (
        |  SELECT source,
        |    round((CAST((SELECT sum(tokens) FROM st) AS DOUBLE)
        |           / (SELECT count(*) FROM st)) / tokens, 4) AS r
        |  FROM st),
        |e AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(floor(r) AS INTEGER) AS base,
        |    CAST(round((r - floor(r)) * 65536, 0) AS INTEGER) AS thr,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|ep42'), 1, 4)) AS INTEGER) AS u16
        |  FROM d JOIN rate USING (source))
        |SELECT doc_id, source,
        |  CAST(unnest(range(1, base + (CASE WHEN u16 < thr THEN 1 ELSE 0 END) + 1)) AS INTEGER) AS epoch
        |FROM e""".stripMargin,
    "x14_dataset_card" ->
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens,
        |  count(DISTINCT lang) AS n_langs,
        |  count(*) - count(DISTINCT md5(lower(trim(text)))) AS n_exact_dups,
        |  round(CAST(count(*) - count(DISTINCT md5(lower(trim(text)))) AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM documents GROUP BY 1""".stripMargin,
    "x5b_temperature_mixture" -> X5bOracleSql,
    // composes x5b's oracle verbatim as the rate table, then replays the
    // portable-uniform membership (x4's recipe, fresh salt) per doc
    "x12_mixture_apply" ->
      s"""WITH rates AS (
         |$X5bOracleSql
         |),
         |j AS (
         |  SELECT d.doc_id, d.source, r.rate,
         |    CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|mx42'), 1, 4)) AS INTEGER) AS DOUBLE)
         |      / 65536.0 AS u
         |  FROM documents d JOIN rates r USING (source))
         |SELECT doc_id, source, rate, u, u < rate AS keep FROM j""".stripMargin,
    "t7b_pii_spans" ->
      """WITH seeded AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or '
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, 'email' AS pii_type,
        |    regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS spans
        |  FROM seeded
        |  UNION ALL
        |  SELECT doc_id, 'phone' AS pii_type,
        |    regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b') AS spans
        |  FROM seeded)
        |SELECT doc_id, pii_type, unnest(spans) AS span FROM x""".stripMargin,
    // same double association order as Layout.minMaxBin16; the spread
    // masks are the 32-bit Morton constants, applied as a CTE cascade
    "x10_zorder_curve" ->
      """WITH v AS (
        |  SELECT event_id, CAST(user_id AS DOUBLE) AS a,
        |    CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS b
        |  FROM events),
        |s AS (SELECT min(a) AS amn, max(a) AS amx, min(b) AS bmn, max(b) AS bmx FROM v),
        |bin AS (
        |  SELECT event_id,
        |    CASE WHEN amx > amn
        |      THEN CAST(least(floor(((a - amn) * 65536.0) / (amx - amn)), 65535.0) AS BIGINT)
        |      ELSE 0 END AS ba,
        |    CASE WHEN bmx > bmn
        |      THEN CAST(least(floor(((b - bmn) * 65536.0) / (bmx - bmn)), 65535.0) AS BIGINT)
        |      ELSE 0 END AS bb
        |  FROM v, s),
        |s1 AS (
        |  SELECT event_id, ba, bb,
        |    ((ba | (ba << 8)) & 16711935) AS a1,
        |    ((bb | (bb << 8)) & 16711935) AS b1
        |  FROM bin),
        |s2 AS (
        |  SELECT event_id, ba, bb,
        |    ((a1 | (a1 << 4)) & 252645135) AS a2,
        |    ((b1 | (b1 << 4)) & 252645135) AS b2
        |  FROM s1),
        |s3 AS (
        |  SELECT event_id, ba, bb,
        |    ((a2 | (a2 << 2)) & 858993459) AS a3,
        |    ((b2 | (b2 << 2)) & 858993459) AS b3
        |  FROM s2),
        |s4 AS (
        |  SELECT event_id, ba, bb,
        |    ((a3 | (a3 << 1)) & 1431655765) AS a4,
        |    ((b3 | (b3 << 1)) & 1431655765) AS b4
        |  FROM s3)
        |SELECT event_id, ba AS bin_a, bb AS bin_b, (a4 | (b4 << 1)) AS z
        |FROM s4""".stripMargin,
    "x11_stratified_quota" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|q42'), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source, CAST(rn AS BIGINT) AS rank_in_source,
        |  CAST(ceil(n * 0.25) AS BIGINT) AS quota
        |FROM r WHERE rn <= ceil(n * 0.25)""".stripMargin,
    "x8_global_shuffle" ->
      """WITH s AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|gs42') AS okey
        |  FROM documents)
        |SELECT doc_id, okey, substr(okey, 1, 1) AS shard,
        |  CAST(row_number() OVER (PARTITION BY substr(okey, 1, 1)
        |    ORDER BY okey, doc_id) AS INTEGER) AS pos
        |FROM s""".stripMargin,
    "x3_pack_sequences" ->
      """WITH d AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS toks FROM documents),
        |c AS (
        |  SELECT source, doc_id, toks,
        |    COALESCE(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d)
        |SELECT source, CAST(floor(off / 512.0) AS BIGINT) AS seq_id,
        |  count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS seq_tokens,
        |  CAST(CAST(sum(toks) AS BIGINT) AS DOUBLE) / 512.0 AS fill_ratio
        |FROM c GROUP BY 1, 2""".stripMargin,
    "j9_asof_join" ->
      """WITH p AS (
        |  SELECT user_id, ts, max(value) AS value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
        |SELECT v.event_id, v.user_id, CAST(v.ts AS TIMESTAMP) AS ts,
        |       p.value AS last_purchase_value
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts""".stripMargin,
    "w7_ranking_suite" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(rank() OVER w AS INTEGER) AS rnk,
        |CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        |CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |percent_rank() OVER w AS pct_rank,
        |cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "a14_pivot" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "t7_pii_redact" ->
      """SELECT doc_id,
        |regexp_replace(
        |  regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |  '\b\d{3}[- .]\d{3}[- .]\d{4}\b', '[PHONE]', 'g') AS clean_text
        |FROM documents""".stripMargin,
    "j10_json_extract" ->
      """SELECT event_id,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_path,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_typed
        |FROM events""".stripMargin,
    "x2_sessionize_batch" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |    OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |count(*) AS events_in_session,
        |CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
        |FROM g GROUP BY 1, 2""".stripMargin,
    "x15_purged_time_split" ->
      """SELECT CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
        |            WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
        |            ELSE 'embargo' END AS split,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(min(CAST(ts AS DATE)) AS VARCHAR) AS first_day,
        |  CAST(max(CAST(ts AS DATE)) AS VARCHAR) AS last_day
        |FROM events GROUP BY 1""".stripMargin,
    "a16_histogram" ->
      """SELECT CAST(least(floor(l_quantity / 10.0), 4) AS BIGINT) AS qty_bin,
        |count(*) AS cnt FROM lineitem GROUP BY 1""".stripMargin,
    "a30_groupwise_ols" ->
      """SELECT event_type,
        |round(regr_slope(value, CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)), 6) AS slope,
        |round(regr_intercept(value, CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)), 6) AS intercept,
        |round(regr_r2(value, CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)), 6) AS r2,
        |regr_count(value, CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE)) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "x17_negative_sampling" ->
      """WITH mx AS (SELECT max(vec_id) + 1 AS n FROM embeddings),
        |c AS (
        |  SELECT e.vec_id AS anchor_id, e.label AS anchor_label, j.slot AS slot,
        |    CAST(concat('0x', substr(md5(concat(e.vec_id, '|', j.slot)), 1, 8)) AS BIGINT) % mx.n AS cand_id
        |  FROM embeddings e, (SELECT unnest(range(4)) AS slot) j, mx)
        |SELECT c.anchor_id, CAST(c.slot AS INTEGER) AS slot, n.vec_id AS neg_id,
        |  c.anchor_label, n.label AS neg_label
        |FROM c JOIN embeddings n ON n.vec_id = c.cand_id
        |WHERE n.label != c.anchor_label""".stripMargin,
    "x18_domain_quota" ->
      s"""WITH p AS (
        |  SELECT doc_id, n_chars,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://'
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || 'Site' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443'
        |             WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
        |    || '/docs/' || CAST(doc_id AS VARCHAR) || '/page?utm_source=feed&id='
        |    || CAST(doc_id AS VARCHAR) || '&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
        |    || '#sec' || CAST(doc_id % 4 AS VARCHAR) AS url
        |  FROM documents),
        |h0 AS (
        |  SELECT doc_id, n_chars,
        |    lower(regexp_replace(
        |      ${TextQueries.hostPortExtractSql},
        |      ':\\d+$$', '')) AS hostnp
        |  FROM p),
        |h AS (
        |  SELECT doc_id, n_chars,
        |    ${TextQueries.wwwStripCaseSql("hostnp")} AS host
        |  FROM h0),
        |r AS (
        |  SELECT doc_id, host,
        |    row_number() OVER (PARTITION BY host ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, host, CAST(rn AS INTEGER) AS rnk, rn <= 5 AS keep
        |FROM r""".stripMargin,
    "x18b_domain_topk" ->
      s"""WITH p AS (
        |  SELECT doc_id, n_chars,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://'
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || 'Site' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443'
        |             WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
        |    || '/docs/' || CAST(doc_id AS VARCHAR) || '/page?utm_source=feed&id='
        |    || CAST(doc_id AS VARCHAR) || '&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
        |    || '#sec' || CAST(doc_id % 4 AS VARCHAR) AS url
        |  FROM documents),
        |h0 AS (
        |  SELECT doc_id, n_chars,
        |    lower(regexp_replace(
        |      ${TextQueries.hostPortExtractSql},
        |      ':\\d+$$', '')) AS hostnp
        |  FROM p),
        |h AS (
        |  SELECT doc_id, n_chars,
        |    ${TextQueries.wwwStripCaseSql("hostnp")} AS host
        |  FROM h0),
        |r AS (
        |  SELECT doc_id, host,
        |    row_number() OVER (PARTITION BY host ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, host, CAST(rn AS INTEGER) AS rnk
        |FROM r WHERE rn <= 5""".stripMargin,
    "a17_stats_suite" ->
      """SELECT l_returnflag,
        |round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |round(var_samp(l_discount), 8) AS var_disc,
        |round(corr(l_quantity, l_extendedprice), 8) AS corr_qty_price,
        |round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "t9_array_suite" ->
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique,
        |array_to_string(string_split(text, ' ')[1:3], '|') AS first3,
        |list_contains(string_split(text, ' '), 'the') AS has_the,
        |list_sort(string_split(text, ' '))[1] AS first_sorted
        |FROM documents""".stripMargin,
    "t8_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |r AS (
        |  SELECT t.doc_id, t.term, t.tf, df.df,
        |    row_number() OVER (PARTITION BY t.doc_id
        |      ORDER BY CAST(t.tf AS DOUBLE) / df.df DESC, t.term) AS rank
        |  FROM tf t JOIN df USING (term) WHERE t.doc_id % 50 = 0)
        |SELECT doc_id, term, tf, df, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 5""".stripMargin
  )
}
