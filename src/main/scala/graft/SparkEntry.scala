package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.{AdvancedQueries, DedupQueries, EmModelQueries, EventGraphQueries, ExtraQueries, RelationalQueries, RetrievalQueries, StreamingQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY §2) as named
  * DataFrame-producing entry points over the driver testdata;
  * `oracleSql` holds the DuckDB-equivalent SQL for each (omitted only for
  * sketch-based operators with no 1:1 SQL form — those get rows-only
  * checks and are differentially tested in ScalaTest instead).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Customer balances enriched through the broadcast dim chain
    * nation→region (SURVEY §2.3 J1). */
  def entry(spark: SparkSession): DataFrame = {
    val t = Tables(spark, "/root/testdata/sf0.001")
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("cust_cnt"),
        sum(col("c_acctbal").cast("decimal(18,2)")).as("sum_bal")
      )
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      StreamingQueries.queries ++ ExtraQueries.queries ++ AdvancedQueries.queries ++
      EmModelQueries.queries ++ RetrievalQueries.queries ++ EventGraphQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ TextQueries.oracle ++ DedupQueries.oracle ++
      StreamingQueries.oracle ++ ExtraQueries.oracle ++ AdvancedQueries.oracle ++
      EmModelQueries.oracle ++ RetrievalQueries.oracle ++ EventGraphQueries.oracle

  /** The rows-only-BY-DESIGN board entries: each carries no DuckDB oracle
    * (the driver records rows+schema only) because its value is a sketch /
    * seeded-hash / learned artifact DuckDB cannot replay bit-for-bit, and
    * each is pinned by a hash-green portable twin on the board or an
    * independent ground-truth spec. This map is the SINGLE SOURCE for
    * that accounting: Verify dumps it as rows_only.json next to
    * oracle_sql.json (so the correctness artifact is self-explaining
    * without COVERAGE.md), the committed ROWS_ONLY.json mirrors it
    * (spec-enforced), and QueriesSmokeSpec asserts its key set is EXACTLY
    * queries-without-oracles minus the trained-capture set. */
  val rowsOnly: Map[String, (String, String)] = Map(
    "a5b_approx_distinct" -> (
      ("HLL sketch value is engine-specific",
        "twin a5_count_distinct hash-green; tolerance spec bounds sketch error")),
    "a25b_rolling_actives_hll" -> (
      ("HLL union estimate is engine-specific",
        "twin a25_rolling_active_users hash-green; Wave7Spec bounds estimate within 5%/window")),
    "d2_minhash_lsh" -> (
      ("seeded xxhash64 minhash",
        "twin d2b_minhash_portable (md5) hash-green; OperatorsSpec differential vs exact Jaccard")),
    "d3_simhash" -> (
      ("xxhash64 bit sampling",
        "twin d3b_simhash_portable (md5) hash-green; hamming-distance spec")),
    "d13b_corpus_overlap_fast" -> (
      ("seeded xxhash64 minhash",
        "twin d13_corpus_overlap (md5) hash-green; Wave5Spec cross-validates within sampling error")),
    "d18b_incremental_fast" -> (
      ("seeded xxhash64 minhash",
        "twin d18_incremental_neardup (md5) hash-green; Wave8Spec pins fast == cross-batch slice")),
    "st17_stream_latency_quantiles" -> (
      ("mergeable approx_percentile sketch",
        "twin a22_latency_quantiles (exact) hash-green; Streaming2Spec rank-correctness spec")),
    "st22b_stream_incremental_fast" -> (
      ("seeded xxhash64 minhash",
        "twin st22_stream_incremental_neardup (md5) hash-green; Wave11Spec pins stream == batch xxhash64 replay")),
    "t5_rolling_fingerprint" -> (
      ("xxhash64 rolling hash",
        "twin t5b_rolling_fingerprint_portable (md5) hash-green")),
    "t13_bpe_learned" -> (
      ("learned merges, no SQL analogue",
        "Sennrich worked-example merge ground truth (Wave3Spec); t13b encode leg hash-green")),
    "t14_compression_ratio" -> (
      ("deflate impossible in DuckDB",
        "pinned CPython-zlib ground-truth vector + determinism specs (Wave3Spec)")),
    "x1_hash_split" -> (
      ("xxhash64 membership",
        "twin x1b_hash_split_portable (md5) hash-green")),
    "x7b_quantile_shards_approx" -> (
      ("approx_percentile sketch",
        "twin x7_quantile_shards (exact distributed selection) hash-green"))
  )

  /** Entries whose oracle SQL is CAPTURED during the query run (trained
    * models inlined as literals) — present in oracle_sql.json whenever
    * Verify runs the query first, absent (→ rows-only downgrade) only if
    * capture fails. Not part of [[rowsOnly]]. */
  val trainedCapturedOracles: Set[String] = Set(
    "s3_ann_ivf", "s4_ann_pq", "s5_ann_ivfpq",
    "t13b_bpe_encode_sample", "x6b_trained_ann_recall")

  /** rows_only.json / ROWS_ONLY.json content — deterministic (sorted)
    * so the committed copy is byte-stable. */
  def rowsOnlyJson: String = {
    val mapper = new ObjectMapper()
    val o = mapper.createObjectNode()
    rowsOnly.toSeq.sortBy(_._1).foreach { case (k, (why, pin)) =>
      o.putObject(k).put("why_no_oracle", why).put("pinned_by", pin)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o) + "\n"
  }
}
