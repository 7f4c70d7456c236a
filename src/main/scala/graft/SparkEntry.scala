package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec.{CapturedOracle, Declared, Oracle, RowsOnly}
import graft.core.Tables
import graft.queries.{AdvancedQueries, DedupQueries, EmModelQueries, EventGraphQueries, ExtraQueries, RelationalQueries, RetrievalQueries, StreamingQueries, TextQueries}

/** One board entry and all that Bench, Verify and the gates know of it:
  * how the DuckDB compare grades it, why it is off the default timed pass
  * (None = timed), and the FrameMemos it reads, transitively. */
final case class QuerySpec(name: String, run: (SparkSession, String) => DataFrame,
    check: QuerySpec.Check, untimedBecause: Option[String], memos: Set[String])

object QuerySpec {
  sealed trait Check
  /** Graded against a static `oracleSql` entry. */
  case object Oracle extends Check
  /** No oracle by design: why not, and what pins the value instead. */
  final case class RowsOnly(why: String, pinnedBy: String) extends Check
  /** Oracle SQL captured by the entry's own run (its trained model inlined
    * as literals); absent, so graded rows-only, only if capture fails. */
  case object CapturedOracle extends Check

  private[graft] final case class Declared(check: Check = Oracle,
      untimedBecause: Option[String] = None, memos: Set[String] = Set.empty)

  /** Every query with its declared facts, name-sorted. Fails naming each
    * offending entry when a declaration repeats or names no query, when a
    * query without a static oracle is declared neither RowsOnly nor
    * CapturedOracle, or when a RowsOnly entry has an oracle. */
  private[graft] def board(queries: Map[String, (SparkSession, String) => DataFrame],
      oracles: Set[String], declared: Seq[(String, Declared)]): Seq[QuerySpec] = {
    def none(what: String, names: Iterable[String]): Unit =
      require(names.isEmpty, s"$what: ${names.toSeq.sorted.mkString(", ")}")
    none("declared twice", declared.groupBy(_._1).collect { case (n, ds) if ds.size > 1 => n })
    none("declared but not a board query", declared.map(_._1).filterNot(queries.contains))
    val decl = declared.toMap.withDefaultValue(Declared())
    none("no oracle SQL, yet declared neither RowsOnly nor CapturedOracle",
      queries.keys.filter(n => decl(n).check == Oracle && !oracles(n)))
    none("declared RowsOnly, yet has oracle SQL",
      queries.keys.filter(n => decl(n).check.isInstanceOf[RowsOnly] && oracles(n)))
    queries.toSeq.sortBy(_._1).map { case (n, run) =>
      val d = decl(n)
      QuerySpec(n, run, d.check, d.untimedBecause, d.memos)
    }
  }
}

/** The board contract (SURVEY.md §7): the flagship `entry`, the operator
  * inventory (SURVEY §2) as named DataFrame-producing `queries` over the
  * testdata, and their DuckDB `oracleSql`; see [[board]]. */
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

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. Read live:
    * captured oracles appear once their entry has run. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ TextQueries.oracle ++ DedupQueries.oracle ++
      StreamingQueries.oracle ++ ExtraQueries.oracle ++ AdvancedQueries.oracle ++
      EmModelQueries.oracle ++ RetrievalQueries.oracle ++ EventGraphQueries.oracle

  private def untimed(why: String) = Declared(untimedBecause = Some(why))
  private def reads(memos: String*) = Declared(memos = memos.toSet)

  /** What sets an entry apart from a timed, statically oracled entry that
    * reads no memo. Each such fact is written here only. */
  private val declared: Seq[(String, Declared)] = Seq(
    // Rows-only by design: the value is a sketch / seeded-hash / learned
    // artifact DuckDB cannot replay bit-for-bit, pinned by a hash-green
    // twin on the board or an independent ground-truth spec.
    "a5b_approx_distinct" -> Declared(RowsOnly("HLL sketch value is engine-specific",
      "twin a5_count_distinct hash-green; tolerance spec bounds sketch error")),
    "a25b_rolling_actives_hll" -> Declared(RowsOnly("HLL union estimate is engine-specific",
      "twin a25_rolling_active_users hash-green; Wave7Spec bounds estimate within 5%/window")),
    "d2_minhash_lsh" -> Declared(RowsOnly("seeded xxhash64 minhash",
      "twin d2b_minhash_portable (md5) hash-green; OperatorsSpec differential vs exact Jaccard")),
    "d3_simhash" -> Declared(RowsOnly("xxhash64 bit sampling",
      "twin d3b_simhash_portable (md5) hash-green; hamming-distance spec")),
    "d13b_corpus_overlap_fast" -> Declared(RowsOnly("seeded xxhash64 minhash",
      "twin d13_corpus_overlap (md5) hash-green; Wave5Spec cross-validates within sampling error")),
    "d18b_incremental_fast" -> Declared(RowsOnly("seeded xxhash64 minhash",
      "twin d18_incremental_neardup (md5) hash-green; Wave8Spec pins fast == cross-batch slice")),
    "st17_stream_latency_quantiles" -> Declared(RowsOnly("mergeable approx_percentile sketch",
      "twin a22_latency_quantiles (exact) hash-green; Streaming2Spec rank-correctness spec")),
    "st22b_stream_incremental_fast" -> Declared(RowsOnly("seeded xxhash64 minhash",
      "twin st22_stream_incremental_neardup (md5) hash-green; Wave11Spec pins stream == batch xxhash64 replay")),
    "t5_rolling_fingerprint" -> Declared(RowsOnly("xxhash64 rolling hash",
      "twin t5b_rolling_fingerprint_portable (md5) hash-green")),
    "t13_bpe_learned" -> Declared(RowsOnly("learned merges, no SQL analogue",
      "Sennrich worked-example merge ground truth (Wave3Spec); t13b encode leg hash-green")),
    "t14_compression_ratio" -> Declared(RowsOnly("deflate impossible in DuckDB",
      "pinned CPython-zlib ground-truth vector + determinism specs (Wave3Spec)")),
    "x1_hash_split" -> Declared(RowsOnly("xxhash64 membership",
      "twin x1b_hash_split_portable (md5) hash-green")),
    "x7b_quantile_shards_approx" -> Declared(RowsOnly("approx_percentile sketch",
      "twin x7_quantile_shards (exact distributed selection) hash-green")),
    // Oracle SQL captured after the entry's model trains.
    "s3_ann_ivf" -> Declared(CapturedOracle),
    "s4_ann_pq" -> Declared(CapturedOracle),
    "s5_ann_ivfpq" -> Declared(CapturedOracle),
    "t13b_bpe_encode_sample" -> Declared(CapturedOracle),
    "x6b_trained_ann_recall" -> Declared(CapturedOracle),
    // Untimed twins: correctness artifacts that stay fully hash-graded in
    // Verify; their production counterpart holds the timed slot.
    "t5b_rolling_fingerprint_portable" -> untimed("md5 stand-in for t5's xxhash64 rolling hash, for DuckDB replay"),
    "d2b_minhash_portable" -> untimed("md5 stand-in for d2's xxhash64 minhash, for DuckDB replay"),
    "d3b_simhash_portable" -> untimed("md5 stand-in for d3's xxhash64 SimHash, for DuckDB replay"),
    "d13_corpus_overlap" -> untimed("md5 stand-in for d13b's xxhash64 minhash, for DuckDB replay"),
    "d17_fuzzy_join" -> untimed("its id-level pair output is a size floor (x103 on a x10 corpus); d17b is linear"),
    "d18_incremental_neardup" -> untimed("md5 stand-in for d18b's xxhash64 signatures, for DuckDB replay"),
    "st22_stream_incremental_neardup" -> untimed("md5 stand-in for st22b's xxhash64 (~3.5 s at sf0.1), for DuckDB replay"),
    // Memo readers.
    "d1_ngram_jaccard" -> reads("shingle_pair_stats"),
    "d12_containment" -> reads("shingle_pair_stats"),
    "d5_neardup_clusters" -> reads("neardup_clusters", "shingle_pair_stats"),
    "d6_dedup_keepers" -> reads("neardup_clusters", "shingle_pair_stats"),
    "d14_dedup_savings" -> reads("neardup_clusters", "shingle_pair_stats"),
    "x9_leakage_safe_split" -> reads("neardup_clusters", "shingle_pair_stats"),
    "em_events" -> reads("em_events"),
    "em_prediction_features" -> reads("em_events"),
    "em_public_disasters" -> reads("em_events"),
    "em_snapshots" -> reads("em_events"),
    "em_weather_impacts" -> reads("em_impacts"),
    "em_analytics" -> reads("em_analytics", "em_events"),
    "em_api_performance" -> reads("em_analytics", "em_events", "em_impacts"),
    "g1_pagerank" -> reads("trade_pairs"),
    "g1b_pagerank_dangling" -> reads("trade_pairs"),
    "g2_label_propagation" -> reads("trade_pairs"),
    "g3_hits" -> reads("trade_pairs"),
    "s8_bm25_topk" -> reads("bm25_scored"),
    "s9_hybrid_rrf" -> reads("bm25_scored")
  )

  /** The board, name-sorted: one [[QuerySpec]] per query of the nine query
    * objects. Every other view of the board derives from it. */
  val board: Seq[QuerySpec] = QuerySpec.board(
    RelationalQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      StreamingQueries.queries ++ ExtraQueries.queries ++ AdvancedQueries.queries ++
      EmModelQueries.queries ++ RetrievalQueries.queries ++ EventGraphQueries.queries,
    oracleSql.keySet, declared)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    board.map(q => q.name -> q.run).toMap

  /** The rows-only-by-design entries: name → (why no oracle, pinned by),
    * dumped by Verify as rows_only.json and committed as ROWS_ONLY.json. */
  val rowsOnly: Map[String, (String, String)] =
    board.collect { case QuerySpec(n, _, RowsOnly(why, pin), _, _) => n -> ((why, pin)) }.toMap

  /** The names of a comma-separated allowlist, in order. Fails, before any
    * work starts, on an allowlist that names nothing or anything outside
    * `known`, listing those names. */
  private[graft] def allowlist(csv: String, known: Set[String]): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    require(names.nonEmpty && names.forall(known),
      s"unknown query names in the allowlist '$csv': ${names.filterNot(known).mkString(", ")}")
    names
  }

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
