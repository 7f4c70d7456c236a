package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryProgress, Trigger}

import graft.operators.{Dedup, Upsert}

/** Structured Streaming re-expression of the reference's Kafka→Flink→
  * StarRocks path (SURVEY §2.9). Sources here are file streams (no Kafka
  * broker in this environment); the transforms are source-agnostic — swap
  * `readStream.format("kafka")` in and everything downstream holds.
  */
object StreamingJobs {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `body` (which must start AND fully drain its streaming query) with
    * the session's shuffle-partition count scoped to `n`, restoring after.
    *
    * Stateful streaming queries keep one state store PER OPERATOR PER
    * shuffle partition (a stream-stream join keeps four per side), and
    * every HDFS-backed store pays a commit (file create+rename) every
    * microbatch — so partition count is a per-batch FIXED cost independent
    * of data volume (measured: the attribution join spent ~7 s flat from
    * sf0.001 to sf0.1 at 32 partitions, ~3 s at 8). Production sizing rule
    * this encodes: pick stateful-stream partitions for state-per-partition
    * memory, not scan parallelism — state commits, not CPU, are the
    * bottleneck resource. The count is captured into the query's offset
    * metadata during (async) first-batch construction, hence the
    * restore-after-drain contract rather than restore-after-start. */
  private val shuffleScopeLock = new Object

  private def withScopedShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    // The conf is session-global: two concurrent scopes on one session would
    // interleave set/restore and one could capture or permanently restore the
    // other's value, so scoped executions are serialized. Streaming jobs that
    // must run concurrently belong on cloned sessions (spark.newSession) with
    // the conf set per clone.
    shuffleScopeLock.synchronized {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try body
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

  /** The one memory-sink runner: starts `df` as a query named
    * `<prefix>_<n>` under the 8-partition scope, drains everything
    * available, stops it, and returns the sink table (a batch frame)
    * together with the query's progress reports. */
  private def drainToMemory(
      spark: SparkSession,
      df: DataFrame,
      outputMode: String,
      prefix: String
  ): (DataFrame, Array[StreamingQueryProgress]) = {
    val name = s"${prefix}_${counter.incrementAndGet()}"
    val progress = withScopedShufflePartitions(spark, 8) {
      val q = df.writeStream.outputMode(outputMode).format("memory").queryName(name).start()
      try { q.processAllAvailable(); q.recentProgress }
      finally q.stop()
    }
    (spark.table(name), progress)
  }

  /** File-source stream over the single `<table>.parquet` file in `sfDir`,
    * typed with that file's schema. Events read their nanosecond `ts` as
    * raw longs and normalize it, exactly as `Tables.events` does. */
  private def fileStream(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val file = s"$table.parquet"
    val events = table == "events"
    if (events) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/$file").schema
    val stream = spark.readStream.schema(schema).option("pathGlobFilter", file).parquet(sfDir)
    if (events) graft.core.Tables.normalizeTs(stream) else stream
  }

  /** Stages `input` in a fresh temp directory, streams it back through
    * `plan` into the memory sink, and deletes the directory after the
    * drain: the sink table holds the result, so nothing reads the staged
    * files afterwards, and no two calls (in one JVM or across JVMs) can
    * share a staging path. */
  private def drainStaged(spark: SparkSession, input: DataFrame, prefix: String)(
      plan: DataFrame => DataFrame): DataFrame = {
    val staged = Files.createTempDirectory(s"graft_${prefix}_input_").toFile
    try {
      input.write.mode("overwrite").parquet(staged.getPath)
      val schema = spark.read.parquet(staged.getPath).schema
      drainToMemory(spark, plan(spark.readStream.schema(schema).parquet(staged.getPath)),
        "append", prefix)._1
    } finally new scala.reflect.io.Directory(staged).deleteRecursively(): Unit
  }

  /** ST2–ST4: pass-through pipeline — stream of typed rows, stamped with a
    * processing-time column (Flink PROCTIME parity), checkpointed, upserted
    * into a bronze parquet table via idempotent foreachBatch. */
  def passThroughToBronze(
      spark: SparkSession,
      srcDir: String,
      bronzePath: String,
      checkpointDir: String,
      keys: Seq[String],
      versionCol: String,
      tiebreak: String
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .withColumn("proc_time", current_timestamp())
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // window-dedup upsert => re-delivered batches are idempotent
        Upsert.upsertParquet(spark, batch.drop("proc_time"), bronzePath, keys, versionCol, tiebreak)
      }
      .start()
  }

  /** ST5: watermarked tumbling-window aggregation (the README's Flink
    * TUMBLE pattern), run synchronously against the events table through a
    * memory sink and returned as a batch DataFrame. Complete output mode so
    * the result is the full, deterministic window set. */
  def tumblingEventCounts(spark: SparkSession, sfDir: String, window_ : String = "1 hour"): DataFrame = {
    val agg = fileStream(spark, sfDir, "events")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(
        count(lit(1)).as("event_cnt"),
        sum(col("value").cast("decimal(18,2)")).as("value_sum")
      )
    drainToMemory(spark, agg, "complete", "tumbling")._1
      .select(
        col("window.start").cast("timestamp_ntz").as("hr_start"),
        col("event_type"),
        col("event_cnt"),
        col("value_sum").cast("double").as("value_sum")
      )
  }

  /** ST17: windowed latency-quantile monitor — the reference's API
    * latency dashboard (ops/public_ops.py:543-549 publishes p50/p95/p99 as
    * SIMULATED constants) as a real streaming computation: per tumbling
    * window, approx_percentile over the value column (t-digest-style
    * sketch state, mergeable ⇒ bounded per-window state at any stream
    * rate — the exact per-window percentile is the batch twin
    * a22_latency_quantiles, oracled). Complete-mode memory sink harness
    * like ST5. */
  def streamingLatencyQuantiles(spark: SparkSession, sfDir: String, window_ : String = "1 hour"): DataFrame = {
    val agg = fileStream(spark, sfDir, "events")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), window_))
      .agg(
        expr("approx_percentile(value, array(0.5D, 0.95D, 0.99D), 10000)").as("q"),
        count(lit(1)).as("n_req"))
    drainToMemory(spark, agg, "complete", "latency_q")._1.select(
      col("window.start").cast("timestamp_ntz").as("hr_start"),
      element_at(col("q"), 1).as("p50"),
      element_at(col("q"), 2).as("p95"),
      element_at(col("q"), 3).as("p99"),
      col("n_req"))
  }

  /** ST18: ingest-time drift monitor — a21's PSI as a streaming job. The
    * BASELINE distribution is static (a batch frame: in deployment
    * yesterday's gold table; here the even-event_id cohort) and broadcast;
    * the stream bins arriving values per tumbling window — per-window
    * state is nBins counters per (window, type), bounded at any rate —
    * and each finalized window's histogram scores PSI against the
    * baseline. Same ε-smoothing (+0.5 per bin) as the batch a21, dense
    * bin frame on both sides so absent bins contribute their smoothed
    * term identically in Spark and the SQL replay. */
  def streamingDriftPsi(
      spark: SparkSession,
      sfDir: String,
      binWidth: Double = 5.0,
      nBins: Int = 5,
      window_ : String = "1 hour",
      alarmAt: Double = 0.2
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def binOf(c: Column) =
      least(greatest(floor(c / binWidth), lit(0)), lit(nBins - 1)).cast("int")

    val stream = fileStream(spark, sfDir, "events")
      .filter(col("event_id") % 2 =!= 0)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), window_), col("event_type"), binOf(col("value")).as("bin"))
      .agg(count(lit(1)).as("ca"))
    val baseline = graft.core.Tables.normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .filter(col("event_id") % 2 === 0)
      .groupBy(col("event_type"), binOf(col("value")).as("bin"))
      .agg(count(lit(1)).as("cb"))

    // localCheckpoint: dense below joins back against cur (self-join on
    // the memory-sink lineage would hit conflicting-reference resolution);
    // the finalized histogram is tiny (windows × types × bins)
    val cur = drainToMemory(spark, stream, "complete", "drift")._1.select(
      col("window.start").cast("timestamp_ntz").as("hr_start"),
      col("event_type"), col("bin"), col("ca"))
      .localCheckpoint()
    // dense (window, type) × bin grid: absent bins must contribute their
    // smoothed PSI term on both engines
    val dense = cur.select("hr_start", "event_type").distinct()
      .crossJoin(spark.range(nBins).select(col("id").cast("int").as("bin")))
    val eps = nBins * 0.5
    val w = Window.partitionBy("hr_start", "event_type")
    val pa = (col("ca") + 0.5) / (col("ta") + eps)
    val pb = (col("cb") + 0.5) / (col("tb") + eps)
    dense
      .join(cur, Seq("hr_start", "event_type", "bin"), "left")
      .join(broadcast(baseline), Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("ca", "cb"))
      .withColumn("ta", sum(col("ca")).over(w))
      .withColumn("tb", sum(col("cb")).over(w))
      .withColumn("term", (pa - pb) * log(pa / pb))
      .groupBy(col("hr_start"), col("event_type"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("ca")).as("n_cur"),
        round(sum(col("term")), 6).as("psi"))
      .withColumn("is_drift", col("psi") > alarmAt)
  }

  /** Sliding-window variant of ST5: overlapping windows (`size` every
    * `slide`) — each event contributes to size/slide windows. Same
    * watermark/complete-mode harness as tumblingEventCounts. */
  def slidingEventCounts(
      spark: SparkSession,
      sfDir: String,
      size: String = "2 hours",
      slide: String = "1 hour"
  ): DataFrame = {
    val agg = fileStream(spark, sfDir, "events")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(
        count(lit(1)).as("event_cnt"),
        sum(col("value").cast("decimal(18,2)")).as("value_sum")
      )
    drainToMemory(spark, agg, "complete", "sliding")._1
      .select(
        col("window.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"),
        col("event_cnt"),
        col("value_sum").cast("double").as("value_sum")
      )
  }

  /** ST5/ST6 production shape: APPEND-mode windowed counts with watermark
    * eviction. The complete-mode harnesses above hold every window in
    * state forever — right for a deterministic full-result oracle dump,
    * a scale-killer if copied to production. Append mode emits each
    * window exactly once when the watermark passes its end and then DROPS
    * its state rows, so state is bounded by (watermark horizon / slide)
    * open windows regardless of stream lifetime. Late rows behind the
    * watermark are discarded before state lookup. Eviction + late-drop are
    * asserted against live StreamingQueryProgress in Streaming2Spec. */
  def windowedCountsAppend(
      stream: DataFrame,
      tsCol: String,
      watermark: String,
      size: String,
      slide: Option[String] = None,
      extraKeys: Seq[String] = Nil
  ): DataFrame = {
    val win = slide.fold(window(col(tsCol), size))(s => window(col(tsCol), size, s))
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(win +: extraKeys.map(col): _*)
      .agg(count(lit(1)).as("event_cnt"))
  }

  /** ST9: stream-stream inner join with an event-time range condition —
    * every purchase joined to the same user's clicks from the preceding
    * hour (attribution-window semantics). Both sides are watermarked and
    * the join condition bounds event time on both, so Spark derives a
    * state-eviction horizon for EACH side: click state older than
    * (watermark − 1 h) and purchase state behind the watermark are dropped
    * as the stream advances — state stays bounded by the join window, not
    * the stream's lifetime. Run synchronously against the events table via
    * a memory sink; the inner-join append output is the exact deterministic
    * match set, so a batch SQL oracle can hash-check it. */
  def purchaseClickAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    def eventsStream() = fileStream(spark, sfDir, "events")
    val purchases = eventsStream()
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val clicks = eventsStream()
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val joined = purchases.join(
      clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
    drainToMemory(spark, joined, "append", "attribution")._1.select(
      col("purchase_id"), col("click_id"), col("user_id"),
      col("p_ts").cast("timestamp_ntz").as("p_ts"),
      col("c_ts").cast("timestamp_ntz").as("c_ts"))
  }

  /** ST8: compacted-topic semantics on a stream — keep-latest-per-key via
    * watermarked streaming dropDuplicates (duplicate re-deliveries within
    * the watermark horizon are suppressed). */
  def streamingDedup(spark: SparkSession, srcDir: String, keys: Seq[String]): DataFrame = {
    val deduped = landingEventsStream(spark, srcDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates(keys)
    drainToMemory(spark, deduped, "append", "dedup")._1
  }

  /** File-source stream over every parquet file in a landing directory.
    * `ts` may be raw nanos, NTZ, or a proper timestamp depending on the
    * writer; normalizeTs maps all three to TimestampType. */
  private def landingEventsStream(spark: SparkSession, srcDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(srcDir).schema
    graft.core.Tables.normalizeTs(spark.readStream.schema(schema).parquet(srcDir))
  }

  /** ST9: INGEST-TIME benchmark decontamination — the d9 screen as a
    * stream-static join: each arriving embedding is checked against the
    * small static bench set (broadcast into the stream side's scan, cosine
    * predicate codegen'd) and contaminated (vec_id, bench_id) hits emit
    * immediately. Stateless append — no watermark, no state store, so the
    * per-microbatch cost is pure compute: the shape that holds when the
    * ingest stream is the 100 TB firehose and the bench set stays small. */
  def streamingDecontamination(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    import graft.plans.VectorExpressions.{vector_dot, vector_normalize}
    val bench = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("bench_id"), vector_normalize(col("embedding")).as("bv"))
    val stream = fileStream(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 23 =!= 0)
      .select(col("vec_id"), vector_normalize(col("embedding")).as("nv"))
    val hits = stream
      .join(broadcast(bench), vector_dot(col("nv"), col("bv")) >= threshold)
      .select(col("vec_id"), col("bench_id"))
    drainToMemory(spark, hits, "append", "decontam")._1
  }

  /** ST10: ONLINE SemDeDup — the d8 semantic dedup as a stateful stream.
    * Each arriving embedding is assigned its spherical cell ROW-LOCALLY
    * (the same codegen'd nearest-centroid expression as the batch op, so
    * only the per-cell state read shuffles), then checked against the
    * cell's previously-seen vectors held in flatMapGroupsWithState state.
    * With arrival ordered by id (microbatch groups are sorted before the
    * state scan), the flag set is EXACTLY the batch operator's min-id
    * semantics — so this stateful query is hash-checked against the same
    * DuckDB oracle as d8. State per cell is the cell's seen vectors; at
    * 100 TB that is bounded the same way the batch op is: k grows with the
    * corpus so cells stay small (production adds per-cell caps/TTL).
    * Vectors travel as primitive Array[Double]: the state tuples then
    * encode as UnsafeArrayData primitive arrays, and the dup-scan dot loop
    * reads unboxed doubles (a Seq[Double] state paid a boxed element read
    * per multiply; BASELINE.md, round 12). */
  def streamingSemanticDedup(
      spark: SparkSession,
      sfDir: String,
      threshold: Double = 0.4,
      dim: Int = 64,
      k: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    import spark.implicits._
    import graft.plans.VectorExpressions.{nearest_centroids, vector_normalize}
    val cents = graft.operators.Similarity.seededCentroids(dim, k, seed)
    val stream = fileStream(spark, sfDir, "embeddings")
      .select(
        col("vec_id").as[Long],
        nearest_centroids(vector_normalize(col("embedding")), cents, 1)(0).as[Int],
        vector_normalize(col("embedding")).as[Array[Double]])

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def fn(cell: Int, rows: Iterator[(Long, Int, Array[Double])],
           state: GroupState[Seq[(Long, Array[Double])]]): Iterator[(Long, Int, Boolean)] = {
      val sorted = rows.toArray.sortBy(_._1)
      var seen = state.getOption.getOrElse(Seq.empty).toList
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Int, Boolean)](sorted.length)
      sorted.foreach { case (id, _, nv) =>
        val dup = seen.exists { case (_, sv) => dot(sv, nv) >= threshold }
        out += ((id, cell, dup))
        seen = (id, nv) :: seen
      }
      state.update(seen)
      out.iterator
    }

    val flagged = stream
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
      .toDF("vec_id", "cluster", "is_dup")
    val (out, progress) = drainToMemory(spark, flagged, "append", "semdedup")
    // The d8-oracle equivalence (min-id-wins inside each cell) holds only
    // when the corpus lands in ONE microbatch; across batches the flag set
    // becomes first-seen (arrival-order) semantics. Assert the assumption
    // instead of silently drifting from the oracle.
    val fed = progress.count(_.numInputRows > 0)
    require(fed <= 1,
      s"streamingSemanticDedup saw $fed non-empty microbatches; " +
        "min-id oracle semantics require single-microbatch input " +
        "(multi-batch runs are first-seen / arrival-order by design)")
    out
  }

  /** ST11: ingest-time EXACT dedup — u4's fingerprint dedup as a stateful
    * stream. Keyed on the content fingerprint, flatMapGroupsWithState
    * keeps one keeper per fingerprint: min-id within a microbatch (groups
    * sorted before the state scan, st10's determinism recipe), first-seen
    * across microbatches (an ingest pipeline cannot retroactively unkeep
    * a document it already admitted). Each batch-with-arrivals emits the
    * cumulative (keeper, count) row; the sink is collapsed to the FINAL
    * frame per fingerprint after drain (max running count — the append-mode
    * memory sink otherwise retains one stale cumulative row per earlier
    * batch under multi-file / maxFilesPerTrigger input). With the whole
    * corpus in one microbatch the keeper is EXACTLY u4's batch-oracle
    * min-id; across batches it is first-seen-then-min — inherent streaming
    * semantics, documented rather than hidden. State per key is
    * (keep_id, cnt): O(1), the smallest possible dedup state — at 100 TB
    * the state store shards by fingerprint hash, and the per-key payload
    * never grows with duplicates. */
  def streamingExactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val stream = fileStream(spark, sfDir, "documents")
      .select(
        md5(lower(trim(col("text")))).as[String],
        col("doc_id").as[Long])

    def fn(fp: String, rows: Iterator[(String, Long)],
           state: GroupState[(Long, Long)]): Iterator[(String, Long, Long)] = {
      val ids = rows.map(_._2).toArray.sorted
      val (keeper, total) = state.getOption match {
        case Some((keep, cnt)) => (keep, cnt + ids.length)
        case None              => (ids.head, ids.length.toLong)
      }
      state.update((keeper, total))
      Iterator.single((fp, keeper, total))
    }

    val deduped = stream
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
      .toDF("fp", "keep_id", "dup_cnt")
    // keep_id is constant per fp once assigned; dup_cnt grows monotonically —
    // the max row per fingerprint IS the final state.
    drainToMemory(spark, deduped, "append", "exactdedup")._1
      .groupBy("fp")
      .agg(min("keep_id").as("keep_id"), max("dup_cnt").as("dup_cnt"))
  }

  /** ST16: u9's CDC changelog apply at INGEST time — keep-latest-with-
    * tombstones (the Debezium/change-feed apply step) as arbitrary
    * stateful streaming. State per key is ONE (version, op, payload)
    * tuple — the newest change seen so far — O(1) no matter how many
    * changes a key receives. Newest-wins is resolved by the VERSION
    * (event_id), not arrival order, so unlike first-seen dedup (st11's
    * documented caveat) the streamed table equals the batch oracle under
    * ANY microbatching: a stale late arrival can never overwrite a newer
    * state. Each batch-with-arrivals emits the key's current materialized
    * row; after drain the sink collapses to the max-version row per key
    * and keys whose newest change is a tombstone drop out — exactly u9's
    * table, so the entry shares u9's oracle SQL verbatim. */
  def streamingCdcApply(
      spark: SparkSession,
      sfDir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Option[Int] = None
  ): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.option("pathGlobFilter", glob).parquet(sfDir).schema
    val reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = reader
      .parquet(sfDir)
      .select(
        col("user_id").as[Long],
        col("event_id").as[Long],
        col("event_type").as[String],
        col("value").as[Double])
      .as[(Long, Long, String, Double)]

    def fn(user: Long, rows: Iterator[(Long, Long, String, Double)],
           state: GroupState[(Long, String, Double)]): Iterator[(Long, Long, String, Double)] = {
      val newest = rows.maxBy(_._2)
      val cur = state.getOption match {
        case Some(st @ (v, _, _)) if v > newest._2 => st
        case _                                     => (newest._2, newest._3, newest._4)
      }
      state.update(cur)
      Iterator.single((user, cur._1, cur._2, cur._3))
    }

    val applied = stream
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
      .toDF("user_id", "event_id", "event_type", "value")
    // the max-version row per key IS the final state; tombstoned keys leave
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("event_id").desc)
    drainToMemory(spark, applied, "append", "cdcapply")._1
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("event_type") =!= "error")
      .select("user_id", "event_id", "event_type", "value")
  }

  /** ST12: ingest-time document chunking — t15's RAG splitter as a
    * STATELESS streaming transform (1:N row explosion is watermark-free:
    * no state store, no output-mode subtleties, each microbatch chunks
    * independently). The natural front of an ingest→chunk→embed→index
    * streaming pipeline; with the whole corpus in one microbatch the
    * output frame equals t15's batch oracle exactly. */
  def streamingChunking(
      spark: SparkSession,
      sfDir: String,
      chunkLen: Int = 64,
      stride: Int = 48
  ): DataFrame = {
    val chunks = fileStream(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ", -1).as("w"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0),
          greatest(size(col("w")) - (chunkLen - stride) - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_idx", "start")),
        col("w"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(slice(col("w"), col("start") + 1, lit(chunkLen))).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("w"), col("start") + 1, lit(chunkLen))).as("chunk_text"))
    drainToMemory(spark, chunks, "append", "chunking")._1
  }

  /** ST14: t17's Gopher quality verdict evaluated at ingest time — a
    * stateless 1:1 projection (no state store, no watermark; the plan has
    * no exchange at all, so the drain's partition scope changes nothing),
    * so the stream output equals the batch filter row-for-row and reuses
    * its oracle verbatim. This is where a 100 TB pipeline wants the
    * quality gate: documents scored (and droppable) before they ever land. */
  def streamingQualityGate(spark: SparkSession, sfDir: String): DataFrame =
    drainToMemory(spark, graft.functions.TextFunctions.gopherFilter(
      fileStream(spark, sfDir, "documents")), "append", "quality_gate")._1

  /** ST15: x3's sequence packing at INGEST time — per-source cumulative
    * token offset held as flatMapGroupsWithState state (ONE long per
    * group), so every arriving document is assigned its training-sequence
    * address (seq_id) the moment it lands and no batch repack is ever
    * needed. Per-doc assignments stream to the sink in append mode; the
    * per-sequence summary (x3's exact output — n_docs, seq_tokens,
    * fill_ratio) is a presentation-side aggregation of the sink table, so
    * the entry shares x3's oracle SQL verbatim. Within-batch arrival
    * order is normalized by the same per-batch sort as st13; across
    * batches the carried offset keeps later arrivals at later offsets
    * (single input file => single microbatch here, the st11 contract). */
  def streamingPack(spark: SparkSession, sfDir: String, budget: Long = 512L): DataFrame = {
    import spark.implicits._
    val stream = fileStream(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("toks"))
      .as[(String, Long, Long)]

    def fn(source: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]):
        Iterator[(String, Long, Long, Long)] = {
      val sorted = rows.toSeq.sortBy(_._2)
      var off = state.getOption.getOrElse(0L)
      val out = sorted.map { case (_, id, toks) =>
        val sid = math.floor(off / budget.toDouble).toLong
        off += toks
        (source, id, sid, toks)
      }
      state.update(off)
      out.iterator
    }

    val assigned = stream
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
      .toDF("source", "doc_id", "seq_id", "toks")
    drainToMemory(spark, assigned, "append", "pack")._1
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("seq_tokens"))
      .withColumn("fill_ratio", col("seq_tokens").cast("double") / budget.toDouble)
  }

  /** ST7: per-source freshness monitor — each source's newest processed
    * timestamp vs its SLA (sensor semantics, batch-evaluated against an
    * injected clock). One tiny agg per source, unioned. */
  def freshnessMonitor(
      sources: Seq[(graft.core.EngineConfig.SourceConfig, DataFrame, String)],
      asOf: java.sql.Timestamp
  ): DataFrame =
    sources.map { case (cfg, df, tsCol) =>
      graft.operators.Validation.freshness(df, tsCol, asOf, math.ceil(cfg.freshnessSlaHours).toInt)
        .withColumn("source_name", org.apache.spark.sql.functions.lit(cfg.name))
        .withColumn("sla_hours_exact", org.apache.spark.sql.functions.lit(cfg.freshnessSlaHours))
    }.reduce(_ unionByName _)

  /** Arbitrary stateful processing (the engine capability behind ST7-style
    * custom state): per-user sessionization with a gap timeout, via
    * flatMapGroupsWithState. Emits (user_id, session_start_s, session_end_s,
    * n_events) when a gap > `gapSeconds` closes a session; remaining state
    * flushes on stream end via timeout handling at EOF batch. For the
    * deterministic batch-driven test path we emit closed sessions only. */
  def sessionize(spark: SparkSession, srcDir: String, gapSeconds: Long): DataFrame = {
    import spark.implicits._
    // unix_seconds FLOORS; the former `ts div 1e9` nanos path truncated
    // toward zero — second buckets would differ by 1 s for pre-1970
    // timestamps (none exist in any feed; noted in case that changes)
    val stream = landingEventsStream(spark, srcDir)
      .select(col("user_id").as[Long], expr("unix_seconds(ts)").as("ts_s").as[Long])
    drainToMemory(spark, sessionPlan(stream, gapSeconds), "append", "sessions")._1
  }

  /** Per-user gap sessionization over (user_id, ts_s) rows. State is
    * (session_start_s, last_seen_s, n_events); a gap > `gapSeconds` emits
    * the session it closes, and the open session stays in state. */
  private def sessionPlan(stream: Dataset[(Long, Long)], gapSeconds: Long): DataFrame = {
    import stream.sparkSession.implicits._
    def fn(user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long, Int)]):
        Iterator[(Long, Long, Long, Int)] = {
      val sorted = rows.map(_._2).toSeq.sorted
      var st = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
      sorted.foreach { t =>
        st match {
          case Some((start, last, n)) if t - last <= gapSeconds => st = Some((start, t, n + 1))
          case Some((start, last, n)) =>
            out += ((user, start, last, n))
            st = Some((t, t, 1))
          case None => st = Some((t, t, 1))
        }
      }
      st.foreach(state.update)
      out.iterator
    }
    stream
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
      .toDF("user_id", "session_start_s", "session_end_s", "n_events")
  }

  /** ST13: driver-graded streaming sessionization over the events table —
    * emits EVERY session (x2's batch output, not just gap-closed ones) with
    * no driver-side state peeking: the staged input carries one far-future
    * sentinel event per user (ts = global max + gap + 1), so inside the
    * stream itself the sentinel's gap force-closes each user's final real
    * session; the sentinel's own 1-event session is the only state left
    * unemitted at EOF. The staged input is written PARTITIONED (parallel
    * write, no single-writer funnel): every staged file exists before the
    * stream starts, and a file source with no maxFilesPerTrigger admits
    * all available files into ONE microbatch, so the per-user per-batch
    * sort in the state function normalizes cross-file arrival order — the
    * single-microbatch contract needs file-listing atomicity, not a
    * single file.
    *
    * Scale posture: state is O(1) per user (one (start,last,n) tuple); the
    * sentinel frame is one row per user, built by the same engine (a
    * distinct + a literal — no driver collect beyond the 1-row global max,
    * which any production job needs for a run horizon anyway). */
  def streamingSessionize(spark: SparkSession, sfDir: String, gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    val ev = graft.core.Tables(spark, sfDir).events
      .select(col("user_id"), unix_timestamp(col("ts")).as("ts_s"))
    val maxS = ev.agg(max("ts_s")).head.getLong(0)
    val input = ev.unionByName(
      ev.select("user_id").distinct().withColumn("ts_s", lit(maxS + gapSeconds + 1)))
    drainStaged(spark, input, "st13") { stream =>
      sessionPlan(stream.select(col("user_id").as[Long], col("ts_s").as[Long]), gapSeconds)
    }.withColumn("n_events", col("n_events").cast("long"))
  }

  /** ST19: a23's ordered conversion funnel computed at ingest time with
    * arbitrary stateful streaming. Per-user state is THREE timestamps
    * (first view, first qualifying click, first qualifying purchase —
    * -1 = unset), folded in event-time order: a click advances the user
    * only if strictly after the first view, a purchase only if strictly
    * after that click — byte-for-byte a23's strictly-after semantics, so
    * the st19 board entry reuses a23's FULL DuckDB oracle. The staged
    * input carries one far-future `eof` sentinel per user (the st13
    * device): the sentinel sorts last in the per-user per-batch fold and
    * triggers emission of the user's final reached-stage record inside
    * the stream — no driver-side state peeking. The memory-sink stage
    * records then reduce to the 3-row funnel card with a 1-row
    * denominator (scalar-subquery shape).
    *
    * Scale posture: O(1) state per user (three longs), stage records are
    * |users| rows, the final card is one bounded aggregate. */
  def streamingFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.core.Tables(spark, sfDir).events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val input = ev.unionByName(
      ev.select("user_id").distinct()
        .withColumn("event_type", lit("eof"))
        .withColumn("ts_us", lit(Long.MaxValue)))

    // state: (t_view, t_click, t_purchase) micros, -1 = unset
    def fn(user: Long, rows: Iterator[(Long, String, Long)],
        state: GroupState[(Long, Long, Long)]): Iterator[(Long, Int)] = {
      val sorted = rows.toSeq.sortBy(_._3)
      var (v, c, p) = state.getOption.getOrElse((-1L, -1L, -1L))
      var emit = false
      sorted.foreach { case (_, et, t) =>
        et match {
          case "view" if v < 0 => v = t
          case "click" if v >= 0 && c < 0 && t > v => c = t
          case "purchase" if c >= 0 && p < 0 && t > c => p = t
          case "eof" => emit = true
          case _ => ()
        }
      }
      state.update((v, c, p))
      if (emit && v >= 0) Iterator((user, if (p >= 0) 3 else if (c >= 0) 2 else 1))
      else Iterator.empty
    }

    val reached = drainStaged(spark, input, "st19") { stream =>
      stream.select(col("user_id").as[Long], col("event_type").as[String], col("ts_us").as[Long])
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
        .toDF("user_id", "stage_reached")
    }
    val agg = reached.agg(
      sum(when(col("stage_reached") >= 1, 1L).otherwise(0L)).as("u1"),
      sum(when(col("stage_reached") >= 2, 1L).otherwise(0L)).as("u2"),
      sum(when(col("stage_reached") >= 3, 1L).otherwise(0L)).as("u3"))
    def stage(n: Long, nm: String, cnt: String) =
      agg.select(lit(n).as("stage"), lit(nm).as("stage_name"), col(cnt).as("users"),
        round(col(cnt).cast("double") / col("u1"), 6).as("conv_vs_first"))
    stage(1L, "view", "u1")
      .unionByName(stage(2L, "click", "u2"))
      .unionByName(stage(3L, "purchase", "u3"))
  }

  /** ST20: a27's last-touch attribution at ingest time. Per-user state is
    * ONE (click_id, click_ts) pair — the newest click seen so far — and a
    * purchase emits its attribution row the moment it arrives: no
    * sentinel, no end-of-stream flush, because attribution is decidable
    * at purchase time (only clicks at-or-before it are eligible and all
    * of them precede it in event-time order). The per-batch fold sorts by
    * (ts, click-before-purchase, id): equal-instant clicks attribute
    * (a27's inclusive as-of) and same-timestamp click ties resolve to
    * the max click id (a27's max-struct reduction) because later updates
    * overwrite. Output card == a27's, so st20 reuses its FULL oracle. */
  def streamingAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.core.Tables(spark, sfDir).events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))

    // state: (click_id, click_ts_us), -1 = none yet
    // output: (user_id, purchase_id, purchase_ts_us, click_id?, click_ts_us?)
    def fn(user: Long, rows: Iterator[(Long, String, Long, Long)],
        state: GroupState[(Long, Long)]):
        Iterator[(Long, Long, Long, Option[Long], Option[Long])] = {
      val sorted = rows.toSeq.sortBy { case (_, et, id, t) =>
        (t, if (et == "click") 0 else 1, id)
      }
      var (cid, cts) = state.getOption.getOrElse((-1L, -1L))
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Option[Long], Option[Long])]
      sorted.foreach {
        case (_, "click", id, t) => cid = id; cts = t
        case (_, _, id, t) =>
          out += ((user, id, t,
            if (cid >= 0) Some(cid) else None,
            if (cid >= 0) Some(cts) else None))
      }
      state.update((cid, cts))
      out.iterator
    }

    drainStaged(spark, ev, "st20") { stream =>
      stream.select(col("user_id").as[Long], col("event_type").as[String],
          col("event_id").as[Long], col("ts_us").as[Long])
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
        .toDF("user_id", "purchase_id", "purchase_ts_us", "click_id", "click_ts_us")
    }
      .select(col("user_id"), col("purchase_id"), col("purchase_ts_us"),
        col("click_id"), col("click_ts_us"),
        (col("purchase_ts_us") - col("click_ts_us")).as("latency_us"))
  }

  // portable = true  -> md5 portableSignatures: the ORACLE pin (st22) —
  //   DuckDB replays the signature bits, so the full recurrence is
  //   hash-checked; ~46% of the leg's wall is this portability tax
  //   (BASELINE.md, st22 attribution).
  // portable = false -> seeded-xxhash64 minHashSignatures: the
  //   PRODUCTION twin (st22b) — same pipeline, same banding/join plan,
  //   engine-native hashes; rows-only on the board, pinned by st22 +
  //   the Wave11 batch-replay equality spec (the d18/d18b precedent).
  private def signaturesOf(df: DataFrame, portable: Boolean): DataFrame =
    if (portable) Dedup.portableSignatures(df, "doc_id", "text", n = 3, k = 32)
    else Dedup.minHashSignatures(df, "doc_id", "text", n = 3, k = 32)

  /** ST22: d18's incremental near-dup at INGEST time — the continuous
    * arm of the daily-ingest dedup story. The signature index IS the
    * state, and it lives in PARQUET, not the state store: each
    * micro-batch computes its own portable MinHash signatures, LSH-probes
    * the persisted index (`Dedup.incrementalNearDup` — band equi join,
    * signatures move, text never does), appends its matches to the
    * output, and appends its ADMITTED (unmatched) signatures to the
    * index, so the next batch dedups against everything admitted before
    * it. State-store footprint: zero. Index footprint: ~1 KB per
    * admitted doc, on storage where a year of corpus fits.
    *
    * Batch boundaries are part of the semantics (docs in the same batch
    * don't see each other — keep-ALL within a batch, keep-first across
    * batches), so this harness pins them: documents are staged one FILE
    * per logical batch (doc_id mod nBatches; repartition(1) is the
    * fixture-staging seam, same class as st13's sentinel staging) and the
    * file-source stream runs AvailableNow with maxFilesPerTrigger=1 in
    * forced-mtime order. The admitted delta is written to a scratch dir
    * and file-moved into the index so no job ever appends to a path it is
    * simultaneously reading.
    *
    * The oracle replays the same three-stage recurrence in SQL: batch 0
    * all admitted, batch 1 probed against batch 0's admits, batch 2
    * probed against batch 0 ∪ admitted-batch-1. */
  /** @param compactEveryNBatches in-flight compaction cadence: after
    *         every Nth micro-batch's delta move, run
    *         [[graft.operators.Dedup.compactSignatureIndex]] (threshold
    *         semantics — a no-op until the directory is actually
    *         fragmented past `compactMaxFiles`). Safe INSIDE foreachBatch:
    *         callbacks are serialized per query and the batch's probe +
    *         delta move have both completed, so nothing is reading the
    *         index when it is rewritten — the same
    *         never-rewrite-a-read-path rule the delta file-move exists
    *         for. 0 disables (the post-drain pass still runs). Default 64
    *         per the IndexCompactionMicro curve: probe cost is flat to
    *         ~10² fragments and ×2.1 by ~10³, so compacting every 64
    *         admitted deltas keeps the index an order of magnitude below
    *         the measured pain point for the cost of one bounded rewrite
    *         per 64 batches.
    * @param compactMaxFiles fragmentation threshold handed through to
    *         compactSignatureIndex at each cadence point (and post-drain).
    * @param stagingBase explicit staging/index directory. None (the
    *         default) auto-names a pid+start+counter-scoped dir under /tmp
    *         and runs the stale-tree reclaim sweep; Some(dir) hands
    *         ownership to the caller (no sweep — the caller knows its own
    *         lifecycle) and lets a test read the index listing
    *         DETERMINISTICALLY instead of guessing which /tmp dir was
    *         this run's by mtime. */
  /** One micro-batch of the incremental near-dup recurrence — the
    * [[streamingIncrementalNearDup]] foreachBatch body, factored out so
    * the crash-replay spec (Wave11Spec) can drive the exact production
    * path around an injected mid-batch crash.
    *
    * IDEMPOTENT under foreachBatch's at-least-once replay: every file
    * this batch produces carries its batchId in the name
    * (`match_<id>_<i>` in the matches dir, `delta_<id>_<i>` in the
    * index), and entry cleanup deletes any such files a crashed prior
    * attempt left behind — restoring the exact pre-batch index and
    * matches state before recomputing, whether the crash hit between
    * the delta write and the move, mid-move, or after the match write.
    * (The old `mode("append")` match write was NOT replay-safe: a
    * replayed batch double-appended its matches under fresh random part
    * names, and its partially-moved admits made the replayed probe
    * self-match. Both writes now stage off-path and file-move in under
    * deterministic tagged names.)
    *
    * In-flight compaction runs at batch ENTRY, after cleanup, when
    * every index file belongs to a COMMITTED batch — the old
    * end-of-batch point sat inside the batch's own commit window, where
    * a crash after compaction had folded the batch's uncommitted delta
    * into a compacted file that replay cleanup could not have removed.
    * The cadence is observationally unchanged (`batchId %% n == 0` at
    * entry sees exactly the file set `(batchId-1)+1 %% n == 0` saw at
    * exit), and a replayed entry compaction is a no-op: the first
    * attempt already folded the listing under `maxFiles`, and
    * compaction preserves index content either way.
    */
  private[graft] def runIncrementalBatch(
      spark: SparkSession,
      base: String,
      idxDir: String,
      matchDir: String,
      batch: DataFrame,
      batchId: Long,
      portable: Boolean,
      compactEveryNBatches: Int,
      compactMaxFiles: Int
  ): Unit = {
    // replay guard: drop whatever a crashed attempt of THIS batch wrote
    def cleanTagged(dir: String, prefix: String): Unit =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(".parquet"))
        .foreach(f => { f.delete(): Unit })
    cleanTagged(idxDir, s"delta_${batchId}_")
    cleanTagged(matchDir, s"match_${batchId}_")

    if (compactEveryNBatches > 0 && batchId > 0 && batchId % compactEveryNBatches == 0) {
      Dedup.compactSignatureIndex(spark, idxDir, maxFiles = compactMaxFiles): Unit
    }

    // stage a frame off-path, then file-move in under deterministic
    // batch-tagged names: never append to a path the same job is
    // reading, and leave nothing a replay's cleanup can't identify
    def stageAndMove(df: DataFrame, stagingDir: String, dstDir: String, prefix: String): Unit = {
      df.write.mode("overwrite").parquet(stagingDir)
      val sd = new java.io.File(stagingDir)
      sd.listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(s"$dstDir/$prefix$i.parquet").toPath): Unit
        }
      Option(sd.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(f => { f.delete(): Unit })
      sd.delete(): Unit
    }

    val index = spark.read.parquet(idxDir)
    // materialize this batch's signatures ONCE (cache + count) —
    // every downstream action (match write, admit write) reads the
    // cached blocks instead of re-running the md5-per-shingle
    // pipeline, and no extra parquet round-trip is paid
    val sigs = signaturesOf(batch, portable).persist()
    sigs.count(): Unit
    try {
      val (matches0, admitted) = Dedup.incrementalNearDupFromSigs(
        index, sigs, k = 32, bands = 8, threshold = 0.5, portable = portable)
      // persist matches across the batch's TWO consumers: the match
      // write below and admitted's anti-join both sit on top of the
      // band-join probe plan, and without the cache the admit write
      // re-runs the whole explode+join+verify pipeline a second time
      // (measured ~1 s/batch-set at sf0.1, BASELINE.md round 10).
      // Populated by the match write, read by the admit write, dropped
      // with the batch.
      val matches = matches0.persist()
      try {
        stageAndMove(matches, s"$base/mdelta_$batchId", matchDir, s"match_${batchId}_")
        stageAndMove(admitted, s"$base/delta_$batchId", idxDir, s"delta_${batchId}_")
      } finally matches.unpersist()
    } finally sigs.unpersist()
  }

  def streamingIncrementalNearDup(
      spark: SparkSession,
      sfDir: String,
      nBatches: Int = 3,
      compactEveryNBatches: Int = 64,
      compactMaxFiles: Int = 16,
      stagingBase: Option[String] = None,
      portable: Boolean = true
  ): DataFrame = {
    val docs = graft.core.Tables(spark, sfDir).documents.select(col("doc_id"), col("text"))
    // pid in the path: the counter restarts with every JVM, so two
    // concurrent processes (parallel test + bench runs) would otherwise
    // collide on the same staging dir and delete each other's live
    // checkpoint/index mid-run. The process START time rides along as an
    // ownership token: (pid, start) names a process INSTANCE, so the
    // reclaim below can tell a pid-reuse squatter from the true owner —
    // the thing pid-liveness alone cannot.
    val selfHandle = ProcessHandle.current()
    val selfStart: Long =
      selfHandle.info().startInstant().map[Long](_.toEpochMilli: java.lang.Long).orElse(0L)
    val base = stagingBase.getOrElse(
      s"/tmp/graft_st22_${selfHandle.pid()}_${selfStart}_${counter.incrementAndGet()}")
    // pid-scoped names never collide, so stale trees would otherwise
    // accumulate forever. Reclaim rules, NEVER touching a live owner's
    // tree (a caller may still be reading a prior run's matches frame):
    //  - own-pid dirs: never reclaimed (this JVM reclaims nothing of its
    //    own; the next JVM does).
    //  - current format graft_st22_<pid>_<startMs>_<counter>: reclaimed
    //    unless a LIVE process with that pid AND that start instant
    //    exists — (pid, start) names a process instance, so a pid-reuse
    //    squatter (alive, different start) no longer keeps a dead run's
    //    tree forever, and a genuinely live owner is never mistaken for
    //    one regardless of how old the dir's mtime is.
    //  - legacy 1-2-token names (pre-ownership-token rounds): reclaimed
    //    only when the owner is DEAD **and** the 24 h mtime TTL has
    //    expired. The conjunction is deliberate: a live process whose pid
    //    happens to equal the parsed token (counter-as-pid collision, or a
    //    genuinely long-lived legacy-named run) must never lose its tree,
    //    so liveness always blocks reclaim; the TTL then only slows
    //    reclamation of the dead-owner case, which is the safe direction.
    locally {
      import scala.reflect.io.Directory
      val ttlMs = 24L * 3600 * 1000
      val now = System.currentTimeMillis()
      val sweepCandidates =
        if (stagingBase.isDefined) Array.empty[java.io.File] // caller-owned dir: no sweep
        else Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      sweepCandidates
        .filter(f => f.isDirectory && f.getName.startsWith("graft_st22_"))
        .foreach { f =>
          val toks = f.getName.stripPrefix("graft_st22_").split("_")
          val pidTok = toks.headOption.flatMap(_.toLongOption)
          val startTok = if (toks.length >= 3) toks(1).toLongOption else None
          val isSelf = pidTok.contains(selfHandle.pid())
          val owner = pidTok.flatMap { pid =>
            val h = ProcessHandle.of(pid)
            if (h.isPresent) Some(h.get) else None
          }
          val ownerAlive = owner.exists(_.isAlive)
          // a live process whose start instant WE can't read (restricted
          // /proc: hidepid, cross-user containers) must be kept — treating
          // unreadable-as-mismatch would delete a live run's tree, the
          // exact catastrophe the token exists to prevent. Reclaim needs
          // POSITIVE evidence: owner dead, or alive with a READABLE start
          // that differs (pid reuse).
          val ownerStart: Option[Long] = owner.flatMap { h =>
            val s = h.info().startInstant()
            if (s.isPresent) Some(s.get.toEpochMilli) else None
          }
          val reclaim = startTok match {
            case Some(0L) => // owner recorded no readable start instant at
              // CREATION: liveness is the only evidence either side has
              !ownerAlive
            case Some(st) => // ownership-token format
              !ownerAlive || ownerStart.exists(_ != st)
            case None => // legacy format: owner-dead AND TTL-expired
              !ownerAlive && f.lastModified() < now - ttlMs
          }
          if (!isSelf && reclaim) {
            new Directory(f).deleteRecursively(): Unit
          }
        }
      // a same-pid leftover at this exact path (pid reuse after reboot)
      // would corrupt batch accounting; start clean
      if (new java.io.File(base).exists()) {
        new Directory(new java.io.File(base)).deleteRecursively(): Unit
      }
    }
    val inDir = s"$base/in"
    val idxDir = s"$base/index"
    val matchDir = s"$base/matches"
    new java.io.File(inDir).mkdirs()

    // ONE scan + ONE write job stages every batch: partitionBy(bt) after a
    // repartition on bt leaves exactly one file per batch value (each
    // (task, bt) pair writes one file, and every bt lands on one task) —
    // the one-file-per-logical-batch harness seam without per-batch
    // filtered rescans
    val staged = s"$base/stage"
    docs.withColumn("bt", pmod(col("doc_id"), lit(nBatches)))
      .repartition(nBatches, col("bt"))
      .write.partitionBy("bt").mode("overwrite").parquet(staged)
    (0 until nBatches).foreach { i =>
      // an empty residue class (fewer docs than batches, or an id gap)
      // writes no bt=i directory — that logical batch simply never
      // arrives, which is exactly the empty-batch semantics
      val parts = Option(new java.io.File(s"$staged/bt=$i").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      parts.headOption.foreach { part =>
        val dst = new java.io.File(s"$inDir/batch_$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // pinned, strictly increasing mtimes: the file source processes
        // oldest-first, making batch order deterministic
        dst.setLastModified(1700000000000L + i * 60000L)
      }
    }
    // empty index with the PRE-BANDED signature schema (scheme-tagged
    // bh_* columns alongside h0..h31), so batch 0 probes cleanly AND
    // every probe unpivots stored band hashes instead of re-hashing
    // the whole index per batch (Dedup.withBandHashCols — admitted
    // deltas come back pre-banded, keeping the index uniform; the
    // variant/k/bands ride the column names so a mismatched probe
    // recomputes instead of silently missing)
    Dedup.withBandHashCols(signaturesOf(docs.limit(0), portable), k = 32, bands = 8,
        portable = portable)
      .write.mode("overwrite").parquet(idxDir)
    // empty matches frame with the output schema (no-match corpora return
    // an empty-but-typed result instead of a missing dir)
    spark.range(0).select(col("id").as("new_id"), col("id").as("idx_id"),
      col("id").cast("double").as("est_jaccard"))
      .write.mode("overwrite").parquet(matchDir)

    val schema = docs.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    withScopedShufflePartitions(spark, 8) {
      val q = stream.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          runIncrementalBatch(spark, base, idxDir, matchDir, batch, batchId,
            portable = portable, compactEveryNBatches = compactEveryNBatches,
            compactMaxFiles = compactMaxFiles)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // post-drain compaction point: catches whatever the in-flight cadence
    // left behind (the tail batches since the last cadence firing, or
    // everything when the cadence is disabled). Under the threshold, as
    // in the default board run, it's a directory-listing no-op.
    Dedup.compactSignatureIndex(spark, idxDir, maxFiles = compactMaxFiles)
    spark.read.parquet(matchDir)
  }
}
