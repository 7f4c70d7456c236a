package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.StreamingJobs

/** Structured Streaming parity: pass-through bronze upsert (ST2–ST4) and
  * tumbling-window agg == batch agg (ST5). */
class StreamingSpec extends SparkSpecBase {

  test("pass-through stream upserts deduped rows into bronze, idempotently") {
    val tmp = Files.createTempDirectory("stream").toString
    val src = s"$tmp/landing"
    val bronze = s"$tmp/bronze"
    val ckpt = s"$tmp/ckpt"

    // landing batch: events with a duplicated key (same user_id+event_type)
    Tables(spark, Sf0001).events
      .select("event_id", "user_id", "event_type", "value")
      .write.parquet(src)

    val q = StreamingJobs.passThroughToBronze(spark, src, bronze, ckpt,
      keys = Seq("user_id", "event_type"), versionCol = "event_id", tiebreak = "event_id")
    q.awaitTermination(120000)

    val got = spark.read.parquet(bronze)
    val expected = Tables(spark, Sf0001).events
      .select("user_id", "event_type").distinct().count()
    assert(got.count() == expected)

    // restart with same checkpoint: no new data, bronze unchanged
    val q2 = StreamingJobs.passThroughToBronze(spark, src, bronze, ckpt,
      keys = Seq("user_id", "event_type"), versionCol = "event_id", tiebreak = "event_id")
    q2.awaitTermination(120000)
    assert(spark.read.parquet(bronze).count() == expected)
  }

  test("streaming tumbling window equals batch hourly aggregation") {
    val streamed = StreamingJobs.tumblingEventCounts(spark, Sf0001)
    val batch = Tables(spark, Sf0001).events
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hr_start"), col("event_type"))
      .agg(count(lit(1)).as("event_cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("every streaming entry stops its query, restores the partition scope and leaves no staged input") {
    // staged dirs (st13/st19/st20 inputs, st22's staging tree) with their
    // mtimes: a dir rewritten in place counts as left behind too
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def stagedTrees(): Set[(String, Long)] =
      Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.matches("graft_st\\d+_.*"))
        .map(f => (f.getName, f.lastModified())).toSet
    def tempViews(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    graft.queries.StreamingQueries.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val (trees, views) = (stagedTrees(), tempViews())
      fn(spark, Sf0001).count(): Unit
      assert(spark.streams.active.isEmpty, s"$name left a query running")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "8", s"$name leaked its partition scope")
      assert((stagedTrees() -- trees).isEmpty, s"$name left a staged tree behind")
      assert((tempViews() -- views).isEmpty, s"$name left a temporary view behind")
    }
  }

  test("a drained query's batches are counted in the calling scope: st22 runs three") {
    val metrics = graft.core.QueryMetrics.attach(spark.sparkContext)
    try {
      graft.core.QueryMetrics.scoped(spark.sparkContext, "st22") {
        StreamingJobs.streamingIncrementalNearDup(spark, Sf0001).count()
      }: Unit
      assert(metrics.take("st22")("stream_batches") == 3)
    } finally metrics.detach()
  }
}
