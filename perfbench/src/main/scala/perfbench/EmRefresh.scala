package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.{Date, Timestamp}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Dag
import graft.em.{EmSchemas, Fixtures, Marts, PublicLayer, Staging}
import graft.operators.Scd2
import graft.streaming.StreamingJobs

/** Per-cycle batch sizes of the four feeds. */
final case class EmSizes(fema: Int, noaa: Int, coagmetStations: Int, usda: Int)

/** em_refresh: daily refresh cycles of the EM pipeline. Each cycle lands one
  * seeded batch per feed, ingests it into its bronze table through the
  * checkpointed streaming upsert, rebuilds staging → marts → public →
  * quality with `Dag.run` and a parquet sink, and merges the batch into the
  * SCD2 histories written by the previous cycle. Cycle 0 is the initial load,
  * run in the warm session; landing a batch is not part of the timed cycle.
  * The sink writes unpartitioned tables. */
final class EmRefresh(work: String, seed: Long, cycles: Int, sizes: EmSizes) extends Workload {
  import EmRefresh._

  private val gen = s"$work/gen"
  private val tree = s"$work/run"
  private val base = s"$work/base"
  private var baseHistory = Map.empty[String, String]
  /** Rows landed per cycle, over all feeds. */
  private val landed = mutable.Map.empty[Int, Long]

  override def prepare(spark: SparkSession): Unit = {
    rm(new File(gen))
    val rng = new scala.util.Random(seed)
    val femaKeys = mutable.ArrayBuffer.empty[String]
    val noaaKeys = mutable.ArrayBuffer.empty[String]
    def rekey(df: DataFrame, schema: StructType, keys: Seq[String], c: Int): Seq[Row] =
      df.collect().toSeq.zip(keys).map { case (r, k) =>
        val v = r.toSeq.toArray
        v(0) = k
        v(schema.fieldIndex("ingestion_timestamp")) = ingestTs(c)
        Row.fromSeq(v.toSeq)
      }
    /** A seeded share (10-40%) of a batch re-delivers keys of earlier cycles. */
    def keysFor(c: Int, n: Int, pool: mutable.ArrayBuffer[String], fresh: Int => String): Seq[String] = {
      val updates = if (c == 0) 0 else math.min(pool.size, (n * (0.1 + 0.3 * rng.nextDouble())).toInt)
      val old = rng.shuffle(pool.toSeq).take(updates)
      val added = (0 until n - updates).map(i => fresh(pool.size + i))
      pool ++= added
      old ++ added
    }
    val rows = Map(
      "fema" -> mutable.ArrayBuffer.empty[Row], "noaa" -> mutable.ArrayBuffer.empty[Row],
      "coagmet" -> mutable.ArrayBuffer.empty[Row], "usda" -> mutable.ArrayBuffer.empty[Row])
    (0 to cycles).foreach { c =>
      val s = seed * 1000L + c
      rows("fema") ++= rekey(Fixtures.fema(spark, sizes.fema, s), EmSchemas.Fema,
        keysFor(c, sizes.fema, femaKeys, i => (4000 + i).toString), c).map(tag(_, c))
      rows("noaa") ++= rekey(Fixtures.noaa(spark, sizes.noaa, s), EmSchemas.Noaa,
        keysFor(c, sizes.noaa, noaaKeys, i => s"NOAA-ALERT-$i"), c).map(tag(_, c))
      // a new day of observations, plus a seeded number of earlier days re-delivered
      val redelivered = if (c == 0) 0 else math.min(c, rng.nextInt(3))
      rows("coagmet") ++= Fixtures.coagmet(spark, sizes.coagmetStations, 1 + redelivered, BaseDay + c, s)
        .withColumn("ingestion_timestamp", lit(ingestTs(c))).collect().map(tag(_, c))
      rows("usda") ++= Fixtures.usda(spark, sizes.usda, s)
        .withColumn("ingestion_timestamp", lit(ingestTs(c))).collect().map(tag(_, c))
    }
    Feeds.foreach { f =>
      val schema = Feed(f).schema.add("cycle", "int")
      spark.createDataFrame(spark.sparkContext.parallelize(rows(f).toSeq, 1), schema)
        .write.partitionBy("cycle").parquet(s"$gen/$f")
    }
    rows.values.flatten.groupBy(r => r.getInt(r.length - 1)).foreach { case (c, rs) => landed(c) = rs.size.toLong }
  }

  private def tag(r: Row, c: Int): Row = Row.fromSeq(r.toSeq :+ c)

  /** Resolves the generated feeds, then runs one small job so the session's
    * first-job costs land in set-up. */
  def register(spark: SparkSession): Unit = {
    Feeds.foreach(f => spark.read.parquet(s"$gen/$f").schema: Unit)
    spark.read.parquet(s"$gen/fema").count(): Unit
  }

  /** The warm session runs the initial load (cycle 0); every pass then
    * restarts from a copy of that state, at the same paths so the streaming
    * checkpoints stay valid, and times the refresh cycles 1..cycles. */
  def warm(spark: SparkSession): Unit = {
    rm(new File(tree))
    land(0)
    baseHistory = cycle(spark, 0, Map.empty, new Tracer(false), new Timings)._1
    rm(new File(base))
    copyDir(new File(tree), new File(base))
  }

  def pass(spark: SparkSession, tracer: Tracer, windowEnd: () => Unit): Pass = {
    rm(new File(tree))
    copyDir(new File(base), new File(tree))
    val t = new Timings
    var history = baseHistory
    (1 to cycles).foreach { c =>
      land(c)
      val (h, rec) = cycle(spark, c, history, tracer, t)
      history = h
      t.ops += rec
    }
    windowEnd()
    Pass(t.ops.map(_.latency).sum, t.ops.toSeq, t.layers(history, spark), checks(spark, history))
  }

  /** Copies cycle `c`'s generated files into each feed's landing directory. */
  private def land(c: Int): Unit = Feeds.foreach { f =>
    val dst = new File(s"$tree/landing/$f")
    dst.mkdirs()
    Option(new File(s"$gen/$f/cycle=$c").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .foreach(src => Files.copy(src.toPath, new File(dst, s"c$c-${src.getName}").toPath, StandardCopyOption.REPLACE_EXISTING))
  }

  private def cycle(
      spark: SparkSession, c: Int, history: Map[String, String], tracer: Tracer, t: Timings
  ): (Map[String, String], OpRecord) = {
    val root = tree
    val runTs = new Timestamp((BaseDay + c) * 86400000L + 12L * 3600000L)
    val asOf = new Date((BaseDay + c) * 86400000L)
    var error: Option[String] = None
    var next = history
    val t0 = System.nanoTime()
    var t1 = t0
    try tracer.span("bench.op", s"cycle$c") {
      Feeds.foreach { f =>
        val s0 = System.nanoTime()
        tracer.span("streaming.ingest", f) {
          val q = StreamingJobs.passThroughToBronze(spark, s"$root/landing/$f", s"$root/bronze/$f",
            s"$root/ckpt/$f", Feed(f).keys, "ingestion_timestamp", Feed(f).tiebreak)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
        t.add("streaming.StreamingJobs.passThroughToBronze_s", Clock.secs(s0))
        t.add("operators.Upsert.bytes_rewritten", dirBytes(new File(s"$root/bronze/$f")).toDouble)
        t.add("write.files", dataFiles(new File(s"$root/bronze/$f")).toDouble)
      }
      t1 = System.nanoTime()
      val outputs = tracer.span("core.Dag", s"cycle$c")(dag(spark, root, runTs, asOf, tracer, t))
      next = tracer.span("operators.Scd2", s"cycle$c")(snapshots(spark, c, history, outputs, runTs, tracer, t))
    } catch { case NonFatal(e) => error = Some(Board.error(e)) }
    val t2 = System.nanoTime()
    (next, OpRecord(s"cycle$c", "em_refresh", 0, Clock.secs(t0, t2), Clock.secs(t0, t1), Clock.secs(t1, t2),
      landed.getOrElse(c, 0L), 0L, "", "", error))
  }

  private def dag(
      spark: SparkSession, root: String, runTs: Timestamp, asOf: Date, tracer: Tracer, t: Timings
  ): Map[String, DataFrame] = {
    def bronze(f: String) = spark.read.parquet(s"$root/bronze/$f")
    val nodeSecs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def node(name: String, deps: Seq[String], materialize: Boolean = true)(build: Map[String, DataFrame] => DataFrame) =
      Dag.Node(name, deps, { d =>
        val s0 = System.nanoTime()
        val df = tracer.span("em.node", name)(build(d))
        nodeSecs(name) += Clock.secs(s0)
        df
      }, materialize)
    def sink(name: String, df: DataFrame): DataFrame = {
      val s0 = System.nanoTime()
      val out = tracer.span("em.node", name) {
        df.write.mode("overwrite").parquet(s"$root/out/$name")
        spark.read.parquet(s"$root/out/$name")
      }
      nodeSecs(name) += Clock.secs(s0)
      t.add("write.files", dataFiles(new File(s"$root/out/$name")).toDouble)
      out
    }
    val nodes = Seq(
      node("stg_fema", Nil, materialize = false)(_ => Staging.femaDisasters(bronze("fema"), runTs)),
      node("stg_noaa", Nil, materialize = false)(_ => Staging.noaaWeather(bronze("noaa"), runTs)),
      node("stg_coagmet", Nil, materialize = false)(_ => Staging.coagmetData(bronze("coagmet"), runTs)),
      node("stg_usda", Nil, materialize = false)(_ => Staging.usdaData(bronze("usda"), runTs)),
      node("emergency_events", Seq("stg_fema", "stg_noaa"))(d =>
        Marts.emergencyEvents(spark, d("stg_fema"), d("stg_noaa"), runTs)),
      node("weather_impacts", Seq("stg_coagmet", "stg_noaa"))(d =>
        Marts.weatherImpacts(d("stg_coagmet"), d("stg_noaa"), asOf, runTs)),
      node("disaster_analytics", Seq("emergency_events", "stg_usda"))(d =>
        Marts.disasterAnalytics(d("emergency_events"), d("stg_usda"), asOf, runTs)),
      node("public_disasters", Seq("emergency_events"))(d => PublicLayer.publicDisasters(d("emergency_events"), asOf, runTs)),
      node("public_weather_alerts", Seq("stg_noaa"))(d => PublicLayer.publicWeatherAlerts(d("stg_noaa"), asOf, runTs)),
      node("public_agricultural_data", Seq("stg_usda"))(d => PublicLayer.publicAgriculturalData(d("stg_usda"), asOf)),
      node("public_agricultural_summary", Seq("public_agricultural_data"))(d =>
        PublicLayer.publicAgriculturalSummary(d("public_agricultural_data"))),
      node("data_quality_metrics", Seq("stg_fema", "stg_noaa", "stg_coagmet", "stg_usda"))(d =>
        PublicLayer.dataQualityMetrics(Seq(
          ("fema", d("stg_fema"), "disaster_number", "processed_at"),
          ("noaa", d("stg_noaa"), "alert_id", "processed_at"),
          ("coagmet", d("stg_coagmet"), "station_id", "processed_at"),
          ("usda", d("stg_usda"), "commodity_name", "processed_at")), runTs)))
    val d0 = System.nanoTime()
    val result = Dag.run(nodes, sink)
    val total = Clock.secs(d0)
    Materialized.foreach(n => t.add(s"em.${n}_s", nodeSecs(n)))
    t.add("core.Dag.overhead_s", total - nodeSecs.values.sum)
    result.outputs
  }

  /** Merges the cycle's staged batches into each history; cycle 0 starts
    * them. Returns the directory of each snapshot's newest version. */
  private def snapshots(
      spark: SparkSession, c: Int, history: Map[String, String], outputs: Map[String, DataFrame],
      runTs: Timestamp, tracer: Tracer, t: Timings
  ): Map[String, String] = {
    val root = tree
    def raw(f: String) = spark.read.parquet(s"$gen/$f/cycle=$c")
    val batches = Map(
      "disaster_declarations_snapshot" -> Staging.femaDisasters(raw("fema"), runTs),
      "weather_alerts_snapshot" -> Staging.noaaWeather(raw("noaa"), runTs),
      "agricultural_risk_snapshot" -> collapseUsda(Staging.usdaData(raw("usda"), runTs)),
      "emergency_events_summary_snapshot" -> outputs("emergency_events"))
    Snapshots.map { case (snap, (keys, updatedAt)) =>
      val s0 = System.nanoTime()
      val dir = s"$root/hist/$snap/v$c"
      tracer.span("operators.Scd2", snap) {
        val merged =
          if (c == 0) Scd2.init(batches(snap), updatedAt)
          else Scd2.merge(spark.read.parquet(history(snap)), batches(snap), keys, updatedAt)
        merged.write.parquet(dir)
      }
      t.add(s"operators.Scd2.${snap}_s", Clock.secs(s0))
      t.add("write.files", dataFiles(new File(dir)).toDouble)
      snap -> dir
    }
  }

  /** The composite-key feed carries several policies per key; one row per
    * key, as the agricultural risk snapshot expects. */
  private def collapseUsda(stg: DataFrame): DataFrame =
    stg.groupBy(UsdaKeys.map(col): _*)
      .agg(max("loss_category").as("loss_category"),
        max("premium_amount_usd").as("premium_amount_usd"),
        max("indemnity_amount_usd").as("indemnity_amount_usd"),
        first("processed_at").as("processed_at"))

  /** SCD2 invariants on every history, and row counts and digests of every
    * table the cycles wrote. Runs after the timed window. */
  private def checks(spark: SparkSession, history: Map[String, String]): Map[String, Any] = {
    val root = tree
    val invariants = Snapshots.map { case (snap, (keys, _)) =>
      val h = spark.read.parquet(history(snap))
      val byKey = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*).orderBy("valid_from")
      val multiOpen = h.groupBy(keys.map(col): _*)
        .agg(sum(when(col("is_current"), 1).otherwise(0)).as("open"))
        .filter(col("open") =!= 1).count()
      val overlaps = h.withColumn("next_from", lead("valid_from", 1).over(byKey))
        .filter(
          (col("next_from").isNotNull && (col("valid_to").isNull || col("valid_to") > col("next_from") ||
            col("valid_from") >= col("valid_to") || col("is_current"))) ||
          (col("next_from").isNull && (col("valid_to").isNotNull || !col("is_current"))))
        .count()
      snap -> Map("keys_without_one_open_version" -> multiOpen, "overlapping_versions" -> overlaps)
    }
    val tables = Feeds.map(f => s"bronze/$f" -> s"$root/bronze/$f") ++
      Materialized.map(n => s"out/$n" -> s"$root/out/$n") ++
      Snapshots.keys.toSeq.sorted.map(s => s"hist/$s" -> history(s))
    val digests = tables.map { case (name, path) =>
      val df = spark.read.parquet(path)
      val rows = df.collect()
      name -> Map("rows" -> rows.length, "digest" -> Canon.digest(df.schema, rows))
    }.toMap
    Map("scd2" -> invariants, "tables" -> digests)
  }

  /** Accumulates the pass's per-layer numbers and its cycle records. */
  private final class Timings {
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    private val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) += v
    def layers(history: Map[String, String], spark: SparkSession): Map[String, Double] =
      acc.toMap + ("operators.Scd2.history_rows" ->
        history.values.map(p => spark.read.parquet(p).count()).sum.toDouble)
  }
}

object EmRefresh {
  /** 2024-09-24, the as-of day of the EM board entries; cycle c runs on day BaseDay + c. */
  val BaseDay = 19990L

  final case class FeedSpec(schema: StructType, keys: Seq[String], tiebreak: String)

  val Feeds: Seq[String] = Seq("fema", "noaa", "coagmet", "usda")
  val Feed: Map[String, FeedSpec] = Map(
    "fema" -> FeedSpec(EmSchemas.Fema, Seq("disaster_number"), "title"),
    "noaa" -> FeedSpec(EmSchemas.Noaa, Seq("alert_id"), "headline"),
    "coagmet" -> FeedSpec(EmSchemas.Coagmet, Seq("station_id", "timestamp"), "temperature"),
    "usda" -> FeedSpec(EmSchemas.Usda, Seq("program_year", "state_code", "county_code", "commodity", "practice"),
      "premium_amount"))

  val UsdaKeys: Seq[String] = Seq("program_year", "state_code", "county_code", "commodity_name")

  /** Snapshot → (unique key, updated-at column). */
  val Snapshots: Map[String, (Seq[String], String)] = Map(
    "disaster_declarations_snapshot" -> ((Seq("disaster_number"), "processed_at")),
    "weather_alerts_snapshot" -> ((Seq("alert_id"), "processed_at")),
    "agricultural_risk_snapshot" -> ((UsdaKeys, "processed_at")),
    "emergency_events_summary_snapshot" -> ((Seq("event_id"), "last_updated")))

  val Materialized: Seq[String] = Seq("emergency_events", "weather_impacts", "disaster_analytics",
    "public_disasters", "public_weather_alerts", "public_agricultural_data", "public_agricultural_summary",
    "data_quality_metrics")

  def ingestTs(c: Int): Timestamp = new Timestamp((BaseDay + c) * 86400000L + 6L * 3600000L)

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }

  def copyDir(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty).foreach(f => copyDir(f, new File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING): Unit

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  def dataFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dataFiles).sum
    else if (f.getName.endsWith(".parquet")) 1L else 0L
}
