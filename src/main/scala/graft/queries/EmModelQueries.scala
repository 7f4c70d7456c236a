package graft.queries

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.em.{Fixtures, Marts, PublicLayer, SeedData, Staging}
import graft.operators.MlFeatures

/** End-to-end DuckDB-oracled EM model layer: the staging → marts → public
  * DAG (the core parity target, reference dbt models
  * models/marts/emergency_events.sql:15-81, weather_impacts.sql:35-165,
  * disaster_analytics.sql:37-158, models/public/public_disasters.sql:20-140,
  * public_agricultural_data.sql) graded by the driver's DuckDB compare
  * instead of hand-built ScalaTest goldens.
  *
  * Mechanics: the query functions write the deterministic EM fixture feeds
  * to parquet once (fixed seeds, fixed clock), then run the REAL pipeline
  * functions (graft.em.Staging/Marts/PublicLayer) over a re-read of those
  * files; the oracle SQL replays the full DAG in DuckDB over the very same
  * parquet, so both engines start from identical bits. Output projections
  * render dates/timestamps as strings and keep aggregates decimal-backed
  * (EmFunctions.dsum/davg) so the driver's exact-value compare is
  * engine-portable.
  */
object EmModelQueries {

  /** Fixture parquet location shared with the DuckDB oracle. Written during
    * Verify (query execution) and read by the driver's DuckDB pass right
    * after — same filesystem, same bits. */
  val FixtureDir = "/tmp/graft_em_fixtures"

  private val AsOfDay = 19990L // 2024-09-24 (UTC epoch day)
  private val AsOf = new Date(AsOfDay * 86400000L)
  private val RunTs = new Timestamp(AsOfDay * 86400000L + 12L * 3600000L) // 12:00:00 UTC
  private val AsOfSql = "DATE '2024-09-24'"
  private val RunTsSql = "TIMESTAMP '2024-09-24 12:00:00'"
  private val RunTsStr = "2024-09-24 12:00:00"

  /** Fixture sizes scale with the graded SF so the EM staging→marts→public
    * DAG (the actual reference workload) gets the same ×10 scale legs as
    * the corpus operators: multiplier = sf/0.01, parsed from the LAST
    * `sf<number>` in the data dir name (sf0.01 → ×1 floor so oracles stay
    * fast, sf0.1 → ×10, sf1 → ×100), clamped to [1, 100]; dirs without an
    * sf marker run at the ×1 floor. Parity is scale-free by construction:
    * the DuckDB oracle replays the DAG over the SAME parquet fixture files
    * whatever their size. */
  private def multiplierFor(sfDir: String): Int =
    "sf(\\d+(?:\\.\\d+)?)".r.findAllMatchIn(sfDir).toSeq.lastOption
      .map(m => math.max(1, math.min(100, math.round(m.group(1).toDouble / 0.01).toInt)))
      .getOrElse(1)

  @volatile private var writtenMult = -1
  private def ensureFixtures(spark: SparkSession, sfDir: String): Unit = synchronized {
    val mult = multiplierFor(sfDir)
    if (writtenMult != mult) {
      // single-file staging keeps the DuckDB oracle's read deterministic
      // and is harness-side only (fixture write, not an engine data path)
      Fixtures.fema(spark, 400 * mult).coalesce(1)
        .write.mode("overwrite").parquet(s"$FixtureDir/fema.parquet")
      Fixtures.noaa(spark, 400 * mult).coalesce(1)
        .write.mode("overwrite").parquet(s"$FixtureDir/noaa.parquet")
      // coagmet scales the STATION axis (days are the fixed 120-day window
      // the as-of queries slice): rows = stations × days × 4 obs/day
      Fixtures.coagmet(spark, 12 * mult, 120, AsOfDay).coalesce(1)
        .write.mode("overwrite").parquet(s"$FixtureDir/coagmet.parquet")
      Fixtures.usda(spark, 6000 * mult).coalesce(1)
        .write.mode("overwrite").parquet(s"$FixtureDir/usda.parquet")
      writtenMult = mult
    }
  }

  private def stgFema(s: SparkSession): DataFrame =
    Staging.femaDisasters(graft.core.Tables.parquet(s, s"$FixtureDir/fema.parquet"), RunTs)
  private def stgNoaa(s: SparkSession): DataFrame =
    Staging.noaaWeather(graft.core.Tables.parquet(s, s"$FixtureDir/noaa.parquet"), RunTs)
  private def stgCoag(s: SparkSession): DataFrame =
    Staging.coagmetData(graft.core.Tables.parquet(s, s"$FixtureDir/coagmet.parquet"), RunTs)
  private def stgUsda(s: SparkSession): DataFrame =
    Staging.usdaData(graft.core.Tables.parquet(s, s"$FixtureDir/usda.parquet"), RunTs)

  /** Session-scoped memos of the three shared mart frames. In the
    * reference these marts are MATERIALIZED dbt tables every downstream
    * model reads; recomputing them from staging per board entry cost
    * em_api_performance ~79% weatherImpacts + ~27% disasterAnalytics
    * (BASELINE.md "Round 14: em_api_performance"). Keyed by the fixture
    * multiplier (`ensureFixtures` runs first in every entry, so
    * [[writtenMult]] is current): fixtures are a pure function of mult,
    * so same mult ⇒ same bits even across the in-place rewrite. The
    * DuckDB oracle replays the full DAG from the same fixture parquet. */
  private val eventsMemo = graft.core.FrameMemo("em_events")
  private val impactsMemo = graft.core.FrameMemo("em_impacts")
  private val analyticsMemo = graft.core.FrameMemo("em_analytics")
  private def events(s: SparkSession): DataFrame =
    eventsMemo.get(s, s"mult=$writtenMult") {
      Marts.emergencyEvents(s, stgFema(s), stgNoaa(s), RunTs)
    }
  private def impacts(s: SparkSession): DataFrame =
    impactsMemo.get(s, s"mult=$writtenMult") {
      Marts.weatherImpacts(stgCoag(s), stgNoaa(s), AsOf, RunTs)
    }
  private def analytics(s: SparkSession): DataFrame =
    analyticsMemo.get(s, s"mult=$writtenMult") {
      Marts.disasterAnalytics(events(s), stgUsda(s), AsOf, RunTs)
    }

  private def fmtD(c: Column): Column = date_format(c, "yyyy-MM-dd")
  private def fmtT(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  // ---- em_snapshots: the three remaining reference snapshot configs ------

  /** Batch-2 run time and hard-delete time for the snapshot replay (day
    * after / two days after the fixture run ts, UTC-exact like RunTs). */
  private val Run2Ts = new Timestamp((AsOfDay + 1) * 86400000L + 12L * 3600000L)
  private val Del3Ts = new Timestamp((AsOfDay + 2) * 86400000L)
  private val Run2TsSql = "TIMESTAMP '2024-09-25 12:00:00'"
  private val Del3TsSql = "TIMESTAMP '2024-09-26 00:00:00'"

  /** Uniform summary projection over an SCD2 history: snapshot identity +
    * key + one payload column (shows WHICH version survived each merge
    * path) + validity + the reference's compliance metadata literals. */
  private def snapSummary(
      name: String, purpose: String, hist: DataFrame,
      key: Column, payload: Column): DataFrame =
    hist.select(
      lit(name).as("snapshot_name"),
      key.as("record_key"),
      payload.as("payload_attr"),
      fmtT(col("valid_from")).as("valid_from"),
      fmtT(col("valid_to")).as("valid_to"),
      col("is_current"),
      lit("FedRAMP,DORA,FISMA,NIST").as("applicable_frameworks"),
      lit(purpose).as("snapshot_purpose"))

  /** Build batch 1 / batch 2 from a 1-row-per-key frame using the per-key
    * integer `k`: b1 = k%3∈{0,1}, b2 = k%3∈{1,2} with even-k rows bumped
    * to Run2Ts and their payload suffixed '+r2'. The merge then hits all
    * four SCD2 paths: k%3=0 hard-deletes, k%3=1∧odd stays open, k%3=1∧even
    * closes+reopens, k%3=2 appends new. */
  private def snapshotMerge(
      src: DataFrame, k: Column, keys: Seq[String],
      tsCol: String, payloadCol: String): DataFrame = {
    import graft.operators.Scd2
    val b1 = src.filter(k % 3 <= 1)
    val b2 = src.filter(k % 3 >= 1)
      .withColumn(tsCol, when(k % 2 === 0, lit(Run2Ts)).otherwise(col(tsCol)))
      .withColumn(payloadCol,
        when(k % 2 === 0, concat(col(payloadCol), lit("+r2"))).otherwise(col(payloadCol)))
    Scd2.merge(Scd2.init(b1, tsCol), b2, keys, tsCol,
      invalidateHardDeletes = true, deleteTs = Some(Del3Ts))
  }

  private def snapshotHistories(s: SparkSession): DataFrame = {
    // weather_alerts_snapshot: unique_key=alert_id, updated_at=processed_at
    val kW = regexp_extract(col("alert_id"), "([0-9]+)$", 1).cast("int")
    val weather = snapshotMerge(
      stgNoaa(s).select("alert_id", "severity_level", "processed_at"),
      kW, Seq("alert_id"), "processed_at", "severity_level")

    // agricultural_risk_snapshot: 4-column composite unique_key. The
    // staging frame can carry several policies per composite key, so
    // collapse to one row per key first (deterministic max) — the
    // timestamp strategy has no way to pick among same-ts duplicates.
    val agKeys = Seq("program_year", "state_code", "county_code", "commodity_name")
    val agSrc = stgUsda(s)
      .groupBy(agKeys.map(col): _*)
      .agg(max("loss_category").as("loss_category"))
      .withColumn("processed_at", lit(RunTs))
    val kA = conv(substring(md5(concat_ws("|", agKeys.map(col): _*)), 1, 2), 16, 10).cast("int")
    val ag = snapshotMerge(agSrc, kA, agKeys, "processed_at", "loss_category")

    // emergency_events_summary_snapshot: unique_key=event_id,
    // updated_at=last_updated, over the emergency_events MART (the only
    // snapshot taken downstream of a model, not a staging feed)
    val kE = regexp_extract(col("event_id"), "([0-9]+)$", 1).cast("int")
    val ev = snapshotMerge(
      events(s).select("event_id", "risk_level", "last_updated"),
      kE, Seq("event_id"), "last_updated", "risk_level")

    snapSummary("weather_alerts_snapshot", "WEATHER_ALERT_TRACKING",
        weather, col("alert_id"), col("severity_level"))
      .unionByName(snapSummary("agricultural_risk_snapshot", "AGRICULTURAL_RISK_TRACKING",
        ag, concat_ws("|", agKeys.map(col): _*), col("loss_category")))
      .unionByName(snapSummary("emergency_events_summary_snapshot", "EMERGENCY_EVENTS_TRACKING",
        ev, col("event_id"), col("risk_level")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "em_events" -> ((s, d) => {
      ensureFixtures(s, d)
      events(s).select(
        col("event_id"), col("event_type"), col("event_subtype"), col("event_name"),
        col("state_code"), col("state_name"), col("state_fips_code"),
        fmtD(col("event_date")).as("event_date"),
        fmtT(col("event_start_date")).as("event_start_date"),
        fmtT(col("event_end_date")).as("event_end_date"),
        col("affected_area"), col("fiscal_year_declared"), col("risk_level"),
        col("event_duration_days"), col("event_category"), col("event_season"),
        col("federal_fiscal_year"), col("is_long_duration_event"),
        col("is_high_impact_event"), col("funding_eligibility"),
        col("data_classification"),
        fmtD(col("retention_date")).as("retention_date"),
        fmtT(col("processed_at")).as("processed_at"),
        fmtT(col("last_updated")).as("last_updated"))
    }),

    "em_weather_impacts" -> ((s, d) => {
      ensureFixtures(s, d)
      impacts(s).select(
        col("impact_id"), col("station_id"), col("station_name"),
        fmtD(col("impact_date")).as("impact_date"),
        col("latitude"), col("longitude"), col("state_code"),
        col("avg_temperature"), col("min_temperature"), col("max_temperature"),
        col("avg_humidity"), col("avg_wind_speed"), col("max_wind_speed"),
        col("total_precipitation"), col("max_hourly_precipitation"),
        col("risk_hours"), col("had_freeze_warning"), col("had_heat_warning"),
        col("had_wind_warning"), col("had_heavy_rain"),
        col("temperature_impact_score"), col("precipitation_impact_score"),
        col("wind_impact_score"), col("total_impact_score"), col("impact_category"),
        col("has_concurrent_alert"), col("concurrent_alert_type"),
        col("concurrent_alert_risk"), col("data_classification"),
        fmtT(col("analysis_timestamp")).as("analysis_timestamp"),
        fmtT(col("last_processed_at")).as("last_processed_at"))
    }),

    "em_analytics" -> ((s, d) => {
      ensureFixtures(s, d)
      analytics(s).select(
        col("analytics_id"), col("state_code"), col("state_name"),
        col("disaster_year"), col("event_category"), col("event_count"),
        col("high_risk_events"), col("long_duration_events"),
        col("avg_event_duration"), col("max_event_duration"),
        col("winter_events"), col("spring_events"), col("summer_events"),
        col("fall_events"), col("total_indemnity"), col("total_liability"),
        col("avg_loss_ratio"), col("high_loss_policies"),
        fmtD(col("analysis_date")).as("analysis_date"),
        col("high_risk_event_percentage"), col("long_duration_percentage"),
        col("prev_year_event_count"), col("annual_disaster_risk_rating"),
        col("yoy_event_count_change_percent"), col("disaster_trend_direction"),
        fmtT(col("analytics_generated_at")).as("analytics_generated_at"))
    }),

    "em_api_performance" -> ((s, d) => {
      ensureFixtures(s, d)
      PublicLayer.apiPerformance(
        events(s), impacts(s), analytics(s), AsOf, RunTs
      ).select(
        col("dataset_name"), col("total_events"), col("recent_events"),
        col("high_risk_events"), col("states_with_events"), col("event_categories"),
        col("avg_metric_value"),
        fmtT(col("last_dataset_update")).as("last_dataset_update"),
        col("recent_activity_percent"), col("high_risk_percent"),
        col("geographic_coverage"), col("dataset_freshness"),
        col("compliance_status"),
        fmtT(col("performance_check_timestamp")).as("performance_check_timestamp"))
    }),

    "em_public_disasters" -> ((s, d) => {
      ensureFixtures(s, d)
      PublicLayer.publicDisasters(events(s), AsOf, RunTs).select(
        col("disaster_id"), col("public_disaster_code"), col("disaster_type"),
        col("disaster_category"), col("disaster_title"), col("state_code"),
        col("state_name"),
        fmtD(col("declaration_date")).as("declaration_date"),
        fmtT(col("incident_begin_date")).as("incident_begin_date"),
        fmtT(col("incident_end_date")).as("incident_end_date"),
        col("duration_days"), col("season"), col("federal_fiscal_year"),
        col("risk_level"), col("impact_level"), col("status"),
        col("federal_assistance_available"), col("is_active"),
        col("data_classification"), col("data_source"),
        fmtT(col("last_updated")).as("last_updated"),
        col("api_hour_bucket"))
    }),

    "em_public_ag" -> ((s, d) => {
      ensureFixtures(s, d)
      PublicLayer.publicAgriculturalData(stgUsda(s), AsOf)
    }),

    "em_ag_risk" -> ((s, d) => {
      // the agricultural_risk_scores ML asset (ml_assets.py:340-410):
      // daily CoAgMet rollup -> drought quantile indicator -> clipped
      // z-score composite -> right-closed pd.cut categories -> seasonal
      // month multiplier. One 1-row stats broadcast; map-side after.
      ensureFixtures(s, d)
      val r = MlFeatures.agriculturalRiskScores(stgCoag(s))
      r.select(fmtD(col("event_date")).as("event_date") +:
        r.columns.filterNot(_ == "event_date").map(col): _*)
    }),

    "em_prediction_features" -> ((s, d) => {
      // the disaster_prediction_features ML asset (ml_assets.py:47-165):
      // temporal/season flags, per-source trailing windows, monthly
      // frequency + daily weather + agricultural merges, training labels
      ensureFixtures(s, d)
      val f = MlFeatures.disasterPredictionFeatures(
        events(s), MlFeatures.agDailyFeatures(stgCoag(s)))
      f.select(fmtD(col("event_date")).as("event_date") +:
        f.columns.filterNot(_ == "event_date").map(col): _*)
    }),

    "em_public_alerts" -> ((s, d) => {
      ensureFixtures(s, d)
      PublicLayer.publicWeatherAlerts(stgNoaa(s), AsOf, RunTs).select(
        col("alert_api_id"), col("weather_event"), col("severity_level"),
        col("urgency_level"), col("alert_headline"), col("alert_description"),
        col("public_instruction"), col("state_code"),
        fmtT(col("effective_datetime")).as("effective_datetime"),
        fmtT(col("expires_datetime")).as("expires_datetime"),
        col("risk_level"), col("severity_rank"), col("alert_status"),
        fmtT(col("last_updated")).as("last_updated"))
    }),

    "em_ag_summary" -> ((s, d) => {
      ensureFixtures(s, d)
      // state rollup over the published (privacy-thresholded, banded)
      // county frame: the banded money totals are multiples of 1000, so
      // their double sums are exact integers — order-independent
      PublicLayer.publicAgriculturalSummary(
        PublicLayer.publicAgriculturalData(stgUsda(s), AsOf))
    }),

    "em_quality_metrics" -> ((s, d) => {
      ensureFixtures(s, d)
      PublicLayer.dataQualityMetrics(
        Seq(
          ("fema", stgFema(s), "disaster_number", "declaration_date"),
          ("noaa", stgNoaa(s), "alert_id", "effective_date"),
          ("coagmet", stgCoag(s), "station_id", "observation_date")),
        RunTs)
        .withColumn("last_processed_at", fmtD(col("last_processed_at")))
    }),

    "em_snapshots" -> ((s, d) => {
      // The reference's remaining three snapshot configs as one replayed
      // board entry (snapshots/weather_alerts_snapshot.sql,
      // agricultural_risk_snapshot.sql — 4-column composite unique_key —
      // and emergency_events_summary_snapshot.sql; all strategy=
      // timestamp + invalidate_hard_deletes): for each, batch 1 seeds the
      // history, batch 2 exercises EVERY merge path — still-open (same
      // updated_at), close+reopen (newer updated_at, payload suffixed
      // '+r2' so the surviving version is visible), hard delete (key
      // vanished, closed at the delete ts), brand-new key — and the
      // DuckDB oracle replays the same full-outer merge over the same
      // fixture parquet. Subset membership and the batch-2 bump are
      // driven by a deterministic per-key integer (digit suffix / md5
      // byte), identical in both engines.
      ensureFixtures(s, d)
      snapshotHistories(s)
    }),

    "em_usage_metrics" -> ((s, d) => {
      // usage_metrics serving view over an audit-log-shaped frame derived
      // from the events table (org/endpoint synthesized deterministically)
      val ev = graft.core.Tables(s, d).events
      PublicLayer.usageMetrics(
        ev.select(
          col("ts"),
          concat(lit("org"), col("user_id") % 5).as("org"),
          concat(lit("/api/"), col("event_type")).as("endpoint")))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
    })
  )

  // -------------------------------------------------------------------------
  // DuckDB oracle: the same DAG as SQL over the same fixture parquet.
  // -------------------------------------------------------------------------

  private def rp(name: String): String =
    s"read_parquet('$FixtureDir/$name.parquet/*.parquet')"

  /** The state seed inlined as VALUES (56 rows — the same in-code data the
    * Spark side broadcasts). */
  private lazy val sqlSeed: String =
    "state_codes(state_code, state_name, fips_code) AS (VALUES " +
      SeedData.stateCodes.map { case (c, n, f) => s"('$c', '$n', '$f')" }.mkString(", ") + ")"

  private lazy val sqlStgFema: String =
    s"""stg_fema AS (
       |  SELECT disaster_number, state,
       |    CAST(declaration_date AS DATE) AS declaration_date,
       |    CAST(incident_begin_date AS DATE) AS incident_begin_date,
       |    CAST(incident_end_date AS DATE) AS incident_end_date,
       |    upper(trim(incident_type)) AS incident_type,
       |    trim(title) AS disaster_title,
       |    trim(designated_area) AS designated_area,
       |    CAST(fy_declared AS INTEGER) AS fiscal_year_declared,
       |    'PUBLIC' AS data_classification,
       |    $AsOfSql + 2555 AS retention_date,
       |    $RunTsSql AS processed_at
       |  FROM ${rp("fema")}
       |  WHERE disaster_number IS NOT NULL AND state IS NOT NULL AND declaration_date IS NOT NULL)""".stripMargin

  private lazy val sqlStgNoaa: String =
    s"""stg_noaa AS (
       |  SELECT alert_id,
       |    upper(trim(event)) AS weather_event,
       |    upper(trim(severity)) AS severity_level,
       |    upper(trim(urgency)) AS urgency_level,
       |    trim(headline) AS alert_headline,
       |    trim(description) AS alert_description,
       |    trim(instruction) AS public_instruction,
       |    trim(area_desc) AS affected_area_description,
       |    regexp_extract(area_desc, '\\b([A-Z]{2})\\b', 1) AS state_code,
       |    CAST(effective AS TIMESTAMP) AS effective_datetime,
       |    CAST(expires AS TIMESTAMP) AS expires_datetime,
       |    CAST(CAST(effective AS TIMESTAMP) AS DATE) AS effective_date,
       |    CAST(CAST(expires AS TIMESTAMP) AS DATE) AS expires_date,
       |    CAST(date_diff('second', CAST(effective AS TIMESTAMP), CAST(expires AS TIMESTAMP)) / 3600.0 AS INTEGER) AS alert_duration_hours,
       |    CASE WHEN severity = 'Extreme' AND urgency = 'Immediate' THEN 'CRITICAL'
       |         WHEN severity = 'Severe' AND urgency IN ('Immediate', 'Expected') THEN 'HIGH'
       |         WHEN severity = 'Moderate' THEN 'MEDIUM'
       |         ELSE 'LOW' END AS risk_level,
       |    'PUBLIC' AS data_classification,
       |    $AsOfSql + 1095 AS retention_date,
       |    $RunTsSql AS processed_at
       |  FROM ${rp("noaa")}
       |  WHERE alert_id IS NOT NULL AND effective IS NOT NULL)""".stripMargin

  /** emergency_events: FEMA ∪ high-risk alerts + seed enrichment. Column
    * order identical in both UNION branches (positional union parity). */
  private lazy val sqlEvents: String =
    s"""disasters AS (
       |  SELECT 'FEMA_' || disaster_number AS event_id,
       |    'DISASTER' AS event_type,
       |    incident_type AS event_subtype,
       |    disaster_title AS event_name,
       |    state AS state_code,
       |    declaration_date AS event_date,
       |    CAST(incident_begin_date AS TIMESTAMP) AS event_start_date,
       |    CAST(incident_end_date AS TIMESTAMP) AS event_end_date,
       |    designated_area AS affected_area,
       |    fiscal_year_declared,
       |    CASE WHEN incident_type IN ('HURRICANE', 'MAJOR DISASTER') THEN 'CRITICAL'
       |         WHEN incident_type IN ('SEVERE STORM', 'FLOOD', 'FIRE') THEN 'HIGH'
       |         WHEN incident_type IN ('WINTER STORM', 'TORNADO') THEN 'MEDIUM'
       |         ELSE 'LOW' END AS risk_level,
       |    CASE WHEN incident_end_date IS NOT NULL
       |         THEN CAST(date_diff('day', incident_begin_date, incident_end_date) AS DOUBLE)
       |    END AS event_duration_days,
       |    data_classification, retention_date, processed_at
       |  FROM stg_fema),
       |weather AS (
       |  SELECT alert_id AS event_id,
       |    'WEATHER_ALERT' AS event_type,
       |    weather_event AS event_subtype,
       |    alert_headline AS event_name,
       |    state_code,
       |    effective_date AS event_date,
       |    effective_datetime AS event_start_date,
       |    expires_datetime AS event_end_date,
       |    affected_area_description AS affected_area,
       |    CAST(year(effective_date) AS INTEGER) AS fiscal_year_declared,
       |    risk_level,
       |    alert_duration_hours / 24.0 AS event_duration_days,
       |    data_classification, retention_date, processed_at
       |  FROM stg_noaa WHERE risk_level IN ('HIGH', 'CRITICAL')),
       |unified AS (SELECT * FROM disasters UNION ALL SELECT * FROM weather),
       |ev AS (
       |  SELECT u.*, s.state_name, s.fips_code AS state_fips_code,
       |    CASE WHEN event_subtype IN ('HURRICANE', 'TYPHOON', 'CYCLONE') THEN 'TROPICAL_STORM'
       |         WHEN event_subtype IN ('FLOOD', 'FLASH FLOOD', 'DAM BREAK') THEN 'FLOODING'
       |         WHEN event_subtype IN ('FIRE', 'WILDFIRE', 'URBAN FIRE') THEN 'FIRE'
       |         WHEN event_subtype IN ('TORNADO', 'SEVERE STORM', 'WIND') THEN 'SEVERE_WEATHER'
       |         WHEN event_subtype IN ('WINTER STORM', 'ICE STORM', 'BLIZZARD') THEN 'WINTER_WEATHER'
       |         WHEN event_subtype IN ('EARTHQUAKE', 'VOLCANO', 'LANDSLIDE') THEN 'GEOLOGICAL'
       |         WHEN event_subtype IN ('DROUGHT', 'HEAT WAVE') THEN 'CLIMATOLOGICAL'
       |         ELSE 'OTHER' END AS event_category,
       |    CASE WHEN month(event_date) IN (12, 1, 2) THEN 'WINTER'
       |         WHEN month(event_date) IN (3, 4, 5) THEN 'SPRING'
       |         WHEN month(event_date) IN (6, 7, 8) THEN 'SUMMER'
       |         ELSE 'FALL' END AS event_season,
       |    CAST(CASE WHEN month(event_date) >= 10 THEN year(event_date) + 1
       |              ELSE year(event_date) END AS INTEGER) AS federal_fiscal_year,
       |    coalesce(event_duration_days > 30, FALSE) AS is_long_duration_event,
       |    risk_level IN ('CRITICAL', 'HIGH') AS is_high_impact_event,
       |    'FEMA_ELIGIBLE' AS funding_eligibility,
       |    $RunTsSql AS last_updated
       |  FROM unified u LEFT JOIN state_codes s ON u.state_code = s.state_code)""".stripMargin

  private lazy val sqlStgUsda: String =
    s"""stg_usda AS (
       |  SELECT CAST(program_year AS INTEGER) AS program_year,
       |    upper(trim(state_code)) AS state_code,
       |    lpad(trim(county_code), 3, '0') AS county_code,
       |    upper(trim(commodity)) AS commodity_name,
       |    CASE WHEN coverage_level BETWEEN 0 AND 100 THEN round(coverage_level, 2) END AS coverage_level_percent,
       |    CASE WHEN premium_amount >= 0 THEN round(premium_amount, 2) END AS premium_amount_usd,
       |    CASE WHEN liability_amount >= 0 THEN round(liability_amount, 2) END AS liability_amount_usd,
       |    CASE WHEN indemnity_amount >= 0 THEN round(indemnity_amount, 2) END AS indemnity_amount_usd,
       |    CASE WHEN premium_amount > 0 AND indemnity_amount >= 0
       |         THEN round(indemnity_amount / premium_amount, 4) END AS loss_ratio,
       |    CASE WHEN indemnity_amount > liability_amount * 0.5 THEN 'HIGH_LOSS'
       |         WHEN indemnity_amount > liability_amount * 0.25 THEN 'MODERATE_LOSS'
       |         WHEN indemnity_amount > 0 THEN 'LOW_LOSS'
       |         ELSE 'NO_LOSS' END AS loss_category,
       |    'PUBLIC' AS data_classification
       |  FROM ${rp("usda")}
       |  WHERE program_year IS NOT NULL AND state_code IS NOT NULL
       |    AND county_code IS NOT NULL AND commodity IS NOT NULL)""".stripMargin

  private lazy val sqlStgCoag: String =
    s"""stg_coag AS (
       |  SELECT station_id, trim(station_name) AS station_name,
       |    round(latitude, 6) AS latitude, round(longitude, 6) AS longitude,
       |    CAST(CAST("timestamp" AS TIMESTAMP) AS DATE) AS observation_date,
       |    CASE WHEN temperature BETWEEN -50 AND 60 THEN round(temperature, 2) END AS temperature_celsius,
       |    CASE WHEN humidity BETWEEN 0 AND 100 THEN round(humidity, 2) END AS relative_humidity_percent,
       |    CASE WHEN wind_speed BETWEEN 0 AND 200 THEN round(wind_speed, 2) END AS wind_speed_kmh,
       |    CASE WHEN precipitation BETWEEN 0 AND 500 THEN round(precipitation, 2) END AS precipitation_mm,
       |    CASE WHEN temperature < -5 THEN 'FREEZE_WARNING'
       |         WHEN temperature > 35 THEN 'HEAT_WARNING'
       |         WHEN wind_speed > 50 THEN 'WIND_WARNING'
       |         WHEN precipitation > 25 THEN 'HEAVY_RAIN'
       |         ELSE 'NORMAL' END AS agricultural_risk_indicator,
       |    $RunTsSql AS processed_at
       |  FROM ${rp("coagmet")}
       |  WHERE station_id IS NOT NULL AND "timestamp" IS NOT NULL)""".stripMargin

  /** weather_impacts DAG as a reusable CTE chain ending in `impacts` with
    * RAW types (DATE/TIMESTAMP) — em_weather_impacts string-formats it for
    * the compare; em_api_performance aggregates it directly. */
  private lazy val sqlImpacts: String =
    s"""daily AS (
       |  SELECT station_id, observation_date,
       |    CAST(sum(CAST(temperature_celsius AS DECIMAL(18,2))) AS DOUBLE) / count(temperature_celsius) AS avg_temperature,
       |    min(temperature_celsius) AS min_temperature,
       |    max(temperature_celsius) AS max_temperature,
       |    CAST(sum(CAST(relative_humidity_percent AS DECIMAL(18,2))) AS DOUBLE) / count(relative_humidity_percent) AS avg_humidity,
       |    CAST(sum(CAST(wind_speed_kmh AS DECIMAL(18,2))) AS DOUBLE) / count(wind_speed_kmh) AS avg_wind_speed,
       |    max(wind_speed_kmh) AS max_wind_speed,
       |    CAST(sum(CAST(precipitation_mm AS DECIMAL(18,2))) AS DOUBLE) AS total_precipitation,
       |    max(precipitation_mm) AS max_hourly_precipitation,
       |    count(CASE WHEN agricultural_risk_indicator <> 'NORMAL' THEN 1 END) AS risk_hours,
       |    max(CASE WHEN agricultural_risk_indicator = 'FREEZE_WARNING' THEN 1 ELSE 0 END) AS had_freeze_warning,
       |    max(CASE WHEN agricultural_risk_indicator = 'HEAT_WARNING' THEN 1 ELSE 0 END) AS had_heat_warning,
       |    max(CASE WHEN agricultural_risk_indicator = 'WIND_WARNING' THEN 1 ELSE 0 END) AS had_wind_warning,
       |    max(CASE WHEN agricultural_risk_indicator = 'HEAVY_RAIN' THEN 1 ELSE 0 END) AS had_heavy_rain,
       |    min(station_name) AS station_name,
       |    min(latitude) AS latitude, min(longitude) AS longitude,
       |    max(processed_at) AS last_processed_at
       |  FROM stg_coag WHERE observation_date >= $AsOfSql - 90
       |  GROUP BY 1, 2),
       |alerts AS (
       |  SELECT alert_id, weather_event, risk_level AS alert_risk_level,
       |    effective_date, coalesce(expires_date, effective_date) AS end_date
       |  FROM stg_noaa
       |  WHERE effective_date >= $AsOfSql - 90 AND state_code = 'CO'),
       |alert_days AS (
       |  SELECT alert_id, weather_event, alert_risk_level,
       |    CAST(unnest(generate_series(CAST(effective_date AS TIMESTAMP), CAST(end_date AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS alert_day
       |  FROM alerts),
       |joined AS (
       |  SELECT d.*, a.alert_id, a.weather_event, a.alert_risk_level
       |  FROM daily d LEFT JOIN alert_days a
       |    ON d.observation_date = a.alert_day
       |   AND d.latitude BETWEEN 37.0 AND 41.0 AND d.longitude BETWEEN -109.0 AND -102.0),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY station_id, observation_date ORDER BY
       |      CASE WHEN alert_risk_level = 'CRITICAL' THEN 1
       |           WHEN alert_risk_level = 'HIGH' THEN 2
       |           WHEN alert_risk_level = 'MEDIUM' THEN 3
       |           ELSE 4 END,
       |      coalesce(weather_event, '~'),
       |      coalesce(alert_risk_level, '~'), alert_id) AS rn
       |  FROM joined),
       |base AS (
       |  SELECT *,
       |    CASE WHEN min_temperature < -10 OR max_temperature > 40 THEN 3
       |         WHEN min_temperature < -5 OR max_temperature > 35 THEN 2
       |         WHEN min_temperature < 0 OR max_temperature > 30 THEN 1
       |         ELSE 0 END AS temperature_impact_score,
       |    CASE WHEN total_precipitation > 50 THEN 3
       |         WHEN total_precipitation > 25 THEN 2
       |         WHEN total_precipitation > 10 THEN 1
       |         ELSE 0 END AS precipitation_impact_score,
       |    CASE WHEN max_wind_speed > 80 THEN 3
       |         WHEN max_wind_speed > 50 THEN 2
       |         WHEN max_wind_speed > 30 THEN 1
       |         ELSE 0 END AS wind_impact_score
       |  FROM ranked WHERE rn = 1),
       |impacts AS (
       |  SELECT
       |    md5(concat_ws('|', station_id, observation_date)) AS impact_id,
       |    station_id, station_name,
       |    observation_date AS impact_date,
       |    latitude, longitude,
       |    CASE WHEN latitude BETWEEN 37.0 AND 41.0 AND longitude BETWEEN -109.0 AND -102.0
       |         THEN 'CO' ELSE 'UNKNOWN' END AS state_code,
       |    avg_temperature, min_temperature, max_temperature, avg_humidity,
       |    avg_wind_speed, max_wind_speed, total_precipitation, max_hourly_precipitation,
       |    risk_hours, had_freeze_warning, had_heat_warning, had_wind_warning, had_heavy_rain,
       |    temperature_impact_score, precipitation_impact_score, wind_impact_score,
       |    temperature_impact_score + precipitation_impact_score + wind_impact_score AS total_impact_score,
       |    CASE WHEN temperature_impact_score + precipitation_impact_score + wind_impact_score >= 6 THEN 'SEVERE'
       |         WHEN temperature_impact_score + precipitation_impact_score + wind_impact_score >= 4 THEN 'MODERATE'
       |         WHEN temperature_impact_score + precipitation_impact_score + wind_impact_score >= 2 THEN 'MINOR'
       |         ELSE 'MINIMAL' END AS impact_category,
       |    alert_id IS NOT NULL AS has_concurrent_alert,
       |    weather_event AS concurrent_alert_type,
       |    alert_risk_level AS concurrent_alert_risk,
       |    'PUBLIC' AS data_classification,
       |    $RunTsSql AS analysis_timestamp,
       |    last_processed_at
       |  FROM base)""".stripMargin

  /** disaster_analytics DAG as a reusable CTE chain ending in `analytics`
    * with RAW types — same split as [[sqlImpacts]]. */
  private lazy val sqlAnalytics: String =
    s"""history AS (SELECT * FROM ev WHERE event_date >= $AsOfSql - 3650),
       |trends AS (
       |  SELECT state_code, state_name, CAST(year(event_date) AS INTEGER) AS disaster_year,
       |    event_category,
       |    count(*) AS event_count,
       |    count(CASE WHEN risk_level IN ('HIGH', 'CRITICAL') THEN 1 END) AS high_risk_events,
       |    count(CASE WHEN is_long_duration_event THEN 1 END) AS long_duration_events,
       |    CAST(sum(CAST(event_duration_days AS DECIMAL(18,6))) AS DOUBLE) / count(event_duration_days) AS avg_event_duration,
       |    max(event_duration_days) AS max_event_duration,
       |    count(CASE WHEN event_season = 'WINTER' THEN 1 END) AS winter_events,
       |    count(CASE WHEN event_season = 'SPRING' THEN 1 END) AS spring_events,
       |    count(CASE WHEN event_season = 'SUMMER' THEN 1 END) AS summer_events,
       |    count(CASE WHEN event_season = 'FALL' THEN 1 END) AS fall_events
       |  FROM history GROUP BY 1, 2, 3, 4),
       |ag AS (
       |  SELECT state_code, program_year,
       |    CAST(sum(CAST(indemnity_amount_usd AS DECIMAL(18,2))) AS DOUBLE) AS total_indemnity,
       |    CAST(sum(CAST(liability_amount_usd AS DECIMAL(18,2))) AS DOUBLE) AS total_liability,
       |    CAST(sum(CAST(loss_ratio AS DECIMAL(18,4))) AS DOUBLE) / count(loss_ratio) AS avg_loss_ratio,
       |    count(CASE WHEN loss_category = 'HIGH_LOSS' THEN 1 END) AS high_loss_policies
       |  FROM stg_usda WHERE program_year >= 2014 GROUP BY 1, 2),
       |an_joined AS (
       |  SELECT t.*, a.total_indemnity, a.total_liability, a.avg_loss_ratio, a.high_loss_policies
       |  FROM trends t LEFT JOIN ag a
       |    ON t.state_code = a.state_code AND t.disaster_year = a.program_year),
       |win AS (
       |  SELECT *, lag(event_count, 1) OVER (
       |      PARTITION BY state_code, event_category ORDER BY disaster_year) AS prev_year_event_count
       |  FROM an_joined),
       |analytics AS (
       |  SELECT
       |    md5(concat_ws('|', state_code, disaster_year, event_category)) AS analytics_id,
       |    state_code, state_name, disaster_year, event_category, event_count,
       |    high_risk_events, long_duration_events, avg_event_duration, max_event_duration,
       |    winter_events, spring_events, summer_events, fall_events,
       |    total_indemnity, total_liability, avg_loss_ratio, high_loss_policies,
       |    $AsOfSql AS analysis_date,
       |    round(CAST(high_risk_events AS DOUBLE) / CAST(event_count AS DOUBLE) * 100, 2) AS high_risk_event_percentage,
       |    round(CAST(long_duration_events AS DOUBLE) / CAST(event_count AS DOUBLE) * 100, 2) AS long_duration_percentage,
       |    prev_year_event_count,
       |    CASE WHEN event_count > 10 AND high_risk_events > 5 THEN 'VERY_HIGH'
       |         WHEN event_count > 5 AND high_risk_events > 2 THEN 'HIGH'
       |         WHEN event_count > 2 THEN 'MODERATE'
       |         ELSE 'LOW' END AS annual_disaster_risk_rating,
       |    CASE WHEN prev_year_event_count IS NOT NULL AND prev_year_event_count > 0
       |         THEN round(CAST(event_count - prev_year_event_count AS DOUBLE) / CAST(prev_year_event_count AS DOUBLE) * 100, 2)
       |    END AS yoy_event_count_change_percent,
       |    CASE WHEN prev_year_event_count IS NULL THEN 'INSUFFICIENT_DATA'
       |         WHEN event_count > prev_year_event_count * 1.2 THEN 'INCREASING'
       |         WHEN event_count < prev_year_event_count * 0.8 THEN 'DECREASING'
       |         ELSE 'STABLE' END AS disaster_trend_direction,
       |    $RunTsSql AS analytics_generated_at
       |  FROM win)""".stripMargin

  /** Generic SCD2 timestamp-strategy merge replay over a `${p}_src` CTE
    * of (record_key, payload, uts, k): builds b1/b2 with the same k-driven
    * membership + bump as [[snapshotMerge]], then reconciles them with the
    * same full-outer case analysis as `Scd2.merge` (1 row/key batches,
    * init = b1 all-open): still-open, close+reopen, hard-delete at
    * [[Del3TsSql]], new-key. Ends in `${p}_hist(record_key, payload, vf,
    * vt, cur)`. */
  private def snapMergeSql(p: String): String =
    s"""${p}_b1 AS (SELECT record_key, payload, uts FROM ${p}_src WHERE k % 3 <= 1),
       |${p}_b2 AS (
       |  SELECT record_key,
       |    CASE WHEN k % 2 = 0 THEN payload || '+r2' ELSE payload END AS payload,
       |    CASE WHEN k % 2 = 0 THEN $Run2TsSql ELSE uts END AS uts
       |  FROM ${p}_src WHERE k % 3 >= 1),
       |${p}_j AS (
       |  SELECT o.record_key AS o_key, o.payload AS o_p, o.uts AS o_t,
       |         n.record_key AS n_key, n.payload AS n_p, n.uts AS n_t
       |  FROM ${p}_b1 o FULL OUTER JOIN ${p}_b2 n ON o.record_key = n.record_key),
       |${p}_hist AS (
       |  SELECT o_key AS record_key, o_p AS payload, o_t AS vf,
       |         CAST(NULL AS TIMESTAMP) AS vt, TRUE AS cur
       |  FROM ${p}_j WHERE o_t IS NOT NULL AND n_t IS NOT NULL AND n_t <= o_t
       |  UNION ALL
       |  SELECT o_key, o_p, o_t, n_t, FALSE
       |  FROM ${p}_j WHERE o_t IS NOT NULL AND n_t IS NOT NULL AND n_t > o_t
       |  UNION ALL
       |  SELECT o_key, o_p, o_t, $Del3TsSql, FALSE
       |  FROM ${p}_j WHERE o_t IS NOT NULL AND n_t IS NULL
       |  UNION ALL
       |  SELECT n_key, n_p, n_t, CAST(NULL AS TIMESTAMP), TRUE
       |  FROM ${p}_j WHERE n_t IS NOT NULL AND (o_t IS NULL OR n_t > o_t))""".stripMargin

  private def snapSummarySql(p: String, name: String, purpose: String): String =
    s"""SELECT '$name' AS snapshot_name, record_key, payload AS payload_attr,
       |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
       |  strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
       |  cur AS is_current,
       |  'FedRAMP,DORA,FISMA,NIST' AS applicable_frameworks,
       |  '$purpose' AS snapshot_purpose
       |FROM ${p}_hist""".stripMargin

  def oracle: Map[String, String] = Map(
    "em_snapshots" ->
      s"""WITH $sqlSeed,
         |$sqlStgFema,
         |$sqlStgNoaa,
         |$sqlStgUsda,
         |$sqlEvents,
         |w_src AS (
         |  SELECT alert_id AS record_key, severity_level AS payload, processed_at AS uts,
         |    CAST(regexp_extract(alert_id, '([0-9]+)$$', 1) AS INTEGER) AS k
         |  FROM stg_noaa),
         |a_src AS (
         |  SELECT concat_ws('|', program_year, state_code, county_code, commodity_name) AS record_key,
         |    max(loss_category) AS payload, $RunTsSql AS uts,
         |    CAST(('0x' || substr(md5(concat_ws('|', program_year, state_code, county_code, commodity_name)), 1, 2)) AS INTEGER) AS k
         |  FROM stg_usda GROUP BY program_year, state_code, county_code, commodity_name),
         |e_src AS (
         |  SELECT event_id AS record_key, risk_level AS payload, last_updated AS uts,
         |    CAST(regexp_extract(event_id, '([0-9]+)$$', 1) AS INTEGER) AS k
         |  FROM ev),
         |${snapMergeSql("w")},
         |${snapMergeSql("a")},
         |${snapMergeSql("e")}
         |${snapSummarySql("w", "weather_alerts_snapshot", "WEATHER_ALERT_TRACKING")}
         |UNION ALL
         |${snapSummarySql("a", "agricultural_risk_snapshot", "AGRICULTURAL_RISK_TRACKING")}
         |UNION ALL
         |${snapSummarySql("e", "emergency_events_summary_snapshot", "EMERGENCY_EVENTS_TRACKING")}""".stripMargin,

    "em_events" ->
      s"""WITH $sqlSeed,
         |$sqlStgFema,
         |$sqlStgNoaa,
         |$sqlEvents
         |SELECT event_id, event_type, event_subtype, event_name, state_code, state_name,
         |  state_fips_code,
         |  strftime(event_date, '%Y-%m-%d') AS event_date,
         |  strftime(event_start_date, '%Y-%m-%d %H:%M:%S') AS event_start_date,
         |  strftime(event_end_date, '%Y-%m-%d %H:%M:%S') AS event_end_date,
         |  affected_area, fiscal_year_declared, risk_level, event_duration_days,
         |  event_category, event_season, federal_fiscal_year,
         |  is_long_duration_event, is_high_impact_event, funding_eligibility,
         |  data_classification,
         |  strftime(retention_date, '%Y-%m-%d') AS retention_date,
         |  strftime(processed_at, '%Y-%m-%d %H:%M:%S') AS processed_at,
         |  strftime(last_updated, '%Y-%m-%d %H:%M:%S') AS last_updated
         |FROM ev""".stripMargin,

    "em_weather_impacts" ->
      s"""WITH $sqlStgNoaa,
         |$sqlStgCoag,
         |$sqlImpacts
         |SELECT impact_id, station_id, station_name,
         |  strftime(impact_date, '%Y-%m-%d') AS impact_date,
         |  latitude, longitude, state_code,
         |  avg_temperature, min_temperature, max_temperature, avg_humidity,
         |  avg_wind_speed, max_wind_speed, total_precipitation, max_hourly_precipitation,
         |  risk_hours, had_freeze_warning, had_heat_warning, had_wind_warning, had_heavy_rain,
         |  temperature_impact_score, precipitation_impact_score, wind_impact_score,
         |  total_impact_score, impact_category,
         |  has_concurrent_alert, concurrent_alert_type, concurrent_alert_risk,
         |  data_classification,
         |  strftime(analysis_timestamp, '%Y-%m-%d %H:%M:%S') AS analysis_timestamp,
         |  strftime(last_processed_at, '%Y-%m-%d %H:%M:%S') AS last_processed_at
         |FROM impacts""".stripMargin,

    "em_analytics" ->
      s"""WITH $sqlSeed,
         |$sqlStgFema,
         |$sqlStgNoaa,
         |$sqlEvents,
         |$sqlStgUsda,
         |$sqlAnalytics
         |SELECT analytics_id, state_code, state_name, disaster_year, event_category,
         |  event_count, high_risk_events, long_duration_events, avg_event_duration,
         |  max_event_duration, winter_events, spring_events, summer_events, fall_events,
         |  total_indemnity, total_liability, avg_loss_ratio, high_loss_policies,
         |  strftime(analysis_date, '%Y-%m-%d') AS analysis_date,
         |  high_risk_event_percentage, long_duration_percentage, prev_year_event_count,
         |  annual_disaster_risk_rating, yoy_event_count_change_percent,
         |  disaster_trend_direction,
         |  strftime(analytics_generated_at, '%Y-%m-%d %H:%M:%S') AS analytics_generated_at
         |FROM analytics""".stripMargin,

    "em_api_performance" ->
      s"""WITH $sqlSeed,
         |$sqlStgFema,
         |$sqlStgNoaa,
         |$sqlEvents,
         |$sqlStgUsda,
         |$sqlStgCoag,
         |$sqlImpacts,
         |$sqlAnalytics,
         |ev_leg AS (
         |  SELECT 'EMERGENCY_EVENTS' AS dataset_name,
         |    count(*) AS total_events,
         |    count(CASE WHEN event_date >= $AsOfSql - 30 THEN 1 END) AS recent_events,
         |    count(CASE WHEN risk_level IN ('HIGH', 'CRITICAL') THEN 1 END) AS high_risk_events,
         |    count(DISTINCT state_code) AS states_with_events,
         |    count(DISTINCT event_category) AS event_categories,
         |    round(CAST(sum(CAST(event_duration_days AS DECIMAL(18,6))) AS DOUBLE) / count(event_duration_days), 2) AS avg_metric_value,
         |    max(last_updated) AS last_dataset_update
         |  FROM ev WHERE event_date >= $AsOfSql - 365),
         |wi_leg AS (
         |  SELECT 'WEATHER_IMPACTS' AS dataset_name,
         |    count(*) AS total_events,
         |    count(CASE WHEN impact_date >= $AsOfSql - 7 THEN 1 END) AS recent_events,
         |    count(CASE WHEN impact_category IN ('MODERATE', 'SEVERE') THEN 1 END) AS high_risk_events,
         |    count(DISTINCT state_code) AS states_with_events,
         |    count(DISTINCT impact_category) AS event_categories,
         |    round(CAST(sum(CAST(total_impact_score AS DECIMAL(18,6))) AS DOUBLE) / count(total_impact_score), 2) AS avg_metric_value,
         |    max(analysis_timestamp) AS last_dataset_update
         |  FROM impacts),
         |an_leg AS (
         |  SELECT 'DISASTER_ANALYTICS' AS dataset_name,
         |    count(*) AS total_events,
         |    count(CASE WHEN disaster_year = year($AsOfSql) THEN 1 END) AS recent_events,
         |    count(CASE WHEN annual_disaster_risk_rating IN ('HIGH', 'VERY_HIGH') THEN 1 END) AS high_risk_events,
         |    count(DISTINCT state_code) AS states_with_events,
         |    count(DISTINCT event_category) AS event_categories,
         |    round(CAST(sum(CAST(event_count AS DECIMAL(18,6))) AS DOUBLE) / count(event_count), 2) AS avg_metric_value,
         |    max(analytics_generated_at) AS last_dataset_update
         |  FROM analytics WHERE disaster_year >= year($AsOfSql) - 5),
         |combined AS (
         |  SELECT * FROM ev_leg
         |  UNION ALL SELECT * FROM wi_leg
         |  UNION ALL SELECT * FROM an_leg)
         |SELECT dataset_name, total_events, recent_events, high_risk_events,
         |  states_with_events, event_categories, avg_metric_value,
         |  strftime(last_dataset_update, '%Y-%m-%d %H:%M:%S') AS last_dataset_update,
         |  round(CAST(recent_events AS DOUBLE) / total_events * 100, 2) AS recent_activity_percent,
         |  round(CAST(high_risk_events AS DOUBLE) / total_events * 100, 2) AS high_risk_percent,
         |  CASE WHEN states_with_events >= 45 THEN 'NATIONAL_COVERAGE'
         |       WHEN states_with_events >= 30 THEN 'REGIONAL_COVERAGE'
         |       WHEN states_with_events >= 10 THEN 'MULTI_STATE_COVERAGE'
         |       ELSE 'LIMITED_COVERAGE' END AS geographic_coverage,
         |  CASE WHEN last_dataset_update >= $RunTsSql - INTERVAL 6 HOUR THEN 'CURRENT'
         |       WHEN last_dataset_update >= $RunTsSql - INTERVAL 24 HOUR THEN 'RECENT'
         |       WHEN last_dataset_update >= $RunTsSql - INTERVAL 48 HOUR THEN 'STALE'
         |       ELSE 'OUTDATED' END AS dataset_freshness,
         |  CASE WHEN dataset_name = 'EMERGENCY_EVENTS' AND total_events = 0 THEN 'DATA_MISSING'
         |       WHEN round(CAST(recent_events AS DOUBLE) / total_events * 100, 2) = 0
         |            AND dataset_name IN ('EMERGENCY_EVENTS', 'WEATHER_IMPACTS') THEN 'NO_RECENT_ACTIVITY'
         |       ELSE 'OPERATIONAL' END AS compliance_status,
         |  '$RunTsStr' AS performance_check_timestamp
         |FROM combined""".stripMargin,

    "em_public_disasters" ->
      s"""WITH $sqlSeed,
         |$sqlStgFema,
         |$sqlStgNoaa,
         |$sqlEvents,
         |active AS (
         |  SELECT * FROM ev
         |  WHERE event_type = 'DISASTER' AND data_classification = 'PUBLIC'
         |    AND event_date >= $AsOfSql - 365),
         |pd AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY state_code, event_date ORDER BY event_id) AS rn
         |  FROM active)
         |SELECT event_id AS disaster_id,
         |  concat_ws('_', state_code, strftime(event_date, '%Y%m%d'), CAST(rn AS VARCHAR)) AS public_disaster_code,
         |  event_subtype AS disaster_type,
         |  event_category AS disaster_category,
         |  event_name AS disaster_title,
         |  state_code, state_name,
         |  strftime(event_date, '%Y-%m-%d') AS declaration_date,
         |  strftime(event_start_date, '%Y-%m-%d %H:%M:%S') AS incident_begin_date,
         |  strftime(event_end_date, '%Y-%m-%d %H:%M:%S') AS incident_end_date,
         |  coalesce(event_duration_days, 0.0) AS duration_days,
         |  event_season AS season,
         |  federal_fiscal_year, risk_level,
         |  CASE WHEN is_high_impact_event THEN 'HIGH' ELSE 'STANDARD' END AS impact_level,
         |  CASE WHEN risk_level IN ('HIGH', 'CRITICAL') THEN 'ACTIVE_MONITORING_REQUIRED'
         |       WHEN event_end_date IS NULL OR event_end_date > TIMESTAMP '2024-09-24 00:00:00' THEN 'ONGOING'
         |       ELSE 'RESOLVED' END AS status,
         |  funding_eligibility AS federal_assistance_available,
         |  TRUE AS is_active,
         |  'PUBLIC' AS data_classification,
         |  'emergency_management_api' AS data_source,
         |  '$RunTsStr' AS last_updated,
         |  '$RunTsStr' AS api_hour_bucket
         |FROM pd""".stripMargin,

    "em_prediction_features" ->
      s"""WITH $sqlSeed,
         |$sqlStgFema,
         |$sqlStgNoaa,
         |$sqlEvents,
         |$sqlStgCoag,
         |sv AS (
         |  SELECT event_id, event_type AS event_source, event_date,
         |    CAST(CASE WHEN event_type = 'DISASTER' THEN
         |        CASE WHEN event_subtype IN ('HURRICANE','MAJOR DISASTER','EARTHQUAKE','VOLCANIC ERUPTION','TSUNAMI') THEN 4
         |             WHEN event_subtype IN ('TORNADO','FLOOD','FIRE') THEN 3
         |             WHEN event_subtype IN ('SEVERE STORM','WINTER STORM','DROUGHT') THEN 2
         |             ELSE 1 END
         |      ELSE CASE WHEN risk_level = 'CRITICAL' THEN 4 ELSE 3 END END AS INTEGER)
         |      AS severity_score
         |  FROM ev),
         |agd AS (
         |  SELECT observation_date AS event_date,
         |    CAST(sum(CAST(temperature_celsius AS DECIMAL(18,2))) AS DOUBLE)
         |      / count(temperature_celsius) AS avg_temperature,
         |    CAST(sum(CAST(relative_humidity_percent AS DECIMAL(18,2))) AS DOUBLE)
         |      / count(relative_humidity_percent) AS avg_humidity,
         |    CAST(sum(CAST(precipitation_mm AS DECIMAL(18,2))) AS DOUBLE) AS total_precipitation
         |  FROM stg_coag GROUP BY 1),
         |agq AS (SELECT quantile_cont(total_precipitation, 0.2) AS p_q20,
         |               quantile_cont(avg_temperature, 0.8) AS t_q80 FROM agd),
         |ag AS (
         |  SELECT d.*, CAST(d.total_precipitation < q.p_q20 AND d.avg_temperature > q.t_q80
         |    AS INTEGER) AS drought_indicator
         |  FROM agd d CROSS JOIN agq q),
         |monthly AS (
         |  SELECT event_source, date_trunc('month', event_date) AS mp, count(*) AS monthly_event_count
         |  FROM sv GROUP BY 1, 2),
         |wd AS (
         |  SELECT event_date, count(*) AS daily_weather_alerts,
         |    avg(severity_score) AS avg_weather_severity
         |  FROM sv WHERE event_source = 'WEATHER_ALERT' GROUP BY 1),
         |f AS (
         |  SELECT s.*,
         |    CAST(year(s.event_date) AS INTEGER) AS year,
         |    CAST(month(s.event_date) AS INTEGER) AS month,
         |    CAST(dayofyear(s.event_date) AS INTEGER) AS day_of_year,
         |    CAST(quarter(s.event_date) AS INTEGER) AS quarter,
         |    CAST(month(s.event_date) BETWEEN 6 AND 11 AS INTEGER) AS is_hurricane_season,
         |    CAST(month(s.event_date) BETWEEN 5 AND 10 AS INTEGER) AS is_fire_season,
         |    CAST(month(s.event_date) <= 2 OR month(s.event_date) = 12 AS INTEGER) AS is_winter,
         |    count(*) OVER (PARTITION BY s.event_source
         |      ORDER BY date_diff('day', DATE '1970-01-01', s.event_date)
         |      RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) - 1 AS events_last_30_days,
         |    avg(s.severity_score) OVER (PARTITION BY s.event_source
         |      ORDER BY s.event_date, s.event_id
         |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS avg_severity_90_days,
         |    lead(s.event_date) OVER (PARTITION BY s.event_source
         |      ORDER BY s.event_date, s.event_id) AS nd,
         |    lead(s.severity_score) OVER (PARTITION BY s.event_source
         |      ORDER BY s.event_date, s.event_id) AS ns
         |  FROM sv s)
         |SELECT strftime(f.event_date, '%Y-%m-%d') AS event_date,
         |  f.event_id, f.event_source, f.severity_score,
         |  f.year, f.month, f.day_of_year, f.quarter,
         |  f.is_hurricane_season, f.is_fire_season, f.is_winter,
         |  f.events_last_30_days, f.avg_severity_90_days,
         |  m.monthly_event_count,
         |  coalesce(w.daily_weather_alerts, 0) AS daily_weather_alerts,
         |  coalesce(w.avg_weather_severity, CAST(0 AS DOUBLE)) AS avg_weather_severity,
         |  coalesce(a.avg_temperature, CAST(0 AS DOUBLE)) AS avg_temperature,
         |  coalesce(a.avg_humidity, CAST(0 AS DOUBLE)) AS avg_humidity,
         |  coalesce(a.total_precipitation, CAST(0 AS DOUBLE)) AS total_precipitation,
         |  coalesce(a.drought_indicator, 0) AS drought_indicator,
         |  coalesce(CAST(date_diff('day', f.event_date, f.nd) <= 7 AS INTEGER), 0)
         |    AS next_event_7_days,
         |  CAST(f.ns AS DOUBLE) AS next_event_severity
         |FROM f
         |JOIN monthly m ON m.event_source = f.event_source
         |  AND m.mp = date_trunc('month', f.event_date)
         |LEFT JOIN wd w ON w.event_date = f.event_date
         |LEFT JOIN ag a ON a.event_date = f.event_date""".stripMargin,
    "em_ag_risk" ->
      s"""WITH $sqlStgCoag,
         |daily AS (
         |  SELECT observation_date AS event_date,
         |    CAST(sum(CAST(temperature_celsius AS DECIMAL(18,2))) AS DOUBLE)
         |      / count(temperature_celsius) AS avg_temperature,
         |    CAST(sum(CAST(relative_humidity_percent AS DECIMAL(18,2))) AS DOUBLE)
         |      / count(relative_humidity_percent) AS avg_humidity,
         |    CAST(sum(CAST(precipitation_mm AS DECIMAL(18,2))) AS DOUBLE) AS total_precipitation
         |  FROM stg_coag GROUP BY 1),
         |stats AS (
         |  SELECT avg(avg_temperature) AS t_mean, stddev_samp(avg_temperature) AS t_std,
         |    avg(total_precipitation) AS p_mean, stddev_samp(total_precipitation) AS p_std,
         |    avg(avg_humidity) AS h_mean, stddev_samp(avg_humidity) AS h_std,
         |    quantile_cont(total_precipitation, 0.2) AS p_q20,
         |    quantile_cont(avg_temperature, 0.8) AS t_q80
         |  FROM daily),
         |z AS (
         |  SELECT d.*,
         |    CAST(d.total_precipitation < s.p_q20 AND d.avg_temperature > s.t_q80 AS INTEGER)
         |      AS drought_indicator,
         |    least(greatest((d.avg_temperature - s.t_mean) / s.t_std, -3), 3) AS temperature_risk,
         |    least(greatest((s.p_mean - d.total_precipitation) / s.p_std, -3), 3) AS precipitation_risk,
         |    least(greatest((s.h_mean - d.avg_humidity) / s.h_std, -3), 3) AS humidity_risk
         |  FROM daily d CROSS JOIN stats s),
         |c AS (
         |  SELECT *, least(greatest(
         |    temperature_risk * 0.4 + precipitation_risk * 0.4 + humidity_risk * 0.2
         |      + drought_indicator * 2.0, 0), 10) AS agricultural_risk_score
         |  FROM z),
         |m AS (
         |  SELECT *,
         |    CASE WHEN agricultural_risk_score > 8 THEN 'EXTREME'
         |         WHEN agricultural_risk_score > 6 THEN 'SEVERE'
         |         WHEN agricultural_risk_score > 4 THEN 'HIGH'
         |         WHEN agricultural_risk_score > 2 THEN 'MODERATE'
         |         WHEN agricultural_risk_score > 0 THEN 'LOW' END AS risk_category,
         |    CASE month(event_date)
         |      WHEN 1 THEN 0.5 WHEN 2 THEN 0.5 WHEN 3 THEN 0.7 WHEN 4 THEN 1.0
         |      WHEN 5 THEN 1.2 WHEN 6 THEN 1.5 WHEN 7 THEN 1.5 WHEN 8 THEN 1.3
         |      WHEN 9 THEN 1.0 WHEN 10 THEN 0.8 WHEN 11 THEN 0.6 WHEN 12 THEN 0.5
         |    END AS seasonal_multiplier
         |  FROM c)
         |SELECT strftime(event_date, '%Y-%m-%d') AS event_date,
         |  round(avg_temperature, 6) AS avg_temperature,
         |  round(avg_humidity, 6) AS avg_humidity,
         |  round(total_precipitation, 6) AS total_precipitation,
         |  drought_indicator,
         |  round(temperature_risk, 6) AS temperature_risk,
         |  round(precipitation_risk, 6) AS precipitation_risk,
         |  round(humidity_risk, 6) AS humidity_risk,
         |  round(agricultural_risk_score, 6) AS agricultural_risk_score,
         |  risk_category, seasonal_multiplier,
         |  round(least(greatest(agricultural_risk_score * seasonal_multiplier, 0), 10), 6)
         |    AS adjusted_risk_score
         |FROM m""".stripMargin,
    "em_public_ag" ->
      s"""WITH $sqlStgUsda,
         |g AS (
         |  SELECT state_code, county_code, program_year, commodity_name,
         |    count(*) AS policy_count,
         |    round(CAST(sum(CAST(coverage_level_percent AS DECIMAL(18,2))) AS DOUBLE) / count(coverage_level_percent), 1) AS avg_coverage_level,
         |    sum(CAST(premium_amount_usd AS DECIMAL(18,2))) AS total_premiums_raw,
         |    sum(CAST(liability_amount_usd AS DECIMAL(18,2))) AS total_liability_raw,
         |    sum(CAST(indemnity_amount_usd AS DECIMAL(18,2))) AS total_indemnities_raw,
         |    round(CAST(sum(CAST(loss_ratio AS DECIMAL(18,4))) AS DOUBLE) / count(loss_ratio), 3) AS avg_loss_ratio,
         |    count(CASE WHEN loss_category = 'HIGH_LOSS' THEN 1 END) AS high_loss_policies,
         |    count(CASE WHEN loss_category = 'NO_LOSS' THEN 1 END) AS no_loss_policies
         |  FROM stg_usda
         |  WHERE program_year >= 2019 AND data_classification = 'PUBLIC'
         |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5)
         |SELECT
         |  md5(concat_ws('|', state_code, county_code, program_year, commodity_name)) AS ag_data_id,
         |  state_code || county_code || '_' || program_year || '_' || upper(substring(commodity_name, 1, 4)) AS public_ag_code,
         |  state_code, county_code, program_year,
         |  commodity_name AS crop_type,
         |  policy_count AS number_of_policies,
         |  avg_coverage_level AS average_coverage_percent,
         |  CAST(CASE WHEN abs(total_premiums_raw) >= 10000000 THEN round(total_premiums_raw, -5)
         |            WHEN abs(total_premiums_raw) >= 1000000 THEN round(total_premiums_raw, -4)
         |            ELSE round(total_premiums_raw, -3) END AS DOUBLE) AS total_premiums,
         |  CAST(CASE WHEN abs(total_liability_raw) >= 10000000 THEN round(total_liability_raw, -5)
         |            WHEN abs(total_liability_raw) >= 1000000 THEN round(total_liability_raw, -4)
         |            ELSE round(total_liability_raw, -3) END AS DOUBLE) AS total_liability,
         |  CAST(CASE WHEN abs(total_indemnities_raw) >= 10000000 THEN round(total_indemnities_raw, -5)
         |            WHEN abs(total_indemnities_raw) >= 1000000 THEN round(total_indemnities_raw, -4)
         |            ELSE round(total_indemnities_raw, -3) END AS DOUBLE) AS total_indemnities,
         |  avg_loss_ratio, high_loss_policies, no_loss_policies,
         |  round(CASE WHEN total_premiums_raw = 0 OR total_premiums_raw IS NULL THEN NULL
         |             ELSE CAST(total_indemnities_raw AS DOUBLE) / CAST(total_premiums_raw AS DOUBLE)
         |        END, 3) AS county_loss_ratio
         |FROM g""".stripMargin,

    "em_public_alerts" ->
      s"""WITH $sqlStgNoaa
         |SELECT alert_id AS alert_api_id, weather_event, severity_level,
         |  urgency_level, alert_headline,
         |  substring(alert_description, 1, 500) AS alert_description,
         |  substring(public_instruction, 1, 300) AS public_instruction,
         |  state_code,
         |  strftime(effective_datetime, '%Y-%m-%d %H:%M:%S') AS effective_datetime,
         |  strftime(expires_datetime, '%Y-%m-%d %H:%M:%S') AS expires_datetime,
         |  risk_level,
         |  CASE WHEN severity_level = 'EXTREME' THEN 1
         |       WHEN severity_level = 'SEVERE' THEN 2
         |       WHEN severity_level = 'MODERATE' THEN 3
         |       WHEN severity_level = 'MINOR' THEN 4
         |       ELSE 5 END AS severity_rank,
         |  'ACTIVE' AS alert_status,
         |  '$RunTsStr' AS last_updated
         |FROM stg_noaa
         |WHERE expires_datetime IS NULL OR expires_datetime >= $AsOfSql""".stripMargin,

    "em_ag_summary" ->
      s"""WITH $sqlStgUsda,
         |g AS (
         |  SELECT state_code, county_code, program_year,
         |    count(*) AS policy_count,
         |    sum(CAST(premium_amount_usd AS DECIMAL(18,2))) AS total_premiums_raw,
         |    sum(CAST(indemnity_amount_usd AS DECIMAL(18,2))) AS total_indemnities_raw,
         |    count(CASE WHEN loss_category = 'HIGH_LOSS' THEN 1 END) AS high_loss_policies
         |  FROM stg_usda
         |  WHERE program_year >= 2019 AND data_classification = 'PUBLIC'
         |  GROUP BY state_code, county_code, program_year, commodity_name
         |  HAVING count(*) >= 5),
         |pub AS (
         |  SELECT state_code, county_code, program_year,
         |    policy_count AS number_of_policies,
         |    CAST(CASE WHEN abs(total_premiums_raw) >= 10000000 THEN round(total_premiums_raw, -5)
         |              WHEN abs(total_premiums_raw) >= 1000000 THEN round(total_premiums_raw, -4)
         |              ELSE round(total_premiums_raw, -3) END AS DOUBLE) AS total_premiums,
         |    CAST(CASE WHEN abs(total_indemnities_raw) >= 10000000 THEN round(total_indemnities_raw, -5)
         |              WHEN abs(total_indemnities_raw) >= 1000000 THEN round(total_indemnities_raw, -4)
         |              ELSE round(total_indemnities_raw, -3) END AS DOUBLE) AS total_indemnities,
         |    high_loss_policies
         |  FROM g)
         |SELECT state_code, program_year,
         |  count(DISTINCT county_code) AS counties_published,
         |  CAST(sum(number_of_policies) AS BIGINT) AS total_policies,
         |  sum(total_premiums) AS total_premiums,
         |  sum(total_indemnities) AS total_indemnities,
         |  CASE WHEN sum(total_premiums) = 0 OR sum(total_premiums) IS NULL THEN NULL
         |       ELSE round(sum(total_indemnities) / sum(total_premiums), 3) END AS state_loss_ratio,
         |  CAST(sum(high_loss_policies) AS BIGINT) AS high_loss_policies
         |FROM pub GROUP BY 1, 2""".stripMargin,

    "em_quality_metrics" ->
      s"""WITH $sqlStgFema,
         |$sqlStgNoaa,
         |$sqlStgCoag,
         |legs AS (
         |  SELECT 'fema' AS source_name, count(*) AS total_rows,
         |    CAST(sum(CASE WHEN disaster_number IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
         |    count(DISTINCT disaster_number) AS distinct_keys,
         |    max(declaration_date) AS last_processed_at,
         |    count(CASE WHEN declaration_date >= $AsOfSql - 7 THEN 1 END) AS rows_last_7d
         |  FROM stg_fema
         |  UNION ALL
         |  SELECT 'noaa', count(*),
         |    CAST(sum(CASE WHEN alert_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT alert_id),
         |    max(effective_date),
         |    count(CASE WHEN effective_date >= $AsOfSql - 7 THEN 1 END)
         |  FROM stg_noaa
         |  UNION ALL
         |  SELECT 'coagmet', count(*),
         |    CAST(sum(CASE WHEN station_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         |    count(DISTINCT station_id),
         |    max(observation_date),
         |    count(CASE WHEN observation_date >= $AsOfSql - 7 THEN 1 END)
         |  FROM stg_coag)
         |SELECT source_name, total_rows, null_keys, distinct_keys,
         |  round(CAST(distinct_keys AS DOUBLE) / total_rows * 100, 2) AS uniqueness_pct,
         |  round(CAST(total_rows - null_keys AS DOUBLE) / total_rows * 100, 2) AS completeness_pct,
         |  strftime(last_processed_at, '%Y-%m-%d') AS last_processed_at,
         |  rows_last_7d
         |FROM legs""".stripMargin,

    "em_usage_metrics" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  count(*) AS request_cnt,
        |  count(DISTINCT 'org' || CAST(user_id % 5 AS VARCHAR)) AS distinct_orgs,
        |  count(DISTINCT '/api/' || event_type) AS distinct_endpoints,
        |  count(CASE WHEN ('/api/' || event_type) LIKE '/api/%' THEN 1 END) AS api_requests
        |FROM events GROUP BY CAST(ts AS DATE)""".stripMargin
  )
}
