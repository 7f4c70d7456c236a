package graft.em

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.EmFunctions
import graft.plans.ClockLiteral.clock_lit

/** Public/API serving layer (gold): API-shaped disaster view with public
  * codes, privacy-thresholded agricultural rollups, severity-ordered alert
  * view, and the cross-source quality-metrics union.
  *
  * Reference: public_disasters.sql:16-95, public_agricultural_data.sql:
  * 15-100, public_weather_alerts.sql, metrics/data_quality_metrics.sql:7-119,
  * ops/public_ops.py:57-221.
  */
object PublicLayer {

  /** public_disasters: last-365d public DISASTER events, ROW_NUMBER public
    * code (W2), status ladder, hour-bucketed API metadata. */
  def publicDisasters(events: DataFrame, asOf: Date, runTs: Timestamp): DataFrame = {
    val active = events.filter(
      col("event_type") === "DISASTER" &&
        col("data_classification") === "PUBLIC" &&
        col("event_date") >= date_sub(clock_lit(asOf), 365))

    val w = Window.partitionBy("state_code", "event_date").orderBy("event_id")
    active.select(
      col("event_id").as("disaster_id"),
      concat_ws("_",
        col("state_code"),
        date_format(col("event_date"), "yyyyMMdd"),
        row_number().over(w).cast("string")).as("public_disaster_code"),
      col("event_subtype").as("disaster_type"),
      col("event_category").as("disaster_category"),
      col("event_name").as("disaster_title"),
      col("state_code"),
      col("state_name"),
      col("event_date").as("declaration_date"),
      col("event_start_date").as("incident_begin_date"),
      col("event_end_date").as("incident_end_date"),
      coalesce(col("event_duration_days"), lit(0.0)).as("duration_days"),
      col("event_season").as("season"),
      col("federal_fiscal_year"),
      col("risk_level"),
      when(col("is_high_impact_event"), "HIGH").otherwise("STANDARD").as("impact_level"),
      when(col("risk_level").isin("HIGH", "CRITICAL"), "ACTIVE_MONITORING_REQUIRED")
        .when(col("event_end_date").isNull || col("event_end_date") > clock_lit(asOf).cast("timestamp"), "ONGOING")
        .otherwise("RESOLVED").as("status"),
      col("funding_eligibility").as("federal_assistance_available"),
      lit(true).as("is_active"),
      lit("PUBLIC").as("data_classification"),
      lit("emergency_management_api").as("data_source"),
      clock_lit(runTs).as("last_updated"),
      date_format(clock_lit(runTs), "yyyy-MM-dd HH:00:00").as("api_hour_bucket")
    )
  }

  /** public_weather_alerts: active alerts with the custom severity sort
    * key (O2) used by the reference's API view (ops/public_ops.py:108-115). */
  def publicWeatherAlerts(stgNoaa: DataFrame, asOf: Date, runTs: Timestamp): DataFrame =
    stgNoaa
      .filter(col("expires_datetime").isNull || col("expires_datetime") >= clock_lit(asOf).cast("timestamp"))
      .select(
        col("alert_id").as("alert_api_id"),
        col("weather_event"),
        col("severity_level"),
        col("urgency_level"),
        col("alert_headline"),
        substring(col("alert_description"), 1, 500).as("alert_description"),
        substring(col("public_instruction"), 1, 300).as("public_instruction"),
        col("state_code"),
        col("effective_datetime"),
        col("expires_datetime"),
        col("risk_level"),
        EmFunctions.priorityRank(col("severity_level"),
          Seq("EXTREME", "SEVERE", "MODERATE", "MINOR")).as("severity_rank"),
        lit("ACTIVE").as("alert_status"),
        clock_lit(runTs).as("last_updated")
      )
      .orderBy(col("severity_rank"), col("effective_datetime").desc)

  /** public_agricultural_data: county rollup published only above the
    * 5-policy privacy threshold (A3), money totals banded via
    * privacyRound, guarded county loss ratio. */
  def publicAgriculturalData(stgUsda: DataFrame, asOf: Date): DataFrame =
    stgUsda
      .filter(col("program_year") >= year(clock_lit(asOf)) - 5 && col("data_classification") === "PUBLIC")
      .groupBy("state_code", "county_code", "program_year", "commodity_name")
      .agg(
        count(lit(1)).as("policy_count"),
        // decimal-backed sums/means (order-independent; money is DECIMAL in
        // the reference's source schema) — see EmFunctions.dsum/davg
        round(EmFunctions.davg(col("coverage_level_percent")), 1).as("avg_coverage_level"),
        EmFunctions.dsum(col("premium_amount_usd")).as("total_premiums_raw"),
        EmFunctions.dsum(col("liability_amount_usd")).as("total_liability_raw"),
        EmFunctions.dsum(col("indemnity_amount_usd")).as("total_indemnities_raw"),
        round(EmFunctions.davg(col("loss_ratio"), 4), 3).as("avg_loss_ratio"),
        count(when(col("loss_category") === "HIGH_LOSS", 1)).as("high_loss_policies"),
        count(when(col("loss_category") === "NO_LOSS", 1)).as("no_loss_policies")
      )
      .filter(col("policy_count") >= 5) // privacy threshold (tests/data_quality_tests.yml:337-352)
      .select(
        EmFunctions.surrogateId(col("state_code"), col("county_code"),
          col("program_year"), col("commodity_name")).as("ag_data_id"),
        concat(col("state_code"), col("county_code"), lit("_"), col("program_year"),
          lit("_"), upper(substring(col("commodity_name"), 1, 4))).as("public_ag_code"),
        col("state_code"),
        col("county_code"),
        col("program_year"),
        col("commodity_name").as("crop_type"),
        col("policy_count").as("number_of_policies"),
        col("avg_coverage_level").as("average_coverage_percent"),
        EmFunctions.privacyRound(col("total_premiums_raw")).cast("double").as("total_premiums"),
        EmFunctions.privacyRound(col("total_liability_raw")).cast("double").as("total_liability"),
        EmFunctions.privacyRound(col("total_indemnities_raw")).cast("double").as("total_indemnities"),
        col("avg_loss_ratio"),
        col("high_loss_policies"),
        col("no_loss_policies"),
        // ratio taken in double space (decimal/decimal division scale rules
        // differ across engines; the doubles are identical)
        round(EmFunctions.safeRatio(col("total_indemnities_raw").cast("double"),
          col("total_premiums_raw").cast("double")), 3).as("county_loss_ratio")
      )

  /** public_agricultural_summary: the daily serving view the reference's
    * public_ops builds over the county rollup (ops/public_ops.py:138-168)
    * — per (state, year) totals across published counties only. */
  def publicAgriculturalSummary(publicAg: DataFrame): DataFrame =
    publicAg
      .groupBy("state_code", "program_year")
      .agg(
        countDistinct(col("county_code")).as("counties_published"),
        sum(col("number_of_policies")).as("total_policies"),
        sum(col("total_premiums")).as("total_premiums"),
        sum(col("total_indemnities")).as("total_indemnities"),
        // rounded to a fixed scale like county_loss_ratio above: the raw
        // double division differs in the last bit across engines (sum order),
        // which fails exact cross-engine compares
        round(EmFunctions.safeRatio(
          sum(col("total_indemnities")), sum(col("total_premiums"))), 3).as("state_loss_ratio"),
        sum(col("high_loss_policies")).as("high_loss_policies")
      )

  /** usage_metrics (metrics/usage_metrics.sql): request counts, distinct
    * orgs/endpoints, per-day volume from the audit log (A5). */
  def usageMetrics(usageLog: DataFrame, tsCol: String = "ts", orgCol: String = "org",
      endpointCol: String = "endpoint"): DataFrame =
    usageLog
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(
        count(lit(1)).as("request_cnt"),
        countDistinct(col(orgCol)).as("distinct_orgs"),
        countDistinct(col(endpointCol)).as("distinct_endpoints"),
        count(when(col(endpointCol).startsWith("/api/"), 1)).as("api_requests")
      )

  /** api_performance (models/metrics/api_performance.sql:7-97): the
    * dataset-health card over the three gold views — one row per dataset
    * with volume, recency %, high-risk %, coverage bucket, freshness
    * bucket, and compliance status. All clocks injected (the reference
    * uses CURRENT_DATE/CURRENT_TIMESTAMP). Each leg is a single-row full
    * aggregate (partial-agg map-side, no wide state); the union is 3 rows.
    * Column adaptations from the reference, by design of this engine's
    * gold schemas: the weather leg's DISTINCT agricultural_impact_assessment
    * is carried here by impact_category (this engine's assessment column),
    * and averages use the decimal-backed davg so the cross-engine compare
    * is exact. */
  def apiPerformance(
      events: DataFrame,
      impacts: DataFrame,
      analytics: DataFrame,
      asOf: Date,
      runTs: Timestamp
  ): DataFrame = {
    def leg(df: DataFrame, name: String, recent: Column, highRisk: Column,
        categories: Column, metric: Column, updated: Column): DataFrame =
      df.agg(
        count(lit(1)).as("total_events"),
        count(when(recent, 1)).as("recent_events"),
        count(when(highRisk, 1)).as("high_risk_events"),
        countDistinct(col("state_code")).as("states_with_events"),
        countDistinct(categories).as("event_categories"),
        round(metric, 2).as("avg_metric_value"),
        max(updated).as("last_dataset_update")
      ).select(lit(name).as("dataset_name"), col("*"))

    val ev = leg(
      events.filter(col("event_date") >= date_sub(clock_lit(asOf), 365)),
      "EMERGENCY_EVENTS",
      col("event_date") >= date_sub(clock_lit(asOf), 30),
      col("risk_level").isin("HIGH", "CRITICAL"),
      col("event_category"),
      EmFunctions.davg(col("event_duration_days"), 6),
      col("last_updated"))
    val wi = leg(
      impacts, // the gold view is already 90-day bounded, like the model's WHERE
      "WEATHER_IMPACTS",
      col("impact_date") >= date_sub(clock_lit(asOf), 7),
      col("impact_category").isin("MODERATE", "SEVERE"),
      col("impact_category"),
      EmFunctions.davg(col("total_impact_score"), 6),
      col("analysis_timestamp"))
    val an = leg(
      analytics.filter(col("disaster_year") >= year(clock_lit(asOf)) - 5),
      "DISASTER_ANALYTICS",
      col("disaster_year") === year(clock_lit(asOf)),
      col("annual_disaster_risk_rating").isin("HIGH", "VERY_HIGH"),
      col("event_category"),
      EmFunctions.davg(col("event_count"), 6),
      col("analytics_generated_at"))

    val recentPct = round(col("recent_events").cast("double") / col("total_events") * 100, 2)
    val highPct = round(col("high_risk_events").cast("double") / col("total_events") * 100, 2)
    ev.unionByName(wi).unionByName(an).select(
      col("dataset_name"), col("total_events"), col("recent_events"),
      col("high_risk_events"), col("states_with_events"), col("event_categories"),
      col("avg_metric_value"), col("last_dataset_update"),
      recentPct.as("recent_activity_percent"),
      highPct.as("high_risk_percent"),
      when(col("states_with_events") >= 45, "NATIONAL_COVERAGE")
        .when(col("states_with_events") >= 30, "REGIONAL_COVERAGE")
        .when(col("states_with_events") >= 10, "MULTI_STATE_COVERAGE")
        .otherwise("LIMITED_COVERAGE").as("geographic_coverage"),
      when(col("last_dataset_update") >= clock_lit(runTs) - expr("INTERVAL 6 HOUR"), "CURRENT")
        .when(col("last_dataset_update") >= clock_lit(runTs) - expr("INTERVAL 24 HOUR"), "RECENT")
        .when(col("last_dataset_update") >= clock_lit(runTs) - expr("INTERVAL 48 HOUR"), "STALE")
        .otherwise("OUTDATED").as("dataset_freshness"),
      when(col("dataset_name") === "EMERGENCY_EVENTS" && col("total_events") === 0,
        "DATA_MISSING")
        .when(recentPct === 0 &&
          col("dataset_name").isin("EMERGENCY_EVENTS", "WEATHER_IMPACTS"),
          "NO_RECENT_ACTIVITY")
        .otherwise("OPERATIONAL").as("compliance_status"),
      clock_lit(runTs).as("performance_check_timestamp"))
  }

  /** data_quality_metrics: per-source profile rows unioned (A4) — totals,
    * null counts on required fields, recency, derived percentages. */
  def dataQualityMetrics(sources: Seq[(String, DataFrame, String, String)], runTs: Timestamp): DataFrame =
    sources.map { case (name, df, keyCol, tsCol) =>
      df.agg(
        count(lit(1)).as("total_rows"),
        sum(col(keyCol).isNull.cast("int")).cast("long").as("null_keys"),
        countDistinct(col(keyCol)).as("distinct_keys"),
        max(col(tsCol)).as("last_processed_at"),
        count(when(col(tsCol) >= date_sub(clock_lit(new Date(runTs.getTime)), 7), 1)).as("rows_last_7d")
      ).select(
        lit(name).as("source_name"),
        col("total_rows"),
        col("null_keys"),
        col("distinct_keys"),
        round(col("distinct_keys") / col("total_rows") * 100, 2).as("uniqueness_pct"),
        round((col("total_rows") - col("null_keys")) / col("total_rows") * 100, 2).as("completeness_pct"),
        col("last_processed_at"),
        col("rows_last_7d")
      )
    }.reduce(_ unionByName _)
}
