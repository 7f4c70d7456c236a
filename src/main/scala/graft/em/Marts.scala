package graft.em

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.EmFunctions
import graft.operators.IntervalJoin
import graft.plans.ClockLiteral.clock_lit

/** Marts layer: the unified-event union, daily weather impacts with the
  * alert interval join, and state disaster trend analytics.
  *
  * Reference semantics: emergency_events.sql:15-140,
  * weather_impacts.sql:17-200, disaster_analytics.sql:15-170. Spark-first
  * design notes per model below; all clocks injected.
  */
object Marts {

  /** emergency_events: FEMA disasters ∪ high-risk NOAA alerts, aligned to
    * one event schema (U1), broadcast-enriched with the state seed (J1),
    * plus category/season/fiscal-year/impact flags. */
  def emergencyEvents(spark: SparkSession, stgFema: DataFrame, stgNoaa: DataFrame, runTs: Timestamp): DataFrame = {
    val disasters = stgFema.select(
      concat(lit("FEMA_"), col("disaster_number")).as("event_id"),
      lit("DISASTER").as("event_type"),
      col("incident_type").as("event_subtype"),
      col("disaster_title").as("event_name"),
      col("state").as("state_code"),
      col("declaration_date").as("event_date"),
      col("incident_begin_date").cast("timestamp").as("event_start_date"),
      col("incident_end_date").cast("timestamp").as("event_end_date"),
      col("designated_area").as("affected_area"),
      col("fiscal_year_declared"),
      when(upper(col("incident_type")).isin("HURRICANE", "MAJOR DISASTER"), "CRITICAL")
        .when(upper(col("incident_type")).isin("SEVERE STORM", "FLOOD", "FIRE"), "HIGH")
        .when(upper(col("incident_type")).isin("WINTER STORM", "TORNADO"), "MEDIUM")
        .otherwise("LOW").as("risk_level"),
      when(col("incident_end_date").isNotNull,
        datediff(col("incident_end_date"), col("incident_begin_date")).cast("double"))
        .as("event_duration_days"),
      col("data_classification"),
      col("retention_date"),
      col("processed_at")
    )

    val weather = stgNoaa
      .filter(col("risk_level").isin("HIGH", "CRITICAL"))
      .select(
        col("alert_id").as("event_id"),
        lit("WEATHER_ALERT").as("event_type"),
        col("weather_event").as("event_subtype"),
        col("alert_headline").as("event_name"),
        col("state_code"),
        col("effective_date").as("event_date"),
        col("effective_datetime").as("event_start_date"),
        col("expires_datetime").as("event_end_date"),
        col("affected_area_description").as("affected_area"),
        year(col("effective_date")).as("fiscal_year_declared"),
        col("risk_level"),
        (col("alert_duration_hours") / 24.0).as("event_duration_days"),
        col("data_classification"),
        col("retention_date"),
        col("processed_at")
      )

    val unified = disasters.unionByName(weather)
    val cat = upper(col("event_subtype"))
    unified
      .join(broadcast(SeedData.stateCodesDf(spark)), Seq("state_code"), "left")
      .withColumn("event_category",
        when(cat.isin("HURRICANE", "TYPHOON", "CYCLONE"), "TROPICAL_STORM")
          .when(cat.isin("FLOOD", "FLASH FLOOD", "DAM BREAK"), "FLOODING")
          .when(cat.isin("FIRE", "WILDFIRE", "URBAN FIRE"), "FIRE")
          .when(cat.isin("TORNADO", "SEVERE STORM", "WIND"), "SEVERE_WEATHER")
          .when(cat.isin("WINTER STORM", "ICE STORM", "BLIZZARD"), "WINTER_WEATHER")
          .when(cat.isin("EARTHQUAKE", "VOLCANO", "LANDSLIDE"), "GEOLOGICAL")
          .when(cat.isin("DROUGHT", "HEAT WAVE"), "CLIMATOLOGICAL")
          .otherwise("OTHER"))
      .withColumn("event_season", EmFunctions.season(col("event_date")))
      .withColumn("federal_fiscal_year", EmFunctions.federalFiscalYear(col("event_date")))
      .withColumn("is_long_duration_event", coalesce(col("event_duration_days") > 30, lit(false)))
      .withColumn("is_high_impact_event", col("risk_level").isin("CRITICAL", "HIGH"))
      .withColumn("funding_eligibility", lit("FEMA_ELIGIBLE"))
      .withColumn("last_updated", clock_lit(runTs))
      .withColumnRenamed("fips_code", "state_fips_code")
  }

  /** weather_impacts: per-(station, day) rollup (A2) left-joined to
    * concurrent alerts. The reference's interval+theta join
    * (weather_impacts.sql:159-165) is re-planned as a day-bucketed equi
    * join (IntervalJoin.byDay) — hash join on the day key instead of a
    * BroadcastNestedLoopJoin, the 100 TB-safe shape. */
  def weatherImpacts(stgCoagmet: DataFrame, stgNoaa: DataFrame, asOf: Date, runTs: Timestamp): DataFrame = {
    val obs = stgCoagmet.filter(col("observation_date") >= date_sub(clock_lit(asOf), 90))

    // Decimal-backed averages/sums (EmFunctions.dsum/davg): staged
    // measurements are 2-dp validated values — the reference declares them
    // DECIMAL(p,2) (sources.yml) — so decimal aggregation is both faithful
    // and order-independent (bit-identical under any partitioning).
    import EmFunctions.{davg, dsum}
    val daily = obs
      .groupBy("station_id", "observation_date")
      .agg(
        davg(col("temperature_celsius")).as("avg_temperature"),
        min(col("temperature_celsius")).as("min_temperature"),
        max(col("temperature_celsius")).as("max_temperature"),
        davg(col("relative_humidity_percent")).as("avg_humidity"),
        min(col("relative_humidity_percent")).as("min_humidity"),
        davg(col("wind_speed_kmh")).as("avg_wind_speed"),
        max(col("wind_speed_kmh")).as("max_wind_speed"),
        dsum(col("precipitation_mm")).cast("double").as("total_precipitation"),
        max(col("precipitation_mm")).as("max_hourly_precipitation"),
        count(when(col("agricultural_risk_indicator") =!= "NORMAL", 1)).as("risk_hours"),
        max(when(col("agricultural_risk_indicator") === "FREEZE_WARNING", 1).otherwise(0)).as("had_freeze_warning"),
        max(when(col("agricultural_risk_indicator") === "HEAT_WARNING", 1).otherwise(0)).as("had_heat_warning"),
        max(when(col("agricultural_risk_indicator") === "WIND_WARNING", 1).otherwise(0)).as("had_wind_warning"),
        max(when(col("agricultural_risk_indicator") === "HEAVY_RAIN", 1).otherwise(0)).as("had_heavy_rain"),
        first(col("station_name")).as("station_name"),
        first(col("latitude")).as("latitude"),
        first(col("longitude")).as("longitude"),
        max(col("processed_at")).as("last_processed_at")
      )

    val alerts = stgNoaa
      .filter(col("effective_date") >= date_sub(clock_lit(asOf), 90) && col("state_code") === "CO")
      .select(
        col("alert_id"), col("weather_event"), col("risk_level").as("alert_risk_level"),
        col("effective_date"), coalesce(col("expires_date"), col("effective_date")).as("end_date")
      )

    // day-bucketed interval join (IntervalJoin.byDay shape, alerts as the
    // interval side): alerts exploded over covered days, observations
    // equi-joined on the day key; CO bounding-box gate in the join condition.
    //
    // Round-14 physical rewrite (BASELINE.md "Round 14: em_api_performance"
    // attribution: this join was ~79% of em_api_performance's ×10 scale
    // leg): the day key has only ~90
    // distinct values and the box gate depends ONLY on the station, so the
    // raw join fanned every in-box station-day out over every CO alert
    // alive that day (~stations × alerts-per-day rows) before a window
    // kept the top-1 per (station, day). The winning alert is the SAME for
    // every in-box station on a given day, so the top-1 reduce moves to
    // the alert side FIRST — one tiny per-day aggregate (struct-min over
    // the identical (priority, event-name) ordering the window used; the
    // trailing alert_id makes the min total, and tied rows surface
    // identical outputs because risk_level is bijective with priority and
    // the tie key IS the event name) — then ≤ 1 row per day broadcast-
    // joins the 144k station-days. Zero fanout, no dedup window, and the
    // output rows are value-identical (the DuckDB oracle still replays
    // the window form).
    val inCoBox = col("latitude").between(37.0, 41.0) && col("longitude").between(-109.0, -102.0)
    val alertDays = alerts.withColumn("alert_day", explode(sequence(col("effective_date"), col("end_date"))))
    val topAlertByDay = alertDays
      .groupBy(col("alert_day"))
      .agg(min(struct(
        when(col("alert_risk_level") === "CRITICAL", 1)
          .when(col("alert_risk_level") === "HIGH", 2)
          .when(col("alert_risk_level") === "MEDIUM", 3)
          .otherwise(4).as("p"),
        coalesce(col("weather_event"), lit("~")).as("t"),
        // raw risk_level BEFORE alert_id: the (p, t) prefix is bijective
        // with (risk_level, event) only while Staging pins risk_level to
        // the closed {CRITICAL,HIGH,MEDIUM,LOW} enum — any future value
        // lands in the shared otherwise(4) bucket, where ties on (p, t)
        // must still surface one value-deterministic alert_risk_level on
        // both sides (the oracle window mirrors this key order)
        coalesce(col("alert_risk_level"), lit("~")).as("r"),
        col("alert_id").as("alert_id"),
        col("weather_event").as("weather_event"),
        col("alert_risk_level").as("alert_risk_level"))).as("best"))
      .select(col("alert_day"),
        col("best.alert_id").as("alert_id"),
        col("best.weather_event").as("weather_event"),
        col("best.alert_risk_level").as("alert_risk_level"))
    val withAlerts = daily
      .join(broadcast(topAlertByDay),
        daily("observation_date") === topAlertByDay("alert_day") && inCoBox, "left")

    withAlerts
      .select(
        EmFunctions.surrogateId(col("station_id"), col("observation_date")).as("impact_id"),
        col("station_id"), col("station_name"),
        col("observation_date").as("impact_date"),
        col("latitude"), col("longitude"),
        when(inCoBox, "CO").otherwise("UNKNOWN").as("state_code"),
        col("avg_temperature"), col("min_temperature"), col("max_temperature"),
        col("avg_humidity"), col("avg_wind_speed"), col("max_wind_speed"),
        col("total_precipitation"), col("max_hourly_precipitation"),
        col("risk_hours"), col("had_freeze_warning"), col("had_heat_warning"),
        col("had_wind_warning"), col("had_heavy_rain"),
        when(col("min_temperature") < -10 || col("max_temperature") > 40, 3)
          .when(col("min_temperature") < -5 || col("max_temperature") > 35, 2)
          .when(col("min_temperature") < 0 || col("max_temperature") > 30, 1)
          .otherwise(0).as("temperature_impact_score"),
        when(col("total_precipitation") > 50, 3)
          .when(col("total_precipitation") > 25, 2)
          .when(col("total_precipitation") > 10, 1)
          .otherwise(0).as("precipitation_impact_score"),
        when(col("max_wind_speed") > 80, 3)
          .when(col("max_wind_speed") > 50, 2)
          .when(col("max_wind_speed") > 30, 1)
          .otherwise(0).as("wind_impact_score"),
        col("alert_id").isNotNull.as("has_concurrent_alert"),
        col("weather_event").as("concurrent_alert_type"),
        col("alert_risk_level").as("concurrent_alert_risk"),
        lit("PUBLIC").as("data_classification"),
        clock_lit(runTs).as("analysis_timestamp"),
        col("last_processed_at")
      )
      // one row per (station, day) by construction: the alert side was
      // pre-reduced to ≤ 1 row per day above, so the old top-1 dedup
      // window (an exchange + sort over the fanned-out join) is gone
      .withColumn("total_impact_score",
        col("temperature_impact_score") + col("precipitation_impact_score") + col("wind_impact_score"))
      .withColumn("impact_category",
        when(col("total_impact_score") >= 6, "SEVERE")
          .when(col("total_impact_score") >= 4, "MODERATE")
          .when(col("total_impact_score") >= 2, "MINOR")
          .otherwise("MINIMAL"))
  }

  /** disaster_analytics: state × year × category trends with conditional
    * counts (A1), seasonal distribution, LAG-based YoY (W1), agricultural
    * loss correlation (J2), and risk ratings. */
  def disasterAnalytics(events: DataFrame, stgUsda: DataFrame, asOf: Date, runTs: Timestamp): DataFrame = {
    val history = events.filter(col("event_date") >= date_sub(clock_lit(asOf), 3650))

    val trends = history
      .groupBy(col("state_code"), col("state_name"),
        year(col("event_date")).as("disaster_year"), col("event_category"))
      .agg(
        count(lit(1)).as("event_count"),
        count(when(col("risk_level").isin("HIGH", "CRITICAL"), 1)).as("high_risk_events"),
        count(when(col("is_long_duration_event"), 1)).as("long_duration_events"),
        // decimal-backed mean (order-independent); scale 6 holds the
        // hours/24 fractional durations exactly enough for parity
        EmFunctions.davg(col("event_duration_days"), 6).as("avg_event_duration"),
        max(col("event_duration_days")).as("max_event_duration"),
        count(when(col("event_season") === "WINTER", 1)).as("winter_events"),
        count(when(col("event_season") === "SPRING", 1)).as("spring_events"),
        count(when(col("event_season") === "SUMMER", 1)).as("summer_events"),
        count(when(col("event_season") === "FALL", 1)).as("fall_events")
      )

    val agLosses = stgUsda
      .filter(col("program_year") >= year(clock_lit(asOf)) - 10)
      .groupBy(col("state_code"), col("program_year"))
      .agg(
        EmFunctions.dsum(col("indemnity_amount_usd")).cast("double").as("total_indemnity"),
        EmFunctions.dsum(col("liability_amount_usd")).cast("double").as("total_liability"),
        EmFunctions.davg(col("loss_ratio"), 4).as("avg_loss_ratio"),
        count(when(col("loss_category") === "HIGH_LOSS", 1)).as("high_loss_policies")
      )

    val w = Window.partitionBy("state_code", "event_category").orderBy("disaster_year")
    trends
      .join(agLosses,
        trends("state_code") === agLosses("state_code") &&
          trends("disaster_year") === agLosses("program_year"),
        "left")
      .drop(agLosses("state_code")).drop("program_year")
      .withColumn("analytics_id",
        EmFunctions.surrogateId(col("state_code"), col("disaster_year"), col("event_category")))
      .withColumn("analysis_date", clock_lit(asOf))
      .withColumn("high_risk_event_percentage",
        round(col("high_risk_events") / col("event_count") * 100, 2))
      .withColumn("long_duration_percentage",
        round(col("long_duration_events") / col("event_count") * 100, 2))
      .withColumn("prev_year_event_count", lag(col("event_count"), 1).over(w))
      .withColumn("annual_disaster_risk_rating",
        when(col("event_count") > 10 && col("high_risk_events") > 5, "VERY_HIGH")
          .when(col("event_count") > 5 && col("high_risk_events") > 2, "HIGH")
          .when(col("event_count") > 2, "MODERATE")
          .otherwise("LOW"))
      .withColumn("yoy_event_count_change_percent",
        when(col("prev_year_event_count").isNotNull && col("prev_year_event_count") > 0,
          round((col("event_count") - col("prev_year_event_count")) / col("prev_year_event_count") * 100, 2)))
      .withColumn("disaster_trend_direction",
        when(col("prev_year_event_count").isNull, "INSUFFICIENT_DATA")
          .when(col("event_count") > col("prev_year_event_count") * 1.2, "INCREASING")
          .when(col("event_count") < col("prev_year_event_count") * 0.8, "DECREASING")
          .otherwise("STABLE"))
      .withColumn("analytics_generated_at", clock_lit(runTs))
  }
}
