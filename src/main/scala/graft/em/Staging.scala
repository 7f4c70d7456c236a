package graft.em

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.ClockLiteral.clock_lit

/** Staging layer: standardize + validate the four raw feeds (SURVEY §2.2
  * P1–P3). Each transform is a pure DataFrame function with an injected
  * `runTs` clock (reference uses CURRENT_TIMESTAMP()/CURRENT_DATE()
  * everywhere — injected here for reproducibility, SURVEY §7.4.3). The
  * clock enters plans as `clock_lit` (graft.plans.ClockLiteral), so a run
  * at a new clock reuses the previous run's generated classes; Marts and
  * PublicLayer do the same with `runTs` and `asOf`.
  *
  * Reference semantics: stg_fema_disasters.sql:20-54,
  * stg_noaa_weather.sql:19-79, stg_coagmet_data.sql:19-84,
  * stg_usda_data.sql:19-80, macros/data_classification.sql:2-26.
  */
object Staging {

  /** Audit/compliance columns appended to every staging table
    * (database.py:148-154, data_classification macro). */
  private def auditCols(df: DataFrame, retentionDays: Int, runTs: Timestamp): DataFrame =
    df.withColumn("data_classification", lit("PUBLIC"))
      .withColumn("retention_date", date_add(to_date(clock_lit(runTs)), retentionDays))
      .withColumn("processed_at", clock_lit(runTs))
      .withColumn("processing_version", lit("1.0.0"))

  private def rangeValid(c: Column, lo: Double, hi: Double): Column =
    when(c.between(lo, hi), round(c, 2))

  /** stg_fema_disasters.sql:20-54. */
  def femaDisasters(raw: DataFrame, runTs: Timestamp): DataFrame = {
    val std = raw
      .filter(col("disaster_number").isNotNull && col("state").isNotNull && col("declaration_date").isNotNull)
      .select(
        col("disaster_number"),
        col("state"),
        col("declaration_date").cast("date").as("declaration_date"),
        col("incident_begin_date").cast("date").as("incident_begin_date"),
        col("incident_end_date").cast("date").as("incident_end_date"),
        upper(trim(col("incident_type"))).as("incident_type"),
        upper(trim(col("declaration_type"))).as("declaration_type"),
        trim(col("title")).as("disaster_title"),
        trim(col("designated_area")).as("designated_area"),
        col("fy_declared").cast("int").as("fiscal_year_declared"),
        col("ingestion_timestamp"),
        col("data_source")
      )
    auditCols(std, retentionDays = 2555, runTs)
  }

  /** GeoJSON geometry struct (SURVEY §1.2 optional extension): the NOAA
    * `geometry` JSON string typed as (type, coordinates) where coordinates
    * is a Polygon's ring list (reference keeps the raw string,
    * assets/raw_data.py:148; ring shape scrapers/main.py:241-242). */
  val GeometrySchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("coordinates",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))))

  /** stg_noaa_weather.sql:19-79 — incl. the state-code extraction, alert
    * duration, and severity×urgency risk matrix. With `parseGeometry` the
    * staged table also carries the raw GeoJSON string plus its typed
    * struct (malformed JSON parses to null, never fails the pipeline). */
  def noaaWeather(raw: DataFrame, runTs: Timestamp, parseGeometry: Boolean = false): DataFrame = {
    val geoCols =
      if (parseGeometry)
        Seq(col("geometry"), from_json(col("geometry"), GeometrySchema).as("geometry_struct"))
      else Seq.empty[Column]
    val std = raw
      .filter(col("alert_id").isNotNull && col("effective").isNotNull)
      .select(geoCols ++ Seq(
        col("alert_id"),
        upper(trim(col("event"))).as("weather_event"),
        upper(trim(col("severity"))).as("severity_level"),
        upper(trim(col("urgency"))).as("urgency_level"),
        upper(trim(col("certainty"))).as("certainty_level"),
        trim(col("headline")).as("alert_headline"),
        trim(col("description")).as("alert_description"),
        trim(col("instruction")).as("public_instruction"),
        trim(col("area_desc")).as("affected_area_description"),
        // state extraction: join-based mapping beats the reference's LIKE
        // ladder (stg_noaa_weather.sql:38-44); the 2-letter token regex is
        // its pandas counterpart (processed_data.py:172)
        regexp_extract(col("area_desc"), "\\b([A-Z]{2})\\b", 1).as("state_code"),
        col("effective").as("effective_datetime"),
        col("expires").as("expires_datetime"),
        to_date(col("effective")).as("effective_date"),
        to_date(col("expires")).as("expires_date"),
        ((col("expires").cast("long") - col("effective").cast("long")) / 3600).cast("int")
          .as("alert_duration_hours"),
        when(col("severity") === "Extreme" && col("urgency") === "Immediate", "CRITICAL")
          .when(col("severity") === "Severe" && col("urgency").isin("Immediate", "Expected"), "HIGH")
          .when(col("severity") === "Moderate", "MEDIUM")
          .otherwise("LOW").as("risk_level"),
        col("ingestion_timestamp"),
        col("data_source")
      ): _*)
    auditCols(std, retentionDays = 1095, runTs)
  }

  /** Unit-normalizing unwraps for the NOAA `{value, unitCode}` measurement
    * structs (scrapers/main.py:294-298 discards the unit; here it drives
    * explicit conversion to canonical units, then range validation). A
    * null struct or null value flows through as null — a feed outage on
    * one field never fails the pipeline. NOAA WMO unit codes, e.g.
    * "wmoUnit:degC", "wmoUnit:m_s-1", "wmoUnit:Pa". */
  private def celsiusOf(field: String): Column = {
    val v = col(s"$field.value")
    when(col(s"$field.unitCode").endsWith("degF"), (v - 32) * 5.0 / 9.0).otherwise(v)
  }
  private def kmhOf(field: String): Column = {
    val v = col(s"$field.value")
    when(col(s"$field.unitCode").endsWith("m_s-1"), v * 3.6).otherwise(v)
  }
  private def hpaOf(field: String): Column = {
    val v = col(s"$field.value")
    when(col(s"$field.unitCode").endsWith(":Pa"), v / 100.0).otherwise(v)
  }

  /** Observations staging: nested measurement structs unwrapped via dotted
    * projections, units normalized (degF→degC, m/s→km/h, Pa→hPa, m→km),
    * then range-validated like the CoAgMet feed. Struct-typed sibling of
    * stg_coagmet_data; source shape scrapers/main.py:254-298. */
  def noaaObservations(raw: DataFrame, runTs: Timestamp): DataFrame = {
    val std = raw
      .filter(col("station_id").isNotNull && col("timestamp").isNotNull)
      .select(
        col("station_id"),
        col("timestamp").as("observation_datetime"),
        to_date(col("timestamp")).as("observation_date"),
        hour(col("timestamp")).as("observation_hour"),
        rangeValid(celsiusOf("temperature"), -60, 60).as("temperature_celsius"),
        rangeValid(celsiusOf("dewpoint"), -60, 40).as("dewpoint_celsius"),
        rangeValid(col("wind_direction.value"), 0, 360).as("wind_direction_degrees"),
        rangeValid(kmhOf("wind_speed"), 0, 300).as("wind_speed_kmh"),
        rangeValid(kmhOf("wind_gust"), 0, 400).as("wind_gust_kmh"),
        rangeValid(hpaOf("barometric_pressure"), 800, 1100).as("barometric_pressure_hpa"),
        rangeValid(hpaOf("sea_level_pressure"), 800, 1100).as("sea_level_pressure_hpa"),
        rangeValid(col("visibility.value") / 1000.0, 0, 500).as("visibility_km"),
        rangeValid(celsiusOf("max_temperature_last_24_hours"), -60, 60).as("max_temp_24h_celsius"),
        rangeValid(celsiusOf("min_temperature_last_24_hours"), -60, 60).as("min_temp_24h_celsius"),
        rangeValid(col("precipitation_last_hour.value"), 0, 500).as("precip_1h_mm"),
        rangeValid(col("precipitation_last_3_hours.value"), 0, 1000).as("precip_3h_mm"),
        rangeValid(col("precipitation_last_6_hours.value"), 0, 1500).as("precip_6h_mm"),
        rangeValid(col("relative_humidity.value"), 0, 100).as("relative_humidity_percent"),
        rangeValid(celsiusOf("wind_chill"), -80, 30).as("wind_chill_celsius"),
        rangeValid(celsiusOf("heat_index"), 0, 70).as("heat_index_celsius"),
        col("ingestion_timestamp"),
        col("data_source")
      )
    auditCols(std, retentionDays = 1095, runTs)
  }

  /** stg_coagmet_data.sql:19-84 — range-validated measurements, heat
    * index, agricultural risk indicator. */
  def coagmetData(raw: DataFrame, runTs: Timestamp): DataFrame = {
    val std = raw
      .filter(col("station_id").isNotNull && col("timestamp").isNotNull)
      .select(
        col("station_id"),
        trim(col("station_name")).as("station_name"),
        round(col("latitude"), 6).as("latitude"),
        round(col("longitude"), 6).as("longitude"),
        col("timestamp").as("observation_datetime"),
        to_date(col("timestamp")).as("observation_date"),
        hour(col("timestamp")).as("observation_hour"),
        rangeValid(col("temperature"), -50, 60).as("temperature_celsius"),
        rangeValid(col("humidity"), 0, 100).as("relative_humidity_percent"),
        rangeValid(col("wind_speed"), 0, 200).as("wind_speed_kmh"),
        rangeValid(col("precipitation"), 0, 500).as("precipitation_mm"),
        when(col("temperature").isNotNull && col("humidity").isNotNull,
          round(col("temperature") - ((lit(100) - col("humidity")) / 5), 2))
          .as("heat_index_celsius"),
        when(col("temperature") < -5, "FREEZE_WARNING")
          .when(col("temperature") > 35, "HEAT_WARNING")
          .when(col("wind_speed") > 50, "WIND_WARNING")
          .when(col("precipitation") > 25, "HEAVY_RAIN")
          .otherwise("NORMAL").as("agricultural_risk_indicator"),
        col("ingestion_timestamp"),
        col("data_source")
      )
    auditCols(std, retentionDays = 1095, runTs)
  }

  /** State standardization as a broadcast join against the key lookup —
    * replaces the reference's ~120-branch CASE
    * (macros/standardize_state_code.sql): accepts 2-letter codes, full
    * names (any case), or FIPS codes; unknown values yield null.
    * Join-based so new aliases are data, not code, and the expression
    * stays tiny (SURVEY §2.8). */
  def standardizeStateCode(df: DataFrame, inputCol: String, outputCol: String): DataFrame = {
    val lookup = SeedData.stateKeyLookupDf(df.sparkSession)
      .withColumnRenamed("canonical_code", outputCol)
    df.withColumn("__state_key", lower(trim(col(inputCol))))
      .join(org.apache.spark.sql.functions.broadcast(lookup),
        col("__state_key") === col("state_key"), "left")
      .drop("__state_key", "state_key")
  }

  /** stg_usda_data.sql:19-80 — LPAD county codes, validated money columns,
    * loss ratio + loss category. */
  def usdaData(raw: DataFrame, runTs: Timestamp): DataFrame = {
    val std = raw
      .filter(col("program_year").isNotNull && col("state_code").isNotNull &&
        col("county_code").isNotNull && col("commodity").isNotNull)
      .select(
        col("program_year").cast("int").as("program_year"),
        upper(trim(col("state_code"))).as("state_code"),
        lpad(trim(col("county_code")), 3, "0").as("county_code"),
        upper(trim(col("commodity"))).as("commodity_name"),
        upper(trim(col("practice"))).as("farming_practice"),
        when(col("coverage_level").between(0, 100), round(col("coverage_level"), 2))
          .as("coverage_level_percent"),
        when(col("premium_amount") >= 0, round(col("premium_amount"), 2)).as("premium_amount_usd"),
        when(col("liability_amount") >= 0, round(col("liability_amount"), 2)).as("liability_amount_usd"),
        when(col("indemnity_amount") >= 0, round(col("indemnity_amount"), 2)).as("indemnity_amount_usd"),
        when(col("premium_amount") > 0 && col("indemnity_amount") >= 0,
          round(col("indemnity_amount") / col("premium_amount"), 4)).as("loss_ratio"),
        when(col("indemnity_amount") > col("liability_amount") * 0.5, "HIGH_LOSS")
          .when(col("indemnity_amount") > col("liability_amount") * 0.25, "MODERATE_LOSS")
          .when(col("indemnity_amount") > 0, "LOW_LOSS")
          .otherwise("NO_LOSS").as("loss_category"),
        col("ingestion_timestamp"),
        col("data_source")
      )
    auditCols(std, retentionDays = 1825, runTs)
  }
}
