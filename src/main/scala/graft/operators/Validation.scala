package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality checks — the reference's SchemaValidator /
  * QualityValidator / ComplianceValidator (utils/data_validation.py:55-588)
  * and its 17 singular dbt tests (tests/data_quality_tests.yml) recast as
  * DataFrame aggregations. Every check is a single distributed aggregate:
  * no collect-based loops, so they run at table scale.
  */
object Validation {

  /** One check outcome; `failedCount == 0` means pass. */
  final case class Check(name: String, failed: Column)

  def acceptedValues(c: String, values: Seq[String]): Check =
    Check(s"accepted_values_$c", (!col(c).isInCollection(values) && col(c).isNotNull).cast("long"))

  def inRange(c: String, lo: Double, hi: Double): Check =
    Check(s"range_$c", ((col(c) < lo || col(c) > hi) && col(c).isNotNull).cast("long"))

  /** Temporal sanity: start must not exceed end (data_quality_tests.yml:17-26). */
  def ordered(startCol: String, endCol: String): Check =
    Check(s"ordered_${startCol}_$endCol", (col(startCol) > col(endCol)).cast("long"))

  /** PII regex scan (SSN / email / phone, data_quality_tests.yml:155-175). */
  def piiScan(c: String): Check = {
    val ssn   = col(c).rlike("\\b\\d{3}-\\d{2}-\\d{4}\\b")
    val email = col(c).rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    val phone = col(c).rlike("\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b")
    Check(s"pii_$c", (ssn || email || phone).cast("long"))
  }

  /** Run row-level checks in ONE aggregation pass; returns a long row of
    * failure counts keyed by check name. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame =
    df.agg(
      count(lit(1)).as("total_rows"),
      checks.map(ch => coalesce(sum(ch.failed), lit(0L)).as(ch.name)): _*
    )

  /** Uniqueness check: rows per duplicated key (dbt `unique`). */
  def duplicates(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)

  /** Referential integrity via anti-join (J5 / dbt `relationships`):
    * rows whose FK has no match in the dimension. */
  def brokenReferences(df: DataFrame, fk: String, dim: DataFrame, pk: String): DataFrame =
    df.join(broadcast(dim.select(col(pk).as(fk))), Seq(fk), "left_anti")

  /** Per-column completeness ratio (completeness ≥ 0.95 test,
    * data_quality_tests.yml:178-222). */
  def completeness(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(
      count(lit(1)).as("total_rows"),
      cols.map(c => (count(col(c)).cast("double") / count(lit(1))).as(s"${c}_completeness")): _*
    )

  /** Freshness: hours since newest `tsCol` vs an SLA threshold, evaluated
    * against an injected `asOf` clock for reproducibility (SURVEY §7.4.3). */
  def freshness(df: DataFrame, tsCol: String, asOf: java.sql.Timestamp, slaHours: Int): DataFrame =
    df.agg(max(col(tsCol)).as("last_update"))
      .select(
        col("last_update"),
        ((lit(asOf).cast("long") - col("last_update").cast("long")) / 3600.0).as("hours_since_update")
      )
      .withColumn("sla_hours", lit(slaHours))
      .withColumn("fresh", col("hours_since_update") <= slaHours)

  /** Volume-anomaly detection (ops/data_quality_ops.py:519-634): daily row
    * counts vs the trailing `window`-day average; days deviating more than
    * `tolerance`× from baseline are flagged. One groupBy + one window —
    * fully distributed, no driver-side loops (unlike the pandas original). */
  def volumeAnomalies(df: DataFrame, tsCol: String, window: Int, tolerance: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(to_date(col(tsCol)).as("day")).agg(count(lit(1)).as("row_cnt"))
    val w = Window.orderBy("day").rowsBetween(-window, -1)
    daily
      .withColumn("baseline", avg(col("row_cnt")).over(w))
      .withColumn("deviation", abs(col("row_cnt") - col("baseline")) / col("baseline"))
      .withColumn("is_anomaly", col("baseline").isNotNull && col("deviation") > tolerance)
  }

  /** Temporal-clustering anomaly (ops/data_quality_ops.py:577-589): all of
    * a group's records packed into a tiny time span (the reference flags a
    * batch whose timestamps span <6 minutes — a symptom of a stuck
    * scraper). One grouped aggregate; span math in exact integer micros. */
  def temporalClustering(
      df: DataFrame, groupCol: String, tsCol: String,
      maxSpanHours: Double, minRecords: Long
  ): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        min(col(tsCol)).as("first_ts"),
        max(col(tsCol)).as("last_ts")
      )
      .withColumn("span_hours",
        (unix_micros(col("last_ts")) - unix_micros(col("first_ts"))) / lit(3.6e9))
      .withColumn("is_clustered", col("span_hours") < maxSpanHours && col("n") > minRecords)

  /** Geographic/source constraints (ops/data_quality_ops.py:603-613 —
    * "CoAgMet must be CO-only") as a declarative per-source check: each
    * constrained source's rows outside its allowed region set (NULL counts
    * as a violation, as in the reference's `state != 'CO'` pandas filter).
    * One filtered aggregate over only the constrained sources. */
  def geoConstraintViolations(
      df: DataFrame, sourceCol: String, regionCol: String,
      allowed: Map[String, Seq[String]]
  ): DataFrame = {
    val violation = allowed.foldLeft(lit(false)) { case (acc, (src, regions)) =>
      when(col(sourceCol) === src,
        col(regionCol).isNull || !col(regionCol).isInCollection(regions)).otherwise(acc)
    }
    df.filter(col(sourceCol).isInCollection(allowed.keys.toSeq))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("total_rows"), count(when(violation, 1)).as("violations"))
      .withColumn("is_anomaly", col("violations") > 0)
  }

  /** Single-region concentration (ops/data_quality_ops.py:595-603): every
    * record of a sizeable source coming from one region. */
  def singleRegionConcentration(
      df: DataFrame, sourceCol: String, regionCol: String, minRecords: Long
  ): DataFrame =
    df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n"), countDistinct(col(regionCol)).as("n_regions"))
      .withColumn("is_anomaly", col("n_regions") === 1 && col("n") > minRecords)

  /** Dominant-category concentration (ops/data_quality_ops.py:699-716):
    * one category making up more than `maxShare` of a source's records
    * (when the source has >1 category). Grouped count + one window. */
  def dominantCategory(
      df: DataFrame, sourceCol: String, catCol: String, maxShare: Double
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sourceCol)
    df.groupBy(col(sourceCol), col(catCol)).agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(w))
      .withColumn("n_cats", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("cnt").desc, col(catCol))))
      .filter(col("rn") === 1)
      .select(
        col(sourceCol),
        col(catCol).as("dominant_cat"),
        (col("cnt").cast("double") / col("total")).as("share"),
        (col("n_cats") > 1 && col("cnt").cast("double") / col("total") > maxShare).as("is_anomaly"))
  }

  /** Population Stability Index per group — the standard distribution-
    * drift score monitoring systems compute between a baseline and a
    * current cohort (PSI = Σ_bins (pA−pB)·ln(pA/pB); ≥0.2 is the
    * conventional "significant shift" alarm). Values land in fixed-width
    * clamped bins so the binning is a pure projection; counts for BOTH
    * cohorts come from ONE scan and ONE (group, bin)-grain exchange;
    * cohort totals ride a group window over the tiny binned frame; +0.5
    * per-bin smoothing keeps ln() finite when a bin is empty on one side.
    * Scale shape: the corpus never shuffles twice — everything after the
    * first agg is O(groups × bins). */
  def psiDrift(
      df: DataFrame, groupCol: String, valueCol: String, cohortA: Column,
      binWidth: Double, nBins: Int, alarmAt: Double = 0.2
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bin = least(greatest(floor(col(valueCol) / binWidth), lit(0)), lit(nBins - 1)).cast("int")
    val cnt = df
      .select(col(groupCol), bin.as("bin"), cohortA.as("is_a"))
      .groupBy(col(groupCol), col("bin"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
    val w = Window.partitionBy(groupCol)
    val eps = nBins * 0.5
    val pa = (col("ca") + 0.5) / (col("ta") + eps)
    val pb = (col("cb") + 0.5) / (col("tb") + eps)
    cnt
      .withColumn("ta", sum(col("ca")).over(w))
      .withColumn("tb", sum(col("cb")).over(w))
      .withColumn("term", (pa - pb) * log(pa / pb))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("ca")).as("n_a"),
        sum(col("cb")).as("n_b"),
        round(sum(col("term")), 6).as("psi"))
      .withColumn("is_drift", col("psi") > alarmAt)
  }
}
