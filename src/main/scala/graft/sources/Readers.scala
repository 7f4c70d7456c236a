package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Bronze-layer readers (SURVEY §2.1 S8/S9 + ST3's lenient parse): typed
  * CSV/JSON scans with explicit schemas (fail-fast) and a
  * PERMISSIVE JSON path that quarantines corrupt records instead of
  * failing the batch (Flink's json.ignore-parse-errors parity,
  * scrapers/main.py:92).
  */
object Readers {

  /** Typed CSV with header (seed-dim loading, dbt_project.yml:86-104). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Permissive JSON: rows that fail the declared schema land whole in
    * `_corrupt_record`; `valid`/`rejects` split them. Schema must carry the
    * corrupt-record column explicitly (Spark requirement). */
  def jsonPermissive(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else StructType(schema.fields :+ StructField("_corrupt_record", StringType))
    // cached: Spark refuses corrupt-record-only scans against raw JSON
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the documented pattern is to
    // cache the parsed frame, then split valid/rejects from it (one scan)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
  }

  def valid(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** Quarantined rows, whole record kept. (Spark disallows scans whose
    * only referenced column is the internal corrupt-record column, so the
    * full row is retained — which is what a quarantine sink wants anyway.) */
  def rejects(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNotNull)
}
