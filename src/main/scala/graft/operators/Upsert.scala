package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent key-based upsert over parquet — the reference's
  * `INSERT ... ON DUPLICATE KEY UPDATE` bulk loader
  * (resources/database.py:86-138) re-expressed as a deterministic
  * window-dedup + rewrite (SURVEY §2.1 S15). No Delta/Iceberg in this
  * environment, so MERGE is emulated: union existing+batch, keep the
  * newest row per key.
  */
object Upsert {

  /** Keep the latest row per key, ordered by (versionCol desc, tiebreak
    * asc) — deterministic under re-runs and re-partitioning. */
  def latestByKey(df: DataFrame, keys: Seq[String], versionCol: String, tiebreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc, col(tiebreak).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Apply a CDC changelog (the Debezium / Delta-change-feed apply step):
    * keep the newest change per key, then drop keys whose newest change is
    * a delete tombstone — the materialized table a CDC feed converges to.
    * Upserts-with-deletes is the one merge shape [[latestByKey]] (u5) and
    * SCD2 history (u8) don't express. Same ONE-window plan as
    * latestByKey plus a post-window filter; deterministic under
    * re-partitioning via the tiebreak. Streaming twin:
    * `StreamingJobs.cdcApply` (flatMapGroupsWithState keep-latest with
    * tombstone state). */
  def cdcApply(
      changes: DataFrame,
      keys: Seq[String],
      versionCol: String,
      tiebreak: String,
      isDelete: org.apache.spark.sql.Column
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc, col(tiebreak).asc)
    changes
      .withColumn("__del", isDelete)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("__del"))
      .drop("__rn", "__del")
  }

  /** Diff two snapshots of a keyed table — the added / removed / changed /
    * unchanged report a data-versioning layer (Delta time travel, Iceberg
    * snapshots) answers, and the audit artifact an incremental pipeline
    * publishes with each run. ONE full-outer hash join on the key (each
    * side shuffles once); "changed" compares `compareCols` null-safely;
    * `carryCols` ride along un-compared (version stamps, row ids). */
  def snapshotDiff(
      v1: DataFrame,
      v2: DataFrame,
      key: String,
      compareCols: Seq[String],
      carryCols: Seq[String] = Nil
  ): DataFrame = {
    val outCols = compareCols ++ carryCols
    val a = v1.select(col(key).as("__k1") +: outCols.map(c => col(c).as(s"v1_$c")): _*)
    val b = v2.select(col(key).as("__k2") +: outCols.map(c => col(c).as(s"v2_$c")): _*)
    val changed = compareCols.map(c => !(col(s"v1_$c") <=> col(s"v2_$c"))).reduce(_ || _)
    a.join(b, col("__k1") === col("__k2"), "full_outer")
      .select(
        coalesce(col("__k1"), col("__k2")).as(key) +:
          when(col("__k2").isNull, "removed")
            .when(col("__k1").isNull, "added")
            .when(changed, "changed")
            .otherwise("unchanged").as("status") +:
          outCols.flatMap(c => Seq(col(s"v1_$c"), col(s"v2_$c"))): _*)
  }

  /** Upsert `batch` into the parquet table at `path`. Reads existing rows
    * (if any), window-dedups by key, rewrites. At scale this should target
    * only affected date partitions (partition-overwrite); for the bronze
    * tables here the full-rewrite path is exercised and the partitioned
    * variant is `upsertPartitioned`. */
  def upsertParquet(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      keys: Seq[String],
      versionCol: String,
      tiebreak: String
  ): Unit = {
    val existing =
      if (new java.io.File(path).exists()) Some(spark.read.parquet(path)) else None
    val merged = existing match {
      case Some(cur) => latestByKey(cur.unionByName(batch, allowMissingColumns = true), keys, versionCol, tiebreak)
      case None      => latestByKey(batch, keys, versionCol, tiebreak)
    }
    // write via temp dir, then swap — parquet sources can't overwrite in
    // place; Files.move throws on a failed swap instead of leaving no table
    val tmp = path + "__tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val target = new java.io.File(path)
    if (target.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(target)
    }
    java.nio.file.Files.move(new java.io.File(tmp).toPath, target.toPath): Unit
  }

  /** Partition-scoped upsert: only the date partitions present in the batch
    * are read+merged+overwritten (dynamic partition overwrite, set on this
    * write alone — the session's overwrite mode is left as it is) — the
    * 100 TB path, where a batch touches a handful of recent dates. */
  def upsertPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      path: String,
      partCol: String,
      keys: Seq[String],
      versionCol: String,
      tiebreak: String
  ): Unit = {
    val exists = new java.io.File(path).exists()
    val merged = if (exists) {
      val parts = batch.select(partCol).distinct()
      val affected = spark.read.parquet(path).join(broadcast(parts), Seq(partCol), "left_semi")
      latestByKey(affected.unionByName(batch, allowMissingColumns = true), keys, versionCol, tiebreak)
    } else latestByKey(batch, keys, versionCol, tiebreak)
    merged.write.mode(if (exists) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
  }
}
