package graft.core

import org.apache.spark.sql.SparkSession

/** Single place where engine sessions are configured (SURVEY §7.1).
  *
  * The settings below are the 100 TB posture of this engine, stated once:
  * everything here is cluster-agnostic — the same conf drives local[32]
  * tests and a 1000-executor deployment, where only master/memory/executor
  * counts (submit-time concerns) change.
  *
  *   - UTC session time zone: the reference stamps rows with NOW() in
  *     server time; pinning UTC makes every date/fiscal-year expression
  *     deterministic across the fleet.
  *   - AQE on with skew-join splitting: state-keyed EM data is heavily
  *     skewed (CA/TX dominate declarations) — AQE re-splits oversized
  *     post-shuffle partitions at runtime, complementing the explicit
  *     salting in operators/Skew.
  *   - 64 MiB advisory shuffle partition size + partition coalescing:
  *     keeps reducer partitions memory-sized regardless of the static
  *     shuffle.partitions setting, so the same plan survives a 100×
  *     scale-up without retuning.
  *   - 256 MiB scan split size: at 100 TB this yields ~400k well-sized scan
  *     tasks instead of millions of tiny ones (footer/scheduler overhead).
  *   - zstd parquet output: best-ratio codec Spark ships; bronze/gold
  *     tables at 100 TB are storage-bound before they are CPU-bound.
  *   - int64-micros parquet timestamps: modern engines (DuckDB, Trino,
  *     Arrow) read them natively — no INT96 legacy path.
  *   - a 2000-class generated-code cache (Spark's default is 100):
  *     repeated plans — a board entry's second pass, the next session
  *     block's driver-side plans, a daily refresh replaying one DAG —
  *     reuse their compiled classes instead of paying Janino again. The
  *     conf is static and JVM-wide: `CodeGenerator` sizes its cache once,
  *     from the conf active when it first initialises, so only the first
  *     session of a JVM sets it. The largest working set measured is
  *     Bench's first 40-entry session block at sf0.01 (the memo readers):
  *     1,120 distinct classes, driver and executor copies together,
  *     counted with an unbounded cache (4 cores, 2026-10); the other four
  *     blocks compiled 564–878 more. The cache splits its size over four
  *     LRU segments, hence the headroom above 1,120.
  *   - one copy per generated class in local mode: the cache key is
  *     (context class loader, source), and each session's tasks would
  *     otherwise compile their own copy under that session's executor
  *     loader. `DriverLoaderPlugin` (`spark.plugins`) runs local-mode tasks
  *     under the driver's loader, so a task finds the class the driver
  *     compiled, and so does every later session and SparkContext of the
  *     JVM. On a cluster the plugin does nothing.
  */
object SparkSessionFactory {

  def applyEngineDefaults(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    .config("spark.sql.files.maxPartitionBytes", "256m")
    .config("spark.sql.parquet.compression.codec", "zstd")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Parquet writers disagree on isAdjustedToUTC for timestamp[us]
    // (pyarrow/pandas default false); with NTZ inference on, the same
    // logical column reads back TIMESTAMP_NTZ on some testdata
    // generations and TIMESTAMP on others — and NTZ is rejected by
    // withWatermark, breaking every event-time streaming job. Treat all
    // parquet timestamps as instants in the (UTC) session zone for one
    // stable logical schema regardless of writer.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.plugins", "graft.core.DriverLoaderPlugin")

  /** Local session sized by SPARK_GRAFT_CPUS (driver contract default 32,
    * mirroring the grading harness), shuffle partitions = 32 per the
    * environment contract. On a real cluster the same defaults apply and
    * master/shuffle sizing come from spark-submit. */
  def local(appName: String, defaultCpus: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = applyEngineDefaults(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
