package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loader for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `dir` (e.g. /root/testdata/sf0.01).
  * Every query entry point receives (SparkSession, sfDir) and goes through
  * here, so scans stay declarative and Catalyst can push filters/prune
  * columns into the parquet reader. Every read goes through
  * [[Tables.parquet]], so each file version's footer is read once per JVM.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    Tables.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")

  /** events.ts has shipped in two physical forms across driver testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark 4 refuses to read
    * as a timestamp, so it's read as raw nanos under the legacy conf — and
    * plain TIMESTAMP(MICROS), which reads natively. Normalize both to
    * TimestampType here so every query sees one logical schema. */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(table("events"))
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  import org.apache.spark.sql.functions.{col, expr, from_utc_timestamp, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Most schemas the memo holds; beyond it the oldest entry is dropped. */
  private val MaxSchemas = 256

  /** What a parquet schema is a function of: the qualified path, the
    * identity of the files under it, and the session confs the parquet
    * schema converter reads. */
  private final case class SchemaKey(
      path: String,
      files: Seq[(String, Long, Long)],
      confs: Seq[(String, String)])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()
  /** Insertion order for the size cap (oldest first). */
  private val order = new java.util.concurrent.ConcurrentLinkedQueue[SchemaKey]()

  /** `spark.read.parquet(path)` without the schema-inference job on every
    * call. Spark infers a parquet schema by running a one-task job over the
    * footer; this reader runs it once per file version and JVM and
    * otherwise hands the remembered schema to `spark.read.schema(..)`.
    * Every call returns a fresh relation (fresh attribute ids), so
    * self-joins behave as they do over a bare read.
    *
    * Memo contract:
    *   - the key is the qualified path; the (relative name, length,
    *     modification time) of the file, or, for a directory, of every
    *     visible leaf file under it, sorted (names starting with `_` or
    *     `.` are hidden, as in Spark's own listing); and every explicitly
    *     set session conf whose key contains `parquet`, plus
    *     `spark.sql.caseSensitive` (`nanosAsLong`, `binaryAsString`,
    *     `inferTimestampNTZ` and the rest of what the schema converter
    *     reads). A rewritten file or a changed conf is a new key, so a
    *     stale schema cannot come back;
    *   - the memo is JVM-wide and holds at most [[MaxSchemas]] entries,
    *     dropping the oldest first (as [[FrameMemo]] does);
    *   - a path that does not exist (or a glob) is read by
    *     `spark.read.parquet` as is, so its error is Spark's own.
    *
    * Not used where the input changes on every call: `Upsert` targets,
    * `StreamingJobs.passThroughToBronze`, staged temp directories,
    * `streamingCdcApply`'s `pathGlobFilter` read and the incremental
    * near-dup's signature-index reads keep a bare `spark.read.parquet` —
    * there the memo would only ever miss and keep dead entries. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    fileIdentity(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((qualified, files)) =>
        val key = SchemaKey(qualified, files, schemaConfs(spark))
        val schema = Option(schemas.get(key)).getOrElse {
          val inferred = spark.read.parquet(path).schema
          // a rewrite racing the inference must not pin its schema to the
          // file identity read before it
          if (fileIdentity(spark, path).contains((qualified, files))) remember(key, inferred)
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }

  private def remember(key: SchemaKey, schema: StructType): Unit =
    if (schemas.putIfAbsent(key, schema) == null) {
      order.add(key): Unit
      var oldest: SchemaKey = null
      while (schemas.size > MaxSchemas && { oldest = order.poll(); oldest != null })
        schemas.remove(oldest): Unit
    }

  private def schemaConfs(spark: SparkSession): Seq[(String, String)] =
    (spark.conf.getAll.filter(_._1.contains("parquet")).toSeq :+
      ("spark.sql.caseSensitive" -> spark.conf.get("spark.sql.caseSensitive"))).sorted

  /** Spark's rule for files and directories a file listing skips. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The qualified path and the sorted (relative name, length,
    * modification time) of its visible leaf files; None when the path
    * does not exist. */
  private def fileIdentity(
      spark: SparkSession, path: String): Option[(String, Seq[(String, Long, Long)])] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(dir: Path, prefix: String): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        val name = prefix + s.getPath.getName
        if (s.isDirectory) leaves(s.getPath, name + "/")
        else Seq((name, s.getLen, s.getModificationTime))
      }
    try {
      val status = fs.getFileStatus(p)
      val files =
        if (status.isDirectory) leaves(status.getPath, "").sorted
        else Seq(("", status.getLen, status.getModificationTime))
      Some((fs.makeQualified(p).toString, files))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Normalize an events-shaped frame's `ts` to TimestampType regardless of
    * the on-disk representation:
    *   - epoch-nanos LongType (TIMESTAMP(NANOS) testdata read under
    *     `spark.sql.legacy.parquet.nanosAsLong`) is truncated to micros with
    *     exact integer division (a double division would lose precision at
    *     ~1.7e18 ns epochs — matches DuckDB's ns->us truncation);
    *   - TIMESTAMP_NTZ (timestamp[us] written with isAdjustedToUTC=false,
    *     read by a session with NTZ inference on) is reinterpreted as a UTC
    *     instant — same wall-clock micros, watermark-compatible type. The
    *     NTZ→TIMESTAMP cast itself interprets the wall-clock in the SESSION
    *     zone, so for non-UTC sessions (user notebooks — engine sessions
    *     pin UTC) the cast is re-shifted with from_utc_timestamp; the two
    *     cancel to the UTC-instant reading in any zone (up to DST-ambiguous
    *     local times, which a UTC-pinned engine never produces);
    *   - a native TimestampType passes through untouched.
    * A frame WITHOUT the column is a caller bug (an upstream rename or a
    * wrong table) — fail fast rather than silently skipping normalization
    * and letting a LongType ts reach a watermark later. */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema.find(_.name == tsCol) match {
      case None =>
        throw new IllegalArgumentException(
          s"normalizeTs: column `$tsCol` not found in schema " +
            df.schema.fieldNames.mkString("[", ", ", "]"))
      case Some(f) if f.dataType == LongType =>
        // backtick-quoted so non-identifier column names parse correctly
        df.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` div 1000")))
      case Some(f) if f.dataType == TimestampNTZType =>
        val zone = df.sparkSession.conf.get("spark.sql.session.timeZone")
        df.withColumn(tsCol,
          from_utc_timestamp(col(tsCol).cast(TimestampType), zone))
      case _ => df
    }
}
