package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DateType, StringType, TimestampType}
import graft.core.{QueryMetrics, Tables}

/** Tables.normalizeTs: all three on-disk ts forms → one logical schema.
  * The engine session reads parquet with NTZ inference OFF, but sessions
  * built elsewhere (user code, notebooks) may hand frames over with NTZ
  * columns — the normalizer must cover that path too.
  *
  * Tables.parquet: the schema memo reads exactly what a bare
  * `spark.read.parquet` reads, skips the inference job on a repeat read,
  * and never serves a schema after the file or a schema conf changed. */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("tables-spec")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Spark jobs started on this thread while `body` runs, counted in a
    * metrics scope of its own. */
  private def jobsDuring(body: => Unit): Long = {
    val sc = spark.sparkContext
    val scope = s"tables-spec-${java.util.UUID.randomUUID()}"
    val metrics = QueryMetrics.attach(sc)
    try {
      QueryMetrics.scoped(sc, scope)(body)
      metrics.take(scope)("jobs")
    } finally metrics.detach()
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

  test("Tables.parquet reads every sf0.001 table exactly as spark.read.parquet does") {
    // events needs the legacy nanos conf to read at all, as Tables.events sets it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      val path = s"$Sf0001/$t.parquet"
      val bare = spark.read.parquet(path)
      Seq(Tables.parquet(spark, path), Tables.parquet(spark, path)).foreach { memo =>
        // StructField is a case class: equality covers names, types,
        // nullability and field metadata
        assert(memo.schema == bare.schema, t)
        assertSameRows(memo, bare)
      }
    }
  }

  test("a second Tables.parquet read of an unchanged file runs no Spark job") {
    withTempDir { dir =>
      val path = dir.resolve("t.parquet").toString
      Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(path)
      assert(jobsDuring(Tables.parquet(spark, path).schema: Unit) >= 1)
      assert(jobsDuring(Tables.parquet(spark, path).schema: Unit) == 0)
      // each call is a fresh relation: a self-join resolves both sides
      val (l, r) = (Tables.parquet(spark, path), Tables.parquet(spark, path))
      assert(l.join(r, l("k") === r("k")).count() == 2)
    }
  }

  test("rewriting a path with an added column shows the new schema on the next read") {
    withTempDir { dir =>
      val path = dir.resolve("t.parquet").toString
      Seq((1, "a")).toDF("k", "v").write.parquet(path)
      assert(Tables.parquet(spark, path).columns.toSeq == Seq("k", "v"))
      Seq((2, "b", 3.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(path)
      val again = Tables.parquet(spark, path)
      assert(again.schema == spark.read.parquet(path).schema)
      assert(again.columns.toSeq == Seq("k", "v", "w"))
      assert(again.as[(Int, String, Double)].collect().toSeq == Seq((2, "b", 3.5)))
    }
  }

  test("a BinaryType file reads as binary, then as string under binaryAsString") {
    // written without Spark's schema footer, so the parquet converter (and
    // its binaryAsString conf) decides the column type
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    withTempDir { dir =>
      val path = dir.resolve("bin.parquet").toString
      val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
      val writer = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(path))
        .withConf(spark.sparkContext.hadoopConfiguration)
        .withType(schema)
        .build()
      try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "xyz"))
      finally writer.close()
      val key = "spark.sql.parquet.binaryAsString"
      assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      try {
        val asString = Tables.parquet(spark, path)
        assert(asString.schema("b").dataType == StringType)
        assert(asString.as[String].collect().toSeq == Seq("xyz"))
      } finally spark.conf.unset(key)
      assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
    }
  }

  test("a date-partitioned directory keeps its partition column") {
    withTempDir { dir =>
      val path = dir.resolve("parted").toString
      Seq((1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-02")).toDF("k", "dt")
        .withColumn("dt", to_date(col("dt")))
        .write.partitionBy("dt").parquet(path)
      val bare = spark.read.parquet(path)
      Seq(Tables.parquet(spark, path), Tables.parquet(spark, path)).foreach { memo =>
        assert(memo.schema == bare.schema)
        assert(memo.schema("dt").dataType == DateType)
        assertSameRows(memo, bare)
        assert(memo.filter(col("dt") === lit("2024-01-02").cast("date")).count() == 2)
      }
    }
  }

  test("a missing path raises the same AnalysisException condition as spark.read.parquet") {
    val missing = "/nonexistent/graft/tables-spec/missing.parquet"
    val bare = intercept[AnalysisException](spark.read.parquet(missing))
    val memo = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(memo.getCondition == bare.getCondition)
    assert(memo.getCondition == "PATH_NOT_FOUND")
  }

  test("TIMESTAMP_NTZ ts is reinterpreted as the same UTC wall-clock instant") {
    val ntz = spark.sql("SELECT TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ts, 1 AS x")
    val out = Tables.normalizeTs(ntz)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as[String].head()
      == "2024-01-02 03:04:05")
  }

  test("epoch-nanos LongType ts truncates to micros; weird column names parse") {
    val nanos = Seq((1704164645123456789L, 1)).toDF("odd ts", "x")
    val out = Tables.normalizeTs(nanos, "odd ts")
    assert(out.schema("odd ts").dataType == TimestampType)
    assert(out.select(col("`odd ts`").cast("long")).as[Long].head() == 1704164645L)
  }

  test("native TimestampType passes through; a missing ts column fails fast") {
    val ts = spark.sql("SELECT TIMESTAMP '2024-01-02 03:04:05' AS ts")
    assert(Tables.normalizeTs(ts).schema("ts").dataType == TimestampType)
    val none = Seq((1, 2)).toDF("a", "b")
    val err = intercept[IllegalArgumentException](Tables.normalizeTs(none))
    assert(err.getMessage.contains("`ts` not found"))
  }
}
