package graft

import java.sql.Timestamp

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.core.DriverLoaderPlugin
import graft.em.{Fixtures, Staging}

/** Each generated class is compiled once per JVM: local-mode tasks run
  * under the driver's class loader (`DriverLoaderPlugin`), so they and
  * later sessions reuse the driver's classes, and a per-run clock is not
  * part of the generated source (`ClockLiteral`). */
class CompileOnceSpec extends SparkSpecBase {
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("local-mode tasks run with the driver's context class loader") {
    val driver = System.identityHashCode(Thread.currentThread.getContextClassLoader)
    val seen = spark.sparkContext.parallelize(1 to 8, 4)
      .map(_ => System.identityHashCode(Thread.currentThread.getContextClassLoader))
      .collect().toSet
    assert(seen == Set(driver))
  }

  test("a plan re-run in a new session compiles no class") {
    val base = 1000000009L * (1 + scala.util.Random.nextInt(1 << 20))
    def plan(s: org.apache.spark.sql.SparkSession): Long =
      s.range(0, 64, 1, 2).select((col("id") * lit(base)).as("x")).collect().map(_.getLong(0)).sum
    val first = plan(spark)
    val c0 = compiles
    assert(plan(spark.newSession()) == first)
    assert(compiles - c0 == 0, "the new session's tasks compiled the plan again")
  }

  test("the plugin applies to a local master without jars or REPL classes only") {
    def conf(master: String, kv: (String, String)*) = new SparkConf(false).setMaster(master).setAll(kv)
    Seq("local", "local[4]", "local[*]", "local[4,2]").foreach(m => assert(DriverLoaderPlugin.applies(conf(m)), m))
    Seq("spark://host:7077", "local-cluster[2,1,1024]", "yarn", "k8s://https://host:443")
      .foreach(m => assert(!DriverLoaderPlugin.applies(conf(m)), m))
    assert(!DriverLoaderPlugin.applies(conf("local[4]", "spark.jars" -> "/opt/app/udfs.jar")))
    assert(!DriverLoaderPlugin.applies(conf("local[4]", "spark.repl.class.outputDir" -> "/tmp/repl")))
    assert(DriverLoaderPlugin.applies(conf("local[4]", "spark.jars" -> "")))
  }

  test("a staging plan run at a new clock compiles no class; only its clock columns change") {
    val raw = Fixtures.fema(spark, 200)
    // clock values no other suite uses, so the first run compiles its own classes
    val t1 = new Timestamp((19000L + scala.util.Random.nextInt(1000)) * 86400000L + 3600000L)
    val t2 = new Timestamp(t1.getTime + 86400000L + 5400000L)
    val a = Staging.femaDisasters(raw, t1).collect()
    val c0 = compiles
    val b = Staging.femaDisasters(raw, t2).collect()
    assert(compiles - c0 == 0, "the new clock compiled new classes")

    val clockCols = Set("processed_at", "retention_date")
    def rest(rows: Array[Row]) =
      rows.map(r => r.schema.fieldNames.filterNot(clockCols).map(f => String.valueOf(r.getAs[Any](f))).toSeq)
        .sortBy(_.mkString("\u0001")).toSeq
    assert(a.length == 200 && rest(a) == rest(b))
    assert(a.forall(_.getAs[Timestamp]("processed_at") == t1))
    assert(b.forall(_.getAs[Timestamp]("processed_at") == t2))
    val days = a.zip(b).map { case (x, y) =>
      (y.getAs[java.sql.Date]("retention_date").toLocalDate.toEpochDay -
        x.getAs[java.sql.Date]("retention_date").toLocalDate.toEpochDay)
    }.toSet
    assert(days == Set(1L))
  }
}
