package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Spark's generated-class cache under the engine defaults: a warm repeat
  * of a plan compiles nothing, even after more distinct plans than Spark's
  * default cache (100 classes) holds have run since. The cache is sized
  * once per JVM, when `CodeGenerator` first initialises, from the session
  * conf active then; every session in the test JVM is SparkSpecBase's, so
  * that is the engine conf whichever suite runs first. */
class CodegenCacheSpec extends SparkSpecBase {
  private val Key = "spark.sql.codegen.cache.maxEntries"
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("applyEngineDefaults sets the generated-class cache size") {
    assert(spark.conf.get(Key) == "2000")
    assert(spark.sparkContext.getConf.get(Key) == "2000")
  }

  test("a warm plan compiles nothing after more than 100 distinct plans ran since") {
    // a distinct literal per plan, from a base no other suite uses: each
    // plan compiles its own classes, once, on the driver (its tasks reuse
    // them, CompileOnceSpec)
    val base = 1000000007L * (1 + scala.util.Random.nextInt(1 << 20))
    def plan(i: Int): Long =
      spark.range(0, 64, 1, 1).select((col("id") * lit(base + i)).as("x")).collect().map(_.getLong(0)).sum
    val first = plan(0)
    val c0 = compiles
    (1 to 120).foreach(plan(_): Unit)
    val c1 = compiles
    assert(c1 - c0 > 100, s"the distinct plans compiled only ${c1 - c0} classes")
    assert(plan(0) == first)
    assert(compiles - c1 == 0, "the warm plan was compiled again")
  }
}
