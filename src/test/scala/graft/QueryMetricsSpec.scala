package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.core.{FrameMemo, QueryMetrics}

/** [[graft.core.QueryMetrics]]: stage totals reconcile with task-end
  * events, scopes keep their jobs apart, a memo build counts under its own
  * `build:<memo>` scope (the innermost one when builds nest), codegen
  * compiles are charged once, to the innermost scope, and the enclosing
  * scope survives a build that throws. */
class QueryMetricsSpec extends SparkSpecBase {
  private def sc = spark.sparkContext
  private def unique(tag: String) = s"$tag-${java.util.UUID.randomUUID()}"

  private def withMetrics[T](body: QueryMetrics => T): T = {
    val m = QueryMetrics.attach(sc)
    try body(m) finally m.detach()
  }

  test("a shuffle query's stage task total equals its task-end count") {
    withMetrics { m =>
      val scope = unique("shuffle")
      QueryMetrics.scoped(sc, scope) {
        spark.range(0, 20000, 1, 8).groupBy((col("id") % 97).as("k")).count().collect(): Unit
      }
      val c = m.take(scope)
      assert(c("jobs") >= 1 && c("stages") >= 2, c)
      assert(c("tasks") > 0 && c("tasks") == c("task_ends"), c)
      assert(c("shuffle_write_bytes") > 0 && c("shuffle_read_bytes") > 0, c)
      assert(c("executor_run_ms") >= 0 && c("peak_execution_memory_bytes") > 0, c)
    }
  }

  test("two sequential scopes do not see each other's jobs") {
    withMetrics { m =>
      val (a, b) = (unique("a"), unique("b"))
      QueryMetrics.scoped(sc, a)(spark.range(0, 100, 1, 4).count(): Unit)
      QueryMetrics.scoped(sc, b)(())
      val jobsA = m.take(a)("jobs")
      assert(jobsA >= 1 && m.take(b)("jobs") == 0)
      QueryMetrics.scoped(sc, b)(spark.range(0, 100, 1, 4).count(): Unit)
      assert(m.take(b)("jobs") == jobsA)
      assert(m.take(a)("jobs") == 0, "a take resets the scope")
      // jobs outside any scope are not counted anywhere
      spark.range(0, 100, 1, 4).count(): Unit
      assert(m.take(a)("jobs") == 0 && m.take(b)("jobs") == 0)
    }
  }

  test("a nested memo build counts under its own build scope, not the consumer's") {
    val (outer, inner) = (FrameMemo("spec_metrics_outer"), FrameMemo("spec_metrics_inner"))
    withMetrics { m =>
      val consumer = unique("consumer")
      val df = QueryMetrics.scoped(sc, consumer) {
        outer.get(spark, "k") {
          val pairs = inner.get(spark, "k")(spark.range(0, 1000, 1, 4).toDF("x"))
          pairs.groupBy((col("x") % 7).as("k")).count()
        }
      }
      val c = m.take(consumer)
      assert(c("jobs") == 0 && c("codegen_compiles") == 0, s"the consumer ran no job of its own yet: $c")
      val (o, i) = (m.take("build:spec_metrics_outer"), m.take("build:spec_metrics_inner"))
      assert(i("jobs") >= 1 && i("tasks") == i("task_ends"), i)
      assert(o("jobs") >= 1 && o("shuffle_write_bytes") > 0 && o("tasks") == o("task_ends"), o)
      QueryMetrics.scoped(sc, consumer)(assert(df.count() == 7))
      assert(m.take(consumer)("jobs") >= 1)
    }
    outer.release()
    inner.release()
  }

  test("codegen counters charge each compile once, to the innermost scope") {
    withMetrics { m =>
      val (outer, inner) = (unique("codegen-outer"), unique("codegen-inner"))
      // a literal no other plan used, so the plan compiles new classes
      def fresh(): Unit = spark.range(0, 100, 1, 2)
        .select((col("id") + lit(scala.util.Random.nextInt())).as("x")).collect(): Unit
      val (compiles0, nanos0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      QueryMetrics.scoped(sc, outer) {
        fresh()
        QueryMetrics.scoped(sc, inner)(fresh())
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val ms = (CodeGenerator.compileTime - nanos0) / 1000000L
      val (o, i) = (m.take(outer), m.take(inner))
      assert(o("codegen_compiles") >= 1 && i("codegen_compiles") >= 1, (o, i))
      assert(o("codegen_compiles") + i("codegen_compiles") == compiles, s"$compiles compiles: $o $i")
      // each scope's milliseconds are rounded down apart
      val charged = o("codegen_ms") + i("codegen_ms")
      assert(charged <= ms && charged >= ms - 1, s"$ms ms: $o $i")
    }
  }

  test("the enclosing scope is restored after a build that throws") {
    val memo = FrameMemo("spec_metrics_throw")
    def failing: org.apache.spark.sql.DataFrame = throw new IllegalStateException("build failed")
    val scope = unique("enclosing")
    QueryMetrics.scoped(sc, scope) {
      intercept[IllegalStateException](memo.get(spark, "k")(failing))
      assert(sc.getLocalProperty(QueryMetrics.ScopeProperty) == scope)
    }
    intercept[IllegalStateException](memo.get(spark, "k")(failing))
    assert(sc.getLocalProperty(QueryMetrics.ScopeProperty) == null)
  }
}
