package graft.core

import java.util.{Collections, Map => JMap}

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}

/** Runs local-mode tasks under the class loader the driver compiles under,
  * so a generated class is compiled once per JVM.
  *
  * Spark keys its generated-class cache by (context class loader, source).
  * The driver compiles a whole-stage class under its thread's loader; the
  * task then compiles the same source under its session's executor loader,
  * and every new session or SparkContext brings a new one of those. Spark
  * calls `onTaskStart` after the task runner has set that session loader
  * and before the task body runs, so the swap makes the task's compile a
  * hit on the driver's class. The session loader adds only the jars and
  * REPL classes the application ships, and the engine ships none, so tasks
  * see the same classes either way.
  *
  * Registered by `SparkSessionFactory.applyEngineDefaults`. Inert unless
  * [[DriverLoaderPlugin.applies]]: on a cluster, executors are other JVMs.
  */
class DriverLoaderPlugin extends SparkPlugin {

  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    // runs on the thread creating the SparkContext, before the local
    // executor starts
    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      DriverLoaderPlugin.driverLoader = Thread.currentThread.getContextClassLoader
      Collections.emptyMap()
    }
  }

  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    private var loader: ClassLoader = _

    override def init(ctx: PluginContext, extraConf: JMap[String, String]): Unit =
      if (DriverLoaderPlugin.applies(ctx.conf)) loader = DriverLoaderPlugin.driverLoader

    override def onTaskStart(): Unit =
      if (loader != null) Thread.currentThread.setContextClassLoader(loader)
  }
}

object DriverLoaderPlugin {

  @volatile private var driverLoader: ClassLoader = _

  /** Local master (`local`, `local[...]`), and no jars or REPL classes
    * that only the executor's session loader would see. */
  def applies(conf: SparkConf): Boolean = {
    val master = conf.get("spark.master", "")
    (master == "local" || master.startsWith("local[")) &&
      Seq("spark.jars", "spark.repl.class.outputDir").forall(k => conf.get(k, "").trim.isEmpty)
  }
}
