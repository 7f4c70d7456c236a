package graft
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names for a targeted
    // re-check; an unknown name fails before the session starts
    val only = args.lift(2).map(SparkEntry.allowlist(_, SparkEntry.queries.keySet).toSet)
    // int64-micros parquet timestamps (factory default) matter here: the
    // driver's DuckDB/pyarrow read must see exactly what DuckDB's SQL produces
    val spark = graft.core.SparkSessionFactory.local("graft-verify", defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    val mapper = new ObjectMapper()
    def writeJson(file: String, entries: Iterable[(String, String)]): Unit = {
      val o = mapper.createObjectNode()
      entries.foreach { case (k, v) => o.put(k, v) }
      mapper.writeValue(new java.io.File(s"$outDir/$file"), o)
    }
    writeJson("oracle_sql.json", SparkEntry.oracleSql)
    // self-explaining correctness artifact: the rows-only entries with
    // their pinning evidence, as in the committed ROWS_ONLY.json
    Files.writeString(Paths.get(s"$outDir/rows_only.json"), SparkEntry.rowsOnlyJson)
    // Loud failures: a query that errors must not silently vanish from the
    // round's correctness artifact (round 4 lost 4 entries that way). The
    // driver ignores unknown files, so this is purely additive signal.
    writeJson("_failed.json", failed)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
