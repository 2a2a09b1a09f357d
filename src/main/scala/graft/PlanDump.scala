package graft

import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: dump `.explain("formatted")` for
  * named queries to `<outDir>/<name>_<suffix>.txt` so plan claims in
  * OPTIMIZATION_r{N}.md are checkable against committed artifacts
  * (optimization guide §1: capture the plan shape — Exchange count, join
  * strategy, PushedFilters/ReadSchema — before and after each change).
  *
  * Args: dataDir namesCsv outDir suffix. The session is
  * [[Measure.session]], which mirrors [[Bench]] (same shuffle
  * partitions, AQE), so the dumped plan is the plan the bench runs.
  * Queries whose body runs driver-side actions (asset builds, iterative
  * fixpoints) execute them here too — the dump is the FINAL returned
  * frame's plan, which is what the timed `.count()` consumes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump dataDir namesCsv outDir suffix")
    val Array(dataDir, namesCsv, outDir, suffix) = args.take(4)
    val names = namesCsv.split(",").toSeq
    val spark = Measure.session()
    Files.createDirectories(Paths.get(outDir))
    val missing = names.toSet -- SparkEntry.queries.keySet
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, dataDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      spark.catalog.clearCache()
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
