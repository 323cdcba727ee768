package graft

import org.apache.spark.sql.SparkSession

/** Batch plan dumper: write `explain("formatted")` of named bench
  * queries to `<outDir>/<name>_<suffix>.txt`, one JVM for the whole
  * batch. Per-query jobs, stages and plan counts come from
  * `python3 perfbench/run.py --queries q --trace 1` instead.
  * args = <sfDir> <outDir> <suffix> name1 name2 ... */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names @ _*) = args.toSeq.toArray[String]
    val spark = GraftSession.withDefaults(
      SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) CacheScope.withScope {
      try {
        val df = SparkEntry.benchQueries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[dump] $n ok")
      } catch { case e: Throwable =>
        println(s"[dump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
