package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict
    // the dump to those queries (local iteration; the driver passes 2)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.withDefaults(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // query -> first line of its build's exception, written beside
    // oracle_sql.json: a query missing from the dump says why
    val failures = scala.collection.mutable.TreeMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      CacheScope.withScope {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${e.getMessage}"
            .linesIterator.nextOption().getOrElse("")
          failures(name) = msg
          System.err.println(s"[verify] $name failed: $msg")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // declare which dataset's artifacts oracle thunks must resolve
    graft.queries.OracleDataset.set(sfDir)
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    spark.stop()
  }
}
