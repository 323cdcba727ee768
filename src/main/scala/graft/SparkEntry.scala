package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2/§7.
  *
  * Each SURVEY §2 inventory row contributes one entry in `queries`
  * (Spark-side build) and, when SQL-expressible, one in `oracleSql`
  * (DuckDB oracle the driver hash-compares against at sf0.01).
  */
object SparkEntry {

  /** All registered query families. Later registrations would win on
    * name clash — names are kept globally unique. */
  private def all: Map[String, QueryDef] =
    RelationalQueries.defs ++ ScidaQueries.defs ++ EventQueries.defs ++
      TextQueries.defs ++ DedupQueries.defs ++ AnnQueries.defs ++
      MultimodalQueries.defs ++ Hdf5Queries.defs ++ ZarrQueries.defs ++
      FitsQueries.defs ++ CorpusQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all("groupby_agg").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2: what the
    * oracle checks (a gated query's verdict over its build). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, qd) => name -> qd.checked _ }

  /** The builds alone — what the benchmark times. Equal to `queries`
    * except for gated queries, whose gate wraps this same build. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, qd) => name -> qd.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    * Resolved lazily (thunks) — call AFTER running the builds so
    * artifact paths resolve against the dataset they were built for. */
  def oracleSql: Map[String, String] =
    all.collect { case (name, qd) if qd.oracle.isDefined =>
      name -> qd.oracle.get }
}
