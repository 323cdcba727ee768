package graft.queries

import java.io.File
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.sources.zarr.ZarrWriter

/** Zarr ingestion under the oracle gate — scida's ZarrLoader
  * semantics (reference: src/scida/io/_base.py:267) and its `save()`
  * target (interface.py:273): orders is materialized as a chunked
  * zlib zarr store (driver-side fixture write, built once as an artifact —
  * production stores pre-exist; the measured operator is the
  * graft-zarr DataSource read), loaded back, and aggregated. The
  * DuckDB oracle recomputes the aggregate from the ORIGINAL parquet,
  * so any write→chunk→compress→read loss hash-fails. Aggregates are
  * exact integers, immune to FP association order.
  */
object ZarrQueries {

  private def ordersStore(s: org.apache.spark.sql.SparkSession, d: String): String =
    Artifacts.get("zarr_orders", d)(writeOrdersStore(s, d, _))

  private def writeOrdersStore(s: org.apache.spark.sql.SparkSession, d: String,
      path: String): String = {
    val dir = new File(path)
    if (dir.exists()) {
      def rm(f: File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
    val rows = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
      .collect()
    // 4 chunks exercises multi-chunk assembly + one padded edge chunk
    val chunkRows = math.max((rows.length + 3) / 4, 1)
    ZarrWriter.write(dir.getPath, Seq(
      "OrderKey" -> ZarrWriter.I64(rows.map(_.getLong(0))),
      "CustKey" -> ZarrWriter.I64(rows.map(_.getLong(1))),
      "TotalPrice" -> ZarrWriter.F64(rows.map(_.getDouble(2)))),
      attrs = Map("/" -> Map("source" -> "orders", "sf_dir" -> d)),
      chunkRows = chunkRows, compress = true)
    dir.getPath
  }

  def defs: Map[String, QueryDef] = Map(
    "zarr_roundtrip" -> QueryDef.sql(
      (s, d) => {
        val store = ordersStore(s, d)
        s.read.format("graft-zarr").load(store)
          .groupBy((col("CustKey") % 16).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum("OrderKey").as("sum_key"),
            sum(floor(col("TotalPrice") * 100.0 + 0.5).cast("long")).as("cents"))
          // bounded result (16 buckets) — see QueryDef.sortSmall
          .transform(QueryDef.sortSmall(_, col("bucket")))
      },
      """SELECT o_custkey % 16 AS bucket, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)
  )
}
