package graft.sources.zarr

import java.nio.ByteBuffer
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{ArrayCol, ArrayLayout, ArraySlice, ArraySource}

/** Spark DataSource V2 over zarr v2 stores —
  * `spark.read.format("graft-zarr").load(dir)`.
  *
  * scida's ZarrLoader (reference: src/scida/io/_base.py:267) presents
  * each array as a dask array chunked as stored; here each ZARR CHUNK
  * becomes one Spark InputPartition (split further if a chunk exceeds
  * rowsPerPartition), so partition boundaries align with compressed
  * chunk boundaries and every chunk file is decompressed exactly once
  * across the scan — on a 1000-executor cluster, 1000 chunks
  * decompress concurrently with no driver-side data motion. 2-D
  * arrays flatten to `name_0..name_k` columns (scida get_dataframe,
  * fields.py:478) and `row_id` carries the global row index.
  * Unprojected arrays are never opened.
  *
  * All arrays in the store must agree on axis-0 length and chunking
  * (scida's virtual-concat contract for one particle type).
  */
final class ZarrDataSource extends ArraySource {
  override def shortName(): String = "graft-zarr"
  // container selection for multi-container stores (Group/Subhalo
  // catalog tables of different lengths) — the zarr analogue of the
  // hdf5 source's particle-type `group` option
  override def layout(path: String, options: CaseInsensitiveStringMap): ArrayLayout =
    ZarrLayout(path, Option(options.get("group")).getOrElse(""))
}

/** `group` travels with the layout, so the executor-side re-open sees
  * the same container the driver planned. */
final case class ZarrLayout(path: String, group: String) extends ArrayLayout {
  def store: ZarrStore.Store = {
    val st = ZarrStore.open(path)
    if (group.nonEmpty) ZarrStore.subGroup(st, group) else st
  }

  override def columns: Seq[ArrayCol] =
    store.arrays.sortBy(_.name).flatMap { a =>
      val (k, size) = (a.kind, a.elemSize)
      if (!ArrayCol.supported(k, size)) sys.error(s"unsupported zarr dtype kind=$k size=$size")
      def col(name: String, comp: Int) =
        ArrayCol(name, a.name, k, size, a.rowWidth * size, comp * size)
      if (a.rowWidth == 1) Seq(col(a.name, 0))
      else (0 until a.rowWidth).map(i => col(s"${a.name}_$i", i))
    }

  override def slices(rowsPer: Int): Seq[ArraySlice] = {
    val s = store
    require(s.arrays.nonEmpty, s"empty zarr store ${s.path}")
    val rowCounts = s.arrays.map(_.rows).distinct
    require(rowCounts.size == 1,
      s"zarr arrays disagree on axis-0 length: $rowCounts")
    val chunkRows = s.arrays.map(_.chunkRows).distinct
    require(chunkRows.size == 1,
      s"zarr arrays disagree on axis-0 chunking: $chunkRows")
    val rows = rowCounts.head
    // partitions align to stored chunk boundaries; huge chunks split
    val per = math.min(chunkRows.head, rowsPer.toLong).toInt max 1
    (0L until rows by per).map(st => ArraySlice(s.path, st, math.min(per, rows - st).toInt, st))
  }

  override def read(s: ArraySlice, buffers: Seq[String]): Map[String, ByteBuffer] = {
    val meta = store.arrays.map(a => a.name -> a).toMap
    buffers.map(b => b -> ZarrStore.readRows(meta(b), s.rowStart, s.nRows)).toMap
  }
}
