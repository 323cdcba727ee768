package graft.sources.hdf5

import java.nio.ByteBuffer
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{ArrayCol, ArrayLayout, ArraySlice, ArraySource}

/** Spark DataSource V2 over (chunked) HDF5 snapshots —
  * `spark.read.format("graft-hdf5").option("group", "PartType0")
  * .load(dir)`.
  *
  * scida's ChunkedHDF5Loader (reference: src/scida/io/_base.py:348)
  * presents `prefix.0.hdf5 .. prefix.N.hdf5` as one virtually
  * concatenated dataset per field; here each chunk file becomes one
  * (or more) Spark InputPartitions, so a 1000-executor cluster reads
  * 1000 chunks concurrently with no driver-side data motion. N-dim
  * fields flatten to `name_0..name_k` columns (scida
  * `get_dataframe`, src/scida/fields.py:478) and `row_id` carries the
  * global particle index (chunk offsets are summed driver-side from
  * metadata only), which is what halo offset-table assignment keys
  * on. Unprojected HDF5 datasets are never read from disk.
  */
final class Hdf5DataSource extends ArraySource {
  override def shortName(): String = "graft-hdf5"
  override def layout(path: String, options: CaseInsensitiveStringMap): ArrayLayout =
    Hdf5Layout(path, options.getOrDefault("group", "/"),
      options.getOrDefault("fileprefix", ""))
}

final case class Hdf5Layout(path: String, group: String, fileprefix: String)
    extends ArrayLayout {
  private def chunks: Seq[String] = ChunkedHdf5.discoverChunks(path, fileprefix)

  /** Datasets under `group` in the first chunk define the table. */
  override def columns: Seq[ArrayCol] = {
    val first = chunks.head
    Hdf5Layout.columnsFromFile(ChunkedHdf5.metadata(first), group, first)
  }

  override def slices(rowsPer: Int): Seq[ArraySlice] = {
    val files = chunks
    // row counts come from each chunk's METADATA (dataspace dims) —
    // tiny reads, no data touched on the driver
    val counts = files.map(f => ChunkedHdf5.rowCount(f, group))
    val offsets = counts.scanLeft(0L)(_ + _)
    files.zipWithIndex.flatMap { case (f, i) =>
      val n = counts(i)
      (0L until n by rowsPer).map { s =>
        ArraySlice(f, s, math.min(rowsPer, n - s).toInt, offsets(i) + s)
      }
    }
  }

  override def read(s: ArraySlice, buffers: Seq[String]): Map[String, ByteBuffer] = {
    val ds = ChunkedHdf5.metadata(s.file).datasets.map(d => d.path -> d).toMap
    buffers.map(b => b -> Hdf5Reader.readRows(s.file, ds(b), s.rowStart, s.nRows)).toMap
  }
}

object Hdf5Layout {
  /** One column per dataset component; the buffer is the dataset path. */
  def columnsFromFile(f: Hdf5Reader.H5File, group: String, label: String): Seq[ArrayCol] = {
    val prefix = if (group == "/" || group.isEmpty) "/" else s"/${group.stripPrefix("/")}/"
    val ds = f.datasets.filter(d => d.path.startsWith(prefix) &&
      !d.path.stripPrefix(prefix).contains("/"))
    require(ds.nonEmpty, s"no datasets under group '$group' in $label")
    ds.sortBy(_.path).flatMap { d =>
      val base = d.path.stripPrefix(prefix)
      val (c, size) = (d.dtype.clazz, d.dtype.size)
      val kind = c match {
        case 0 => if (d.dtype.signed) 'i' else 'u'
        case 1 => 'f'
        case _ => '?'
      }
      if (!ArrayCol.supported(kind, size)) sys.error(s"unsupported dtype class=$c size=$size")
      def col(name: String, comp: Int) =
        ArrayCol(name, d.path, kind, size, d.rowWidth * size, comp * size)
      if (d.rowWidth == 1) Seq(col(base, 0))
      else (0 until d.rowWidth).map(i => col(s"${base}_$i", i))
    }
  }
}
