package graft.sources.fits

import java.nio.ByteBuffer
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{ArrayCol, ArrayLayout, ArraySlice, ArraySource}

/** Spark DataSource V2 over FITS binary tables —
  * `spark.read.format("graft-fits").load(file)`.
  *
  * scida reads a FITS catalog's first BINTABLE extension as a
  * row-chunked record array (reference: src/scida/io/_base.py:105,
  * src/scida/io/fits.py:15); here row ranges of the record data
  * become InputPartitions (the data is row-major on disk, so each
  * partition is ONE contiguous read), vector columns flatten to
  * `name_0..name_k` and `row_id` carries the global row index. Every
  * column addresses the same record buffer (stride = the record
  * size), so pruning skips decoding, not IO — the contiguous row read
  * is the IO unit either way, as with any row-major format.
  */
final class FitsDataSource extends ArraySource {
  override def shortName(): String = "graft-fits"
  override def layout(path: String, options: CaseInsensitiveStringMap): ArrayLayout =
    FitsLayout(path)
}

final case class FitsLayout(path: String) extends ArrayLayout {
  override def columns: Seq[ArrayCol] = {
    val t = FitsReader.binTable(path)
    t.cols.flatMap { c =>
      // FITS B is an unsigned byte; A is one string of `repeat` chars
      val (kind, size) = c.tchar match {
        case 'L' => ('L', 1)
        case 'B' => ('u', 1)
        case 'I' | 'J' | 'K' => ('i', c.elemSize)
        case 'E' | 'D' => ('f', c.elemSize)
        case 'A' => ('A', c.repeat)
        case other => sys.error(s"unsupported FITS column type '$other'")
      }
      def col(name: String, comp: Int) =
        ArrayCol(name, "", kind, size, t.rowBytes, c.offset + comp * c.elemSize)
      if (c.tchar == 'A' || c.repeat == 1) Seq(col(c.name, 0))
      else (0 until c.repeat).map(i => col(s"${c.name}_$i", i))
    }
  }

  override def slices(rowsPer: Int): Seq[ArraySlice] = {
    val rows = FitsReader.binTable(path).rows
    (0L until rows by rowsPer).map(s => ArraySlice(path, s, math.min(rowsPer, rows - s).toInt, s))
  }

  override def read(s: ArraySlice, buffers: Seq[String]): Map[String, ByteBuffer] =
    buffers.map(b => b -> FitsReader.readRows(s.file, FitsReader.binTable(s.file),
      s.rowStart, s.nRows)).toMap
}
