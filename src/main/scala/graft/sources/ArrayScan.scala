package graft.sources

import java.nio.ByteBuffer
import java.util.{Map => JMap}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** The one DataSource V2 read stack behind `graft-hdf5`, `graft-zarr`
  * and `graft-fits`. The three formats are one capability — columnar
  * chunked sources with virtual concat over many files — so each
  * format only supplies an [[ArrayLayout]]: its columns, its row
  * slices, and one byte buffer per projected column.
  * Everything else lives here once: the schema (`row_id` + the stored
  * columns, N-dim fields flattened to `name_0..name_k` by the
  * layout), column pruning, `row_id` partition pruning, and a
  * vectorized reader that fills `OnHeapColumnVector`s straight from
  * the slice buffers in 64k-row batches — tight primitive loops, no
  * per-value boxing — feeding whole-stage codegen through
  * `ColumnarToRow`.
  */
abstract class ArraySource extends TableProvider with DataSourceRegister {

  /** The format's layout for one load (`path` is the load path). */
  def layout(path: String, options: CaseInsensitiveStringMap): ArrayLayout

  private def layoutFor(options: CaseInsensitiveStringMap): ArrayLayout =
    layout(Option(options.get("path")).getOrElse(
      sys.error(s"${shortName()}: 'path' required")), options)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType(StructField("row_id", LongType, nullable = false) +:
      layoutFor(options).columns.map(c => StructField(c.name, c.dataType, nullable = false)))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new ArrayTable(s"${shortName()}:${options.get("path")}", layoutFor(options), schema,
      options.getOrDefault("rowsPerPartition", (1 << 21).toString).toInt)
  }
}

/** One stored column. Its value at slice row r is the element at byte
  * address `r * stride + offset` of the slice buffer named `buffer`:
  * for an array of `width` components, stride = width × size and
  * offset = comp × size; for row-major records, stride = the record
  * size and offset = the field's offset + comp × size. `kind` is 'f'
  * (float), 'i' / 'u' (signed / unsigned int), 'L' (FITS logical) or
  * 'A' (fixed-width ASCII, `size` = width). */
final case class ArrayCol(name: String, buffer: String, kind: Char, size: Int,
    stride: Int, offset: Int) {
  def dataType: DataType = ArrayCol.rule((kind, size))._1
}

object ArrayCol {
  /** Copies slice rows [s, s + n) of one column into vector rows [0, n). */
  trait Kernel {
    def apply(v: WritableColumnVector, b: ByteBuffer, c: ArrayCol, s: Int, n: Int): Unit
  }

  private def of(t: DataType)(k: Kernel): (DataType, Kernel) = (t, k)

  /** The dtype rule, in one place: which stored (kind, size) becomes
    * which Spark type, and how its values are copied. Unsigned ints
    * widen to the next signed type; u8 stays LongType and fails loudly
    * on a value >= 2^63. Each layout reports a (kind, size) outside
    * this rule with its own format's message (`supported`). */
  val rule: PartialFunction[(Char, Int), (DataType, Kernel)] = {
    case ('f', 4) => of(FloatType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putFloat(i, b.getFloat(a)); a += c.stride; i += 1 }
    }
    case ('f', 8) => of(DoubleType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putDouble(i, b.getDouble(a)); a += c.stride; i += 1 }
    }
    case ('i', 1) => of(ByteType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putByte(i, b.get(a)); a += c.stride; i += 1 }
    }
    case ('i', 2) => of(ShortType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putShort(i, b.getShort(a)); a += c.stride; i += 1 }
    }
    case ('i', 4) => of(IntegerType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putInt(i, b.getInt(a)); a += c.stride; i += 1 }
    }
    case ('i', 8) => of(LongType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putLong(i, b.getLong(a)); a += c.stride; i += 1 }
    }
    case ('u', 1) => of(ShortType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putShort(i, (b.get(a) & 0xff).toShort); a += c.stride; i += 1 }
    }
    case ('u', 2) => of(IntegerType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putInt(i, b.getShort(a) & 0xffff); a += c.stride; i += 1 }
    }
    case ('u', 4) => of(LongType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putLong(i, b.getInt(a) & 0xffffffffL); a += c.stride; i += 1 }
    }
    case ('u', 8) => of(LongType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) {
        val x = b.getLong(a)
        if (x < 0) sys.error(s"u8 value >= 2^63 in ${c.buffer} does not fit LongType")
        v.putLong(i, x); a += c.stride; i += 1
      }
    }
    case ('L', 1) => of(BooleanType) { (v, b, c, s, n) =>
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) { v.putBoolean(i, b.get(a) == 'T'.toByte); a += c.stride; i += 1 }
    }
    // fixed-width strings come back with trailing spaces and NULs trimmed
    case ('A', _) => of(StringType) { (v, b, c, s, n) =>
      val bytes = new Array[Byte](c.size)
      var i = 0; var a = s * c.stride + c.offset
      while (i < n) {
        b.get(a, bytes)
        var end = bytes.length
        while (end > 0 && (bytes(end - 1) == ' ' || bytes(end - 1) == 0)) end -= 1
        v.putByteArray(i, bytes, 0, end); a += c.stride; i += 1
      }
    }
  }

  def supported(kind: Char, size: Int): Boolean = rule.isDefinedAt((kind, size))
}

/** A row slice of one file (or store); its rows carry row_id
  * `globalStart + r`. */
final case class ArraySlice(file: String, rowStart: Long, nRows: Int,
    globalStart: Long) extends InputPartition

/** What one array format supplies the shared scan. Layouts are
  * shipped to executors, so they hold only what locates the data. */
trait ArrayLayout extends Serializable {
  /** The stored columns, in schema order. */
  def columns: Seq[ArrayCol]

  /** Row slices of at most `rowsPer` rows, in global row order. */
  def slices(rowsPer: Int): Seq[ArraySlice]

  /** Executor side: the slice's bytes of each named buffer. */
  def read(s: ArraySlice, buffers: Seq[String]): Map[String, ByteBuffer]
}

final class ArrayTable(tname: String, layout: ArrayLayout, tschema: StructType,
    rowsPer: Int) extends Table with SupportsRead {
  override def name(): String = tname
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ArrayScanBuilder(layout, tschema, rowsPer)
}

final class ArrayScanBuilder(layout: ArrayLayout, full: StructType, rowsPer: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var rowIdFilters: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve source column order for a deterministic read plan
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(full.fields.filter(f => keep.contains(f.name)))
  }
  /** row_id predicates prune SLICES at planning (a slice whose
    * [globalStart, globalStart + nRows) span cannot satisfy them is
    * never read — the mechanism behind zoom-target selection,
    * `ZoomTargets`). Every filter is still returned for post-scan
    * evaluation: pruning is conservative interval logic, not exact
    * row filtering. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    rowIdFilters = filters.filter(RowIdPruning.usable)
    filters
  }
  override def pushedFilters(): Array[Filter] = rowIdFilters
  override def build(): Scan = new ArrayScan(layout, required, rowIdFilters, rowsPer)
}

/** Interval logic for row_id predicate trees over a slice's [lo, hi)
  * global-row span: `mayMatch` is a sound overapproximation (keeps any
  * slice that COULD contain a satisfying row), so pruning never drops
  * data and Spark's post-scan filter keeps exactness. */
private[sources] object RowIdPruning {
  import org.apache.spark.sql.sources._
  private def num(v: Any): Long = v.asInstanceOf[Number].longValue()
  private def isNum(v: Any): Boolean = v.isInstanceOf[Number]

  def usable(f: Filter): Boolean = f match {
    case EqualTo("row_id", v) => isNum(v)
    case GreaterThan("row_id", v) => isNum(v)
    case GreaterThanOrEqual("row_id", v) => isNum(v)
    case LessThan("row_id", v) => isNum(v)
    case LessThanOrEqual("row_id", v) => isNum(v)
    case In("row_id", vs) => vs.nonEmpty && vs.forall(isNum)
    case And(a, b) => usable(a) && usable(b)
    case Or(a, b) => usable(a) && usable(b)
    case _ => false
  }

  def mayMatch(f: Filter, lo: Long, hi: Long): Boolean = f match {
    case EqualTo(_, v) => lo <= num(v) && num(v) < hi
    case GreaterThan(_, v) => hi - 1 > num(v)
    case GreaterThanOrEqual(_, v) => hi - 1 >= num(v)
    case LessThan(_, v) => lo < num(v)
    case LessThanOrEqual(_, v) => lo <= num(v)
    case In(_, vs) => vs.exists(v => lo <= num(v) && num(v) < hi)
    case And(a, b) => mayMatch(a, lo, hi) && mayMatch(b, lo, hi)
    case Or(a, b) => mayMatch(a, lo, hi) || mayMatch(b, lo, hi)
    case _ => true
  }
}

final class ArrayScan(layout: ArrayLayout, required: StructType,
    rowIdFilters: Array[Filter], rowsPer: Int) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"PushedFilters: ${rowIdFilters.mkString("[", ", ", "]")}, ReadSchema: ${required.simpleString}"

  // every slice is served columnar, including a scan whose row_id
  // filters pruned all of them
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED

  override def planInputPartitions(): Array[InputPartition] =
    layout.slices(rowsPer).filter(p => rowIdFilters.forall(
      RowIdPruning.mayMatch(_, p.globalStart, p.globalStart + p.nRows))).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val byName = layout.columns.map(c => c.name -> c).toMap
    new ArrayReaderFactory(layout, required, required.fieldNames.map(byName.get))
  }
}

/** `cols(j)` is the stored column behind `schema(j)`; None is row_id. */
final class ArrayReaderFactory(layout: ArrayLayout, schema: StructType,
    cols: Array[Option[ArrayCol]]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("array sources are read columnar only")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new ArrayReader(layout, partition.asInstanceOf[ArraySlice], schema, cols)
}

final class ArrayReader(layout: ArrayLayout, p: ArraySlice, schema: StructType,
    cols: Array[Option[ArrayCol]]) extends PartitionReader[ColumnarBatch] {
  private val buffers = layout.read(p, cols.toSeq.flatten.map(_.buffer).distinct)
  private val batchSize = math.max(math.min(p.nRows, 1 << 16), 1)
  private val vectors = schema.fields.map(f => new OnHeapColumnVector(batchSize, f.dataType))
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  private val fillers: Array[(Int, Int) => Unit] = cols.zip(vectors).map {
    case (None, v) => (s: Int, n: Int) => {
      var i = 0; while (i < n) { v.putLong(i, p.globalStart + s + i); i += 1 }
    }
    case (Some(c), v) =>
      val k = ArrayCol.rule((c.kind, c.size))._2
      val b = buffers(c.buffer)
      (s: Int, n: Int) => k(v, b, c, s, n)
  }

  private var offset = 0
  override def next(): Boolean =
    if (offset >= p.nRows) false
    else {
      val n = math.min(batchSize, p.nRows - offset)
      vectors.foreach(_.reset())
      fillers.foreach(_(offset, n))
      batch.setNumRows(n)
      offset += n
      true
    }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}
