package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Load
import graft.sources.fits.{FitsReader, FitsWriter}

/** FITS binary-table reader/writer and the graft-fits DataSource —
  * scida FITS loader semantics (reference: src/scida/io/_base.py:105,
  * src/scida/io/fits.py:15) over the public FITS 4.0 standard.
  */
class FitsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val file: String = {
    val p = Files.createTempDirectory("graft_fits").toString + "/cat.fits"
    FitsWriter.write(p, Seq(
      FitsWriter.K("id", Array(10L, 11L, 12L, 13L, 14L)),
      FitsWriter.J("n", Array(1, 2, 3, 4, 5)),
      FitsWriter.E("w", Array(0.5f, 1.5f, 2.5f, 3.5f, 4.5f)),
      FitsWriter.D("x", Array(1.25, 2.25, 3.25, 4.25, 5.25)),
      FitsWriter.A("name", Array("aa", "b", "ccc", "dd", "e"), width = 4),
      FitsWriter.Dv("pos", Array.tabulate(15)(_.toDouble), repeat = 3)),
      primaryCards = Seq("REDSHIFT" -> "1.0", "HUBBLE" -> "0.6774"))
    p
  }

  test("header walk: primary cards + BINTABLE geometry") {
    val cards = FitsReader.primaryHeader(file)
    assert(cards("SIMPLE") == "T" && cards("REDSHIFT") == "1.0")
    val t = FitsReader.binTable(file)
    assert(t.rows == 5)
    assert(t.rowBytes == 8 + 4 + 4 + 8 + 4 + 24)
    assert(t.cols.map(_.name) == Seq("id", "n", "w", "x", "name", "pos"))
    assert(t.cols.find(_.name == "pos").get.repeat == 3)
  }

  test("raw row reads are big-endian record slices") {
    val t = FitsReader.binTable(file)
    val buf = FitsReader.readRows(file, t, 1, 2)
    assert(buf.getLong(0) == 11L) // id of row 1
    assert(buf.getLong(t.rowBytes) == 12L) // id of row 2
    val xOff = t.cols.find(_.name == "x").get.offset
    assert(buf.getDouble(xOff) == 2.25)
  }

  test("graft-fits DataSource: types, strings, vector flatten, row_id") {
    val df = spark.read.format("graft-fits").load(file)
    assert(df.columns.toSeq == Seq("row_id", "id", "n", "w", "x", "name",
      "pos_0", "pos_1", "pos_2"))
    val rows = df.orderBy("row_id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 11L, 12L, 13L, 14L))
    assert(rows.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 4, 5))
    assert(rows.head.getFloat(3) == 0.5f && rows.last.getDouble(4) == 5.25)
    // fixed-width strings come back trailing-space-trimmed
    assert(rows.map(_.getString(5)).toSeq == Seq("aa", "b", "ccc", "dd", "e"))
    assert(rows(2).getDouble(6) == 6.0 && rows(2).getDouble(8) == 8.0)
  }

  test("row-sliced partitions preserve results") {
    val df = spark.read.format("graft-fits")
      .option("rowsPerPartition", "2").load(file)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.orderBy("row_id").select("id").as[Long].collect().toSeq ==
      Seq(10L, 11L, 12L, 13L, 14L))
  }

  test("graft-fits serves the vectorized path (ColumnarToRow in plan)") {
    val df = spark.read.format("graft-fits").load(file)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ColumnarToRow"), p.take(600))
    assert(df.agg(sum("n")).as[Long].head() == 15L)
  }

  /** A BINTABLE with every column type, built card by card (FitsWriter
    * writes only D/E/J/K/A): 5 rows of L, B, I, J, K, E, D, 4A. */
  private lazy val allTypes: String = {
    val p = Files.createTempDirectory("graft_fits_types").toString + "/t.fits"
    def header(cards: Seq[(String, String)]): Array[Byte] = {
      val s = (cards.map { case (k, v) => f"$k%-8s= $v%-70s" } :+ f"${"END"}%-80s").mkString
      (s + " " * ((FitsReader.BlockSize - s.length % FitsReader.BlockSize) %
        FitsReader.BlockSize)).getBytes("US-ASCII")
    }
    val forms = Seq("l" -> "1L", "b" -> "1B", "i" -> "1I", "j" -> "1J", "k" -> "1K",
      "e" -> "1E", "d" -> "1D", "s" -> "4A")
    val rowBytes = 1 + 1 + 2 + 4 + 8 + 4 + 8 + 4
    val strs = Seq("x   ", "yy\u0000\u0000", "zzzz", "    ", "w w ")
    val data = java.nio.ByteBuffer.allocate(FitsReader.BlockSize) // big-endian
    (0 until 5).foreach { r =>
      data.put((if (r % 2 == 0) 'T' else 'F').toByte).put((250 + r).toByte)
        .putShort((-100 * r).toShort).putInt(1000 * r).putLong(Long.MaxValue - r)
        .putFloat(r + 0.25f).putDouble(-1.5 * r).put(strs(r).getBytes("US-ASCII"))
    }
    val out = new java.io.FileOutputStream(p)
    try {
      out.write(header(Seq("SIMPLE" -> "T", "BITPIX" -> "8", "NAXIS" -> "0", "EXTEND" -> "T")))
      out.write(header(Seq("XTENSION" -> "'BINTABLE'", "BITPIX" -> "8", "NAXIS" -> "2",
        "NAXIS1" -> rowBytes.toString, "NAXIS2" -> "5", "PCOUNT" -> "0", "GCOUNT" -> "1",
        "TFIELDS" -> forms.size.toString) ++ forms.zipWithIndex.flatMap { case ((n, f), i) =>
          Seq(s"TTYPE${i + 1}" -> s"'$n'", s"TFORM${i + 1}" -> s"'$f'") }))
      out.write(data.array())
    } finally out.close()
    p
  }

  test("every FITS type reads back across partitions ending in a partial slice") {
    val df = spark.read.format("graft-fits").option("rowsPerPartition", "2").load(allTypes)
    assert(df.rdd.getNumPartitions == 3) // 2 + 2 + 1
    assert(df.schema.fields.map(_.dataType).toSeq == Seq(LongType, BooleanType, ShortType,
      ShortType, IntegerType, LongType, FloatType, DoubleType, StringType))
    val rows = df.orderBy("row_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 5L))
    assert(rows.map(_.getBoolean(1)).toSeq == Seq(true, false, true, false, true))
    // B is an unsigned byte: 250..254 widen to Short, not wrap negative
    assert(rows.map(_.getShort(2).toInt).toSeq == (250 until 255))
    assert(rows.map(_.getShort(3).toInt).toSeq == Seq(0, -100, -200, -300, -400))
    assert(rows.map(_.getInt(4)).toSeq == Seq(0, 1000, 2000, 3000, 4000))
    assert(rows.map(_.getLong(5)).toSeq == (0 until 5).map(Long.MaxValue - _))
    assert(rows.map(_.getFloat(6)).toSeq == (0 until 5).map(_ + 0.25f))
    assert(rows.map(_.getDouble(7)).toSeq == (0 until 5).map(-1.5 * _))
    // trailing spaces and NULs trimmed, inner spaces kept
    assert(rows.map(_.getString(8)).toSeq == Seq("x", "yy", "zzzz", "", "w w"))
  }

  test("files without a BINTABLE extension fail with a clear error") {
    val p = Files.createTempDirectory("graft_fits_bad").toString + "/img.fits"
    // primary HDU only (an image-less header), no extensions
    val out = new java.io.FileOutputStream(p)
    val cards = f"${"SIMPLE  = "}%-10sT${" "}%-69s" + f"${"BITPIX  = "}%-10s8${" "}%-69s" +
      f"${"NAXIS   = "}%-10s0${" "}%-69s" + f"${"END"}%-80s"
    val block = cards + " " * (2880 - cards.length % 2880)
    out.write(block.getBytes("US-ASCII")); out.close()
    val e = intercept[RuntimeException](FitsReader.binTable(p))
    assert(e.getMessage.contains("BINTABLE"))
  }

  test("TUNIT column units surface on ColDef and attach through Load.dataset") {
    val p = Files.createTempDirectory("graft_fits_u").toString + "/cat.fits"
    FitsWriter.write(p, Seq(
      FitsWriter.D("mass", Array(1.0, 2.0)),
      FitsWriter.D("x", Array(3.0, 4.0)),
      FitsWriter.J("n", Array(1, 2))),
      units = Map("mass" -> "Msun", "x" -> "kpc"))
    val t = FitsReader.binTable(p)
    assert(t.cols.find(_.name == "mass").get.unit.contains("Msun"))
    assert(t.cols.find(_.name == "x").get.unit.contains("kpc"))
    assert(t.cols.find(_.name == "n").get.unit.isEmpty)
    val ds = Load.dataset(spark, p)
    assert(ds.unitOf("mass").contains("Msun"))
    assert(ds.unitOf("x").contains("kpc"))
    // restored units enter the algebra like any other source's
    assert((ds.q("mass") / ds.q("x").pow(3)).unit.toString == "Msun/kpc^3")
  }

  test("slash and apostrophe units survive the card round-trip (km/s, comments)") {
    // '/' inside a quoted FITS string is DATA, not a comment marker;
    // '' escapes an apostrophe — the canonical velocity/rate units
    // exercise exactly the parse the old split-on-'/' got wrong
    val p = Files.createTempDirectory("graft_fits_kms").toString + "/v.fits"
    FitsWriter.write(p, Seq(
      FitsWriter.D("vel", Array(1.0)),
      FitsWriter.D("sfr", Array(2.0)),
      FitsWriter.D("odd", Array(3.0))),
      units = Map("vel" -> "km/s", "sfr" -> "Msun/yr", "odd" -> "it's"))
    val t = FitsReader.binTable(p)
    assert(t.cols.find(_.name == "vel").get.unit.contains("km/s"))
    assert(t.cols.find(_.name == "sfr").get.unit.contains("Msun/yr"))
    assert(t.cols.find(_.name == "odd").get.unit.contains("it's"))
    val ds = Load.dataset(spark, p)
    assert(ds.unitOf("vel").contains("km/s"))
  }

  test("Load detects FITS by magic and attaches header cosmology") {
    assert(Load.detect(file) == Load.Fits)
    val ds = Load.dataset(spark, file)
    // REDSHIFT/HUBBLE cards are numeric header scalars, but gadget
    // aliasing (HubbleParam) doesn't match HUBBLE → z-only path:
    // no Time card, Redshift absent (key is REDSHIFT) → no cosmology.
    // Header metadata still loads without error; the frame is intact.
    assert(ds.df.count() == 5)
  }
}
