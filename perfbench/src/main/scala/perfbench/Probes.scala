package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, GraftExtensions}
import graft.ann.{Ann, Ivf}
import graft.dedup.Dedup
import graft.functions.{Hashing, VectorOps}
import graft.model.{Cosmology, GraftDataset}
import graft.multimodal.BinaryMeta
import graft.operators._
import graft.sources.{Load, Tables}
import graft.sources.fits.FitsWriter
import graft.sources.hdf5.Hdf5Save
import graft.sources.zarr.ZarrSave
import graft.streaming.VectorStreams

/** Per-module metrics from timed calls into each module's public
  * functions, on the workload's own tables (`data`) except the kernel
  * table, which runs on a fixed generated input. Every call is one
  * "module" span of the tracer, so its jobs and self time land in the
  * trace. Writes go to fresh paths under `dir`.
  */
final class Probes(spark: SparkSession, data: String, cores: Int,
    dir: String, tracer: Tracer) {

  private val m = mutable.LinkedHashMap.empty[String, Double]
  private var fresh = 0

  private def path(name: String): String = {
    fresh += 1
    new File(dir, s"$name-$fresh").getPath
  }

  /** Seconds spent in `body`, recorded as a module span. */
  private def time(module: String)(body: => Any): Double =
    tracer.span("module", module) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def mb(p: String): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(size).sum
      else f.length()
    size(new File(p)) / 1e6
  }

  private def table(name: String) = Tables(spark, data, name)

  def all(): Map[String, Double] = {
    Seq[() => Unit](sources, model, operators, kernels, dedup, ann,
      multimodal, streaming).foreach(p => CacheScope.withScope(p()))
    m.toMap
  }

  /** Scan and write throughput of each storage format. */
  private def sources(): Unit = {
    val pq = path("parquet")
    val wPq = time("sources.write.parquet") {
      Spatial.writeZOrdered(table("part"), pq,
        Seq(("p_size", 1.0, 51.0), ("p_retailprice", 900.0, 2000.0)), numFiles = cores)
    }
    m("sources.write_mb_per_s.parquet") = mb(pq) / wPq
    val li = s"$data/lineitem.parquet"
    m("sources.scan_mb_per_s.parquet") =
      mb(li) / time("sources.scan.parquet") { noop(Load.dataFrame(spark, li)) }

    // one row-indexed frame for every array format
    val rows = table("orders").select(col("o_orderkey").as("__row"),
      col("o_custkey"), col("o_totalprice"))
    def rates(fmt: String, out: String)(write: => Unit)(read: => DataFrame): Unit = {
      val w = time(s"sources.write.$fmt")(write)
      m(s"sources.write_mb_per_s.$fmt") = mb(out) / w
      m(s"sources.scan_mb_per_s.$fmt") = mb(out) / time(s"sources.scan.$fmt")(noop(read))
    }
    val h5 = path("hdf5")
    rates("hdf5", h5)(Hdf5Save.save(rows, "__row", h5, chunkRows = 1 << 13))(
      Load.dataFrame(spark, h5, "PartType0"))
    val zr = path("zarr")
    rates("zarr", zr)(ZarrSave.save(rows, "__row", zr, chunkRows = 1 << 13))(
      Load.dataFrame(spark, zr))
    val fits = path("fits") + ".fits"
    rates("fits", fits) {
      val r = rows.orderBy("__row").collect()
      FitsWriter.write(fits, Seq(
        FitsWriter.K("OrderKey", r.map(_.getLong(0))),
        FitsWriter.K("CustKey", r.map(_.getLong(1))),
        FitsWriter.D("TotalPrice", r.map(_.getDouble(2)))))
    }(Load.dataFrame(spark, fits))
  }

  /** Units, derived fields and cosmology over lineitem. */
  private def model(): Unit = {
    // cosmology integrates per row: a bounded slice keeps the call short
    val li = table("lineitem").limit(2000)
    val n = li.count()
    val t = time("model.derived") {
      val ds = GraftDataset(li)
        .withUnit("l_extendedprice", "Msun")
        .withUnit("l_quantity", "kpc^3")
        .withDerivedQ("rho")(g => g.q("l_extendedprice") / g.q("l_quantity"))
        .withDerivedQ("rho_si")(g => g.q("rho").to("kg/m^3"))
      noop(ds.select("l_orderkey", "l_tax", "rho_si")
        .withColumn("age_gyr", Cosmology.ageGyrCol(col("l_tax") * 10.0, 0.6774, 0.3089)))
    }
    m("model.rows_per_s") = n / t
  }

  private def operators(): Unit = {
    val li = table("lineitem")
    val ev = table("events")
    m("operators.histogram_s") = time("operators.histogram") {
      noop(Histograms.hist1d(li, col("l_extendedprice"), 5000.0))
    }
    m("operators.spatial_cut_s") = time("operators.spatial_cut") {
      noop(Spatial.sphereCut(table("part"),
        Seq((col("p_size").cast("double") / 25.0, 1.0),
          (col("p_retailprice") / 950.0, 1.0),
          (col("p_retailprice") * col("p_size") / 25000.0, 1.0)), 0.35))
    }
    m("operators.group_offsets_s") = time("operators.group_offsets") {
      val sub = li.groupBy("l_orderkey").agg(count(lit(1)).as("slen"))
        .join(table("orders"), col("l_orderkey") === col("o_orderkey"))
        .select("o_custkey", "o_orderkey", "slen")
      val grp = sub.groupBy("o_custkey").agg(sum("slen").as("glen"))
      noop(GroupCatalog.subhaloOffsets(grp, "o_custkey", col("glen"),
        sub, "o_orderkey", col("slen")))
    }
    m("operators.prefix_sum_s") = time("operators.prefix_sum") {
      noop(PrefixSum.exclusive(li.groupBy("l_orderkey").agg(count(lit(1)).as("len")),
        "l_orderkey", col("len"), buckets = 32))
    }
    m("operators.asof_join_s") = time("operators.asof_join") {
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("value").as("view_value"))
      noop(AsOfJoin.asof(clicks, views, "user_id", "ts_us", Seq("view_value"),
        rangeBuckets = 32))
    }
    m("operators.sessionize_s") = time("operators.sessionize") {
      noop(Sessionize.sessions(ev.repartitionByRange(32, col("user_id")),
        "user_id", col("ts_us"), 1800L * 1000 * 1000, col("value")))
    }
  }

  /** Every SQL-registered graft_* expression beside its declarative
    * Spark spelling, on 4,000 fixed generated rows (text and vectors);
    * best of two timings each. */
  private def kernels(): Unit = {
    val n = 4000
    val vocab = array(Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
      "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
      "agg", "key", "query", "a", "scan", "batch", "dup").map(lit): _*)
    def rnd(i: Column, m: Int): Column = pmod(xxhash64(col("id"), i), lit(m))
    val base = spark.range(0, n, 1, cores)
      .withColumn("words", transform(sequence(lit(1), (col("id") % 90 + 10).cast("int")),
        i => element_at(vocab, (rnd(i, 31) + 1).cast("int"))))
      .withColumn("text", concat_ws(" ", col("words")))
      .withColumn("sh", call_function("graft_shingles", col("text"), lit(3)))
      .withColumn("v", transform(sequence(lit(1), lit(64)),
        i => ((rnd(i, 2001) - 1000) / 1000.0).cast("float")))
      .withColumn("w", transform(sequence(lit(65), lit(128)),
        i => ((rnd(i, 2001) - 1000) / 1000.0).cast("float")))
      .withColumn("x", (col("id") % 10000).cast("double") + 0.5)
      .withColumn("g", col("id") % 100)
    val in = CacheScope.track(base)
    in.count()
    val r = new scala.util.Random(7)
    val cents = typedLit(Seq.fill(16)(Seq.fill(64)(r.nextDouble() * 2 - 1)))
    val lows = typedLit((0 until 1000).map(_ * 10.0))
    val highs = typedLit((0 until 1000).map(_ * 10.0 + 10.0))
    val sqDist = "aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)), 0D, (s, d) -> s + d)"
    type K = DataFrame => DataFrame
    def sel(c: Column): K = _.select(c)
    val specs: Map[String, (K, K)] = Map(
      "graft_dot" -> (sel(VectorOps.dotFast(col("v"), col("w"))),
        sel(VectorOps.dot(col("v"), col("w")))),
      "graft_cosine" -> (sel(VectorOps.cosineFast(col("v"), col("w"))),
        sel(VectorOps.cosine(col("v"), col("w")))),
      "graft_topk_rows" -> (
        _.groupBy("g").agg(call_function("graft_topk_rows", struct(col("x"), col("id")), lit(5))),
        _.groupBy("g").agg(slice(array_sort(collect_list(struct(col("x"), col("id")))), 1, 5))),
      "graft_band_index" -> (sel(call_function("graft_band_index", col("x"), lows, highs)),
        _.withColumn("lows", lows).withColumn("highs", highs)
          .select(expr("array_position(transform(lows, (l, i) -> x >= l AND x < highs[i]), true) - 1"))),
      "graft_nearest_centroid" -> (sel(call_function("graft_nearest_centroid", col("v"), cents)),
        _.withColumn("cents", cents).select(expr(
          s"array_position(transform(cents, c -> $sqDist), array_min(transform(cents, c -> $sqDist))) - 1"))),
      "graft_nearest_cells" -> (sel(call_function("graft_nearest_cells", col("v"), cents, lit(3))),
        _.withColumn("cents", cents).select(expr(
          s"transform(slice(array_sort(transform(cents, (c, i) -> named_struct('d', $sqDist, 'i', i))), 1, 3), s -> s.i)"))),
      "graft_pos_shingles" -> (sel(call_function("graft_pos_shingles", col("text"), lit(3))),
        sel(expr("transform(sequence(0, size(words) - 3), i -> xxhash64(concat_ws(' ', slice(words, i + 1, 3))))"))),
      "graft_minhash" -> (sel(call_function("graft_minhash", col("sh"), lit(64))),
        sel(Hashing.minhashSignature(col("sh"), 64))),
      "graft_simhash" -> (sel(call_function("graft_simhash", col("words"))),
        sel(Hashing.simhash(col("words")))),
      "graft_shingles" -> (sel(call_function("graft_shingles", col("text"), lit(3))),
        sel(expr("array_distinct(transform(sequence(0, size(words) - 3), i -> concat_ws(' ', slice(words, i + 1, 3))))"))))
    val registered = GraftExtensions.functions.map(_._1.funcName).toSet
    require(specs.keySet == registered,
      s"kernel table out of date: registered ${registered.toSeq.sorted}, " +
        s"benchmarked ${specs.keySet.toSeq.sorted}")
    specs.toSeq.sortBy(_._1).foreach { case (fn, (native, decl)) =>
      def rate(label: String, k: K) =
        n / Seq.fill(2)(time(s"kernel.$fn.$label") { noop(k(in)) }).min
      m(s"kernel.$fn.rows_per_s") = rate("native", native)
      m(s"kernel.$fn.decl_rows_per_s") = rate("decl", decl)
    }
  }

  private def dedup(): Unit = {
    val docs = table("documents")
    m("dedup.minhash_s") = time("dedup.minhash") {
      Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3, sigLen = 64,
        bands = 16, minJ = 0.8).count()
    }
    var pairs = 0L
    m("dedup.ngram_jaccard_s") = time("dedup.ngram_jaccard") {
      pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, minJ = 0.8).count()
    }
    m("dedup.pairs_out") = pairs.toDouble
    m("dedup.simhash_s") = time("dedup.simhash") {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3).count()
    }
    m("dedup.containment_s") = time("dedup.containment") {
      Dedup.containmentPairs(docs, "doc_id", "text", k = 3, minC = 0.6).count()
    }
    m("dedup.embcos_s") = time("dedup.embcos") {
      Dedup.embCosPairs(table("embeddings"), "vec_id", "embedding", "label", 0.95).count()
    }
  }

  /** IVF index build, probe cost per query, and recall@10 against the
    * exact top-10 of the same queries. */
  private def ann(): Unit = {
    val embs = table("embeddings")
    val nCells = math.max(4, math.sqrt(embs.count().toDouble).toInt)
    var built: (DataFrame, Array[Array[Double]]) = null
    m("ann.ivf_build_s") = time("ann.ivf_build") {
      val (indexed, centers) = Ivf.build(embs, "vec_id", "embedding", nCells)
      val kept = CacheScope.track(indexed)
      kept.count()
      built = (kept, centers)
    }
    val (indexed, centers) = built
    val queries = embs.filter(col("vec_id") < 5).orderBy("vec_id")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    val nProbe = math.max(1, nCells * 3 / 8)
    var hits = 0
    val probeS = queries.map { q =>
      var got = Set.empty[Long]
      val t = time("ann.ivf_probe") {
        got = Ivf.topK(indexed, centers, "vec_id", "embedding", q, 10, nProbe)
          .collect().map(_.getLong(0)).toSet
      }
      val exact = Ann.bruteForceTopK(embs, "vec_id", "embedding",
        array(q.map(lit): _*), 10).collect().map(_.getLong(0)).toSet
      hits += (got intersect exact).size
      t
    }
    m("ann.ivf_probe_s") = probeS.sum / queries.length
    m("ann.recall_at_10") = hits / (10.0 * queries.length)
  }

  private def multimodal(): Unit = {
    val docs = table("documents")
    val n = docs.count()
    m("multimodal.decode_rows_per_s") = n / time("multimodal.decode") {
      noop(BinaryMeta.decodeMeta(BinaryMeta.withPayload(docs, "text"),
        "doc_id", "payload").toDF())
    }
  }

  /** One vector-stream micro-batch appended to a cell-partitioned index. */
  private def streaming(): Unit = {
    val embs = table("embeddings")
    val centers = Ivf.build(embs, "vec_id", "embedding", 8)._2
    val out = path("stream")
    val batches = 2
    val ts = (0 until batches).map { b =>
      time("streaming.batch") {
        VectorStreams.ingestBatch(embs.filter(col("vec_id") % batches === b),
          centers, "embedding", out, b.toLong)
      }
    }
    m("streaming.batch_s") = ts.sorted.apply(batches / 2)
  }
}

object Probes {
  /** Megabytes held by cached blocks right now. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Cached partitions still held. */
  def cachedBlocks(spark: SparkSession): Int =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
}
