package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Pins the artifact contract behind `queries.Artifacts`: a query
  * has ONE build, which fetches its precomputed state (indexes,
  * codebooks, table statistics, blob fixtures) from the registry.
  *
  *  - Reuse is invisible: each artifact-backed query returns the same
  *    rows from a cold build (every artifact built by that call, in a
  *    dataset dir no other test has touched) as on warm reuse.
  *  - A gated query's checked build (`SparkEntry.queries` = gate over
  *    the timed build) returns the passing verdict its oracle expects.
  *  - An artifact follows its inputs: a dataset rewritten in place at
  *    the same path is rebuilt, never served stale. */
class BenchEquivalenceSpec extends SparkSpec {

  private def rows(df: => org.apache.spark.sql.DataFrame): Seq[String] =
    CacheScope.withScope(df.collect().map(_.toString).sorted.toSeq)

  /** Run `body` on a private copy of the sf0.001 tables — a dataset
    * no artifact has been built for. */
  private def withCopy[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft_artifact_spec")
    try {
      Files.list(Paths.get(sfDir)).forEach(f =>
        Files.copy(f, dir.resolve(f.getFileName)))
      body(dir.toString)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // every query whose build fetches an artifact (directly or through
  // a shared helper)
  private val artifactQueries = Seq(
    // ann: quantizers, cell-partitioned layouts, codebooks
    "ann_batch_ivf", "ann_delta_search", "ann_ivf", "ann_ivfpq", "ann_pq",
    "ann_radius_ivf", "ann_stream_search", "cluster_assign", "kmeans_step",
    "sample_diverse",
    // dedup / corpus / text: indexes, label tables, statistics, models
    "bpe_tokens", "dedup_clusters_incremental", "dedup_embcos",
    "dedup_incremental_bloom", "dedup_lines", "logreg_predict",
    "lsh_bucket_stats", "pack_sequences_bpe", "perplexity_bucket",
    "sample_temperature", "split_by_cluster", "tfidf_topterms",
    // multimodal blob fixtures
    "dedup_audiofp", "dedup_phash", "multimodal_audio", "multimodal_decode",
    // relational / scida: at-rest layouts and table statistics
    "boxcut", "derived_field", "filter_select", "histogram_equidepth",
    "load_project", "rank_match", "salted_join", "unit_algebra",
    "unit_convert", "winsorize",
    // array-format snapshots
    "auriga_units", "catalog_attach", "code_units", "cosmo_physical",
    "fits_load", "hdf5_load", "lgalaxies_units", "mtng_units",
    "temperature_field", "unit_defaults", "zarr_roundtrip",
    // no artifact: tables rewritten at their Artifacts.path on EVERY
    // call (the oracle replays them) — a rerun must not change rows
    "dedup_semantic", "dedup_simhash", "save_roundtrip",
    "text_compress_ratio")

  for (q <- artifactQueries) {
    test(s"$q: steady-state bench output == gated build output") {
      withCopy { d =>
        val build = SparkEntry.benchQueries(q)
        val cold = rows(build(spark, d))
        val warm = rows(build(spark, d))
        // boxcut's box holds no part at sf0.001
        assert(cold.nonEmpty || q == "boxcut")
        assert(cold == warm, s"warm artifact reuse diverged from the cold build for $q")
      }
    }
  }

  for (q <- Seq("sketch_distinct", "sketch_union", "sketch_freq",
      "sketch_percentiles", "ann_ivf", "ann_pq", "ann_ivfpq", "ann_batch_ivf")) {
    test(s"$q: gate over the timed build returns the passing verdict") {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val verdicts = df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.BooleanType).map(_.name)
      assert(verdicts.nonEmpty, s"$q's gate emits no verdict column")
      val got = CacheScope.withScope(df.collect())
      assert(got.nonEmpty)
      for (r <- got; v <- verdicts)
        assert(r.getAs[Boolean](v), s"$q: $v is false in $r")
    }
  }

  test("an artifact follows its dataset: a table rewritten in place rebuilds it") {
    // tfidf_topterms reads two artifacts derived from documents: the
    // corpus doc count and the document-frequency dictionary
    val tfidf = SparkEntry.queries("tfidf_topterms")
    val subset = Files.createTempDirectory("graft_subset")
    try withCopy { dir => withCopy { expectedDir =>
      assert(rows(tfidf(spark, dir)).nonEmpty)
      // rewrite documents.parquet with every other doc, at the same
      // path; expectedDir gets the same subset before its first run
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter("doc_id % 2 = 0").coalesce(1)
        .write.mode("overwrite").parquet(subset.resolve("out").toString)
      val part: Path = Files.list(subset.resolve("out"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      for (d <- Seq(dir, expectedDir))
        Files.copy(part, Paths.get(d, "documents.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      // a new session: its table catalog is empty, so only an
      // artifact built from the old documents could make them differ
      val s2 = spark.newSession()
      assert(rows(tfidf(s2, dir)) == rows(tfidf(s2, expectedDir)))
    } } finally org.apache.commons.io.FileUtils.deleteDirectory(subset.toFile)
  }
}
