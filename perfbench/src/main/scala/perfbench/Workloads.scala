package perfbench

import graft.SparkEntry
import graft.queries._

/** The benchmark's query lists, derived from graft's registered query
  * families.
  *
  * `analysis` is every query of the scientific-analysis families and
  * `curation` every query of the training-data families; together they
  * must cover every registered query exactly once, so a query added to
  * graft cannot fall outside the benchmark. Each workload times a fixed
  * subset of its list (`timed`) chosen to touch every module the list
  * touches; `--queries all` runs the whole list instead.
  */
object Workloads {

  val analysisFamilies: Seq[(String, Map[String, QueryDef])] = Seq(
    "scida" -> ScidaQueries.defs, "hdf5" -> Hdf5Queries.defs,
    "fits" -> FitsQueries.defs, "zarr" -> ZarrQueries.defs,
    "relational" -> RelationalQueries.defs, "event" -> EventQueries.defs)

  val curationFamilies: Seq[(String, Map[String, QueryDef])] = Seq(
    "dedup" -> DedupQueries.defs, "text" -> TextQueries.defs,
    "corpus" -> CorpusQueries.defs, "ann" -> AnnQueries.defs,
    "multimodal" -> MultimodalQueries.defs)

  lazy val analysis: Seq[String] = analysisFamilies.flatMap(_._2.keys).sorted
  lazy val curation: Seq[String] = curationFamilies.flatMap(_._2.keys).sorted

  /** The timed subset of each workload. */
  val timed: Map[String, Seq[String]] = Map(
    "analysis" -> Seq(
      // sources: hdf5 / zarr / fits readers
      "hdf5_load", "zarr_roundtrip", "fits_load",
      // model: derived fields with units, cosmology
      "derived_field", "cosmo_derived",
      // operators: histogram, halo offsets (prefix sum), as-of join
      "histogram1d", "group_offsets", "asof_join"),
    "curation" -> Seq(
      // dedup (SimHash, shingle containment), text (language id,
      // tf-idf), ann (IVF index build + probe), multimodal codecs
      "dedup_simhash", "dedup_containment", "text_langid", "tfidf_topterms",
      "ann_ivf", "multimodal_audio"))

  /** The full list each workload's queries come from. */
  lazy val lists: Map[String, Seq[String]] =
    Map("analysis" -> analysis, "curation" -> curation)

  /** Fails loudly unless the two lists are disjoint, together cover
    * every registered query, and every timed subset lies in its list. */
  def guard(): Unit = {
    val registered = SparkEntry.queries.keySet
    val both = analysis.toSet intersect curation.toSet
    require(both.isEmpty, s"queries in both analysis and curation: ${both.toSeq.sorted}")
    val missing = registered -- analysis -- curation
    require(missing.isEmpty,
      s"registered queries outside every workload: ${missing.toSeq.sorted}")
    val unknown = (analysis ++ curation).toSet -- registered
    require(unknown.isEmpty, s"workload queries not registered: ${unknown.toSeq.sorted}")
    timed.foreach { case (w, qs) =>
      val stray = qs.filterNot(lists(w).toSet)
      require(stray.isEmpty, s"$w times queries outside its list: $stray")
    }
  }
}
