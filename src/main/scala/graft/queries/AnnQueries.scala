package graft.queries

import org.apache.spark.sql.functions._
import graft.ann.{Ann, Ivf, Pq}
import graft.sources.Tables

/** Similarity-search family over `embeddings` (SURVEY.md §2). The
  * query vector is the corpus vector with vec_id = 0 (joined in, so
  * the query needs no literals and the oracle can express the same).
  */
object AnnQueries {

  private val ORACLE_RECALL = "SELECT 10 AS k, TRUE AS recall_ok"


  /** Recall-verdict wrapper (the bound-check oracle protocol): the
    * ANN result is compared against the SAME corpus's exact cosine
    * top-k — itself DuckDB-validated via ann_bruteforce — and the
    * query emits one row (k, recall_ok). Seeds and data are fixed, so
    * the verdict is deterministic; a broken index (wrong cells, bad
    * codebooks, lost buckets) drops recall and hash-fails against the
    * oracle's TRUE. Thresholds mirror the accuracy specs
    * (DedupAnnSpec / PqSpec). */
  private[queries] def recallVerdict(ann: org.apache.spark.sql.DataFrame,
      corpusWithQ: org.apache.spark.sql.DataFrame,
      minHits: Int): org.apache.spark.sql.DataFrame = {
    val brute = Ann.bruteForceTopK(corpusWithQ, "vec_id", "embedding",
      col("q_vec"), k = 10)
    ann.join(brute.select("vec_id"), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .select(lit(10).as("k"), (col("hits") >= minHits).as("recall_ok"))
  }

  /** ONE TakeOrdered driver job fetches the query vector (vec_id 0 —
    * first in id order) AND the id-ordered training sample the
    * quantizer needs — the two driver round-trips the r4 verdict
    * flagged, merged (SURVEY §7 forward item: "train-sample collect +
    * query-vector head could share one job"). */
  private[queries] def headSample(e: org.apache.spark.sql.DataFrame,
      n: Int): (Seq[Double], Array[Array[Double]]) = {
    val rows = e.orderBy("vec_id").limit(n + 1)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
    val q = rows.find(_.getLong(0) == 0L)
      .getOrElse(sys.error("query vector vec_id=0 missing"))
      .getSeq[Double](1)
    (q, rows.filter(_.getLong(0) != 0L).map(_.getSeq[Double](1).toArray))
  }

  /** ann_batch_ivf's query table: the ten vectors with vec_id < 10. */
  private def batchQueries(e: org.apache.spark.sql.DataFrame) =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private[queries] def corpusWithQuery(e: org.apache.spark.sql.DataFrame) = {
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_vec"))
    e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
  }

  /** Corpus-size-derived IVF blocking for the batch similarity join:
    * the classic nCells ≈ √N rule (floored at 16), probing 3/8 of the
    * cells. Fixed (16, 6) lost scale-robustness — one query dropped to
    * ZERO exact-top-3 hits at sf0.1 — while √N cells at a constant
    * probe FRACTION measures 23/30 total recall at BOTH sf0.01 and
    * sf0.1 (blind probing expects 3/8·30 ≈ 11). N arrives as the
    * quantizer training-sample size (capped at 65536; beyond that a
    * production index sizes cells from table statistics — the knob is
    * the caller's either way). */
  private[queries] def batchIvfCells(n: Int): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
  private[queries] def batchIvfProbe(nCells: Int): Int =
    math.max(6, (nCells * 3 + 7) / 8)

  // NOT isnan per cosSql's contract: a zero-norm vector's 0/0
  // cosine is NaN, which DuckDB orders ABOVE every number (so
  // `NaN >= t` is true) while Spark's filter rejects it. Shared by
  // ann_radius and ann_radius_ivf — the pruned variant is EXACT, so
  // both hash-compare against the same full replay.
  private def radiusOracleSql: String =
    s"""SELECT e.vec_id,
      |  ${QueryDef.cosSql("e.embedding", "q.embedding")} AS cos
      |FROM embeddings e
      |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |WHERE e.vec_id != 0
      |  AND NOT isnan(${QueryDef.cosSql("e.embedding", "q.embedding")})
      |  AND ${QueryDef.cosSql("e.embedding", "q.embedding")} >= 0.2
      |ORDER BY e.vec_id""".stripMargin

  /** One distributed Lloyd refinement step from `centers`: codegen'd
    * nearest-centroid assignment + micro-int quantized per-(cell,dim)
    * means. Values quantize to integer MICROS before aggregation so
    * per-cell sums are exact integers on both engines — the one
    * division at the end is identical IEEE arithmetic (the
    * ngram_lm_score discipline applied to means). */
  private def kmeansStepFrame(s: org.apache.spark.sql.SparkSession,
      d: String, centers: Array[Array[Double]]) = {
    val centLit = typedLit(centers.map(_.toSeq).toSeq)
    Tables.embeddings(s, d)
      .select(
        call_function("graft_nearest_centroid",
          col("embedding"), centLit).as("cell"),
        expr("""transform(embedding, x ->
          CAST(floor(CAST(x AS DOUBLE)*1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT))""")
          .as("m"))
      .select(col("cell"), posexplode(col("m")).as(Seq("dim", "mv")))
      .groupBy("cell", "dim")
      .agg(count(lit(1)).as("n"),
        graft.functions.VectorOps.roundAt(
          sum("mv").cast("double")
            / (count(lit(1)) * lit(1000000L)).cast("double"), 6).as("mean"))
      // bounded result (cells x dims codebook stats) — QueryDef.sortSmall
      .transform(QueryDef.sortSmall(_, col("cell"), col("dim")))
  }

  /** The 8-cell k-means quantizer over the whole corpus (trained on
    * the id-ordered head sample), persisted as (cell, centroid) so
    * oracles replay the argmin from the same doubles the plan carries
    * as a literal. cluster_assign, sample_diverse and kmeans_step all
    * read it: the quantizer is an ingest-maintained artifact, the
    * queries time the assignment pass. */
  private def kmeans8Centers(s: org.apache.spark.sql.SparkSession,
      d: String): Array[Array[Double]] =
    Artifacts.get("kmeans8_cents", d) { p =>
      val e = Tables.embeddings(s, d)
      val (_, sample) = headSample(e, 65536)
      val centers = Ivf.buildFromSample(e, "embedding", nCells = 8, sample)._2
      import s.implicits._
      centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(p)
      centers
    }

  /** A cell-partitioned at-rest IVF layout of the corpus rows passing
    * `keep` (√N cells, head-sample trained) with its per-cell angular
    * radii, plus the query vector: (path, centers, radii, q). */
  private def radiusIndex(s: org.apache.spark.sql.SparkSession, d: String,
      name: String, keep: org.apache.spark.sql.Column)
      : (String, Array[Array[Double]], Map[Int, Double], Seq[Double]) =
    Artifacts.get(name, d) { p =>
      val e = Tables.embeddings(s, d)
      val (q, sample) = headSample(e, 65536)
      val (indexed, centers) = Ivf.buildFromSample(e.filter(keep), "embedding",
        nCells = batchIvfCells(sample.length), sample)
      val idx = graft.CacheScope.track(indexed)
      val radii = Ivf.cellRadii(idx, centers, "embedding")
      idx.write.mode("overwrite").partitionBy("cell").parquet(p)
      (p, centers, radii, q)
    }

  // ann_delta_search's main index: every vector except the delta
  // segment (vec_id ≡ 4 mod 5, "arrived after the index was built")
  private val deltaBase =
    col("vec_id") =!= 0 && pmod(col("vec_id"), lit(5)) =!= 4
  private val deltaSegment =
    col("vec_id") =!= 0 && pmod(col("vec_id"), lit(5)) === 4

  // ann_stream_search's artifacts: the LSM story driven END TO END by
  // the REAL streaming runtime — base indexed at rest, the delta
  // arriving as file-source micro-batches through
  // VectorStreams.ingest (one Ivf.compact append per batch, commit
  // markers making replay idempotent), radii merged from the delta
  // alone. Ingest is an artifact event, search is the steady-state
  // query. No driver collect anywhere: the arrival simulation writes
  // the delta as two parquet files and streams them with
  // maxFilesPerTrigger=1.
  private def streamSearchFor(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Array[Array[Double]], Map[Int, Double], Seq[Double]) =
    Artifacts.get("ivf_stream_ingest", d) { tmp =>
      val e = Tables.embeddings(s, d)
      val (q, sample) = headSample(e, 65536)
      val delta = e.filter(deltaSegment)
      val (indexed, centers) = Ivf.buildFromSample(e.filter(deltaBase),
        "embedding", nCells = batchIvfCells(sample.length), sample)
      val idx = graft.CacheScope.track(indexed)
      val radii = Ivf.cellRadii(idx, centers, "embedding")
      val path = tmp + "/idx"
      idx.write.mode("overwrite").partitionBy("cell").parquet(path)
      // arrival simulation: two files → two micro-batches
      val arrivals = tmp + "/arrivals"
      delta.repartition(2).write.mode("overwrite").parquet(arrivals)
      val sdf = s.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(arrivals)
      val sq = graft.streaming.VectorStreams.ingest(sdf, centers, path,
        checkpoint = tmp + "/ckpt")
      try sq.processAllAvailable() finally sq.stop()
      // statistic maintenance from the delta alone (O(delta) pass)
      val merged = Ivf.cellRadiiMerge(
        graft.streaming.VectorStreams.cellAssign(delta, centers),
        centers, "embedding", radii)
      (path, centers, merged, q)
    }

  // ann_ivf / ann_pq / ann_ivfpq / ann_batch_ivf index artifacts: the
  // cell assignment (resp. code table) is persisted cell-partitioned
  // (the at-rest IVF/IVFADC layout) beside its codebook — production
  // maintains both at ingest, so the queries time the probe, never
  // the index training
  private def ivf16For(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Array[Array[Double]], Seq[Double]) =
    Artifacts.get("ivf16", d) { p =>
      val e = Tables.embeddings(s, d)
      val (q, sample) = headSample(e, 65536)
      val (indexed, centers) = Ivf.buildFromSample(
        e.filter(col("vec_id") =!= 0), "embedding", nCells = 16, sample)
      indexed.write.mode("overwrite").partitionBy("cell").parquet(p)
      (p, centers, q)
    }

  // ann_batch_ivf's corpus is vec_id >= 10 (ids below are the queries)
  private def ivfBatchFor(s: org.apache.spark.sql.SparkSession,
      d: String): (String, Array[Array[Double]]) =
    Artifacts.get("ivf_sqrtn_batch", d) { p =>
      val e = Tables.embeddings(s, d)
      val (_, sample) = headSample(e, 65536)
      val (indexed, centers) = Ivf.buildFromSample(
        e.filter(col("vec_id") >= 10), "embedding",
        nCells = batchIvfCells(sample.length), sample)
      indexed.write.mode("overwrite").partitionBy("cell").parquet(p)
      (p, centers)
    }

  private def pqFor(s: org.apache.spark.sql.SparkSession,
      d: String): (String, graft.ann.Pq.Codebooks, Seq[Double]) =
    Artifacts.get("pq_m8k256", d) { p =>
      val e = Tables.embeddings(s, d)
      val (q, sample) = headSample(e, 2048)
      val corpus = e.filter(col("vec_id") =!= 0)
      val cb = Pq.trainFromSample(sample, m = 8, k = 256)
      Pq.encode(corpus, "vec_id", "embedding", cb).toDF()
        .write.mode("overwrite").parquet(p)
      (p, cb, q)
    }

  private def ivfpqFor(s: org.apache.spark.sql.SparkSession,
      d: String): (String, graft.ann.IvfPq.Index, Seq[Double]) =
    Artifacts.get("ivfpq_c16m8k16", d) { p =>
      val e = Tables.embeddings(s, d)
      val (q, sample) = headSample(e, 65536)
      val corpus = e.filter(col("vec_id") =!= 0)
      val (codes, index) = graft.ann.IvfPq.build(corpus,
        "vec_id", "embedding", nCells = 16, m = 8, k = 16,
        coarseSample = sample)
      codes.toDF().write.mode("overwrite").partitionBy("cell").parquet(p)
      (p, index, q)
    }

  def defs: Map[String, QueryDef] = Map(
    // --- exact cosine top-k vs query vector (TakeOrderedAndProject) ---
    "ann_bruteforce" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_vec"))
        Ann.bruteForceTopK(
          e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q)),
          "vec_id", "embedding", col("q_vec"), k = 10)
      },
      s"""SELECT e.vec_id,
        |  ${QueryDef.cosSql("e.embedding", "q.embedding")} AS cos
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id != 0
        |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin),

    // --- metadata-FILTERED exact vector search (pre-filter ANN — the
    // "vector search with a WHERE clause" every retrieval stack
    // needs): the label predicate pushes to the parquet SCAN before
    // any cosine is computed (plan-audited PushedFilters), so scan
    // cost is proportional to the filtered slice, not the corpus; at
    // scale it composes with the IVF cell layout (partition pruning ×
    // row-group predicate pushdown). Pre-filtering (filter THEN rank)
    // rather than post-filtering keeps k results whenever the slice
    // has k — the semantics post-filtered ANN silently loses. ---
    "ann_filtered" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_vec"))
        Ann.bruteForceTopK(
          e.filter(col("vec_id") =!= 0 && col("label") === 1)
            .crossJoin(broadcast(q)),
          "vec_id", "embedding", col("q_vec"), k = 10)
      },
      s"""SELECT e.vec_id,
        |  ${QueryDef.cosSql("e.embedding", "q.embedding")} AS cos
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id != 0 AND e.label = 1
        |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin),

    // --- hybrid retrieval fusion (reciprocal rank fusion, Cormack &
    // Clarke SIGIR'09): the BM25 lexical top-20 (bm25_topk's scoring,
    // shared definition site) and the exact cosine top-20 fuse by
    // RRF(id) = Σ_branches 1/(60 + rank) — the standard
    // score-scale-free way to combine lexical and semantic retrieval.
    // Engine-exact: per-branch contributions floored to integer
    // micros, fused by integer addition; ranks come from the two
    // TOP-K frames (≤ 20 rows each — the windows are bounded-result
    // windows, not corpus windows), absent branches contribute 0 via
    // the full-outer join. Scale shape: each branch ends in a
    // TakeOrdered top-k; fusion touches 2k rows. ---
    "rrf_fusion" -> QueryDef.sql(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.embeddings(s, d)
        val lex = TextQueries.bm25Top(s, d, 20)
          .withColumn("r_lex", row_number().over(
            Window.orderBy(col("score_micro").desc, col("doc_id"))))
          .select(col("doc_id").as("id"), col("r_lex"))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_vec"))
        val sem = Ann.bruteForceTopK(
            e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv)),
            "vec_id", "embedding", col("q_vec"), k = 20)
          .withColumn("r_sem", row_number().over(
            Window.orderBy(col("cos").desc, col("vec_id"))))
          .select(col("vec_id").as("id"), col("r_sem"))
        def contrib(r: org.apache.spark.sql.Column) =
          coalesce(floor(lit(1000000.0) / (lit(60.0) + r.cast("double")) + 0.5)
            .cast("long"), lit(0L))
        lex.join(sem, Seq("id"), "full_outer")
          .select(col("id"), col("r_lex"), col("r_sem"),
            (contrib(col("r_lex")) + contrib(col("r_sem"))).as("rrf_micro"))
          .orderBy(col("rrf_micro").desc, col("id"))
          .limit(10)
      },
      TextQueries.bm25Cte(20) + s"""
        |, lex AS (
        |  SELECT doc_id AS id, CAST(row_number() OVER (
        |    ORDER BY score_micro DESC, doc_id) AS INT) AS r_lex
        |  FROM bm
        |), sem0 AS (
        |  SELECT e.vec_id AS id,
        |    ${QueryDef.cosSql("e.embedding", "q.embedding")} AS cos
        |  FROM embeddings e
        |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id != 0
        |  ORDER BY cos DESC, e.vec_id LIMIT 20
        |), sem AS (
        |  SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id) AS INT)
        |    AS r_sem
        |  FROM sem0
        |)
        |SELECT coalesce(lex.id, sem.id) AS id, lex.r_lex AS r_lex,
        |  sem.r_sem AS r_sem,
        |  coalesce(CAST(floor(1000000.0 / (60.0 + CAST(lex.r_lex AS DOUBLE))
        |      + 0.5) AS BIGINT), 0)
        |  + coalesce(CAST(floor(1000000.0 / (60.0 + CAST(sem.r_sem AS DOUBLE))
        |      + 0.5) AS BIGINT), 0) AS rrf_micro
        |FROM lex FULL OUTER JOIN sem ON lex.id = sem.id
        |ORDER BY rrf_micro DESC, id LIMIT 10""".stripMargin),

    // --- radius (range) similarity search: every vector with cosine
    // >= 0.2 to the query — the recall-oriented complement of top-k
    // (near-copy candidate pull). Map-side cosine + filter, no
    // shuffle/sort of the corpus; the small result orders locally. ---
    "ann_radius" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_vec"))
        Ann.radiusSearch(
          e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q)),
          "vec_id", "embedding", col("q_vec"), minCos = 0.2)
          .orderBy("vec_id")
      },
      radiusOracleSql),

    // --- first-class corpus clustering (diversity bucketing /
    // SemDeDup-style partitioning as a PRODUCT, not an internal):
    // k-means assignment over the whole embedding corpus — one
    // codegen'd map-side argmin pass with the quantizer artifact as a
    // plan literal. The oracle REPLAYS the squared-L2 argmin per
    // vector from the persisted centroids alone (identical
    // left-to-right double arithmetic, ties to the lowest cell —
    // NearestCentroid.compute's exact contract), so the distributed
    // assignment pass is hash-gated against an independent
    // recomputation, never against its own output. ---
    "cluster_assign" -> QueryDef.sql(
      (s, d) => {
        val centLit = typedLit(kmeans8Centers(s, d).map(_.toSeq).toSeq)
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            call_function("graft_nearest_centroid",
              col("embedding"), centLit).as("cluster"))
          .orderBy("vec_id")
      },
      s"""WITH cents AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('${Artifacts.path("kmeans8_cents")}/*.parquet')
        |), d AS (
        |  SELECT e.vec_id, c.cell,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
        |         * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS d2
        |  FROM embeddings e CROSS JOIN cents c
        |), r AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
        |  FROM d)
        |SELECT vec_id, CAST(cell AS INTEGER) AS cluster
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin),

    // --- cluster-balanced DIVERSITY sampling (semantic subset
    // selection: k docs per embedding cluster, so the sample spans
    // the corpus's semantic modes instead of echoing its frequency
    // skew — the cluster-balanced selection step of SemDeDup-style
    // curation). Membership is deterministic: md5(vec_id) ranks
    // within each cluster (sample_mix's fate discipline — stable
    // under re-runs, partitioning, corpus growth), top-3 per cluster
    // via GroupTopK's two-phase reduction (no per-cluster one-task
    // window). Assignment is cluster_assign's pass over the shared
    // quantizer artifact; the oracle REPLAYS assignment (exact argmin
    // from the persisted centroids) + the same fate ranking. Scale:
    // assignment is one codegen'd map pass, fate map-side, output
    // bounded at cells × k. ---
    "sample_diverse" -> QueryDef.sql(
      (s, d) => {
        val centLit = typedLit(kmeans8Centers(s, d).map(_.toSeq).toSeq)
        val fated = Tables.embeddings(s, d).select(col("vec_id"),
          call_function("graft_nearest_centroid",
            col("embedding"), centLit).as("cell"),
          md5(col("vec_id").cast("string")).as("fate"))
        graft.operators.GroupTopK.topK(fated, Seq("cell"),
            Seq(col("fate"), col("vec_id")), 3)
          .select(col("vec_id"), col("cell").as("cluster"), col("rk"))
          .orderBy("cluster", "rk")
      },
      s"""WITH cents AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('${Artifacts.path("kmeans8_cents")}/*.parquet')
        |), d AS (
        |  SELECT e.vec_id, c.cell,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
        |         * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS d2
        |  FROM embeddings e CROSS JOIN cents c
        |), r AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
        |  FROM d
        |), asg AS (
        |  SELECT vec_id, CAST(cell AS INTEGER) AS cluster,
        |    md5(CAST(vec_id AS VARCHAR)) AS fate
        |  FROM r WHERE rk = 1
        |), t AS (
        |  SELECT vec_id, cluster, CAST(row_number() OVER (
        |    PARTITION BY cluster ORDER BY fate, vec_id) AS INT) AS rk
        |  FROM asg
        |)
        |SELECT vec_id, cluster, rk FROM t WHERE rk <= 3
        |ORDER BY cluster, rk""".stripMargin),

    // --- EXACT radius search through LOSSLESS IVF pruning: per-cell
    // angular radii (an O(cells) index statistic) + the triangle
    // inequality skip every cell that provably cannot hold a
    // within-radius member, and the surviving cells get the identical
    // exact cosine filter — so the oracle is ann_radius's FULL exact
    // replay, hash-compared (an equality gate, not a recall verdict:
    // pruning that loses a row fails the hash). With the
    // cell-partitioned at-rest corpus the probe is a partition-pruned
    // scan; the prune rate grows with corpus clusteredness (real
    // embedding corpora cluster; uniform-random test vectors prune
    // little, which the bound is honest about). ---
    "ann_radius_ivf" -> QueryDef.sql(
      // probe the cell-partitioned corpus artifact: the quantizer +
      // radii pick the cells, the scan is partition-pruned
      (s, d) => {
        val (p, centers, radii, q) =
          radiusIndex(s, d, "ivf_sqrtn_radii", col("vec_id") =!= 0)
        val probes = Ivf.radiusProbeCells(centers, radii, q, minCos = 0.2)
        Ann.radiusSearch(
          s.read.parquet(p)
            .filter(col("cell").isin(probes.map(Integer.valueOf): _*)),
          "vec_id", "embedding", typedLit(q), minCos = 0.2)
      },
      radiusOracleSql),

    // --- index + DELTA-SEGMENT search (the LSM shape every vector
    // store runs: a cell-partitioned main index plus an un-indexed
    // fresh batch searched brute-force and unioned — new vectors are
    // searchable IMMEDIATELY, re-indexing happens on compaction, not
    // on ingest). Here as exact radius search so the gate is an
    // EQUALITY: base rides ann_radius_ivf's lossless angular pruning,
    // the delta (vec_id ≡ 4 mod 5 — "arrived after the index was
    // built") is one map-side cosine pass, and base ∪ delta must
    // equal ann_radius's full-corpus replay row-for-row. Scale shape:
    // the pruned base scan is partition-pruned file groups; the delta
    // scan is proportional to the delta, which compaction keeps
    // small. ---
    "ann_delta_search" -> QueryDef.sql(
      // probe the cell-partitioned BASE artifact + brute-scan the
      // delta (quantizer geometry is free for exactness — pruning is
      // lossless for ANY centers)
      (s, d) => {
        val (p, centers, radii, q) =
          radiusIndex(s, d, "ivf_sqrtn_radii_base4of5", deltaBase)
        val probes = Ivf.radiusProbeCells(centers, radii, q, minCos = 0.2)
        val delta = Tables.embeddings(s, d).filter(deltaSegment)
        Ann.radiusSearch(
            s.read.parquet(p)
              .filter(col("cell").isin(probes.map(Integer.valueOf): _*)),
            "vec_id", "embedding", typedLit(q), minCos = 0.2)
          .unionByName(Ann.radiusSearch(delta, "vec_id", "embedding",
            typedLit(q), minCos = 0.2))
      },
      radiusOracleSql),

    // --- search AFTER STREAMED ingest (the freshness contract of the
    // LSM vector store, driver-verified end to end): the delta
    // arrives through the real Structured Streaming runtime — two
    // file-source micro-batches, each an idempotent Ivf.compact
    // append into the cell-partitioned base layout — radii merge from
    // the delta alone, and the post-ingest pruned radius search over
    // the compacted layout must equal the full-corpus brute replay
    // row-for-row (an EQUALITY gate: a vector the stream dropped,
    // duplicated, or mis-celled fails the hash). ann_delta_search
    // proves the un-folded-tail shape; this row proves
    // ingest-then-search. Ingest is a once-per-dataset artifact
    // event; the measured query is the steady-state
    // partition-pruned scan. ---
    "ann_stream_search" -> QueryDef.sql(
      (s, d) => {
        val (p, centers, radii, q) = streamSearchFor(s, d)
        Ivf.radiusSearch(s.read.parquet(p), centers, radii,
            "vec_id", "embedding", q, minCos = 0.2)
          .orderBy("vec_id")
      },
      radiusOracleSql),

    // --- IVF ANN: k-means coarse quantizer (fixed seed), probe the 4
    // nearest of 16 cells, exact re-rank — recall-verdict oracled
    // (spec additionally pins exhaustive-probe == brute force) ---
    "ann_ivf" -> QueryDef.gated(
      // probe the cell-partitioned assignment artifact (pruned scan +
      // exact re-rank)
      (s, d) => {
        val (p, centers, q) = ivf16For(s, d)
        Ivf.topK(s.read.parquet(p), centers, "vec_id", "embedding",
          q, k = 10, nProbe = 6)
      },
      ORACLE_RECALL,
      (s, d, ann) => recallVerdict(ann,
        corpusWithQuery(Tables.embeddings(s, d)), minHits = 3)),

    // --- product quantization: 8×256 codebooks (the standard 8-bit
    // PQ — 32x compression at 8 bytes/code), ADC code scan →
    // refine-100 exact re-rank — recall-verdict oracled (PqSpec pins
    // the lossless regime exactly). k=16 (4-bit) codebooks measured
    // scale-FRAGILE: 8/10 recall at sf0.01 collapsed to 2/10 at
    // sf0.1; 8-bit codebooks hold 10/10 and 9/10 at the same
    // refine ---
    "ann_pq" -> QueryDef.gated(
      // ADC-scan the persisted code table with the codebook artifact
      // (code scan + refine re-rank)
      (s, d) => {
        import s.implicits._
        val (p, cb, q) = pqFor(s, d)
        val corpus = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        Pq.topK(s.read.parquet(p).as[graft.ann.Pq.Code], corpus, cb,
          "vec_id", "embedding", q, k = 10, refine = 100)
      },
      ORACLE_RECALL,
      (s, d, ann) => recallVerdict(ann,
        corpusWithQuery(Tables.embeddings(s, d)), minHits = 5)),

    // --- IVF-PQ composite (IVFADC): coarse cells prune the scan,
    // residual-PQ codes compress it, exact re-rank on refine
    // survivors — recall-verdict oracled (PqSpec pins
    // exhaustive==bruteforce) ---
    "ann_ivfpq" -> QueryDef.gated(
      // probe the PERSISTED cell-partitioned code table with the
      // codebook artifact (partition-pruned scan + ADC + refine
      // re-rank). Column-predicate pre-prune BEFORE the typed filter
      // so parquet partition pruning fires.
      (s, d) => {
        import s.implicits._
        val (p, index, q) = ivfpqFor(s, d)
        val probes = graft.ann.IvfPq.probeCells(index, q, nProbe = 6)
        val codes = s.read.parquet(p)
          .filter(col("cell").isin(probes.map(Int.box): _*))
          .as[graft.ann.IvfPq.CellCode]
        val corpus = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        graft.ann.IvfPq.topK(codes, index, corpus, "vec_id", "embedding",
          q, kTop = 10, nProbe = 6, refine = 150)
      },
      ORACLE_RECALL,
      (s, d, ann) => recallVerdict(ann,
        corpusWithQuery(Tables.embeddings(s, d)), minHits = 3)),

    // --- batched exact top-k: MANY query vectors at once — the
    // similarity-JOIN shape real retrieval/dedup pipelines run (one
    // query vector is the demo case; production scores a whole query
    // table per pass). Queries broadcast, cosines computed map-side
    // in the scan stage, per-query top-k via GroupTopK's two-phase
    // reduction (local sort + first-k stream filter per partition,
    // exact window only over <= partitions x queries x k survivors —
    // never a global sort, never one-reducer-per-query). At larger
    // query counts the same plan blocks by IVF cell first (ann_ivf's
    // at-rest layout) instead of crossing the full corpus. ---
    "ann_batch" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = e.filter(col("vec_id") >= 10)
        val scored = c.crossJoin(broadcast(q))
          .withColumn("cos", graft.functions.VectorOps.roundAt(
            graft.functions.VectorOps.cosineFast(col("embedding"), col("q_emb")), 6))
          .select(col("q_id"), col("vec_id"), col("cos"))
        graft.operators.GroupTopK.topK(scored, Seq("q_id"),
            Seq(col("cos").desc, col("vec_id")), k = 3)
          .orderBy("q_id", "rk")
      },
      s"""WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
        |  WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10
        |), p AS (
        |  SELECT q.q_id, c.vec_id,
        |    ${QueryDef.cosSql("c.embedding", "q.q_emb")} AS cos
        |  FROM c CROSS JOIN q
        |), r AS (
        |  SELECT q_id, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rk
        |  FROM p)
        |SELECT q_id, vec_id, cos, rk FROM r WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin),

    // --- IVF-blocked BATCH top-k: the similarity JOIN at corpus
    // scale — each query scores only its nProbe nearest cells instead
    // of the whole corpus (ann_batch's exact cross is the baseline;
    // this is the plan you run when Q×N cosines stop fitting the
    // cluster). Probe lists derive in-plan from the centroid literal;
    // the corpus joins the broadcast (query, cell) list on cell — a
    // pruned scan when the corpus is cell-partitioned at rest.
    // Recall-verdict oracled per query against the in-engine exact
    // batch top-k (itself DuckDB-validated via ann_batch). ---
    "ann_batch_ivf" -> QueryDef.gated(
      // probe the persisted cell-partitioned corpus with the quantizer
      // artifact (the query table is re-read per execution: it is the
      // live input)
      (s, d) => {
        val (p, centers) = ivfBatchFor(s, d)
        Ivf.batchTopK(s.read.parquet(p), centers, "vec_id", "embedding",
          batchQueries(Tables.embeddings(s, d)), "q_id", "q_emb", k = 3,
          nProbe = batchIvfProbe(centers.length))
      },
      "SELECT CAST(10 AS BIGINT) AS n_queries, TRUE AS recall_ok",
      (s, d, ann) => {
        val e = Tables.embeddings(s, d)
        val exactScored = e.filter(col("vec_id") >= 10)
          .crossJoin(broadcast(batchQueries(e)))
          .withColumn("cos", graft.functions.VectorOps.roundAt(
            graft.functions.VectorOps.cosineFast(
              col("embedding"), col("q_emb")), 6))
          .select(col("q_id"), col("vec_id"), col("cos"))
        val exact = graft.operators.GroupTopK.topK(exactScored,
          Seq("q_id"), Seq(col("cos").desc, col("vec_id")), k = 3)
        // per-query hits of the exact top-3 found by the IVF path.
        // Verdict: every query recovers >= 1 of its exact top-3
        // (count==10 after the semi-join implies min_hits >= 1) AND
        // total recall >= 18/30 — measured 23/30 at the fixed seed at
        // BOTH sf0.01 and sf0.1 with the √N-cell blocking; blind
        // probing of 3/8 of the cells would expect ~11/30, so the
        // gate separates a working blocker from a broken one with
        // margin on both sides
        ann.join(exact.select("q_id", "vec_id"), Seq("q_id", "vec_id"),
            "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("hits"))
          .agg(count(lit(1)).as("n_queries"), sum(col("hits")).as("tot"))
          .select(col("n_queries").cast("long").as("n_queries"),
            (col("n_queries") === 10 && col("tot") >= 18).as("recall_ok"))
      }),

    // --- one DISTRIBUTED Lloyd k-means refinement step (the
    // full-corpus training pass a production trainer iterates; the
    // driver-side sampled lloyd in Ivf.build is the bounded
    // INITIALIZER — this is its scale-out refinement). Assignment is
    // the codegen'd map-side argmin with the codebook as a plan
    // literal; the update pass quantizes elements to integer micros
    // map-side, posexplodes to (cell, dim) and aggregates with
    // map-side partial combine — the shuffle carries O(parts ×
    // cells × 64) partial sums, never vectors. Oracle replays the
    // whole step (argmin + exact integer means) from the persisted
    // start centroids. ---
    "kmeans_step" -> QueryDef.sql(
      (s, d) => kmeansStepFrame(s, d, kmeans8Centers(s, d)),
      s"""WITH cents AS (
        |  SELECT cell, centroid
        |  FROM read_parquet('${Artifacts.path("kmeans8_cents")}/*.parquet')
        |), dd AS (
        |  SELECT e.vec_id, e.embedding, c.cell,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
        |         * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS d2
        |  FROM embeddings e CROSS JOIN cents c
        |), a AS (
        |  SELECT vec_id, embedding, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
        |  FROM dd
        |), q AS (
        |  SELECT cell, CAST(i - 1 AS INTEGER) AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE)*1000000 + 0.5) AS BIGINT) AS mv
        |  FROM a, range(1, 65) t(i) WHERE rk = 1
        |)
        |SELECT CAST(cell AS INTEGER) AS cell, dim, count(*) AS n,
        |  floor((CAST(sum(mv) AS DOUBLE)
        |    / CAST(count(*) * 1000000 AS DOUBLE))*1000000 + 0.5)/1000000 AS mean
        |FROM q GROUP BY cell, dim ORDER BY cell, dim""".stripMargin),

    // --- ColBERT-style late-interaction scoring (MaxSim): a
    // multi-vector "document" (label group) scores against a query
    // SET as Σ_q max_d cos(q, d) — the retrieval objective behind
    // multi-vector rerankers. Plan: the (small) query set broadcasts;
    // scoring is one map-side pass over the corpus (codegen'd cosine
    // per (vector, query)), then TWO bounded aggregations — max per
    // (doc, query), sum per doc — both map-side-combined; the corpus
    // never shuffles. Numerics: cosines floored at 6 dp; max is
    // order-free; per-(doc,query) maxima re-floor to micros before
    // the exact-integer per-doc sum. ---
    "ann_maxsim" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("label") === 0 && col("vec_id") % 10 === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val cos6 = graft.functions.VectorOps.roundAt(
          graft.functions.VectorOps.cosineFast(col("embedding"), col("q_emb")), 6)
        e.join(broadcast(q))
          .withColumn("c6", cos6)
          .filter(!isnan(col("c6")))
          .groupBy(col("label"), col("q_id"))
          .agg(max(col("c6")).as("mx"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_q"),
            sum(floor(col("mx") * 1000000 + lit(0.5)).cast("long"))
              .as("maxsim_micro"))
          .orderBy("label")
      },
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |  WHERE label = 0 AND vec_id % 10 = 0
         |), c AS (
         |  SELECT e.label, q.q_id,
         |    ${QueryDef.cosSql("e.embedding", "q.q_emb")} AS c6
         |  FROM embeddings e CROSS JOIN q
         |  WHERE NOT isnan(${QueryDef.cosSql("e.embedding", "q.q_emb")})
         |), m AS (
         |  SELECT label, q_id, max(c6) AS mx FROM c GROUP BY label, q_id
         |)
         |SELECT label, count(*) AS n_q,
         |  CAST(sum(CAST(floor(mx*1000000 + 0.5) AS BIGINT)) AS BIGINT)
         |    AS maxsim_micro
         |FROM m GROUP BY label ORDER BY label""".stripMargin),

    // --- one distributed POWER-ITERATION step toward the corpus's
    // top principal component (the spectral sibling of kmeans_step;
    // the matvec y = Xᵀ(Xv) a PCA/whitening trainer iterates —
    // covariance-free, so X never materializes beyond one scan).
    // Start vector derives from the dim index by exact integer
    // arithmetic (no handshake table). Engine-stable numerics: the
    // per-row dot x·v uses the left-to-right fold both engines share
    // (QueryDef.cosSql's ordering contract), is floored to micros
    // once per ROW, and each (row, dim) contribution d·x_j is floored
    // to micros before the exact-integer per-dim sum — any partition
    // order, any engine. Plan: ONE scan → map-side dot → posexplode →
    // hash agg on 64 keys with map-side partial combine; the shuffle
    // carries O(tasks × 64) partials, never vectors. Normalization
    // between iterations is a 64-row driver-side detail. ---
    "pca_power_iter" -> QueryDef.sql(
      (s, d) => {
        val vLit = typedLit((0 until 64).map(j =>
          (j * 40503 % 211 - 105).toDouble / 100.0))
        Tables.embeddings(s, d)
          .withColumn("vv", vLit)
          .select(floor(expr(
            """aggregate(zip_with(embedding, vv,
              (a, b) -> CAST(a AS DOUBLE) * b),
              CAST(0 AS DOUBLE), (acc, t) -> acc + t)""")
            * lit(1000000.0) + lit(0.5)).cast("long").as("dm"),
            col("embedding"))
          .select(col("dm"), posexplode(col("embedding")).as(Seq("dim", "xv")))
          .select(col("dim"), floor(
            (col("dm").cast("double") / lit(1000000.0))
              * col("xv").cast("double") * lit(1000000.0) + lit(0.5))
            .cast("long").as("c"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"), sum("c").as("s_micro"))
          .select(col("dim"), col("n"), col("s_micro"),
            graft.functions.VectorOps.roundAt(
              col("s_micro").cast("double")
                / (col("n") * lit(1000000L)).cast("double"), 6).as("v_new"))
          .orderBy("dim")
      },
      """WITH v AS (
        |  SELECT list_transform(range(0, 64),
        |    j -> CAST(j*40503 % 211 - 105 AS DOUBLE)/100.0) AS vv
        |), dm AS (
        |  SELECT vec_id, embedding,
        |    CAST(floor(list_sum(list_transform(range(1, 65),
        |        i -> CAST(embedding[i] AS DOUBLE) * vv[i]))
        |      * 1000000.0 + 0.5) AS BIGINT) AS dm
        |  FROM embeddings CROSS JOIN v
        |), c AS (
        |  SELECT CAST(i - 1 AS INTEGER) AS dim,
        |    CAST(floor((CAST(dm AS DOUBLE)/1000000.0)
        |      * CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS c
        |  FROM dm, range(1, 65) t(i)
        |)
        |SELECT dim, count(*) AS n, CAST(sum(c) AS BIGINT) AS s_micro,
        |  floor((CAST(sum(c) AS DOUBLE)
        |    / CAST(count(*) * 1000000 AS DOUBLE))*1000000 + 0.5)/1000000
        |    AS v_new
        |FROM c GROUP BY dim ORDER BY dim""".stripMargin),

    // --- int8 scalar quantization of the embedding corpus (the
    // storage/serving compression step of an embedding pipeline:
    // 4x smaller vectors for ANN serving and near-dup sweeps).
    // Per-dim min/max come from ONE map-side-combined aggregate (128
    // agg exprs — no explode, no row multiplication), broadcast as a
    // 1-row frame; quantization and reconstruction error are then a
    // single codegen'd map pass over the corpus — zero data shuffle
    // at any scale. Codes are floor((x-mn)/((mx-mn)/254)+0.5) ∈
    // [0,254]; q_sum / q_dot are exact integer checksums of the full
    // code vector, recon_mse replays identical left-to-right IEEE
    // double arithmetic on both engines (QueryDef.cosSql's
    // list_sum/aggregate ordering contract). ---
    "embedding_quantize" -> QueryDef.sql(
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val stats = e.agg(
          array((0 until 64).map(i =>
            min(col("embedding").getItem(i).cast("double"))): _*).as("mns"),
          array((0 until 64).map(i =>
            max(col("embedding").getItem(i).cast("double"))): _*).as("mxs"))
        // codes/sum/dot/MSE in ONE native loop (graft_embed_quant_stats)
        // — the previous transform + 2×aggregate + zip_with fold trees
        // were re-analyzed by Catalyst per run and interpreted per
        // element per fold; the arithmetic sequence is unchanged
        // (subtract, /step, +0.5, floor; left-to-right error sum)
        e.crossJoin(broadcast(stats))
          .select(col("vec_id"),
            graft.functions.expressions.EmbedQuantStats.of(
              col("embedding"), col("mns"), col("mxs")).as("qs"))
          .select(col("vec_id"), col("qs.q_sum").as("q_sum"),
            col("qs.q_dot").as("q_dot"),
            graft.functions.VectorOps.roundAt(col("qs.recon_mse"), 6)
              .as("recon_mse"))
          .orderBy("vec_id")
      },
      """WITH dimstat AS (
        |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |    max(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings, range(1, 65) t(i) GROUP BY i
        |), st AS (
        |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        |  FROM dimstat
        |), c AS (
        |  SELECT e.vec_id, e.embedding, st.mns, st.mxs,
        |    list_transform(range(1, 65), i ->
        |      CAST(floor(CASE WHEN st.mxs[i] = st.mns[i] THEN 0.0
        |        ELSE (CAST(e.embedding[i] AS DOUBLE) - st.mns[i])
        |          / ((st.mxs[i] - st.mns[i]) / 254.0) END + 0.5) AS BIGINT)) AS codes
        |  FROM embeddings e CROSS JOIN st
        |)
        |SELECT vec_id,
        |  CAST(list_sum(codes) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(range(1, 65), i -> codes[i] * i)) AS BIGINT) AS q_dot,
        |  floor((list_sum(list_transform(range(1, 65), i ->
        |    (CASE WHEN mxs[i] = mns[i] THEN 0.0
        |      ELSE CAST(embedding[i] AS DOUBLE)
        |        - (mns[i] + CAST(codes[i] AS DOUBLE) * ((mxs[i] - mns[i]) / 254.0)) END)
        |    * (CASE WHEN mxs[i] = mns[i] THEN 0.0
        |      ELSE CAST(embedding[i] AS DOUBLE)
        |        - (mns[i] + CAST(codes[i] AS DOUBLE) * ((mxs[i] - mns[i]) / 254.0)) END)))
        |    / 64.0)*1000000 + 0.5)/1000000 AS recon_mse
        |FROM c ORDER BY vec_id""".stripMargin),

    // --- random-hyperplane LSH bucketed ANN — recall-verdict oracled
    // (spec additionally measures candidate-set pruning) ---
    "ann_lsh" -> QueryDef.sql(
      (s, d) => {
        val spark = s
        val e = Tables.embeddings(spark, d)
        // the query vector as plain doubles (tiny driver fetch of ONE
        // row — the query itself, not corpus data)
        val q = e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        recallVerdict(
          Ann.lshTopK(e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
            q, k = 10, dims = 64, tables = 4, planes = 4),
          corpusWithQuery(e), minHits = 3)
      },
      ORACLE_RECALL)
  )
}
